"""Spans around the package's public functions, and the event-log parser
that turns a traced run into the per-layer table.

A span is recorded from outside the package: ``Tracer.wrap`` replaces a
module attribute with a wrapper that sets the Spark job description to
the span's name, calls the original, and records (name, start, end).
Spark is lazy, so a span around a write covers the read and the
transform that feed it.

The parser reads Spark's own event log (enabled with
``spark.eventLog.enabled``, uncompressed) and assigns every job, SQL
execution and streaming progress event to the innermost span whose
interval holds its start time. Time, not the job description, decides
the span: a streaming query overrides the description of the jobs it
runs, and the benchmark drives one operation at a time, so intervals
are unambiguous.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import functools
import glob
import json
import math
import os
import time
from dataclasses import dataclass

_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_PROGRESS = "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent"
JSON_SCAN = "Scan json"


@dataclass
class Span:
    name: str
    start_ms: float
    end_ms: float
    depth: int

    def holds(self, t_ms: float) -> bool:
        return self.start_ms <= t_ms <= self.end_ms


class Tracer:
    """Records spans and labels the Spark jobs run inside them."""

    def __init__(self, spark_context):
        self.sc = spark_context
        self.spans: list[Span] = []
        self._depth = 0
        self._patched: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        previous = self.sc.getLocalProperty("spark.job.description")
        self.sc.setJobDescription(name)
        depth = self._depth
        self._depth += 1
        # whole milliseconds, widened outwards: the event log stamps
        # events in whole milliseconds
        start = math.floor(time.time() * 1000)
        try:
            yield
        finally:
            self.spans.append(Span(name, start, math.ceil(time.time() * 1000), depth))
            self._depth -= 1
            self.sc.setJobDescription(previous)

    def wrap(self, module, attr: str, label) -> None:
        """Replace ``module.attr`` by a traced wrapper; ``label`` maps the
        call's arguments to the span name."""
        original = getattr(module, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with self.span(label(*args, **kwargs)):
                return original(*args, **kwargs)

        setattr(module, attr, traced)
        self._patched.append((module, attr, original))

    def unwrap_all(self) -> None:
        for module, attr, original in reversed(self._patched):
            setattr(module, attr, original)
        self._patched.clear()


def _table_label(df, path, *args, **kwargs) -> str:
    """``.../bronze/tracks`` -> ``bronze.tracks``."""
    path = path.rstrip("/")
    return f"{os.path.basename(os.path.dirname(path))}.{os.path.basename(path)}"


def _upsert_label(df, path, *args, **kwargs) -> str:
    return f"upsert.{os.path.basename(path.rstrip('/'))}"


def wrap_pipeline(tracer: Tracer) -> None:
    """Wrap the public functions the medallion plan and the refresh call."""
    from spotify_etl_aws_spark.plans import medallion
    from spotify_etl_aws_spark.sources import sinks
    from spotify_etl_aws_spark.streaming import pipeline

    tracer.wrap(medallion, "write_parquet", _table_label)
    tracer.wrap(medallion, "write_partitioned", _table_label)
    tracer.wrap(medallion, "expect_all", lambda *a, **k: "quality.contracts")
    # refresh_gold_incremental imports the upserts from sinks at call time
    tracer.wrap(sinks, "upsert_partitioned", _upsert_label)
    tracer.wrap(sinks, "upsert_unpartitioned", _upsert_label)
    tracer.wrap(pipeline, "incremental_bronze", lambda *a, **k: "pipeline.stream")


def load_events(log_dir: str) -> list[dict]:
    """Every event of every (uncompressed, possibly rolling) log under
    ``log_dir``, in file order. Each event gets an ``"app"`` key naming
    its log: stage ids restart at 0 in every Spark context."""
    files = sorted(
        f for f in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(f) and not os.path.basename(f).startswith("appstatus")
    )
    events = []
    for f in files:
        parent = os.path.dirname(f)
        # a rolling log is a directory of event files for one application
        app = parent if os.path.basename(parent).startswith("eventlog_v2_") else f
        with open(f, encoding="utf-8") as fh:
            for line in fh:
                if line.strip():
                    events.append(dict(json.loads(line), app=app))
    return events


@dataclass
class SpanStats:
    wall_s: float = 0.0
    jobs: int = 0
    tasks: int = 0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    input_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    json_scans: int = 0
    json_scan_tasks: int = 0
    stream_batches: int = 0
    stream_rows: int = 0


def _plan_nodes(node: dict):
    yield node.get("nodeName", "")
    for child in node.get("children", []):
        yield from _plan_nodes(child)


def _iso_ms(stamp: str) -> float:
    return dt.datetime.fromisoformat(stamp.replace("Z", "+00:00")).timestamp() * 1000


def span_table(events: list[dict], spans: list[Span]) -> dict[str, SpanStats]:
    """Aggregate the events that fall inside ``spans`` by span name.

    Each event goes to the innermost span holding its start time; events
    outside every span are ignored. Wall time is each span's own
    duration, children included."""

    def owner(t_ms: float) -> Span | None:
        best = None
        for s in spans:
            if s.holds(t_ms) and (best is None or s.depth > best.depth):
                best = s
        return best

    table: dict[str, SpanStats] = {}
    for s in spans:
        st = table.setdefault(s.name, SpanStats())
        st.wall_s += (s.end_ms - s.start_ms) / 1000

    stage_span: dict[tuple, str] = {}
    json_stages: set[tuple] = set()
    for e in events:
        kind = e["Event"]
        app = e.get("app")
        if kind == "SparkListenerJobStart":
            s = owner(e["Submission Time"])
            if s is not None:
                table[s.name].jobs += 1
                for sid in e["Stage IDs"]:
                    stage_span[app, sid] = s.name
        elif kind == _SQL_START:
            s = owner(e["time"])
            if s is not None:
                table[s.name].json_scans += sum(
                    n.strip() == JSON_SCAN for n in _plan_nodes(e["sparkPlanInfo"])
                )
        elif kind == _PROGRESS:
            p = e["progress"]
            s = owner(_iso_ms(p["timestamp"]))
            if s is not None:
                table[s.name].stream_batches += 1
                table[s.name].stream_rows += sum(
                    src.get("numInputRows", 0) for src in p["sources"]
                )
        elif kind == "SparkListenerStageSubmitted":
            for rdd in e["Stage Info"].get("RDD Info", []):
                scope = json.loads(rdd.get("Scope") or "{}")
                if scope.get("name", "").strip() == JSON_SCAN:
                    json_stages.add((app, e["Stage Info"]["Stage ID"]))
        elif kind == "SparkListenerTaskEnd":
            name = stage_span.get((app, e["Stage ID"]))
            m = e.get("Task Metrics")
            if name is None or m is None:
                continue
            st = table[name]
            st.tasks += 1
            st.cpu_s += m["Executor CPU Time"] / 1e9
            st.gc_s += m["JVM GC Time"] / 1000
            st.input_bytes += m["Input Metrics"]["Bytes Read"]
            st.shuffle_write_bytes += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
            st.spill_bytes += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
            if (app, e["Stage ID"]) in json_stages:
                st.json_scan_tasks += 1
    return table


def total(table: dict[str, SpanStats], attr: str, prefix: str = "") -> float:
    """Sum ``attr`` over the spans whose name starts with ``prefix``."""
    return sum(getattr(st, attr) for name, st in table.items() if name.startswith(prefix))


def format_table(table: dict[str, SpanStats]) -> str:
    cols = ["wall_s", "jobs", "tasks", "cpu_s", "gc_s", "input_bytes",
            "shuffle_write_bytes", "spill_bytes", "json_scans", "stream_rows"]
    widths = [max(12, len(c) + 2) for c in cols]
    lines = ["span".ljust(30) + "".join(c.rjust(w) for c, w in zip(cols, widths))]
    for name in sorted(table):
        cells = []
        for c, w in zip(cols, widths):
            v = getattr(table[name], c)
            cells.append(f"{v:{w}.3f}" if isinstance(v, float) else f"{v:{w}d}")
        lines.append(name.ljust(30) + "".join(cells))
    return "\n".join(lines)
