"""Benchmark of the medallion pipeline: full build and incremental refresh.

Usage (from the repository root):

    python3 perfbench/run.py --workload medallion_full --seed 1 --seconds 25 --trace 0

Workloads:
- ``medallion_full``: one ``run_medallion(validate=True)`` of a seeded raw
  playlist landing into a fresh output root.
- ``medallion_refresh``: ``incremental_bronze`` of a seeded delta into a
  landed lake, then ``refresh_gold_incremental`` with update batches
  built from the delta; every operation starts from the same restored
  lake.

One process, one session on ``local[nproc]``. Set-up (session start,
input generation, base lake and the cold first operation) is reported as
``setup_s``; ``op_s`` is the median of the warm operations run until
their summed time reaches ``--seconds``.
Restores, checks and cache clearing happen between operations, off the
clock. Every operation is checked against the generator's expected
counts.

With ``--trace 1`` the timed operations alternate between a plain Spark
context and one with the event log on and the package's public functions
wrapped in spans (``spans.py``), and the run prints the per-layer metrics
instead of the end-to-end ones. The traced ``medallion_full`` run also
checks the headline queries (``bench.HEADLINE``) against their DuckDB
oracles on ``fixture/`` and times one traced pass over them: the
``queries`` layer.

The last line of standard output is one JSON object:
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]
sys.path.append(os.path.join(ROOT, "tools"))  # tools/sweep.py, the oracle comparer

import gen  # noqa: E402

WORKLOADS = ("medallion_full", "medallion_refresh")
# playlists x items per playlist, one raw JSON file per playlist, about
# 2.3 MB of raw JSON in all. The fact is partitioned by playlist, so the
# playlist count sets the partitions every operation lists and writes.
N_PLAYLISTS = 20
N_ITEMS = 200
MB = 1024 * 1024
# the headline queries' input: a copy of the seed-42 sf0.001 star-schema
# fixture the repository's tests use (TESTDATA.md), kept in the checkout
FIXTURE = os.path.join(HERE, "fixture")


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _configure_env(work: str) -> None:
    """Size the session to this machine and keep its scratch files in
    ``work``: every core, a driver heap well below physical memory."""
    cpus = len(os.sched_getaffinity(0))
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    heap_mb = min(3072, phys // 4 // MB)
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{heap_mb}m"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # Python workers (the queries' UDFs) import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )


def _session(work: str, event_log: str | None = None):
    from spotify_etl_aws_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
        ),
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log,
                "spark.eventLog.compress": "false",
            }
        )
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _shutdown(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=60)


def _listing(root: str) -> dict[str, tuple[int, int]]:
    """relative path -> (size, mtime_ns) of every file under ``root``."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            st = os.stat(p)
            out[os.path.relpath(p, root)] = (st.st_size, st.st_mtime_ns)
    return out


def _written(before: dict, after: dict) -> dict[str, int]:
    """Files created or rewritten between two listings -> size."""
    return {p: v[0] for p, v in after.items() if before.get(p) != v}


def _fact_partition(rel: str) -> str | None:
    parts = rel.split(os.sep)
    if len(parts) >= 3 and parts[:2] == ["gold", "fact_playlist_tracks"]:
        if parts[2].startswith("playlist_id="):
            return parts[2][len("playlist_id="):]
    return None


def _observed(lake: str, keys) -> dict[str, int]:
    """Row counts of every ``layer.table`` in ``keys`` plus two fact
    aggregates, ``fact.popularity`` (sum of track_popularity) and
    ``fact.delta_rows`` (rows whose name carries the delta mark), read
    with pyarrow, independently of Spark."""
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    def table(key):
        return ds.dataset(os.path.join(lake, *key.split(".")), format="parquet",
                          partitioning="hive")

    out = {key: table(key).count_rows() for key in keys if not key.startswith("fact.")}
    fact = table("gold.fact_playlist_tracks").to_table(
        columns=["track_popularity", "track_name"]
    )
    out["fact.popularity"] = pc.sum(fact["track_popularity"]).as_py() or 0
    marked = pc.ends_with(fact["track_name"], gen.DELTA_MARK)
    out["fact.delta_rows"] = pc.sum(pc.cast(marked, "int64")).as_py() or 0
    return out


def _fact_rows(playlists) -> set[str]:
    """Ids of the playlists that land at least one fact row."""
    return {
        pl["id"] for pl in playlists
        if any(it["track"]["artists"] for it in pl["tracks"]["items"])
    }


def _expected(playlists, delta_rows: int = 0) -> dict[str, int]:
    out = gen.expected_counts(playlists)
    out["fact.popularity"] = gen.fact_popularity(playlists)
    out["fact.delta_rows"] = delta_rows
    return out


class MedallionFull:
    """A full build of a seeded landing into a fresh output root."""

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.work = spark, work
        playlists = gen.make_playlists(seed, N_PLAYLISTS, N_ITEMS)
        self.raw = os.path.join(work, "raw")
        self.raw_bytes = gen.write_playlists(playlists, self.raw)
        self.expected = _expected(playlists)
        self.touched = _fact_rows(playlists)
        self.lake = None
        self.k = 0

    def reset(self) -> None:
        if self.lake:
            shutil.rmtree(self.lake, ignore_errors=True)
        self.k += 1
        self.lake = os.path.join(self.work, f"out{self.k}")
        self.before = {}

    def run(self) -> None:
        from spotify_etl_aws_spark.plans.medallion import run_medallion

        run_medallion(self.spark, self.raw, self.lake, validate=True)

    def check_files(self, after: dict) -> list[str]:
        return []


class MedallionRefresh:
    """Incremental bronze + gold upsert of a seeded delta into a landed lake."""

    def __init__(self, spark, work: str, seed: int):
        from spotify_etl_aws_spark.plans.medallion import run_medallion

        self.spark, self.work = spark, work
        base = gen.make_playlists(seed, N_PLAYLISTS, N_ITEMS)
        refetched, new = gen.make_delta(seed, base)
        gen.write_playlists(base, os.path.join(work, "raw"))
        self.delta = os.path.join(work, "delta")
        self.raw_bytes = gen.write_playlists(refetched + new, self.delta)
        self.pristine = os.path.join(work, "pristine")
        run_medallion(spark, os.path.join(work, "raw"), self.pristine, validate=True)
        spark.catalog.clearCache()

        # bronze appends the whole delta; silver is not refreshed; gold
        # holds the base with the re-fetched playlists replaced
        replaced = {pl["id"] for pl in refetched}
        after = [pl for pl in base if pl["id"] not in replaced] + refetched + new
        refetched_rows = gen.expected_counts(refetched)["gold.fact_playlist_tracks"]
        self.expected = _expected(after, refetched_rows)
        before, delta = gen.expected_counts(base), gen.expected_counts(refetched + new)
        for key in before:
            if key.startswith("bronze."):
                self.expected[key] = before[key] + delta[key]
            elif key.startswith("silver."):
                self.expected[key] = before[key]
        self.touched = _fact_rows(refetched + new)
        self.lake = os.path.join(work, "lake")
        self.k = 0

    def reset(self) -> None:
        shutil.rmtree(self.lake, ignore_errors=True)
        shutil.copytree(self.pristine, self.lake)
        self.k += 1
        self.checkpoint = os.path.join(self.work, f"ckpt{self.k}")
        shutil.rmtree(os.path.join(self.work, f"ckpt{self.k - 1}"), ignore_errors=True)
        self.before = _listing(self.lake)

    def run(self) -> None:
        from spotify_etl_aws_spark.operators.core import gold
        from spotify_etl_aws_spark.operators.shred import shred
        from spotify_etl_aws_spark.operators.staging import silver_projection, stage
        from spotify_etl_aws_spark.plans.medallion import refresh_gold_incremental
        from spotify_etl_aws_spark.sources.readers import read_raw_playlists
        from spotify_etl_aws_spark.streaming import pipeline

        pipeline.incremental_bronze(
            self.spark, self.delta, os.path.join(self.lake, "bronze"), self.checkpoint
        )
        bronze = shred(read_raw_playlists(self.spark, self.delta))
        silver = {t: silver_projection(df, t) for t, df in bronze.items()}
        refresh_gold_incremental(self.spark, self.lake, gold(stage(silver)), validate=True)

    def _untouched(self, listing: dict) -> dict:
        """The listing of the fact partitions the delta does not touch."""
        return {
            p: v for p, v in listing.items()
            if _fact_partition(p) is not None and _fact_partition(p) not in self.touched
        }

    def check_files(self, after: dict) -> list[str]:
        if self._untouched(self.before) != self._untouched(after):
            return ["untouched fact partitions changed on disk"]
        return []


class Runner:
    """Runs one workload's operations and keeps their measurements."""

    def __init__(self, spark, workload, tracer=None):
        self.spark, self.w, self.tracer = spark, workload, tracer
        self.samples: list[dict] = []
        self.failed = 0

    def op(self, timed: bool) -> dict:
        self.w.reset()
        label = f"op.{type(self.w).__name__}"
        steal0 = _steal_ticks()
        t0 = time.perf_counter()
        ok = True
        try:
            if self.tracer is not None:
                with self.tracer.span(label):
                    self.w.run()
            else:
                self.w.run()
        except Exception:
            traceback.print_exc()
            ok = False
        elapsed = time.perf_counter() - t0
        steal = [b - a for a, b in zip(steal0, _steal_ticks())]
        s = {"op_s": elapsed, "cache_mb_left": _cache_mb(self.spark)}
        after = _listing(self.w.lake)
        written = _written(self.w.before, after)
        s["bytes_written"] = sum(written.values())
        s["files_written"] = sum(p.endswith(".parquet") for p in written)
        for layer in ("bronze", "silver", "gold"):
            mine = {p: n for p, n in written.items() if p.split(os.sep)[0] == layer}
            s[f"{layer}_files"] = sum(p.endswith(".parquet") for p in mine)
            s[f"{layer}_bytes"] = sum(mine.values())
        rewritten = {_fact_partition(p) for p in written} - {None}
        s["partitions_touched"] = len(self.w.touched)
        s["partitions_rewritten"] = len(rewritten)
        if ok:
            try:
                got = _observed(self.w.lake, self.w.expected)
            except (OSError, ValueError) as exc:  # a table missing or unreadable
                got = {"error": repr(exc)}
            problems = [
                f"{key}: observed {got.get(key)}, expected {n}"
                for key, n in self.w.expected.items()
                if got.get(key) != n
            ] + self.w.check_files(after)
            if rewritten != self.w.touched:
                problems.append(
                    f"rewrote {len(rewritten)} fact partitions, touched {len(self.w.touched)}"
                )
            if problems:
                ok = False
                print("check failed: " + "; ".join(problems), file=sys.stderr)
        if not ok:
            self.failed += 1
        s["ok"] = ok
        _log(
            f"{'timed' if timed else 'warm-up'} op {elapsed:.3f} s ok={ok}, "
            f"{steal[0] / max(steal[1], 1):.1%} of machine CPU time stolen"
        )
        if timed:
            self.samples.append(s)
        self.spark.catalog.clearCache()
        self.spark.sparkContext._jvm.System.gc()
        return s

    def window(self, seconds: float) -> list[dict]:
        """Timed operations until their summed time reaches ``seconds``
        or one fails."""
        start = len(self.samples)
        while sum(s["op_s"] for s in self.samples[start:]) < seconds:
            if not self.op(timed=True)["ok"]:
                break
        return self.samples[start:]


def _steal_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks of the machine so far, from /proc/stat.
    Stolen ticks are time a virtual CPU waited for the host; they explain
    slow outliers on a shared machine."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks[:8])


def _log(msg: str) -> None:
    print(f"[{time.perf_counter() - T_START:7.2f}] {msg}", file=sys.stderr, flush=True)


def _cache_mb(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / MB


def _reset_peak_rss(pids) -> None:
    for pid in pids:
        with open(f"/proc/{pid}/clear_refs", "w") as f:
            f.write("5")


def _peak_rss_mb(pids) -> float:
    total = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
    return total / 1024


def _median(samples, key):
    return statistics.median(s[key] for s in samples)


def _per_layer(samples, tables, queries, session_start_s, overhead) -> dict[str, float]:
    """The per-layer metrics: medians over the traced operations' span
    tables, plus the ``queries`` table of the headline pass (empty when
    the workload runs none)."""
    from bench import HEADLINE
    from spans import SpanStats, total

    def layer(attr, prefix=""):
        return statistics.median(total(t, attr, prefix) for t in tables)

    touched = _median(samples, "partitions_touched")
    rewritten = _median(samples, "partitions_rewritten")
    m = {
        "session.start_s": session_start_s,
        "readers.raw_scans": layer("json_scans"),
        "readers.raw_tasks": layer("json_scan_tasks"),
        "shred.bronze_s": layer("wall_s", "bronze."),
        "shred.bronze_cpu_s": layer("cpu_s", "bronze."),
        "staging.silver_s": layer("wall_s", "silver."),
        "core.gold_s": layer("wall_s", "gold."),
        "core.gold_shuffle_bytes": layer("shuffle_write_bytes", "gold."),
        "sinks.upsert_fact_s": layer("wall_s", "upsert.fact_"),
        "sinks.upsert_dims_s": layer("wall_s", "upsert.dim_"),
        "sinks.lake_bytes_read": statistics.median(
            total(t, "input_bytes", "upsert.") + total(t, "input_bytes", "quality.")
            for t in tables
        ),
        "sinks.partitions_touched": touched,
        "sinks.partitions_rewritten": rewritten,
        "sinks.rewrite_precision": touched / rewritten if rewritten else 0.0,
        "quality.contracts_s": layer("wall_s", "quality."),
        "quality.contracts_tasks": layer("tasks", "quality."),
        "quality.contracts_bytes_read": layer("input_bytes", "quality."),
        "pipeline.stream_s": layer("wall_s", "pipeline."),
        "pipeline.stream_batches": layer("stream_batches", "pipeline."),
        "pipeline.stream_rows": layer("stream_rows", "pipeline."),
        "medallion.spark_jobs": layer("jobs"),
        "medallion.spark_tasks": layer("tasks"),
        "medallion.gc_s": layer("gc_s"),
        "medallion.cache_mb_left": _median(samples, "cache_mb_left"),
        "trace.overhead": overhead,
    }
    for name in ("bronze", "silver", "gold"):
        m[f"sinks.{name}_files"] = _median(samples, f"{name}_files")
        m[f"sinks.{name}_bytes"] = _median(samples, f"{name}_bytes")
    for name in HEADLINE:
        m[f"queries.{name}_s"] = queries.get(f"query.{name}", SpanStats()).wall_s
    m["queries.spark_jobs"] = total(queries, "jobs")
    m["queries.shuffle_bytes"] = total(queries, "shuffle_write_bytes")
    m["queries.spill_bytes"] = total(queries, "spill_bytes")
    m["queries.gc_s"] = total(queries, "gc_s")
    return m


def _declared_units(kind: str) -> dict[str, str]:
    """name -> unit of the ``kind`` metrics declared in BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def _traced_session(runner, tracer, work: str, on: bool):
    """Give ``runner`` a fresh Spark context in the same JVM, with the
    event log on and the pipeline wrapped in spans when ``on``."""
    import spans as tracing

    tracer.unwrap_all()
    runner.spark.stop()
    spark = _session(work, os.path.join(work, "eventlog") if on else None)
    runner.spark = runner.w.spark = spark
    tracer.sc = spark.sparkContext
    runner.tracer = tracer if on else None
    if on:
        tracing.wrap_pipeline(tracer)


def _headline_pass(spark, tracer, seed: int) -> int:
    """The queries layer: every ``bench.HEADLINE`` query on the committed
    fixture, checked once against its DuckDB oracle with
    ``tools/sweep.py`` (which also warms each plan), then forced once with
    ``bench.materialize`` inside a ``query.<name>`` span, in an order
    permuted by ``seed``. Returns the number of queries checked and the
    number that failed the oracle check or raised."""
    import contextlib
    import random

    import sweep
    from bench import HEADLINE, materialize
    from spotify_etl_aws_spark.queries import all_queries

    with contextlib.redirect_stdout(sys.stderr):  # the sweep prints a line per query
        bad, empty = sweep.sweep(spark, FIXTURE, only=set(HEADLINE))
    if bad:
        print(f"headline queries failing their oracle: {bad}", file=sys.stderr)
    if empty:
        print(f"headline queries with an empty result: {empty}", file=sys.stderr)
    queries = all_queries()
    order = list(HEADLINE)
    random.Random(seed).shuffle(order)
    failed = set(bad)
    for name in order:
        try:
            with tracer.span(f"query.{name}"):
                materialize(queries[name](spark, FIXTURE))
        except Exception:
            traceback.print_exc()
            failed.add(name)
        spark.sparkContext._jvm.System.gc()
    return len(order), len(failed)


def _traced_window(runner, work: str, seconds: float, session_start_s: float, seed: int):
    """Timed operations in pairs, one in a plain Spark context and one in a
    context with the event log on and the package's functions wrapped in
    spans, alternating which goes first, until the pairs' summed time
    reaches ``seconds``. Each operation gets a fresh context in the same
    JVM, so both sides pay the same restart. ``medallion_full`` runs its
    pairs for half of ``seconds`` and then makes the headline pass in a
    traced context. Returns the samples, the number of headline queries
    checked and failed, and the per-layer metrics."""
    import spans as tracing

    tracer = tracing.Tracer(None)
    plain, traced = [], []
    headline = isinstance(runner.w, MedallionFull)
    if headline:
        seconds /= 2  # the headline pass takes about as long again
    while sum(s["op_s"] for s in plain + traced) < seconds and not runner.failed:
        order = (False, True) if len(traced) % 2 == 0 else (True, False)
        for on in order:
            _traced_session(runner, tracer, work, on)
            (traced if on else plain).append(runner.op(timed=True))
    checked = failed = 0
    if headline:
        _traced_session(runner, tracer, work, True)
        checked, failed = _headline_pass(runner.spark, tracer, seed)
    tracer.unwrap_all()
    runner.spark.stop()  # closes the last event log
    events = tracing.load_events(os.path.join(work, "eventlog"))
    tables = []
    for o in (s for s in tracer.spans if s.name.startswith("op.")):
        inside = [s for s in tracer.spans if o.start_ms <= s.start_ms and s.end_ms <= o.end_ms]
        tables.append(tracing.span_table(events, inside))
    queries = tracing.span_table(events, [s for s in tracer.spans if s.name.startswith("query.")])
    print(tracing.format_table(tables[len(tables) // 2]), file=sys.stderr)
    if queries:
        print(tracing.format_table(queries), file=sys.stderr)
    overhead = _median(traced, "op_s") / _median(plain, "op_s")
    metrics = _per_layer(traced, tables, queries, session_start_s, overhead)
    return plain + traced, checked, failed, metrics


def main(argv=None) -> int:
    args = _parse(argv)
    try:
        import pyspark  # noqa: F401

        import spotify_etl_aws_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the package under test cannot be imported: {exc}", file=sys.stderr)
        return 2

    work = os.path.join(HERE, ".work", str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    _configure_env(work)
    spark = runner = None
    try:
        t = time.perf_counter()
        spark = _session(work)
        session_start_s = time.perf_counter() - t
        _log(f"session started in {session_start_s:.3f} s")
        cls = MedallionFull if args.workload == "medallion_full" else MedallionRefresh
        workload = cls(spark, work, args.seed)
        _log("inputs ready")
        runner = Runner(spark, workload)
        runner.op(timed=False)  # the cold first operation (see README)
        pids = [os.getpid(), spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()]
        setup_s = time.perf_counter() - T_START
        _reset_peak_rss(pids)
        checked = failed_queries = 0
        if args.trace:
            samples, checked, failed_queries, values = _traced_window(
                runner, work, args.seconds, session_start_s, args.seed
            )
            values["peak_rss_mb"] = _peak_rss_mb(pids)
        else:
            samples = runner.window(args.seconds)
            values = {
                "setup_s": setup_s,
                "op_s": _median(samples, "op_s"),
                "write_amp": _median(samples, "bytes_written") / workload.raw_bytes,
                "files_written": _median(samples, "files_written"),
            }
        units = _declared_units("per_layer" if args.trace else "end_to_end")
        metrics = {k: {"value": v, "unit": units[k]} for k, v in values.items()}
        attempted = len(samples) + checked
        failed = sum(not s["ok"] for s in samples) + failed_queries
        correct = runner.failed == 0 and failed_queries == 0
        for name, m in metrics.items():
            print(f"{name:32s} {m['value']:16.6f} {m['unit']:6s} n={attempted}", file=sys.stderr)
        print(
            f"correct={correct} attempted={attempted} failed={failed} "
            f"failed_frac={failed / attempted:.3f}",
            file=sys.stderr,
        )
        print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
        return 0
    finally:
        if spark is not None:
            _shutdown(runner.spark if runner is not None else spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
