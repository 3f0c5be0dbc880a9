"""Tests of the benchmark's own code: the generator and the event-log parser.

Run with ``python3 -m pytest perfbench -q`` from the repository root.
Neither test starts Spark.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import spans  # noqa: E402


def _snapshot(seed: int, root) -> dict[str, bytes]:
    base = gen.make_playlists(seed, 6, 20)
    refetched, new = gen.make_delta(seed, base)
    gen.write_playlists(base, str(root / "raw"))
    gen.write_playlists(refetched + new, str(root / "delta"))
    out = {}
    for sub in ("raw", "delta"):
        for name in sorted(os.listdir(root / sub)):
            out[f"{sub}/{name}"] = (root / sub / name).read_bytes()
    return out


def test_same_seed_gives_identical_files_and_another_seed_differs(tmp_path):
    a = _snapshot(7, tmp_path / "a")
    b = _snapshot(7, tmp_path / "b")
    c = _snapshot(8, tmp_path / "c")
    assert a == b
    assert a.keys() != c.keys()
    assert a.values() != c.values()


def test_generated_shape_and_expected_counts():
    base = gen.make_playlists(3, 20, 50)
    tracks = [it["track"] for pl in base for it in pl["tracks"]["items"]]
    precisions = {t["album"]["release_date_precision"] for t in tracks}
    dates = {t["album"]["release_date"] for t in tracks}
    multi = sum(len(t["artists"]) > 1 for t in tracks) / len(tracks)
    assert precisions == {"year", "month", "day"}
    assert any(d in ("unknown", "0000") or d.endswith("-13-45") for d in dates)
    assert 0.12 < multi < 0.28
    assert any(not t["artists"] for t in tracks)
    assert any(ord(ch) > 127 for t in tracks for ch in t["name"])
    # every album id carries one set of attributes, so the dim keeps one row each
    albums = {}
    for t in tracks:
        assert albums.setdefault(t["album"]["id"], t["album"]) == t["album"]
    counts = gen.expected_counts(base)
    assert counts["bronze.tracks"] == counts["bronze.albums"] == 20 * 50
    assert counts["gold.dim_albums"] == len(albums) < counts["bronze.albums"]
    assert counts["gold.fact_playlist_tracks"] == sum(1 for t in tracks if t["artists"])

    refetched, new = gen.make_delta(3, base)
    assert len(refetched) == 1 and len(new) == 1
    ids = {pl["id"] for pl in base}
    assert refetched[0]["id"] in ids and new[0]["id"] not in ids
    assert all(
        it["track"]["name"].endswith(gen.DELTA_MARK) for it in refetched[0]["tracks"]["items"]
    )
    new_albums = {it["track"]["album"]["id"] for it in new[0]["tracks"]["items"]}
    assert new_albums - set(albums)


def _write_log(path, events) -> None:
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "events_1_app"), "w") as f:
        for e in events:
            f.write(json.dumps(e) + "\n")


def _task(stage, cpu_ns, gc_ms, read, shuffle):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Metrics": {
            "Executor CPU Time": cpu_ns,
            "JVM GC Time": gc_ms,
            "Memory Bytes Spilled": 0,
            "Disk Bytes Spilled": 5,
            "Input Metrics": {"Bytes Read": read},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
        },
    }


def test_span_table_on_canned_event_log(tmp_path):
    json_scope = json.dumps({"id": "4", "name": "Scan json "})
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1500, "Stage IDs": [0]},
        {"Event": "SparkListenerStageSubmitted",
         "Stage Info": {"Stage ID": 0, "RDD Info": [{"Scope": json_scope}]}},
        {"Event": spans._SQL_START, "time": 1400, "sparkPlanInfo": {
            "nodeName": "Execute", "children": [{"nodeName": "Scan json ", "children": []}]}},
        _task(0, 2_000_000_000, 100, 1000, 0),
        _task(0, 1_000_000_000, 50, 500, 0),
        # a job in the op span outside the bronze span: counted for the op
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 2500,
         "Stage IDs": [1, 2]},
        {"Event": "SparkListenerStageSubmitted",
         "Stage Info": {"Stage ID": 1, "RDD Info": [{"Scope": None}]}},
        _task(1, 0, 0, 0, 300),
        _task(2, 0, 0, 0, 200),
        {"Event": spans._PROGRESS, "progress": {
            "timestamp": "1970-01-01T00:00:02.600Z", "sources": [{"numInputRows": 12}]}},
        # outside every span: ignored
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 9000, "Stage IDs": [3]},
        _task(3, 7, 7, 7, 7),
    ]
    _write_log(tmp_path / "eventlog_v2_app", events)
    # a later context of the same JVM numbers its stages from 0 again; its
    # job falls outside every span, so its task must not land in bronze
    _write_log(tmp_path / "eventlog_v2_app2", [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 9500, "Stage IDs": [0]},
        _task(0, 0, 0, 0, 1000),
    ])
    recorded = [
        spans.Span("bronze.tracks", 1000, 2000, depth=1),
        spans.Span("op.Test", 900, 3000, depth=0),
    ]
    table = spans.span_table(spans.load_events(str(tmp_path)), recorded)

    bronze, op = table["bronze.tracks"], table["op.Test"]
    assert (bronze.jobs, bronze.tasks, bronze.json_scans, bronze.json_scan_tasks) == (1, 2, 1, 2)
    assert bronze.cpu_s == 3.0 and abs(bronze.gc_s - 0.15) < 1e-9
    assert bronze.input_bytes == 1500
    assert bronze.spill_bytes == 10 and bronze.wall_s == 1.0
    assert (op.jobs, op.tasks, op.shuffle_write_bytes, op.json_scans) == (1, 2, 500, 0)
    assert (op.stream_batches, op.stream_rows) == (1, 12)
    assert spans.total(table, "tasks") == 4
    assert spans.total(table, "wall_s", "bronze.") == 1.0

