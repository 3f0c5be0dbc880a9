"""The summary of ``tools/ab.py --bench``: per end-to-end metric, each
side's quartiles, the change's wins, its median shift against the
declared bound, and the gain rule (at least nine wins in ten pairs, and
a median gap wider than the parent's interquartile range). No Spark."""

from __future__ import annotations

import importlib.util
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_ab():
    spec = importlib.util.spec_from_file_location("tools_ab", os.path.join(ROOT, "tools", "ab.py"))
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


DECLARED = [
    {"name": "op_s", "unit": "s", "better": "lower", "bound": 0.25},
    {"name": "files_written", "unit": "count", "better": "lower", "bound": 0.1},
    {"name": "hits", "unit": "count", "better": "higher", "bound": 0.1},
]


def _pairs(op_parent, op_change, files=(58, 31), hits=(10, 10)):
    return [
        (
            {"op_s": p, "files_written": files[0], "hits": hits[0]},
            {"op_s": c, "files_written": files[1], "hits": hits[1]},
        )
        for p, c in zip(op_parent, op_change)
    ]


def test_parse_seeds():
    ab = _load_ab()
    assert ab.parse_seeds("101-105") == [101, 102, 103, 104, 105]
    assert ab.parse_seeds("7") == [7]


def test_summary_claims_a_gain_only_past_nine_in_ten_and_the_parent_iqr():
    ab = _load_ab()
    parent = [1.0, 1.1, 1.2, 1.3, 1.4, 1.0, 1.1, 1.2, 1.3, 1.4]
    faster = [x - 0.5 for x in parent]
    rows = {r["name"]: r for r in ab.summarize(_pairs(parent, faster), DECLARED)}
    op = rows["op_s"]
    assert op["pairs"] == 10 and op["wins"] == 10 and op["ties"] == 0
    assert op["parent"] == (1.1, 1.2, 1.3)
    assert op["change"][1] == 0.7
    assert op["gain"] and op["within_bound"] and op["shift"] < 0
    # a count that repeats exactly wins every pair
    files = rows["files_written"]
    assert files["wins"] == 10 and files["gain"] and files["parent"] == (58, 58, 58)
    # equal values are ties, not wins, and no gain; higher-is-better flips the sign
    hits = rows["hits"]
    assert (hits["wins"], hits["ties"], hits["gain"], hits["shift"]) == (0, 10, False, 0.0)

    # eight wins in ten: no gain even with a wide median gap
    mixed = faster[:8] + [x + 0.5 for x in parent[8:]]
    assert not ab.summarize(_pairs(parent, mixed), DECLARED)[0]["gain"]

    # ten wins, but the median gap is narrower than the parent's IQR
    barely = [x - 0.05 for x in parent]
    op = ab.summarize(_pairs(parent, barely), DECLARED)[0]
    assert op["wins"] == 10 and not op["gain"]


def test_summary_flags_a_shift_beyond_the_bound():
    ab = _load_ab()
    parent = [1.0] * 4
    rows = ab.summarize(_pairs(parent, [1.3] * 4, hits=(10, 8)), DECLARED)
    op, _, hits = rows
    assert round(op["shift"], 6) == 0.3 and not op["within_bound"]
    assert round(hits["shift"], 6) == 0.2 and not hits["within_bound"]
    single = ab.summarize(_pairs([1.0], [1.2]), DECLARED)[0]
    assert single["parent"] == (1.0, 1.0, 1.0) and single["within_bound"]
