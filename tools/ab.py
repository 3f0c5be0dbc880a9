"""Same-session interleaved A/B harness (r15 measurement policy).

Cross-session wall-clock on this box swings ±50%+ (JIT, GC, host
noise), so every optimization claim is backed by a SAME-SESSION
interleaved A/B: warm each variant once, then alternate variants
rep-by-rep and compare MEDIANS. Import `ab` from an experiment script,
or use the CLI:

    python tools/ab.py -q dedup_embedding_cosine --reps 5
        (single-variant timing: current tree only)

    python tools/ab.py --bench medallion_full --parent HEAD~1 --seeds 101-110
        (the pipeline benchmark, parent revision against the current tree)

The bench mode checks ``REV`` out into a temporary ``git worktree`` and
runs the benchmark ``BENCHMARK.json`` declares (``perfbench/run.py
--trace 0``, unchanged, for ``run_seconds``) once per seed on each side,
alternating which side goes first. It prints each pair's end-to-end
metrics, then per metric each side's median and quartiles, the change's
wins, its median shift against the declared bound, and whether a gain
may be claimed: at least nine wins in ten pairs, ties counting for
neither, and a median gap wider than the parent's interquartile range.
The worktree is removed on exit.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def ab(
    spark: SparkSession,
    variants: dict[str, Callable[[], DataFrame]],
    reps: int = 5,
    warm: int = 1,
) -> dict[str, list[float]]:
    sc = spark.sparkContext
    times: dict[str, list[float]] = {k: [] for k in variants}
    for k, fn in variants.items():
        for _ in range(warm):
            sc.setJobDescription(f"ab-warm:{k}")
            fn().write.format("noop").mode("overwrite").save()
    for r in range(reps):
        for k, fn in variants.items():
            sc._jvm.System.gc()
            sc.setJobDescription(f"ab:{k}:{r}")
            t0 = time.perf_counter()
            fn().write.format("noop").mode("overwrite").save()
            times[k].append(time.perf_counter() - t0)
    sc.setJobDescription(None)
    for k, v in times.items():
        print(
            f"  {k}: median {statistics.median(v):.3f}s "
            f"reps {[round(x, 3) for x in v]}",
            flush=True,
        )
    return times


def parse_seeds(text: str) -> list[int]:
    """``"101-110"`` -> 101..110 inclusive; ``"7"`` -> [7]."""
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def _quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, q2, q3


def summarize(pairs: list[tuple[dict, dict]], declared: list[dict]) -> list[dict]:
    """Per declared end-to-end metric, over (parent, change) pairs of
    metric values: each side's quartiles, the change's wins and ties,
    its median shift relative to the parent's (positive is worse), and
    whether that shift is within the metric's bound and a gain may be
    claimed."""
    out = []
    for metric in declared:
        name = metric["name"]
        sign = 1 if metric["better"] == "lower" else -1
        parent = [p[name] for p, _ in pairs]
        change = [c[name] for _, c in pairs]
        wins = sum(sign * (c - p) < 0 for p, c in zip(parent, change))
        ties = sum(c == p for p, c in zip(parent, change))
        qp, qc = _quartiles(parent), _quartiles(change)
        gap = sign * (qp[1] - qc[1])  # positive when the change is better
        shift = -gap / qp[1] if qp[1] else 0.0
        out.append(
            {
                "name": name,
                "unit": metric["unit"],
                "parent": qp,
                "change": qc,
                "wins": wins,
                "ties": ties,
                "pairs": len(pairs),
                "shift": shift,
                "within_bound": shift <= metric["bound"],
                "gain": 10 * wins >= 9 * len(pairs) and gap > qp[2] - qp[0],
            }
        )
    return out


def _bench_once(tree: str, bench: dict, workload: str, seed: int) -> dict:
    """One run of the declared benchmark command in ``tree``: its
    end-to-end metric values and its ``correct``/``failed`` fields."""
    cmd = bench["command"] + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(bench["run_seconds"]), "--trace", "0",
    ]
    proc = subprocess.run(cmd, cwd=tree, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode or not lines:
        sys.stderr.write(proc.stderr[-4000:])
        raise RuntimeError(f"{' '.join(cmd)} in {tree} exited {proc.returncode}")
    result = json.loads(lines[-1])
    values = {k: m["value"] for k, m in result["metrics"].items()}
    values.update(correct=result["correct"], failed=result["failed"])
    return values


def bench_ab(workload: str, parent: str, seeds: list[int]) -> list[dict]:
    """Interleaved pairs of the benchmark, ``parent`` against this
    tree, one per seed; prints each pair and the summary."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    declared = bench["end_to_end"]
    names = [m["name"] for m in declared]
    tmp = tempfile.mkdtemp(prefix="ab-parent-")
    tree = os.path.join(tmp, "tree")
    subprocess.run(
        ["git", "worktree", "add", "--detach", tree, parent],
        cwd=ROOT, check=True, capture_output=True,
    )
    sides = {"parent": tree, "change": ROOT}
    pairs = []
    try:
        for i, seed in enumerate(seeds):
            order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
            got = {side: _bench_once(sides[side], bench, workload, seed) for side in order}
            pairs.append((got["parent"], got["change"]))
            print(
                f"pair {i + 1} seed {seed} ({order[0]} first): "
                + ", ".join(f"{n} {got['parent'][n]:.4g} -> {got['change'][n]:.4g}" for n in names)
                + f"; correct {got['parent']['correct']}/{got['change']['correct']}"
                + f", failed {got['parent']['failed']}/{got['change']['failed']}",
                flush=True,
            )
    finally:
        subprocess.run(
            ["git", "worktree", "remove", "--force", tree], cwd=ROOT, capture_output=True
        )
        shutil.rmtree(tmp, ignore_errors=True)
    summary = summarize(pairs, declared)
    for row in summary:
        (p1, p2, p3), (c1, c2, c3) = row["parent"], row["change"]
        print(
            f"{row['name']:14s} parent {p2:.4g} [{p1:.4g}, {p3:.4g}]  "
            f"change {c2:.4g} [{c1:.4g}, {c3:.4g}] {row['unit']}  "
            f"wins {row['wins']}/{row['pairs']} (ties {row['ties']})  "
            f"shift {row['shift']:+.1%} within bound {row['within_bound']}  "
            f"gain {row['gain']}"
        )
    return summary


def main() -> None:
    import argparse

    ap = argparse.ArgumentParser()
    mode = ap.add_mutually_exclusive_group(required=True)
    mode.add_argument("-q", "--queries")
    mode.add_argument("--bench", metavar="WORKLOAD")
    ap.add_argument("--parent", default="HEAD", help="revision the bench mode compares against")
    ap.add_argument("--seeds", default="1-10", help="bench seeds, A-B inclusive")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--reps", type=int, default=5)
    args = ap.parse_args()
    if args.bench:
        bench_ab(args.bench, args.parent, parse_seeds(args.seeds))
        return

    sys.path.insert(0, ROOT)
    from spotify_etl_aws_spark.session import get_spark

    spark = get_spark(
        app_name="ab_r15",
        shuffle_partitions=8,
        extra_conf={"spark.sql.adaptive.enabled": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    from spotify_etl_aws_spark.queries import all_queries

    qs = all_queries()
    variants = {
        name: (lambda n=name: qs[n](spark, args.sf))
        for name in args.queries.split(",")
    }
    ab(spark, variants, reps=args.reps)


if __name__ == "__main__":
    main()
