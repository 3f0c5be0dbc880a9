"""Frequency sketches (operators/sketches.py): Misra–Gries heavy
hitters with an exactness certificate, count-min point estimates with
their one-sided error guarantee, and the mergeability/skew postures
that make both 100 TB-shaped."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spotify_etl_aws_spark.operators.sketches import (
    cm_estimate,
    count_min_sketch,
    mg_partials,
    misra_gries_topk,
)


def _terms(spark, rows, parts=4):
    return spark.createDataFrame(
        [(t,) for t in rows], "term string"
    ).repartition(parts)


def _exact_counts(df):
    return {
        r["term"]: r["n"]
        for r in df.groupBy("term").agg(F.count("*").alias("n")).collect()
    }


class TestMisraGries:
    def test_exact_when_capacity_dominates(self, spark):
        rows = ["a"] * 50 + ["b"] * 30 + ["c"] * 20 + ["d"] * 5 + ["e"] * 2
        df = _terms(spark, rows)
        out = misra_gries_topk(df, "term", k=3, capacity=64).collect()
        assert [(r["term"], r["cnt"], r["rank"]) for r in out] == [
            ("a", 50, 1),
            ("b", 30, 2),
            ("c", 20, 3),
        ]
        assert all(r["max_undercount"] == 0 for r in out)

    def test_undercount_bound_holds_under_eviction(self, spark):
        # heavy keys + a long tail that forces evictions at capacity 4
        rows = ["hot1"] * 400 + ["hot2"] * 300 + [f"t{i}" for i in range(300)]
        df = _terms(spark, rows, parts=3)
        exact = _exact_counts(df)
        out = misra_gries_topk(df, "term", k=5, capacity=4).collect()
        assert out, "heavy keys must survive eviction"
        bound = out[0]["max_undercount"]
        assert bound > 0  # tail forced decrements
        for r in out:
            true = exact.get(r["term"], 0)
            assert r["cnt"] <= true, "MG counts must never overcount"
            assert true <= r["cnt"] + bound, (
                f"{r['term']}: true {true} outside [cnt, cnt+bound] "
                f"[{r['cnt']}, {r['cnt'] + bound}]"
            )
        # the certified heavy keys dominate: both hot keys in the top-5
        got = {r["term"] for r in out}
        assert {"hot1", "hot2"} <= got

    def test_partials_bounded_and_merge_valid(self, spark):
        rows = [f"k{i % 50}" for i in range(2000)]
        df = _terms(spark, rows, parts=5)
        parts = mg_partials(df, "term", capacity=8).collect()
        for r in parts:
            if r["term"] is not None:
                assert r["dec"] is None
        # never more than capacity survivor rows per bookkeeping row
        surv = sum(1 for r in parts if r["term"] is not None)
        books = sum(1 for r in parts if r["term"] is None)
        assert books >= 1
        assert surv <= 8 * books

    def test_null_keys_dropped(self, spark):
        df = spark.createDataFrame(
            [("a",), (None,), ("a",), (None,)], "term string"
        )
        out = misra_gries_topk(df, "term", k=5, capacity=8).collect()
        assert [(r["term"], r["cnt"]) for r in out] == [("a", 2)]

    def test_non_string_keys_cast(self, spark):
        df = spark.createDataFrame([(7,), (7,), (9,)], "term int")
        out = misra_gries_topk(df, "term", k=2, capacity=8).collect()
        assert [(r["term"], r["cnt"]) for r in out] == [("7", 2), ("9", 1)]

    def test_capacity_validation(self, spark):
        df = _terms(spark, ["a"])
        with pytest.raises(ValueError, match="capacity"):
            misra_gries_topk(df, "term", capacity=0)


class TestCountMin:
    def test_estimates_upper_bound_exact(self, spark):
        rows = ["x"] * 100 + ["y"] * 60 + [f"t{i}" for i in range(200)]
        df = _terms(spark, rows, parts=3)
        exact = _exact_counts(df)
        sketch = count_min_sketch(df, "term", depth=4, width=1024)
        keys = _terms(spark, list(exact), parts=1)
        est = {
            r["term"]: r["est"]
            for r in cm_estimate(sketch, keys, "term", depth=4, width=1024).collect()
        }
        n = len(rows)
        for term, true in exact.items():
            assert est[term] >= true, "count-min never undercounts"
            # deterministic fixture: generous e/width bound with slack
            assert est[term] <= true + max(4, (4 * n) // 1024)

    def test_sketch_size_bounded(self, spark):
        rows = [f"u{i}" for i in range(5000)]
        sketch = count_min_sketch(_terms(spark, rows), "term", depth=3, width=64)
        cells = sketch.collect()
        assert len(cells) <= 3 * 64
        # total mass per row equals n (each occurrence lands once per row)
        per_row = {}
        for c in cells:
            per_row[c["r"]] = per_row.get(c["r"], 0) + c["v"]
        assert per_row == {0: 5000, 1: 5000, 2: 5000}

    def test_mergeable_by_cellwise_sum(self, spark):
        a = _terms(spark, ["a"] * 10 + ["b"] * 5)
        b = _terms(spark, ["a"] * 7 + ["c"] * 3)
        sa = count_min_sketch(a, "term", depth=2, width=32)
        sb = count_min_sketch(b, "term", depth=2, width=32)
        merged = (
            sa.unionByName(sb).groupBy("r", "c").agg(F.sum("v").alias("v"))
        )
        both = a.unionByName(b)
        direct = count_min_sketch(both, "term", depth=2, width=32)
        assert sorted(map(tuple, merged.collect())) == sorted(
            map(tuple, direct.collect())
        )

    def test_absent_key_estimates_small(self, spark):
        df = _terms(spark, ["a"] * 50)
        sketch = count_min_sketch(df, "term", depth=4, width=2048)
        keys = _terms(spark, ["zzz-never-seen"], parts=1)
        est = cm_estimate(sketch, keys, "term", depth=4, width=2048).collect()
        assert est[0]["est"] <= 50  # min over rows; usually 0 at this width
        assert est[0]["est"] >= 0

    def test_validation(self, spark):
        df = _terms(spark, ["a"])
        with pytest.raises(ValueError, match="depth/width"):
            count_min_sketch(df, "term", depth=0)


class TestStreamingSketch:
    def test_stream_matches_batch_cells_under_cutoff(self, spark, sf_dir):
        """The append-mode stream emits, per closed window, EXACTLY the
        cells a batch build over the same rows produces — sketch
        correctness reduces to the (already pinned) append/watermark
        emission semantics."""
        import datetime as dt

        from spotify_etl_aws_spark.operators.sketches import _cm_cell
        from spotify_etl_aws_spark.sources.readers import load_table
        from spotify_etl_aws_spark.streaming.pipeline import (
            read_table_stream,
            run_available_now,
        )
        from spotify_etl_aws_spark.streaming.sketches import (
            windowed_count_min_stream,
        )

        depth, width = 3, 256
        src = read_table_stream(spark, sf_dir, "events")
        got = run_available_now(
            windowed_count_min_stream(
                src, "ts", "user_id", "1 hour", "1 hour", depth, width
            ),
            "cm_parity",
            output_mode="append",
        ).collect()

        ev = load_table(spark, sf_dir, "events")
        max_ts = ev.agg(F.max("ts")).collect()[0][0]
        wm = max_ts.replace(microsecond=max_ts.microsecond // 1000 * 1000)
        wm = wm - dt.timedelta(hours=1)
        rows = F.explode(F.array(*[F.lit(r) for r in range(depth)])).alias("r")
        want = (
            ev.select(
                F.window("ts", "1 hour").alias("w"),
                F.col("user_id").cast("string").alias("k"),
            )
            .filter(F.col("w.end") <= F.lit(wm))
            .select("w", rows, "k")
            .select("w", "r", _cm_cell(F.col("k"), F.col("r"), width).alias("c"))
            .groupBy("w", "r", "c")
            .agg(F.count("*").alias("v"))
            .collect()
        )
        key = lambda r: (r["w"]["start"], r["r"], r["c"], r["v"])
        assert sorted(map(key, got)) == sorted(map(key, want))
        # bounded output: never more than depth*width cells per window
        per_win: dict = {}
        for r in got:
            per_win[r["w"]["start"]] = per_win.get(r["w"]["start"], 0) + 1
        assert max(per_win.values()) <= depth * width

    def test_windowed_estimate_grid(self, spark):
        """Estimates cover every (window, watchlist key) pair — absent
        keys estimate from missing cells as 0 — and upper-bound the
        exact per-window counts."""
        import datetime as dt

        from spotify_etl_aws_spark.streaming.sketches import (
            cm_estimate_windowed,
            windowed_count_min_stream,
        )

        base = dt.datetime(2024, 1, 1, 0, 30)
        rows = (
            [(base, "a")] * 5
            + [(base, "b")] * 2
            + [(base + dt.timedelta(hours=1), "a")] * 3
        )
        df = spark.createDataFrame(rows, "ts timestamp, k string")
        # batch path through the same expressions (no watermark needed
        # for a batch groupBy): build cells directly
        from spotify_etl_aws_spark.operators.sketches import _cm_cell

        depth, width = 4, 64
        rcol = F.explode(F.array(*[F.lit(r) for r in range(depth)])).alias("r")
        sketch = (
            df.select(F.window("ts", "1 hour").alias("w"), rcol, "k")
            .select("w", "r", _cm_cell(F.col("k"), F.col("r"), width).alias("c"))
            .groupBy("w", "r", "c")
            .agg(F.count("*").alias("v"))
        )
        keys = spark.createDataFrame([("a",), ("b",), ("zz",)], "k string")
        est = {
            (r["w"]["start"].hour, r["k"]): r["est"]
            for r in cm_estimate_windowed(sketch, keys, "k", depth, width).collect()
        }
        assert len(est) == 6  # 2 windows x 3 keys
        assert est[(0, "a")] >= 5 and est[(1, "a")] >= 3
        assert est[(0, "b")] >= 2
        assert est[(1, "b")] >= 0 and est[(1, "zz")] >= 0

    def test_validation(self, spark):
        from spotify_etl_aws_spark.streaming.sketches import (
            windowed_count_min_stream,
        )

        df = spark.createDataFrame([], "ts timestamp, k string")
        with pytest.raises(ValueError, match="depth/width"):
            windowed_count_min_stream(df, "ts", "k", depth=0)


class TestStreamingHeavyHitters:
    def test_bounds_and_hot_guarantee_vs_exact(self, spark, sf_dir):
        """Running MG over the events stream: every emitted counter
        brackets its exact count within the bucket's certificate, and
        every key whose true count exceeds its bucket's decrement
        total is guaranteed present."""
        from spotify_etl_aws_spark.operators.sketches import _cm_cell  # noqa: F401
        from spotify_etl_aws_spark.sources.readers import load_table
        from spotify_etl_aws_spark.streaming.pipeline import (
            read_table_stream,
            run_available_now,
        )
        from spotify_etl_aws_spark.streaming.sketches import (
            latest_hh_summary,
            streaming_heavy_hitters,
        )

        n_buckets, capacity = 8, 32
        src = read_table_stream(spark, sf_dir, "events")
        sink = run_available_now(
            streaming_heavy_hitters(src, "user_id", n_buckets, capacity),
            "hh_stream",
            output_mode="update",
        )
        summary = latest_hh_summary(sink).collect()
        assert summary
        # per-bucket state bound
        per_bucket: dict[int, int] = {}
        dec_of: dict[int, int] = {}
        for r in summary:
            per_bucket[r["bucket"]] = per_bucket.get(r["bucket"], 0) + 1
            dec_of[r["bucket"]] = r["dec"]
        assert max(per_bucket.values()) <= capacity

        exact = {
            str(r["user_id"]): r["n"]
            for r in load_table(spark, sf_dir, "events")
            .groupBy("user_id")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        emitted = {r["term"]: (r["cnt"], r["dec"], r["bucket"]) for r in summary}
        for term, (cnt, dec, _) in emitted.items():
            true = exact.get(term, 0)
            assert cnt <= true <= cnt + dec, (term, cnt, dec, true)
        # hot guarantee: bucket of a key = pmod(xxhash64(term), n_buckets)
        bucket_of = {
            r["term"]: r["b"]
            for r in spark.createDataFrame(
                [(t,) for t in exact], "term string"
            )
            .select(
                "term",
                F.pmod(F.xxhash64("term"), F.lit(n_buckets))
                .cast("int")
                .alias("b"),
            )
            .collect()
        }
        for term, true in exact.items():
            b = bucket_of[term]
            if b in dec_of and true > dec_of[b]:
                assert term in emitted, (term, true, dec_of[b])

    def test_validation(self, spark):
        from spotify_etl_aws_spark.streaming.sketches import (
            streaming_heavy_hitters,
        )

        df = spark.createDataFrame([], "k string")
        with pytest.raises(ValueError, match="n_buckets"):
            streaming_heavy_hitters(df, "k", n_buckets=0)


class TestPlans:
    def test_countmin_single_shuffle(self, spark):
        """The sketch build shuffles once, on the (r, c) cell world —
        never on the raw key space."""
        df = _terms(spark, [f"k{i}" for i in range(100)])
        plan = count_min_sketch(df, "term")._jdf.queryExecution().executedPlan().toString()
        # partial + final hash aggregate around exactly one Exchange
        assert plan.count("Exchange") <= 2  # input repartition + agg
        assert "xxhash64" in plan

    def test_mg_raw_corpus_never_reshuffles(self, spark):
        """MG survivors shuffle; the corpus side feeds mapInPandas
        directly from its scan/repartition without a key shuffle."""
        df = _terms(spark, [f"k{i}" for i in range(100)])
        parts = mg_partials(df, "term", capacity=16)
        plan = parts._jdf.queryExecution().executedPlan().toString()
        assert "hashpartitioning(term" not in plan

    def test_mg_topk_cut_is_take_ordered(self, spark):
        """The final ranking never globally sorts all survivors: the
        cut is TakeOrderedAndProject (per-partition size-k heaps), so
        the single-reducer stage sees k rows, not capacity×partitions."""
        df = _terms(spark, [f"k{i}" for i in range(100)])
        out = misra_gries_topk(df, "term", k=5, capacity=1000)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "TakeOrderedAndProject" in plan
        assert "Sort [cnt" not in plan  # no full survivor sort


class TestHll:
    def test_grouped_sketches(self, spark):
        from spotify_etl_aws_spark.operators.sketches import (
            hll_distinct_sketch,
            hll_estimate,
        )

        df = spark.createDataFrame(
            [("a", f"t{i % 100}") for i in range(500)]
            + [("b", f"u{i}") for i in range(30)],
            "g string, term string",
        )
        est = {
            r["g"]: r["estimate"]
            for r in hll_estimate(hll_distinct_sketch(df, "term", by="g")).collect()
        }
        assert abs(est["a"] - 100) <= 5
        assert est["b"] == 30  # small cardinalities are exact in HLL++


class TestProbabilisticOracleMargins:
    """The declared sketch contracts (ORACLE_COUNTMIN,
    ORACLE_HLL_DISTINCT, ORACLE_STREAMING_SKETCH in
    queries/selection.py) hard-code TRUE for bounds that hold only
    probabilistically (~1.8%/key failure odds for CM at depth 4) —
    deterministic on the FIXED fixture + hash, but a fixture
    regeneration, width change, or hash change could flip one. These
    tests assert the observed slack sits WELL inside the bound so any
    erosion surfaces here, with numbers, instead of as an opaque
    oracle hash mismatch."""

    def test_countmin_margin(self, spark, sf_dir):
        import math

        from spotify_etl_aws_spark.operators.sketches import (
            cm_estimate,
            count_min_sketch,
        )
        from spotify_etl_aws_spark.queries.selection import (
            CM_DEPTH,
            CM_TOPN,
            CM_WIDTH,
            _term_stream,
        )

        terms = _term_stream(spark, sf_dir)
        sketch = count_min_sketch(terms, "term", depth=CM_DEPTH, width=CM_WIDTH)
        top = (
            terms.groupBy("term")
            .agg(F.count("*").alias("exact"))
            .orderBy(F.desc("exact"), F.asc("term"))
            .limit(CM_TOPN)
        )
        est = cm_estimate(sketch, top, "term", depth=CM_DEPTH, width=CM_WIDTH)
        rows = top.join(est, "term").collect()
        slack = math.ceil(math.e / CM_WIDTH * terms.count())
        worst = max(r["est"] - r["exact"] for r in rows)
        assert worst >= 0  # counters only overcount
        assert worst <= slack / 2, (
            f"CM overcount {worst} is inside the bound ({slack}) but past "
            "half of it — ORACLE_COUNTMIN hard-codes est_within_eps=TRUE, "
            "so erosion here will eventually fail the oracle opaquely; "
            "widen CM_WIDTH or regenerate expectations now"
        )

    def test_hll_margin(self, spark, sf_dir):
        from spotify_etl_aws_spark.functions.text import tokens
        from spotify_etl_aws_spark.operators.sketches import (
            hll_distinct_sketch,
            hll_estimate,
        )
        from spotify_etl_aws_spark.queries.selection import HLL_LG_K, HLL_REL_BOUND
        from spotify_etl_aws_spark.sources.readers import load_table

        terms = (
            load_table(spark, sf_dir, "documents")
            .select("lang", F.explode(tokens("text")).alias("term"))
            .filter(F.col("term") != "")
        )
        est = {
            r["lang"]: r["estimate"]
            for r in hll_estimate(
                hll_distinct_sketch(terms, "term", by="lang", lg_k=HLL_LG_K)
            ).collect()
        }
        exact = {
            r["lang"]: r["n"]
            for r in terms.groupBy("lang")
            .agg(F.count_distinct("term").alias("n"))
            .collect()
        }
        worst = max(abs(est[g] - exact[g]) / exact[g] for g in exact)
        assert worst <= HLL_REL_BOUND / 2, (
            f"HLL relative error {worst:.4f} is inside the 5-sigma bound "
            f"({HLL_REL_BOUND:.4f}) but past half of it — "
            "ORACLE_HLL_DISTINCT hard-codes within_bound=TRUE; investigate "
            "before the oracle fails opaquely"
        )

    def test_streaming_countmin_margin(self, spark, sf_dir):
        import math

        from spotify_etl_aws_spark.queries.selection import (
            SK_DEPTH,
            SK_USERS,
            SK_WIDTH,
        )
        from spotify_etl_aws_spark.sources.readers import load_table
        from spotify_etl_aws_spark.streaming.pipeline import (
            read_table_stream,
            run_available_now,
        )
        from spotify_etl_aws_spark.streaming.sketches import (
            cm_estimate_windowed,
            windowed_count_min_stream,
        )

        src = read_table_stream(spark, sf_dir, "events")
        sketch = run_available_now(
            windowed_count_min_stream(
                src, "ts", "user_id", "1 hour", "1 hour", SK_DEPTH, SK_WIDTH
            ),
            "cm_margin",
            output_mode="append",
        )
        keys = spark.createDataFrame(
            [(i,) for i in range(SK_USERS)], "user_id long"
        )
        est = cm_estimate_windowed(sketch, keys, "user_id", SK_DEPTH, SK_WIDTH)
        ev = load_table(spark, sf_dir, "events").select(
            F.window("ts", "1 hour").alias("w"), "user_id"
        )
        exact = (
            ev.filter(F.col("user_id") < SK_USERS)
            .groupBy("w", "user_id")
            .agg(F.count("*").alias("exact"))
        )
        n_win = ev.groupBy("w").agg(F.count("*").alias("n_w"))
        rows = (
            est.join(exact, ["w", "user_id"], "left")
            .join(n_win, "w")
            .select(
                F.coalesce("exact", F.lit(0)).alias("exact"), "est", "n_w"
            )
            .collect()
        )
        assert rows
        worst_frac = max(
            (r["est"] - r["exact"]) / max(1.0, math.e / SK_WIDTH * r["n_w"])
            for r in rows
        )
        assert all(r["est"] >= r["exact"] for r in rows)
        assert worst_frac <= 0.5, (
            f"streaming CM overcount reached {worst_frac:.2f} of its "
            "per-window bound — ORACLE_STREAMING_SKETCH hard-codes "
            "est_within_eps=TRUE; investigate before it fails opaquely"
        )
