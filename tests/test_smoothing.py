"""Dyadic EWMA (operators/smoothing.py): equivalence to the truncated
exponential recurrence computed in exact fractions, bit-exactness of
the power-of-two division, frame determinism under timestamp ties, and
the window/no-UDF plan shape."""

from __future__ import annotations

from fractions import Fraction

import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from spotify_etl_aws_spark.operators.smoothing import ewma_dyadic
from spotify_etl_aws_spark.queries.lanes_monitoring import EWMA_WINDOW
from spotify_etl_aws_spark.queries.selection import ts_ewma_dyadic


def _frame(spark, rows):
    return spark.createDataFrame(
        rows, "k long, o long, v long"
    )


def test_matches_exact_fraction_recurrence(spark):
    """ewma_t == sum_{j=0..n-1} v_{t-j} / 2^(j+1) computed in exact
    rational arithmetic — and the result is exactly representable, so
    == comparison (no tolerance) is correct."""
    vals = [137, -40, 5, 5, 80000, 12, 0, 7, 999999, 3, 3, 3]
    df = _frame(spark, [(1, i, v) for i, v in enumerate(vals)])
    got = {
        r.o: r.ewma
        for r in ewma_dyadic(df, "k", ["o"], "v", window=8).collect()
    }
    for t in range(len(vals)):
        n = min(t + 1, 8)
        want = sum(
            Fraction(vals[t - j], 2 ** (j + 1)) for j in range(n)
        )
        assert got[t] == float(want), (t, got[t], want)


def test_single_and_negative_values(spark):
    df = _frame(spark, [(1, 0, -100)])
    (row,) = ewma_dyadic(df, "k", ["o"], "v", window=8).collect()
    assert row.ewma == -50.0  # v/2 exactly


def test_window_bounds_validated(spark):
    df = _frame(spark, [(1, 0, 1)])
    for bad in (0, 13):
        with pytest.raises(ValueError, match="window"):
            ewma_dyadic(df, "k", ["o"], "v", window=bad)


def test_keys_do_not_leak(spark):
    """Two series never mix: each key's seed row is exactly v/2."""
    df = _frame(spark, [(1, 0, 100), (2, 0, 200), (1, 1, 0), (2, 1, 0)])
    got = {
        (r.k, r.o): r.ewma
        for r in ewma_dyadic(df, "k", ["o"], "v", window=8).collect()
    }
    assert got[(1, 0)] == 50.0 and got[(2, 0)] == 100.0
    assert got[(1, 1)] == 25.0 and got[(2, 1)] == 50.0


def test_lane_plan_window_no_udf(spark, sf_dir):
    """One window exchange on the series key; integer expressions
    inside codegen; no Python eval anywhere."""
    plan = (
        ts_ewma_dyadic(spark, sf_dir)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Window" in plan
    assert plan.count("Exchange") == 1
    for bad in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert bad not in plan


def test_lane_rows_and_seed_semantics(spark, sf_dir):
    """Every event row survives; a user's earliest event smooths to
    exactly cents/2."""
    from spotify_etl_aws_spark.sources.readers import load_table

    out = ts_ewma_dyadic(spark, sf_dir)
    n_events = load_table(spark, sf_dir, "events").count()
    rows = out.collect()
    assert len(rows) == n_events
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts",
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    firsts = {
        r.event_id: r.cents
        for r in ev.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("user_id").orderBy("ts", "event_id")
            ),
        )
        .filter(F.col("rn") == 1)
        .collect()
    }
    by_id = {r.event_id: r for r in rows}
    for eid, cents in firsts.items():
        assert by_id[eid].ewma == cents / 2
    assert EWMA_WINDOW == 8  # the declared tail: weight < 2^-8 dropped


def test_null_value_raises(spark):
    """A null in value_col must FAIL LOUDLY, not silently shrink the
    window frame relative to the SQL twin (round-10 ADVICE item 3):
    collect_list drops nulls, list() keeps them — the guard turns that
    cross-engine divergence into an execution-time error."""
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    df = spark.createDataFrame(
        [(1, 0, 10), (1, 1, None), (1, 2, 30)], "k long, o long, v long"
    )
    out = ewma_dyadic(df, "k", ["o"], "v")
    with pytest.raises(SparkRuntimeException, match="null"):
        out.collect()


def test_non_null_path_unaffected_by_guard(spark):
    """The raise guard is a lazy CASE branch: non-null series produce
    the identical dyadic values they did without it."""
    df = _frame(spark, [(1, 0, 100), (1, 1, 200)])
    got = {r.o: r.ewma for r in ewma_dyadic(df, "k", ["o"], "v").collect()}
    assert got == {0: 50.0, 1: 125.0}
