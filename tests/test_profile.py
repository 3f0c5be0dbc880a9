"""Column profiling operators (operators/profile.py) and their
declared lanes: exact numeric profiles on tiny frames with nulls,
injectivity semantics, the HLL posture's error bound,
and the quantile-PSI contract's theorem booleans."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spotify_etl_aws_spark.operators.profile import (
    profile_numeric,
    stack_carriers,
)


@pytest.fixture(scope="module")
def tiny(spark):
    return spark.createDataFrame(
        [(1, 10, None), (2, -5, 7), (3, 10, 7), (4, 0, None)],
        "id long, a long, b long",
    )


def test_profile_numeric_exact_values(spark, tiny):
    got = {
        r.col_name: r
        for r in profile_numeric(
            tiny, {"a": F.col("a"), "b": F.col("b")}
        ).collect()
    }
    a, b = got["a"], got["b"]
    assert (a.n_rows, a.n_null, a.min_v, a.max_v, a.sum_v) == (4, 0, -5, 10, 15)
    assert a.mean_v == 15 / 4
    assert (b.n_rows, b.n_null, b.min_v, b.max_v, b.sum_v) == (4, 2, 7, 7, 14)
    assert b.mean_v == 14 / 2  # mean over NON-NULL count, not n_rows


def test_stack_is_map_side(spark, tiny):
    """The melt is a Generate — no exchange until the profiling agg."""
    plan = (
        stack_carriers(tiny, {"a": F.col("a"), "b": F.col("b")}, "long")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan


def test_empty_carriers_raise(tiny):
    with pytest.raises(ValueError, match="at least one carrier"):
        stack_carriers(tiny, {}, "long")


def test_profile_lanes_match_manual(spark, sf_dir):
    """The declared numeric lane agrees with a hand computation of one
    column (o_custkey) straight off the table."""
    from spotify_etl_aws_spark.queries.selection import stats_profile_numeric
    from spotify_etl_aws_spark.sources.readers import load_table

    row = {
        r.col_name: r for r in stats_profile_numeric(spark, sf_dir).collect()
    }["o_custkey"]
    want = load_table(spark, sf_dir, "orders").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("o_custkey").alias("mn"),
        F.max("o_custkey").alias("mx"),
        F.sum("o_custkey").alias("s"),
    ).collect()[0]
    assert (row.n_rows, row.min_v, row.max_v, row.sum_v) == (
        want.n, want.mn, want.mx, want.s
    )
    assert row.mean_v == want.s / want.n


def test_hll_contract_lane_true(spark, sf_dir):
    from spotify_etl_aws_spark.queries.selection import (
        stats_profile_hll_contract,
    )

    rows = stats_profile_hll_contract(spark, sf_dir).collect()
    assert len(rows) == 6
    assert all(r.within_bound for r in rows)


def test_psi_quantile_contract_true(spark, sf_dir):
    from spotify_etl_aws_spark.queries.selection import (
        stats_psi_quantile_contract,
    )

    rows = stats_psi_quantile_contract(spark, sf_dir).collect()
    assert len(rows) >= 1
    for r in rows:
        assert r.edges_rank_ok and r.edges_sorted_ok and r.psi_nonneg
        assert r.n_ref >= 1


def test_psi_quantile_no_python_in_plan(spark, sf_dir):
    """Quantile fit + binning + contract are all JVM expressions:
    percentile_approx partial-agg, broadcast edge joins, conditional
    sums — no Python eval anywhere."""
    from spotify_etl_aws_spark.queries.selection import (
        stats_psi_quantile_contract,
    )

    plan = (
        stats_psi_quantile_contract(spark, sf_dir)
        ._jdf.queryExecution().executedPlan().toString()
    )
    for bad in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert bad not in plan
