"""Bloom-filter membership sketch (`operators/sketches.py`): no false
negatives ever, false positives near the analytic rate, the prefiltered
anti-join is row-identical to the plain anti-join, and the probe plan
broadcasts the word table (the corpus side never shuffles).
"""

from __future__ import annotations

import math

import pyspark.sql.functions as F
import pytest

from spotify_etl_aws_spark.operators.sketches import (
    bloom_filter,
    bloom_maybe_contains,
    bloom_prefilter_antijoin,
)

M_BITS = 1 << 16
K = 5


@pytest.fixture(scope="module")
def keys(spark):
    # 2000 string keys, deterministic
    return spark.range(2000).select(
        F.concat(F.lit("key-"), F.col("id")).alias("k")
    )


def test_no_false_negatives(spark, keys):
    bloom = bloom_filter(keys, "k", M_BITS, K)
    flags = bloom_maybe_contains(keys, bloom, "k", M_BITS, K)
    assert flags.filter(~F.col("maybe_present")).count() == 0


def test_fpp_within_formula(spark, keys):
    """Measured false-positive rate on 2000 absent keys stays within
    3x the analytic expectation (deterministic: fixed hash, fixed
    fixture)."""
    bloom = bloom_filter(keys, "k", M_BITS, K)
    absent = spark.range(2000).select(
        F.concat(F.lit("absent-"), F.col("id")).alias("k")
    )
    flags = bloom_maybe_contains(absent, bloom, "k", M_BITS, K)
    fp = flags.filter(F.col("maybe_present")).count()
    expected = (1.0 - math.exp(-K * 2000 / M_BITS)) ** K
    assert fp / 2000 <= max(3 * expected, 0.01), (fp, expected)


def test_prefilter_antijoin_identical_to_plain(spark):
    """The Bloom route must be invisible in the result: identical rows
    to a plain left_anti, including NULL-keyed rows (never equal, so
    always kept) and duplicate new-side rows (all kept)."""
    new = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (3, "c2"), (None, "n"), (7, "g")],
        "k int, payload string",
    )
    seen = spark.createDataFrame([(2,), (3,), (99,)], "k int")
    got = bloom_prefilter_antijoin(new, seen, "k", M_BITS, K)
    want = new.join(seen, "k", "left_anti")
    key = lambda t: tuple(map(repr, t))
    assert sorted(map(tuple, got.collect()), key=key) == sorted(
        map(tuple, want.collect()), key=key
    )


def test_prefilter_antijoin_on_fixture(spark, sf_dir):
    """Same identity on real tables: customers never placed an
    'F'-status order."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    seen = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .filter(F.col("o_orderstatus") == "F")
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    got = bloom_prefilter_antijoin(cust, seen, "c_custkey", M_BITS, K)
    want = cust.join(seen, "c_custkey", "left_anti")
    assert sorted(r.c_custkey for r in got.collect()) == sorted(
        r.c_custkey for r in want.collect()
    )


def test_probe_plan_broadcasts_sketch(spark, keys):
    """The membership probe must broadcast the word table: the keys
    side (the 100 TB side) never shuffles for the join."""
    bloom = bloom_filter(keys, "k", M_BITS, K)
    flags = bloom_maybe_contains(keys, bloom, "k", M_BITS, K)
    plan = flags._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_build_is_single_partial_agg_shuffle(spark, keys):
    """The build shuffles once, keyed on the word index, with map-side
    partial bit_or (two HashAggregates around one Exchange)."""
    bloom = bloom_filter(keys, "k", M_BITS, K)
    plan = bloom._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    assert plan.count("HashAggregate") == 2, plan


def test_bad_params_raise(spark, keys):
    with pytest.raises(ValueError):
        bloom_filter(keys, "k", m_bits=32)
    with pytest.raises(ValueError):
        bloom_filter(keys, "k", k_hashes=0)
