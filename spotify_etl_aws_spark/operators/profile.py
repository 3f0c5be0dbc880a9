"""Deequ / Great-Expectations-style one-pass column profiling — the
pre-ingest QA sweep a 100 TB lake runs on every landed batch
(completeness, cardinality, numeric ranges), generalized from the
round-10 ``stats_column_profile`` lane into reusable operators.

Shape contract (all three functions):

- ONE pass over the source: the melt is a map-side stack of carrier
  expressions (k x row expansion of narrow carriers, never a second
  scan per column), finished by one partial-agg shuffle on the tiny
  ``col_name`` keyspace.
- STRING carriers for completeness/cardinality must be INJECTIVE per
  column (two distinct source values never collide), so the distinct
  COUNT is engine-independent even though renderings differ.
- BIGINT carriers for numeric profiling keep min/max/sum exact int64
  on both engines; the mean is ONE IEEE division of identical
  integers — bit-identical doubles with no rounding contract.
- The approx posture swaps exact count(distinct) for HLL++
  (``approx_count_distinct(rsd)``) — same stacked pass, sketch-valued,
  so it ships as an error-bound CONTRACT (the q16/HLL lane protocol),
  never as a hash-compared value.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def stack_carriers(
    df: DataFrame, carriers: dict[str, Column], out_type: str
) -> DataFrame:
    """Melt ``df`` to (col_name, val) rows, one per carrier per source
    row — map-side only (a Generate over named_struct literals; no
    shuffle, no second scan)."""
    if not carriers:
        raise ValueError("stack_carriers: at least one carrier required")
    pairs: list[Column] = []
    for name, col in carriers.items():
        pairs.append(F.lit(name))
        pairs.append(col.cast(out_type))
    return df.select(
        F.stack(F.lit(len(carriers)), *pairs).alias("col_name", "val")
    )


def profile_numeric(
    df: DataFrame, carriers: dict[str, Column]
) -> DataFrame:
    """Per-column numeric profile in one stacked pass: (col_name,
    n_rows, n_null, min_v, max_v, sum_v, mean_v). ``carriers`` map
    column names to BIGINT expressions (cents / epoch-days / raw keys —
    the caller picks the exact integer carrier); min/max/sum stay
    exact int64 and mean_v = sum_v / non-null count is one IEEE
    division, bit-identical across engines."""
    stacked = stack_carriers(df, carriers, "long")
    return stacked.groupBy("col_name").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("val").isNull(), 1).otherwise(0)).alias("n_null"),
        F.min("val").alias("min_v"),
        F.max("val").alias("max_v"),
        F.sum("val").alias("sum_v"),
        (F.sum("val") / F.count("val")).alias("mean_v"),
    )
