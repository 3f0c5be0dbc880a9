"""Declarative data-quality checks — the executable form of the
reference's documented column contracts.

The reference's dbt schema
(`dbt/spotify_etl_aws/models/staging/schema.yml:8,27,46,57`) describes
every staging model's "Primary key. Unique identifier ..." and
"Foreign key to <table> ..." columns but declares NO ``tests:`` — the
contracts are prose, never enforced. These helpers are dbt's four
built-in tests (unique / not_null / accepted_values / relationships)
re-expressed as DataFrame checks, so a pipeline can gate a
materialization on them.

Shape: every check returns a VIOLATIONS DataFrame — empty means the
contract holds. Nothing is collected; ``expect_all`` counts on the
executors and raises one error naming every failed contract.

Scale posture: ``unique`` is one partial-aggregating groupBy (count>1
survivors only), ``not_null`` is a single-pass one-row aggregate
unpivoted to (column, n_null), ``accepted_values`` is a groupBy over
the offending distinct values, ``references`` is a left-anti join
(broadcast-able when the parent is a dim). All linear, all shuffle-on-
key, no driver-side data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def check_unique(df: DataFrame, cols: list[str]) -> DataFrame:
    """Rows per duplicated key (dbt ``unique``): empty iff ``cols`` is
    a key. NULL keys are exempt here — ``check_not_null`` owns them,
    exactly like dbt's unique test ignores NULLs."""
    key_not_null = F.lit(True)
    for c in cols:
        key_not_null = key_not_null & F.col(c).isNotNull()
    return (
        df.filter(key_not_null)
        .groupBy(*cols)
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .filter(F.col("n_rows") > 1)
    )


def check_not_null(df: DataFrame, cols: list[str]) -> DataFrame:
    """(column, n_null) for every listed column that has NULLs (dbt
    ``not_null``). One single-pass aggregate regardless of how many
    columns are checked."""
    counts = df.agg(
        *[
            F.sum(F.col(c).isNull().cast("long")).alias(c)
            for c in cols
        ]
    )
    stacked = ", ".join(f"'{c}', `{c}`" for c in cols)
    return (
        counts.selectExpr(
            f"stack({len(cols)}, {stacked}) AS (column, n_null)"
        )
        .filter(F.col("n_null") > 0)
    )


def check_accepted_values(
    df: DataFrame, col: str, values: list
) -> DataFrame:
    """Distinct out-of-domain values with row counts (dbt
    ``accepted_values``); NULLs are out-of-domain unless listed."""
    non_null = [v for v in values if v is not None]
    # isin() with zero args raises a Py4J error, so a values list of
    # only None (or empty) starts from an empty domain instead.
    in_domain = F.col(col).isin(*non_null) if non_null else F.lit(False)
    if any(v is None for v in values):
        in_domain = in_domain | F.col(col).isNull()
    else:
        in_domain = in_domain & F.col(col).isNotNull()
    return (
        df.filter(~F.coalesce(in_domain, F.lit(False)))
        .groupBy(col)
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )


def check_references(
    child: DataFrame, col: str, parent: DataFrame, parent_col: str
) -> DataFrame:
    """Orphaned foreign-key values with row counts (dbt
    ``relationships``): every non-NULL child value must exist in the
    parent. Anti-join on the key — with a dim-sized parent the planner
    broadcasts it. The parent keys are not de-duplicated first: a
    left-anti join only tests whether a matching key exists, so a
    repeated parent key can neither drop nor multiply a child row, and
    a ``distinct()`` would only add an aggregate."""
    parent_keys = parent.select(F.col(parent_col).alias(col))
    return (
        child.filter(F.col(col).isNotNull())
        .select(col)
        .join(parent_keys, col, "left_anti")
        .groupBy(col)
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )


def expect_all(checks: dict[str, DataFrame]) -> dict[str, int]:
    """Evaluate every named check in ONE Spark action: each check's
    violation rows are tagged with the check's name, the tags union, and
    one ``groupBy("check")`` counts them all — not one action per check,
    which would rescan the inputs N times, nor one single-partition
    aggregate per check (under AQE the action still runs one stage per
    exchange). A check with no violation rows has no group and counts 0.
    Raise ONE error naming each failed contract with its violation
    count. Returns the per-check counts (all zero) when everything
    holds, so callers can log a ledger."""
    from functools import reduce

    tagged = [df.select(F.lit(name).alias("check")) for name, df in checks.items()]
    found = {
        r.check: r.n
        for r in reduce(DataFrame.unionAll, tagged)
        .groupBy("check")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    counts = {name: found.get(name, 0) for name in checks}
    failed = {name: n for name, n in counts.items() if n}
    if failed:
        detail = ", ".join(f"{name} ({n} violations)" for name, n in failed.items())
        raise ValueError(f"data-quality contracts failed: {detail}")
    return counts
