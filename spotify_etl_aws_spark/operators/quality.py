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

Shape: every ``check_*`` returns a VIOLATIONS DataFrame — empty means
the contract holds. Nothing is collected; ``expect_all`` counts on the
executors and raises one error naming every failed contract.

Key contracts (``KeyContracts``: each parent's primary key unique and
not-null, a child's foreign keys resolving) are the gate the medallion
build runs on every gold write. ``expect_all`` evaluates a whole set of
them as ONE aggregate instead of one plan per check: the parents' keys
and the child's foreign keys, exploded from one scan of the child, union
into (table, key) rows; one ``groupBy(table, key)`` counts each key's
parent and child rows, and one global aggregate ``count_if``-s each
check's violating keys. That is one shuffle per aggregate, about three
Spark jobs under AQE, where the nine separate check plans ran thirteen.
The counts equal the ``check_*`` frames' row counts, which stay as the
reference the gate is tested against.

Scale posture: ``unique`` is one partial-aggregating groupBy (count>1
survivors only), ``not_null`` is a single-pass one-row aggregate
unpivoted to (column, n_null), ``accepted_values`` is a groupBy over
the offending distinct values, ``references`` is a left-anti join
(broadcast-able when the parent is a dim). All linear, all shuffle-on-
key, no driver-side data.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce

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


@dataclass(frozen=True)
class KeyContracts:
    """Primary-key contracts on parent tables plus a child table's
    foreign keys to them. ``parents`` maps a table name to its frame and
    primary-key column; the child carries one column named like each
    primary key. The checks, in order: ``<parent>.<key>_unique`` and
    ``<parent>.<key>_not_null`` per parent, then
    ``<child_name>.<key>_references`` per parent."""

    parents: dict[str, tuple[DataFrame, str]]
    child_name: str
    child: DataFrame

    def names(self) -> list[str]:
        keyed = [f"{t}.{k}" for t, (_, k) in self.parents.items()]
        return [f"{tk}_{c}" for tk in keyed for c in ("unique", "not_null")] + [
            f"{self.child_name}.{k}_references" for _, k in self.parents.values()
        ]


def _count_key_contracts(contracts: KeyContracts) -> dict[str, int]:
    """Violation counts of every check in ``contracts`` from one grouped
    aggregate and one global one. Per check the count is the row count
    of the matching ``check_*`` frame: duplicated non-NULL keys, 1 if
    any key is NULL, distinct orphaned non-NULL foreign keys. Keys
    compare as strings."""

    def keyed(table: str, col: str, parent: bool):
        return [
            F.lit(table).alias("table"),
            F.col(col).cast("string").alias("key"),
            F.lit(parent).alias("parent"),
        ]

    parent_keys = reduce(
        DataFrame.unionAll,
        [df.select(*keyed(t, k, True)) for t, (df, k) in contracts.parents.items()],
    )
    # the child is scanned once: each row explodes into one (table, key)
    # row per foreign key
    child_keys = contracts.child.select(
        F.inline(
            F.array(*[F.struct(*keyed(t, k, False)) for t, (_, k) in contracts.parents.items()])
        )
    )
    per_key = (
        parent_keys.unionAll(child_keys)
        .groupBy("table", "key")
        .agg(
            F.count_if("parent").alias("n_parent"),
            F.count_if(~F.col("parent")).alias("n_child"),
        )
    )
    n_parent, n_child, key = F.col("n_parent"), F.col("n_child"), F.col("key")
    unique, not_null, references = [], [], []
    for t in contracts.parents:
        own = F.col("table") == t
        unique.append(own & key.isNotNull() & (n_parent > 1))
        not_null.append(own & key.isNull() & (n_parent > 0))
        references.append(own & key.isNotNull() & (n_child > 0) & (n_parent == 0))
    conditions = [c for pair in zip(unique, not_null) for c in pair] + references
    row = per_key.agg(*[F.count_if(c) for c in conditions]).first()
    return dict(zip(contracts.names(), row))


def _count_violation_frames(checks: dict[str, DataFrame]) -> dict[str, int]:
    """Row counts of named violation frames in one action: each frame's
    rows are tagged with the check's name, the tags union, and one
    ``groupBy("check")`` counts them all. A check with no violation rows
    has no group and counts 0."""
    tagged = [df.select(F.lit(name).alias("check")) for name, df in checks.items()]
    found = {
        r.check: r.n
        for r in reduce(DataFrame.unionAll, tagged)
        .groupBy("check")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    return {name: found.get(name, 0) for name in checks}


def contract_counts(checks: KeyContracts | dict[str, DataFrame]) -> dict[str, int]:
    """Violation count per named check, without raising: ``KeyContracts``
    are counted by one aggregate, a dict of ``check_*`` violation frames
    by one tagged union."""
    if isinstance(checks, KeyContracts):
        return _count_key_contracts(checks)
    return _count_violation_frames(checks)


def expect_all(checks: KeyContracts | dict[str, DataFrame]) -> dict[str, int]:
    """The contract gate: count every check (``contract_counts``) and
    raise ONE error naming each failed contract with its violation
    count. Returns the per-check counts (all zero) when everything
    holds, so callers can log a ledger."""
    counts = contract_counts(checks)
    failed = {name: n for name, n in counts.items() if n}
    if failed:
        detail = ", ".join(f"{name} ({n} violations)" for name, n in failed.items())
        raise ValueError(f"data-quality contracts failed: {detail}")
    return counts
