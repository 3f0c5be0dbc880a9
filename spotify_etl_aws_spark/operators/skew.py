"""Skew mitigation: salted join (SURVEY.md §4 shuffle notes).

AQE's skew-join splitting handles sort-merge skew at runtime, but it
cannot help a shuffled join whose hot key lands in one reducer of a
HASH aggregation or a stream-stream join, and it never triggers below
``skewedPartitionThresholdInBytes`` (256 MB default). Salting is the
explicit fix:

- the SKEWED (large) side gets a random salt in ``[0, salt)`` appended
  to its key — the hot key's rows spread over ``salt`` reducers;
- the other side is REPLICATED ``salt`` times (explode over the salt
  range) so every salted partition still finds its match;
- join on (key, salt), then drop the salt.

Cost: the replicated side's shuffle volume multiplies by ``salt``.
MEASURED (BASELINE.md round 5): replicating the WHOLE small side is a
bad trade at every scale tried — the planted-hot-key bench has plain
AQE beating blanket salting 9.9 s vs 31.7 s at 60M rows. Production
salting is therefore TARGETED: pass ``hot_keys`` (detected once with
``detect_hot_keys``) and only those keys' rows are salted/replicated —
replication volume becomes ``len(hot_keys) * salt`` rows instead of
``|right| * salt``, and the cold keys join untouched. That lane beats
the straggler wherever AQE cannot act (hash aggs, streaming joins,
sub-threshold skew) at near-zero overhead for the cold path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_SALT = "__salt"

# Joins where replicating the right side over all salt values is sound:
# every right row's copies either match the same salted left rows or
# drop out (no null-producing right copies).
_REPLICATE_RIGHT_HOW = {"inner", "left", "left_outer", "left_semi", "left_anti"}
# The mirror: the RIGHT side is the null-producing one, so it gets the
# salt (one copy per row) and the left side is replicated.
_REPLICATE_LEFT_HOW = {"right", "right_outer"}
_FULL_HOW = {"full", "full_outer", "outer"}


def detect_hot_keys(
    df: DataFrame, on: str | list[str], min_fraction: float = 0.01
) -> list:
    """One aggregation job returning the join-key values owning more
    than ``min_fraction`` of the NON-NULL-key rows — the inputs for
    targeted salting. NULL-key rows are excluded from both the
    candidates and the denominator (a NULL key never matches in an
    equi-join, so it cannot be a join hot key — and the sketched
    variant's MG partials drop NULLs, so the two detectors now apply
    ``min_fraction`` to the same total and agree on borderline keys).
    Output is driver-sized by construction: at most ``1/min_fraction``
    keys can each exceed that fraction."""
    on_cols = [on] if isinstance(on, str) else list(on)
    keyed = df
    for c in on_cols:
        keyed = keyed.filter(F.col(c).isNotNull())
    total = keyed.count()
    rows = (
        keyed.groupBy(*on_cols)
        .count()
        .filter(F.col("count") > total * min_fraction)
        .select(*on_cols)
        .collect()
    )
    if len(on_cols) == 1:
        return [r[0] for r in rows]
    return [tuple(r) for r in rows]


def _hot_predicate(on_cols: list[str], hot_keys: list) -> F.Column:
    if len(on_cols) == 1:
        return F.col(on_cols[0]).isin(list(hot_keys))
    pred = F.lit(False)
    for key in hot_keys:
        match = F.lit(True)
        for col, val in zip(on_cols, key):
            match = match & (F.col(col) == F.lit(val))
        pred = pred | match
    return pred


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str],
    salt: int = 8,
    how: str = "inner",
    hot_keys: list | None = None,
) -> DataFrame:
    """Equi-join that spreads a hot key over ``salt`` reducers; result
    is row-identical to ``left.join(right, on, how)`` for EVERY join
    type:

    - inner/left/left_semi/left_anti: salt the left side, replicate the
      right — unmatched rights never surface, so replication is free.
    - right/right_outer: mirrored — salt the right side, replicate the
      left. Each right row exists exactly once (one salt value), so an
      unmatched right row emits exactly one null-left row.
    - full/full_outer: replication on either side would emit up to
      ``salt`` spurious null rows per unmatched row on the replicated
      side, so the full join is COMPOSED from sound parts: the salted
      inner join ∪ unmatched-left rows (salted left_anti, null right
      columns) ∪ unmatched-right rows (salted anti the other way, null
      left columns). Three salted shuffles, no spurious rows — and NULL
      join keys surface from both sides exactly as a plain full join.

    ``rand`` seeds deterministically per partition, so the salt only
    affects placement, never the result set.

    ``hot_keys`` switches on TARGETED salting: only rows whose key is
    in the list are salted/replicated; every other key keeps salt 0 on
    both sides (cold rows join 1:1, zero replication). Same row-
    identical guarantee — the salt column still always matches — with
    the replication cost cut from ``|side| * salt`` to
    ``len(hot_keys) * salt`` extra rows. Detect the list once with
    ``detect_hot_keys`` (or supply it from workload knowledge)."""
    on_cols = [on] if isinstance(on, str) else list(on)

    def _salt_col() -> F.Column:
        rnd = (F.rand(seed=42) * salt).cast("int")
        if hot_keys is None:
            return rnd
        return F.when(_hot_predicate(on_cols, hot_keys), rnd).otherwise(
            F.lit(0)
        )

    def _repl_col() -> F.Column:
        full = F.sequence(F.lit(0), F.lit(salt - 1))
        if hot_keys is None:
            return F.explode(full)
        return F.explode(
            F.when(_hot_predicate(on_cols, hot_keys), full).otherwise(
                F.array(F.lit(0))
            )
        )

    if how in _REPLICATE_RIGHT_HOW:
        salted_left = left.withColumn(_SALT, _salt_col())
        replicated_right = right.withColumn(_SALT, _repl_col())
        return salted_left.join(
            replicated_right, on_cols + [_SALT], how
        ).drop(_SALT)
    if how in _REPLICATE_LEFT_HOW:
        replicated_left = left.withColumn(_SALT, _repl_col())
        salted_right = right.withColumn(_SALT, _salt_col())
        return replicated_left.join(
            salted_right, on_cols + [_SALT], how
        ).drop(_SALT)
    if how in _FULL_HOW:
        l_rest = [c for c in left.columns if c not in on_cols]
        r_rest = [c for c in right.columns if c not in on_cols]
        l_types = {f.name: f.dataType for f in left.schema.fields}
        r_types = {f.name: f.dataType for f in right.schema.fields}
        matched = salted_join(left, right, on_cols, salt, "inner", hot_keys)
        left_only = salted_join(left, right, on_cols, salt, "left_anti", hot_keys).select(
            *on_cols,
            *l_rest,
            *[F.lit(None).cast(r_types[c]).alias(c) for c in r_rest],
        )
        right_only = salted_join(right, left, on_cols, salt, "left_anti", hot_keys).select(
            *on_cols,
            *[F.lit(None).cast(l_types[c]).alias(c) for c in l_rest],
            *r_rest,
        )
        # positional union: all three legs are built in the same
        # (on, left-rest, right-rest) order — and a plain full join may
        # legitimately output DUPLICATE column names when left and
        # right share a non-key name, which unionByName would reject
        return matched.union(left_only).union(right_only)
    raise ValueError(f"salted_join: unsupported join type {how!r}")
