"""Probabilistic record linkage (north-star, SURVEY.md §2.11a
adjacent — the entity-resolution operator family): match dirty records
against a master table via the Fellegi–Sunter model (JASA 1969; the
Splink/dedupe.io production shape) — multi-pass BLOCKING for candidate
generation, per-field agreement/disagreement LOG-ODDS weights summed
into a match score, threshold gate.

This is the multi-field probabilistic generalization of the exact
edit-distance join (operators/editdist.py): one noisy field alone
cannot confirm a match, but agreement evidence ACROSS fields (name
within edit distance, phone exact, balance close, same nation) sums —
and disagreement subtracts — exactly like the log-likelihood ratio the
F-S model prescribes. Weights here are caller-supplied integers
(deterministic, cross-engine exact); learning them by EM over the
candidate set is the documented seam a deployment adds on top (the
scoring algebra is unchanged).

Scale shape:

- Each blocking pass is ONE equi-join on its key expression — never a
  theta join; the union of passes is deduped per (probe, master) pair
  before scoring, so a pair caught by both passes scores once.
  Blocking recall is the caller's contract (pick passes such that a
  true match survives at least one key intact — the standard
  complementary-keys design, e.g. name-prefix OR phone-prefix).
- Scoring is map-side JVM expression arithmetic on candidate rows
  only (levenshtein/abs/case-when — no UDF, no extra shuffle).
- Skewed blocking keys (a mega-city block) are the same hazard as
  every candidate-generation lane. ``fs_link`` exposes the WIRED
  valve: ``max_block_pairs`` drops a pass's blocks whose candidate
  cross product exceeds the cap from CANDIDATE GENERATION only (the
  phash lane's ``max_band_bucket`` contract, restated for two-sided
  blocks: n_probe x n_master bounds the pair mass one reduce task
  would own). A dropped block weakens recall for ITS probes in THAT
  pass only — a pair also caught by a complementary pass still scores
  (that is what multi-pass blocking is for), and nothing emitted is
  ever wrong (scoring still sees full rows). ``block_census`` is the
  loud census a caller reads before picking the cap. When a hot
  block's pairs are genuinely wanted, targeted salting
  (operators/skew.py:salted_join) balances the join instead — the cap
  is for blocks that are DEGENERATE keys (empty city field, default
  phone prefix), which is the production norm (Splink's blocking-rule
  guidance bans such rules outright).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Comparator:
    """One field comparison: ``agree`` is a boolean Column over the
    joined candidate row (probe columns aliased ``p_*``, master
    columns ``m_*``); agreement adds ``w_agree``, disagreement adds
    ``w_disagree`` (negative). Integer weights keep the score exact
    int64 on both engines.

    Weights may also be Column EXPRESSIONS over the same joined row —
    the Splink term-frequency-adjustment hook (a comparator whose
    agreement evidence depends on how common the matched value is,
    e.g. ``round(4 * log2(n / m_tf), 2)``). Expression weights make
    the score a double: pass ``score_type="double"`` to ``fs_link``
    and follow the 2dp-grid + threshold-margin probe protocol."""

    name: str
    agree: Column
    w_agree: int | Column
    w_disagree: int | Column


def _prefixed(df: DataFrame, id_col: str, tag: str) -> DataFrame:
    return df.select(
        F.col(id_col).alias(f"{tag}_id"),
        *[F.col(c).alias(f"{tag}_{c}") for c in df.columns if c != id_col],
    )


def _hot_blocks(
    p_keyed: DataFrame, m_keyed: DataFrame, max_block_pairs: int
) -> DataFrame:
    """Block keys whose candidate cross product exceeds the cap —
    two count aggregations (partial-agg map-side; only (key, count)
    rows shuffle) joined on the key. Driver never sees them; the
    result broadcasts (at most total_pairs / cap keys can exceed the
    cap, so the hot set is bounded small by construction)."""
    pc = p_keyed.groupBy("__bk").agg(F.count(F.lit(1)).alias("__np"))
    mc = m_keyed.groupBy("__bk").agg(F.count(F.lit(1)).alias("__nm"))
    return (
        pc.join(mc, "__bk")
        .filter(F.col("__np") * F.col("__nm") > max_block_pairs)
        .select("__bk")
    )


def fs_link(
    probe: DataFrame,
    master: DataFrame,
    probe_id: str,
    master_id: str,
    blocking: list[tuple[Column, Column]],
    comparators: list[Comparator],
    threshold: int | float,
    max_block_pairs: int | None = None,
    score_type: str = "long",
) -> DataFrame:
    """Fellegi–Sunter linkage: probe rows against master rows.

    ``blocking``: list of (probe_key_expr, master_key_expr) passes —
    candidates are the UNION over passes of equi-join matches, deduped.
    ``comparators``: per-field evidence terms (see Comparator).
    ``max_block_pairs``: optional skew valve — any single pass's block
    whose probe-count x master-count exceeds the cap is dropped from
    that pass's candidate generation (see module docstring; census via
    ``block_census``). Default None = every block joins.
    ``score_type``: "long" for integer weights (exact); "double" when
    any comparator carries expression weights (TF adjustment) — the
    sum stays a FIXED left-to-right expression chain, so both engines
    add identical doubles in the identical order.
    Returns (probe_id, master_id, score, <name>_agree per comparator)
    for pairs with score >= threshold.
    """
    if not blocking:
        raise ValueError("fs_link: at least one blocking pass required")
    if not comparators:
        raise ValueError("fs_link: at least one comparator required")
    p = _prefixed(probe, probe_id, "p")
    m = _prefixed(master, master_id, "m")
    cand = None
    for pk, mk in blocking:
        p_keyed = p.withColumn("__bk", pk)
        m_keyed = m.withColumn("__bk", mk)
        if max_block_pairs is not None:
            hot = _hot_blocks(p_keyed, m_keyed, max_block_pairs)
            p_keyed = p_keyed.join(F.broadcast(hot), "__bk", "left_anti")
        pass_pairs = p_keyed.join(m_keyed, "__bk").select("p_id", "m_id")
        cand = pass_pairs if cand is None else cand.unionByName(pass_pairs)
    cand = cand.distinct()
    scored = cand.join(p, "p_id").join(m, "m_id")
    score = None
    agree_cols = []
    for c in comparators:
        flag = F.when(c.agree, F.lit(True)).otherwise(F.lit(False))
        wa = c.w_agree if isinstance(c.w_agree, Column) else F.lit(c.w_agree)
        wd = (
            c.w_disagree
            if isinstance(c.w_disagree, Column)
            else F.lit(c.w_disagree)
        )
        term = F.when(c.agree, wa).otherwise(wd)
        agree_cols.append(flag.alias(f"{c.name}_agree"))
        score = term if score is None else score + term
    return (
        scored.select(
            F.col("p_id").alias(probe_id),
            F.col("m_id").alias(master_id),
            score.cast(score_type).alias("score"),
            *agree_cols,
        )
        .filter(F.col("score") >= threshold)
    )


def block_census(
    probe: DataFrame,
    master: DataFrame,
    probe_id: str,
    master_id: str,
    blocking: list[tuple[Column, Column]],
) -> DataFrame:
    """Diagnostic: (pass_idx, block_key, n_probe, n_master, pairs) for
    every block key present on BOTH sides of each blocking pass,
    descending by candidate pair mass — the skew census a caller reads
    before picking ``max_block_pairs``."""
    if not blocking:
        raise ValueError("block_census: at least one blocking pass required")
    p = _prefixed(probe, probe_id, "p")
    m = _prefixed(master, master_id, "m")
    out = None
    for i, (pk, mk) in enumerate(blocking):
        pc = (
            p.select(pk.cast("string").alias("block_key"))
            .groupBy("block_key")
            .agg(F.count(F.lit(1)).alias("n_probe"))
        )
        mc = (
            m.select(mk.cast("string").alias("block_key"))
            .groupBy("block_key")
            .agg(F.count(F.lit(1)).alias("n_master"))
        )
        one = pc.join(mc, "block_key").select(
            F.lit(i).alias("pass_idx"),
            "block_key",
            "n_probe",
            "n_master",
            (F.col("n_probe") * F.col("n_master")).alias("pairs"),
        )
        out = one if out is None else out.unionByName(one)
    return out.orderBy(F.desc("pairs"), F.asc("pass_idx"), F.asc("block_key"))


def fs_learn_weights(
    pairs: DataFrame,
    fields: list[str],
    iters: int = 10,
    init_p: float = 0.1,
    init_m: float = 0.9,
    init_u: float = 0.1,
    decimals: int | None = None,
) -> dict:
    """Learn Fellegi–Sunter m/u probabilities by EM over candidate
    pairs (Winkler 1988 — the unsupervised fit Splink runs): ``pairs``
    carries one boolean ``<field>_agree`` column per field (fs_link
    output at a permissive threshold, or any candidate table).

    Latent-class EM: each pair is a match with probability p; field
    agreements are conditionally independent given the class.
    E-step scores every pair map-side with the CURRENT parameters
    (pure JVM expression — exp/log of literals); M-step is ONE
    aggregation per iteration (driver holds only the 2k+1 parameter
    scalars). k iterations = k jobs over the candidate table; at
    100 TB the candidate table is the blocked subset, orders of
    magnitude smaller than the cross product, and each pass is a
    map-side expression + partial agg.

    Returns {"p": float, "m": {f: m_f}, "u": {f: u_f},
    "w_agree": {f: log2(m/u)}, "w_disagree": {f: log2((1-m)/(1-u))}}
    — plug w_* (scaled/rounded to ints) straight into Comparator
    weights. Probabilities are clamped to [1e-6, 1-1e-6] so a
    perfectly-separating field cannot produce infinite weights.

    ``decimals``: optional per-iteration parameter rounding —
    floor(x * 10^decimals + 0.5) / 10^decimals applied to p/m/u after
    each M-step (the same determinism trick the k-means quantizer's
    CENTROID_DECIMALS rounding uses): cross-engine float-sum drift
    (~1e-12 relative) cannot compound across iterations, so a DuckDB
    twin running the identical chain lands on bit-identical
    parameters. The rounding formula is half-up via floor (NOT
    banker's round) so Python, Spark, and DuckDB agree at .5
    boundaries.
    """
    import math

    if not fields:
        raise ValueError("fs_learn_weights: at least one field required")
    eps = 1e-6
    p = float(init_p)
    m = {f: float(init_m) for f in fields}
    u = {f: float(init_u) for f in fields}
    cols = [F.col(f"{f}_agree").cast("double").alias(f) for f in fields]
    base = pairs.select(*cols)
    for _ in range(iters):
        log_m = F.lit(math.log(p))
        log_u = F.lit(math.log(1.0 - p))
        for f in fields:
            g = F.col(f)
            log_m = log_m + g * math.log(m[f]) + (1 - g) * math.log(1 - m[f])
            log_u = log_u + g * math.log(u[f]) + (1 - g) * math.log(1 - u[f])
        # responsibility via the numerically-stable logistic form
        w = F.lit(1.0) / (F.lit(1.0) + F.exp(log_u - log_m))
        agg = base.select(
            w.alias("__w"), *[F.col(f) for f in fields]
        ).agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum("__w").alias("__sw"),
            *[F.sum(F.col(f) * F.col("__w")).alias(f"__mw_{f}") for f in fields],
            *[
                F.sum(F.col(f) * (1 - F.col("__w"))).alias(f"__uw_{f}")
                for f in fields
            ],
        ).collect()[0]
        n, sw = agg["__n"], agg["__sw"]
        if n == 0:
            raise ValueError(
                "fs_learn_weights: candidate table is empty — nothing "
                "to fit (check the blocking passes)"
            )
        clamp = lambda x: min(max(x, eps), 1.0 - eps)  # noqa: E731
        if decimals is not None:
            grid = 10.0 ** decimals
            rnd = lambda x: math.floor(x * grid + 0.5) / grid  # noqa: E731
        else:
            rnd = lambda x: x  # noqa: E731
        # sw itself is clamped into (0, n): exp() underflow can
        # saturate every responsibility to exactly 0.0 or 1.0, which
        # would divide by zero in the m/u updates below
        sw = min(max(sw, eps), n - eps)
        p = rnd(clamp(sw / n))
        for f in fields:
            m[f] = rnd(clamp(agg[f"__mw_{f}"] / sw))
            u[f] = rnd(clamp(agg[f"__uw_{f}"] / (n - sw)))
    return {
        "p": p,
        "m": m,
        "u": u,
        "w_agree": {f: math.log2(m[f] / u[f]) for f in fields},
        "w_disagree": {
            f: math.log2((1 - m[f]) / (1 - u[f])) for f in fields
        },
    }


def fs_int_weights(fit: dict, scale: int = 10) -> dict:
    """Deterministic integer weights from a ``fs_learn_weights`` fit:
    w * scale, rounded half-up via floor (the cross-engine formula —
    Python's round() is banker's, DuckDB's round() is half-away;
    floor(x*s + 0.5) is identical everywhere). Returns
    {"w_agree": {f: int}, "w_disagree": {f: int}} — plug straight into
    Comparator weights to close the learn -> score loop."""
    import math

    return {
        k: {
            f: int(math.floor(w * scale + 0.5))
            for f, w in fit[k].items()
        }
        for k in ("w_agree", "w_disagree")
    }


def fs_best_match(
    linked: DataFrame, probe_id: str, master_id: str
) -> DataFrame:
    """Resolve ``fs_link`` output to ONE master per probe: highest
    score, ties broken by smallest master id (deterministic — the
    assignment a downstream merge needs). One window shuffle on the
    probe key; no global sort."""
    from pyspark.sql import Window

    w = Window.partitionBy(probe_id).orderBy(
        F.desc("score"), F.asc(master_id)
    )
    return (
        linked.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") == 1)
        .drop("__rk")
    )
