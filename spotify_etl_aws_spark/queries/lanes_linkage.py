"""Record-linkage lanes (Fellegi-Sunter family) — split out of queries/selection.py in round 12
(verdict item 5). The registry (selection.QUERIES / selection.ORACLE)
and its query order are unchanged: selection imports only the query
functions and oracles it registers, so import every other name from
this module. Lane bodies are moved
VERBATIM — the full-sweep manifest gate pins value-hash equality."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.vectors import cosine
from ..sources.readers import load_table as t
from .vector import _embeddings, _query_vector
from ..operators.lineage import cut_lineage

# ---- Fellegi-Sunter record linkage (round 9) ----
#
# Probe side = a dirty copy of every customer, built in-lane with the
# same deterministic arithmetic on both engines: one-char name
# substitution at position custkey%8+2 (trailing block-key chars
# intact), a synthesized phone (nation prefix + multiplicative-hash
# digits) whose last digit flips for even custkeys, +37-cent balance
# drift for custkey%5==0 — and every 7th probe is CORRUPTED
# (name -> 'zz'||reverse(name), phone last digit flipped) so the
# scoring gate, not just blocking, decides. Blocking recall is the
# standard complementary-keys design: (nation, name-suffix-4) catches
# every intact-suffix perturbation; phone-prefix-6 catches everything
# else including the corrupted probes, which then FAIL the score
# threshold (max 30 < 45) — while intended matches score >= 50 even
# when the phone disagrees.
FS_THRESHOLD = 45


def _fs_frames(spark: SparkSession, sf_dir: str):
    cust = t(spark, sf_dir, "customer")
    phone = F.concat(
        (F.col("c_nationkey") + 10).cast("string"),
        F.lit("-"),
        F.lpad(
            ((F.col("c_custkey") * 7919) % 10000000).cast("string"), 7, "0"
        ),
    )
    master = cust.select(
        F.col("c_custkey").alias("custkey"),
        F.col("c_name").alias("name"),
        phone.alias("phone"),
        F.col("c_nationkey").alias("nation"),
        F.round(F.col("c_acctbal") * 100, 0).cast("long").alias("acct_cents"),
        F.col("c_mktsegment").alias("segment"),
    )
    p = (F.col("c_custkey") % 8 + 2).cast("int")
    dirty_name = F.concat(
        F.substring(F.col("c_name"), F.lit(1), p - 1),
        F.lit("x"),
        F.col("c_name").substr(p + 1, F.lit(64)),
    )
    corrupt = F.col("c_custkey") % 7 == 0
    flip_last = F.concat(
        F.substring(phone, F.lit(1), F.length(phone) - 1), F.lit("9")
    )
    probe = cust.select(
        F.col("c_custkey").alias("probe_id"),
        F.when(corrupt, F.concat(F.lit("zz"), F.reverse(F.col("c_name"))))
        .otherwise(dirty_name)
        .alias("name"),
        F.when(corrupt | (F.col("c_custkey") % 2 == 0), flip_last)
        .otherwise(phone)
        .alias("phone"),
        F.col("c_nationkey").alias("nation"),
        (
            F.round(F.col("c_acctbal") * 100, 0).cast("long")
            + F.when(F.col("c_custkey") % 5 == 0, F.lit(37)).otherwise(
                F.lit(0)
            )
        ).alias("acct_cents"),
        F.col("c_mktsegment").alias("segment"),
    )
    return probe, master


#: per-field (agree, disagree) integer weights of the hand-set lane
_FS_HAND_WEIGHTS = {
    "name": (40, -25),
    "phone": (30, -15),
    "acct": (15, -10),
    "seg": (10, -10),
}


def _fs_blocking():
    suffix4 = lambda col: F.substring(col, -4, 4)  # noqa: E731
    return [
        (
            F.concat(F.col("p_nation").cast("string"), F.lit("|"),
                     suffix4(F.col("p_name"))),
            F.concat(F.col("m_nation").cast("string"), F.lit("|"),
                     suffix4(F.col("m_name"))),
        ),
        (
            F.substring(F.col("p_phone"), 1, 6),
            F.substring(F.col("m_phone"), 1, 6),
        ),
    ]


def _fs_comparators(weights: dict):
    """The four field comparators with (agree, disagree) weight pairs
    taken from ``weights`` — shared by the hand-weighted, candidate,
    and EM-learned lanes so the evidence model can never drift."""
    from ..operators.linkage import Comparator

    agree = {
        "name": F.levenshtein(F.col("p_name"), F.col("m_name")) <= 1,
        "phone": F.col("p_phone") == F.col("m_phone"),
        "acct": F.abs(F.col("p_acct_cents") - F.col("m_acct_cents")) <= 100,
        "seg": F.col("p_segment") == F.col("m_segment"),
    }
    return [
        Comparator(f, agree[f], wa, wd) for f, (wa, wd) in weights.items()
    ]


def link_customer_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter probabilistic record linkage
    (operators/linkage.py): dirty customer records against the master
    table — two complementary blocking passes, four integer-weighted
    field comparators (name edit distance <= 1, phone exact, balance
    within a dollar, same market segment), threshold gate. Returns
    (probe_id, custkey, score, per-field agree flags)."""
    from ..operators.linkage import fs_link

    probe, master = _fs_frames(spark, sf_dir)
    out = fs_link(
        probe,
        master,
        "probe_id",
        "custkey",
        blocking=_fs_blocking(),
        comparators=_fs_comparators(_FS_HAND_WEIGHTS),
        threshold=FS_THRESHOLD,
    )
    return out.select(
        "probe_id", "custkey", "score",
        "name_agree", "phone_agree", "acct_agree", "seg_agree",
    )


# master/probe/cand CTEs shared by the three linkage oracles (the
# hand-weighted lane, the best-match lane, and the EM-learned lane)
_FS_BASE_CTES = """master AS (
  SELECT c_custkey AS custkey, c_name AS name,
         CAST(c_nationkey + 10 AS VARCHAR) || '-' ||
           lpad(CAST((c_custkey * 7919) % 10000000 AS VARCHAR), 7, '0')
           AS phone,
         c_nationkey AS nation,
         CAST(round(c_acctbal * 100, 0) AS BIGINT) AS acct_cents,
         c_mktsegment AS segment
  FROM customer
),
probe AS (
  SELECT c_custkey AS probe_id,
         CASE WHEN c_custkey % 7 = 0 THEN 'zz' || reverse(c_name)
              ELSE substring(c_name, 1, CAST(c_custkey % 8 + 1 AS INT))
                   || 'x'
                   || substring(c_name, CAST(c_custkey % 8 + 3 AS INT), 64)
         END AS name,
         CASE WHEN c_custkey % 7 = 0 OR c_custkey % 2 = 0
              THEN substring(ph, 1, length(ph) - 1) || '9'
              ELSE ph END AS phone,
         c_nationkey AS nation,
         CAST(round(c_acctbal * 100, 0) AS BIGINT)
           + CASE WHEN c_custkey % 5 = 0 THEN 37 ELSE 0 END AS acct_cents,
         c_mktsegment AS segment
  FROM (
    SELECT *, CAST(c_nationkey + 10 AS VARCHAR) || '-' ||
              lpad(CAST((c_custkey * 7919) % 10000000 AS VARCHAR), 7, '0')
              AS ph
    FROM customer
  )
),
cand AS (
  SELECT DISTINCT p.probe_id, m.custkey
  FROM probe p JOIN master m
    ON p.nation = m.nation
   AND substring(p.name, length(p.name) - 3, 4)
       = substring(m.name, length(m.name) - 3, 4)
  UNION
  SELECT DISTINCT p.probe_id, m.custkey
  FROM probe p JOIN master m
    ON substring(p.phone, 1, 6) = substring(m.phone, 1, 6)
)"""

ORACLE_FS_LINK = f"""
WITH {_FS_BASE_CTES},
scored AS (
  SELECT c.probe_id, c.custkey,
         (CASE WHEN levenshtein(p.name, m.name) <= 1 THEN 40 ELSE -25 END
        + CASE WHEN p.phone = m.phone THEN 30 ELSE -15 END
        + CASE WHEN abs(p.acct_cents - m.acct_cents) <= 100 THEN 15 ELSE -10 END
        + CASE WHEN p.segment = m.segment THEN 10 ELSE -10 END)::BIGINT
           AS score,
         levenshtein(p.name, m.name) <= 1 AS name_agree,
         p.phone = m.phone AS phone_agree,
         abs(p.acct_cents - m.acct_cents) <= 100 AS acct_agree,
         p.segment = m.segment AS seg_agree
  FROM cand c
  JOIN probe p ON p.probe_id = c.probe_id
  JOIN master m ON m.custkey = c.custkey
)
SELECT * FROM scored WHERE score >= {FS_THRESHOLD}
"""


def link_customer_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-to-one resolution of the linkage lane
    (operators/linkage.py:fs_best_match): each dirty probe keeps only
    its highest-scoring master (ties -> smallest custkey) — the
    assignment a downstream MERGE consumes. On the amplified corpus
    (replica masters sharing names) this provably picks the smallest
    replica per probe; at base scale it is the identity on the
    linkage lane's output."""
    from ..operators.linkage import fs_best_match

    linked = link_customer_records(spark, sf_dir)
    return fs_best_match(linked, "probe_id", "custkey")


ORACLE_FS_BEST = (
    ORACLE_FS_LINK
    + """
QUALIFY row_number() OVER (
  PARTITION BY probe_id ORDER BY score DESC, custkey ASC
) = 1
"""
)


# ---- clerical-review bands (round 12) ----
#
# Splink's three-band decision output (the Fellegi-Sunter 1969 §4
# decision rule itself: two thresholds partition pairs into
# link / possible-link / non-link): pairs scoring >= FS_THRESHOLD
# auto-accept as matches, pairs in [FS_CLERICAL_LOW, FS_THRESHOLD)
# route to human clerical review, anything below is a non-match and
# is dropped (never materialized — the band that matters for volume
# is the one you do NOT emit). link_band_purity is the QA extension:
# per-band ground-truth purity from the fixture's built-in identity
# truth, validating that the match band is near-pure and the clerical
# band is genuinely ambiguous. Scores are exact int64 (same algebra
# as link_customer_records); purity divides identical integers once.
FS_CLERICAL_LOW = 20


def link_clerical_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F-S decision bands over the customer linkage candidates.
    Returns (probe_id, custkey, score, band) for pairs at or above
    the clerical floor; band in {match, clerical}."""
    from ..operators.linkage import fs_link

    probe, master = _fs_frames(spark, sf_dir)
    out = fs_link(
        probe,
        master,
        "probe_id",
        "custkey",
        blocking=_fs_blocking(),
        comparators=_fs_comparators(_FS_HAND_WEIGHTS),
        threshold=FS_CLERICAL_LOW,
    )
    band = F.when(
        F.col("score") >= FS_THRESHOLD, F.lit("match")
    ).otherwise(F.lit("clerical"))
    return out.select("probe_id", "custkey", "score", band.alias("band"))


def link_band_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band-purity QA (the link_eval_metrics pattern applied per
    band): pair count, ground-truth hits, purity ratio. Returns
    (band, n_pairs, n_true, purity)."""
    b = link_clerical_bands(spark, sf_dir)
    return (
        b.groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(
                F.when(
                    F.col("probe_id") == F.col("custkey"), 1
                ).otherwise(0)
            ).alias("n_true"),
        )
        .select(
            "band", "n_pairs", "n_true",
            (F.col("n_true") / F.col("n_pairs") + F.lit(0.0)).alias(
                "purity"
            ),
        )
    )


# reuse the hand-weighted oracle's master/probe/cand/scored CTEs
# verbatim (the _census_oracle split pattern) — only the decision
# tail differs
_FS_SCORED_HEAD = ORACLE_FS_LINK.rsplit("SELECT * FROM scored", 1)[0]

ORACLE_FS_BANDS = f"""{_FS_SCORED_HEAD}
SELECT probe_id, custkey, score,
       CASE WHEN score >= {FS_THRESHOLD} THEN 'match'
            ELSE 'clerical' END AS band
FROM scored WHERE score >= {FS_CLERICAL_LOW}
"""

ORACLE_BAND_PURITY = f"""{_FS_SCORED_HEAD}
SELECT CASE WHEN score >= {FS_THRESHOLD} THEN 'match'
            ELSE 'clerical' END AS band,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(CASE WHEN probe_id = custkey THEN 1 ELSE 0 END)
            AS BIGINT) AS n_true,
       (CAST(sum(CASE WHEN probe_id = custkey THEN 1 ELSE 0 END)
             AS DOUBLE) / count(*)) + 0.0 AS purity
FROM scored WHERE score >= {FS_CLERICAL_LOW}
GROUP BY 1
"""


# ---- EM-learned linkage (round 10) ----
#
# Closes the learn -> score loop: the SAME blocked candidates feed
# fs_learn_weights (Winkler-EM, operators/linkage.py), the fitted m/u
# become integer log-odds weights (fs_int_weights), and fs_link
# re-scores with them — the full Splink workflow, oracle-checked
# end-to-end. Cross-engine determinism rides two rounding grids: every
# EM iteration rounds p/m/u to EM_DECIMALS via floor-half-up (float-sum
# drift ~1e-12 cannot compound — the k-means CENTROID_DECIMALS trick),
# and the final weights round at EM_SCALE with the same floor formula,
# so DuckDB replaying the identical iteration chain (generated CTEs,
# one E-step + one M-step per iteration — the IVF oracle pattern)
# lands on bit-identical integers. Threshold = half the max attainable
# score, derived from the learned weights on both engines.
EM_FIELDS = ["name", "phone", "acct", "seg"]
EM_ITERS = 5
EM_DECIMALS = 6
EM_SCALE = 10

_FS_EM_CACHE: dict[str, dict] = {}


def _fs_learned_int_weights(spark: SparkSession, sf_dir: str) -> dict:
    """EM fit over the blocked candidates, memoized per corpus (the
    fit is k-scalar MODEL STATE like the IVF centroids; each EM
    iteration is one map-side E-step + one partial-agg job)."""
    cached = _FS_EM_CACHE.get(sf_dir)
    if cached is not None:
        return cached
    from ..operators.linkage import fs_int_weights, fs_learn_weights, fs_link

    probe, master = _fs_frames(spark, sf_dir)
    cand = fs_link(
        probe,
        master,
        "probe_id",
        "custkey",
        blocking=_fs_blocking(),
        comparators=_fs_comparators({f: (1, -1) for f in EM_FIELDS}),
        threshold=-(10**9),  # permissive: every blocked pair, with flags
    )
    fit = fs_learn_weights(cand, EM_FIELDS, iters=EM_ITERS, decimals=EM_DECIMALS)
    iw = fs_int_weights(fit, scale=EM_SCALE)
    _FS_EM_CACHE[sf_dir] = iw
    return iw


def link_customer_learned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linkage with EM-LEARNED weights (operators/linkage.py:
    fs_learn_weights -> fs_int_weights -> fs_link): unsupervised fit
    on the blocked candidate pairs, integer log-odds weights, re-score,
    threshold at half the maximum attainable score. Returns
    (probe_id, custkey, score)."""
    from ..operators.linkage import fs_link

    iw = _fs_learned_int_weights(spark, sf_dir)
    weights = {
        f: (iw["w_agree"][f], iw["w_disagree"][f]) for f in EM_FIELDS
    }
    thr = sum(iw["w_agree"].values()) // 2
    probe, master = _fs_frames(spark, sf_dir)
    out = fs_link(
        probe,
        master,
        "probe_id",
        "custkey",
        blocking=_fs_blocking(),
        comparators=_fs_comparators(weights),
        threshold=thr,
    )
    return out.select("probe_id", "custkey", "score")


def _oracle_fs_learned() -> str:
    """DuckDB twin of the learn -> score loop: the shared
    master/probe/cand CTEs, a flags CTE, then EM_ITERS generated
    (E-step, M-step) CTE pairs with the same clamp+round grid as
    fs_learn_weights, the same floor-half-up integer weights, and the
    same derived threshold."""
    agree = {
        "name": "levenshtein(p.name, m.name) <= 1",
        "phone": "p.phone = m.phone",
        "acct": "abs(p.acct_cents - m.acct_cents) <= 100",
        "seg": "p.segment = m.segment",
    }
    rnd = lambda x: (  # noqa: E731
        f"floor(({x}) * 1000000.0 + 0.5) / 1000000.0"
    )
    clamp = lambda x: f"least(greatest({x}, 1e-6), 1.0 - 1e-6)"  # noqa: E731
    parts = [
        _FS_BASE_CTES,
        "flags AS (\n  SELECT c.probe_id, c.custkey,\n"
        + ",\n".join(
            f"         ({agree[f]}) AS {f}_agree" for f in EM_FIELDS
        )
        + "\n  FROM cand c\n  JOIN probe p ON p.probe_id = c.probe_id\n"
        "  JOIN master m ON m.custkey = c.custkey\n)",
        "par0 AS (SELECT CAST(0.1 AS DOUBLE) AS p, "
        + ", ".join(
            f"CAST(0.9 AS DOUBLE) AS m_{f}, CAST(0.1 AS DOUBLE) AS u_{f}"
            for f in EM_FIELDS
        )
        + ")",
    ]
    for i in range(1, EM_ITERS + 1):
        lm = " + ".join(
            f"CASE WHEN f.{f}_agree THEN ln(par.m_{f}) "
            f"ELSE ln(1.0 - par.m_{f}) END"
            for f in EM_FIELDS
        )
        lu = " + ".join(
            f"CASE WHEN f.{f}_agree THEN ln(par.u_{f}) "
            f"ELSE ln(1.0 - par.u_{f}) END"
            for f in EM_FIELDS
        )
        parts.append(
            f"""e{i} AS (
  SELECT f.*, 1.0 / (1.0 + exp(
      (ln(1.0 - par.p) + {lu}) - (ln(par.p) + {lm}))) AS w
  FROM flags f, par{i - 1} par
)"""
        )
        sums = ", ".join(
            f"sum(CASE WHEN {f}_agree THEN w ELSE 0.0 END) AS mw_{f}, "
            f"sum(CASE WHEN {f}_agree THEN 1.0 - w ELSE 0.0 END) AS uw_{f}"
            for f in EM_FIELDS
        )
        parts.append(
            f"s{i} AS (SELECT CAST(count(*) AS DOUBLE) AS n, sum(w) AS sw,"
            f" {sums} FROM e{i})"
        )
        upd = ", ".join(
            f"{rnd(clamp(f'mw_{f} / swc'))} AS m_{f}, "
            f"{rnd(clamp(f'uw_{f} / (n - swc)'))} AS u_{f}"
            for f in EM_FIELDS
        )
        parts.append(
            f"par{i} AS (SELECT {rnd(clamp('swc / n'))} AS p, {upd} "
            f"FROM (SELECT *, least(greatest(sw, 1e-6), n - 1e-6) AS swc "
            f"FROM s{i}))"
        )
    wts = ", ".join(
        f"CAST(floor(log2(m_{f} / u_{f}) * {EM_SCALE} + 0.5) AS BIGINT)"
        f" AS wa_{f}, "
        f"CAST(floor(log2((1.0 - m_{f}) / (1.0 - u_{f})) * {EM_SCALE}"
        f" + 0.5) AS BIGINT) AS wd_{f}"
        for f in EM_FIELDS
    )
    parts.append(f"wts AS (SELECT {wts} FROM par{EM_ITERS})")
    total = " + ".join(f"wa_{f}" for f in EM_FIELDS)
    score = " + ".join(
        f"CASE WHEN f.{f}_agree THEN w.wa_{f} ELSE w.wd_{f} END"
        for f in EM_FIELDS
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT probe_id, custkey, score FROM (
  SELECT f.probe_id, f.custkey, CAST({score} AS BIGINT) AS score
  FROM flags f, wts w
)
WHERE score >= (SELECT CAST(floor(({total}) / 2.0) AS BIGINT) FROM wts)
"""
    )


ORACLE_FS_LEARNED = _oracle_fs_learned()


# ---- Jaro-Winkler comparator linkage (round 10) ----
#
# The comparator LADDER's missing rung: exact equality and
# edit-distance <= 1 (the records lane) bracket Jaro-Winkler — the
# Census-Bureau/Splink DEFAULT name comparator (Winkler 1990). The
# kernel (operators/strsim.py) matches DuckDB's
# jaro_winkler_similarity bit-for-bit (fuzz-pinned over 20k cases),
# and per-pair JW is a fixed sequential formula — no order-dependent
# float accumulation — so the threshold comparison needs no rounding
# grid. Threshold 0.95 probed at all 3 SFs: min |jw - 0.95| over every
# candidate pair = 1.852e-3 (lattice-adjacent value), >= 10^9 x any
# conceivable cross-engine drift. The UDF runs on blocked CANDIDATES
# only (never generation) — the documented Arrow seam where a
# deployment swaps in rapidfuzz.
JW_THRESHOLD = 0.95


def link_customer_jw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linkage with a Jaro-Winkler name comparator
    (operators/strsim.py:jaro_winkler_col >= 0.95) in place of the
    records lane's edit-distance comparator — same blocking, same
    hand weights, same threshold gate. Returns (probe_id, custkey,
    score, per-field agree flags)."""
    from ..operators.linkage import Comparator, fs_link
    from ..operators.strsim import jaro_winkler_col

    probe, master = _fs_frames(spark, sf_dir)
    comparators = [
        Comparator(
            "name",
            jaro_winkler_col(F.col("p_name"), F.col("m_name"))
            >= JW_THRESHOLD,
            *_FS_HAND_WEIGHTS["name"],
        ),
    ] + _fs_comparators(
        {f: w for f, w in _FS_HAND_WEIGHTS.items() if f != "name"}
    )
    out = fs_link(
        probe,
        master,
        "probe_id",
        "custkey",
        blocking=_fs_blocking(),
        comparators=comparators,
        threshold=FS_THRESHOLD,
    )
    return out.select(
        "probe_id", "custkey", "score",
        "name_agree", "phone_agree", "acct_agree", "seg_agree",
    )


ORACLE_FS_JW = f"""
WITH {_FS_BASE_CTES},
scored AS (
  SELECT c.probe_id, c.custkey,
         (CASE WHEN jaro_winkler_similarity(p.name, m.name)
                    >= {JW_THRESHOLD} THEN 40 ELSE -25 END
        + CASE WHEN p.phone = m.phone THEN 30 ELSE -15 END
        + CASE WHEN abs(p.acct_cents - m.acct_cents) <= 100 THEN 15 ELSE -10 END
        + CASE WHEN p.segment = m.segment THEN 10 ELSE -10 END)::BIGINT
           AS score,
         jaro_winkler_similarity(p.name, m.name) >= {JW_THRESHOLD}
           AS name_agree,
         p.phone = m.phone AS phone_agree,
         abs(p.acct_cents - m.acct_cents) <= 100 AS acct_agree,
         p.segment = m.segment AS seg_agree
  FROM cand c
  JOIN probe p ON p.probe_id = c.probe_id
  JOIN master m ON m.custkey = c.custkey
)
SELECT * FROM scored WHERE score >= {FS_THRESHOLD}
"""


# ---- phonetic-blocking linkage (round 10) ----
#
# The phonetic rung of the blocking-key catalogue (Christen, *Data
# Matching* 2012 §4.3; the functions/phonetic.py Soundex-lite spec):
# a dirty PRODUCT FEED matched against the part master. Probe names
# carry a NON-INITIAL vowel rotation (a->e->i->o->u->a on every
# character past each word's first) — lexically far (edit distance ~
# a third of the name) but phonetically INVARIANT, the exact failure
# mode suffix/prefix blocking keys can't survive. Non-initial is the
# operative word: the key keeps the literal first letter (the classic
# Soundex design choice, justified by errors clustering AFTER the
# first character — Christen 2012 §4.3), so an initial-letter edit
# legitimately changes the key. Every
# 7th probe is corrupted (first word reversed, unknown brand) so the
# score gate, not just blocking, decides. Complementary passes:
# (phonetic(word1), brand) catches intact-brand probes;
# (phonetic(word2), type, size) catches brand-corrupted rows — whose
# reversed first word then FAILS the phon1 comparator (max 40 < 55).
# Size-drifted probes (+1 for partkey%3==0) miss pass 2's exact-size
# key but survive pass 1 — the multi-pass recall story, measured.
PHON_FS_THRESHOLD = 55
_PHON_FS_WEIGHTS = {
    "phon1": (20, -15),
    "phon2": (25, -20),
    "size": (15, -10),
    "price": (15, -10),
}


def _phon_frames(spark: SparkSession, sf_dir: str):
    from ..functions.phonetic import phonetic_key

    part = t(spark, sf_dir, "part")
    price_cents = F.round(F.col("p_retailprice") * 100, 0).cast("long")
    master = (
        part.select(
            F.col("p_partkey").alias("partkey"),
            F.col("p_name").alias("name"),
            F.col("p_brand").alias("brand"),
            F.col("p_type").alias("type"),
            F.col("p_size").alias("size"),
            price_cents.alias("price_cents"),
        )
        .withColumn("phon1", phonetic_key(F.split(F.col("name"), " ")[0]))
        .withColumn("phon2", phonetic_key(F.split(F.col("name"), " ")[1]))
        .drop("name")
    )
    corrupt = F.col("p_partkey") % 7 == 0
    w1 = F.split(F.col("p_name"), " ")[0]
    w2 = F.split(F.col("p_name"), " ")[1]

    def rot_tail(w):  # rotate vowels past each word's first character
        return F.concat(
            F.substring(w, 1, 1),
            F.translate(F.substring(w, 2, 64), "aeiou", "eioua"),
        )

    probe = (
        part.select(
            F.col("p_partkey").alias("probe_id"),
            F.when(corrupt, F.concat(F.reverse(w1), F.lit(" "), w2))
            .otherwise(
                F.concat(rot_tail(w1), F.lit(" "), rot_tail(w2))
            )
            .alias("name"),
            F.when(corrupt, F.lit("Brand#99"))
            .otherwise(F.col("p_brand"))
            .alias("brand"),
            F.col("p_type").alias("type"),
            (
                F.col("p_size")
                + F.when(F.col("p_partkey") % 3 == 0, 1).otherwise(0)
            ).alias("size"),
            (
                price_cents
                + F.when(F.col("p_partkey") % 5 == 0, 37).otherwise(0)
            ).alias("price_cents"),
        )
        .withColumn("phon1", phonetic_key(F.split(F.col("name"), " ")[0]))
        .withColumn("phon2", phonetic_key(F.split(F.col("name"), " ")[1]))
        .drop("name")
    )
    # The Soundex-lite key expands to a ~40-deep nested string
    # expression; fs_link references each frame in every blocking pass
    # AND the scoring re-join, so without materialization the key is
    # recomputed on ~8 scans of part (plus once more inside each
    # join-key null filter). The frames are narrow (7 scalar cols), so
    # one lazy localCheckpoint each computes the keys exactly once —
    # r14: 3.7-4.4 s -> 1.7-1.9 s interleaved A/B on
    # link_part_phonetic at sf0.1 (guide §8 proxy pattern; an explicit
    # broadcast hint on top measured no further gain)
    return (
        probe.transform(cut_lineage),
        master.transform(cut_lineage),
    )


def _phon_blocking():
    return [
        (
            F.concat(F.col("p_phon1"), F.lit("|"), F.col("p_brand")),
            F.concat(F.col("m_phon1"), F.lit("|"), F.col("m_brand")),
        ),
        (
            F.concat(
                F.col("p_phon2"), F.lit("|"), F.col("p_type"), F.lit("|"),
                F.col("p_size").cast("string"),
            ),
            F.concat(
                F.col("m_phon2"), F.lit("|"), F.col("m_type"), F.lit("|"),
                F.col("m_size").cast("string"),
            ),
        ),
    ]


def _phon_comparators():
    from ..operators.linkage import Comparator

    return [
        Comparator(
            "phon1", F.col("p_phon1") == F.col("m_phon1"),
            *_PHON_FS_WEIGHTS["phon1"],
        ),
        Comparator(
            "phon2", F.col("p_phon2") == F.col("m_phon2"),
            *_PHON_FS_WEIGHTS["phon2"],
        ),
        Comparator(
            "size", F.abs(F.col("p_size") - F.col("m_size")) <= 1,
            *_PHON_FS_WEIGHTS["size"],
        ),
        Comparator(
            "price",
            F.abs(F.col("p_price_cents") - F.col("m_price_cents")) <= 100,
            *_PHON_FS_WEIGHTS["price"],
        ),
    ]


def link_part_phonetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter linkage with PHONETIC blocking and comparators
    (functions/phonetic.py + operators/linkage.py): vowel-rotated
    part names block and score through their Soundex-lite keys — both
    passes are pure equi-joins on map-side string expressions (JVM
    codegen, no UDF). Returns (probe_id, partkey, score, per-field
    agree flags)."""
    from ..operators.linkage import fs_link

    probe, master = _phon_frames(spark, sf_dir)
    out = fs_link(
        probe,
        master,
        "probe_id",
        "partkey",
        blocking=_phon_blocking(),
        comparators=_phon_comparators(),
        threshold=PHON_FS_THRESHOLD,
    )
    return out.select(
        "probe_id", "partkey", "score",
        "phon1_agree", "phon2_agree", "size_agree", "price_agree",
    )


def _phon_oracle(cap: int | None = None) -> str:
    """DuckDB twin: the phonetic key expands from the SAME generator
    (functions/phonetic.py:phonetic_key_sql), computed ONCE per frame
    column; blocking and scoring then ride plain equalities.

    ``cap`` replays fs_link's ``max_block_pairs`` skew valve exactly:
    per pass, a block census (probe count x master count per key,
    inner-joined — a key absent on either side produces no pairs
    anyway) marks keys whose cross product exceeds the cap, and that
    pass's candidates exclude probes in hot keys via NOT EXISTS — the
    same drop-from-generation-only semantics (scoring still sees full
    rows; a pair also caught by the complementary pass still scores)."""
    from ..functions.phonetic import phonetic_key_sql

    agree = {
        "phon1": "p.phon1 = m.phon1",
        "phon2": "p.phon2 = m.phon2",
        "size": "abs(p.size - m.size) <= 1",
        "price": "abs(p.price_cents - m.price_cents) <= 100",
    }
    score = " + ".join(
        f"CASE WHEN {agree[f]} THEN {wa} ELSE {wd} END"
        for f, (wa, wd) in _PHON_FS_WEIGHTS.items()
    )
    flags = ",\n         ".join(
        f"{agree[f]} AS {f}_agree" for f in _PHON_FS_WEIGHTS
    )
    hot_ctes = ""
    w1 = w2 = ""
    if cap is not None:
        hot_ctes = f"""
hot1 AS (
  SELECT pc.phon1, pc.brand
  FROM (SELECT phon1, brand, count(*) AS np FROM probe GROUP BY 1, 2) pc
  JOIN (SELECT phon1, brand, count(*) AS nm FROM master GROUP BY 1, 2) mc
    ON pc.phon1 = mc.phon1 AND pc.brand = mc.brand
  WHERE pc.np * mc.nm > {cap}
),
hot2 AS (
  SELECT pc.phon2, pc.type, pc.size
  FROM (SELECT phon2, type, size, count(*) AS np
        FROM probe GROUP BY 1, 2, 3) pc
  JOIN (SELECT phon2, type, size, count(*) AS nm
        FROM master GROUP BY 1, 2, 3) mc
    ON pc.phon2 = mc.phon2 AND pc.type = mc.type AND pc.size = mc.size
  WHERE pc.np * mc.nm > {cap}
),"""
        w1 = (
            "\n  WHERE NOT EXISTS (SELECT 1 FROM hot1 h"
            " WHERE h.phon1 = p.phon1 AND h.brand = p.brand)"
        )
        w2 = (
            "\n  WHERE NOT EXISTS (SELECT 1 FROM hot2 h"
            " WHERE h.phon2 = p.phon2 AND h.type = p.type"
            " AND h.size = p.size)"
        )
    return f"""
WITH master AS (
  SELECT p_partkey AS partkey, p_brand AS brand, p_type AS type,
         p_size AS size,
         CAST(round(p_retailprice * 100, 0) AS BIGINT) AS price_cents,
         {phonetic_key_sql("split_part(p_name, ' ', 1)")} AS phon1,
         {phonetic_key_sql("split_part(p_name, ' ', 2)")} AS phon2
  FROM part
),
probe0 AS (
  SELECT p_partkey AS probe_id,
         CASE WHEN p_partkey % 7 = 0
              THEN reverse(split_part(p_name, ' ', 1)) || ' '
                   || split_part(p_name, ' ', 2)
              ELSE substring(split_part(p_name, ' ', 1), 1, 1)
                   || translate(substring(split_part(p_name, ' ', 1), 2, 64),
                                'aeiou', 'eioua')
                   || ' '
                   || substring(split_part(p_name, ' ', 2), 1, 1)
                   || translate(substring(split_part(p_name, ' ', 2), 2, 64),
                                'aeiou', 'eioua')
              END AS name,
         CASE WHEN p_partkey % 7 = 0 THEN 'Brand#99' ELSE p_brand END
           AS brand,
         p_type AS type,
         p_size + CASE WHEN p_partkey % 3 = 0 THEN 1 ELSE 0 END AS size,
         CAST(round(p_retailprice * 100, 0) AS BIGINT)
           + CASE WHEN p_partkey % 5 = 0 THEN 37 ELSE 0 END AS price_cents
  FROM part
),
probe AS (
  SELECT probe_id, brand, type, size, price_cents,
         {phonetic_key_sql("split_part(name, ' ', 1)")} AS phon1,
         {phonetic_key_sql("split_part(name, ' ', 2)")} AS phon2
  FROM probe0
),{hot_ctes}
cand AS (
  SELECT DISTINCT p.probe_id, m.partkey
  FROM probe p JOIN master m
    ON p.phon1 = m.phon1 AND p.brand = m.brand{w1}
  UNION
  SELECT DISTINCT p.probe_id, m.partkey
  FROM probe p JOIN master m
    ON p.phon2 = m.phon2 AND p.type = m.type AND p.size = m.size{w2}
),
scored AS (
  SELECT c.probe_id, c.partkey,
         CAST({score} AS BIGINT) AS score,
         {flags}
  FROM cand c
  JOIN probe p ON p.probe_id = c.probe_id
  JOIN master m ON m.partkey = c.partkey
)
SELECT * FROM scored WHERE score >= {PHON_FS_THRESHOLD}
"""


ORACLE_PHON_LINK = _phon_oracle()


# ---- phonetic linkage under the skew valve (round 11) ----
#
# The 100 TB posture of max_block_pairs, DECLARED (round-10 verdict
# item 1): the phonetic fixture is the natural degenerate-vocabulary
# host — Soundex-lite keys collapse the ~90-word part vocabulary so
# pass-1 (phon1 x brand) blocks carry a measured 256-pair hot tail at
# sf0.01 and ~13k-pair blocks at sf0.1 (exactly the degenerate-key
# regime the valve exists for; Splink's blocking-rule guidance bans
# such rules outright). Cap = 200 drops the hot tail from candidate
# GENERATION only: a pair also caught by the complementary
# (phon2, type, size) pass still scores on full rows, and nothing
# emitted is ever wrong — the oracle replays the identical census +
# HAVING, so the valve's exact semantics ride the correctness gate
# instead of living only in tests/experiments.
PHON_BLOCK_CAP = 200


def link_part_phonetic_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """link_part_phonetic with the max_block_pairs=PHON_BLOCK_CAP skew
    valve engaged (operators/linkage.py:fs_link / _hot_blocks). Same
    output contract; blocks whose probe x master cross product exceeds
    the cap are dropped per pass before the candidate join."""
    from ..operators.linkage import fs_link

    probe, master = _phon_frames(spark, sf_dir)
    out = fs_link(
        probe,
        master,
        "probe_id",
        "partkey",
        blocking=_phon_blocking(),
        comparators=_phon_comparators(),
        threshold=PHON_FS_THRESHOLD,
        max_block_pairs=PHON_BLOCK_CAP,
    )
    return out.select(
        "probe_id", "partkey", "score",
        "phon1_agree", "phon2_agree", "size_agree", "price_agree",
    )


ORACLE_PHON_LINK_CAPPED = _phon_oracle(cap=PHON_BLOCK_CAP)


def link_block_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The blocking-rule census DECLARED (operators/linkage.py:
    block_census — Splink's blocking-rule analysis step): per pass and
    block key of the phonetic fixture, probe count x master count =
    candidate pair mass. This is the number a caller reads before
    picking max_block_pairs; integers, hash-exact. Returns (pass_idx,
    block_key, n_probe, n_master, pairs)."""
    from ..operators.linkage import block_census

    probe, master = _phon_frames(spark, sf_dir)
    return block_census(
        probe, master, "probe_id", "partkey", blocking=_phon_blocking()
    )


def _census_oracle() -> str:
    from ..functions.phonetic import phonetic_key_sql  # noqa: F401

    base = _phon_oracle()
    # reuse the phonetic oracle's master/probe CTEs verbatim (everything
    # up to the cand CTE), then census both passes
    head = base.split(",\ncand AS")[0]
    return f"""{head}
,
c0 AS (
  SELECT 0 AS pass_idx, p.block_key, p.n_probe, m.n_master
  FROM (SELECT phon1 || '|' || brand AS block_key, count(*) AS n_probe
        FROM probe GROUP BY 1) p
  JOIN (SELECT phon1 || '|' || brand AS block_key, count(*) AS n_master
        FROM master GROUP BY 1) m USING (block_key)
),
c1 AS (
  SELECT 1 AS pass_idx, p.block_key, p.n_probe, m.n_master
  FROM (SELECT phon2 || '|' || type || '|' || CAST(size AS VARCHAR)
               AS block_key, count(*) AS n_probe
        FROM probe GROUP BY 1) p
  JOIN (SELECT phon2 || '|' || type || '|' || CAST(size AS VARCHAR)
               AS block_key, count(*) AS n_master
        FROM master GROUP BY 1) m USING (block_key)
)
SELECT CAST(pass_idx AS INT) AS pass_idx, block_key,
       CAST(n_probe AS BIGINT) AS n_probe,
       CAST(n_master AS BIGINT) AS n_master,
       CAST(n_probe * n_master AS BIGINT) AS pairs
FROM (SELECT * FROM c0 UNION ALL SELECT * FROM c1)
"""


ORACLE_BLOCK_CENSUS = _census_oracle()


# ---- term-frequency-adjusted linkage (round 11) ----
#
# Splink's term_frequency_adjustments, the remaining production-
# linkage feature: agreement on a COMMON value is weak evidence,
# agreement on a RARE one is strong — the u-probability of the phon1
# comparator varies per value, so its agreement weight becomes
# round(4 * log2(n_master / tf), 2) where tf = master frequency of the
# matched phonetic key (Fellegi-Sunter 1969 §5; Winkler's
# value-specific weights). The degenerate-vocabulary phonetic fixture
# is the natural host: tf spans two orders of magnitude across keys.
#
# Float protocol (probed this round at 3 SFs before shipping, the
# round-3 convention): the 2dp rounding grid margin of 4*log2(n/tf)
# is >= 0.042 grid units (>= 4.2e-4 absolute, ~1e10 x libm drift);
# score = ONE grid double + three exact-integer-valued doubles summed
# in a fixed expression order (bit-deterministic); threshold 55.0
# sits in the bimodal gap with min |score - T| >= 10.4 / 11.58 / 11.84
# at sf0.001/0.01/0.1. Matches: 173 / 1,725 / 17,789.
PHON_TF_THRESHOLD = 55.0
PHON_TF_SCALE = 4


def link_part_phonetic_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-adjusted phonetic linkage (operators/linkage.py:fs_link with
    a Column-weight comparator): phon1 agreement evidence scales with
    the rarity of the matched key; phon2/size/price keep their fixed
    weights. Returns (probe_id, partkey, score, tf_phon1, per-field
    agree flags)."""
    from ..operators.linkage import Comparator, fs_link

    probe, master = _phon_frames(spark, sf_dir)
    tf = master.groupBy("phon1").agg(F.count(F.lit(1)).alias("tf"))
    tf = tf.withColumn(
        "nm", F.sum("tf").over(W.partitionBy(F.lit(1)))
    )
    master2 = master.join(F.broadcast(tf), "phon1")
    tf_w = F.round(
        F.lit(float(PHON_TF_SCALE))
        * F.log2(F.col("m_nm") / F.col("m_tf")),
        2,
    )
    comps = [
        Comparator(
            "phon1",
            F.col("p_phon1") == F.col("m_phon1"),
            tf_w,
            F.lit(-15.0),
        ),
        Comparator(
            "phon2", F.col("p_phon2") == F.col("m_phon2"), F.lit(25.0),
            F.lit(-20.0),
        ),
        Comparator(
            "size", F.abs(F.col("p_size") - F.col("m_size")) <= 1,
            F.lit(15.0), F.lit(-10.0),
        ),
        Comparator(
            "price",
            F.abs(F.col("p_price_cents") - F.col("m_price_cents")) <= 100,
            F.lit(15.0), F.lit(-10.0),
        ),
    ]
    out = fs_link(
        probe,
        master2,
        "probe_id",
        "partkey",
        blocking=_phon_blocking(),
        comparators=comps,
        threshold=PHON_TF_THRESHOLD,
        score_type="double",
    )
    # re-attach the tf that scored (from the master side of the pair)
    m_tf = master2.select(
        F.col("partkey"), F.col("tf").alias("tf_phon1")
    )
    return out.join(m_tf, "partkey").select(
        "probe_id", "partkey",
        (F.col("score") + F.lit(0.0)).alias("score"),
        F.col("tf_phon1").cast("long").alias("tf_phon1"),
        "phon1_agree", "phon2_agree", "size_agree", "price_agree",
    )


def _phon_tf_oracle() -> str:
    head = _phon_oracle().split(",\ncand AS")[0]
    return f"""{head},
tf AS (
  SELECT phon1, count(*) AS tf,
         CAST(sum(count(*)) OVER () AS BIGINT) AS nm
  FROM master GROUP BY phon1
),
cand AS (
  SELECT DISTINCT p.probe_id, m.partkey
  FROM probe p JOIN master m
    ON p.phon1 = m.phon1 AND p.brand = m.brand
  UNION
  SELECT DISTINCT p.probe_id, m.partkey
  FROM probe p JOIN master m
    ON p.phon2 = m.phon2 AND p.type = m.type AND p.size = m.size
),
scored AS (
  SELECT c.probe_id, c.partkey,
         (CASE WHEN p.phon1 = m.phon1
               THEN round({PHON_TF_SCALE} * log2(t.nm / t.tf), 2)
               ELSE -15.0 END
        + CASE WHEN p.phon2 = m.phon2 THEN 25.0 ELSE -20.0 END
        + CASE WHEN abs(p.size - m.size) <= 1 THEN 15.0 ELSE -10.0 END
        + CASE WHEN abs(p.price_cents - m.price_cents) <= 100
               THEN 15.0 ELSE -10.0 END) AS score,
         CAST(t.tf AS BIGINT) AS tf_phon1,
         p.phon1 = m.phon1 AS phon1_agree,
         p.phon2 = m.phon2 AS phon2_agree,
         abs(p.size - m.size) <= 1 AS size_agree,
         abs(p.price_cents - m.price_cents) <= 100 AS price_agree
  FROM cand c
  JOIN probe p ON p.probe_id = c.probe_id
  JOIN master m ON m.partkey = c.partkey
  JOIN tf t ON t.phon1 = m.phon1
)
SELECT probe_id, partkey, score + 0.0 AS score, tf_phon1,
       phon1_agree, phon2_agree, size_agree, price_agree
FROM scored WHERE score >= {PHON_TF_THRESHOLD}
"""


ORACLE_PHON_TF = _phon_tf_oracle()


# ---- linkage evaluation metrics (round 11) ----
#
# Splink's model-QA step: score the one-to-one resolution against
# ground truth. The fixture's truth is BUILT IN (probe i is customer
# i corrupted), so the confusion counts are exact integers and
# precision/recall/f1 are single fixed-order IEEE expressions over
# ratios of identical integers — bit-identical, guarded CASE for the
# empty edge. One count-aggregation over the best-match output; no
# extra scan beyond the linkage itself.


def link_eval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision / recall / F1 of link_customer_best against the
    fixture's identity ground truth. Returns one row: (n_truth,
    n_pred, tp, fp, precision, recall, f1)."""
    best = link_customer_best(spark, sf_dir)
    n_truth = t(spark, sf_dir, "customer").count()  # tiny dim count
    m = best.agg(
        F.count(F.lit(1)).alias("n_pred"),
        F.sum(
            F.when(F.col("probe_id") == F.col("custkey"), 1).otherwise(0)
        ).alias("tp"),
    )
    prec = F.when(
        F.col("n_pred") > 0, F.col("tp") / F.col("n_pred")
    ).otherwise(F.lit(None).cast("double"))
    rec = F.col("tp") / F.lit(n_truth)
    f1 = F.when(
        (F.col("precision") + F.col("recall")) > 0,
        F.lit(2.0) * F.col("precision") * F.col("recall")
        / (F.col("precision") + F.col("recall")),
    ).otherwise(F.lit(None).cast("double"))
    return (
        m.select(
            F.lit(n_truth).cast("long").alias("n_truth"),
            "n_pred",
            "tp",
            (F.col("n_pred") - F.col("tp")).alias("fp"),
            prec.alias("precision"),
            rec.alias("recall"),
        )
        .withColumn("f1", f1)
    )


ORACLE_LINK_EVAL = f"""
WITH best AS ({ORACLE_FS_BEST}),
m AS (
  SELECT (SELECT count(*) FROM customer) AS n_truth,
         CAST(count(*) AS BIGINT) AS n_pred,
         CAST(sum(CASE WHEN probe_id = custkey THEN 1 ELSE 0 END)
              AS BIGINT) AS tp
  FROM best
)
SELECT CAST(n_truth AS BIGINT) AS n_truth, n_pred, tp,
       n_pred - tp AS fp,
       CASE WHEN n_pred > 0 THEN tp / n_pred END AS precision,
       tp / n_truth AS recall,
       CASE WHEN (CASE WHEN n_pred > 0 THEN tp / n_pred END
                  + tp / n_truth) > 0
            THEN 2.0 * (CASE WHEN n_pred > 0 THEN tp / n_pred END)
                 * (tp / n_truth)
                 / ((CASE WHEN n_pred > 0 THEN tp / n_pred END)
                    + tp / n_truth)
       END AS f1
FROM m
"""


# ---- transitive entity clustering over linkage matches (round 10) ----
#
# The Splink `cluster_pairwise_predictions_at_threshold` step: pairwise
# match decisions become ENTITIES via connected components, so a probe
# matching two masters merges them into one entity (the transitive
# semantics every MDM / householding pipeline wants, and the step the
# one-to-one best-match lane deliberately does NOT take). Probe and
# master keyspaces overlap (both are custkey integers), so probe nodes
# shift by LINK_PROBE_OFFSET into a disjoint namespace; unmatched rows
# of BOTH sides come back as singletons through the CC node list.
# Scale shape: matches are the blocked+scored fs_link output (never
# all-pairs); CC is the shared O(log diameter) pointer-halving
# operator whose shuffles carry only id pairs. TPC-H custkey tops out
# at 150_000 * SF, so the offset holds through SF < ~6.7; the lane
# GUARDS the invariant with a one-agg census (below) instead of
# silently colliding probe node ids with master custkeys at larger SFs
# (round-10 ADVICE item 1).
LINK_PROBE_OFFSET = 1_000_000


def _assert_probe_offset_disjoint(master: DataFrame) -> None:
    """Raise if the master keyspace reaches LINK_PROBE_OFFSET (probe
    nodes would collide with master custkeys and merges would be
    silently wrong). One partial-agg scan of the dim-sized master
    frame — the cheap price of a loud failure instead of corruption."""
    mx = master.agg(F.max("custkey").alias("mx")).collect()[0]["mx"]
    if mx is not None and mx >= LINK_PROBE_OFFSET:
        raise ValueError(
            f"link_entity_clusters: max master custkey {mx} >= "
            f"LINK_PROBE_OFFSET {LINK_PROBE_OFFSET}; probe node ids "
            "would collide — raise the offset (and its oracle twin) "
            "above the master keyspace"
        )


def _entity_labels(probe: DataFrame, master: DataFrame) -> DataFrame:
    """The shared entity-resolution chain (fs_link ->
    label_propagation -> labeled nodes) over ALREADY-BUILT probe and
    master frames — factored out (r14) so link_entity_golden can feed
    the SAME pair of frames to both the clustering chain and its
    attribute rows instead of deriving the dirty-record synthesis
    twice. Callers pass lazy localCheckpoints: fs_link references each
    frame three times (two blocking passes + the scoring re-join), so
    the synthesis expressions materialize once (guide §8; measured
    interleaved A/B at sf0.1: link_entity_golden med 2.29 -> 1.77 s,
    link_entity_clusters 1.90 -> 1.70 s, outputs row-identical)."""
    from ..operators.dedup import label_propagation
    from ..operators.linkage import fs_link

    _assert_probe_offset_disjoint(master)
    matches = fs_link(
        probe,
        master,
        "probe_id",
        "custkey",
        blocking=_fs_blocking(),
        comparators=_fs_comparators(_FS_HAND_WEIGHTS),
        threshold=FS_THRESHOLD,
    )
    pairs = matches.select(
        (F.col("probe_id") + LINK_PROBE_OFFSET).alias("doc_a"),
        F.col("custkey").alias("doc_b"),
    )
    nodes = (
        probe.select(
            (F.col("probe_id") + LINK_PROBE_OFFSET).alias("node")
        )
        .unionByName(master.select(F.col("custkey").alias("node")))
    )
    labels = label_propagation(pairs, nodes)
    return labels.select(
        "node",
        F.col("label").alias("entity_rep"),
        F.when(F.col("node") >= LINK_PROBE_OFFSET, F.lit("probe"))
        .otherwise(F.lit("master"))
        .alias("kind"),
    )


def link_entity_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution end-to-end (operators/linkage.py:fs_link ->
    operators/dedup.py:label_propagation): hand-weighted linkage
    matches clustered into transitive entities. Returns (node,
    entity_rep, kind) covering every probe and master row; the oracle
    checks the fixpoint against an exact recursive-CTE closure."""
    probe, master = _fs_frames(spark, sf_dir)
    return _entity_labels(
        probe.transform(cut_lineage),
        master.transform(cut_lineage),
    )


# entity-closure CTE chain shared by the cluster lane and the golden-
# record lane (round 11): identical blocked+scored matches, identical
# exact recursive-CTE transitive closure, identical labeling
_ENTITY_CTES = f"""{_FS_BASE_CTES},
scored AS (
  SELECT c.probe_id, c.custkey,
         (CASE WHEN levenshtein(p.name, m.name) <= 1 THEN 40 ELSE -25 END
        + CASE WHEN p.phone = m.phone THEN 30 ELSE -15 END
        + CASE WHEN abs(p.acct_cents - m.acct_cents) <= 100 THEN 15 ELSE -10 END
        + CASE WHEN p.segment = m.segment THEN 10 ELSE -10 END)::BIGINT
           AS score
  FROM cand c
  JOIN probe p ON p.probe_id = c.probe_id
  JOIN master m ON m.custkey = c.custkey
),
m0 AS (
  SELECT probe_id + {LINK_PROBE_OFFSET} AS a, custkey AS b
  FROM scored WHERE score >= {FS_THRESHOLD}
),
edges AS (
  SELECT a AS u, b AS v FROM m0
  UNION
  SELECT b AS u, a AS v FROM m0
),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
),
allnodes AS (
  SELECT probe_id + {LINK_PROBE_OFFSET} AS node FROM probe
  UNION ALL
  SELECT custkey AS node FROM master
),
labels AS (
  SELECT n.node,
         least(n.node, coalesce(mm.mv, n.node)) AS entity_rep,
         CASE WHEN n.node >= {LINK_PROBE_OFFSET} THEN 'probe'
              ELSE 'master' END AS kind
  FROM allnodes n
  LEFT JOIN (SELECT u, min(v) AS mv FROM reach GROUP BY u) mm
    ON mm.u = n.node
)"""

ORACLE_ENTITY_CLUSTERS = f"""
WITH RECURSIVE {_ENTITY_CTES}
SELECT node, entity_rep, kind FROM labels
"""


# ---- golden-record canonicalization (round 11) ----
#
# Splink's step AFTER clustering (round-10 verdict item 5): each
# transitive entity collapses to ONE canonical record by deterministic
# source precedence — master rows outrank probe rows (the system of
# record wins over dirty feeds), ties broken by lowest node id; a
# probe-only singleton canonicalizes to itself. This completes the
# linkage workflow: blocking -> comparators -> (EM) weights -> scoring
# -> clustering -> MERGE.
#
# Scale shape: one groupBy over the cluster assignment joined to the
# member attribute rows — min(struct(precedence, node, attrs)) is a
# partial-aggregable argmin (the (precedence, node) prefix is UNIQUE
# per member, so the string attributes never decide the comparison and
# both engines pick the identical row); counts ride the same agg. No
# window, no second shuffle beyond the entity key.


def link_entity_golden(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden records over link_entity_clusters: per entity, member
    counts by kind plus the canonical attributes resolved by
    (master-first, lowest-node) precedence. Returns (entity_rep,
    n_members, n_probe, n_master, src_node, name, phone, segment,
    acct_cents)."""
    # ONE pair of checkpointed frames feeds both the clustering chain
    # and the attribute rows (see _entity_labels) — the old shape
    # called link_entity_clusters(), which re-derived probe/master
    # from scratch for the chain while this body derived them again
    # for attrs
    probe, master = _fs_frames(spark, sf_dir)
    probe = probe.transform(cut_lineage)
    master = master.transform(cut_lineage)
    attrs = probe.select(
        (F.col("probe_id") + LINK_PROBE_OFFSET).alias("node"),
        "name", "phone", "segment", "acct_cents",
    ).unionByName(
        master.select(
            F.col("custkey").alias("node"),
            "name", "phone", "segment", "acct_cents",
        )
    )
    members = _entity_labels(probe, master).join(attrs, "node")
    pick = F.min(
        F.struct(
            F.when(F.col("kind") == "master", F.lit(0))
            .otherwise(F.lit(1))
            .alias("prec"),
            F.col("node").alias("node"),
            F.col("name").alias("name"),
            F.col("phone").alias("phone"),
            F.col("segment").alias("segment"),
            F.col("acct_cents").alias("acct_cents"),
        )
    ).alias("g")
    return (
        members.groupBy("entity_rep")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum((F.col("kind") == "probe").cast("long")).alias("n_probe"),
            F.sum((F.col("kind") == "master").cast("long")).alias("n_master"),
            pick,
        )
        .select(
            "entity_rep", "n_members", "n_probe", "n_master",
            F.col("g.node").alias("src_node"),
            F.col("g.name").alias("name"),
            F.col("g.phone").alias("phone"),
            F.col("g.segment").alias("segment"),
            F.col("g.acct_cents").alias("acct_cents"),
        )
    )


ORACLE_ENTITY_GOLDEN = f"""
WITH RECURSIVE {_ENTITY_CTES},
attrs AS (
  SELECT probe_id + {LINK_PROBE_OFFSET} AS node,
         name, phone, segment, acct_cents
  FROM probe
  UNION ALL
  SELECT custkey AS node, name, phone, segment, acct_cents FROM master
),
members AS (
  SELECT l.node, l.entity_rep, l.kind,
         a.name, a.phone, a.segment, a.acct_cents
  FROM labels l JOIN attrs a ON a.node = l.node
),
ranked AS (
  SELECT *,
         row_number() OVER (
           PARTITION BY entity_rep
           ORDER BY CASE WHEN kind = 'master' THEN 0 ELSE 1 END, node
         ) AS rn
  FROM members
),
cnt AS (
  SELECT entity_rep, count(*) AS n_members,
         sum(CASE WHEN kind = 'probe' THEN 1 ELSE 0 END) AS n_probe,
         sum(CASE WHEN kind = 'master' THEN 1 ELSE 0 END) AS n_master
  FROM members GROUP BY entity_rep
)
SELECT c.entity_rep, CAST(c.n_members AS BIGINT) AS n_members,
       CAST(c.n_probe AS BIGINT) AS n_probe,
       CAST(c.n_master AS BIGINT) AS n_master,
       r.node AS src_node, r.name, r.phone, r.segment, r.acct_cents
FROM cnt c JOIN ranked r ON r.entity_rep = c.entity_rep AND r.rn = 1
"""


# ---- pseudonymization release (round 12) ----
#
# GDPR Art. 4(5) pseudonymization + generalization — the release
# transform that sits UPSTREAM of the dq_k_anonymity/dq_l_diversity
# gates: direct identifiers are replaced by a deterministic KEYED
# token — md5 over (secret key || ':' || name), the SPLIT_SALT
# pattern (selection.py:_md5_split). The key is GDPR Art. 4(5)'s
# "additional information kept separately": without it a dictionary
# attack over names cannot regenerate tokens (round-12 verdict item
# 2 — the unkeyed md5(name) form failed exactly that test; a
# production deployment holds the key in a secret store and prefers
# HMAC-SHA256, same plumbing). The quasi-identifying phone keeps only
# its last four digits, and the balance generalizes to a $100 band
# (Sweeney 2002's generalization move). Runs on the linkage fixture's
# PII-bearing probe frame (name/phone/balance — the same frame the
# re-identification lanes attack), so the privacy family carries
# attack (linkage), audit (k-anon/l-div census) AND defense (this
# lane). Pure map-side string/integer expressions — one scan, no
# shuffle; hash-exact.
PSEUDO_KEY = "pseudo-key-v1"  # test fixture key; secret-store in prod
_PSEUDO_HEX = 16  # token width (>12: collision head-room at corpus size)


def _pseudo_token(col: str, key: str):
    """Keyed token column: tokens under different keys are unrelated
    (pinned in tests/test_mining_guard.py). NULL-propagating concat
    (F.concat, matching the oracle's ``||``), NOT concat_ws — a
    concat_ws would silently drop a NULL name and emit the constant
    md5(key) token, diverging from the oracle and leaking the row
    into a shared pseudonym bucket (round-13 ADVICE)."""
    return F.concat(
        F.lit("u-"),
        F.substring(
            F.md5(F.concat(F.lit(key), F.lit(":"), F.col(col))),
            1,
            _PSEUDO_HEX,
        ),
    )


def dq_pseudonymize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pseudonymized release of the PII-bearing probe frame. Returns
    (token, phone_masked, acct_band, nation, segment)."""
    probe, _ = _fs_frames(spark, sf_dir)
    return probe.select(
        _pseudo_token("name", PSEUDO_KEY).alias("token"),
        F.concat(
            F.expr("repeat('*', length(phone) - 4)"),
            F.expr("right(phone, 4)"),
        ).alias("phone_masked"),
        (F.floor(F.col("acct_cents") / 10000) * 100)
        .cast("long")
        .alias("acct_band"),
        "nation",
        "segment",
    )


def _pseudonymize_oracle() -> str:
    # reuse the linkage oracle's probe CTE verbatim (the census-oracle
    # split pattern): everything up to the cand CTE, then the release
    head = ORACLE_FS_LINK.split(",\ncand AS")[0]
    return f"""{head}
SELECT 'u-' || substring(md5('{PSEUDO_KEY}' || ':' || name), 1,
                         {_PSEUDO_HEX}) AS token,
       repeat('*', length(phone) - 4) || right(phone, 4)
         AS phone_masked,
       CAST(floor(acct_cents / 10000) * 100 AS BIGINT) AS acct_band,
       nation, segment
FROM probe
"""


ORACLE_PSEUDONYMIZE = _pseudonymize_oracle()
