"""PQ search and diversity-selection lanes — split out of queries/selection.py in round 12
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

# ---- product-quantized ADC search (round 10) ----
#
# The compressed-scan rung of the vector ladder (operators/pq.py —
# FAISS's IVF-PQ design re-expressed Spark-first): codebooks are
# learned on a bounded ORDER-BY-id sample with deterministic Lloyd
# iterations (M-step means rounded half-away-from-zero on the
# PQ_DECIMALS grid, exactly the IVF quantizer's cross-engine landing
# convention), the corpus is encoded to PQ_M-byte codes map-side, and
# the query scans CODES (m bytes/row, ~64x less I/O than full
# vectors) through an ADC lookup table. The oracle re-derives the
# ENTIRE pipeline relationally — per-subspace Lloyd chain, encode
# argmin, ADC sum — the same house pattern as the IVF k-means CTEs.
PQ_M = 8
PQ_K = 16
PQ_ITERS = 2
PQ_SAMPLE_N = 256
PQ_DECIMALS = 6
PQ_TOPK = 10

_PQ_CACHE: dict[str, object] = {}


def _pq_model(spark: SparkSession, sf_dir: str):
    """Memoized deterministic PQ fit per corpus (the build/query split:
    codebooks are O(m*k*dsub) MODEL STATE, exactly like the IVF
    centroids)."""
    model = _PQ_CACHE.get(sf_dir)
    if model is None:
        from ..operators.pq import fit_pq

        model = fit_pq(
            _embeddings(spark, sf_dir),
            m=PQ_M,
            k=PQ_K,
            iters=PQ_ITERS,
            sample_n=PQ_SAMPLE_N,
            decimals=PQ_DECIMALS,
        )
        _PQ_CACHE[sf_dir] = model
    return model


def vector_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-k (operators/pq.py): fit codebooks
    on the lowest-{PQ_SAMPLE_N} vec_ids, encode every other vector to
    {PQ_M} one-byte codes (mapInPandas sub-GEMM, map-side only), then
    scan the CODES with the query's ADC lookup table — squared-L2 on
    unit vectors, distances rounded to 4 places before the top-k cut
    so summation-order drift can't move the k boundary. Returns
    (vec_id, adc_dist) ascending."""
    from .vector import QUERY_VEC_ID
    from ..operators.pq import encode_pq, pq_topk

    emb = _embeddings(spark, sf_dir)
    model = _pq_model(spark, sf_dir)
    codes = encode_pq(emb.filter(F.col("vec_id") != QUERY_VEC_ID), model)
    q = _query_vector(sf_dir, QUERY_VEC_ID)
    return pq_topk(codes, model, q, top_k=PQ_TOPK, decimals=4)


def _pq_oracle(
    m: int = PQ_M,
    k: int = PQ_K,
    iters: int = PQ_ITERS,
    dsub: int = 64 // PQ_M,
) -> str:
    """SQL twin of fit_pq + encode_pq + pq_topk, GENERATED for any
    Lloyd iteration count (the _ivf_assign_ctes pattern): unit-
    normalize, slice into subspaces, seed c0 from the first k sample
    rows per subspace, run `iters` (assign, rounded-mean) CTE pairs
    with empty slots KEEPING their previous centroid (fit_pq's
    convention — unlike the IVF chain, where empty cells drop), then
    encode the full corpus under the final codebooks and scan with the
    relational ADC sum."""
    from .vector import QUERY_VEC_ID

    d2 = (
        "list_dot_product(c.cv, c.cv)"
        " - 2 * list_dot_product(p.sv, c.cv)"
    )
    parts = [
        "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)",
        """u AS (
  SELECT vec_id,
         list_transform(v, x -> x / (CASE WHEN sqrt(list_dot_product(v, v)) = 0
                                          THEN 1.0
                                          ELSE sqrt(list_dot_product(v, v)) END)) AS uv
  FROM e
)""",
        f"""sub AS (
  SELECT u.vec_id, g.s AS s,
         list_slice(u.uv, g.s * {dsub} + 1, (g.s + 1) * {dsub}) AS sv
  FROM u, unnest(generate_series(0, {m - 1})) AS g(s)
)""",
        f"sampids AS (SELECT vec_id FROM e ORDER BY vec_id LIMIT {PQ_SAMPLE_N})",
        "samp AS (SELECT sub.* FROM sub JOIN sampids USING (vec_id))",
        f"""c0 AS (
  SELECT s, row_number() OVER (PARTITION BY s ORDER BY vec_id) - 1 AS cell,
         sv AS cv
  FROM samp
  QUALIFY row_number() OVER (PARTITION BY s ORDER BY vec_id) <= {k}
)""",
    ]
    for i in range(iters):
        parts.append(
            f"""s{i} AS (
  SELECT p.vec_id, p.s, c.cell,
         row_number() OVER (PARTITION BY p.vec_id, p.s
                            ORDER BY {d2} ASC, c.cell ASC) AS rn
  FROM samp p JOIN c{i} c ON c.s = p.s
)"""
        )
        parts.append(f"a{i} AS (SELECT vec_id, s, cell FROM s{i} WHERE rn = 1)")
        parts.append(
            f"""m{i + 1} AS (
  SELECT a.s, a.cell, g.i AS i, round(avg(p.sv[g.i]), {PQ_DECIMALS}) AS mv
  FROM a{i} a JOIN samp p ON p.vec_id = a.vec_id AND p.s = a.s,
       unnest(generate_series(1, {dsub})) AS g(i)
  GROUP BY a.s, a.cell, g.i
)"""
        )
        parts.append(
            f"""c{i + 1} AS (
  SELECT c.s, c.cell, coalesce(n.cv, c.cv) AS cv
  FROM c{i} c
  LEFT JOIN (SELECT s, cell, list(mv ORDER BY i) AS cv
             FROM m{i + 1} GROUP BY s, cell) n
    ON n.s = c.s AND n.cell = c.cell
)"""
        )
    parts.append(
        f"""enc AS (
  SELECT p.vec_id, p.s, c.cell,
         row_number() OVER (PARTITION BY p.vec_id, p.s
                            ORDER BY {d2} ASC, c.cell ASC) AS rn
  FROM sub p JOIN c{iters} c ON c.s = p.s
  WHERE p.vec_id <> {QUERY_VEC_ID}
)"""
    )
    parts.append("codes AS (SELECT vec_id, s, cell FROM enc WHERE rn = 1)")
    parts.append(
        f"q AS (SELECT s, sv AS qsv FROM sub WHERE vec_id = {QUERY_VEC_ID})"
    )
    parts.append(
        f"""dist AS (
  SELECT cd.vec_id,
         sum(list_dot_product(c.cv, c.cv)
             - 2 * list_dot_product(c.cv, q.qsv)
             + list_dot_product(q.qsv, q.qsv)) AS d
  FROM codes cd
  JOIN c{iters} c ON c.s = cd.s AND c.cell = cd.cell
  JOIN q ON q.s = cd.s
  GROUP BY cd.vec_id
)"""
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT vec_id, round(d, 4) + 0.0 AS adc_dist
FROM dist
ORDER BY adc_dist ASC, vec_id ASC
LIMIT {PQ_TOPK}"""
    )


ORACLE_PQ_ADC = _pq_oracle()


# ---- greedy k-center diversity selection (round 10) ----
KC_K = 8
KC_DECIMALS = 6


def select_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Farthest-first k-center selection (operators/coreset.py) over
    the embeddings corpus: {KC_K} maximally-diverse vectors, each
    annotated with its coverage (max cosine to the rows already
    chosen) at selection time. Returns (sel_rank, vec_id, coverage);
    the seed's coverage is NULL."""
    from ..operators.coreset import kcenter_select

    picks = kcenter_select(
        _embeddings(spark, sf_dir), KC_K, decimals=KC_DECIMALS
    )
    return spark.createDataFrame(
        picks, "sel_rank long, vec_id long, coverage double"
    )


def _kcenter_oracle(k: int = KC_K) -> str:
    """SQL twin: a generated chain of (coverage, pick) CTE pairs —
    d{j} folds the newest pick into the running max INCREMENTALLY
    (greatest of the previous rounded coverage and the new rounded
    cosine), which equals the Spark side's recompute-against-all
    because per-term rounding commutes with max. The zero-norm CASE
    mirrors the Spark side's _unit_rows convention (a zero vector
    unit-normalizes to all-zeros, so every cosine against it is
    exactly 0.0) instead of dividing by zero (round-10 ADVICE item 2)."""
    cos = (
        "CASE WHEN sqrt(list_dot_product(d.v, d.v))"
        " * sqrt(list_dot_product(p.v, p.v)) = 0 THEN 0.0"
        " ELSE list_dot_product(d.v, p.v)"
        " / (sqrt(list_dot_product(d.v, d.v))"
        " * sqrt(list_dot_product(p.v, p.v))) END"
    )
    parts = [
        "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)",
        "p1 AS (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 1)",
        f"""d1 AS (
  SELECT d.vec_id, d.v, round({cos}, {KC_DECIMALS}) AS cov
  FROM e d, p1 p WHERE d.vec_id <> p.vec_id
)""",
    ]
    for j in range(2, k + 1):
        parts.append(
            f"p{j} AS (SELECT vec_id, v, cov FROM d{j - 1}"
            f" ORDER BY cov ASC, vec_id ASC LIMIT 1)"
        )
        if j < k:
            parts.append(
                f"""d{j} AS (
  SELECT d.vec_id, d.v,
         greatest(d.cov, round({cos}, {KC_DECIMALS})) AS cov
  FROM d{j - 1} d, p{j} p WHERE d.vec_id <> p.vec_id
)"""
            )
    rows = [
        "SELECT 1 AS sel_rank, vec_id, CAST(NULL AS DOUBLE) AS coverage FROM p1"
    ] + [
        f"SELECT {j} AS sel_rank, vec_id, cov + 0.0 AS coverage FROM p{j}"
        for j in range(2, k + 1)
    ]
    return (
        "WITH "
        + ",\n".join(parts)
        + "\nSELECT CAST(sel_rank AS BIGINT) AS sel_rank, vec_id, coverage FROM ("
        + "\nUNION ALL\n".join(rows)
        + ")"
    )


ORACLE_KCENTER = _kcenter_oracle()


# ---- maximal marginal relevance selection (round 10) ----
#
# The relevance-AND-diversity dual of the k-center lane (Carbonell &
# Goldstein SIGIR 1998 — the retrieval-reranking default): seed =
# argmax relevance to the query, each later pick maximizes
# lam*rel - mu*maxsim. lam/mu are INDEPENDENT literals (1 - 0.7 is
# not the double 0.3); rel and every pairwise cosine round to 6dp
# first, so the score is two IEEE multiplies and a subtract over
# grid-identical doubles — bit-deterministic across engines, emitted
# RAW (no output rounding needed or wanted: identical bits by
# construction, and an extra round would only ADD a midpoint risk).
MMR_K = 8
MMR_LAM = 0.7
MMR_MU = 0.3


def search_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR selection (operators/coreset.py:mmr_select) of {MMR_K}
    results for the corpus query vector, balancing query relevance
    against redundancy with already-picked results. Returns
    (sel_rank, vec_id, relevance, mmr_score); the seed's score is
    NULL (no diversity penalty yet)."""
    from ..operators.coreset import mmr_select
    from .vector import QUERY_VEC_ID

    emb = _embeddings(spark, sf_dir).filter(
        F.col("vec_id") != QUERY_VEC_ID
    )
    picks = mmr_select(
        emb,
        _query_vector(sf_dir, QUERY_VEC_ID),
        MMR_K,
        lam=MMR_LAM,
        mu=MMR_MU,
        decimals=KC_DECIMALS,
    )
    return spark.createDataFrame(
        picks,
        "sel_rank long, vec_id long, relevance double, mmr_score double",
    )


def _mmr_oracle(k: int = MMR_K) -> str:
    """SQL twin: rel CTE once, then a generated (score/pick, fold)
    chain — ms folds each new pick's rounded cosine into the running
    max, valid because per-term rounding commutes with max."""
    from .vector import QUERY_VEC_ID

    def cos(a: str, b: str) -> str:
        # zero-norm guard mirrors _unit_rows: zero vector -> cosine 0.0
        # (round-10 ADVICE item 2), never a divide-by-zero
        return (
            f"CASE WHEN sqrt(list_dot_product({a}, {a}))"
            f" * sqrt(list_dot_product({b}, {b})) = 0 THEN 0.0"
            f" ELSE list_dot_product({a}, {b})"
            f" / (sqrt(list_dot_product({a}, {a}))"
            f" * sqrt(list_dot_product({b}, {b}))) END"
        )

    parts = [
        "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)",
        f"q AS (SELECT v AS qv FROM e WHERE vec_id = {QUERY_VEC_ID})",
        f"""rel AS (
  SELECT e.vec_id, e.v, round({cos("e.v", "q.qv")}, {KC_DECIMALS}) AS rel
  FROM e, q WHERE e.vec_id <> {QUERY_VEC_ID}
)""",
        "p1 AS (SELECT vec_id, v, rel FROM rel"
        " ORDER BY rel DESC, vec_id ASC LIMIT 1)",
        f"""d1 AS (
  SELECT r.vec_id, r.v, r.rel,
         round({cos("r.v", "p.v")}, {KC_DECIMALS}) AS ms
  FROM rel r, p1 p WHERE r.vec_id <> p.vec_id
)""",
    ]
    for j in range(2, k + 1):
        parts.append(
            f"p{j} AS (SELECT vec_id, v, rel,"
            f" {MMR_LAM} * rel - {MMR_MU} * ms AS score"
            f" FROM d{j - 1} ORDER BY score DESC, vec_id ASC LIMIT 1)"
        )
        if j < k:
            parts.append(
                f"""d{j} AS (
  SELECT d.vec_id, d.v, d.rel,
         greatest(d.ms, round({cos("d.v", "p.v")}, {KC_DECIMALS})) AS ms
  FROM d{j - 1} d, p{j} p WHERE d.vec_id <> p.vec_id
)"""
            )
    rows = [
        "SELECT 1 AS sel_rank, vec_id, rel AS relevance,"
        " CAST(NULL AS DOUBLE) AS mmr_score FROM p1"
    ] + [
        f"SELECT {j} AS sel_rank, vec_id, rel AS relevance,"
        f" score + 0.0 AS mmr_score FROM p{j}"
        for j in range(2, k + 1)
    ]
    return (
        "WITH "
        + ",\n".join(parts)
        + "\nSELECT CAST(sel_rank AS BIGINT) AS sel_rank, vec_id,"
        " relevance + 0.0 AS relevance, mmr_score FROM ("
        + "\nUNION ALL\n".join(rows)
        + ")"
    )


ORACLE_MMR = _mmr_oracle()


# ---- SemDeDup semantic pruning (round 12) ----
#
# SemDeDup (Abbas et al. 2023, arXiv 2303.09540 — the semantic-dedup
# recipe used on LAION/C4-scale corpora): cluster embeddings with the
# k-means quantizer, find within-cluster semantic duplicates above a
# cosine threshold, and KEEP the member FARTHEST from its cluster
# centroid (the paper's "low centroid-similarity" keep rule — the
# outlier carries the most marginal information), dropping the rest.
# This lane composes the existing machinery end-to-end: the shared
# Lloyd quantizer (queries/vector.py:_learned_centroids), the Arrow
# GEMM cell-pair kernel, CC min-label clustering — plus the keep-rule
# argmin via the partial-aggregable min(struct(...)) golden-record
# pattern (no window over cluster members).
#
# Cross-engine exactness: cos_c is the argmax value the assignment
# GEMM already computed (zero extra FLOPs, with_cosine=True); it
# rounds to 4dp on both engines before the argmin. Probed margins
# (protocol of round 3): min distance of cos_c*10^4 to a rounding
# half-boundary = 6.5e-6 grid units at sf0.1 (1.7e-3 / 1.8e-3 at the
# smaller SFs) — 8+ orders above the ~1e-14 numpy-vs-DuckDB
# summation-order drift; distinct rounded values inside a cluster
# differ by >= 1e-4; rounded ties break on vec_id identically.
#
# Scale shape: assignment linear (one GEMM per Arrow batch); pairs
# per-cell bucketed (never all-pairs, k is the boundedness knob); the
# keep decision is ONE partial-agg on the cluster key.


def dedup_semantic_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the embeddings corpus. Returns (vec_id,
    cluster_rep, centroid_cosine, keep) — keep is true for exactly
    one member per semantic-duplicate cluster (the farthest from its
    quantizer centroid; singletons keep themselves)."""
    from ..operators.dedup import label_propagation
    from ..operators.vector_ops import (
        assign_cells_arrow,
        cell_cosine_pairs_arrow,
    )
    from .vector import EMB_DUP_THRESHOLD, _learned_centroids

    cents = _learned_centroids(spark, sf_dir)
    emb = _embeddings(spark, sf_dir)
    assigned = assign_cells_arrow(emb, cents, with_cosine=True)
    pairs = cell_cosine_pairs_arrow(assigned, EMB_DUP_THRESHOLD)
    nodes = emb.select(F.col("vec_id").alias("node"))
    labels = label_propagation(pairs, nodes)
    cosr = assigned.select(
        F.col("vec_id").alias("node"),
        F.round("cos_c", 4).alias("cos_r"),
    )
    j = labels.join(cosr, "node", "left")  # zero-norm rows: null cos_r
    best = j.groupBy("label").agg(
        F.min(
            F.struct(
                F.coalesce(F.col("cos_r"), F.lit(2.0)).alias("k"),
                F.col("node").alias("n"),
            )
        ).alias("b")
    )
    return j.join(best, "label").select(
        F.col("node").alias("vec_id"),
        F.col("label").alias("cluster_rep"),
        (F.col("cos_r") + F.lit(0.0)).alias("centroid_cosine"),
        (F.col("node") == F.col("b.n")).alias("keep"),
    )


def _semdedup_oracle() -> str:
    from .vector import (
        _FINAL_CENTS,
        _IVF_ASSIGN_CTES,
        EMB_DUP_THRESHOLD,
    )

    return f"""
WITH RECURSIVE {_IVF_ASSIGN_CTES},
au AS (
  SELECT vec_id, cell,
         list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS u
  FROM assign
),
vp AS (
  SELECT a.vec_id AS u, b.vec_id AS v
  FROM au a JOIN au b ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE list_dot_product(a.u, b.u) >= {EMB_DUP_THRESHOLD}
),
edges AS (
  SELECT u, v FROM vp
  UNION
  SELECT v AS u, u AS v FROM vp
),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e2.v FROM reach r JOIN edges e2 ON r.v = e2.u
),
cc AS (
  SELECT emb.vec_id,
         least(emb.vec_id, coalesce(m.mv, emb.vec_id)) AS cluster_rep
  FROM embeddings emb
  LEFT JOIN (SELECT u, min(v) AS mv FROM reach GROUP BY u) m
    ON emb.vec_id = m.u
),
cosr AS (
  SELECT a.vec_id,
         round(list_dot_product(
           list_transform(a.v, x -> x / sqrt(list_dot_product(a.v, a.v))),
           list_transform(c.cv, x -> x / sqrt(list_dot_product(c.cv, c.cv)))
         ), 4) + 0.0 AS cos_r
  FROM assign a JOIN {_FINAL_CENTS} c ON c.cell = a.cell
  WHERE list_dot_product(c.cv, c.cv) > 0
),
j AS (
  SELECT cc.vec_id, cc.cluster_rep, cosr.cos_r
  FROM cc LEFT JOIN cosr USING (vec_id)
),
best AS (
  SELECT cluster_rep, vec_id AS keep_id,
         row_number() OVER (
           PARTITION BY cluster_rep
           ORDER BY coalesce(cos_r, 2.0), vec_id) AS rn
  FROM j
)
SELECT j.vec_id, j.cluster_rep, j.cos_r AS centroid_cosine,
       j.vec_id = b.keep_id AS keep
FROM j
JOIN (SELECT cluster_rep, keep_id FROM best WHERE rn = 1) b
  USING (cluster_rep)
"""


ORACLE_SEMDEDUP = _semdedup_oracle()


# ---- IVF recall@k evaluation (round 12) ----
#
# The ANN-index QA number (the recall@k every FAISS/ScaNN evaluation
# reports): how many of the exact brute-force top-k does the NPROBE-
# cell IVF probe return? Both rankings already ride
# vector_cosine_topk (tagged by ``method``), so the lane is one
# semi-join + one aggregation over a 2k-row frame — integers plus a
# single division of identical integers.


def vector_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@k of the IVF probe against the exact top-k. Returns one
    row (k, n_hits, recall)."""
    from .vector import vector_cosine_topk

    r = vector_cosine_topk(spark, sf_dir)
    ex = r.filter(F.col("method") == "exact").select("vec_id")
    iv = r.filter(F.col("method") == "ivf_probe").select("vec_id")
    k = ex.count()  # TOPK by construction; tiny
    hits = ex.join(iv, "vec_id", "semi")
    return hits.agg(
        F.lit(k).cast("long").alias("k"),
        F.count(F.lit(1)).alias("n_hits"),
        (F.count(F.lit(1)) / F.lit(k) + F.lit(0.0)).alias("recall"),
    )


def _ivf_recall_oracle() -> str:
    from .vector import ORACLE_COSINE_TOPK

    # reuse the search oracle's full CTE chain; only the tail differs
    head = ORACLE_COSINE_TOPK.rsplit("SELECT * FROM ex", 1)[0].rstrip()
    return f"""{head},
e2 AS (SELECT vec_id FROM ex),
i2 AS (SELECT vec_id FROM iv)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM e2) AS k,
       CAST(count(*) AS BIGINT) AS n_hits,
       (CAST(count(*) AS DOUBLE)
        / (SELECT count(*) FROM e2)) + 0.0 AS recall
FROM e2 WHERE vec_id IN (SELECT vec_id FROM i2)
"""


ORACLE_IVF_RECALL = _ivf_recall_oracle()


# ---- IVF recall@k vs nprobe curve (round 13) ----
#
# The FAISS/ScaNN evaluation protocol (round-12 verdict item 4):
# recall@k as a CURVE over nprobe, not a single point — the number
# that sets the cost/quality knob at 100 TB (each +1 nprobe reads one
# more cell's files; the curve says what that buys). ONE pass over
# the cell-partitioned index (no per-tier re-run): every vector is
# scored against the query once, tagged with its cell's probe RANK
# (driver-side model state — the same ranked-cell argsort
# _probe_cells performs, extended to all cells), prefiltered to its
# CELL's top-k (any tier's top-k row is necessarily in its own cell's
# top-k, so the tier windows run on a <= k*n_cells row frame), then
# each nprobe tier's top-k cut and recall against the exact top-k are
# tiny-frame ops.
#
# Cross-engine exactness: the cell ranking compares RAW centroid
# cosines — probed min adjacent-cell margin 1.2e-2 / 1.7e-3 / 6.7e-4
# at the three SFs (9+ orders above ~1e-12 drift); vector scores
# round to 4dp with vec_id tiebreak (the vector_cosine_topk landing
# convention, margins probed in round 3); recall divides two small
# exact integers.
NPROBE_TIERS = [1, 2, 4, 8]


def vector_ivf_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@k of the IVF probe at nprobe in {1, 2, 4, 8}, one scan.
    Returns (nprobe, k, n_hits, recall); recall is monotone in nprobe
    and 1.0 at nprobe = n_cells (pinned in tests)."""
    from .vector import (
        QUERY_VEC_ID,
        TOPK,
        _ivf_index_path,
        _learned_centroids,
        _probe_cells,
        _query_vector,
    )

    qv = _query_vector(sf_dir, QUERY_VEC_ID)
    cents = _learned_centroids(spark, sf_dir)
    order = _probe_cells(cents, qv, len(cents))  # full ranked cell list
    rank_of = F.create_map(
        *[F.lit(v) for c, r in zip(order, range(1, len(order) + 1))
          for v in (c, r)]
    )
    q = F.array(*[F.lit(x) for x in qv])
    scored = (
        spark.read.parquet(_ivf_index_path(spark, sf_dir))
        .filter(F.col("vec_id") != QUERY_VEC_ID)
        .select(
            "vec_id",
            "cell",
            (F.round(cosine(F.col("v"), q), 4) + F.lit(0.0)).alias("cosr"),
        )
    )
    wcell = W.partitionBy("cell").orderBy(F.desc("cosr"), F.asc("vec_id"))
    pref = (
        scored.withColumn("crn", F.row_number().over(wcell))
        .filter(F.col("crn") <= TOPK)
        .drop("crn")
    )
    exact = (
        pref.orderBy(F.desc("cosr"), F.asc("vec_id"))
        .limit(TOPK)
        .select("vec_id")
    )
    tiers = spark.createDataFrame(
        [(n,) for n in NPROBE_TIERS], "nprobe long"
    )
    wt = W.partitionBy("nprobe").orderBy(F.desc("cosr"), F.asc("vec_id"))
    tk = (
        pref.withColumn("rnk", rank_of[F.col("cell")])
        .filter(F.col("rnk").isNotNull())
        .join(F.broadcast(tiers), F.col("rnk") <= F.col("nprobe"))
        .withColumn("rn", F.row_number().over(wt))
        .filter(F.col("rn") <= TOPK)
    )
    hits = (
        tk.join(exact, "vec_id", "semi")
        .groupBy("nprobe")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        tiers.join(hits, "nprobe", "left")
        .select(
            "nprobe",
            F.lit(TOPK).cast("long").alias("k"),
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            (
                F.coalesce("n_hits", F.lit(0)) / F.lit(TOPK) + F.lit(0.0)
            ).alias("recall"),
        )
    )


def _ivf_recall_curve_oracle() -> str:
    from .vector import (
        _FINAL_CENTS,
        _IVF_ASSIGN_CTES,
        QUERY_VEC_ID,
        TOPK,
    )

    tiers = ", ".join(f"({n})" for n in NPROBE_TIERS)
    return f"""
WITH {_IVF_ASSIGN_CTES},
q AS (SELECT v AS qv FROM e WHERE vec_id = {QUERY_VEC_ID}),
pcells AS (
  SELECT c.cell,
         row_number() OVER (
           ORDER BY list_dot_product(c.cv, q.qv)
             / (sqrt(list_dot_product(c.cv, c.cv))
                * sqrt(list_dot_product(q.qv, q.qv))) DESC,
           c.cell ASC) AS rnk
  FROM {_FINAL_CENTS} c, q
  WHERE list_dot_product(c.cv, c.cv) > 0
),
scored AS (
  SELECT x.vec_id, x.cell,
         round(list_dot_product(x.v, q.qv)
               / (sqrt(list_dot_product(x.v, x.v))
                  * sqrt(list_dot_product(q.qv, q.qv))), 4) + 0.0 AS cosr
  FROM assign x, q
  WHERE x.vec_id <> {QUERY_VEC_ID}
),
exk AS (
  SELECT vec_id FROM (
    SELECT vec_id,
           row_number() OVER (ORDER BY cosr DESC, vec_id ASC) AS rn
    FROM scored) WHERE rn <= {TOPK}
),
tiers(np) AS (VALUES {tiers}),
tk AS (
  SELECT np, vec_id FROM (
    SELECT t.np, s.vec_id,
           row_number() OVER (
             PARTITION BY t.np
             ORDER BY s.cosr DESC, s.vec_id ASC) AS rn
    FROM scored s
    JOIN pcells p ON p.cell = s.cell
    JOIN tiers t ON p.rnk <= t.np) WHERE rn <= {TOPK}
),
h AS (
  SELECT np, CAST(count(*) AS BIGINT) AS n_hits
  FROM tk WHERE vec_id IN (SELECT vec_id FROM exk)
  GROUP BY np
)
SELECT CAST(t.np AS BIGINT) AS nprobe,
       CAST({TOPK} AS BIGINT) AS k,
       coalesce(h.n_hits, 0) AS n_hits,
       (CAST(coalesce(h.n_hits, 0) AS DOUBLE) / {TOPK}) + 0.0 AS recall
FROM tiers t LEFT JOIN h ON h.np = t.np
"""


ORACLE_IVF_RECALL_CURVE = _ivf_recall_curve_oracle()


# ---- PQ recall@k (round 13) ----
#
# The compressed-scan rung's QA number, completing the eval family
# (exact <- IVF recall curve <- PQ recall): how many of the exact
# brute-force top-k does the m-byte ADC scan return? ADC distance is
# squared-L2 on UNIT vectors — monotone with cosine — so the exact
# cosine top-k is the right reference ranking. Both rankings already
# exist as hash-green lanes; this lane is one semi-join + one
# aggregation over two k-row frames (all integers + one division of
# identical integers).


def vector_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@k of the PQ-ADC scan against the exact top-k. Returns
    one row (k, n_hits, recall)."""
    from .vector import vector_cosine_topk

    ex = (
        vector_cosine_topk(spark, sf_dir)
        .filter(F.col("method") == "exact")
        .select("vec_id")
    )
    adc = vector_pq_adc_topk(spark, sf_dir).select("vec_id")
    k = ex.count()  # TOPK by construction; tiny
    hits = ex.join(adc, "vec_id", "semi")
    return hits.agg(
        F.lit(k).cast("long").alias("k"),
        F.count(F.lit(1)).alias("n_hits"),
        (F.count(F.lit(1)) / F.lit(k) + F.lit(0.0)).alias("recall"),
    )


def _pq_recall_oracle() -> str:
    from .vector import _COS_EQ, QUERY_VEC_ID, TOPK

    # the full PQ oracle runs as a derived table (DuckDB allows a
    # WITH-query inside a parenthesized FROM); the exact side is the
    # cosine lane's landing convention on a fresh minimal CTE chain
    return f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
q AS (SELECT v AS qv FROM e WHERE vec_id = {QUERY_VEC_ID}),
exk AS (
  SELECT vec_id FROM (
    SELECT x.vec_id,
           row_number() OVER (
             ORDER BY round({_COS_EQ}, 4) DESC, x.vec_id ASC) AS rn
    FROM e x, q
    WHERE x.vec_id <> {QUERY_VEC_ID}) WHERE rn <= {TOPK}
),
adc AS (SELECT vec_id FROM ({ORACLE_PQ_ADC}) t)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM exk) AS k,
       CAST(count(*) AS BIGINT) AS n_hits,
       (CAST(count(*) AS DOUBLE)
        / (SELECT count(*) FROM exk)) + 0.0 AS recall
FROM exk WHERE vec_id IN (SELECT vec_id FROM adc)
"""


ORACLE_PQ_RECALL = _pq_recall_oracle()


# ---- IVFADC: probe-then-ADC over residual codebooks (round 14) ----
#
# The composition of the two existing rungs into FAISS's workhorse
# index (Jégou, Douze & Schmid 2011 §IV; round-13 verdict item 1):
# the IVF coarse quantizer (queries/vector.py — same learned
# centroids, same probe-selection argsort) routes vectors to cells,
# PQ codebooks are trained on RESIDUALS unit(v) - centroid(cell)
# (operators/pq.py fit_ivfpq — the Lloyd loop is byte-identical to
# fit_pq's), and the query ADC-scans ONLY the probed cells' m-byte
# codes through per-cell lookup tables built from the query residual.
# At 100 TB this is the memory AND compute story: codes are m
# bytes/vector and a probe touches ~nprobe/n_cells of them, with the
# cell-partitioned index giving PartitionFilters-level file pruning
# exactly like the full-vector IVF index.
#
# Cross-engine exactness: coarse assignment + probe selection reuse
# the already-probed IVF margins; residual codebooks land on the
# PQ_DECIMALS rounding grid; ADC distances round to 4dp with vec_id
# tiebreak (the house landing convention). Decision margins for the
# residual-encode argmin and the rounding grid are probed in
# tests/test_ivfpq.py at the declared SFs.

IVFPQ_NPROBE = 2

_IVFPQ_CACHE: dict[str, object] = {}


def _ivfpq_model(spark: SparkSession, sf_dir: str):
    """Memoized residual-codebook fit per corpus (same build/query
    split as _pq_model; the coarse centroids come from the shared
    memoized IVF fit, so the two quantizer levels can never
    desynchronize)."""
    from ..operators.pq import fit_ivfpq
    from .vector import _learned_centroids

    model = _IVFPQ_CACHE.get(sf_dir)
    if model is None:
        model = fit_ivfpq(
            _embeddings(spark, sf_dir),
            _learned_centroids(spark, sf_dir),
            m=PQ_M,
            k=PQ_K,
            iters=PQ_ITERS,
            sample_n=PQ_SAMPLE_N,
            decimals=PQ_DECIMALS,
        )
        _IVFPQ_CACHE[sf_dir] = model
    return model


def _ivfpq_index_path(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per corpus per process) the IVFADC INDEX: residual
    PQ codes written as parquet PARTITIONED BY cell — (vec_id, code)
    ride in the files, so a probe reads nprobe/n_cells of the
    partitions at m bytes/row. Same content-keyed cache, _SUCCESS
    gate, and atomic-rename build protocol as
    queries/vector.py:_ivf_index_path."""
    import hashlib
    import os
    import tempfile

    import pyarrow.parquet as pq

    from ..operators.pq import encode_ivfpq
    from ..operators.vector_ops import assign_cells_arrow
    from .vector import (
        CENTROID_DECIMALS,
        KMEANS_ITERS,
        NUM_CENTROIDS,
        _learned_centroids,
    )

    src = os.path.join(sf_dir, "embeddings.parquet")
    if os.path.isdir(src):
        parts = [
            os.path.join(src, f)
            for f in sorted(os.listdir(src))
            if f.endswith(".parquet")
        ]
        n = sum(pq.ParquetFile(p).metadata.num_rows for p in parts)
    else:
        parts = [src]
        n = pq.ParquetFile(src).metadata.num_rows
    stat = ";".join(
        f"{os.path.getsize(p)}:{os.path.getmtime(p):.0f}" for p in parts
    )
    key = (
        f"ivfpq|{os.path.abspath(sf_dir)}|{n}|{stat}|{NUM_CENTROIDS}"
        f"|{KMEANS_ITERS}|{CENTROID_DECIMALS}"
        f"|{PQ_M}|{PQ_K}|{PQ_ITERS}|{PQ_SAMPLE_N}|{PQ_DECIMALS}"
    )
    tag = hashlib.md5(key.encode()).hexdigest()[:12]
    path = os.path.join(tempfile.gettempdir(), f"spark_graft_ivfpq_{tag}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        import shutil
        import uuid

        tmp = f"{path}.build-{uuid.uuid4().hex[:8]}"
        cents = _learned_centroids(spark, sf_dir)
        model = _ivfpq_model(spark, sf_dir)
        (
            encode_ivfpq(
                assign_cells_arrow(_embeddings(spark, sf_dir), cents),
                cents,
                model,
            )
            .write.mode("overwrite")
            .partitionBy("cell")
            .parquet(tmp)
        )
        try:
            if os.path.exists(path):
                shutil.rmtree(path)
            os.rename(tmp, path)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)
            if not os.path.exists(os.path.join(path, "_SUCCESS")):
                raise
    return path


def vector_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC top-k: probe the {IVFPQ_NPROBE} nearest coarse cells
    (driver-side argsort over model state — _probe_cells), scan ONLY
    those cells' residual PQ codes from the cell-partitioned index
    (PartitionFilters pruning), distance = per-cell ADC gather+sum.
    Returns (vec_id, cell, adc_dist) ascending, 4dp-rounded with
    vec_id tiebreak."""
    from ..operators.pq import ivfpq_topk
    from .vector import QUERY_VEC_ID, _learned_centroids, _probe_cells

    qv = _query_vector(sf_dir, QUERY_VEC_ID)
    cents = _learned_centroids(spark, sf_dir)
    probe = _probe_cells(cents, qv, IVFPQ_NPROBE)
    codes = (
        spark.read.parquet(_ivfpq_index_path(spark, sf_dir))
        .filter(F.col("cell").isin(probe))
        .filter(F.col("vec_id") != QUERY_VEC_ID)
        .withColumn("cell", F.col("cell").cast("long"))
    )
    return ivfpq_topk(
        codes,
        cents,
        _ivfpq_model(spark, sf_dir),
        qv,
        top_k=PQ_TOPK,
        decimals=4,
    )


def _ivfpq_oracle() -> str:
    """SQL twin of the ENTIRE IVFADC pipeline: coarse k-means (the
    shared _IVF_ASSIGN_CTES chain), residual computation, per-subspace
    residual Lloyd fit (b0..b{iters}, empty slots keep their previous
    codeword — fit_pq's convention), full-corpus residual encode,
    probe-cell selection, and the per-cell ADC sum."""
    from .vector import (
        _FINAL_CENTS,
        _IVF_ASSIGN_CTES,
        QUERY_VEC_ID,
    )

    m, k, iters = PQ_M, PQ_K, PQ_ITERS
    dsub = 64 // m
    d2 = (
        "list_dot_product(c.cv, c.cv)"
        " - 2 * list_dot_product(p.sv, c.cv)"
    )
    parts = [
        f"""uu AS (
  SELECT vec_id, cell,
         list_transform(v, x -> x / (CASE WHEN sqrt(list_dot_product(v, v)) = 0
                                          THEN 1.0
                                          ELSE sqrt(list_dot_product(v, v)) END)) AS uv
  FROM assign
)""",
        f"""res AS (
  SELECT u.vec_id, u.cell,
         list_transform(generate_series(1, len(u.uv)),
                        i -> u.uv[i] - c.cv[i]) AS rv
  FROM uu u JOIN {_FINAL_CENTS} c ON c.cell = u.cell
)""",
        f"""rsub AS (
  SELECT vec_id, cell, g.s AS s,
         list_slice(rv, g.s * {dsub} + 1, (g.s + 1) * {dsub}) AS sv
  FROM res, unnest(generate_series(0, {m - 1})) AS g(s)
)""",
        f"sampids AS (SELECT vec_id FROM e ORDER BY vec_id LIMIT {PQ_SAMPLE_N})",
        "rsamp AS (SELECT rsub.* FROM rsub JOIN sampids USING (vec_id))",
        f"""b0 AS (
  SELECT s, row_number() OVER (PARTITION BY s ORDER BY vec_id) - 1 AS cw,
         sv AS cv
  FROM rsamp
  QUALIFY row_number() OVER (PARTITION BY s ORDER BY vec_id) <= {k}
)""",
    ]
    for i in range(iters):
        parts.append(
            f"""sb{i} AS (
  SELECT p.vec_id, p.s, c.cw,
         row_number() OVER (PARTITION BY p.vec_id, p.s
                            ORDER BY {d2} ASC, c.cw ASC) AS rn
  FROM rsamp p JOIN b{i} c ON c.s = p.s
)"""
        )
        parts.append(f"ab{i} AS (SELECT vec_id, s, cw FROM sb{i} WHERE rn = 1)")
        parts.append(
            f"""mb{i + 1} AS (
  SELECT a.s, a.cw, g.i AS i, round(avg(p.sv[g.i]), {PQ_DECIMALS}) AS mv
  FROM ab{i} a JOIN rsamp p ON p.vec_id = a.vec_id AND p.s = a.s,
       unnest(generate_series(1, {dsub})) AS g(i)
  GROUP BY a.s, a.cw, g.i
)"""
        )
        parts.append(
            f"""b{i + 1} AS (
  SELECT c.s, c.cw, coalesce(n.cv, c.cv) AS cv
  FROM b{i} c
  LEFT JOIN (SELECT s, cw, list(mv ORDER BY i) AS cv
             FROM mb{i + 1} GROUP BY s, cw) n
    ON n.s = c.s AND n.cw = c.cw
)"""
        )
    parts.append(
        f"""renc AS (
  SELECT p.vec_id, p.cell, p.s, c.cw,
         row_number() OVER (PARTITION BY p.vec_id, p.s
                            ORDER BY {d2} ASC, c.cw ASC) AS rn
  FROM rsub p JOIN b{iters} c ON c.s = p.s
  WHERE p.vec_id <> {QUERY_VEC_ID}
)"""
    )
    parts.append("rcodes AS (SELECT vec_id, cell, s, cw FROM renc WHERE rn = 1)")
    parts.append(
        f"qraw AS (SELECT v AS qv FROM e WHERE vec_id = {QUERY_VEC_ID})"
    )
    parts.append(
        """qunit AS (
  SELECT list_transform(qv, x -> x / sqrt(list_dot_product(qv, qv))) AS quv
  FROM qraw
)"""
    )
    parts.append(
        f"""pc AS (
  SELECT cell FROM (
    SELECT c.cell,
           row_number() OVER (
             ORDER BY list_dot_product(c.cv, q.qv)
               / (sqrt(list_dot_product(c.cv, c.cv))
                  * sqrt(list_dot_product(q.qv, q.qv))) DESC,
             c.cell ASC) AS rnk
    FROM {_FINAL_CENTS} c, qraw q
    WHERE list_dot_product(c.cv, c.cv) > 0)
  WHERE rnk <= {IVFPQ_NPROBE}
)"""
    )
    parts.append(
        f"""qres AS (
  SELECT c.cell,
         list_transform(generate_series(1, len(q.quv)),
                        i -> q.quv[i] - c.cv[i]) AS qrv
  FROM {_FINAL_CENTS} c JOIN pc USING (cell), qunit q
)"""
    )
    parts.append(
        f"""qrs AS (
  SELECT cell, g.s AS s,
         list_slice(qrv, g.s * {dsub} + 1, (g.s + 1) * {dsub}) AS qsv
  FROM qres, unnest(generate_series(0, {m - 1})) AS g(s)
)"""
    )
    parts.append(
        f"""rdist AS (
  SELECT cd.vec_id, cd.cell,
         sum(list_dot_product(b.cv, b.cv)
             - 2 * list_dot_product(b.cv, r.qsv)
             + list_dot_product(r.qsv, r.qsv)) AS d
  FROM rcodes cd
  JOIN pc ON pc.cell = cd.cell
  JOIN b{iters} b ON b.s = cd.s AND b.cw = cd.cw
  JOIN qrs r ON r.cell = cd.cell AND r.s = cd.s
  GROUP BY cd.vec_id, cd.cell
)"""
    )
    return (
        f"WITH {_IVF_ASSIGN_CTES},\n"
        + ",\n".join(parts)
        + f"""
SELECT CAST(vec_id AS BIGINT) AS vec_id,
       CAST(cell AS BIGINT) AS cell,
       round(d, 4) + 0.0 AS adc_dist
FROM rdist
ORDER BY adc_dist ASC, vec_id ASC
LIMIT {PQ_TOPK}"""
    )


ORACLE_IVFPQ_TOPK = _ivfpq_oracle()


def vector_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@k of the IVFADC scan against the exact cosine top-k —
    the third point of the eval family (exact <- IVF curve <- PQ <-
    IVFADC). Expected to sit at or below min(IVF@nprobe=2, full-scan
    PQ): IVFADC inherits BOTH the probe miss (cells not probed) and
    the code quantization error. Returns one row (k, n_hits,
    recall)."""
    from .vector import vector_cosine_topk

    ex = (
        vector_cosine_topk(spark, sf_dir)
        .filter(F.col("method") == "exact")
        .select("vec_id")
    )
    ap = vector_ivfpq_topk(spark, sf_dir).select("vec_id")
    k = ex.count()  # TOPK by construction; tiny
    hits = ex.join(ap, "vec_id", "semi")
    return hits.agg(
        F.lit(k).cast("long").alias("k"),
        F.count(F.lit(1)).alias("n_hits"),
        (F.count(F.lit(1)) / F.lit(k) + F.lit(0.0)).alias("recall"),
    )


def _ivfpq_recall_oracle() -> str:
    from .vector import _COS_EQ, QUERY_VEC_ID, TOPK

    return f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
q AS (SELECT v AS qv FROM e WHERE vec_id = {QUERY_VEC_ID}),
exk AS (
  SELECT vec_id FROM (
    SELECT x.vec_id,
           row_number() OVER (
             ORDER BY round({_COS_EQ}, 4) DESC, x.vec_id ASC) AS rn
    FROM e x, q
    WHERE x.vec_id <> {QUERY_VEC_ID}) WHERE rn <= {TOPK}
),
apx AS (SELECT vec_id FROM ({ORACLE_IVFPQ_TOPK}) t)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM exk) AS k,
       CAST(count(*) AS BIGINT) AS n_hits,
       (CAST(count(*) AS DOUBLE)
        / (SELECT count(*) FROM exk)) + 0.0 AS recall
FROM exk WHERE vec_id IN (SELECT vec_id FROM apx)
"""


ORACLE_IVFPQ_RECALL = _ivfpq_recall_oracle()
