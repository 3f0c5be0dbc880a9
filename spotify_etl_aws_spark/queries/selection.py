"""Data-selection & retrieval query inventory (north-star, SURVEY.md
§2.11) — the round-6 operator lanes promoted into the oracle-checked
contract: BM25 ranking, hybrid RRF fusion, exact-substring dedup,
Gopher quality signals, temperature/UniMax mixing, and semantic
decontamination. Each query wraps the production operator and carries
an exact DuckDB twin (same rounding, same tie-breaks), extending the
50-query driver window with locally-verified entries (the driver
checks the first 50; ``tests/test_oracle.py`` checks ALL of these).

Determinism conventions follow ``queries/__init__``: every ranking
cuts on ROUNDED scores with an id tie-break so the k-boundary is
engine-independent, and every double column is rounded identically on
both sides (``+ 0.0`` normalizes IEEE -0.0).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.vectors import cosine
from ..operators.bm25 import bm25_index, bm25_search, rrf_fuse
from ..operators.decontaminate import semantic_overlap
from ..operators.heuristics import (
    domain_mix_scaled,
    gopher_quality_stats,
    unimax_allocation,
)
from ..functions.text import tokens
from ..operators.sketches import (
    cm_estimate,
    count_min_sketch,
    misra_gries_topk,
)
from ..operators.substring_dedup import dedup_substrings
from ..sources.readers import load_table as t
from .vector import _embeddings, _query_vector

# ---- round-12 split: lane families moved to per-family modules ----
# (verdict item 5; every moved name re-exported so queries.selection.<name>
# keeps working for tests, experiments and tools)
from .lanes_graph_events import (  # noqa: F401 — re-exports, see lanes_graph_events
    FUNNEL_STEPS,
    RETENTION_PERIOD_DAYS,
    events_funnel,
    ORACLE_FUNNEL,
    events_retention,
    ORACLE_RETENTION,
    events_transitions,
    ORACLE_TRANSITIONS,
    reshape_unpivot_melt,
    ORACLE_UNPIVOT,
    graph_bfs_levels,
    ORACLE_BFS_LEVELS,
    PPR_ITERATIONS,
    PPR_DAMPING,
    PPR_DECIMALS,
    graph_ppr_weighted,
    _oracle_ppr_weighted,
    PR_ITERATIONS,
    PR_DAMPING,
    PR_DECIMALS,
    graph_pagerank,
    _oracle_pagerank,
)
from .lanes_temporal import (  # noqa: F401 — re-exports, see lanes_temporal
    dim_scd2_history,
    ORACLE_SCD2,
    cdc_latest_snapshot,
    ORACLE_CDC,
    IVL_BIN_DAYS,
    IVL_EPOCH,
    join_interval_overlap,
    ORACLE_IVL_OVERLAP,
    RANGE_WINDOW_DAYS,
    window_time_range_agg,
    ORACLE_RANGE_WINDOW,
    DIFF_REMOVE_MOD,
    DIFF_CHANGE_MOD,
    dim_snapshot_diff,
    ORACLE_SNAPSHOT_DIFF,
    SESSION_WINDOW_GAP_MIN,
    agg_session_window,
    ORACLE_SESSION_WINDOW,
    streaming_cdc_upsert,
    join_asof_forward,
    ORACLE_ASOF_FORWARD,
    ASOF_LOOKBACK_DAYS,
    dim_scd2_asof_lookup,
    ORACLE_SCD2_ASOF,
    SKEW_SALT,
    join_skew_salted,
    ORACLE_SKEW_SALTED,
)
from .lanes_layout import (  # noqa: F401 — re-exports, see lanes_layout
    ZORDER_BITS,
    layout_zorder_keys,
    ORACLE_ZORDER,
    HILBERT_BITS,
    layout_hilbert_keys,
    _hilbert_oracle,
    ORACLE_HILBERT,
    MINE_MINSUP,
    MINE_MAX_BASKET_ITEMS,
    _basket_frame,
    _mine_pairs,
    mine_frequent_pairs,
    mine_basket_census,
    mine_frequent_pairs_capped,
    mine_association_rules,
    mine_frequent_triples,
    mine_triple_rules,
    mine_brand_basket_census,
    mine_closed_pairs,
    mine_rule_interest,
    mine_fpgrowth_itemsets,
    ORACLE_FPGROWTH,
    ORACLE_ASSOC_RULES,
    ORACLE_FREQ_PAIRS,
    ORACLE_BASKET_CENSUS,
    ORACLE_FREQ_PAIRS_CAPPED,
    ORACLE_FREQ_TRIPLES,
    ORACLE_TRIPLE_RULES,
    ORACLE_BRAND_CENSUS,
    ORACLE_CLOSED_PAIRS,
    ORACLE_RULE_INTEREST,
)
from .lanes_seqsim import (  # noqa: F401 — re-exports, see lanes_seqsim
    EDITDIST_D,
    EDITDIST_TITLE_LEN,
    dedup_editdistance_pairs,
    ORACLE_EDITDIST,
    DTW_K,
    ts_dtw_topk_similarity,
    _DTW_INF,
    ORACLE_DTW,
    DTW_BAND,
    ts_dtw_banded_topk,
    _DTW_CELL_INF,
    ORACLE_DTW_BANDED,
    dedup_editdistance_lookup,
    ORACLE_EDITDIST_LOOKUP,
    dedup_editdistance_collapsed,
)
from .lanes_media import (  # noqa: F401 — re-exports, see lanes_media
    PHASH_GROUP,
    PHASH_MAXDIST,
    _PHASH_MIX_SQL,
    _phash_cells,
    dedup_image_phash,
    ORACLE_IMAGE_PHASH,
    AFP_GROUP,
    AFP_MAXDIST,
    AFP_BLOCK_SAMPLES,
    _afp_amplitudes,
    dedup_audio_fingerprint,
    dedup_image_phash_resized,
    VIDEO_FRAMES,
    VIDEO_MIN_FRAMES,
    VIDEO_FRAME_DIST,
    _video_levels,
    dedup_video_clips,
    _VID_FLIPS,
    ORACLE_VIDEO_CLIPS,
    PHASH_WIDE_MAXDIST,
    _phash_wide_cells,
    dedup_image_phash_wide,
    dedup_image_phash_wide_bloom,
    _WIDE_FLIPS,
    ORACLE_IMAGE_PHASH_WIDE,
    ORACLE_AUDIO_FP,
)
from .lanes_linkage import (  # noqa: F401 — re-exports, see lanes_linkage
    FS_THRESHOLD,
    _fs_frames,
    _FS_HAND_WEIGHTS,
    _fs_blocking,
    _fs_comparators,
    link_customer_records,
    _FS_BASE_CTES,
    ORACLE_FS_LINK,
    link_customer_best,
    ORACLE_FS_BEST,
    FS_CLERICAL_LOW,
    link_clerical_bands,
    link_band_purity,
    _FS_SCORED_HEAD,
    ORACLE_FS_BANDS,
    ORACLE_BAND_PURITY,
    EM_FIELDS,
    EM_ITERS,
    EM_DECIMALS,
    EM_SCALE,
    _fs_learned_int_weights,
    link_customer_learned,
    _oracle_fs_learned,
    ORACLE_FS_LEARNED,
    JW_THRESHOLD,
    link_customer_jw,
    ORACLE_FS_JW,
    PHON_FS_THRESHOLD,
    _PHON_FS_WEIGHTS,
    _phon_frames,
    _phon_blocking,
    _phon_comparators,
    link_part_phonetic,
    _phon_oracle,
    ORACLE_PHON_LINK,
    PHON_BLOCK_CAP,
    link_part_phonetic_capped,
    ORACLE_PHON_LINK_CAPPED,
    link_block_census,
    _census_oracle,
    ORACLE_BLOCK_CENSUS,
    PHON_TF_THRESHOLD,
    PHON_TF_SCALE,
    link_part_phonetic_tf,
    _phon_tf_oracle,
    ORACLE_PHON_TF,
    link_eval_metrics,
    ORACLE_LINK_EVAL,
    LINK_PROBE_OFFSET,
    _assert_probe_offset_disjoint,
    link_entity_clusters,
    _ENTITY_CTES,
    ORACLE_ENTITY_CLUSTERS,
    link_entity_golden,
    ORACLE_ENTITY_GOLDEN,
    dq_pseudonymize,
    ORACLE_PSEUDONYMIZE,
)
from .lanes_vector_select import (  # noqa: F401 — re-exports, see lanes_vector_select
    PQ_M,
    PQ_K,
    PQ_ITERS,
    PQ_SAMPLE_N,
    PQ_DECIMALS,
    PQ_TOPK,
    _pq_model,
    vector_pq_adc_topk,
    _pq_oracle,
    ORACLE_PQ_ADC,
    KC_K,
    KC_DECIMALS,
    select_kcenter_coreset,
    _kcenter_oracle,
    ORACLE_KCENTER,
    MMR_K,
    MMR_LAM,
    MMR_MU,
    search_mmr_rerank,
    _mmr_oracle,
    ORACLE_MMR,
    dedup_semantic_prune,
    ORACLE_SEMDEDUP,
    vector_ivf_recall,
    ORACLE_IVF_RECALL,
    NPROBE_TIERS,
    vector_ivf_recall_curve,
    ORACLE_IVF_RECALL_CURVE,
    vector_pq_recall,
    ORACLE_PQ_RECALL,
    IVFPQ_NPROBE,
    _ivfpq_model,
    vector_ivfpq_topk,
    ORACLE_IVFPQ_TOPK,
    vector_ivfpq_recall,
    ORACLE_IVFPQ_RECALL,
)
from .lanes_monitoring import (  # noqa: F401 — re-exports, see lanes_monitoring
    MAD_K,
    MAD_MIN_GROUP,
    stats_mad_outliers,
    ORACLE_MAD_OUTLIERS,
    MAD_APPROX_ACC,
    stats_mad_approx_contract,
    ORACLE_MAD_APPROX,
    EWMA_WINDOW,
    ts_ewma_dyadic,
    _ewma_oracle,
    ORACLE_EWMA,
    PSI_CUTOFF,
    PSI_BINS,
    PSI_BIN_CENTS,
    stats_psi_drift,
    ORACLE_PSI,
    streaming_psi_drift,
    streaming_cusum_alarms,
    streaming_cusum_watermarked,
    streaming_cusum_dead_letters,
    ORACLE_CUSUM_DEAD_LETTERS,
    PSIQ_ACC,
    PSIQ_DECILES,
    stats_psi_quantile_contract,
    ORACLE_PSI_QUANTILE,
    EWMA_SPIKE_LIMIT,
    ts_ewma_spikes,
    _ewma_spike_oracle,
    ORACLE_EWMA_SPIKES,
    CUSUM_REF,
    CUSUM_H,
    ts_cusum_alarms,
    ORACLE_CUSUM,
    stats_group_ols_trend,
    ORACLE_OLS,
    OLS_RESID_LIMIT,
    stats_ols_outliers,
    ORACLE_OLS_OUTLIERS,
    stats_ks_drift,
    ORACLE_KS,
    DQ_STATUS_DOMAIN,
    dq_expectations,
    _DQ_STATUS_SQL,
    ORACLE_DQ,
    DQM_MIN_PCT,
    DQM_MAX_PCT,
    dq_metric_anomalies,
    ORACLE_DQ_ANOMALIES,
    KANON_K,
    KANON_BAND_CENTS,
    dq_k_anonymity,
    ORACLE_KANON,
    KANON_L,
    dq_l_diversity,
    ORACLE_LDIV,
    PROFILE_COLS,
    stats_column_profile,
    ORACLE_PROFILE,
    PROFILE_NUM_CARRIERS,
    PROFILE_HLL_RSD,
    PROFILE_HLL_BOUND,
    stats_profile_numeric,
    ORACLE_PROFILE_NUMERIC,
    stats_profile_hll_contract,
    ORACLE_PROFILE_HLL,
)

# ---- constants shared by Spark queries and their SQL twins ----
BM25_QUERY = "data quality filter"
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPK = 15
RRF_K = 60
RRF_TOPK = 10
RRF_CAND = 20
RRF_QUERY_VEC = 7
SUBSTR_K = 8
MIX_TEMPERATURE = 0.5
UNIMAX_MAX_EPOCHS = 2.0
UNIMAX_BUDGET_FRAC = 0.5
SEM_BENCH_MOD = 25  # bench set = every 25th vec_id (20 vectors at sf0.01)

_BM25_TERMS = ", ".join(
    f"'{term}'" for term in sorted(set(BM25_QUERY.split()))
)

# Okapi BM25 (Lucene +1-idf form), the exact SQL twin of
# operators/bm25.py:_bm25_contrib — same association order so the
# doubles agree far below the 4dp rounding. Produces `scored`
# (doc_id, score) for the query's terms.
_BM25_SCORED_CTE = rf"""
toks AS (
  SELECT doc_id, t.term
  FROM documents, unnest(string_split_regex(lower(text), '\s+')) AS t(term)
  WHERE t.term <> ''
),
dl AS (
  -- per-ROW so empty/whitespace-only documents contribute dl=0, exactly
  -- as bm25_index's doc_lens does; an aggregate over toks would silently
  -- drop them and skew avgdl
  SELECT doc_id,
         len(list_filter(string_split_regex(lower(text), '\s+'),
                         x -> x <> '')) AS dl
  FROM documents
),
consts AS (
  SELECT (SELECT count(*) FROM documents) AS n,
         (SELECT avg(dl) FROM dl) AS avgdl
),
tf AS (
  SELECT term, doc_id, count(*) AS tf FROM toks
  WHERE term IN ({_BM25_TERMS}) GROUP BY 1, 2
),
df AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM toks
  WHERE term IN ({_BM25_TERMS}) GROUP BY 1
),
scored AS (
  SELECT tf.doc_id,
         sum(
           ln((c.n - df.df + 0.5) / (df.df + 0.5) + 1.0)
           * tf.tf * ({BM25_K1} + 1.0)
           / (tf.tf + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * dl.dl / c.avgdl))
         ) AS score
  FROM tf
  JOIN df USING (term)
  JOIN dl USING (doc_id), consts c
  GROUP BY 1
)
"""


def text_bm25_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-k over the corpus for a fixed query
    (operators/bm25.py:bm25_index/bm25_search — bucket-pruned postings,
    TakeOrderedAndProject top-k). Ranks re-derived from the ROUNDED
    score (id tie-break) so the emitted ordering is engine-exact."""
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    postings, doc_lens, stats = bm25_index(docs)
    # score EVERY hit (topk = corpus size), then cut on the ROUNDED
    # score with the id tie-break — the k-boundary membership rule must
    # match the oracle's rounded cut, not the raw-score cut inside
    # bm25_search (a raw-score boundary can order two docs that round
    # to the same 4dp value differently across engines)
    hits = bm25_search(
        postings, doc_lens, stats, BM25_QUERY,
        topk=stats.n_docs, k1=BM25_K1, b=BM25_B,
    )
    w = W.orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        hits.select(
            "doc_id", (F.round("score", 4) + F.lit(0.0)).alias("score")
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= BM25_TOPK)
    )


ORACLE_BM25_RANK = f"""
WITH {_BM25_SCORED_CTE}
SELECT doc_id, round(score, 4) + 0.0 AS score,
       row_number() OVER (ORDER BY round(score, 4) + 0.0 DESC, doc_id) AS rank
FROM scored
ORDER BY rank
LIMIT {BM25_TOPK}
"""


def search_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 keyword candidates fused with an
    embedding-cosine retriever via reciprocal-rank fusion
    (operators/bm25.py:rrf_fuse). Each retriever contributes its
    top-{RRF_CAND} ranking (rounded-score cut, id tie-break); RRF needs
    only the ranks, so the BM25 score and the cosine never share a
    scale."""
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    postings, doc_lens, stats = bm25_index(docs)
    # full scoring, rounded-score candidate cut (see text_bm25_rank)
    lex = bm25_search(
        postings, doc_lens, stats, BM25_QUERY,
        topk=stats.n_docs, k1=BM25_K1, b=BM25_B,
    )
    wl = W.orderBy(F.desc("score_r"), F.asc("doc_id"))
    lex_rank = (
        lex.withColumn("score_r", F.round("score", 4) + F.lit(0.0))
        .select(
            F.lit("q0").alias("qid"),
            "doc_id",
            F.row_number().over(wl).alias("rank"),
        )
        .filter(F.col("rank") <= RRF_CAND)
    )
    qv = _query_vector(sf_dir, RRF_QUERY_VEC)
    q = F.array(*[F.lit(x) for x in qv])
    wv = W.orderBy(F.desc("cos_r"), F.asc("doc_id"))
    vec_rank = (
        _embeddings(spark, sf_dir)
        .select(
            F.col("vec_id").alias("doc_id"),
            (F.round(cosine(F.col("v"), q), 4) + F.lit(0.0)).alias("cos_r"),
        )
        .withColumn("rank", F.row_number().over(wv))
        .filter(F.col("rank") <= RRF_CAND)
        .select(F.lit("q0").alias("qid"), "doc_id", "rank")
    )
    fused = rrf_fuse([lex_rank, vec_rank], k=RRF_K, topk=RRF_TOPK)
    return fused.select(
        "qid",
        "doc_id",
        (F.round("rrf_score", 6) + F.lit(0.0)).alias("rrf_score"),
        "rank",
    )


ORACLE_HYBRID_RRF = f"""
WITH {_BM25_SCORED_CTE},
lex AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY round(score, 4) + 0.0 DESC, doc_id) AS rank
  FROM scored
  QUALIFY rank <= {RRF_CAND}
),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT v AS qv FROM e WHERE vec_id = {RRF_QUERY_VEC}),
vr AS (
  SELECT vec_id AS doc_id,
         row_number() OVER (
           ORDER BY round(list_dot_product(e.v, q.qv)
                    / (sqrt(list_dot_product(e.v, e.v))
                       * sqrt(list_dot_product(q.qv, q.qv))), 4) + 0.0 DESC,
                    vec_id
         ) AS rank
  FROM e, q
  QUALIFY rank <= {RRF_CAND}
),
un AS (
  SELECT doc_id, 1.0 / ({RRF_K}.0 + rank) AS rr FROM lex
  UNION ALL
  SELECT doc_id, 1.0 / ({RRF_K}.0 + rank) AS rr FROM vr
),
f AS (SELECT doc_id, sum(rr) AS s FROM un GROUP BY 1)
SELECT 'q0' AS qid, doc_id, round(s, 6) + 0.0 AS rrf_score,
       row_number() OVER (ORDER BY s DESC, doc_id) AS rank
FROM f
QUALIFY rank <= {RRF_TOPK}
"""


def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide exact-substring dedup
    (operators/substring_dedup.py:dedup_substrings): every >=
    {SUBSTR_K}-token span occurring more than once keeps its first
    (doc_id, pos) occurrence; other occurrences are cut. The oracle
    recomputes the whole pipeline relationally — windows grouped by
    CONTENT (the hash-free twin: xxhash64 keys are injective here),
    non-canonical occurrences cover [pos, pos+k) positions, and the
    surviving tokens re-join in position order."""
    docs = t(spark, sf_dir, "documents")
    out = dedup_substrings(docs, k=SUBSTR_K)
    return out.select(
        "doc_id", "n_tokens", "dup_tokens", "n_tokens_deduped", "text_deduped"
    )


ORACLE_SUBSTRING = rf"""
WITH low AS (
  SELECT doc_id, string_split_regex(lower(text), '\s+') AS w FROM documents
),
raw AS (
  SELECT doc_id, string_split_regex(text, '\s+') AS w FROM documents
),
win AS (
  SELECT doc_id, i - 1 AS pos,
         array_to_string(w[i:i+{SUBSTR_K - 1}], ' ') AS win
  FROM (SELECT doc_id, w, unnest(range(1, len(w) - {SUBSTR_K - 2})) AS i
        FROM low)
),
ranked AS (
  SELECT doc_id, pos,
         row_number() OVER (PARTITION BY win ORDER BY doc_id, pos) AS rn
  FROM win
),
cov AS (
  SELECT DISTINCT doc_id, pos + j AS cp
  FROM ranked, unnest(range(0, {SUBSTR_K})) AS t(j)
  WHERE rn > 1
),
toks AS (
  SELECT doc_id, i - 1 AS p, w[i] AS tok
  FROM (SELECT doc_id, w, unnest(range(1, len(w) + 1)) AS i FROM raw)
),
kept AS (
  SELECT tk.doc_id, tk.p, tk.tok
  FROM toks tk LEFT JOIN cov c ON tk.doc_id = c.doc_id AND tk.p = c.cp
  WHERE c.doc_id IS NULL
),
agg AS (
  SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS text_deduped,
         count(*) AS n_kept
  FROM kept GROUP BY doc_id
),
base AS (
  SELECT doc_id, len(string_split_regex(text, '\s+')) AS n_tokens
  FROM documents
),
dup AS (SELECT doc_id, count(*) AS dup_tokens FROM cov GROUP BY doc_id)
SELECT b.doc_id, b.n_tokens,
       coalesce(d.dup_tokens, 0) AS dup_tokens,
       b.n_tokens - coalesce(d.dup_tokens, 0) AS n_tokens_deduped,
       coalesce(a.text_deduped, '') AS text_deduped
FROM base b
LEFT JOIN dup d USING (doc_id)
LEFT JOIN agg a USING (doc_id)
"""


def text_gopher_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher Table A1 document-quality signals
    (operators/heuristics.py:gopher_quality_stats — pure higher-order
    functions, no explode, no shuffle; the plan pin lives in
    tests/test_heuristics.py). Ratios rounded to 4dp on both engines."""
    stats = gopher_quality_stats(t(spark, sf_dir, "documents"))
    ratio_cols = [
        "mean_word_len",
        "symbol_word_ratio",
        "bullet_line_frac",
        "ellipsis_line_frac",
        "alpha_word_frac",
    ]
    return stats.select(
        "doc_id",
        "n_words",
        *[(F.round(c, 4) + F.lit(0.0)).alias(c) for c in ratio_cols],
        "required_word_hits",
    )


ORACLE_GOPHER = r"""
WITH base AS (
  SELECT doc_id, text,
         list_filter(string_split_regex(lower(text), '\s+'),
                     t -> t <> '') AS words,
         list_filter(string_split(text, chr(10)),
                     l -> length(trim(l)) > 0) AS lines
  FROM documents
),
m AS (
  SELECT doc_id,
         len(words) AS n_words,
         len(lines) AS n_lines,
         coalesce(list_aggregate(list_transform(words, w -> length(w)),
                                 'sum'), 0) AS char_sum,
         length(text) - length(replace(text, '#', '')) AS n_hash,
         (length(text) - length(replace(text, '...', ''))) / 3
           + (length(text) - length(replace(text, '…', ''))) AS n_ellipsis,
         len(list_filter(lines,
             l -> left(ltrim(l), 1) IN ('•', '‣', '▪', '●', '-', '*')))
           AS bullet_lines,
         len(list_filter(lines,
             l -> ends_with(rtrim(l), '...') OR ends_with(rtrim(l), '…')))
           AS ellipsis_lines,
         len(list_filter(words, w -> regexp_matches(w, '[a-z]')))
           AS alpha_words,
         len(list_filter(['the', 'be', 'to', 'of', 'and', 'that',
                          'have', 'with'],
             w -> list_contains(words, w))) AS required_word_hits
  FROM base
)
SELECT doc_id, n_words,
       round(CASE WHEN n_words > 0 THEN char_sum / n_words ELSE 0.0 END, 4)
         + 0.0 AS mean_word_len,
       round(CASE WHEN n_words > 0 THEN (n_hash + n_ellipsis) / n_words
                  ELSE 0.0 END, 4) + 0.0 AS symbol_word_ratio,
       round(CASE WHEN n_lines > 0 THEN bullet_lines / n_lines
                  ELSE 0.0 END, 4) + 0.0 AS bullet_line_frac,
       round(CASE WHEN n_lines > 0 THEN ellipsis_lines / n_lines
                  ELSE 0.0 END, 4) + 0.0 AS ellipsis_line_frac,
       round(CASE WHEN n_words > 0 THEN alpha_words / n_words
                  ELSE 0.0 END, 4) + 0.0 AS alpha_word_frac,
       required_word_hits
FROM m
"""


def mix_domain_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature domain mixing at web-scale stratum cardinality
    (operators/heuristics.py:domain_mix_scaled): the per-stratum keep
    rates q_d ∝ p_d^T normalized by the peak relative upweight,
    computed with THREE scalars of driver state and applied via
    broadcast join. The oracle recomputes the closed form over the
    ``lang`` strata."""
    docs = t(spark, sf_dir, "documents")
    _, rates = domain_mix_scaled(
        docs, "lang", temperature=MIX_TEMPERATURE
    )
    return rates.select(
        "lang", (F.round("rate", 6) + F.lit(0.0)).alias("rate")
    )


ORACLE_MIX_RATES = f"""
WITH c AS (
  SELECT lang, CAST(count(*) AS DOUBLE) AS n FROM documents GROUP BY 1
),
s AS (
  SELECT sum(n) AS total, sum(pow(n, {MIX_TEMPERATURE})) AS snt FROM c
),
r AS (
  SELECT lang,
         (pow(n, {MIX_TEMPERATURE}) / s.snt) * (s.total / n) AS rel
  FROM c, s
),
p AS (SELECT max(rel) AS peak FROM r)
SELECT lang, round(rel / p.peak, 6) + 0.0 AS rate FROM r, p
"""


def mix_unimax_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax budget water-filling over language strata
    (operators/heuristics.py:unimax_allocation): split half the corpus
    character budget as evenly as possible across languages, capping
    each at {UNIMAX_MAX_EPOCHS} epochs of its own tokens. The oracle
    solves the same water level λ (Σ min(cap_l, λ) = budget) in closed
    form with window functions — the recurrence and the closed form
    agree to fp noise far below the 4dp rounding."""
    docs = t(spark, sf_dir, "documents")
    rows = docs.groupBy("lang").agg(F.sum("n_chars").alias("n")).collect()
    counts = {r["lang"]: float(r["n"]) for r in rows}
    total = sum(sorted(counts.values()))  # sorted: order-stable fp sum
    alloc = unimax_allocation(
        counts,
        budget=UNIMAX_BUDGET_FRAC * total,
        max_epochs=UNIMAX_MAX_EPOCHS,
    )
    out = spark.createDataFrame(
        [(lang, int(counts[lang]), float(alloc[lang]))
         for lang in sorted(alloc)],
        "lang string, n_chars bigint, alloc double",
    )
    return out.select(
        "lang", "n_chars", (F.round("alloc", 4) + F.lit(0.0)).alias("alloc")
    )


ORACLE_UNIMAX = f"""
WITH c AS (
  SELECT lang, CAST(sum(n_chars) AS DOUBLE) AS n FROM documents GROUP BY 1
),
b AS (
  SELECT sum(n) * {UNIMAX_BUDGET_FRAC} AS budget, count(*) AS k FROM c
),
ord AS (
  SELECT lang, n, n * {UNIMAX_MAX_EPOCHS} AS cap,
         row_number() OVER (ORDER BY n * {UNIMAX_MAX_EPOCHS}, lang) AS j,
         sum(n * {UNIMAX_MAX_EPOCHS}) OVER (
           ORDER BY n * {UNIMAX_MAX_EPOCHS}, lang
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s_j
  FROM c
),
-- stratum j is water-filled to its cap iff even splitting what remains
-- before it still covers the cap: cap_j * (k - j + 1) <= budget - S_(j-1)
flag AS (
  SELECT o.*, b.budget, b.k,
         (o.cap * (b.k - o.j + 1) <= b.budget - (o.s_j - o.cap)) AS capped
  FROM ord o, b
),
lvl AS (
  SELECT coalesce(max(j) FILTER (WHERE capped), 0) AS bigj,
         coalesce(max(s_j) FILTER (WHERE capped), 0.0) AS s_bigj
  FROM flag
),
lam AS (
  SELECT CASE WHEN l.bigj >= b.k THEN NULL
              ELSE (b.budget - l.s_bigj) / (b.k - l.bigj) END AS lam
  FROM lvl l, b
)
SELECT f.lang, CAST(f.n AS BIGINT) AS n_chars,
       round(CASE WHEN lam.lam IS NULL THEN f.cap
                  ELSE least(f.cap, lam.lam) END, 4) + 0.0 AS alloc
FROM flag f, lam
"""


def decon_semantic_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic decontamination evidence
    (operators/decontaminate.py:semantic_overlap): each corpus
    embedding's maximum cosine against a benchmark set (every
    {SEM_BENCH_MOD}th vector) via the closure-shipped normalized bench
    matrix and one shuffle-free Arrow kernel. Cosines are double on
    both engines; rounded to 4dp."""
    emb = t(spark, sf_dir, "embeddings")
    bench = emb.filter(F.col("vec_id") % SEM_BENCH_MOD == 0)
    out = semantic_overlap(emb, bench, id_col="vec_id")
    return out.select(
        "vec_id", (F.round("max_cosine", 4) + F.lit(0.0)).alias("max_cosine")
    )


ORACLE_SEM_OVERLAP = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
b AS (SELECT v AS bv FROM e WHERE vec_id % {SEM_BENCH_MOD} = 0)
SELECT e.vec_id,
       round(max(list_dot_product(e.v, b.bv)
                 / (sqrt(list_dot_product(e.v, e.v))
                    * sqrt(list_dot_product(b.bv, b.bv)))), 4) + 0.0
         AS max_cosine
FROM e, b
GROUP BY 1
"""


HH_K = 20
HH_CAPACITY = 200_000  # >> per-partition distinct tokens at every SF
CM_DEPTH = 4
CM_WIDTH = 8192
CM_TOPN = 10


def _term_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        t(spark, sf_dir, "documents")
        .select(F.explode(tokens("text")).alias("term"))
        .filter(F.col("term") != "")
    )


def stats_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Misra–Gries heavy hitters over the corpus token stream
    (operators/sketches.py:misra_gries_topk — bounded per-task state,
    survivor-sized shuffle). At this capacity no task ever evicts, so
    ``max_undercount`` is 0 and the sketch counts are certified EXACT
    — which is precisely what the oracle (an exact count top-k) pins.
    The sketch-regime error bound is tested separately
    (tests/test_sketches.py::test_undercount_bound_holds_under_eviction)."""
    out = misra_gries_topk(
        _term_stream(spark, sf_dir), "term", k=HH_K, capacity=HH_CAPACITY
    )
    return out.select("term", "cnt", "max_undercount", "rank")


ORACLE_HEAVY_HITTERS = f"""
WITH toks AS (
  SELECT t.term
  FROM documents, unnest(string_split_regex(lower(text), '\\s+')) AS t(term)
  WHERE t.term <> ''
),
c AS (SELECT term, count(*) AS cnt FROM toks GROUP BY 1)
SELECT term, cnt, 0 AS max_undercount,
       row_number() OVER (ORDER BY cnt DESC, term) AS rank
FROM c
QUALIFY rank <= {HH_K}
"""


def stats_countmin_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min point estimates for the exact top-{CM_TOPN} tokens,
    emitted as a deterministic error-bound CONTRACT (the
    agg_approx_distinct pattern): est ≥ exact always (counters only
    overcount) and est ≤ exact + ⌈e/width · n⌉ — the CM guarantee at
    its standard confidence, deterministic on the fixed fixture+hash.
    The oracle reproduces the exact counts and the literal bounds."""
    import math

    terms = _term_stream(spark, sf_dir)
    sketch = count_min_sketch(terms, "term", depth=CM_DEPTH, width=CM_WIDTH)
    top = (
        terms.groupBy("term")
        .agg(F.count("*").alias("exact_cnt"))
        .orderBy(F.desc("exact_cnt"), F.asc("term"))
        .limit(CM_TOPN)
    )
    est = cm_estimate(sketch, top, "term", depth=CM_DEPTH, width=CM_WIDTH)
    n_tokens = terms.count()
    slack = int(math.ceil(math.e / CM_WIDTH * n_tokens))
    return top.join(est, "term").select(
        "term",
        "exact_cnt",
        (F.col("est") >= F.col("exact_cnt")).alias("est_ge_exact"),
        (F.col("est") <= F.col("exact_cnt") + F.lit(slack)).alias(
            "est_within_eps"
        ),
    )


# NOTE: est_ge_exact / est_within_eps are hard-coded TRUE — they hold
# PROBABILISTICALLY (~1.8%/key failure odds at depth 4) and are
# deterministic only on the fixed fixture + xxhash64 + width. A
# fixture/width/hash change can flip one with no code bug; the margin
# guard (tests/test_sketches.py::TestProbabilisticOracleMargins)
# asserts the observed slack stays under HALF the bound so erosion
# surfaces there with numbers first. Same applies to
# ORACLE_HLL_DISTINCT and ORACLE_STREAMING_SKETCH below.
ORACLE_COUNTMIN = f"""
WITH toks AS (
  SELECT t.term
  FROM documents, unnest(string_split_regex(lower(text), '\\s+')) AS t(term)
  WHERE t.term <> ''
),
c AS (SELECT term, count(*) AS exact_cnt FROM toks GROUP BY 1),
top AS (
  SELECT term, exact_cnt,
         row_number() OVER (ORDER BY exact_cnt DESC, term) AS rk
  FROM c QUALIFY rk <= {CM_TOPN}
)
SELECT term, exact_cnt, TRUE AS est_ge_exact, TRUE AS est_within_eps
FROM top
"""


SK_DEPTH = 4
SK_WIDTH = 8192
SK_USERS = 10  # watchlist: user_ids 0..9 (present at every SF)


def streaming_sketch_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming windowed count-min
    (streaming/sketches.py:windowed_count_min_stream): per-hour
    sketches built in append mode with bounded depth×width state, then
    probed offline for a 10-user watchlist
    (cm_estimate_windowed). Emitted as the deterministic error-bound
    contract: est ≥ exact (counters only overcount) and
    est ≤ exact + ⌈e/width · n_window⌉. The oracle reproduces the
    exact per-window watchlist counts under the same append-mode
    watermark cutoff (window end ≤ ms-truncated max ts − 1h)."""
    import math

    from ..streaming.pipeline import read_table_stream, run_available_now
    from ..streaming.sketches import (
        cm_estimate_windowed,
        windowed_count_min_stream,
    )

    from ..operators.lineage import cut_lineage_eager
    from ..session import run_concurrently

    # ONE events scan + ONE shuffle for BOTH offline denominators
    # (r15; guide §2.4): watchlist users keep their id, everything
    # else folds into a NULL bucket, so the (w, uid) cell frame is
    # (SK_USERS+1) x n_windows rows — exact counts are the non-NULL
    # cells and the per-window total re-aggregates the tiny cell
    # frame instead of re-scanning events (was: two full scans, two
    # window-bucket shuffles). The lineage cut is what makes the
    # sharing real: without it Catalyst pushes the non-NULL group-key
    # filter below the exact branch's aggregate, the two agg subtrees
    # stop being identical, ReuseExchange can't fire, and the plan
    # scans events twice again (observed before this cut).
    cells_live = (
        t(spark, sf_dir, "events")
        .select(
            F.window("ts", "1 hour").alias("w"),
            F.when(F.col("user_id") < SK_USERS, F.col("user_id")).alias(
                "__uid"
            ),
        )
        .groupBy("w", "__uid")
        .agg(F.count("*").alias("cnt"))
    )
    # the batch cell build is INDEPENDENT of the streaming sketch run
    # — overlap the two jobs (guide §2.6) instead of leaving the
    # cluster idle behind the stream's microbatch barrier
    sketch_stream = windowed_count_min_stream(
        read_table_stream(spark, sf_dir, "events"),
        "ts", "user_id", "1 hour", "1 hour", SK_DEPTH, SK_WIDTH,
    )
    sketch, cells = run_concurrently(
        spark,
        lambda run: run(),
        [
            lambda: run_available_now(
                sketch_stream, "cm_sketch", output_mode="append"
            ),
            lambda: cut_lineage_eager(cells_live),
        ],
    )
    keys = spark.createDataFrame(
        [(i,) for i in range(SK_USERS)], "user_id long"
    )
    est = cm_estimate_windowed(sketch, keys, "user_id", SK_DEPTH, SK_WIDTH)
    exact = cells.filter(F.col("__uid").isNotNull()).select(
        "w", F.col("__uid").alias("user_id"), F.col("cnt").alias("exact_cnt")
    )
    n_win = cells.groupBy("w").agg(F.sum("cnt").alias("n_w"))
    slack = F.ceil(F.lit(math.e / SK_WIDTH) * F.col("n_w"))
    return (
        est.join(exact, ["w", "user_id"], "left")
        .join(n_win, "w")
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "user_id",
            F.coalesce("exact_cnt", F.lit(0)).alias("exact_cnt"),
            (F.col("est") >= F.coalesce("exact_cnt", F.lit(0))).alias(
                "est_ge_exact"
            ),
            (
                F.col("est")
                <= F.coalesce("exact_cnt", F.lit(0)) + slack
            ).alias("est_within_eps"),
        )
    )


ORACLE_STREAMING_SKETCH = f"""
WITH wm AS (
  SELECT (epoch_us(max(ts)) // 1000 - 3600000) * 1000 AS wm_us FROM events
),
wins AS (
  SELECT DISTINCT date_trunc('hour', ts) AS w
  FROM events, wm
  WHERE epoch_us(date_trunc('hour', ts)) + 3600000000 <= wm_us
),
grid AS (
  SELECT w, u.u AS user_id FROM wins, unnest(range(0, {SK_USERS})) AS u(u)
),
ex AS (
  SELECT date_trunc('hour', ts) AS w, user_id, count(*) AS exact_cnt
  FROM events WHERE user_id < {SK_USERS} GROUP BY 1, 2
)
SELECT strftime(g.w, '%Y-%m-%d %H:%M:%S') AS window_start,
       g.user_id,
       coalesce(ex.exact_cnt, 0) AS exact_cnt,
       TRUE AS est_ge_exact,
       TRUE AS est_within_eps
FROM grid g
LEFT JOIN ex ON g.w = ex.w AND g.user_id = ex.user_id
"""


CHUNK_TOKENS = 64
CHUNK_OVERLAP = 16
_STRIDE = CHUNK_TOKENS - CHUNK_OVERLAP


def text_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-length chunking (operators/chunking.py:chunk_documents
    — map-side Generate, zero shuffle, zero UDF): overlapping
    {CHUNK_TOKENS}-token windows at stride {_STRIDE}; the final window
    may run short and a short/empty document yields exactly one chunk.
    The oracle replays the same geometry with list slices."""
    from ..operators.chunking import chunk_documents

    out = chunk_documents(
        t(spark, sf_dir, "documents"), CHUNK_TOKENS, CHUNK_OVERLAP
    )
    return out.select(
        "doc_id", "chunk_idx", "n_chunks", "n_tokens", "chunk_text"
    )


ORACLE_CHUNKING = rf"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\s+'),
                     x -> x <> '') AS w
  FROM documents
),
base AS (
  SELECT doc_id, w,
         greatest(CAST(ceil((len(w) - {CHUNK_OVERLAP}) / {_STRIDE}.0) AS INT),
                  1) AS n_chunks
  FROM toks
)
SELECT doc_id, i AS chunk_idx, n_chunks,
       len(w[i*{_STRIDE}+1 : i*{_STRIDE}+{CHUNK_TOKENS}]) AS n_tokens,
       array_to_string(w[i*{_STRIDE}+1 : i*{_STRIDE}+{CHUNK_TOKENS}], ' ')
         AS chunk_text
FROM base, unnest(range(0, n_chunks)) AS t(i)
"""


CONT_THRESHOLD = 0.7  # max-containment cut; fixture margin >= 0.3


def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-dup pairs
    (operators/dedup.py:containment_pairs): shingle containment in
    both directions over banded-MinHash candidates — the
    quote-inclusion/superset measure Jaccard dilutes away. The oracle
    replays candidates (same md5 MinHash bands as the LSH oracles) and
    verifies containment with exact intersection counts."""
    from ..operators.dedup import containment_pairs
    from .dedup import BANDS, NUM_HASHES, SHINGLE_N

    return containment_pairs(
        t(spark, sf_dir, "documents"),
        num_hashes=NUM_HASHES,
        bands=BANDS,
        shingle_n=SHINGLE_N,
        threshold=CONT_THRESHOLD,
    )


def _oracle_containment() -> str:
    from .dedup import _BAND_CASES, _SHINGLE_CTE, _SIG_CTE, BANDS

    return f"""
WITH {_SHINGLE_CTE.strip()},
{_SIG_CTE.strip()},
band AS (
  SELECT doc_id, b,
         CASE b
           {_BAND_CASES}
         END AS bh
  FROM (SELECT sig.*, unnest(range(0, {BANDS})) AS b FROM sig)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM band a JOIN band b
    ON a.b = b.b AND a.bh = b.bh AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
common AS (
  SELECT c.doc_a, c.doc_b, count(*) AS n_common
  FROM cand c
  JOIN sh a ON a.doc_id = c.doc_a
  JOIN sh b ON b.doc_id = c.doc_b AND a.shingle = b.shingle
  GROUP BY c.doc_a, c.doc_b
)
SELECT doc_a, doc_b,
       round(n_common / sa.n_sh, 4) AS cont_a_in_b,
       round(n_common / sb.n_sh, 4) AS cont_b_in_a,
       round(n_common / (sa.n_sh + sb.n_sh - n_common), 4) AS jaccard
FROM common
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
WHERE greatest(n_common / sa.n_sh, n_common / sb.n_sh) >= {CONT_THRESHOLD}
"""


PREFIX_JOIN_THRESHOLD = 0.5


def dedup_jaccard_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard similarity join via prefix filtering
    (operators/dedup.py:jaccard_join_prefix — AllPairs candidate rule,
    rarest-shingle prefixes, size filter, map-side verification). The
    oracle is deliberately the BRUTE-FORCE all-pairs join: if the
    prefix pruning ever dropped a qualifying pair, the hash comparison
    would catch the missing row — completeness is the checked
    property, not just the scores."""
    from ..operators.dedup import jaccard_join_prefix
    from .dedup import SHINGLE_N

    return jaccard_join_prefix(
        t(spark, sf_dir, "documents"),
        shingle_n=SHINGLE_N,
        threshold=PREFIX_JOIN_THRESHOLD,
    )


def _oracle_prefix_join() -> str:
    from .dedup import _SHINGLE_CTE

    return f"""
WITH {_SHINGLE_CTE.strip()},
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(n_common / (sa.n_sh + sb.n_sh - n_common), 4) AS jaccard
FROM common
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
WHERE n_common / (sa.n_sh + sb.n_sh - n_common) >= {PREFIX_JOIN_THRESHOLD}
"""


SAMPLE_K = 5
SAMPLE_SALT = "v1"


def sample_k_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic exact-k per-stratum sample
    (operators/splits.py:sample_exact_k_per_stratum): k documents per
    language, selected by salted-md5 order — portable across engines,
    so the oracle re-derives the identical sample."""
    from ..operators.splits import sample_exact_k_per_stratum

    out = sample_exact_k_per_stratum(
        t(spark, sf_dir, "documents").select("doc_id", "lang"),
        "lang",
        SAMPLE_K,
        salt=SAMPLE_SALT,
    )
    return out.select("doc_id", "lang")


ORACLE_SAMPLE_K = f"""
SELECT doc_id, lang
FROM (
  SELECT doc_id, lang,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY md5('{SAMPLE_SALT}' || ':' || CAST(doc_id AS VARCHAR)),
                    doc_id
         ) AS rn
  FROM documents
)
WHERE rn <= {SAMPLE_K}
"""


def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-best near-dedup election
    (operators/dedup.py:neardup_keep_best): LSH → verify → connected
    components, then each cluster keeps its member maximizing
    ``n_chars`` (ties → smallest id) instead of the id-minimum. The
    oracle recomputes true components with a recursive CTE and elects
    with the same (quality DESC, id ASC) window."""
    from ..operators.dedup import neardup_keep_best
    from .dedup import BANDS, LSH_VERIFY_THRESHOLD, NUM_HASHES, SHINGLE_N

    out = neardup_keep_best(
        t(spark, sf_dir, "documents").select("doc_id", "text", "n_chars"),
        "n_chars",
        num_hashes=NUM_HASHES,
        bands=BANDS,
        shingle_n=SHINGLE_N,
        threshold=LSH_VERIFY_THRESHOLD,
    )
    return out.select("doc_id", "cluster_rep", "keep")


def _oracle_keep_best() -> str:
    from .dedup import (
        _BAND_CASES,
        _SHINGLE_CTE,
        _SIG_CTE,
        BANDS,
        LSH_VERIFY_THRESHOLD,
    )

    return f"""
WITH RECURSIVE {_SHINGLE_CTE.strip()},
{_SIG_CTE.strip()},
band AS (
  SELECT doc_id, b,
         CASE b
           {_BAND_CASES}
         END AS bh
  FROM (SELECT sig.*, unnest(range(0, {BANDS})) AS b FROM sig)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM band a JOIN band b
    ON a.b = b.b AND a.bh = b.bh AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
common AS (
  SELECT c.doc_a, c.doc_b, count(*) AS n_common
  FROM cand c
  JOIN sh a ON a.doc_id = c.doc_a
  JOIN sh b ON b.doc_id = c.doc_b AND a.shingle = b.shingle
  GROUP BY c.doc_a, c.doc_b
),
vp AS (
  SELECT doc_a, doc_b
  FROM common
  JOIN sizes sa ON doc_a = sa.doc_id
  JOIN sizes sb ON doc_b = sb.doc_id
  WHERE n_common / (sa.n_sh + sb.n_sh - n_common) >= {LSH_VERIFY_THRESHOLD}
),
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM vp
  UNION
  SELECT doc_b AS u, doc_a AS v FROM vp
),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
),
clusters AS (
  SELECT d.doc_id, d.n_chars,
         least(d.doc_id, coalesce(m.mv, d.doc_id)) AS cluster_rep
  FROM documents d
  LEFT JOIN (SELECT u, min(v) AS mv FROM reach GROUP BY u) m
    ON d.doc_id = m.u
)
SELECT doc_id, cluster_rep,
       row_number() OVER (
         PARTITION BY cluster_rep ORDER BY n_chars DESC, doc_id
       ) = 1 AS keep
FROM clusters
"""


def dedup_containment_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT max-containment join
    (operators/dedup.py:containment_join_prefix — smaller-set prefix
    probes against a full inverted index; complete, unlike the
    MinHash-band candidates of dedup_containment_pairs). The oracle is
    the brute-force all-pairs containment join, so completeness is the
    hash-checked property."""
    from ..operators.dedup import containment_join_prefix
    from .dedup import SHINGLE_N

    return containment_join_prefix(
        t(spark, sf_dir, "documents"),
        shingle_n=SHINGLE_N,
        threshold=CONT_THRESHOLD,
    )


def _oracle_containment_join() -> str:
    from .dedup import _SHINGLE_CTE

    return f"""
WITH {_SHINGLE_CTE.strip()},
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(n_common / sa.n_sh, 4) AS cont_a_in_b,
       round(n_common / sb.n_sh, 4) AS cont_b_in_a,
       round(n_common / (sa.n_sh + sb.n_sh - n_common), 4) AS jaccard
FROM common
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
WHERE greatest(n_common / sa.n_sh, n_common / sb.n_sh) >= {CONT_THRESHOLD}
"""


HLL_LG_K = 12
# 5 standard errors at lg_k=12 (sigma = 1.04/sqrt(2^12) ~ 1.63%)
HLL_REL_BOUND = 5 * 1.04 / (2 ** (HLL_LG_K / 2))


def stats_hll_distinct_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL distinct-token sketches per language
    (operators/sketches.py:hll_distinct_sketch/hll_estimate — the
    persistable, unionable state approx_count_distinct cannot give).
    Error-bound contract: the estimate must land within
    {HLL_REL_BOUND:.3f} relative of the exact per-language distinct
    count (5σ at lg_k={HLL_LG_K}); the oracle reproduces the exact
    counts and the literal bound."""
    from ..operators.sketches import hll_distinct_sketch, hll_estimate

    terms = (
        t(spark, sf_dir, "documents")
        .select("lang", F.explode(tokens("text")).alias("term"))
        .filter(F.col("term") != "")
    )
    est = hll_estimate(
        hll_distinct_sketch(terms, "term", by="lang", lg_k=HLL_LG_K)
    ).select("lang", "estimate")
    exact = terms.groupBy("lang").agg(
        F.count_distinct("term").alias("exact_distinct")
    )
    return est.join(exact, "lang").select(
        "lang",
        "exact_distinct",
        (
            F.abs(F.col("estimate") - F.col("exact_distinct"))
            <= F.lit(HLL_REL_BOUND) * F.col("exact_distinct")
        ).alias("within_bound"),
    )


ORACLE_HLL_DISTINCT = """
WITH toks AS (
  SELECT lang, t.term
  FROM documents, unnest(string_split_regex(lower(text), '\\s+')) AS t(term)
  WHERE t.term <> ''
)
SELECT lang, count(DISTINCT term) AS exact_distinct, TRUE AS within_bound
FROM toks GROUP BY lang
"""


SHARD_TOKENS = 5000
SHARD_SEED = 3


def _md5_order(seed: int, id_col: str):
    return F.md5(
        F.concat_ws(":", F.lit(str(seed)), F.col(id_col).cast("string"))
    )


def order_token_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-balanced shard assignment
    (operators/ordering.py:assign_token_shards — distributed exact
    running sum: per-partition token totals prefix-summed on the
    driver, per-partition windows add the offsets; no single-partition
    global window). Ordered by a portable salted-md5 key so the oracle
    re-derives the identical cumulative sums with one window; token
    counts are whitespace-token sizes computed in the projection."""
    from ..operators.ordering import assign_token_shards

    docs = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.filter(tokens("text"), lambda x: x != "")).alias(
            "n_tokens"
        ),
    )
    out = assign_token_shards(
        docs,
        SHARD_TOKENS,
        SHARD_SEED,
        order_fn=_md5_order,
    )
    return out.select("doc_id", "n_tokens", "shard_id")


ORACLE_TOKEN_SHARDS = rf"""
WITH d AS (
  SELECT doc_id,
         len(list_filter(string_split_regex(lower(text), '\s+'),
                         x -> x <> '')) AS n_tokens,
         md5('{SHARD_SEED}' || ':' || CAST(doc_id AS VARCHAR)) AS k
  FROM documents
),
c AS (
  SELECT doc_id, n_tokens,
         coalesce(sum(n_tokens) OVER (
           ORDER BY k, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS cum_before
  FROM d
)
SELECT doc_id, n_tokens,
       CAST(cum_before // {SHARD_TOKENS} AS BIGINT) AS shard_id
FROM c
"""


BLOOM_M_BITS = 1 << 17
BLOOM_K = 5


def dedup_bloom_antijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered EXACT anti-join
    (operators/sketches.py:bloom_prefilter_antijoin): customers who
    never placed an 'F'-status order. Keys missing the broadcast word
    table bypass the join (Bloom misses are certain); only the
    maybe-seen sliver pays the exact anti-join — so the oracle is the
    plain NOT EXISTS, an exact contract, not an error bound."""
    from ..operators.sketches import bloom_prefilter_antijoin

    cust = t(spark, sf_dir, "customer")
    seen = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    out = bloom_prefilter_antijoin(cust, seen, "c_custkey", BLOOM_M_BITS, BLOOM_K)
    return out.select(F.col("c_custkey").cast("long").alias("c_custkey"))


ORACLE_BLOOM_ANTIJOIN = """
SELECT CAST(c_custkey AS BIGINT) AS c_custkey
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
"""


DSIR_BUCKETS = 4096
DSIR_NGRAM = 2
DSIR_ALPHA = 1.0
DSIR_TARGET_LANG = "en"
DSIR_K = 25
DSIR_SEED = "dsir-v1"
# min |frac(k·10^4) − 0.5| probed at 3.2e-4 / 7.4e-4 / 6.9e-5 grid
# units (sf0.001/0.01/0.1) — above the 1e-5 house precedent, vs
# ~1e-9-grid-unit cross-engine summation drift on the logw sums
DSIR_DECIMALS = 4
_GM = 1 << 20  # operators/dsir.py:_GUMBEL_M


def mix_dsir_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling, fit→score→Gumbel-top-k
    (operators/dsir.py): target = the '{DSIR_TARGET_LANG}' slice, raw
    = the whole corpus, hashed-bigram features under the PORTABLE md5
    featurizer (top 60 md5 bits — DuckDB replays the identical buckets
    via CAST('0x'||substr(md5(g),1,15) AS BIGINT)), and the Gumbel
    variates drawn from the same portable hash of (seed, doc_id). The
    oracle recomputes the entire pipeline relationally — per-bucket
    counts, add-α log ratios in the same association order, per-doc
    Σ ratio, Gumbel perturbation — and cuts the same top-{DSIR_K} on
    the ROUNDED key with the id tie-break."""
    from ..operators.dsir import _gumbel_key, dsir_fit_score

    # featurize-once path (r14): fit_dsir + score_dsir hash every gram
    # three times (target fit, raw fit, scoring); dsir_fit_score emits
    # the occurrence-ordered bucket arrays once and derives both the
    # model and the scores from them — model log-ratio and every
    # per-doc double verified BIT-IDENTICAL to the 3-pass shape at
    # sf0.1 (med 2.49 -> 1.76 s interleaved A/B)
    docs = t(spark, sf_dir, "documents").select(
        "doc_id",
        "text",
        (F.col("lang") == DSIR_TARGET_LANG).alias("__is_tgt"),
    )
    _, scored = dsir_fit_score(
        docs,
        "__is_tgt",
        n_buckets=DSIR_BUCKETS,
        ngram_max=DSIR_NGRAM,
        alpha=DSIR_ALPHA,
        hasher="md5",
    )
    key = _gumbel_key("dsir_logw", "doc_id", DSIR_SEED, method="md5")
    w = W.orderBy(F.desc("sel_key"), F.asc("doc_id"))
    return (
        scored.withColumn(
            "sel_key", F.round(key, DSIR_DECIMALS) + F.lit(0.0)
        )
        .select("doc_id", "sel_key")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= DSIR_K)
    )


# ln association order mirrors numpy's (log_p − log_q) elementwise:
# (ln(t_b+α) − ln(T)) − (ln(r_b+α) − ln(R)) — NOT re-associated, so the
# doubles agree to summation-order noise only
ORACLE_DSIR = rf"""
WITH toks AS (
  SELECT doc_id, lang,
         list_filter(string_split_regex(lower(text), '\s+'),
                     x -> x <> '') AS w
  FROM documents
),
uni AS (
  SELECT doc_id, w[i] AS gram
  FROM (SELECT doc_id, w, unnest(range(1, len(w) + 1)) AS i FROM toks)
),
bi AS (
  SELECT doc_id, w[i] || ' ' || w[i + 1] AS gram
  FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS i FROM toks)
),
grams AS (
  SELECT doc_id, gram FROM uni UNION ALL SELECT doc_id, gram FROM bi
),
gb AS (
  SELECT doc_id,
         CAST('0x' || substr(md5(gram), 1, 15) AS BIGINT) % {DSIR_BUCKETS} AS b
  FROM grams
),
tgt AS (SELECT doc_id FROM documents WHERE lang = '{DSIR_TARGET_LANG}'),
tc AS (
  SELECT b, CAST(count(*) AS DOUBLE) AS c
  FROM gb JOIN tgt USING (doc_id) GROUP BY 1
),
rc AS (SELECT b, CAST(count(*) AS DOUBLE) AS c FROM gb GROUP BY 1),
tot AS (
  SELECT (SELECT coalesce(sum(c), 0.0) FROM tc) AS t_tot,
         (SELECT coalesce(sum(c), 0.0) FROM rc) AS r_tot
),
dw AS (
  SELECT g.doc_id,
         sum(
           (ln(coalesce(tc.c, 0.0) + {DSIR_ALPHA})
            - ln(t.t_tot + {DSIR_ALPHA} * {DSIR_BUCKETS}))
           - (ln(coalesce(rc.c, 0.0) + {DSIR_ALPHA})
              - ln(t.r_tot + {DSIR_ALPHA} * {DSIR_BUCKETS}))
         ) AS logw
  FROM gb g
  LEFT JOIN tc ON g.b = tc.b
  LEFT JOIN rc ON g.b = rc.b
  CROSS JOIN tot t
  GROUP BY 1
),
sel AS (
  SELECT d.doc_id,
         coalesce(dw.logw, 0.0)
         + (- ln(- ln(
             (CAST('0x' || substr(
                md5('{DSIR_SEED}:' || CAST(d.doc_id AS VARCHAR)), 1, 15)
              AS BIGINT) % {_GM} + 0.5) / {_GM}.0
           ))) AS k
  FROM documents d LEFT JOIN dw USING (doc_id)
)
SELECT doc_id, round(k, {DSIR_DECIMALS}) + 0.0 AS sel_key,
       row_number() OVER (
         ORDER BY round(k, {DSIR_DECIMALS}) + 0.0 DESC, doc_id
       ) AS rank
FROM sel
QUALIFY rank <= {DSIR_K}
"""


def streaming_static_enrich_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STATIC join (the production enrichment shape §2.9 still
    lacked a declared lane for): the event stream inner-joins the
    static customer dimension — broadcast, so stream micro-batches
    never shuffle for the join — then windowed counts per market
    segment under the 1h watermark, append mode (each closed window
    emitted exactly once). The oracle replays the join and the
    append-mode cutoff (window end ≤ ms-truncated max ts − 1h)."""
    from ..streaming.pipeline import read_table_stream, run_available_now

    src = read_table_stream(spark, sf_dir, "events")
    cust = t(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("long").alias("user_id"), "c_mktsegment"
    )
    agg = (
        src.withWatermark("ts", "1 hour")
        .join(F.broadcast(cust), "user_id")
        .groupBy(F.window("ts", "1 hour").alias("w"), "c_mktsegment")
        .agg(F.count("*").alias("cnt"))
    )
    out = run_available_now(agg, "static_enrich", output_mode="append")
    return out.select(
        F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "c_mktsegment",
        "cnt",
    )


ORACLE_STATIC_ENRICH = """
WITH wm AS (
  SELECT (epoch_us(max(ts)) // 1000 - 3600000) * 1000 AS wm_us FROM events
),
j AS (
  SELECT date_trunc('hour', e.ts) AS w, c.c_mktsegment
  FROM events e JOIN customer c ON e.user_id = c.c_custkey, wm
  WHERE epoch_us(date_trunc('hour', e.ts)) + 3600000000 <= wm.wm_us
)
SELECT strftime(w, '%Y-%m-%d %H:%M:%S') AS window_start,
       c_mktsegment, CAST(count(*) AS BIGINT) AS cnt
FROM j GROUP BY 1, 2
"""


# sparse slice: at value > 200 the (type, hour) lattice is mostly
# holes at every SF (3585/3432/2231 empty cells of ~3600 at
# sf0.001/0.01/0.1), so both fill methods AND the NULL edges are
# genuinely exercised — threshold 30 left sf0.1 gap-free (vacuous)
GAPFILL_MIN_VALUE = 200.0


RH_BITS = 16
RH_BANDS = 4
RH_SEED = "rh-v1"
RH_THRESHOLD = 0.45  # EMB_DUP_THRESHOLD — the IVF lane's cut


def dedup_embedding_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH near-dup pairs
    (operators/embedding_lsh.py — the fit-free SimHash-for-vectors
    rung next to the learned-IVF lane, same 0.45 verify cut): md5-
    derived Rademacher planes (engine-regenerable), {RH_BITS}-bit
    signatures in {RH_BANDS} bands, exact-cosine verification. The
    oracle regenerates planes/signatures/bands relationally and
    verifies with list_dot_product. Sign margins probed
    (1.1e-4/3.2e-4/5.2e-5 min |⟨w,x⟩|, vs ~1e-14 drift); threshold
    margin ≥ 1.4e-4; 4dp rounding margin ≥ 1.8e-3 grid units."""
    from ..operators.embedding_lsh import embedding_lsh_pairs
    from .vector import _embeddings

    pairs = embedding_lsh_pairs(
        _embeddings(spark, sf_dir),
        RH_THRESHOLD,
        n_bits=RH_BITS,
        bands=RH_BANDS,
        seed=RH_SEED,
    )
    return pairs.select(
        "vec_a", "vec_b", (F.round("cosine", 4) + F.lit(0.0)).alias("cosine")
    )


ORACLE_EMB_LSH = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
w AS (
  SELECT i.i AS i, j.j AS j,
         CASE WHEN CAST('0x' || substr(md5('{RH_SEED}:' || i.i || ':' || j.j),
                         1, 15) AS BIGINT) % 2 = 0
              THEN 1.0 ELSE -1.0 END AS s
  FROM unnest(range(0, {RH_BITS})) i(i),
       unnest(range(0, 64)) j(j)
),
proj AS (
  SELECT e.vec_id, w.i, sum(w.s * e.v[w.j + 1]) AS p
  FROM e, w GROUP BY 1, 2
),
bandv AS (
  SELECT vec_id, i // {RH_BITS // RH_BANDS} AS band,
         string_agg(CASE WHEN p >= 0 THEN '1' ELSE '0' END, ''
                    ORDER BY i) AS bv
  FROM proj GROUP BY 1, 2
),
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM bandv a
  JOIN bandv b ON a.band = b.band AND a.bv = b.bv AND a.vec_id < b.vec_id
)
SELECT vec_a, vec_b,
       round(list_dot_product(ea.v, eb.v)
             / (sqrt(list_dot_product(ea.v, ea.v))
                * sqrt(list_dot_product(eb.v, eb.v))), 4) + 0.0 AS cosine
FROM cand
JOIN e ea ON vec_a = ea.vec_id
JOIN e eb ON vec_b = eb.vec_id
WHERE list_dot_product(ea.v, eb.v)
      / (sqrt(list_dot_product(ea.v, ea.v))
         * sqrt(list_dot_product(eb.v, eb.v))) >= {RH_THRESHOLD}
"""


def _gapfill_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse per-(event_type, hour) int-cents sums — the aggregated
    series both gap-fill lanes densify."""
    ev = t(spark, sf_dir, "events").filter(F.col("value") > GAPFILL_MIN_VALUE)
    return ev.groupBy(
        F.date_trunc("hour", "ts").alias("bucket"), "event_type"
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents")
    )


def ts_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bucket gap fill, last-observation-carried-forward
    (operators/gapfill.py — the TimescaleDB time_bucket_gapfill+locf
    shape): the sparse per-type hourly cents series densified to the
    global hour lattice; leading edges stay NULL. All-integer values,
    so the oracle (the same two-window fill-group trick, no IGNORE
    NULLS dependency) matches exactly."""
    from ..operators.gapfill import gapfill

    out = gapfill(
        _gapfill_series(spark, sf_dir),
        "bucket", ["event_type"], "cents", 3600, method="locf",
    )
    return out.select(
        "event_type",
        F.date_format("bucket", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        F.col("cents").alias("cents_locf"),
    )


_GAPFILL_BASE_CTE = f"""
s AS (
  SELECT date_trunc('hour', ts) AS bucket, event_type,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events WHERE value > {GAPFILL_MIN_VALUE} GROUP BY 1, 2
),
grid AS (
  -- the TABLE generate_series takes only constants; the LIST form
  -- accepts columns, so unnest it
  SELECT d.event_type,
         unnest(generate_series(b.lo, b.hi, INTERVAL 1 HOUR)) AS bucket
  FROM (SELECT DISTINCT event_type FROM s) d,
       (SELECT min(bucket) AS lo, max(bucket) AS hi FROM s) b
),
dense AS (
  SELECT g.event_type, g.bucket, s.cents AS v
  FROM grid g
  LEFT JOIN s ON s.event_type = g.event_type AND s.bucket = g.bucket
)
"""

ORACLE_GAPFILL_LOCF = f"""
WITH {_GAPFILL_BASE_CTE.strip()},
grp AS (
  SELECT *,
         count(v) OVER (PARTITION BY event_type ORDER BY bucket) AS fg
  FROM dense
)
SELECT event_type,
       strftime(bucket, '%Y-%m-%d %H:%M:%S') AS window_start,
       CASE WHEN fg > 0 THEN
         first_value(v) OVER (PARTITION BY event_type, fg ORDER BY bucket)
       END AS cents_locf
FROM grp
"""


def ts_gapfill_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap fill by linear interpolation between the bracketing
    observations (no extrapolation — range edges stay NULL). v_lin is
    emitted RAW, not rounded (the Q2 unit_cost precedent): midpoint
    interps of cent values land on EXACT half-cent decimal ties
    (probed: boundary distance 0 at 3-4dp), where the two engines'
    round() implementations legitimately disagree on the SAME double
    (BigDecimal-exact vs float-multiply) — but every operand chain
    (cents/100, diffs, the one exact-integer-delta division,
    multiply-add in identical association) is correctly rounded from
    identical operands, so the raw doubles are bit-equal and hash
    identically. (Time fractions from seconds vs microseconds are the
    same real scaled by 1e6, hence the same double.)"""
    from ..operators.gapfill import gapfill

    series = _gapfill_series(spark, sf_dir).select(
        "bucket",
        "event_type",
        (F.col("cents") / F.lit(100.0).cast("double")).alias("v"),
    )
    out = gapfill(
        series, "bucket", ["event_type"], "v", 3600, method="linear"
    )
    return out.select(
        "event_type",
        F.date_format("bucket", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        (F.col("v") + F.lit(0.0)).alias("v_lin"),
    )


ORACLE_GAPFILL_LINEAR = f"""
WITH {_GAPFILL_BASE_CTE.strip()},
dv AS (
  SELECT event_type, bucket, v / CAST(100.0 AS DOUBLE) AS v
  FROM dense
),
grp AS (
  SELECT *,
         count(v) OVER (PARTITION BY event_type ORDER BY bucket) AS fg,
         count(v) OVER (PARTITION BY event_type ORDER BY bucket DESC) AS fgn
  FROM dv
),
br AS (
  SELECT *,
         CASE WHEN fg > 0 THEN
           first_value(v) OVER (PARTITION BY event_type, fg ORDER BY bucket)
         END AS pv,
         CASE WHEN fg > 0 THEN
           first_value(bucket) OVER (PARTITION BY event_type, fg ORDER BY bucket)
         END AS pt,
         CASE WHEN fgn > 0 THEN
           first_value(v) OVER (PARTITION BY event_type, fgn ORDER BY bucket DESC)
         END AS nv,
         CASE WHEN fgn > 0 THEN
           first_value(bucket) OVER (PARTITION BY event_type, fgn ORDER BY bucket DESC)
         END AS nt
  FROM grp
)
SELECT event_type,
       strftime(bucket, '%Y-%m-%d %H:%M:%S') AS window_start,
       CASE WHEN v IS NOT NULL THEN v
            WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
              pv + (nv - pv) * ((epoch_us(bucket) - epoch_us(pt))
                                / (epoch_us(nt) - epoch_us(pt)))
       END + 0.0 AS v_lin
FROM br
"""


SHH_BUCKETS = 8
SHH_CAPACITY = 4096  # >> per-bucket distinct users at every SF
SHH_K = 20


def streaming_heavy_hitters_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running heavy hitters over the replayed event stream
    (streaming/sketches.py:streaming_heavy_hitters — salted-bucket
    Misra–Gries in applyInPandasWithState GroupState, state ≤
    buckets×capacity however many keys flow). At this capacity no
    bucket ever evicts, so every count is certified EXACT
    (max_undercount 0) and the final summary is independent of the
    micro-batch split — which is precisely what the oracle (exact
    count top-k over the same events) pins, the batch
    stats_heavy_hitters recipe applied to the stream. The
    eviction-regime certificate is tested separately
    (tests/test_sketches.py::test_bounds_and_hot_guarantee_vs_exact)."""
    from ..streaming.pipeline import read_table_stream, run_available_now
    from ..streaming.sketches import latest_hh_summary, streaming_heavy_hitters

    src = read_table_stream(spark, sf_dir, "events")
    sink = run_available_now(
        streaming_heavy_hitters(src, "user_id", SHH_BUCKETS, SHH_CAPACITY),
        "hh_topk",
        output_mode="update",
    )
    summary = latest_hh_summary(sink)
    w = W.orderBy(F.desc("cnt"), F.asc("user_id"))
    return (
        summary.select(
            F.col("term").cast("long").alias("user_id"),
            "cnt",
            F.col("dec").alias("max_undercount"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= SHH_K)
    )


ORACLE_STREAMING_HH = f"""
WITH c AS (SELECT user_id, count(*) AS cnt FROM events GROUP BY 1)
SELECT user_id, cnt, CAST(0 AS BIGINT) AS max_undercount,
       row_number() OVER (ORDER BY cnt DESC, user_id) AS rank
FROM c
QUALIFY rank <= {SHH_K}
"""


NB_DECIMALS = 4


def text_nb_lang_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes language classifier (operators/nb.py —
    the one-pass trainable stand-in for CCNet/fastText-style corpus
    filters; DSIR's supervised sibling): fit add-1 NB on (lang, text)
    over whitespace tokens, classify the same corpus, emit the
    arg-max lang and its {NB_DECIMALS}dp score. Ranking is on ROUNDED
    scores with a lang tie-break per house convention; the oracle
    refits the identical model relationally. Margins probed per
    fixture (top-2 gap and 4dp grid distance vs ~1e-12 drift)."""
    from ..operators.nb import nb_classify, nb_train

    docs = t(spark, sf_dir, "documents")
    token_logp, priors = nb_train(docs, text_col="text", label_col="lang")
    out = nb_classify(
        docs,
        token_logp,
        priors,
        id_col="doc_id",
        text_col="text",
        label_col="lang",
        score_decimals=NB_DECIMALS,
    )
    return out.select(
        "doc_id", F.col("lang").alias("pred_lang"), "score"
    )


ORACLE_NB = rf"""
WITH toks AS (
  SELECT doc_id, lang, t.term AS token
  FROM documents, unnest(string_split_regex(lower(text), '\s+')) AS t(term)
  WHERE t.term <> ''
),
counts AS (SELECT token, lang, count(*) AS cnt FROM toks GROUP BY 1, 2),
class_tot AS (SELECT lang, count(*) AS tot FROM toks GROUP BY 1),
vocab AS (SELECT DISTINCT token FROM counts),
v AS (SELECT CAST(count(*) AS DOUBLE) AS vs FROM vocab),
logp AS (
  SELECT g.token, g.lang,
         ln((coalesce(c.cnt, 0) + 1.0) / (g.tot + 1.0 * v.vs)) AS logp
  FROM (SELECT token, lang, tot FROM vocab CROSS JOIN class_tot) g
  LEFT JOIN counts c ON g.token = c.token AND g.lang = c.lang
  CROSS JOIN v
),
priors AS (
  SELECT lang,
         ln(count(*) / CAST((SELECT count(*) FROM documents) AS DOUBLE))
           AS logprior
  FROM documents GROUP BY 1
),
doc_toks AS (SELECT doc_id, token, count(*) AS n_t FROM toks GROUP BY 1, 2),
sc AS (
  SELECT dt.doc_id, lp.lang, sum(dt.n_t * lp.logp) AS ll
  FROM doc_toks dt JOIN logp lp ON dt.token = lp.token
  GROUP BY 1, 2
),
scf AS (
  SELECT sc.doc_id, sc.lang,
         round(sc.ll + p.logprior, {NB_DECIMALS}) + 0.0 AS score
  FROM sc JOIN priors p ON sc.lang = p.lang
),
r AS (
  SELECT doc_id, lang, score,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, lang) AS rn
  FROM scf
)
SELECT doc_id, lang AS pred_lang, score FROM r WHERE rn = 1
"""


PACK_SEQ_LEN = 2048
PACK_SEED = 5


def order_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style concat-and-split sequence packing
    (operators/ordering.py:pack_sequences): the document corpus laid
    end-to-end in portable-md5 epoch order and cut into
    {PACK_SEQ_LEN}-token training sequences — one row per (document,
    sequence spanned) with seq_start / doc_offset / n_in_seq span
    arithmetic. Same distributed exact prefix sum as
    order_token_shards; the oracle re-derives it with one window +
    unnest(range(...)). All-integer."""
    from ..operators.ordering import pack_sequences

    docs = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.filter(tokens("text"), lambda x: x != "")).alias(
            "n_tokens"
        ),
    )
    out = pack_sequences(
        docs, PACK_SEQ_LEN, PACK_SEED, order_fn=_md5_order
    )
    return out.select(
        "doc_id", "n_tokens", "seq_id", "seq_start", "doc_offset",
        "n_in_seq",
    )


ORACLE_PACK_SEQ = rf"""
WITH d AS (
  SELECT doc_id,
         len(list_filter(string_split_regex(lower(text), '\s+'),
                         x -> x <> '')) AS n_tokens,
         md5('{PACK_SEED}' || ':' || CAST(doc_id AS VARCHAR)) AS k
  FROM documents
),
c AS (
  SELECT doc_id, n_tokens,
         CAST(coalesce(sum(n_tokens) OVER (
           ORDER BY k, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS BIGINT) AS cum
  FROM d
),
x AS (
  SELECT doc_id, n_tokens, cum, s.seq_id
  FROM c, unnest(range(cum // {PACK_SEQ_LEN},
                       (cum + n_tokens - 1) // {PACK_SEQ_LEN} + 1))
         AS s(seq_id)
  WHERE n_tokens > 0
)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(seq_id AS BIGINT) AS seq_id,
       CAST(greatest(cum, seq_id * {PACK_SEQ_LEN})
            - seq_id * {PACK_SEQ_LEN} AS BIGINT) AS seq_start,
       CAST(greatest(cum, seq_id * {PACK_SEQ_LEN}) - cum AS BIGINT)
         AS doc_offset,
       CAST(least(cum + n_tokens, (seq_id + 1) * {PACK_SEQ_LEN})
            - greatest(cum, seq_id * {PACK_SEQ_LEN}) AS BIGINT)
         AS n_in_seq
FROM x
"""


QUANTILE_PROBES = {"p25": 0.25, "p50": 0.5, "p75": 0.75, "p90": 0.9,
                   "p99": 0.99}
QUANTILE_SAMPLES = 256


def stats_quantile_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile summary (operators/quantiles.py — the rank
    rung of the sketch ladder next to MG/CM/HLL/Bloom) emitted as a
    DETERMINISTIC two-sided rank contract over lineitem int-cents
    prices: count(x <= est) >= target and count(x < est) < target + B
    with B = sum_p (k_p - 1). Unlike the CM/HLL contracts the bound
    is worst-case (no failure probability) and holds for ANY physical
    partitioning, so the hard-coded-TRUE oracle is sound by theorem,
    not by fixture; the estimate itself is partitioning-dependent and
    deliberately NOT emitted."""
    from ..operators.quantiles import (
        estimate_quantiles,
        quantile_summary,
        summary_bounds,
    )

    li = t(spark, sf_dir, "lineitem").select(
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents")
    )
    rows = [
        r.asDict()
        for r in quantile_summary(
            li, "cents", samples=QUANTILE_SAMPLES
        ).collect()
    ]  # bounded driver state: partitions x samples rows
    est, n = estimate_quantiles(rows, list(QUANTILE_PROBES.values()))
    b, _ = summary_bounds(rows)
    import math

    # One conditional aggregation instead of crossJoin(5 probes) +
    # groupBy: the old shape exchanged a 5x-multiplied copy of the
    # whole cents column to re-group it on the probe label; the probe
    # estimates are driver literals, so all ten pass-through counts
    # fold into ONE partially-aggregating scan and the 5-row contract
    # table is a stack() over the single result row (guide §2.3/§2.4
    # — aggregate before you shuffle, remove the exchange outright;
    # measured interleaved A/B at sf0.1: med 1.69 -> 0.78 s).
    aggs, stack_args = [], []
    for label, q in QUANTILE_PROBES.items():
        e = int(est[q])
        tgt = max(1, math.ceil(q * n))
        aggs.append(
            F.sum((F.col("cents") <= F.lit(e)).cast("long")).alias(
                f"le_{label}"
            )
        )
        aggs.append(
            F.sum((F.col("cents") < F.lit(e)).cast("long")).alias(
                f"lt_{label}"
            )
        )
        stack_args.append(
            f"'{label}', le_{label} >= {tgt}L, lt_{label} < {tgt + b}L"
        )
    return li.agg(*aggs).select(
        F.expr(
            "stack(%d, %s) as "
            "(q_label, est_not_too_small, est_not_too_large)"
            % (len(QUANTILE_PROBES), ", ".join(stack_args))
        )
    )


# Unlike ORACLE_COUNTMIN's probabilistic TRUEs, these hold by the
# deterministic worst-case theorem for EVERY partitioning/fixture —
# a failure here is a code bug, full stop.
ORACLE_QUANTILE = """
SELECT t.q_label, TRUE AS est_not_too_small, TRUE AS est_not_too_large
FROM (VALUES ('p25'), ('p50'), ('p75'), ('p90'), ('p99')) AS t(q_label)
"""


ES_SAMPLE_K = 200
ES_SALT = "es-v1"
ES_KEY_DECIMALS = 8


def sample_weighted_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement
    (operators/splits.py:sample_weighted_topk — Efraimidis–Spirakis
    2006 with portable-md5 uniforms; the quality-weighted corpus
    subsampling op next to the uniform exact-k stratum sampler):
    the {ES_SAMPLE_K} documents with the largest ln(u)/n_chars keys —
    inclusion odds rise with document length. Heap-based top-k
    (TakeOrderedAndProject, plan-pinned in tests), ranked on the
    {ES_KEY_DECIMALS}dp-rounded key with an id tie-break; grid
    margins probed at 3 SFs + 10× (≥ 3.0e-5 grid units vs ~1e-8
    drift)."""
    from ..operators.splits import sample_weighted_topk

    docs = t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return sample_weighted_topk(
        docs,
        ES_SAMPLE_K,
        "n_chars",
        salt=ES_SALT,
        key_decimals=ES_KEY_DECIMALS,
    )


ORACLE_ES_SAMPLE = f"""
WITH k AS (
  SELECT doc_id, n_chars,
         round(ln((CAST('0x' || substr(md5('{ES_SALT}:'
                         || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
                   + 0.5) / {float(1 << 60)!r}) / n_chars,
               {ES_KEY_DECIMALS}) + 0.0 AS es_key
  FROM documents
)
SELECT doc_id, n_chars, es_key
FROM k ORDER BY es_key DESC, doc_id LIMIT {ES_SAMPLE_K}
"""


def streaming_python_dist_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PARTITION-PLANNED custom Python streaming source
    (sources/pysource.py:_PagesDistStreamReader — the executor-side
    half the Simple reader's docstring deferred to): the documents
    table staged as four parquet fragments, streamed through
    ``parquet_pages_dist`` where every micro-batch fans its offset
    range out to one task per (fragment, row-group) — reads run in
    EXECUTORS via pyarrow row-group pulls, the driver sees only footer
    metadata. Complete-mode per-(lang, source) aggregate into a memory
    sink, drained by Trigger.AvailableNow — which WORKS here, unlike
    the Simple reader (its one-prefetched-read() protocol caps an
    AvailableNow query at the first offset, hence that lane's polling
    loop; the full reader's ``latestOffset()`` is honored, test-pinned
    in ``tests/test_pysource_dist.py``). The whole feed crossing the
    distributed Python source boundary must hash-match the batch
    oracle."""
    import os
    import shutil
    import tempfile
    import uuid

    from ..sources.pysource import register

    register(spark)
    # uuid-suffixed scratch: keying on basename(sf_dir) alone raced
    # concurrent runs against same-basename fixtures (one run rmtree'd
    # the fragments another was still streaming); the checkpoint dir is
    # likewise per-run and removed in the same finally
    run_id = uuid.uuid4().hex[:8]
    scratch = os.path.join(
        tempfile.gettempdir(),
        f"pydist_{os.path.basename(os.path.normpath(sf_dir))}_{run_id}",
    )
    ckpt = tempfile.mkdtemp(prefix="ckpt_pydist_")
    t(spark, sf_dir, "documents").repartition(4).write.parquet(scratch)
    docs = spark.readStream.format("parquet_pages_dist").load(scratch)
    agg = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("chars_sum"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )
    name = f"py_dist_stream_{run_id}"
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    try:
        if not q.awaitTermination(300):
            raise TimeoutError("availableNow run did not finish in 300s")
    finally:
        q.stop()
        shutil.rmtree(scratch, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
    return spark.table(name)


ORACLE_PY_DIST_STREAM = """
SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS chars_sum,
       CAST(min(doc_id) AS BIGINT) AS min_doc,
       CAST(max(doc_id) AS BIGINT) AS max_doc
FROM documents
GROUP BY lang, source
"""


# ---- exact-phrase containment search (round 10) ----
#
# The "benchmark quote probe" of the decontamination toolbox (the
# n-gram-overlap complement of decon_semantic_overlap; GPT-3 appendix
# C / PaLM-style 13-gram exact-match decontamination, scaled here to
# the fixture's short docs): find every corpus position containing an
# exact probe phrase via a positional n-gram join. Probe phrases are
# derived in-lane (first {PHRASE_N} tokens of every {PHRASE_EVERY}th
# doc), so each phrase provably matches its own source at pos 1 and
# the lane's output is its own recall witness.
#
# Scale shape: the corpus side is a map-side posexplode of positional
# n-grams; the probe side is small by construction and BROADCASTS, so
# the match is exchange-free — at 100 TB this is one linear scan, the
# same plan a Bloom-pushed quote scan would get. Content (the gram
# string) is the join key: no hash, no collisions to reason about;
# the xxhash64 variant is the documented swap once gram bytes dominate
# shuffle-free traffic.
PHRASE_N = 5
PHRASE_EVERY = 50


def decon_phrase_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-phrase containment search (functions/text.py:tokens +
    word_shingles): positional {PHRASE_N}-gram index joined against
    broadcast probe phrases. Returns (phrase_id, doc_id, pos) for
    every exact occurrence, 1-based token position."""
    docs = t(spark, sf_dir, "documents").select(
        "doc_id", tokens("text").alias("toks")
    )
    from ..functions.text import word_shingles

    grams = docs.select(
        "doc_id",
        F.posexplode(
            word_shingles(F.col("toks"), PHRASE_N, distinct=False)
        ).alias("pos0", "gram"),
    ).select(
        "doc_id", (F.col("pos0") + 1).cast("long").alias("pos"), "gram"
    )
    probes = (
        docs.filter(
            (F.col("doc_id") % PHRASE_EVERY == 0)
            & (F.size("toks") >= PHRASE_N)
        )
        .select(
            F.col("doc_id").alias("phrase_id"),
            F.concat_ws(" ", F.slice("toks", 1, PHRASE_N)).alias("gram"),
        )
    )
    return (
        grams.join(F.broadcast(probes), "gram")
        .select("phrase_id", "doc_id", "pos")
    )


ORACLE_PHRASE = f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w
  FROM documents
),
grams AS (
  SELECT doc_id, CAST(g.i AS BIGINT) AS pos,
         array_to_string(w[g.i:g.i + {PHRASE_N - 1}], ' ') AS gram
  FROM toks, unnest(generate_series(1, len(w) - {PHRASE_N - 1})) AS g(i)
  WHERE len(w) >= {PHRASE_N}
),
probes AS (
  SELECT doc_id AS phrase_id, array_to_string(w[1:{PHRASE_N}], ' ') AS gram
  FROM toks
  WHERE doc_id % {PHRASE_EVERY} = 0 AND len(w) >= {PHRASE_N}
)
SELECT p.phrase_id, g.doc_id, g.pos
FROM grams g JOIN probes p ON p.gram = g.gram
"""


# ---- split leakage audit + cluster-safe splits (round 12) ----
#
# The train/eval HYGIENE pair every training-data pipeline needs on
# top of hash splits (operators/splits.py) and near-dup detection
# (operators/dedup.py) — the Lee et al. 2022 ("Deduplicating training
# data makes language models better") eval-contamination finding as
# declared, oracle-checked lanes:
#
# - split_leakage_audit: every verified near-duplicate pair carries
#   both sides' hash-split assignments and a ``leaked`` flag for
#   pairs that STRADDLE the boundary — the leak id-hash splitting
#   cannot prevent (near-identical documents with different ids land
#   on opposite sides and silently inflate eval scores).
# - split_cluster_safe: the fix — split by the near-dup CLUSTER
#   REPRESENTATIVE's hash instead of the document's own id, so every
#   cluster lands whole on one side by construction (the audit over
#   this assignment is empty, pinned in tests).
#
# The split expression is the PORTABLE md5 form (first 6 hex chars
# against precomputed hex boundaries — fixed-width lowercase hex
# compares identically as string and number on both engines); the
# operator library's xxhash64 split (operators/splits.py) is the
# production-speed twin of the same semantics. All output columns are
# ids/strings/bools — hash-exact, no float contract.
#
# Scale shape: the pair frame is the existing banded-LSH + verify
# path (never all-pairs); split assignment is a map-side projection;
# the audit joins splits at PAIR-SET size, not corpus size.
SPLIT_SALT = "split-v1"
# 90/5/5 so straddles exist at fixture scale; boundaries on the
# 16^6-bucket hex grid, embedded identically in both engines
_SPLIT_B_TRAIN = format(int(0.90 * 16**6), "06x")
_SPLIT_B_VAL = format(int(0.95 * 16**6), "06x")


def _md5_split(id_col: str):
    k = F.substring(
        F.md5(
            F.concat_ws(
                ":", F.lit(SPLIT_SALT), F.col(id_col).cast("string")
            )
        ),
        1,
        6,
    )
    return (
        F.when(k < _SPLIT_B_TRAIN, F.lit("train"))
        .when(k < _SPLIT_B_VAL, F.lit("val"))
        .otherwise(F.lit("test"))
    )


_SPLIT_CASE_SQL = f"""CASE
  WHEN substring(md5('{SPLIT_SALT}' || ':' || CAST({{id}} AS VARCHAR)), 1, 6)
       < '{_SPLIT_B_TRAIN}' THEN 'train'
  WHEN substring(md5('{SPLIT_SALT}' || ':' || CAST({{id}} AS VARCHAR)), 1, 6)
       < '{_SPLIT_B_VAL}' THEN 'val'
  ELSE 'test' END"""


def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-split near-dup audit: every verified near-duplicate pair
    with both hash-split assignments. Returns (doc_a, doc_b, split_a,
    split_b, leaked); leaked = the pair straddles the boundary."""
    from .dedup import dedup_lsh_verified_pairs

    pairs = dedup_lsh_verified_pairs(spark, sf_dir).select(
        "doc_a", "doc_b"
    )
    docs = t(spark, sf_dir, "documents").select(
        "doc_id", _md5_split("doc_id").alias("split")
    )
    sa = docs.select(
        F.col("doc_id").alias("doc_a"), F.col("split").alias("split_a")
    )
    sb = docs.select(
        F.col("doc_id").alias("doc_b"), F.col("split").alias("split_b")
    )
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a", "doc_b", "split_a", "split_b",
            (F.col("split_a") != F.col("split_b")).alias("leaked"),
        )
    )


def split_cluster_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-proof splits: every document splits by its near-dup
    CLUSTER REPRESENTATIVE's hash, so no verified near-dup pair can
    straddle the boundary. Returns (doc_id, cluster_rep, split)."""
    from .dedup import dedup_neardup_clusters

    clusters = dedup_neardup_clusters(spark, sf_dir)
    return clusters.select(
        "doc_id", "cluster_rep", _md5_split("cluster_rep").alias("split")
    )


def _split_audit_oracle() -> str:
    from .dedup import ORACLE_LSH_VERIFIED

    case = _SPLIT_CASE_SQL.format(id="doc_id")
    return f"""
WITH pairs AS ({ORACLE_LSH_VERIFIED}),
s AS (SELECT doc_id, {case} AS split FROM documents)
SELECT p.doc_a, p.doc_b, sa.split AS split_a, sb.split AS split_b,
       sa.split <> sb.split AS leaked
FROM pairs p
JOIN s sa ON sa.doc_id = p.doc_a
JOIN s sb ON sb.doc_id = p.doc_b
"""


def _split_cluster_oracle() -> str:
    from .dedup import ORACLE_NEARDUP_CLUSTERS

    case = _SPLIT_CASE_SQL.format(id="cluster_rep")
    return f"""
WITH cc AS ({ORACLE_NEARDUP_CLUSTERS})
SELECT doc_id, cluster_rep, {case} AS split FROM cc
"""


ORACLE_SPLIT_AUDIT = _split_audit_oracle()
ORACLE_SPLIT_CLUSTER = _split_cluster_oracle()


QUERIES = {
    "text_bm25_rank": text_bm25_rank,
    "search_hybrid_rrf": search_hybrid_rrf,
    "dedup_substring_spans": dedup_substring_spans,
    "text_gopher_signals": text_gopher_signals,
    "mix_domain_rates": mix_domain_rates,
    "mix_unimax_allocation": mix_unimax_allocation,
    "decon_semantic_overlap": decon_semantic_overlap,
    "stats_heavy_hitters": stats_heavy_hitters,
    "stats_countmin_contract": stats_countmin_contract,
    "streaming_sketch_contract": streaming_sketch_contract,
    "text_chunking": text_chunking,
    "dedup_containment_pairs": dedup_containment_pairs,
    "dedup_jaccard_prefix_join": dedup_jaccard_prefix_join,
    "sample_k_per_lang": sample_k_per_lang,
    "dedup_keep_best": dedup_keep_best,
    "dedup_containment_join": dedup_containment_join,
    "stats_hll_distinct_contract": stats_hll_distinct_contract,
    "order_token_shards": order_token_shards,
    "dedup_bloom_antijoin": dedup_bloom_antijoin,
    "graph_pagerank": graph_pagerank,
    "streaming_heavy_hitters_topk": streaming_heavy_hitters_topk,
    "mix_dsir_selection": mix_dsir_selection,
    "graph_ppr_weighted": graph_ppr_weighted,
    "streaming_static_enrich_counts": streaming_static_enrich_counts,
    "ts_gapfill_locf": ts_gapfill_locf,
    "ts_gapfill_linear": ts_gapfill_linear,
    "graph_bfs_levels": graph_bfs_levels,
    "reshape_unpivot_melt": reshape_unpivot_melt,
    "events_funnel": events_funnel,
    "events_retention": events_retention,
    "events_transitions": events_transitions,
    "dedup_embedding_lsh_pairs": dedup_embedding_lsh_pairs,
    "dim_scd2_history": dim_scd2_history,
    "cdc_latest_snapshot": cdc_latest_snapshot,
    "join_interval_overlap": join_interval_overlap,
    "window_time_range_agg": window_time_range_agg,
    "text_nb_lang_classifier": text_nb_lang_classifier,
    "order_pack_sequences": order_pack_sequences,
    "dim_snapshot_diff": dim_snapshot_diff,
    "agg_session_window": agg_session_window,
    "streaming_cdc_upsert": streaming_cdc_upsert,
    "layout_zorder_keys": layout_zorder_keys,
    "stats_quantile_contract": stats_quantile_contract,
    "join_asof_forward": join_asof_forward,
    "sample_weighted_docs": sample_weighted_docs,
    "dim_scd2_asof_lookup": dim_scd2_asof_lookup,
    "join_skew_salted": join_skew_salted,
    "streaming_python_dist_source": streaming_python_dist_source,
    "dedup_editdistance_pairs": dedup_editdistance_pairs,
    "ts_dtw_topk_similarity": ts_dtw_topk_similarity,
    "dedup_editdistance_lookup": dedup_editdistance_lookup,
    "ts_dtw_banded_topk": ts_dtw_banded_topk,
    "dedup_editdistance_collapsed": dedup_editdistance_collapsed,
    "dedup_image_phash": dedup_image_phash,
    "dedup_audio_fingerprint": dedup_audio_fingerprint,
    "dedup_image_phash_wide": dedup_image_phash_wide,
    "dedup_video_clips": dedup_video_clips,
    "dedup_image_phash_resized": dedup_image_phash_resized,
    "stats_mad_outliers": stats_mad_outliers,
    "stats_mad_approx_contract": stats_mad_approx_contract,
    "link_customer_records": link_customer_records,
    "link_customer_best": link_customer_best,
    "link_customer_learned": link_customer_learned,
    "link_customer_jw": link_customer_jw,
    "vector_pq_adc_topk": vector_pq_adc_topk,
    "link_part_phonetic": link_part_phonetic,
    "link_part_phonetic_capped": link_part_phonetic_capped,
    "select_kcenter_coreset": select_kcenter_coreset,
    "search_mmr_rerank": search_mmr_rerank,
    "ts_ewma_dyadic": ts_ewma_dyadic,
    "decon_phrase_matches": decon_phrase_matches,
    "stats_psi_drift": stats_psi_drift,
    "stats_column_profile": stats_column_profile,
    "link_entity_clusters": link_entity_clusters,
    "link_entity_golden": link_entity_golden,
    "stats_psi_quantile_contract": stats_psi_quantile_contract,
    "stats_profile_numeric": stats_profile_numeric,
    "stats_profile_hll_contract": stats_profile_hll_contract,
    "stats_ks_drift": stats_ks_drift,
    "dq_expectations": dq_expectations,
    "link_block_census": link_block_census,
    "dedup_image_phash_wide_bloom": dedup_image_phash_wide_bloom,
    "link_part_phonetic_tf": link_part_phonetic_tf,
    "ts_ewma_spikes": ts_ewma_spikes,
    "stats_group_ols_trend": stats_group_ols_trend,
    "ts_cusum_alarms": ts_cusum_alarms,
    "streaming_psi_drift": streaming_psi_drift,
    "layout_hilbert_keys": layout_hilbert_keys,
    "dq_k_anonymity": dq_k_anonymity,
    "dq_l_diversity": dq_l_diversity,
    "link_eval_metrics": link_eval_metrics,
    "mine_frequent_pairs": mine_frequent_pairs,
    "stats_ols_outliers": stats_ols_outliers,
    "mine_basket_census": mine_basket_census,
    "mine_frequent_pairs_capped": mine_frequent_pairs_capped,
    "streaming_cusum_alarms": streaming_cusum_alarms,
    "streaming_cusum_watermarked": streaming_cusum_watermarked,
    "dq_metric_anomalies": dq_metric_anomalies,
    "link_clerical_bands": link_clerical_bands,
    "link_band_purity": link_band_purity,
    "mine_association_rules": mine_association_rules,
    "dedup_semantic_prune": dedup_semantic_prune,
    "vector_ivf_recall": vector_ivf_recall,
    "dq_pseudonymize": dq_pseudonymize,
    "split_leakage_audit": split_leakage_audit,
    "split_cluster_safe": split_cluster_safe,
    "mine_frequent_triples": mine_frequent_triples,
    "mine_triple_rules": mine_triple_rules,
    "vector_ivf_recall_curve": vector_ivf_recall_curve,
    "mine_brand_basket_census": mine_brand_basket_census,
    "vector_pq_recall": vector_pq_recall,
    "mine_closed_pairs": mine_closed_pairs,
    "mine_rule_interest": mine_rule_interest,
    "vector_ivfpq_topk": vector_ivfpq_topk,
    "vector_ivfpq_recall": vector_ivfpq_recall,
    "mine_fpgrowth_itemsets": mine_fpgrowth_itemsets,
    "streaming_cusum_dead_letters": streaming_cusum_dead_letters,
}

ORACLE = {
    "text_bm25_rank": ORACLE_BM25_RANK,
    "search_hybrid_rrf": ORACLE_HYBRID_RRF,
    "dedup_substring_spans": ORACLE_SUBSTRING,
    "text_gopher_signals": ORACLE_GOPHER,
    "mix_domain_rates": ORACLE_MIX_RATES,
    "mix_unimax_allocation": ORACLE_UNIMAX,
    "decon_semantic_overlap": ORACLE_SEM_OVERLAP,
    "stats_heavy_hitters": ORACLE_HEAVY_HITTERS,
    "stats_countmin_contract": ORACLE_COUNTMIN,
    "streaming_sketch_contract": ORACLE_STREAMING_SKETCH,
    "text_chunking": ORACLE_CHUNKING,
    "dedup_containment_pairs": _oracle_containment(),
    "dedup_jaccard_prefix_join": _oracle_prefix_join(),
    "sample_k_per_lang": ORACLE_SAMPLE_K,
    "dedup_keep_best": _oracle_keep_best(),
    "dedup_containment_join": _oracle_containment_join(),
    "stats_hll_distinct_contract": ORACLE_HLL_DISTINCT,
    "order_token_shards": ORACLE_TOKEN_SHARDS,
    "dedup_bloom_antijoin": ORACLE_BLOOM_ANTIJOIN,
    "graph_pagerank": _oracle_pagerank(),
    "streaming_heavy_hitters_topk": ORACLE_STREAMING_HH,
    "mix_dsir_selection": ORACLE_DSIR,
    "graph_ppr_weighted": _oracle_ppr_weighted(),
    "streaming_static_enrich_counts": ORACLE_STATIC_ENRICH,
    "ts_gapfill_locf": ORACLE_GAPFILL_LOCF,
    "ts_gapfill_linear": ORACLE_GAPFILL_LINEAR,
    "graph_bfs_levels": ORACLE_BFS_LEVELS,
    "reshape_unpivot_melt": ORACLE_UNPIVOT,
    "events_funnel": ORACLE_FUNNEL,
    "events_retention": ORACLE_RETENTION,
    "events_transitions": ORACLE_TRANSITIONS,
    "dedup_embedding_lsh_pairs": ORACLE_EMB_LSH,
    "dim_scd2_history": ORACLE_SCD2,
    "cdc_latest_snapshot": ORACLE_CDC,
    "join_interval_overlap": ORACLE_IVL_OVERLAP,
    "window_time_range_agg": ORACLE_RANGE_WINDOW,
    "text_nb_lang_classifier": ORACLE_NB,
    "order_pack_sequences": ORACLE_PACK_SEQ,
    "dim_snapshot_diff": ORACLE_SNAPSHOT_DIFF,
    "agg_session_window": ORACLE_SESSION_WINDOW,
    "streaming_cdc_upsert": ORACLE_CDC,
    "layout_zorder_keys": ORACLE_ZORDER,
    "stats_quantile_contract": ORACLE_QUANTILE,
    "join_asof_forward": ORACLE_ASOF_FORWARD,
    "sample_weighted_docs": ORACLE_ES_SAMPLE,
    "dim_scd2_asof_lookup": ORACLE_SCD2_ASOF,
    "join_skew_salted": ORACLE_SKEW_SALTED,
    "streaming_python_dist_source": ORACLE_PY_DIST_STREAM,
    "dedup_editdistance_pairs": ORACLE_EDITDIST,
    "ts_dtw_topk_similarity": ORACLE_DTW,
    "dedup_editdistance_lookup": ORACLE_EDITDIST_LOOKUP,
    "ts_dtw_banded_topk": ORACLE_DTW_BANDED,
    "dedup_editdistance_collapsed": ORACLE_EDITDIST,
    "dedup_image_phash": ORACLE_IMAGE_PHASH,
    "dedup_audio_fingerprint": ORACLE_AUDIO_FP,
    "dedup_image_phash_wide": ORACLE_IMAGE_PHASH_WIDE,
    "dedup_video_clips": ORACLE_VIDEO_CLIPS,
    "dedup_image_phash_resized": ORACLE_IMAGE_PHASH,
    "stats_mad_outliers": ORACLE_MAD_OUTLIERS,
    "stats_mad_approx_contract": ORACLE_MAD_APPROX,
    "link_customer_records": ORACLE_FS_LINK,
    "link_customer_best": ORACLE_FS_BEST,
    "link_customer_learned": ORACLE_FS_LEARNED,
    "link_customer_jw": ORACLE_FS_JW,
    "vector_pq_adc_topk": ORACLE_PQ_ADC,
    "link_part_phonetic": ORACLE_PHON_LINK,
    "link_part_phonetic_capped": ORACLE_PHON_LINK_CAPPED,
    "select_kcenter_coreset": ORACLE_KCENTER,
    "search_mmr_rerank": ORACLE_MMR,
    "ts_ewma_dyadic": ORACLE_EWMA,
    "decon_phrase_matches": ORACLE_PHRASE,
    "stats_psi_drift": ORACLE_PSI,
    "stats_column_profile": ORACLE_PROFILE,
    "link_entity_clusters": ORACLE_ENTITY_CLUSTERS,
    "link_entity_golden": ORACLE_ENTITY_GOLDEN,
    "stats_psi_quantile_contract": ORACLE_PSI_QUANTILE,
    "stats_profile_numeric": ORACLE_PROFILE_NUMERIC,
    "stats_profile_hll_contract": ORACLE_PROFILE_HLL,
    "stats_ks_drift": ORACLE_KS,
    "dq_expectations": ORACLE_DQ,
    "link_block_census": ORACLE_BLOCK_CENSUS,
    "dedup_image_phash_wide_bloom": ORACLE_IMAGE_PHASH_WIDE,
    "link_part_phonetic_tf": ORACLE_PHON_TF,
    "ts_ewma_spikes": ORACLE_EWMA_SPIKES,
    "stats_group_ols_trend": ORACLE_OLS,
    "ts_cusum_alarms": ORACLE_CUSUM,
    "streaming_psi_drift": ORACLE_PSI,
    "layout_hilbert_keys": ORACLE_HILBERT,
    "dq_k_anonymity": ORACLE_KANON,
    "dq_l_diversity": ORACLE_LDIV,
    "link_eval_metrics": ORACLE_LINK_EVAL,
    "mine_frequent_pairs": ORACLE_FREQ_PAIRS,
    "stats_ols_outliers": ORACLE_OLS_OUTLIERS,
    "mine_basket_census": ORACLE_BASKET_CENSUS,
    "mine_frequent_pairs_capped": ORACLE_FREQ_PAIRS_CAPPED,
    "streaming_cusum_alarms": ORACLE_CUSUM,
    "streaming_cusum_watermarked": ORACLE_CUSUM,
    "dq_metric_anomalies": ORACLE_DQ_ANOMALIES,
    "link_clerical_bands": ORACLE_FS_BANDS,
    "link_band_purity": ORACLE_BAND_PURITY,
    "mine_association_rules": ORACLE_ASSOC_RULES,
    "dedup_semantic_prune": ORACLE_SEMDEDUP,
    "vector_ivf_recall": ORACLE_IVF_RECALL,
    "dq_pseudonymize": ORACLE_PSEUDONYMIZE,
    "split_leakage_audit": ORACLE_SPLIT_AUDIT,
    "split_cluster_safe": ORACLE_SPLIT_CLUSTER,
    "mine_frequent_triples": ORACLE_FREQ_TRIPLES,
    "mine_triple_rules": ORACLE_TRIPLE_RULES,
    "vector_ivf_recall_curve": ORACLE_IVF_RECALL_CURVE,
    "mine_brand_basket_census": ORACLE_BRAND_CENSUS,
    "vector_pq_recall": ORACLE_PQ_RECALL,
    "mine_closed_pairs": ORACLE_CLOSED_PAIRS,
    "mine_rule_interest": ORACLE_RULE_INTEREST,
    "vector_ivfpq_topk": ORACLE_IVFPQ_TOPK,
    "vector_ivfpq_recall": ORACLE_IVFPQ_RECALL,
    "mine_fpgrowth_itemsets": ORACLE_FPGROWTH,
    "streaming_cusum_dead_letters": ORACLE_CUSUM_DEAD_LETTERS,
}
