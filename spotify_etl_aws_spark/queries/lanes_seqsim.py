"""Sequence-similarity lanes (edit-distance joins, DTW) — split out of queries/selection.py in round 12
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

EDITDIST_D = 2
EDITDIST_TITLE_LEN = 30


def dedup_editdistance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact edit-distance join (operators/editdist.py — PassJoin-style
    segment partitioning, Li et al. VLDB 2012): document pairs whose
    30-char title prefixes are within Levenshtein distance 2 — the
    entity-resolution / fuzzy-title dedup the shingle lanes can't
    express (they bound set overlap, not edit operations). The planted
    near-duplicate docs surface here as distance-0/1/2 title pairs at
    every SF. Candidates come from ONE equi-join on
    (partner_length, segment_index, segment) — pigeonhole over d+1
    segments guarantees completeness; ``F.levenshtein`` verifies
    exactly. The oracle replays the identical segmentation relationally
    (DuckDB generate_series + substr + levenshtein), and the operator
    is independently brute-force-parity-tested against a pure-Python
    DP over random strings (tests/test_editdist.py)."""
    from ..operators.editdist import editdistance_join

    titles = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(f"substring(text, 1, {EDITDIST_TITLE_LEN})").alias("title"),
    )
    out = editdistance_join(titles, "doc_id", "title", EDITDIST_D)
    return out.select(
        "id_a", "id_b", F.col("dist").cast("long").alias("dist")
    )


ORACLE_EDITDIST = f"""
WITH s AS MATERIALIZED (
  SELECT doc_id AS id, substr(text, 1, {EDITDIST_TITLE_LEN}) AS s,
         length(substr(text, 1, {EDITDIST_TITLE_LEN})) AS L
  FROM documents
),
si AS (  -- select-list unnest: lateral generate_series is unsupported
  SELECT id, s, L, unnest(generate_series(0, 2)) AS i FROM s
),
idx AS MATERIALIZED (
  SELECT id AS b_id, L AS Lb, i,
         substr(s, (i * (L // 3) + least(i, L % 3)) + 1,
                (L // 3) + (CASE WHEN i < L % 3 THEN 1 ELSE 0 END)) AS seg
  FROM si
),
pl AS (
  SELECT id, s, L,
         unnest(generate_series(greatest(L - 2, 3), L + 2)) AS Lb
  FROM s
),
pli AS (
  SELECT id, s, L, Lb, unnest(generate_series(0, 2)) AS i FROM pl
),
pp AS (
  SELECT id AS a_id, s AS a_s, L AS La, Lb, i,
         (Lb // 3) + (CASE WHEN i < Lb % 3 THEN 1 ELSE 0 END) AS slen,
         (i * (Lb // 3) + least(i, Lb % 3)) AS sstart
  FROM pli
  WHERE (Lb // 3) + (CASE WHEN i < Lb % 3 THEN 1 ELSE 0 END) <= L
),
probe AS (
  SELECT a_id, Lb, i, slen,
         unnest(generate_series(greatest(sstart - 2, 0),
                                least(sstart + 2, La - slen))) AS p,
         a_s
  FROM pp
  WHERE least(sstart + 2, La - slen) >= greatest(sstart - 2, 0)
),
cand AS (
  SELECT DISTINCT least(a_id, b_id) AS id_a, greatest(a_id, b_id) AS id_b
  FROM (SELECT a_id, Lb, i, substr(a_s, p + 1, slen) AS seg FROM probe) pr
  JOIN idx USING (Lb, i, seg)
  WHERE a_id <> b_id
)
SELECT c.id_a, c.id_b, CAST(levenshtein(sa.s, sb.s) AS BIGINT) AS dist
FROM cand c
JOIN s sa ON sa.id = c.id_a
JOIN s sb ON sb.id = c.id_b
WHERE levenshtein(sa.s, sb.s) <= 2
"""


DTW_K = 20


def _dtw_daily_frames(spark: SparkSession, sf_dir: str):
    """(daily, q_user): the per-user daily int-cents series shared by
    both DTW lanes. The frame feeds THREE consumers per lane (the
    query-user min, the query-series collect, and the candidate pass
    inside dtw_topk_search), so it is a lazy localCheckpoint — the
    q_user collect materializes it once and the other two read stored
    blocks instead of re-aggregating events (guide §8; measured
    interleaved A/B at sf0.1: ts_dtw_topk_similarity med
    1.06 -> 0.88 s, ts_dtw_banded_topk 1.02 -> 0.94 s, outputs
    row-identical). min(user_id) over daily equals min over events —
    daily groups by user_id, so the key set is identical."""
    ev = t(spark, sf_dir, "events")
    daily = (
        ev.groupBy("user_id", F.to_date("ts").alias("day"))
        .agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("v"))
        .withColumn(
            "pos",
            F.row_number().over(W.partitionBy("user_id").orderBy("day")),
        )
        .transform(cut_lineage)
    )
    q_user = daily.agg(F.min("user_id")).collect()[0][0]
    return daily, q_user


def ts_dtw_topk_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k DTW sequence similarity search (operators/dtw.py —
    REPOSE ICDE 2021 posture, Spark-idiomatic: parallel across series,
    exact integer DP within): every user's DAILY spend series
    (sum of int-cents per day, ordered by day) ranked by dynamic-time-
    warping distance to the minimum-user_id user's series; the
    {DTW_K} nearest (dist, user_id tie-break). Pure int64 arithmetic
    end to end, so the DP is bit-reproducible. The oracle replays the
    DP as a recursive CTE advancing every candidate ONE DP ROW per
    level, with the within-row recurrence
    ``cur[j] = c_j + min(b_j, cur[j-1])`` closed into window functions
    via the min-plus prefix scan
    ``cur[j] = S_j + min_{{k<=j}}(b_k − S_{{k-1}})`` (S = running sum
    of cell costs, b = min of the two previous-row predecessors)."""
    from ..operators.dtw import dtw_topk_search

    daily, q_user = _dtw_daily_frames(spark, sf_dir)
    query = [
        int(r.v)
        for r in daily.filter(F.col("user_id") == q_user)
        .orderBy("day")
        .collect()
    ]
    cands = daily.filter(F.col("user_id") != q_user)
    out = dtw_topk_search(
        cands, query, DTW_K, id_col="user_id", pos_col="pos", val_col="v"
    )
    return out.select(F.col("series_id").alias("user_id"), "dtw_dist")


_DTW_INF = 1 << 60

ORACLE_DTW = f"""
WITH RECURSIVE
daily AS MATERIALIZED (
  SELECT user_id, CAST(ts AS DATE) AS day,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v
  FROM events GROUP BY 1, 2
),
qu AS MATERIALIZED (SELECT min(user_id) AS quid FROM events),
q AS MATERIALIZED (
  SELECT CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS j, v AS w
  FROM daily, qu WHERE user_id = quid
),
cand AS MATERIALIZED (
  SELECT user_id AS id,
         CAST(row_number() OVER (PARTITION BY user_id ORDER BY day)
              AS BIGINT) AS i,
         v
  FROM daily, qu WHERE user_id <> quid
),
jj AS MATERIALIZED (SELECT CAST(0 AS BIGINT) AS j UNION ALL SELECT j FROM q),
dp AS (
  -- DP row i = 0: reachable only at j = 0
  SELECT c.id, CAST(0 AS BIGINT) AS i, jj.j,
         CASE WHEN jj.j = 0 THEN CAST(0 AS BIGINT)
              ELSE CAST({_DTW_INF} AS BIGINT) END AS cost
  FROM (SELECT DISTINCT id FROM cand) c, jj
  UNION ALL
  -- advance every candidate one DP row: the sequential
  -- cur[j] = c_j + min(b_j, cur[j-1]) closes into
  -- S_j + running_min(b_k - S_(k-1))
  SELECT id, i, j,
         CASE WHEN j = 0 THEN CAST({_DTW_INF} AS BIGINT)
              ELSE s_run + m_run END AS cost
  FROM (
    SELECT id, i, j,
           sum(c) OVER (PARTITION BY id ORDER BY j
                        ROWS UNBOUNDED PRECEDING) AS s_run,
           min(b - s_prev) OVER (PARTITION BY id ORDER BY j
                                 ROWS UNBOUNDED PRECEDING) AS m_run
    FROM (
      SELECT id, i, j, c, b,
             coalesce(sum(c) OVER (PARTITION BY id ORDER BY j
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND 1 PRECEDING), 0) AS s_prev
      FROM (
        SELECT d.id, d.i + 1 AS i, d.j,
               CASE WHEN d.j = 0 THEN NULL ELSE abs(a.v - q.w) END AS c,
               CASE WHEN d.j = 0 THEN NULL
                    ELSE least(d.cost,
                               lag(d.cost) OVER (PARTITION BY d.id
                                                 ORDER BY d.j)) END AS b
        FROM dp d
        JOIN cand a ON a.id = d.id AND a.i = d.i + 1
        LEFT JOIN q ON q.j = d.j
      )
    )
  )
),
n_s AS (SELECT id, max(i) AS n FROM cand GROUP BY 1),
mm AS (SELECT max(j) AS m FROM q)
SELECT dp.id AS user_id, dp.cost AS dtw_dist
FROM dp JOIN n_s ON n_s.id = dp.id, mm
WHERE dp.i = n_s.n AND dp.j = mm.m
ORDER BY dtw_dist, user_id
LIMIT {DTW_K}
"""


DTW_BAND = 7


def ts_dtw_banded_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sakoe-Chiba BANDED DTW top-k (operators/dtw.py, ``band=7``) —
    the practitioner form for sequence search: warping cells are
    restricted to ``|i − j| <= 7`` (a week of warp on daily series),
    which (a) bounds the DP to O(n·band) per candidate and (b)
    restores the positional structure that makes the LB_Keogh
    envelope bound admissible — the tighter prefilter the
    unconstrained lane measurably cannot have (BASELINE.md round 9).
    Candidates whose day-count differs from the query's by more than
    the band have no warping path and are dropped (search semantics;
    the direct ``dtw_distance`` call raises instead — both pinned in
    tests/test_dtw.py). The oracle replays the banded DP in the same
    recursive min-plus-scan CTE as the unconstrained lane, with
    out-of-band cells carrying a 2^50 penalty no feasible path can
    reach (the scan must run over every j, so forbidden cells are
    penalized rather than absent; for feasible candidates the DP
    minimum never touches one, making both engines' values exact
    banded DTW)."""
    from ..operators.dtw import dtw_topk_search

    daily, q_user = _dtw_daily_frames(spark, sf_dir)
    query = [
        int(r.v)
        for r in daily.filter(F.col("user_id") == q_user)
        .orderBy("day")
        .collect()
    ]
    cands = daily.filter(F.col("user_id") != q_user)
    out = dtw_topk_search(
        cands,
        query,
        DTW_K,
        id_col="user_id",
        pos_col="pos",
        val_col="v",
        band=DTW_BAND,
    )
    return out.select(F.col("series_id").alias("user_id"), "dtw_dist")


_DTW_CELL_INF = 1 << 50

ORACLE_DTW_BANDED = f"""
WITH RECURSIVE
daily AS MATERIALIZED (
  SELECT user_id, CAST(ts AS DATE) AS day,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v
  FROM events GROUP BY 1, 2
),
qu AS MATERIALIZED (SELECT min(user_id) AS quid FROM events),
q AS MATERIALIZED (
  SELECT CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS j, v AS w
  FROM daily, qu WHERE user_id = quid
),
mm AS MATERIALIZED (SELECT max(j) AS m FROM q),
cand0 AS MATERIALIZED (
  SELECT user_id AS id,
         CAST(row_number() OVER (PARTITION BY user_id ORDER BY day)
              AS BIGINT) AS i,
         v
  FROM daily, qu WHERE user_id <> quid
),
lens AS (SELECT id, max(i) AS n FROM cand0 GROUP BY 1),
cand AS MATERIALIZED (  -- band feasibility: |n - m| <= band
  SELECT c.* FROM cand0 c JOIN lens l ON l.id = c.id, mm
  WHERE abs(l.n - mm.m) <= {DTW_BAND}
),
jj AS MATERIALIZED (SELECT CAST(0 AS BIGINT) AS j UNION ALL SELECT j FROM q),
dp AS (
  -- DP row i = 0: reachable only at j = 0
  SELECT c.id, CAST(0 AS BIGINT) AS i, jj.j,
         CASE WHEN jj.j = 0 THEN CAST(0 AS BIGINT)
              ELSE CAST({_DTW_INF} AS BIGINT) END AS cost
  FROM (SELECT DISTINCT id FROM cand) c, jj
  UNION ALL
  -- advance every candidate one DP row; out-of-band cells carry the
  -- 2^50 penalty (the scan runs over every j, so forbidden cells are
  -- penalized, not absent — no feasible minimum ever touches one)
  SELECT id, i, j,
         CASE WHEN j = 0 THEN CAST({_DTW_INF} AS BIGINT)
              ELSE s_run + m_run END AS cost
  FROM (
    SELECT id, i, j,
           sum(c) OVER (PARTITION BY id ORDER BY j
                        ROWS UNBOUNDED PRECEDING) AS s_run,
           min(b - s_prev) OVER (PARTITION BY id ORDER BY j
                                 ROWS UNBOUNDED PRECEDING) AS m_run
    FROM (
      SELECT id, i, j, c, b,
             coalesce(sum(c) OVER (PARTITION BY id ORDER BY j
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND 1 PRECEDING), 0) AS s_prev
      FROM (
        SELECT d.id, d.i + 1 AS i, d.j,
               CASE WHEN d.j = 0 THEN NULL
                    WHEN abs((d.i + 1) - d.j) > {DTW_BAND}
                      THEN CAST({_DTW_CELL_INF} AS BIGINT)
                    ELSE abs(a.v - q.w) END AS c,
               CASE WHEN d.j = 0 THEN NULL
                    ELSE least(d.cost,
                               lag(d.cost) OVER (PARTITION BY d.id
                                                 ORDER BY d.j)) END AS b
        FROM dp d
        JOIN cand a ON a.id = d.id AND a.i = d.i + 1
        LEFT JOIN q ON q.j = d.j
      )
    )
  )
),
n_s AS (SELECT id, max(i) AS n FROM cand GROUP BY 1)
SELECT dp.id AS user_id, dp.cost AS dtw_dist
FROM dp JOIN n_s ON n_s.id = dp.id, mm
WHERE dp.i = n_s.n AND dp.j = mm.m
ORDER BY dtw_dist, user_id
LIMIT {DTW_K}
"""


def dedup_editdistance_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-table (entity-resolution) form of the exact edit-distance
    join (operators/editdist.py, ``other=`` path): dirty probe records
    matched against a canonical master table. Probe = odd-doc_id title
    prefixes, master = even-doc_id titles — the planted near-duplicate
    families span both parities, so every cross-parity family member
    surfaces as a (probe_id, master_id, dist<=2) match at every SF.
    Pigeonhole completeness needs only one direction: the master side
    is segmented (d+1 verbatim segments), the probe side enumerates
    ±d-shifted substrings, candidates meet on ONE equi-key
    (partner_length, segment_index, segment) and ``F.levenshtein``
    verifies exactly — ids live in separate spaces and are never
    compared or deduped across tables (asymmetric output, unlike the
    self-join lane's (lo, hi) normalization)."""
    from ..operators.editdist import editdistance_join

    titles = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(f"substring(text, 1, {EDITDIST_TITLE_LEN})").alias("title"),
    )
    probe = titles.filter(F.col("doc_id") % 2 == 1)
    master = titles.filter(F.col("doc_id") % 2 == 0)
    out = editdistance_join(
        probe, "doc_id", "title", EDITDIST_D, other=master
    )
    return out.select(
        "id_a", "id_b", F.col("dist").cast("long").alias("dist")
    )


ORACLE_EDITDIST_LOOKUP = f"""
WITH sp AS MATERIALIZED (  -- probe side: odd doc_ids
  SELECT doc_id AS id, substr(text, 1, {EDITDIST_TITLE_LEN}) AS s,
         length(substr(text, 1, {EDITDIST_TITLE_LEN})) AS L
  FROM documents WHERE doc_id % 2 = 1
),
sm AS MATERIALIZED (  -- master side: even doc_ids, segmented
  SELECT doc_id AS id, substr(text, 1, {EDITDIST_TITLE_LEN}) AS s,
         length(substr(text, 1, {EDITDIST_TITLE_LEN})) AS L
  FROM documents WHERE doc_id % 2 = 0
),
smi AS (
  SELECT id, s, L, unnest(generate_series(0, 2)) AS i FROM sm
),
idx AS MATERIALIZED (
  SELECT id AS b_id, L AS Lb, i,
         substr(s, (i * (L // 3) + least(i, L % 3)) + 1,
                (L // 3) + (CASE WHEN i < L % 3 THEN 1 ELSE 0 END)) AS seg
  FROM smi
),
pl AS (
  SELECT id, s, L,
         unnest(generate_series(greatest(L - 2, 3), L + 2)) AS Lb
  FROM sp
),
pli AS (
  SELECT id, s, L, Lb, unnest(generate_series(0, 2)) AS i FROM pl
),
pp AS (
  SELECT id AS a_id, s AS a_s, L AS La, Lb, i,
         (Lb // 3) + (CASE WHEN i < Lb % 3 THEN 1 ELSE 0 END) AS slen,
         (i * (Lb // 3) + least(i, Lb % 3)) AS sstart
  FROM pli
  WHERE (Lb // 3) + (CASE WHEN i < Lb % 3 THEN 1 ELSE 0 END) <= L
),
probe AS (
  SELECT a_id, Lb, i, slen,
         unnest(generate_series(greatest(sstart - 2, 0),
                                least(sstart + 2, La - slen))) AS p,
         a_s
  FROM pp
  WHERE least(sstart + 2, La - slen) >= greatest(sstart - 2, 0)
),
cand AS (
  SELECT DISTINCT a_id AS id_a, b_id AS id_b
  FROM (SELECT a_id, Lb, i, substr(a_s, p + 1, slen) AS seg FROM probe) pr
  JOIN idx USING (Lb, i, seg)
)
SELECT c.id_a, c.id_b, CAST(levenshtein(sa.s, sb.s) AS BIGINT) AS dist
FROM cand c
JOIN sp sa ON sa.id = c.id_a
JOIN sm sb ON sb.id = c.id_b
WHERE levenshtein(sa.s, sb.s) <= 2
"""


def dedup_editdistance_collapsed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The ``collapse_exact`` plan of the edit-distance self-join on
    real data (operators/editdist.py:_collapsed_join — the round-9
    duplicate-heavy posture, 22× faster than the direct path at 10^4
    replicas, BASELINE.md): exact-duplicate titles collapse to one
    representative per distinct string before the segment join (one
    levenshtein per distinct pair), and the id-level pairs come from
    pure expansion joins — the planted dist-0 title duplicates in the
    documents fixture exercise the within-group branch. Same contract
    and SAME ORACLE as ``dedup_editdistance_pairs``: the two plans
    must agree bit-for-bit, and the driver checks this one too."""
    from ..operators.editdist import editdistance_join

    titles = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(f"substring(text, 1, {EDITDIST_TITLE_LEN})").alias("title"),
    )
    out = editdistance_join(
        titles, "doc_id", "title", EDITDIST_D, collapse_exact=True
    )
    return out.select(
        "id_a", "id_b", F.col("dist").cast("long").alias("dist")
    )
