"""Event-funnel / graph-iteration lanes — split out of queries/selection.py in round 12
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


BFS_MAX_HOPS = 8
FUNNEL_STEPS = ["view", "click", "purchase"]
RETENTION_PERIOD_DAYS = 7


def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict ordered funnel (operators/events_analytics.py:funnel):
    users completing view → click → purchase, each step strictly
    after the previous conversion time. All-integer counts; the
    oracle chains the same min-after-previous self-joins."""
    from ..operators.events_analytics import funnel

    return funnel(t(spark, sf_dir, "events"), FUNNEL_STEPS)


ORACLE_FUNNEL = f"""
WITH s1 AS (
  SELECT user_id, min(ts) AS t FROM events
  WHERE event_type = '{FUNNEL_STEPS[0]}' GROUP BY 1
),
s2 AS (
  SELECT e.user_id, min(e.ts) AS t
  FROM events e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = '{FUNNEL_STEPS[1]}' AND e.ts > s1.t GROUP BY 1
),
s3 AS (
  SELECT e.user_id, min(e.ts) AS t
  FROM events e JOIN s2 ON e.user_id = s2.user_id
  WHERE e.event_type = '{FUNNEL_STEPS[2]}' AND e.ts > s2.t GROUP BY 1
)
SELECT 1 AS step, '{FUNNEL_STEPS[0]}' AS step_type,
       (SELECT count(*) FROM s1) AS users
UNION ALL SELECT 2, '{FUNNEL_STEPS[1]}', (SELECT count(*) FROM s2)
UNION ALL SELECT 3, '{FUNNEL_STEPS[2]}', (SELECT count(*) FROM s3)
"""


def events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle retention (operators/events_analytics.py:
    retention_cohorts): {RETENTION_PERIOD_DAYS}-day cohorts anchored
    at the global first event date; active_users per (cohort,
    offset). All-integer; the oracle replays the same bucketing."""
    from ..operators.events_analytics import retention_cohorts

    return retention_cohorts(
        t(spark, sf_dir, "events"), period_days=RETENTION_PERIOD_DAYS
    )


ORACLE_RETENTION = f"""
WITH a AS (SELECT min(CAST(ts AS DATE)) AS d0 FROM events),
k AS (
  SELECT user_id AS u,
         CAST(floor(datediff('day', a.d0, CAST(ts AS DATE))
                    / {RETENTION_PERIOD_DAYS}) AS INT) AS p
  FROM events, a
),
f AS (SELECT u, min(p) AS cohort FROM k GROUP BY 1),
act AS (SELECT DISTINCT u, p FROM k)
SELECT (SELECT d0 FROM a) + f.cohort * {RETENTION_PERIOD_DAYS}
         AS cohort_start,
       act.p - f.cohort AS offset,
       count(DISTINCT act.u) AS active_users
FROM act JOIN f USING (u)
GROUP BY 1, 2
"""


def events_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-flow bigram matrix (operators/events_analytics.py:
    type_transitions): consecutive per-user (prev_type, next_type)
    counts in (ts, event_id) order — deterministic because event_id
    breaks timestamp ties identically on both engines."""
    from ..operators.events_analytics import type_transitions

    return type_transitions(t(spark, sf_dir, "events"))


ORACLE_TRANSITIONS = """
WITH o AS (
  SELECT event_type,
         lag(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
         ) AS prev
  FROM events
)
SELECT prev AS prev_type, event_type AS next_type,
       CAST(count(*) AS BIGINT) AS n
FROM o WHERE prev IS NOT NULL GROUP BY 1, 2
"""


def reshape_unpivot_melt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT/melt (DataFrame ``unpivot``, the wide→long reshape —
    agg_pivot's inverse surface): per-nation customer metrics
    (count, int-cents balance sum, min/max cents) melted to
    (nation, metric, val) long form. All-BIGINT measures so the melt
    is hash-exact; the oracle is the UNION ALL expansion."""
    cust = t(spark, sf_dir, "customer")
    cents = F.round(F.col("c_acctbal") * 100).cast("long")
    wide = cust.groupBy("c_nationkey").agg(
        F.count("*").alias("n_cust"),
        F.sum(cents).alias("sum_cents"),
        F.min(cents).alias("min_cents"),
        F.max(cents).alias("max_cents"),
    )
    return wide.unpivot(
        ["c_nationkey"],
        ["n_cust", "sum_cents", "min_cents", "max_cents"],
        "metric",
        "val",
    )


ORACLE_UNPIVOT = """
WITH w AS (
  SELECT c_nationkey,
         CAST(count(*) AS BIGINT) AS n_cust,
         CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
         CAST(min(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS min_cents,
         CAST(max(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS max_cents
  FROM customer GROUP BY 1
)
SELECT c_nationkey, 'n_cust' AS metric, n_cust AS val FROM w
UNION ALL SELECT c_nationkey, 'sum_cents', sum_cents FROM w
UNION ALL SELECT c_nationkey, 'min_cents', min_cents FROM w
UNION ALL SELECT c_nationkey, 'max_cents', max_cents FROM w
"""


def graph_bfs_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-hop BFS (operators/graph.py:bfs_levels — per-hop
    frontier⋈edges join + visited anti-join, O(1) driver state) over
    the part key-decade tree (parent ⌊k/10⌋ → child k, the
    sql_recursive_subtree_rollup hierarchy read downward), seeded at
    the single-digit roots: dist(p_k) = digits(k) − 1, depth ≤
    {BFS_MAX_HOPS}. All-integer result, so the recursive-CTE oracle
    (min dist per node) matches exactly."""
    from ..operators.graph import bfs_levels

    part = t(spark, sf_dir, "part").select("p_partkey")
    edges = part.filter(F.col("p_partkey") >= 10).select(
        F.concat(
            F.lit("p"), F.expr("p_partkey div 10").cast("string")
        ).alias("src"),
        F.concat(F.lit("p"), F.col("p_partkey").cast("string")).alias("dst"),
    )
    seeds = part.filter(F.col("p_partkey") < 10).select(
        F.concat(F.lit("p"), F.col("p_partkey").cast("string")).alias("node")
    )
    out = bfs_levels(edges, seeds, max_hops=BFS_MAX_HOPS)
    return out.select("node", F.col("dist").cast("int").alias("dist"))


ORACLE_BFS_LEVELS = f"""
WITH RECURSIVE e AS (
  SELECT 'p' || CAST(p_partkey // 10 AS VARCHAR) AS src,
         'p' || CAST(p_partkey AS VARCHAR) AS dst
  FROM part WHERE p_partkey >= 10
),
seeds AS (
  SELECT 'p' || CAST(p_partkey AS VARCHAR) AS node
  FROM part WHERE p_partkey < 10
),
r(node, dist) AS (
  SELECT node, 0 FROM seeds
  UNION ALL
  SELECT e.dst, r.dist + 1 FROM r JOIN e ON r.node = e.src
  WHERE r.dist < {BFS_MAX_HOPS}
)
SELECT node, CAST(min(dist) AS INT) AS dist FROM r GROUP BY node
"""


PPR_ITERATIONS = 5
PPR_DAMPING = 0.85
# 7dp: min boundary distance 5.5e-3 / 7.0e-5 / 1.1e-5 grid units at
# the three SFs (8dp sat at 1.9e-9 at sf0.001 — drift-order, rejected)
PPR_DECIMALS = 7


def graph_ppr_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED personalized PageRank (operators/graph.py:pagerank with
    weight_col + teleport): rank flows proportionally to lineitem
    volume per (supplier, customer) pair, and the restart/dangling
    mass returns to a seed supplier set (s_suppkey % 7 == 1, weights
    1 + suppkey % 3) — the topic-focused authority-prior shape. The
    oracle unrolls the identical weighted recurrence with the teleport
    vector as a CTE; 7dp rounded emit (margins probed per SF)."""
    from ..operators.graph import pagerank

    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    edges = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("src"),
        F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("dst"),
        F.lit(1.0).alias("w"),  # operator sums duplicates -> pair counts
    )
    seeds = (
        t(spark, sf_dir, "supplier")
        .filter(F.col("s_suppkey") % 7 == 1)
        .select(
            F.concat(F.lit("s"), F.col("s_suppkey").cast("string")).alias(
                "node"
            ),
            (F.lit(1) + F.col("s_suppkey") % 3).cast("double").alias("weight"),
        )
    )
    ranks = pagerank(
        edges,
        iterations=PPR_ITERATIONS,
        damping=PPR_DAMPING,
        teleport=seeds,
        weight_col="w",
    )
    return ranks.select(
        "node", (F.round("pr", PPR_DECIMALS) + F.lit(0.0)).alias("pr")
    )


def _oracle_ppr_weighted() -> str:
    """The graph_pagerank unroll generalized to weighted flow
    (pr·w/Σ_out w) and a teleport-vector CTE — every CTE consumed more
    than once per level is MATERIALIZED (see _oracle_pagerank)."""
    parts = [
        f"""
WITH e AS MATERIALIZED (
  SELECT 's' || CAST(l_suppkey AS VARCHAR) AS src,
         'c' || CAST(o_custkey AS VARCHAR) AS dst,
         CAST(count(*) AS DOUBLE) AS w
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY 1, 2
),
nodes AS MATERIALIZED (SELECT src AS node FROM e UNION SELECT dst FROM e),
od AS MATERIALIZED (SELECT src, sum(w) AS deg FROM e GROUP BY 1),
seeds AS (
  SELECT 's' || CAST(s_suppkey AS VARCHAR) AS node,
         CAST(1 + s_suppkey % 3 AS DOUBLE) AS wt
  FROM supplier WHERE s_suppkey % 7 = 1
),
tot AS (SELECT sum(wt) AS s FROM seeds JOIN nodes USING (node)),
tele AS MATERIALIZED (
  SELECT n.node, coalesce(se.wt, 0.0) / t.s AS t
  FROM nodes n LEFT JOIN seeds se USING (node), tot t
),
it0 AS MATERIALIZED (SELECT node, t AS pr FROM tele)"""
    ]
    for k in range(1, PPR_ITERATIONS + 1):
        p = k - 1
        parts.append(f""",
d{k} AS (
  SELECT coalesce(sum(pr), 0.0) AS dm FROM it{p}
  WHERE NOT EXISTS (SELECT 1 FROM od WHERE od.src = it{p}.node)
),
c{k} AS (
  SELECT e.dst AS node, sum(it{p}.pr * e.w / od.deg) AS contrib
  FROM e JOIN od USING (src) JOIN it{p} ON e.src = it{p}.node
  GROUP BY 1
),
it{k} AS MATERIALIZED (
  SELECT n.node,
         (1.0 - {PPR_DAMPING}) * tl.t
         + {PPR_DAMPING} * (coalesce(c.contrib, 0.0) + d.dm * tl.t) AS pr
  FROM nodes n
  JOIN tele tl USING (node)
  CROSS JOIN d{k} d
  LEFT JOIN c{k} c ON n.node = c.node
)""")
    parts.append(
        f"\nSELECT node, round(pr, {PPR_DECIMALS}) + 0.0 AS pr"
        f" FROM it{PPR_ITERATIONS}"
    )
    return "".join(parts)


PR_ITERATIONS = 5
PR_DAMPING = 0.85
# 8dp: min |frac(pr·10^8) − 0.5| probed at 9.8e-2 / 3.4e-4 / 8.5e-5
# grid units (sf0.001/0.01/0.1) — all above the 1e-5 house precedent,
# vs ~1e-9-grid-unit cross-engine summation drift (9dp sat at 7e-7)
PR_DECIMALS = 8


def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the supplier→customer fulfillment graph
    (operators/graph.py:pagerank — dangling-mass power iteration, one
    loop-invariant edge⋈outdeg probe build, one contrib shuffle per
    iteration). Customers never ship, so every 'c' node is dangling —
    the redistribution path carries most of the mass and the oracle
    replays it exactly: {PR_ITERATIONS} unrolled iterations of the
    identical recurrence. pr is rounded to {PR_DECIMALS}dp on both
    engines (boundary margin probed at all three SFs); node ids are
    's'/'c'-prefixed so supplier and customer keys can never collide."""
    from ..operators.graph import pagerank

    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    edges = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("src"),
        F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("dst"),
    )
    ranks = pagerank(edges, iterations=PR_ITERATIONS, damping=PR_DAMPING)
    return ranks.select(
        "node", (F.round("pr", PR_DECIMALS) + F.lit(0.0)).alias("pr")
    )


def _oracle_pagerank() -> str:
    """Fixed-iteration CTE unroll of the same dangling-mass recurrence
    (the k-means E+M-chain precedent from vector_ann_ivf_bucketed):
    every arithmetic step is the identical IEEE op sequence, so the
    only cross-engine drift is summation order — ~1e-17 absolute
    against a 1e-{PR_DECIMALS} grid. Every CTE that later levels
    reference more than once is MATERIALIZED: each it{{k}} feeds three
    consumers (dangling, contribs, next ranks), and letting the
    planner inline them compounds ~3× per unrolled level — at 10×
    amplified edges the un-hinted chain spilled past 80 GB of temp."""
    parts = [
        f"""
WITH e AS MATERIALIZED (
  SELECT DISTINCT 's' || CAST(l_suppkey AS VARCHAR) AS src,
                  'c' || CAST(o_custkey AS VARCHAR) AS dst
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
nodes AS MATERIALIZED (SELECT src AS node FROM e UNION SELECT dst FROM e),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
od AS MATERIALIZED (
  SELECT src, CAST(count(*) AS DOUBLE) AS deg FROM e GROUP BY 1
),
it0 AS MATERIALIZED (SELECT node, 1.0 / nn.n AS pr FROM nodes, nn)"""
    ]
    for k in range(1, PR_ITERATIONS + 1):
        p = k - 1
        parts.append(f""",
d{k} AS (
  SELECT coalesce(sum(pr), 0.0) AS dm FROM it{p}
  WHERE NOT EXISTS (SELECT 1 FROM od WHERE od.src = it{p}.node)
),
c{k} AS (
  SELECT e.dst AS node, sum(it{p}.pr / od.deg) AS contrib
  FROM e JOIN od USING (src) JOIN it{p} ON e.src = it{p}.node
  GROUP BY 1
),
it{k} AS MATERIALIZED (
  SELECT n.node,
         (1.0 - {PR_DAMPING}) / nn.n
         + {PR_DAMPING} * (coalesce(c.contrib, 0.0) + d.dm / nn.n) AS pr
  FROM nodes n CROSS JOIN nn CROSS JOIN d{k} d
  LEFT JOIN c{k} c ON n.node = c.node
)""")
    parts.append(
        f"\nSELECT node, round(pr, {PR_DECIMALS}) + 0.0 AS pr"
        f" FROM it{PR_ITERATIONS}"
    )
    return "".join(parts)
