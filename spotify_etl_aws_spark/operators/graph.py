"""Link-graph centrality: distributed PageRank (north-star, SURVEY.md
§2.11 URL-curation lane).

Web-corpus curation ranks hosts/URLs by link authority before anything
touches page text — CommonCrawl publishes harmonic/PageRank host ranks
for exactly this, and the open curation pipelines (CCNet-class) use
them as a crawl-seed and quality prior next to per-domain caps. The
declared query is ``graph_pagerank`` (``queries/lanes_graph_events.py``)
over the supplier→customer fulfillment graph. The reference engine has
no graph surface at all (its SQL never leaves scan/join/agg); this lane
is part of the beyond-reference training-data inventory, the
iterative-algorithm twin of connected components
(`operators/dedup.py:connected_components`).

Formulation (Page et al. 1999, the dangling-mass variant): with
damping d and n nodes,

    pr'(v) = (1 - d)/n + d * (Σ_{u→v} pr(u)/outdeg(u) + dangling/n)

where ``dangling`` is the rank mass sitting on nodes with no
out-edges, redistributed uniformly so Σ pr stays exactly 1 — without
it, a bipartite supplier→customer graph (every customer dangling)
leaks all mass by iteration 2.

Scale posture:
- per iteration: ONE (edges⋈outdeg)⋈ranks equi-join on src (the
  edges⋈outdeg half is loop-invariant — joined once and checkpointed
  before the loop; both sides keyed on node id, AQE-coalesced,
  skew-split eligible; a real deployment pre-buckets edges on src once
  via ``sources/sinks.py:save_bucketed`` and every iteration's probe
  reuses the layout) and ONE partial-agg shuffle on dst. Edge data
  never moves twice; ranks are node-cardinality narrow rows.
- driver state per iteration is TWO scalars (the dangling-mass sum and
  nothing else — n is computed once) — the same O(1)-driver-state
  contract as the k-means/classifier loops.
- ``localCheckpoint(eager=False)`` every iteration cuts lineage so the
  DAG stays flat across iterations (the connected-components
  convention) while deferring block materialization: each iteration's
  blocks are computed exactly once, by the first consumer that touches
  them (the next iteration's dangling-mass subquery, or the caller's
  final action) instead of by a dedicated per-iteration checkpoint job
  (r14; guide §1.2-1 — the eager form paid one dispatch-floor job per
  iteration on top of the subquery execution).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from .lineage import cut_lineage, cut_lineage_eager


def bfs_levels(
    edges: DataFrame,
    sources: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_hops: int = 10,
    directed: bool = True,
) -> DataFrame:
    """(node, dist): minimum hop count from the seed set (``sources``
    must carry a ``node`` column; seeds are dist 0 even when absent
    from the edge list), breadth-first to ``max_hops``. Nodes never
    reached are absent from the result — the caller left-joins if it
    wants NULL-distance rows.

    The traversal primitive under shortest-path/reachability/
    neighborhood queries, the iterative-join twin of
    ``connected_components``: per hop ONE frontier⋈edges equi-join
    (frontier is the newly-discovered set only, never the full
    visited set), one distinct, and one anti-join against visited —
    all keyed on node id, AQE-coalesced. Driver state is O(1) (a
    row-count per hop for the empty-frontier exit); visited/frontier
    are localCheckpoint-ed so each hop's work executes once and the
    DAG stays flat. ``directed=False`` unions the reversed edge set
    once, up front."""
    if max_hops < 0:
        raise ValueError(f"max_hops must be >= 0, got {max_hops}")
    e = (
        edges.filter(F.col(src).isNotNull() & F.col(dst).isNotNull())
        .select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    )
    if not directed:
        e = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    e = e.distinct().transform(cut_lineage_eager)
    visited = (
        sources.select(F.col("node"))
        .distinct()
        .withColumn("dist", F.lit(0))
        .transform(cut_lineage_eager)
    )
    frontier = visited
    for hop in range(1, max_hops + 1):
        nxt = (
            frontier.join(e, frontier.node == e.src)
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited, "node", "left_anti")
            .withColumn("dist", F.lit(hop))
            .transform(cut_lineage_eager)
        )
        if not nxt.take(1):
            break
        visited = visited.unionByName(nxt).transform(cut_lineage_eager)
        frontier = nxt
    return visited


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 10,
    damping: float = 0.85,
    tol: float | None = None,
    teleport: DataFrame | None = None,
    weight_col: str | None = None,
) -> DataFrame:
    """(node, pr) for every node incident to ``edges`` (either side),
    after ``iterations`` synchronous power-iteration steps from the
    teleport distribution. Duplicate edges are collapsed (a link
    counts once, the host-graph convention); self-loops count as
    ordinary edges. NULL endpoints are dropped.

    ``tol``: early-exit tolerance — stop as soon as
    max|pr − pr_prev| ≤ tol (an L∞ fixpoint test; ``iterations``
    becomes the cap). Costs one tiny checkpointed-frames join per
    iteration; None (default) keeps the fixed-iteration behavior the
    `graph_pagerank` oracle unrolls.

    ``teleport``: PERSONALIZED PageRank — a (node, weight) frame; the
    restart distribution (and the dangling-mass redistribution, the
    standard PPR convention) becomes weight/Σweight over the graph
    nodes listed, 0 elsewhere, biasing authority toward the seed set
    (topic-focused crawl priors). Weights of nodes absent from the
    graph are ignored; the start vector is the teleport distribution.
    None keeps the uniform 1/n teleport — and the EXACT arithmetic
    shape (lit((1−d)/n), lit(dangling/n)) the oracle replays.

    ``weight_col``: WEIGHTED edges (the CommonCrawl host graph carries
    link counts) — a node's rank flows to each successor
    proportionally to edge weight (pr·w/Σ_out w) instead of 1/outdeg.
    Duplicate (src, dst) rows SUM their weights (vs the unweighted
    collapse); non-positive/NULL weights are dropped."""
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    if not (0.0 < damping < 1.0):
        raise ValueError(f"damping must be in (0, 1), got {damping}")
    if tol is not None and tol <= 0.0:
        raise ValueError(f"tol must be positive, got {tol}")
    keyed = edges.filter(F.col(src).isNotNull() & F.col(dst).isNotNull())
    if weight_col is None:
        e = (
            keyed.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
            .distinct()
            .transform(cut_lineage)
        )
    else:
        e = (
            keyed.filter(F.col(weight_col) > 0)
            .select(
                F.col(src).alias("src"),
                F.col(dst).alias("dst"),
                F.col(weight_col).cast("double").alias("w"),
            )
            .groupBy("src", "dst")
            .agg(F.sum("w").alias("w"))
            .transform(cut_lineage)
        )
    # lazy: the n = nodes.count() action below materializes e and
    # nodes together in ONE job instead of three
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .transform(cut_lineage)
    )
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("pr", F.lit(0.0))
    if weight_col is None:
        outdeg = e.groupBy("src").agg(F.count("*").alias("deg"))
    else:
        outdeg = e.groupBy("src").agg(F.sum("w").alias("deg"))
    # loop-invariant: every iteration probes the SAME (src, dst, deg)
    # frame, so join edges⋈outdeg once and checkpoint the result —
    # 10 iterations pay for 1 probe build instead of 10
    e_deg = e.join(outdeg, "src").transform(cut_lineage)
    # loop-invariant too (r15): DANGLING MEMBERSHIP. Flag it once on
    # the node frame instead of re-deriving it every iteration with a
    # ranks⋈outdeg left-anti join — the old subquery re-ran outdeg's
    # groupBy Exchange and an SMJ per iteration; the flag rides the
    # checkpointed rank frame for free, so each iteration's dangling
    # mass is a filter + 1-row aggregate over stored blocks (measured:
    # ppr −9% at sf0.1, and one fewer node-cardinality shuffle per
    # iteration at the 100 TB target).
    nodeflags = (
        nodes.join(
            outdeg.select(F.col("src").alias("node"))
            .distinct()
            .withColumn("__out", F.lit(True)),
            "node",
            "left",
        )
        .select("node", F.col("__out").isNull().alias("__dang"))
        .transform(cut_lineage)
    )
    if teleport is None:
        tele = None
        ranks = nodeflags.withColumn("pr", F.lit(1.0 / n)).transform(cut_lineage)
    else:
        w = teleport.select(
            F.col("node"), F.col("weight").cast("double").alias("__w")
        ).filter(F.col("__w") > 0.0)
        seeded = nodes.join(w, "node")  # graph nodes only
        total = seeded.agg(F.sum("__w")).collect()[0][0]
        if not total:
            raise ValueError(
                "teleport has no positive-weight node present in the graph"
            )
        tele = (
            nodeflags.join(seeded.select("node", "__w"), "node", "left")
            .select(
                "node",
                "__dang",
                (F.coalesce(F.col("__w"), F.lit(0.0)) / F.lit(float(total))
                 ).alias("t"),
            )
            .transform(cut_lineage)
        )
        ranks = tele.select(
            "node", "__dang", F.col("t").alias("pr")
        ).transform(cut_lineage)
    for it in range(iterations):
        # dangling mass rides the SAME action as the rank update: the
        # 1-row filter-aggregate enters the plan as a SCALAR SUBQUERY
        # (DataFrame.scalar(), Spark 4) — no join, no driver-side
        # collect(), so the tol=None path dispatches ONE Python action
        # per iteration. Arithmetic: the same double sum over the same
        # dangling rows (order differs from the pre-r15 anti-join only
        # as any repartition would), same IEEE divide by n.
        dang = (
            ranks.filter(F.col("__dang"))
            .agg(F.coalesce(F.sum("pr"), F.lit(0.0)).alias("__dang_sum"))
            .scalar()
        )
        share = (
            F.col("pr") / F.col("deg")
            if weight_col is None
            else F.col("pr") * F.col("w") / F.col("deg")
        )
        contribs = (
            e_deg.join(ranks.select("node", "pr"), e_deg.src == F.col("node"))
            .select("dst", share.alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("contrib"))
        )
        joined = nodeflags.join(contribs, nodeflags.node == contribs.dst, "left")
        c = F.coalesce(F.col("contrib"), F.lit(0.0))
        if tele is None:
            expr = (
                F.lit((1.0 - damping) / n)
                + F.lit(damping) * (c + dang / F.lit(float(n)))
            )
            new_ranks = joined.select("node", "__dang", expr.alias("pr"))
        else:
            expr = (
                F.lit(1.0 - damping) * F.col("t")
                + F.lit(damping) * (c + dang * F.col("t"))
            )
            new_ranks = joined.join(tele.select("node", "t"), "node").select(
                "node", "__dang", expr.alias("pr")
            )
        if tol is None and it == iterations - 1:
            # final frame stays LIVE (un-checkpointed) so callers see
            # the real iteration plan (the no-cartesian pin reads it)
            ranks = new_ranks
            break
        # lazy: the next iteration's dangling-mass subquery (or the
        # tol probe / the caller's final action) materializes this
        # round's blocks — no dedicated per-iteration checkpoint job
        new_ranks = new_ranks.transform(cut_lineage)
        if tol is not None:
            delta = (
                new_ranks.select("node", F.col("pr").alias("__new"))
                .join(ranks.select("node", "pr"), "node")
                .agg(F.max(F.abs(F.col("__new") - F.col("pr"))))
                .collect()[0][0]
            )
            ranks = new_ranks
            if delta is not None and delta <= tol:
                break
        else:
            ranks = new_ranks
    return ranks.select("node", "pr")


def triangle_count(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Exact global triangle count via degree-ordered wedge counting
    (Cohen 2009 / Suri–Vassilvitskii 2011 — the MapReduce-era standard
    that survives at 100 TB because it bounds the quadratic step by the
    SMALLEST degree in each triangle, not the hubs'):

    1. canonicalize to undirected distinct edges (u < v);
    2. total-order vertices by (degree, id) and orient every edge from
       the lower-ordered endpoint to the higher — each triangle then
       has exactly ONE apex with two out-edges to the other two
       vertices, so nothing is double-counted;
    3. build wedges by self-joining out-edges on the apex (the join
       fan-out at a vertex is its OUT-degree, ≤ its degree rank — hub
       vertices have near-zero out-degree under this orientation, so
       the skew a naive neighbor self-join would hit at a celebrity
       node never materializes);
    4. left-semi join wedges against the oriented edge set to keep the
       closed ones.

    Returns a single row (n_vertices, n_edges, n_wedges, n_triangles)
    — all exact BIGINTs. Three shuffles total (degree agg, wedge join,
    closing semi-join), each keyed on vertex/edge ids only; no vertex
    payload ever rides an exchange.
    """
    # NOTE (r14): deliberately NOT checkpointed. e is referenced by
    # four consumers across three driver actions, but materializing it
    # (localCheckpoint) replaces the parquet-scan lineage with an
    # ExistingRDD whose unknown size estimate demotes the planner's
    # BroadcastHashJoins to sort-merge — measured 2.66 s -> 4.80 s at
    # sf0.1. Recomputing the codegen'd distinct per action is cheaper
    # than losing the broadcast strategy.
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("dv"))
    # orient a -> b iff (deg(a), a) < (deg(b), b)
    oriented = (
        e.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(
                (F.col("du") < F.col("dv"))
                | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))),
                F.struct(F.col("u").alias("a"), F.col("v").alias("b")),
            )
            .otherwise(
                F.struct(F.col("v").alias("a"), F.col("u").alias("b"))
            )
            .alias("ab")
        )
        .select("ab.a", "ab.b")
    )
    o1 = oriented.select(F.col("a").alias("apex"), F.col("b").alias("x"))
    o2 = oriented.select(F.col("a").alias("apex"), F.col("b").alias("y"))
    wedges = o1.join(o2, "apex").filter(F.col("x") < F.col("y"))
    # the closing probe is a LEFT join with a match flag (not a semi
    # join + second count): wedge total and closed total then come out
    # of ONE aggregation over ONE execution of the wedge join — the
    # expensive lineage never recomputes
    closing = e.select(
        F.col("u").alias("x"), F.col("v").alias("y"), F.lit(1).alias("__hit")
    )
    wedge_stats = (
        wedges.join(closing, ["x", "y"], "left")
        .agg(
            F.count(F.lit(1)).alias("n_wedges"),
            F.count("__hit").alias("n_triangles"),
        )
        .collect()[0]
    )
    n_edges = e.count()
    n_vertices = deg.count()
    spark = edges.sparkSession
    return spark.createDataFrame(
        [
            (
                n_vertices,
                n_edges,
                wedge_stats["n_wedges"],
                wedge_stats["n_triangles"],
            )
        ],
        "n_vertices bigint, n_edges bigint, n_wedges bigint, n_triangles bigint",
    )
