"""Scale-technique tests: bucketed shuffle-free joins and salted
skew joins — result-identical to their naive forms, with the plan
shape asserted."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spotify_etl_aws_spark.operators.dedup import jaccard_pairs, label_propagation
from spotify_etl_aws_spark.operators.skew import salted_join
from spotify_etl_aws_spark.sources.readers import load_table
from spotify_etl_aws_spark.sources.sinks import save_bucketed


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    """Two tables bucketed on the join key at write time must sort-merge
    join with zero Exchange operators — the shuffle was paid at layout."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )
    save_bucketed(orders, "b_orders", 4, ["o_orderkey"], ["o_orderkey"])
    save_bucketed(li, "b_lineitem", 4, ["l_orderkey"], ["l_orderkey"])
    # disable auto-broadcast so the join exercises the bucketed path
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("b_lineitem").join(
            spark.table("b_orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan
        # and it is still correct
        expected = li.join(orders, li.l_orderkey == orders.o_orderkey).count()
        assert joined.count() == expected
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))


def test_q5_cobucketed_plan_and_parity(spark, sf_dir):
    """The q5 serial 100 TB posture: orders/customer co-bucketed on
    custkey join with ZERO exchange, lineitem's orderkey bucketing
    absorbs the fact side of the second join, and the dims broadcast —
    so the ONLY data-sized exchange left is the orders⋈customer
    result re-keyed to orderkey. Plan-pinned: lineitem's scan subtree
    has no Exchange, total Exchanges ≤ 2 (oc→orderkey + final agg),
    and the result is row-identical to the plain li-rooted q5."""
    from spotify_etl_aws_spark.queries.relational import (
        q5_regional_revenue,
        q5_snowflake_cobucketed,
    )

    li = load_table(spark, sf_dir, "lineitem")
    save_bucketed(li, "b5_lineitem", 4, ["l_orderkey"], ["l_orderkey"])
    save_bucketed(
        load_table(spark, sf_dir, "orders"), "b5_orders", 4,
        ["o_custkey"], ["o_custkey"],
    )
    save_bucketed(
        load_table(spark, sf_dir, "customer"), "b5_customer", 4,
        ["c_custkey"], ["c_custkey"],
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        q = q5_snowflake_cobucketed(
            spark.table("b5_lineitem"),
            spark.table("b5_orders"),
            spark.table("b5_customer"),
            load_table(spark, sf_dir, "supplier"),
            load_table(spark, sf_dir, "nation"),
            load_table(spark, sf_dir, "region"),
        )
        plan = q._jdf.queryExecution().executedPlan().toString()
        import re

        n_exchanges = len(re.findall(r"Exchange hashpartitioning", plan))
        assert n_exchanges <= 2, plan
        # the lineitem scan feeds its join with no Exchange in between:
        # every Exchange keys on the orders/customer/agg side, never a
        # lineitem column
        for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
            assert "l_orderkey" not in m.group(1), plan
        want = sorted(
            map(tuple, q5_regional_revenue(spark, sf_dir).collect())
        )
        assert sorted(map(tuple, q.collect())) == want
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )


def test_salted_join_matches_plain_join(spark, sf_dir):
    """Salting redistributes a hot key without changing the result."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    plain = li.join(orders, li.l_orderkey == orders.o_orderkey).groupBy(
        "o_orderstatus"
    ).agg(F.count("*").alias("n"), F.round(F.sum("l_quantity"), 2).alias("q"))
    salted = salted_join(
        li.withColumnRenamed("l_orderkey", "k"),
        orders.withColumnRenamed("o_orderkey", "k"),
        on="k",
        salt=8,
    ).groupBy("o_orderstatus").agg(
        F.count("*").alias("n"), F.round(F.sum("l_quantity"), 2).alias("q")
    )
    assert sorted(salted.collect()) == sorted(plain.collect())


def test_salted_join_all_types_match_plain_join(spark):
    """Result identity vs the plain join for EVERY join type — with
    keys unmatched on each side, duplicate keys (fan-out), and NULL
    keys (which never equi-match and must surface from both sides of
    an outer join exactly once)."""
    left = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "c"), (3, "d"), (None, "e")],
        "k int, lv string",
    )
    right = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (2, 21.0), (4, 40.0), (None, 50.0)],
        "k int, rv double",
    )
    for how in (
        "inner", "left", "left_outer", "left_semi", "left_anti",
        "right", "right_outer", "full", "full_outer", "outer",
    ):
        plain = left.join(right, "k", how)
        salted = salted_join(left, right, on="k", salt=4, how=how)
        assert sorted(salted.columns) == sorted(plain.columns), how
        key = lambda r: tuple((v is None, v) for v in r)
        got = sorted((tuple(r) for r in salted.collect()), key=key)
        want = sorted((tuple(r) for r in plain.collect()), key=key)
        assert got == want, how


def test_salted_join_full_outer_with_duplicate_nonkey_names(spark):
    """A plain full join legitimately outputs duplicate column names
    when both sides carry the same non-key name; the composed salted
    path must too (positional union, not unionByName)."""
    left = spark.createDataFrame([(1, "a"), (3, "c")], "k int, v string")
    right = spark.createDataFrame([(1, "x"), (4, "y")], "k int, v string")
    plain = left.join(right, "k", "full")
    salted = salted_join(left, right, on="k", salt=4, how="full")
    assert salted.columns == plain.columns  # k, v, v
    key = lambda r: tuple((x is None, x) for x in r)
    assert sorted((tuple(r) for r in salted.collect()), key=key) == sorted(
        (tuple(r) for r in plain.collect()), key=key
    )


def test_targeted_salted_join_all_types_match_plain_join(spark):
    """Targeted salting (hot_keys given) keeps the same row-identity
    guarantee for every join type: hot rows salt/replicate, cold rows
    pair at salt 0 — including hot keys unmatched on one side, NULL
    keys, and a hot_keys entry absent from both sides."""
    from spotify_etl_aws_spark.operators.skew import detect_hot_keys

    left = spark.createDataFrame(
        [(1, "a"), (1, "b"), (1, "c"), (1, "d"), (2, "e"), (3, "f"), (None, "g")],
        "k int, lv string",
    )
    right = spark.createDataFrame(
        [(1, 10.0), (1, 11.0), (2, 20.0), (4, 40.0), (None, 50.0)],
        "k int, rv double",
    )
    hot = detect_hot_keys(left, "k", min_fraction=0.3)
    assert hot == [1]
    for hot_keys in ([1], [1, 4], [99]):
        for how in (
            "inner", "left", "left_semi", "left_anti",
            "right", "full",
        ):
            plain = left.join(right, "k", how)
            salted = salted_join(
                left, right, on="k", salt=4, how=how, hot_keys=hot_keys
            )
            key = lambda r: tuple((v is None, v) for v in r)
            got = sorted((tuple(r) for r in salted.collect()), key=key)
            want = sorted((tuple(r) for r in plain.collect()), key=key)
            assert got == want, (how, hot_keys)


def test_salted_join_rejects_unknown_how(spark):
    df = spark.range(4).withColumnRenamed("id", "k")
    with pytest.raises(ValueError, match="unsupported join type"):
        salted_join(df, df, on="k", how="cross")


def test_label_propagation_chain_converges_to_min(spark):
    """A path graph 0-1-2-3-4 has diameter 4; with enough iterations
    every node labels to the component minimum."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(4)], "doc_a bigint, doc_b bigint"
    )
    nodes = spark.range(5).withColumnRenamed("id", "node")
    got = {r.node: r.label for r in label_propagation(pairs, nodes, max_iters=8).collect()}
    assert got == {i: 0 for i in range(5)}


def test_label_propagation_raises_when_iteration_bound_too_small(spark):
    """Silently returning half-propagated labels would be wrong cluster
    representatives; the operator must fail loud instead.

    The chain must be deep enough that seed + max_iters rounds + the
    final halving step can NOT reach the fixpoint: since r14 the seed
    is min(self, min neighbor) — one propagation round for free — so a
    5-node path converges (correctly, no raise) within max_iters=1;
    a 12-node path still cannot (labels reach ~4 hops back, nodes 5+
    keep moving on the re-probe)."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(11)], "doc_a bigint, doc_b bigint"
    )
    nodes = spark.range(12).withColumnRenamed("id", "node")
    with pytest.raises(RuntimeError, match="did not converge"):
        label_propagation(pairs, nodes, max_iters=1)


def test_embedding_neardup_reps_are_component_minima(spark, sf_dir):
    """Embedding-cosine near-dup invariants: one row per vector, the
    representative is never larger than the member id, representatives
    are a fixpoint (rep of rep == rep), both endpoints of every verified
    within-cell pair land in the same cluster, and the fixture yields a
    non-vacuous result (at least one genuine duplicate)."""
    from spotify_etl_aws_spark.operators.vector_ops import (
        assign_cells_arrow,
        cell_cosine_pairs_arrow,
    )
    from spotify_etl_aws_spark.queries.vector import (
        EMB_DUP_THRESHOLD,
        _embeddings,
        _learned_centroids,
        dedup_embedding_cosine,
    )

    rep = {
        r.vec_id: r.cluster_rep
        for r in dedup_embedding_cosine(spark, sf_dir).collect()
    }
    n_vecs = load_table(spark, sf_dir, "embeddings").count()
    assert len(rep) == n_vecs
    assert all(label <= vid for vid, label in rep.items())
    assert all(rep[label] == label for label in rep.values())
    pairs = cell_cosine_pairs_arrow(
        assign_cells_arrow(
            _embeddings(spark, sf_dir), _learned_centroids(spark, sf_dir)
        ),
        EMB_DUP_THRESHOLD,
    ).collect()
    assert pairs, "fixture has no within-cell near-dup pairs — vacuous test"
    assert all(rep[p.doc_a] == rep[p.doc_b] for p in pairs)


def test_jaccard_max_df_bounds_hot_shingle_expansion(spark):
    """A stopword-like shingle shared by every doc must not generate the
    quadratic pair set once the document-frequency cap is on."""
    n = 30
    hot = "the quick brown fox"  # 2 shingles (3-grams), in all 30 docs
    rows = [(i, f"{hot} unique{i} body{i} tail{i} end{i}") for i in range(n)]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")

    uncapped = jaccard_pairs(docs, threshold=0.01, max_df=None)
    # every pair of docs shares the hot shingles -> full quadratic blowup
    assert uncapped.count() == n * (n - 1) // 2

    capped = jaccard_pairs(docs, threshold=0.01, max_df=10)
    # hot shingles (df=30 > 10) leave the effective sets; the remaining
    # per-doc unique shingles share nothing -> zero pairs survive
    assert capped.count() == 0


def test_ivf_partitioned_layout_prunes_probed_cells(spark, sf_dir, tmp_path):
    """The production IVF posture: the index BUILD writes assignments
    partitioned by quantizer cell, so a probe's `cell IN (...)` filter
    becomes partition pruning — the scan never touches the other
    k - nprobe cells' files. At 100 TB this is the difference between
    reading the whole corpus and reading ~nprobe/k of it."""
    from spotify_etl_aws_spark.queries.vector import (
        NPROBE,
        QUERY_VEC_ID,
        _embeddings,
        _learned_centroids,
        _probe_cells,
        _query_vector,
    )
    from spotify_etl_aws_spark.operators.vector_ops import assign_cells_arrow

    cents = _learned_centroids(spark, sf_dir)
    path = str(tmp_path / "ivf_index")
    (
        assign_cells_arrow(_embeddings(spark, sf_dir), cents)
        .write.partitionBy("cell")
        .parquet(path)
    )
    probe = _probe_cells(cents, _query_vector(sf_dir, QUERY_VEC_ID), NPROBE)
    scan = spark.read.parquet(path).filter(F.col("cell").isin(probe))
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan.split("PartitionFilters")[1][:80]
    # the pruned scan returns exactly the probed cells' rows
    import os
    all_cells = {
        int(d.split("=")[1])
        for d in os.listdir(path)
        if d.startswith("cell=")
    }
    assert len(all_cells) > NPROBE  # pruning is non-vacuous
    got_cells = {r.cell for r in scan.select("cell").distinct().collect()}
    assert got_cells == set(probe)


def test_q4_cobucketed_plan_and_parity(spark, sf_dir):
    """The q4 100 TB posture (round-7 verdict item 1): lineitem and
    orders co-bucketed on orderkey semi-join with ZERO data-sized
    exchange — every remaining Exchange keys on the 5-row priority
    aggregate, never on orderkey — and the result is row-identical to
    the verbatim-SQL lane."""
    import re

    from spotify_etl_aws_spark.queries.tpch import (
        q4_cobucketed,
        sql_q4_priority_lateness,
    )

    save_bucketed(
        load_table(spark, sf_dir, "lineitem"), "b4_li", 4,
        ["l_orderkey"], ["l_orderkey"],
    )
    save_bucketed(
        load_table(spark, sf_dir, "orders"), "b4_o", 4,
        ["o_orderkey"], ["o_orderkey"],
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        q = q4_cobucketed(spark.table("b4_li"), spark.table("b4_o"))
        plan = q._jdf.queryExecution().executedPlan().toString()
        for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
            assert "orderkey" not in m.group(1), plan
        want = sorted(
            map(tuple, sql_q4_priority_lateness(spark, sf_dir).collect())
        )
        assert sorted(map(tuple, q.collect())) == want and want
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )


def test_q16_approx_cobucketed_plan_and_envelope(spark, sf_dir):
    """The q16 100 TB posture (round-8 verdict item 2): HLL++ sketch
    count-distinct on the co-bucketed layout. Plan pins: no partkey
    exchange (bucketing), no suppkey in ANY exchange key (the exact
    plan's partial aggregate shuffles (brand, type, size, suppkey)
    rows; the sketch plan's one exchange carries only the group keys),
    broadcast anti-join. Accuracy pin: every estimate within 5σ
    (5 × rsd) of the exact count, and the estimate of the exact
    winner's group is present in the approx top-30."""
    import re

    from spotify_etl_aws_spark.queries.tpch import (
        q16_approx_cobucketed,
        sql_q16_supplier_variety,
    )

    save_bucketed(
        load_table(spark, sf_dir, "lineitem"), "b16a_li", 4,
        ["l_partkey"], ["l_partkey"],
    )
    save_bucketed(
        load_table(spark, sf_dir, "part"), "b16a_p", 4,
        ["p_partkey"], ["p_partkey"],
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        rsd = 0.02
        q = q16_approx_cobucketed(
            spark.table("b16a_li"),
            spark.table("b16a_p"),
            load_table(spark, sf_dir, "supplier"),
            rsd=rsd,
        )
        plan = q._jdf.queryExecution().executedPlan().toString()
        for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
            assert "partkey" not in m.group(1), plan
            assert "suppkey" not in m.group(1), plan
        assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
        exact = {
            (r.p_brand, r.p_type, r.p_size): r.supplier_cnt
            for r in sql_q16_supplier_variety(spark, sf_dir).collect()
        }
        approx = {
            (r.p_brand, r.p_type, r.p_size): r.supplier_cnt
            for r in q.collect()
        }
        assert approx
        shared = exact.keys() & approx.keys()
        assert shared  # the estimate surfaces real winners
        for key in shared:
            e, a = exact[key], approx[key]
            assert abs(a - e) <= max(5 * rsd * e, 2), (key, e, a)
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )


def test_q16_cobucketed_plan_and_parity(spark, sf_dir):
    """The q16 posture: part and lineitem co-bucketed on partkey join
    with no partkey exchange; the supplier NOT-IN exclusion broadcasts
    (never shuffles the fact); remaining Exchanges carry only the
    (brand, type, size, suppkey) distinct-aggregate rows. Result
    row-identical to the verbatim-SQL lane."""
    import re

    from spotify_etl_aws_spark.queries.tpch import (
        q16_cobucketed,
        sql_q16_supplier_variety,
    )

    save_bucketed(
        load_table(spark, sf_dir, "lineitem"), "b16_li", 4,
        ["l_partkey"], ["l_partkey"],
    )
    save_bucketed(
        load_table(spark, sf_dir, "part"), "b16_p", 4,
        ["p_partkey"], ["p_partkey"],
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        q = q16_cobucketed(
            spark.table("b16_li"),
            spark.table("b16_p"),
            load_table(spark, sf_dir, "supplier"),
        )
        plan = q._jdf.queryExecution().executedPlan().toString()
        for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
            assert "partkey" not in m.group(1), plan
        assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
        want = sorted(
            map(tuple, sql_q16_supplier_variety(spark, sf_dir).collect())
        )
        assert sorted(map(tuple, q.collect())) == want and want
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )
