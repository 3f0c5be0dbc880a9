"""Transitive entity clustering over linkage matches
(link_entity_clusters): matched probes land in their master's entity,
corrupted probes stay singletons, reps are component minima, and a
planted probe matching TWO masters merges them (the transitive
semantics the one-to-one lane deliberately avoids)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spotify_etl_aws_spark.queries.lanes_linkage import LINK_PROBE_OFFSET
from spotify_etl_aws_spark.queries.selection import (
    link_customer_records,
    link_entity_clusters,
)


@pytest.fixture(scope="module")
def clusters(spark, sf_dir):
    return {
        r.node: (r.entity_rep, r.kind)
        for r in link_entity_clusters(spark, sf_dir).collect()
    }


@pytest.fixture(scope="module")
def matches(spark, sf_dir):
    return [
        (r.probe_id, r.custkey)
        for r in link_customer_records(spark, sf_dir).collect()
    ]


def test_matched_pairs_share_entity(clusters, matches):
    for probe_id, custkey in matches:
        assert (
            clusters[probe_id + LINK_PROBE_OFFSET][0]
            == clusters[custkey][0]
        )


def test_unmatched_probes_are_singletons(clusters, matches):
    """Corrupted probes (filtered by the score gate) must not join any
    entity: their rep is themselves."""
    matched_probes = {p for p, _ in matches}
    probe_nodes = {
        n for n, (_, kind) in clusters.items() if kind == "probe"
    }
    unmatched = {
        n for n in probe_nodes if n - LINK_PROBE_OFFSET not in matched_probes
    }
    assert unmatched  # the fixture's corrupted 7th probes exist
    for n in unmatched:
        assert clusters[n][0] == n


def test_reps_are_component_minima_and_kinds_partition(clusters):
    reps = {rep for rep, _ in clusters.values()}
    for rep in reps:
        # a rep is a real node and its own rep (the component minimum)
        assert clusters[rep][0] == rep
    for n, (rep, kind) in clusters.items():
        assert rep <= n
        assert kind == ("probe" if n >= LINK_PROBE_OFFSET else "master")


def test_transitive_merge_via_shared_probe(spark):
    """Direct operator-level check of the semantics the lane claims: a
    probe matching two masters merges them into ONE entity."""
    from spotify_etl_aws_spark.operators.dedup import label_propagation

    pairs = spark.createDataFrame(
        [(LINK_PROBE_OFFSET + 7, 1), (LINK_PROBE_OFFSET + 7, 2)],
        "doc_a long, doc_b long",
    )
    nodes = spark.createDataFrame(
        [(LINK_PROBE_OFFSET + 7,), (1,), (2,), (3,)], "node long"
    )
    got = {r.node: r.label for r in label_propagation(pairs, nodes).collect()}
    assert got[1] == got[2] == got[LINK_PROBE_OFFSET + 7] == 1
    assert got[3] == 3


def test_lane_no_cartesian_no_python(spark, sf_dir):
    plan = (
        link_entity_clusters(spark, sf_dir)
        ._jdf.queryExecution().executedPlan().toString()
    )
    for bad in ("CartesianProduct", "BroadcastNestedLoopJoin",
                "BatchEvalPython", "ArrowEvalPython"):
        assert bad not in plan

def test_probe_offset_guard_raises_on_keyspace_collision(spark):
    """If the master keyspace reaches LINK_PROBE_OFFSET the lane must
    raise instead of silently merging colliding node ids (round-10
    ADVICE item 1: TPC-H custkey = 150000*SF crosses 1M at SF~6.7)."""
    from spotify_etl_aws_spark.queries.lanes_linkage import (
        _assert_probe_offset_disjoint,
    )

    ok = spark.createDataFrame(
        [(LINK_PROBE_OFFSET - 1,)], "custkey long"
    )
    _assert_probe_offset_disjoint(ok)  # boundary-1: fine
    bad = spark.createDataFrame(
        [(5,), (LINK_PROBE_OFFSET,)], "custkey long"
    )
    with pytest.raises(ValueError, match="LINK_PROBE_OFFSET"):
        _assert_probe_offset_disjoint(bad)


def test_golden_records_semantics(spark, sf_dir, clusters):
    """Golden-record invariants (link_entity_golden): one row per
    entity, counts partition the membership, the canonical source is
    the LOWEST MASTER node when any master is in the cluster (the
    system of record outranks dirty probes) and the probe itself only
    for probe-only singletons."""
    from collections import defaultdict

    from spotify_etl_aws_spark.queries.selection import link_entity_golden

    by_entity = defaultdict(list)
    for node, (rep, kind) in clusters.items():
        by_entity[rep].append((node, kind))
    golden = {r.entity_rep: r for r in link_entity_golden(spark, sf_dir).collect()}
    assert set(golden) == set(by_entity)
    total = 0
    for rep, members in by_entity.items():
        g = golden[rep]
        assert g.n_members == len(members)
        assert g.n_probe + g.n_master == g.n_members
        assert g.n_probe == sum(1 for _, k in members if k == "probe")
        masters = sorted(n for n, k in members if k == "master")
        if masters:
            assert g.src_node == masters[0]
        else:
            assert g.n_members == 1 and g.src_node == members[0][0]
        total += g.n_members
    assert total == len(clusters)


def test_golden_attrs_are_source_rows(spark, sf_dir):
    """The canonical attributes are copied verbatim from the picked
    source node's record — never mixed across members."""
    from spotify_etl_aws_spark.queries.lanes_linkage import _fs_frames
    from spotify_etl_aws_spark.queries.selection import link_entity_golden

    probe, master = _fs_frames(spark, sf_dir)
    m_attrs = {
        r.custkey: (r.name, r.phone, r.segment, r.acct_cents)
        for r in master.collect()
    }
    p_attrs = {
        r.probe_id + LINK_PROBE_OFFSET: (r.name, r.phone, r.segment, r.acct_cents)
        for r in probe.collect()
    }
    for g in link_entity_golden(spark, sf_dir).collect():
        want = (
            m_attrs[g.src_node]
            if g.src_node < LINK_PROBE_OFFSET
            else p_attrs[g.src_node]
        )
        assert (g.name, g.phone, g.segment, g.acct_cents) == want
