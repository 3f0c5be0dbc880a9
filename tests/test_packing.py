"""Sequence-packing operator (operators/packing.py): exact-greedy
parity per shard, global invariants on the documents fixture, and the
bounded-waste guarantee."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spotify_etl_aws_spark.operators.packing import pack_sequences
from spotify_etl_aws_spark.sources.readers import load_table


def pack_stats(packed):
    return packed.groupBy("pack_id").agg(
        F.count("*").alias("n_docs"), F.sum("n_tokens").alias("pack_tokens")
    )


def _greedy_reference(items: list[tuple[int, int]], budget: int) -> dict[int, int]:
    """Driver-side exact greedy packer: id-ordered; pack id = the id
    of the pack's first document."""
    out, head, used = {}, None, 0
    for doc_id, tok in sorted(items):
        if head is None or (used > 0 and used + tok > budget):
            head, used = doc_id, 0
        out[doc_id] = head
        used += tok
    return out


def test_single_shard_matches_exact_greedy(spark):
    rows = [(i, 10 + (i * 37) % 90) for i in range(200)]
    docs = spark.createDataFrame(rows, "doc_id bigint, n_tokens bigint")
    got = {
        r.doc_id: r.pack_id
        for r in pack_sequences(docs, budget=256, shard_span=1000).collect()
    }
    assert got == _greedy_reference(rows, 256)


def test_hash_id_space_packs_without_overflow(spark):
    """Signed 64-bit content-hash doc ids (the realistic id space for
    a crawled corpus) pack fine: pack id = first doc id, so no stride
    arithmetic exists to overflow, and grouped packing stays unique."""
    rows = [
        ((i * 0x9E3779B97F4A7C15) % (1 << 63) - (1 << 62), 100 + i % 50, i % 3)
        for i in range(500)
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, n_tokens bigint, grp int")
    packed = pack_sequences(docs, budget=512, group_col="grp").collect()
    assert len(packed) == 500
    assert len({r.doc_id for r in packed}) == 500
    # ungrouped parity against the driver reference, same id space:
    # the reference packs each id-range shard independently, exactly
    # like the operator
    flat = [(d, t) for d, t, _ in rows]
    span = 1 << 40
    shards: dict[int, list[tuple[int, int]]] = {}
    for d, t in flat:
        shards.setdefault(d // span, []).append((d, t))
    want: dict[int, int] = {}
    for part in shards.values():
        want.update(_greedy_reference(part, 512))
    got = {
        r.doc_id: r.pack_id
        for r in pack_sequences(
            spark.createDataFrame(flat, "doc_id bigint, n_tokens bigint"),
            budget=512,
            shard_span=span,
        ).collect()
    }
    assert got == want


def test_packing_invariants_on_documents(spark, sf_dir):
    budget = 2048
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("n_chars").alias("n_tokens")
    )
    n_docs = docs.count()
    packed = pack_sequences(docs, budget=budget, shard_span=1000)
    rows = packed.collect()

    # every document exactly once
    assert len(rows) == n_docs and len({r.doc_id for r in rows}) == n_docs

    # no multi-doc pack exceeds the budget; oversize docs sit alone
    stats = pack_stats(packed).collect()
    for s in stats:
        if s.n_docs > 1:
            assert s.pack_tokens <= budget, s
    over = [s for s in stats if s.pack_tokens > budget]
    assert all(s.n_docs == 1 for s in over)

    # pack_pos is a contiguous 0..n_docs-1 run within each pack
    by_pack: dict[int, list[int]] = {}
    for r in rows:
        by_pack.setdefault(r.pack_id, []).append(r.pack_pos)
    assert all(sorted(v) == list(range(len(v))) for v in by_pack.values())

    # deterministic
    again = {
        (r.doc_id, r.pack_id, r.pack_pos)
        for r in pack_sequences(docs, budget=budget, shard_span=1000).collect()
    }
    assert again == {(r.doc_id, r.pack_id, r.pack_pos) for r in rows}


def test_bounded_waste_across_shards(spark):
    """≤ one partial pack per shard: mean fill of non-final packs per
    shard stays near the budget even with many shards."""
    rows = [(i, 300) for i in range(1000)]  # 300 tokens each
    docs = spark.createDataFrame(rows, "doc_id bigint, n_tokens bigint")
    budget = 1000  # 3 docs/pack, shard_span=100 -> 34 packs/shard
    stats = pack_stats(
        pack_sequences(docs, budget=budget, shard_span=100)
    ).collect()
    partial = [s for s in stats if s.pack_tokens < 900]
    # 10 shards -> at most 10 partial (final) packs
    assert len(partial) <= 10


def test_packing_is_single_exchange(spark, sf_dir):
    """Scale shape pin: sharding is a pure projection, so the whole
    packing plan carries exactly ONE Exchange (the shard groupBy) and
    no global sort before it."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("n_chars").alias("n_tokens")
    )
    plan = (
        pack_sequences(docs, budget=2048)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange") == 1


def test_packing_rejects_bad_params(spark):
    docs = spark.createDataFrame([(0, 5)], "doc_id bigint, n_tokens bigint")
    with pytest.raises(ValueError, match="budget"):
        pack_sequences(docs, budget=0)
    with pytest.raises(ValueError, match="shard_span"):
        pack_sequences(docs, budget=10, shard_span=0)
