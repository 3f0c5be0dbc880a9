"""Mergeable frequency sketches: Misra–Gries heavy hitters and
count-min (north-star, SURVEY.md §2.11 corpus-stats lane).

The corpus-statistics jobs a training-data pipeline runs constantly —
top tokens / domains / shingles, hot-key detection, vocabulary
screening — have a key space that is itself 100 TB-shaped (every
distinct n-gram of a web corpus). An exact groupBy answers them with
a shuffle of the whole key space; these sketches answer them with
bounded state per task and a sketch-sized (or survivor-sized) shuffle,
the standard trade (Misra & Gries 1982; Cormode & Muthukrishnan 2005).

Scale posture:

- ``misra_gries_topk``: each TASK keeps a capped dict (``capacity``
  counters) over its partition — classic MG, decrementing all counters
  when a (capacity+1)-th key appears. Only the survivors (≤ capacity
  rows per partition) shuffle; the merge is a plain sum per key
  (pointwise-summed MG summaries remain a valid MG summary). Every
  partition also emits its total decrement ``dec``; the global
  ``Σ dec`` bounds the undercount of EVERY emitted count
  (true ∈ [cnt, cnt + max_undercount]) — and when it is 0 (no task
  ever evicted) the surviving counts are EXACT, which is the
  correctness contract the oracle query pins. Python state is a
  bounded dict per task fed by Arrow batches (mapInPandas) — the
  same capped-model-state posture as the BPE word table.
- ``count_min_sketch``: pure JVM — ``depth`` hash rows via
  ``xxhash64(key, row)``, one partial-aggregating shuffle whose world
  is at most depth×width cells regardless of key cardinality.
  Lookups join the (tiny) sketch and take the min across rows:
  est ≥ true always; est ≤ true + ε·n with ε = e/width at the usual
  1-δ; the sketch is mergeable across corpora by cell-wise sum.

Reference parity: the reference engine ships no sketches (its
aggregations are exact DuckDB SQL: ingestion/manager/manager.py); this
lane is part of the beyond-reference training-data surface, next to
the hot-key detector in operators/skew.py (which these sketches feed
at the 10^7-domain scale where its exact count would not).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from .lineage import cut_lineage_eager

def mg_partials(
    df: DataFrame, col: str = "term", capacity: int = 4096
) -> DataFrame:
    """Per-partition Misra–Gries summaries: (col, cnt, dec) where
    ``dec`` is NULL on survivor rows and carries the partition's total
    decrement count on exactly one ``col IS NULL`` bookkeeping row
    per non-empty partition. Keys are compared as STRINGS (cast on the
    way in — the sketch domain, like the hash domain of the dedup
    lanes, is the key's text form); NULL input keys are dropped (no
    frequency without a key). Bounded state: the dict never exceeds
    ``capacity`` counters."""
    if capacity < 1:
        raise ValueError(f"capacity must be >= 1, got {capacity}")
    import pandas as pd

    def gen(batches):
        counts: dict[str, int] = {}
        dec_total = 0
        for pdf in batches:
            for key in pdf["__key"]:
                if not isinstance(key, str):  # None / NaN null forms
                    continue
                if key in counts:
                    counts[key] += 1
                elif len(counts) < capacity:
                    counts[key] = 1
                else:
                    # decrement-all: O(capacity) amortized against the
                    # capacity inserts that refilled the dict
                    dec_total += 1
                    dead = []
                    for k in counts:
                        counts[k] -= 1
                        if counts[k] == 0:
                            dead.append(k)
                    for k in dead:
                        del counts[k]
        if counts or dec_total:
            yield pd.DataFrame(
                {
                    "__key": list(counts) + [None],
                    "cnt": list(counts.values()) + [0],
                    "dec": [None] * len(counts) + [dec_total],
                }
            )

    out = df.select(F.col(col).cast("string").alias("__key")).mapInPandas(
        gen, "__key string, cnt long, dec long"
    )
    return out.withColumnRenamed("__key", col)


def misra_gries_topk(
    df: DataFrame,
    col: str = "term",
    k: int = 20,
    capacity: int = 4096,
) -> DataFrame:
    """Approximate top-k keys by frequency with a per-row error
    certificate: (col, cnt, max_undercount, rank). ``cnt`` is a LOWER
    bound on the true count; the true count is ≤ cnt + max_undercount,
    where max_undercount = Σ per-partition decrements (each decrement
    removes one occurrence of ≤ every tracked key). max_undercount = 0
    certifies the counts exact — the capacity-dominates-cardinality
    regime the oracle query pins.

    Rank cuts on (cnt DESC, key ASC): deterministic given the counts —
    but certified EXACT only when ``max_undercount == 0``. Under
    eviction, ``cnt`` is a lower bound while the true count may exceed
    it by up to ``max_undercount``, so two keys within
    ``max_undercount`` of each other could rank either way: the
    MEMBERSHIP guarantee (any key whose true count exceeds the
    decrement total survives) still holds, the ORDERING is only
    exact-regime. Callers needing a certified ordering under eviction
    should compare ``cnt + max_undercount`` brackets.

    One survivor-sized shuffle; the raw corpus is scanned ONCE — the
    partials are localCheckpoint-ed so the survivor merge and the
    decrement certificate read the same materialized blocks (a lazy
    ``parts`` would re-run the corpus scan per consumer AND risk the
    certificate disagreeing with the counts across retries). The top-k
    cut is an orderBy+limit (``TakeOrderedAndProject``: per-partition
    size-k heaps, driver merge of k×partitions rows), never a global
    sort of all capacity×partitions survivors; the rank window then
    orders only the k kept rows."""
    parts = mg_partials(df, col, capacity).transform(cut_lineage_eager)
    merged = (
        parts.filter(F.col(col).isNotNull())
        .groupBy(col)
        .agg(F.sum("cnt").alias("cnt"))
    )
    # tiny scalar: one row per non-empty partition, pre-aggregated
    dec_row = parts.filter(F.col(col).isNull()).agg(
        F.coalesce(F.sum("dec"), F.lit(0)).alias("d")
    ).collect()
    max_under = int(dec_row[0]["d"]) if dec_row else 0
    from pyspark.sql import Window as W

    topk = merged.orderBy(F.desc("cnt"), F.asc(col)).limit(k)
    w = W.orderBy(F.desc("cnt"), F.asc(col))
    return (
        topk.withColumn("max_undercount", F.lit(max_under))
        .withColumn("rank", F.row_number().over(w))
    )


def _cm_cell(key: Column, row: Column, width: int) -> Column:
    """Deterministic cell column for a key under hash row ``row`` —
    the ONE place the hash lives so sketch build and lookup can never
    disagree."""
    return F.pmod(F.xxhash64(key, row), F.lit(width))


def count_min_sketch(
    df: DataFrame,
    col: str = "term",
    depth: int = 4,
    width: int = 8192,
) -> DataFrame:
    """Count-min sketch as a (r, c, v) cell table — at most
    depth×width rows however many distinct keys the corpus has. Pure
    JVM: explode ``depth`` hash rows per occurrence, partial-agg
    (map-side combine collapses each task's contribution to its cell
    counts), one sketch-sized shuffle. Mergeable: union two sketches
    and re-sum per (r, c). NULL keys are dropped."""
    if depth < 1 or width < 1:
        raise ValueError(f"depth/width must be >= 1, got {depth}/{width}")
    rows = F.explode(F.array(*[F.lit(r) for r in range(depth)])).alias("r")
    return (
        df.filter(F.col(col).isNotNull())
        .select(F.col(col), rows)
        .select("r", _cm_cell(F.col(col), F.col("r"), width).alias("c"))
        .groupBy("r", "c")
        .agg(F.count("*").alias("v"))
    )


def cm_estimate(
    sketch: DataFrame,
    keys: DataFrame,
    col: str = "term",
    depth: int = 4,
    width: int = 8192,
) -> DataFrame:
    """Point-estimate counts for ``keys`` against a sketch built with
    the same (depth, width): (col, est). est ≥ true always (counters
    only ever overcount); est ≤ true + e/width · n with probability
    1 − (1/e)^depth per key. The sketch side is depth×width rows —
    broadcast-joined; the keys side never shuffles."""
    probes = keys.select(col).distinct().select(
        F.col(col),
        F.explode(F.array(*[F.lit(r) for r in range(depth)])).alias("r"),
    ).select(
        col, "r", _cm_cell(F.col(col), F.col("r"), width).alias("c")
    )
    joined = probes.join(F.broadcast(sketch), ["r", "c"], "left").select(
        col, F.coalesce(F.col("v"), F.lit(0)).alias("v")
    )
    return joined.groupBy(col).agg(F.min("v").alias("est"))


def hll_distinct_sketch(
    df: DataFrame,
    col: str,
    by: str | None = None,
    lg_k: int = 12,
) -> DataFrame:
    """Mergeable distinct-count sketches (Apache DataSketches HLL via
    Spark's built-in ``hll_sketch_agg``): one BINARY sketch per group
    (or one row with ``by=None``) that persists to parquet and merges
    across corpora/epochs with Spark's ``hll_union_agg`` — the capability
    ``approx_count_distinct`` lacks (its estimate is terminal; these
    sketches are state). Standard error ≈ 1.04/√2^lg_k (~1.6% at the
    default lg_k=12, 2 KB per sketch).

    The vocabulary-accounting shape: per-epoch distinct-token sketches
    land next to the corpus; any cross-epoch union is a
    sketch-sized job, never a re-scan."""
    agg = F.hll_sketch_agg(F.col(col), F.lit(lg_k)).alias("sketch")
    if by is None:
        return df.agg(agg)
    return df.groupBy(by).agg(agg)


def hll_estimate(sketches: DataFrame) -> DataFrame:
    """Append the distinct-count estimate column to sketch rows."""
    return sketches.withColumn(
        "estimate", F.hll_sketch_estimate(F.col("sketch"))
    )


# ---------------------------------------------------------------------------
# Bloom filter: mergeable set-membership sketch (word-table formulation)
# ---------------------------------------------------------------------------

_BLOOM_H2_SALT = -1640531527  # 2^32/phi, the classic Fibonacci constant


def _bloom_positions(key: Column, m_bits: int, k_hashes: int) -> Column:
    """array<long> of ``k_hashes`` bit positions for ``key`` under
    Kirsch–Mitzenmacher double hashing: pos_i = (h1 + i·h2) mod m with
    two independent xxhash64 draws (the second salted by an extra
    column). Both hashes are reduced mod m BEFORE the multiply-add so
    the arithmetic stays < 2^40 — exact (and ANSI-overflow-safe) for
    any practical m. NULL keys yield NULL (callers drop or bypass)."""
    if m_bits < 64 or k_hashes < 1:
        raise ValueError(f"need m_bits >= 64, k_hashes >= 1, got {m_bits}/{k_hashes}")
    h1 = F.pmod(F.xxhash64(key), F.lit(m_bits))
    h2 = F.pmod(F.xxhash64(key, F.lit(_BLOOM_H2_SALT)), F.lit(m_bits))
    return F.transform(
        F.sequence(F.lit(0), F.lit(k_hashes - 1)),
        lambda i: F.pmod(h1 + i.cast("long") * h2, F.lit(m_bits)),
    )


def _bloom_word_mask(pos: Column) -> tuple[Column, Column]:
    """Bit position -> (word index, single-bit mask). 64-bit words;
    the shift count is per-row, so it rides the SQL shiftleft (the
    Python ``F.shiftleft`` only takes a literal count)."""
    word = F.shiftright(pos, 6)
    mask = F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pmod(__p, 64) AS INT))")
    return word, mask


def bloom_filter(
    df: DataFrame,
    col: str,
    m_bits: int = 1 << 20,
    k_hashes: int = 5,
) -> DataFrame:
    """Distributed Bloom filter build: (w, bits) — a SPARSE 64-bit
    word table (only words with at least one set bit appear; absent
    word == 0). Pure JVM: k positions per key via higher-order
    ``transform``, one partial-aggregating shuffle keyed on the word
    index whose world is at most m/64 rows however many keys stream
    in — map-side ``bit_or`` collapses each task's bits first, the
    same sketch-sized-shuffle posture as ``count_min_sketch``.

    Mergeable: a per-word ``bit_or`` over two corpora's word tables
    IS the filter of their union — bit-exact, because the hash is
    deterministic. Unlike ``DataFrame.stat.bloomFilter`` (a
    driver-materialized JVM object), the word table is itself a
    DataFrame: it persists to parquet next to the corpus, merges
    across epochs, and broadcast-joins at probe time."""
    pos = F.explode(_bloom_positions(F.col(col), m_bits, k_hashes)).alias("__p")
    word, mask = _bloom_word_mask(F.col("__p"))
    return (
        df.filter(F.col(col).isNotNull())
        .select(pos)
        .select(word.alias("w"), mask.alias("__m"))
        .groupBy("w")
        .agg(F.bit_or("__m").alias("bits"))
    )


def bloom_maybe_contains(
    keys: DataFrame,
    bloom: DataFrame,
    col: str,
    m_bits: int = 1 << 20,
    k_hashes: int = 5,
    broadcast_sketch: bool = True,
) -> DataFrame:
    """(col, maybe_present) for every distinct non-null key in
    ``keys``: TRUE iff all k bits are set (never a false negative;
    false positives at the (1 − e^{−kn/m})^k rate). The sketch side is at
    most m/64 narrow rows — broadcast by default (a 2^20-bit filter is
    16 KB of words) so the probe side NEVER shuffles; pass
    ``broadcast_sketch=False`` above ~2^31 bits to let AQE pick a
    shuffle join keyed on the word index instead."""
    sk = F.broadcast(bloom) if broadcast_sketch else bloom
    pos = F.explode(_bloom_positions(F.col(col), m_bits, k_hashes)).alias("__p")
    word, mask = _bloom_word_mask(F.col("__p"))
    probes = (
        keys.filter(F.col(col).isNotNull())
        .select(col)
        .distinct()
        .select(F.col(col), pos)
        .select(col, word.alias("w"), mask.alias("__m"))
    )
    hit = (
        F.coalesce(F.col("bits"), F.lit(0)).bitwiseAND(F.col("__m")) != 0
    ).alias("__hit")
    return (
        probes.join(sk, "w", "left")
        .select(col, hit)
        .groupBy(col)
        .agg(F.bool_and("__hit").alias("maybe_present"))
    )


def bloom_prefilter_antijoin(
    new: DataFrame,
    seen: DataFrame,
    col: str,
    m_bits: int = 1 << 20,
    k_hashes: int = 5,
) -> DataFrame:
    """EXACT anti-join (rows of ``new`` whose ``col`` never appears in
    ``seen``) with a Bloom pre-filter: keys that MISS the filter are
    definitely new and bypass the join entirely; only the maybe-seen
    remainder (true matches + the fpp-sized sliver) pays the exact
    anti-join shuffle. Semantically identical to
    ``new.join(seen, col, "left_anti")`` (pinned in tests) because
    Bloom misses are certain — the filter only ever ROUTES rows.

    The incremental-ingest shape (`plans/curation.py` cross-batch
    stores): ``seen`` is an epoch's
    key set whose word table was persisted once; each new batch scans
    its own keys map-side against the broadcast words, and the exact
    join's input shrinks from |new| to |overlap| + fpp·|new| — at web
    scale, from the whole crawl to roughly the revisit rate. NULL
    keys are definitely-new on both paths (anti-join semantics: NULL
    never equals)."""
    bloom = bloom_filter(seen, col, m_bits, k_hashes)
    flags = bloom_maybe_contains(new, bloom, col, m_bits, k_hashes)
    flagged = new.join(flags, col, "left").withColumn(
        "__maybe", F.coalesce(F.col("maybe_present"), F.lit(False))
    )
    definite = flagged.filter(~F.col("__maybe")).drop("maybe_present", "__maybe")
    maybe = flagged.filter(F.col("__maybe")).drop("maybe_present", "__maybe")
    checked = maybe.join(seen.select(col).distinct(), col, "left_anti")
    return definite.unionByName(checked)
