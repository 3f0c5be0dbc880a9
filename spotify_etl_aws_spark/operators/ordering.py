"""Training-order operators (north-star, SURVEY.md §2.11c): the step
between a curated corpus and the trainer's data loader — a
DETERMINISTIC global shuffle (epoch reproducibility, retry stability),
token-balanced shard assignment over it, and budget-bounded sequence
packing.

Same determinism doctrine as ``operators/splits.py``: ordering keys
are ``xxhash64(seed, id)`` — pure map-side expressions, reproducible
across runs/retries/partitionings, unlike ``rand()``. The only shuffle
is the one range-exchange any global order needs; at 100 TB that is
the unavoidable (and embarrassingly parallel) sort-by-key write.

A useful property of hash ordering, pinned in tests: appending new
documents to the corpus NEVER reorders existing ones relative to each
other (their keys don't change) — incremental corpus growth preserves
prior epoch order prefixes-modulo-insertions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from .lineage import cut_lineage_eager


def order_key(seed: int, id_col: str = "doc_id"):
    """The deterministic shuffle key: xxhash64(seed, id)."""
    return F.xxhash64(F.lit(seed), F.col(id_col))


def assign_token_shards(
    df: DataFrame,
    shard_tokens: int,
    seed: int,
    tokens_col: str = "n_tokens",
    id_col: str = "doc_id",
    num_range_parts: int = 32,
    order_fn=None,
) -> DataFrame:
    """TOKEN-balanced shard assignment over the deterministic epoch
    order: every document gets ``shard_id = ⌊cum_before / shard_tokens⌋``
    where ``cum_before`` is the exact number of tokens preceding it in
    training order — so every shard except the last carries
    ``shard_tokens ± max_doc_tokens`` tokens, the even-work contract a
    trainer's data loader wants (balancing by ROWS skews by an order of
    magnitude when document lengths do).

    Scale shape: the global running sum never runs on one partition.
    The epoch-ordered frame is range-partitioned and localCheckpoint-ed
    (the SAME materialized partitions feed both passes — a lazy frame
    could re-sample different range bounds per action), then (1) one
    tiny job sums tokens per physical partition (driver state =
    ``num_range_parts`` scalars, prefix-summed into offsets), and
    (2) a per-partition window adds the within-partition running sum
    to the partition's offset — each task only ever sees its own
    partition's rows.

    NULL token counts are rejected loudly (a silent 0 would shift
    every later shard boundary).

    Returns the input columns plus ``shard_id`` (long); write with
    ``.write.partitionBy('shard_id')`` or repartition on it.

    ``order_fn(seed, id_col)`` overrides the xxhash64 epoch key with a
    caller-supplied total-order column (e.g. an md5 key when the
    assignment must re-derive outside Spark).
    """
    if shard_tokens < 1:
        raise ValueError(f"shard_tokens must be >= 1, got {shard_tokens}")
    # integral `div`, not floor(a / b): double division can round a
    # boundary-exact quotient up a whole shard at extreme magnitudes
    return (
        _epoch_cum_before(
            df, seed, tokens_col, id_col, num_range_parts, order_fn
        )
        .withColumn(
            "shard_id", F.expr(f"__cum div {int(shard_tokens)}")
        )
        .drop("__order", "__pid", "__cum")
    )


def _epoch_cum_before(
    df: DataFrame,
    seed: int,
    tokens_col: str,
    id_col: str,
    num_range_parts: int,
    order_fn,
) -> DataFrame:
    """Epoch-ordered frame + exact ``__cum`` (tokens strictly before
    the row in training order) via the distributed prefix-sum: range
    partition + localCheckpoint, per-partition totals prefix-summed
    on the driver (``num_range_parts`` scalars), per-partition window
    adds the offset. Leaves ``__order``/``__pid``/``__cum`` for the
    caller to consume and drop."""
    from pyspark.sql import Window as W

    key = (order_fn or order_key)(seed, id_col).alias("__order")
    parts = (
        df.withColumn("__order", key)
        .repartitionByRange(num_range_parts, "__order", F.col(id_col))
        .sortWithinPartitions("__order", id_col)
        .withColumn("__pid", F.spark_partition_id())
        .transform(cut_lineage_eager)
    )
    null_rows = parts.filter(F.col(tokens_col).isNull()).count()
    if null_rows:
        raise ValueError(
            f"{null_rows} rows have NULL {tokens_col!r}; token-balanced "
            "sharding needs an exact count per document"
        )
    sums = {
        r["__pid"]: r["s"]
        for r in parts.groupBy("__pid")
        .agg(F.sum(tokens_col).alias("s"))
        .collect()
    }
    offsets: dict[int, int] = {}
    running = 0
    for pid in sorted(sums):
        offsets[pid] = running
        running += int(sums[pid])
    offset_map = F.create_map(
        *[F.lit(x) for kv in offsets.items() for x in kv]
    )
    w = (
        W.partitionBy("__pid")
        .orderBy("__order", id_col)
        .rowsBetween(W.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(
        F.sum(tokens_col).over(w), F.lit(0).cast("long")
    ) + F.element_at(offset_map, F.col("__pid"))
    return parts.withColumn("__cum", cum_before.cast("long"))


def pack_sequences(
    df: DataFrame,
    seq_len: int,
    seed: int,
    tokens_col: str = "n_tokens",
    id_col: str = "doc_id",
    num_range_parts: int = 32,
    order_fn=None,
) -> DataFrame:
    """GPT-style concat-and-split sequence packing: lay the epoch-
    ordered token stream end-to-end and cut fixed ``seq_len``
    windows; emit one row per (document, sequence it spans) with the
    exact span arithmetic a data loader needs to assemble batches:

    - ``seq_id``      — the training sequence (0-based),
    - ``seq_start``   — where the chunk begins INSIDE the sequence,
    - ``doc_offset``  — where the chunk begins inside the document,
    - ``n_in_seq``    — chunk length.

    Every sequence except the last is exactly full (sum of its
    ``n_in_seq`` = ``seq_len``) and every document's chunks partition
    its tokens — no padding waste, documents crossing boundaries are
    split (the trainer's attention mask handles the joins, as in GPT
    pretraining). Zero-token documents produce no rows.

    Scale shape: the same distributed prefix sum as
    ``assign_token_shards`` (no single-partition window), then a
    per-row explode of ``len/seq_len + 1`` sequence spans — fully
    map-side after the one range exchange.
    """
    if seq_len < 1:
        raise ValueError(f"seq_len must be >= 1, got {seq_len}")
    parts = _epoch_cum_before(
        df, seed, tokens_col, id_col, num_range_parts, order_fn
    )
    n = F.col(tokens_col).cast("long")
    first = F.expr(f"__cum div {int(seq_len)}")
    last = F.expr(f"(__cum + {tokens_col} - 1) div {int(seq_len)}")
    seq_lo = F.col("seq_id") * seq_len
    chunk_start = F.greatest(F.col("__cum"), seq_lo)
    chunk_end = F.least(F.col("__cum") + n, seq_lo + seq_len)
    return (
        parts.filter(n > 0)
        .withColumn("seq_id", F.explode(F.sequence(first, last)))
        .withColumn("seq_start", chunk_start - seq_lo)
        .withColumn("doc_offset", chunk_start - F.col("__cum"))
        .withColumn("n_in_seq", chunk_end - chunk_start)
        .drop("__order", "__pid", "__cum")
    )
