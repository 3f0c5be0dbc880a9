"""Sequence packing: fill fixed-token-budget training windows
(north-star, SURVEY.md §2.11c — the step after dedup/quality in an
LLM data pipeline: packed sequences feed the trainer with ~zero pad
waste).

The exact greedy algorithm (walk documents in order, open a new pack
when the budget would overflow) is inherently sequential — a running
sum with reset is non-associative, so it cannot be a window cumsum.
The distributed shape used here is the one real pipelines use:

1. shard the corpus into contiguous id RANGES of ``shard_span`` ids
   (``shard = floor(id / shard_span)`` — a pure projection, NO global
   sort or row-numbering: a global row_number would serialize the
   whole corpus through one task);
2. run the exact greedy packer INSIDE each shard as an Arrow batch
   (applyInPandas — shards pack in parallel, each is sequential
   internally, exactly like per-worker packing in a training data
   loader);
3. pack ids are globally unique by construction: a pack's id is the
   doc_id of its FIRST document — every document lives in exactly one
   pack, so first-doc ids can never collide, for any id distribution
   (dense synthetic ids, signed 64-bit content hashes, per-group
   packing) and with no stride arithmetic to overflow.

Waste is bounded: at most ONE partial pack per shard (the last), so
the pad fraction is ≤ shard_count/pack_count — driven toward zero by
raising ``shard_span``. A document alone larger than the budget gets
its own pack (truncation is the tokenizer's concern, not the
packer's); packing never reorders documents within a shard, so
curriculum/order semantics survive.

Scale shape: one exchange on the shard key + one Arrow pass. Token
counts ride as a long column; text/bytes never shuffle — join the
assignment back to content by id at write time.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PACK_SCHEMA = "doc_id bigint, pack_id bigint, pack_pos int, n_tokens bigint"


def pack_sequences(
    docs: DataFrame,
    budget: int,
    id_col: str = "doc_id",
    tokens_col: str = "n_tokens",
    shard_span: int = 10_000,
    group_col: str | None = None,
) -> DataFrame:
    """Assign each document to a training pack of at most ``budget``
    tokens. Returns (doc_id, pack_id, pack_pos, n_tokens): ``pack_pos``
    is the document's position within its pack. Deterministic — same
    input, same packing. A pack's id is the doc_id of its first
    document, so any 64-bit id space works (dense synthetic ids or
    signed content hashes alike) and uniqueness needs no namespace
    arithmetic.

    ``group_col`` (an integer group-index column, e.g. a split index)
    packs each group independently in the SAME job: grouping is
    (group, shard), so no pack ever straddles a group — one exchange
    regardless of group count. Uniqueness contract: pack ids are
    unique provided each doc_id appears ONCE in the input frame (the
    splits/partitions case). A caller replicating the same doc ids
    under several group values (epoch replicas, config sweeps) must
    disambiguate ids first (e.g. id*n_groups+group), or identical
    first-doc ids collide across groups."""
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    if shard_span <= 0:
        raise ValueError(f"shard_span must be positive, got {shard_span}")

    def pack_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("__id")
        pos, used = 0, 0
        pack_head, in_pack = 0, False
        packs, positions = [], []
        for doc, tok in zip(pdf["__id"], pdf["__tok"]):
            doc, tok = int(doc), int(tok)
            if not in_pack or (used > 0 and used + tok > budget):
                pack_head, in_pack = doc, True
                pos, used = 0, 0
            packs.append(pack_head)
            positions.append(pos)
            used += tok
            pos += 1
        return pd.DataFrame(
            {
                "doc_id": pdf["__id"],
                "pack_id": packs,
                "pack_pos": positions,
                "n_tokens": pdf["__tok"],
            }
        )

    cols = [
        F.col(id_col).alias("__id"),
        F.col(tokens_col).cast("long").alias("__tok"),
    ]
    keys = ["__shard"]
    if group_col is not None:
        cols.append(F.col(group_col).cast("long").alias("__grp"))
        keys = ["__grp", "__shard"]
    sharded = docs.select(*cols).withColumn(
        "__shard", F.floor(F.col("__id") / shard_span)
    )
    return sharded.groupBy(*keys).applyInPandas(pack_shard, PACK_SCHEMA)
