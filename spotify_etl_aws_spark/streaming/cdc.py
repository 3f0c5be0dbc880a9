"""Streaming CDC upsert — a change feed folded into a running
latest-wins snapshot with ``foreachBatch`` (SURVEY.md §2.9; the
streaming twin of ``operators/scd.py:apply_cdc``, and the pattern a
warehouse uses to keep a serving dimension current from a CDC topic).

Per micro-batch: union the incoming changes with the persisted state,
re-elect the latest row per key (``latest_by_key`` — associative, so
batch-wise folding equals the global latest regardless of how the
file source batches the feed), and commit the new state version.
TOMBSTONES STAY IN STATE: deletes filter at read time, because a
later micro-batch may replay an OLDER change for a deleted key
(file order is not event order) and must not resurrect it.

State versioning is write-new-then-retire (each batch writes
``v{batch_id}``, the previous version is removed after the write
lands) — the same stage-then-publish discipline as the epoch sinks;
a crashed batch leaves the prior version intact and foreachBatch
replays at-least-once into a fresh version (idempotent because the
fold is deterministic).

Scale posture: each batch costs one latest-wins aggregation over
state + batch — state is snapshot-sized (one row per live key), never
feed-sized; the aggregation partially combines map-side. At warehouse
scale the state read/write is a key-partitioned parquet dataset, so
only the partitions a batch touches need rewriting (seam documented,
not implemented here).
"""

from __future__ import annotations

import shutil
import tempfile
import uuid
from collections.abc import Sequence

from pyspark.sql import DataFrame, functions as F

from ..operators.scd import latest_by_key
from ..operators.lineage import cut_lineage_eager
from .pipeline import clamped_shuffle_partitions


def run_cdc_upsert(
    changes: DataFrame,
    key_cols: Sequence[str],
    seq_cols: Sequence[str],
    op_col: str,
    delete_op: str = "D",
) -> DataFrame:
    """Drive a streaming change feed to completion (AvailableNow),
    folding each micro-batch into the persisted latest-wins state;
    return the final snapshot (tombstones applied, ``op_col``
    dropped) as a batch DataFrame, detached from the temp state."""
    spark = changes.sparkSession
    root = tempfile.mkdtemp(prefix="cdc_state_")
    checkpoint = tempfile.mkdtemp(prefix="ckpt_cdc_")
    current: list[str] = []

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if current:
            state = batch_df.sparkSession.read.parquet(current[0])
            unioned = state.unionByName(batch_df)
        else:
            unioned = batch_df
        new_path = f"{root}/v{batch_id}_{uuid.uuid4().hex[:8]}"
        latest_by_key(unioned, key_cols, seq_cols).write.parquet(new_path)
        old = current[:]
        current.clear()
        current.append(new_path)
        for p in old:
            shutil.rmtree(p, ignore_errors=True)

    try:
        with clamped_shuffle_partitions(spark):
            q = (
                changes.writeStream.foreachBatch(merge)
                .option("checkpointLocation", checkpoint)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        if not current:
            out = changes.sparkSession.createDataFrame(
                [], changes.schema
            )
        else:
            out = spark.read.parquet(current[0])
        # null-safe: a NULL winning op is kept, not silently dropped
        # (mirrors operators/scd.py apply_cdc)
        final = (
            out.filter(~F.col(op_col).eqNullSafe(F.lit(delete_op)))
            .drop(op_col)
            .transform(cut_lineage_eager)  # detach before the temp state dies
        )
        return final
    finally:
        shutil.rmtree(checkpoint, ignore_errors=True)
        shutil.rmtree(root, ignore_errors=True)
