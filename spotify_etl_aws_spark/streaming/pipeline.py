"""Structured Streaming layer (SURVEY.md §2.9 gap).

The reference is batch-only: daily Airflow DAGs re-reading whatever new
files landed (raw_dag.py:42, bronze_dag.py:78-98). That
daily-batch-of-new-files pattern maps 1:1 onto file-source Structured
Streaming with ``Trigger.AvailableNow`` — incremental, checkpointed,
exactly-once, and identical transform code to the batch path.

``run_available_now`` drives any streaming DataFrame to completion
synchronously against a memory sink, which is how the streaming queries
in the declared inventory return a plain DataFrame for the oracle
harness.
"""

from __future__ import annotations

import shutil
import tempfile
import threading
import uuid
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

from ..schemas import EVENTS_PARQUET_NANOS, TESTDATA_SCHEMAS
from ..session import run_concurrently
from ..sources.readers import (
    _events_ts,
    enable_nanos_as_long,
    events_ts_unit,
    table_path,
)


def _stream_reader(spark: SparkSession, sf_dir: str, name: str, schema) -> DataFrame:
    """Streaming scan for `{sf_dir}/{name}.parquet` in either layout:
    a DIRECTORY of part files streams directly; a single file streams
    via a pathGlobFilter on the parent (the file source wants a
    directory to watch)."""
    import os

    path = table_path(sf_dir, name)
    if os.path.isdir(path):
        return spark.readStream.schema(schema).parquet(path)
    return (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", f"{name}.parquet")
        .parquet(sf_dir)
    )


def read_table_stream(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """File-source stream over one testdata parquet table (schema declared
    — streaming sources require it). events dispatches on the file's
    physical ts resolution exactly like the batch reader (see
    sources/readers.py:events_ts_unit)."""
    if name == "events":
        if events_ts_unit(table_path(sf_dir, name)) == "ns":
            enable_nanos_as_long(spark)
            return _events_ts(
                _stream_reader(spark, sf_dir, name, EVENTS_PARQUET_NANOS)
            )
    return _stream_reader(spark, sf_dir, name, TESTDATA_SCHEMAS[name])


_SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"
_STREAM_SHUFFLE_CAP = 32
_clamp_lock = threading.Lock()
# session -> [streams inside the clamp, the value to restore]
_clamps: dict[SparkSession, list] = {}


@contextmanager
def clamped_shuffle_partitions(spark: SparkSession) -> Iterator[None]:
    """Cap ``spark.sql.shuffle.partitions`` at 32 while streams run.

    A stream's state-store partition count is fixed by shuffle.partitions
    at its FIRST run; an untuned session default (200) means 200 tiny
    state tasks per micro-batch at test scale. The setting is
    session-wide and streams run concurrently (``run_concurrently``), so
    the clamp is counted under a lock: the first stream in saves the
    value and clamps it, the last one out restores it. Per-stream
    save/restore would let a stream that started inside another's clamp
    restore the clamped value and leave it behind."""
    with _clamp_lock:
        held = _clamps.get(spark)
        if held is None:
            old = spark.conf.get(_SHUFFLE_PARTITIONS, "200")
            held = _clamps[spark] = [0, old]
            if old.isdigit() and int(old) > _STREAM_SHUFFLE_CAP:
                spark.conf.set(_SHUFFLE_PARTITIONS, str(_STREAM_SHUFFLE_CAP))
        held[0] += 1
    try:
        yield
    finally:
        with _clamp_lock:
            held[0] -= 1
            if not held[0]:
                del _clamps[spark]
                spark.conf.set(_SHUFFLE_PARTITIONS, held[1])


def run_available_now(
    df: DataFrame, base_name: str, output_mode: str = "append"
) -> DataFrame:
    """Run a streaming DataFrame to completion (AvailableNow) into a memory
    sink, under ``clamped_shuffle_partitions``; return the materialized
    result as a batch DataFrame."""
    name = f"{base_name}_{uuid.uuid4().hex[:8]}"
    checkpoint = tempfile.mkdtemp(prefix=f"ckpt_{base_name}_")
    sess = df.sparkSession
    try:
        with clamped_shuffle_partitions(sess):
            q = (
                df.writeStream.outputMode(output_mode)
                .format("memory")
                .queryName(name)
                .option("checkpointLocation", checkpoint)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
    finally:
        # the memory sink holds the results; the checkpoint is dead state
        # once the query terminated — don't leak a dir per run
        shutil.rmtree(checkpoint, ignore_errors=True)
    return sess.table(name)


def incremental_bronze(
    spark: SparkSession,
    raw_json_dir: str,
    out_dir: str,
    checkpoint_dir: str,
) -> None:
    """The reference's daily raw->bronze batch as an incremental stream:
    new raw playlist JSON files are shredded into the four bronze parquet
    tables once per file (replaces bronze_dag.py:78-98's
    re-scan-and-INSERT loop).

    Each micro-batch checks the four tables for drift and appends to
    them concurrently (``session.run_concurrently``), each append sized
    by its planned bytes (``sinks.write_parquet``), so a small batch
    adds one file per table, not one per core; a table that
    fails does not stop the others, and the batch fails once all four
    have finished. Once per file holds for batches that succeed: a
    failed batch is not committed, so the next run replays it and the
    tables that had already appended get its rows a second time.
    """
    from ..operators.shred import shred
    from ..schemas import RAW_PLAYLIST
    from ..sources.sinks import write_parquet

    raw = (
        spark.readStream.schema(RAW_PLAYLIST)
        .option("multiLine", True)
        .json(raw_json_dir)
    )

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        from pyspark.errors import AnalysisException

        from ..operators.drift import (
            _nullable_everywhere,
            assert_no_breaking_drift,
        )

        tables = shred(batch_df)

        def append(table: str) -> None:
            df = tables[table]
            path = f"{out_dir}/{table}"
            try:
                landed_schema = batch_df.sparkSession.read.parquet(path).schema
            except AnalysisException:
                landed_schema = None  # first batch: nothing landed yet
            if landed_schema is not None:
                # refuse to append a structurally drifted batch — the
                # ingestion-QA boundary (operators/drift.py, nullability
                # normalized on both sides); shred()'s output schema is stable, so
                # this only fires if the shredder or the raw contract
                # changes under us
                assert_no_breaking_drift(
                    _nullable_everywhere(landed_schema),
                    _nullable_everywhere(df.schema),
                )
            write_parquet(df, path, mode="append")

        # the four tables are independent: check and append them
        # concurrently. The pool threads inherit this callback's job
        # group, so the query's stop() cancels their jobs too.
        run_concurrently(batch_df.sparkSession, append, tables)

    q = (
        raw.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
