"""Incremental bronze (streaming/pipeline.py:incremental_bronze):
checkpointed file-source ingestion must process each raw file exactly
once across runs — the streaming replacement for the reference's
re-scan-and-INSERT daily loop (bronze_dag.py:78-98)."""

from __future__ import annotations

import json

from spotify_etl_aws_spark.streaming.pipeline import incremental_bronze

from .test_medallion import _playlist_items, _write_fixture


def test_incremental_bronze_exactly_once(spark, tmp_path):
    raw_dir = tmp_path / "raw"
    raw_dir.mkdir()
    out = str(tmp_path / "bronze")
    ckpt = str(tmp_path / "ckpt")

    items = _playlist_items()
    _write_fixture(str(raw_dir / "p1.json"), items[:10])

    incremental_bronze(spark, str(raw_dir), out, ckpt)
    tracks = spark.read.parquet(f"{out}/tracks")
    assert tracks.count() == 10

    # re-run with no new files: nothing is re-ingested
    incremental_bronze(spark, str(raw_dir), out, ckpt)
    assert spark.read.parquet(f"{out}/tracks").count() == 10

    # land a second file: only its rows are appended
    _write_fixture(str(raw_dir / "p2.json"), items[10:25])
    incremental_bronze(spark, str(raw_dir), out, ckpt)
    tracks = spark.read.parquet(f"{out}/tracks")
    assert tracks.count() == 25
    assert tracks.select("track_id").distinct().count() == 25


def test_incremental_bronze_appends_one_file_per_table_per_epoch(spark, tmp_path):
    """Each epoch's append is sized by its planned bytes, so a small
    batch adds one part file per bronze table, not one per core: the
    first run's epoch holds one raw file, the second's holds two."""
    import os

    raw_dir = tmp_path / "raw"
    raw_dir.mkdir()
    out = str(tmp_path / "bronze")
    ckpt = str(tmp_path / "ckpt")
    items = _playlist_items()
    tables = ["playlists", "tracks", "albums", "artists"]

    def files() -> dict[str, int]:
        return {
            t: sum(f.endswith(".parquet") for f in os.listdir(f"{out}/{t}"))
            for t in tables
        }

    _write_fixture(str(raw_dir / "p1.json"), items[:10])
    incremental_bronze(spark, str(raw_dir), out, ckpt)
    assert files() == {t: 1 for t in tables}

    _write_fixture(str(raw_dir / "p2.json"), items[10:25])
    _write_fixture(str(raw_dir / "p3.json"), items[25:40])
    incremental_bronze(spark, str(raw_dir), out, ckpt)
    assert files() == {t: 2 for t in tables}
    assert spark.read.parquet(f"{out}/tracks").count() == 40


def test_rocksdb_state_store_dedup(spark, tmp_path):
    """The 100 TB state posture: the RocksDB provider (bundled
    rocksdbjni) runs the same cross-batch dedup correctly, with state
    off-heap — verified by the result AND by the checkpoint carrying
    RocksDB artifacts (changelog/zip) instead of the HDFS provider's
    delta files."""
    import os

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from spotify_etl_aws_spark.streaming.pipeline import use_rocksdb_state

    land = tmp_path / "land"
    land.mkdir()
    pq.write_table(
        pa.table({"k": [1, 2, 2, 3, 3, 3], "v": [1.0] * 6}),
        str(land / "wave1.parquet"),
    )
    old = spark.conf.get("spark.sql.streaming.stateStore.providerClass", "")
    use_rocksdb_state(spark)
    ck = str(tmp_path / "ckpt")
    try:
        def run():
            out: list = []
            src = (
                spark.readStream.schema("k long, v double")
                .parquet(str(land))
                .dropDuplicates(["k"])
            )
            q = (
                src.writeStream.outputMode("append")
                .foreachBatch(lambda df, _e: out.extend(df.collect()))
                .option("checkpointLocation", ck)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            return out

        assert {r.k for r in run()} == {1, 2, 3}

        # second wave: duplicates of wave-1 keys dedupe against the
        # RocksDB-backed state across runs
        pq.write_table(
            pa.table({"k": [3, 4], "v": [9.0, 9.0]}), str(land / "wave2.parquet")
        )
        assert {r.k for r in run()} == {4}

        state_files = []
        for root, _, files in os.walk(os.path.join(ck, "state")):
            state_files += files
        assert any(
            f.endswith((".changelog", ".zip")) for f in state_files
        ), state_files
    finally:
        if old:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", old)
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        spark.conf.unset(
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
        )
