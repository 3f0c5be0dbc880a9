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
