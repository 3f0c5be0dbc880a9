"""Spotify-domain medallion golden tests (SURVEY.md §5 item 2).

Fixture raw JSON is generated in the exact shape of the reference's
checked-in sample (/root/reference/data/raw/playlist_*.json, shapes per
FIXTURES.md §A1) with the reference's measured cardinalities baked in:
50 track items, 26 distinct albums (50 album rows), 39 distinct artists
(65 artist rows: 6 tracks with 2 artists + 3 tracks with 4). Running
run_medallion end-to-end must reproduce every invariant verified on the
reference's own data:

- artists 65 -> 39 (dim_artists.sql:4-10 row-wise DISTINCT)
- albums  50 -> 26 (dim_albums.sql:3-9)
- fact rows == stg_tracks rows (fact_playlist_tracks.sql:18-20, 1:1
  after dim dedup)
- 'YYYY' / 'YYYY-MM' partial-date padding, malformed -> NULL
  (airflow/dags/dbt/.../stg_albums.sql:7-12)
- 'true'/'false' string -> boolean round-trip (stg_playlists.sql:10)
- bronze is all-string (bronze.py:202-206 schema-on-write parity)
- tracks keep only the FIRST artist (bronze.py:146) while the artists
  table keeps all (bronze.py:186-192)
- NULL-FK tracks silently drop out of the fact (inner join, not left)

It also pins the build's cost shape: its Spark job count and the
refresh's, an empty cache afterwards, and read-back schemas equal to
what footer inference would give; and ``session.run_concurrently``, the
pool the build writes each layer's tables on.
"""

from __future__ import annotations

import datetime as dt
import json
import logging
import os

import pytest
from pyspark.sql import types as T

from spotify_etl_aws_spark.operators.staging import silver_projection
from spotify_etl_aws_spark.plans.medallion import run_medallion
from spotify_etl_aws_spark.schemas import BRONZE_TABLES

N_TRACKS = 50
N_ALBUMS = 26
N_ARTISTS = 39
# tracks 0-5 carry one extra artist, 6-8 carry three extras: 50 + 6 + 9 = 65
TWO_ARTIST_TRACKS = range(0, 6)
FOUR_ARTIST_TRACKS = range(6, 9)
N_ARTIST_ROWS = 65


def _artist(k: int) -> dict:
    return {"id": f"R{k % N_ARTISTS:02d}", "name": f"Artist {k % N_ARTISTS}"}


def _release_date(j: int) -> str:
    # all three precisions plus one malformed value, cycling over albums
    return [f"{1990 + j}", f"{1990 + j}-03", f"{1990 + j}-05-10", "unknown"][j % 4]


def _album(j: int) -> dict:
    return {
        "id": f"A{j:02d}",
        "name": f"Album {j}",
        "release_date": _release_date(j),
        "release_date_precision": ["year", "month", "day", "day"][j % 4],
        "total_tracks": j + 5,
        "album_type": "album",
        "artists": [_artist(j)],
    }


def _item(i: int, album: dict | None, artists: list[dict]) -> dict:
    return {
        "added_at": f"2024-01-{(i % 28) + 1:02d}T10:00:00Z",
        "is_local": False,
        "track": {
            "id": f"T{i:02d}",
            "name": f"Track {i}",
            "duration_ms": 1000 * i + 500,
            "popularity": i % 100,
            "explicit": i % 2 == 0,
            "track_number": i + 1,
            "disc_number": 1,
            "album": album,
            "artists": artists,
        },
    }


def _playlist_items() -> list[dict]:
    items = []
    for i in range(N_TRACKS):
        artists = [_artist(i)]
        if i in TWO_ARTIST_TRACKS:
            artists.append(_artist(i + 10))
        elif i in FOUR_ARTIST_TRACKS:
            artists += [_artist(i + 10), _artist(i + 20), _artist(i + 30)]
        items.append(_item(i, _album(i % N_ALBUMS), artists))
    return items


def _playlist(pid: str, items: list[dict], followers: int = 123) -> dict:
    return {
        "id": pid,
        "name": "Fixture Playlist",
        "description": "golden medallion fixture",
        "owner": {"id": "owner-1"},
        "followers": {"total": followers},
        "public": True,
        "snapshot_id": "snap-1",
        "images": [{"url": "https://img/1", "height": 640, "width": 640}],
        "tracks": {"total": len(items), "limit": 100, "offset": 0, "items": items},
    }


def _write_playlists(path: str, playlists: list[dict]) -> str:
    with open(path, "w") as f:
        json.dump(playlists, f)
    return path


def _write_fixture(path: str, items: list[dict]) -> str:
    return _write_playlists(path, [_playlist("PL1", items)])


@pytest.fixture(scope="module")
def gold_frames(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("medallion")
    raw = _write_fixture(str(root / "raw.json"), _playlist_items())
    return run_medallion(spark, raw, str(root / "lake")), str(root / "lake")


def test_golden_cardinalities(gold_frames, spark):
    gold, lake = gold_frames
    bronze_albums = spark.read.parquet(os.path.join(lake, "bronze", "albums"))
    bronze_artists = spark.read.parquet(os.path.join(lake, "bronze", "artists"))
    assert bronze_albums.count() == N_TRACKS  # one row per track occurrence
    assert bronze_artists.count() == N_ARTIST_ROWS
    assert gold["dim_albums"].count() == N_ALBUMS  # 50 -> 26
    assert gold["dim_artists"].count() == N_ARTISTS  # 65 -> 39
    assert gold["fact_playlist_tracks"].count() == N_TRACKS  # fact == tracks


def test_read_back_schemas_match_inference(gold_frames, spark):
    """The build reads back what it wrote with declared schemas instead
    of inferring them from the files' footers. A declared schema that
    drifts from the writer's would change what callers see, so each
    must equal the inferred one: all four landed gold frames, the
    bronze schema ``BRONZE_TABLES`` declares, and the silver schema the
    runner takes from the written frame. The partitioned fact lands
    with ``playlist_id`` last, as inference lists it."""
    gold, lake = gold_frames
    for name, df in gold.items():
        assert df.schema == spark.read.parquet(os.path.join(lake, "gold", name)).schema, name
    assert gold["fact_playlist_tracks"].columns[-1] == "playlist_id"

    bronze = os.path.join(lake, "bronze", "tracks")
    assert BRONZE_TABLES["tracks"] == spark.read.parquet(bronze).schema
    declared = silver_projection(
        spark.read.schema(BRONZE_TABLES["albums"]).parquet(
            os.path.join(lake, "bronze", "albums")
        ),
        "albums",
    ).schema
    assert declared == spark.read.parquet(os.path.join(lake, "silver", "albums")).schema


def test_build_job_count_and_no_cache_left(spark, tmp_path):
    """Pin the build's Spark job budget with the gate off: 4 bronze
    writes, 4 silver writes, and 8 gold jobs, in which the fact joins
    the landed dims instead of recomputing their ``distinct()``. A
    read-back that infers its schema adds one footer job per table, and
    a cached staging frame adds its materialization, so either
    regression moves the count. The build persists nothing: the session
    is shared with other tests' cached frames, so the check is that no
    RDD became persistent during the build, not an empty cache."""
    raw = _write_fixture(str(tmp_path / "raw.json"), _playlist_items())
    sc = spark.sparkContext
    persisted_before = set(sc._jsc.getPersistentRDDs().keySet())
    group = "medallion-job-budget"
    sc.setJobGroup(group, "pin: medallion build job count")
    try:
        run_medallion(spark, raw, str(tmp_path / "lake"), validate=False)
        jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setJobGroup(None, None)
    assert len(jobs) == 16
    assert set(sc._jsc.getPersistentRDDs().keySet()) - persisted_before == set()


def _part_files(path: str) -> list[str]:
    return sorted(f for f in os.listdir(path) if f.endswith(".parquet"))


def test_unpartitioned_tables_land_one_file_each(spark, tmp_path):
    """Every bronze, silver and dim table of a build is far smaller than
    ``spark.sql.files.maxPartitionBytes``, so each lands as one part
    file: ``sinks.write_parquet`` sizes a write by the plan's bytes.
    Spark alone writes one file per task, and the golden items landed
    as four raw files (one playlist each) scan in four tasks."""
    raw = tmp_path / "raw"
    raw.mkdir()
    items = _playlist_items()
    for k in range(4):
        _write_playlists(str(raw / f"p{k}.json"), [_playlist(f"PL{k}", items[k::4])])
    lake = str(tmp_path / "lake")
    run_medallion(spark, str(raw), lake, validate=False)
    tables = [f"{layer}/{t}" for layer in ("bronze", "silver") for t in BRONZE_TABLES]
    tables += [f"gold/{name}" for name in ("dim_playlists", "dim_albums", "dim_artists")]
    files = {t: len(_part_files(os.path.join(lake, t))) for t in tables}
    assert files == {t: 1 for t in tables}


def test_write_keeps_several_files_above_one_split(spark, tmp_path):
    """The other side of the sizing rule: a frame whose planned bytes
    span several read splits keeps several files. The same four-file
    input lands as one file at the default split size, and as several
    once ``spark.sql.files.maxPartitionBytes`` is below a third of it."""
    from spotify_etl_aws_spark.sources.sinks import write_parquet

    src = str(tmp_path / "src")
    spark.range(20000).selectExpr("id", "CAST(id * 7 AS STRING) AS s").repartition(
        4
    ).write.parquet(src)
    total = sum(os.path.getsize(os.path.join(src, f)) for f in _part_files(src))
    write_parquet(spark.read.parquet(src), str(tmp_path / "one"))
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, str(total // 3))
    try:
        write_parquet(spark.read.parquet(src), str(tmp_path / "several"))
    finally:
        spark.conf.set(key, old)
    assert len(_part_files(src)) == 4
    assert len(_part_files(str(tmp_path / "one"))) == 1
    assert len(_part_files(str(tmp_path / "several"))) > 1
    assert sorted(spark.read.parquet(str(tmp_path / "several")).collect()) == sorted(
        spark.read.parquet(src).collect()
    )
    # a frame over an RDD has no size estimate and keeps its partitions
    rdd = spark.sparkContext.parallelize([(i,) for i in range(30)], 3)
    write_parquet(spark.createDataFrame(rdd, "id long"), str(tmp_path / "unsized"))
    assert len(_part_files(str(tmp_path / "unsized"))) == 3


def _refresh_updates(spark, raw: str):
    """Gold-shaped update batches for every gold table, built from the
    raw landing the way a daily refresh builds them from its delta."""
    from spotify_etl_aws_spark.operators.core import gold
    from spotify_etl_aws_spark.operators.shred import shred
    from spotify_etl_aws_spark.operators.staging import stage
    from spotify_etl_aws_spark.sources.readers import read_raw_playlists

    bronze = shred(read_raw_playlists(spark, raw))
    return gold(stage({t: silver_projection(df, t) for t, df in bronze.items()}))


def test_refresh_job_count(spark, tmp_path, caplog):
    """Pin the refresh's job budget: upserting all four gold tables of
    the golden lake and re-running the contract gate submits 23 jobs.
    The fact replace is one schema read and one write, with no read of
    the target, no window and no read-back schema inference; the gate is
    one aggregate of 3 jobs. Each dim upsert writes its merged rows to a
    staging directory and renames it in, so it no longer materializes
    them with a ``localCheckpoint`` first: 3 jobs fewer than the 26 of
    the in-place overwrite, and the refresh persists no RDD. The
    partitions written and pruned come from ``Observation``s, and
    logging them (INFO is on here) adds no job.
    The four tables are refreshed on pool threads; a thread that lost
    the caller's job group would drop its jobs from the count, and
    concurrency must not add a job either."""
    from spotify_etl_aws_spark.plans.medallion import refresh_gold_incremental

    raw = _write_fixture(str(tmp_path / "raw.json"), _playlist_items())
    lake = str(tmp_path / "lake")
    run_medallion(spark, raw, lake, validate=False)
    updates = _refresh_updates(spark, raw)
    sc = spark.sparkContext
    persisted_before = set(sc._jsc.getPersistentRDDs().keySet())
    group = "refresh-job-budget"
    sc.setJobGroup(group, "pin: gold refresh job count")
    try:
        with caplog.at_level(logging.INFO, logger="spotify_etl_aws_spark.plans.medallion"):
            landed = refresh_gold_incremental(spark, lake, updates)
        jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setJobGroup(None, None)
    assert len(jobs) == 23
    assert set(sc._jsc.getPersistentRDDs().keySet()) - persisted_before == set()
    assert any(r.getMessage().startswith("gold refresh: 1 fact partitions") for r in caplog.records)
    assert landed["fact_playlist_tracks"].count() == N_TRACKS


def test_failed_dim_upsert_keeps_the_landed_dim(spark, tmp_path, monkeypatch):
    """A dim upsert whose write fails in its tasks leaves every gold
    table as it was, row for row, and leaves no staging or aside
    directory: the merged rows are written to a staging directory that
    replaces the table only once it is complete. An in-place overwrite
    deletes the table before its tasks run, so the same failure left no
    table for the next read to infer a schema from. Re-running the
    refresh with a good batch then succeeds."""
    from pyspark.sql import DataFrameWriter
    from pyspark.sql import functions as F

    from spotify_etl_aws_spark.plans.medallion import refresh_gold_incremental

    raw = _write_fixture(str(tmp_path / "raw.json"), _playlist_items())
    lake = str(tmp_path / "lake")
    run_medallion(spark, raw, lake, validate=False)
    before = _gold_rows(lake)
    gold_dir = os.path.join(lake, "gold")
    tables = sorted(os.listdir(gold_dir))
    artist = _artist(0)["id"]
    batch = spark.createDataFrame(
        [(artist, "Renamed Artist")], "artist_id string, artist_name string"
    )
    real_parquet = DataFrameWriter.parquet

    def failing_parquet(writer, path, *args, **kwargs):
        # whatever directory the dim's rows are written to, its tasks fail
        if "dim_artists" in path:
            key = F.col("artist_id")
            writer = writer._df.withColumn(
                "artist_id",
                F.when(key.isNotNull(), F.raise_error(F.lit("injected write failure"))).otherwise(key),
            ).write.mode("overwrite")
        return real_parquet(writer, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", failing_parquet)
    with pytest.raises(Exception, match="injected write failure"):
        refresh_gold_incremental(spark, lake, {"dim_artists": batch})
    monkeypatch.undo()
    assert _gold_rows(lake) == before
    assert sorted(os.listdir(gold_dir)) == tables

    landed = refresh_gold_incremental(spark, lake, {"dim_artists": batch})
    names = {r.artist_id: r.artist_name for r in landed["dim_artists"].collect()}
    assert len(names) == N_ARTISTS and names[artist] == "Renamed Artist"
    assert sorted(os.listdir(gold_dir)) == tables


def test_refresh_leaves_session_conf_alone(spark, tmp_path, monkeypatch):
    """The fact upsert's dynamic partition overwrite is an option of its
    own write. Setting ``partitionOverwriteMode`` on the session would
    leak into writes running concurrently in other threads, and its
    restore could race with theirs."""
    from pyspark.sql.conf import RuntimeConfig

    from spotify_etl_aws_spark.plans.medallion import refresh_gold_incremental

    raw = _write_fixture(str(tmp_path / "raw.json"), _playlist_items())
    lake = str(tmp_path / "lake")
    run_medallion(spark, raw, lake, validate=False)
    updates = _refresh_updates(spark, raw)
    keys: list[str] = []
    real_set = RuntimeConfig.set

    def recording_set(self, key, value):
        keys.append(key)
        return real_set(self, key, value)

    monkeypatch.setattr(RuntimeConfig, "set", recording_set)
    refresh_gold_incremental(spark, lake, updates)
    assert not [k for k in keys if "partitionOverwriteMode" in k]


def test_run_concurrently_keeps_job_group(spark):
    """Jobs run by the pool threads belong to the caller's job group,
    so ``getJobIdsForGroup`` counts them and ``cancelJobGroup`` reaches
    them."""
    from spotify_etl_aws_spark.session import run_concurrently

    sc = spark.sparkContext
    group = "run-concurrently-group"
    sc.setJobGroup(group, "pooled jobs")
    try:
        sums = run_concurrently(
            spark, lambda n: sc.parallelize(range(n), 2).sum(), [10, 20, 30, 40]
        )
        jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setJobGroup(None, None)
    assert sums == [45, 190, 435, 780]
    assert len(jobs) == 4


def test_run_concurrently_returns_in_input_order(spark):
    """Later items finish first; the results still follow the input."""
    import time

    from spotify_etl_aws_spark.session import run_concurrently

    def slow(i: int) -> int:
        time.sleep(0.05 * (6 - i))
        return i * i

    assert run_concurrently(spark, slow, range(6)) == [0, 1, 4, 9, 16, 25]
    assert run_concurrently(spark, slow, []) == []


def test_run_concurrently_raises_first_failure_after_all_finish(spark):
    """Two items raise: the first in input order surfaces with its own
    type, and only after every other item has finished."""
    import time

    from spotify_etl_aws_spark.session import run_concurrently

    finished: list[int] = []

    def step(i: int) -> int:
        if i == 1:
            time.sleep(0.2)
            raise KeyError("first")
        if i == 2:
            raise ValueError("second")
        time.sleep(0.4 if i == 3 else 0.0)
        finished.append(i)
        return i

    with pytest.raises(KeyError, match="first"):
        run_concurrently(spark, step, range(4))
    assert sorted(finished) == [0, 3]


def test_bronze_is_all_string(gold_frames, spark):
    _, lake = gold_frames
    for table in ["playlists", "tracks", "albums", "artists"]:
        df = spark.read.parquet(os.path.join(lake, "bronze", table))
        assert all(isinstance(f.dataType, T.StringType) for f in df.schema.fields), table


def test_first_artist_vs_all_artists(gold_frames, spark):
    _, lake = gold_frames
    tracks = spark.read.parquet(os.path.join(lake, "bronze", "tracks"))
    artists = spark.read.parquet(os.path.join(lake, "bronze", "artists"))
    # track 6 has 4 artists; tracks.artist_id keeps only the first
    t6 = tracks.filter("track_id = 'T06'").collect()[0]
    assert t6.artist_id == _artist(6)["id"]
    a6 = sorted(r.artist_id for r in artists.filter("track_id = 'T06'").collect())
    assert a6 == sorted(_artist(6 + d)["id"] for d in (0, 10, 20, 30))


def test_partial_date_padding(gold_frames):
    gold, _ = gold_frames
    dates = {
        r.album_id: r.album_release_date for r in gold["dim_albums"].collect()
    }
    assert dates["A00"] == dt.date(1990, 1, 1)  # 'YYYY'   -> Jan 1
    assert dates["A01"] == dt.date(1991, 3, 1)  # 'YYYY-MM'-> 1st of month
    assert dates["A02"] == dt.date(1992, 5, 10)  # full date
    assert dates["A03"] is None  # malformed -> NULL


def test_boolean_roundtrip(gold_frames):
    gold, _ = gold_frames
    pl = gold["dim_playlists"].collect()[0]
    assert pl.playlist_public is True and pl.playlist_followers == 123
    explicit = {
        r.track_id: r.track_explicit for r in gold["fact_playlist_tracks"].collect()
    }
    assert explicit["T00"] is True and explicit["T01"] is False


def test_retry_envelope_recovers_transient_stage_failure(spark, tmp_path, caplog):
    """Reference parity with the Airflow retry policy (retries=1 ingest,
    retries=2 gold, raw_dag.py:34-35 / gold_dag.py:9-10): a stage that
    fails transiently is re-run after the delay and the pipeline
    completes; with retries exhausted the original error surfaces. Each
    retry logs one WARNING naming the stage and the failed attempt."""
    from spotify_etl_aws_spark.plans.medallion import run_with_retries

    calls = {"n": 0}
    slept: list[float] = []

    def flaky():
        calls["n"] += 1
        if calls["n"] < 3:
            raise OSError("transient")
        return "ok"

    with caplog.at_level(logging.WARNING, logger="spotify_etl_aws_spark.plans.medallion"):
        assert (
            run_with_retries(flaky, "s", retries=2, delay_s=7.0, sleeper=slept.append)
            == "ok"
        )
    assert calls["n"] == 3 and slept == [7.0, 7.0]
    warnings = [r for r in caplog.records if r.levelno == logging.WARNING]
    assert [r.getMessage().split(" failed")[0] for r in warnings] == [
        "stage s: attempt 1/3",
        "stage s: attempt 2/3",
    ]

    calls["n"] = 0
    with pytest.raises(OSError, match="transient"):
        run_with_retries(flaky, "s", retries=1, delay_s=0.0, sleeper=slept.append)

    # end-to-end: one transient gold-write failure, pipeline still lands
    import spotify_etl_aws_spark.plans.medallion as M

    raw = _write_fixture(str(tmp_path / "raw.json"), _playlist_items())
    real_write = M.write_partitioned
    boom = {"armed": True}

    def flaky_write(df, path, cols):
        if boom["armed"]:
            boom["armed"] = False
            raise OSError("transient write")
        return real_write(df, path, cols)

    M.write_partitioned = flaky_write
    try:
        gold = run_medallion(spark, raw, str(tmp_path / "lake"))
    finally:
        M.write_partitioned = real_write
    assert gold["fact_playlist_tracks"].count() == N_TRACKS

    # one silver table's write fails once while its siblings land on
    # other pool threads: the silver layer is retried as a whole and
    # the lake equals a clean build's
    real_parquet = M.write_parquet

    def flaky_silver(df, path):
        if boom["armed"] and path.endswith(os.path.join("silver", "albums")):
            boom["armed"] = False
            raise OSError("transient silver write")
        return real_parquet(df, path)

    M.write_parquet = flaky_silver
    try:
        boom["armed"] = True
        run_medallion(spark, raw, str(tmp_path / "retried"))
        assert not boom["armed"]
        boom["armed"] = True
        with pytest.raises(OSError, match="transient silver write"):
            run_medallion(spark, raw, str(tmp_path / "failed"), retries=0)
    finally:
        M.write_parquet = real_parquet
    run_medallion(spark, raw, str(tmp_path / "clean"), validate=False)

    def rows(root: str, table: str):
        df = spark.read.parquet(os.path.join(tmp_path, root, table))
        return df.columns, sorted(df.collect(), key=repr)

    gold_tables = ["dim_playlists", "dim_albums", "dim_artists", "fact_playlist_tracks"]
    for table in (
        [f"bronze/{t}" for t in BRONZE_TABLES]
        + [f"silver/{t}" for t in BRONZE_TABLES]
        + [f"gold/{t}" for t in gold_tables]
    ):
        assert rows("retried", table) == rows("clean", table), table


def test_encoding_sniff_reads_latin1_fixture(spark, tmp_path):
    """Reference parity with bronze.py:48-63: a raw file in ISO-8859-1
    is read correctly WITHOUT an explicit encoding= argument — the
    driver-side sniff detects the non-UTF-8 bytes and falls back, and
    the full medallion run still reproduces the goldens with the
    non-ASCII name intact."""
    items = _playlist_items()
    playlist = {
        "id": "PL1",
        "name": "Playlist Café Müller",  # ISO-8859-1-only bytes
        "description": "aperçu",
        "owner": {"id": "owner-1"},
        "followers": {"total": 123},
        "public": True,
        "snapshot_id": "snap-1",
        "images": [{"url": "https://img/1", "height": 640, "width": 640}],
        "tracks": {"total": len(items), "limit": 100, "offset": 0, "items": items},
    }
    raw = str(tmp_path / "raw_latin1.json")
    with open(raw, "w", encoding="ISO-8859-1") as f:
        json.dump([playlist], f, ensure_ascii=False)

    from spotify_etl_aws_spark.sources.readers import sniff_encoding

    assert sniff_encoding(raw) == "ISO-8859-1"
    gold = run_medallion(spark, raw, str(tmp_path / "lake"))
    assert gold["dim_albums"].count() == N_ALBUMS
    assert gold["dim_artists"].count() == N_ARTISTS
    assert gold["fact_playlist_tracks"].count() == N_TRACKS
    name = gold["dim_playlists"].collect()[0].playlist_name
    assert name == "Playlist Café Müller"


def test_null_fk_drops_from_fact(spark, tmp_path):
    """A track with a NULL album FK survives staging but drops from the
    fact (inner join semantics, fact_playlist_tracks.sql:19-20).

    The same input also lands a NULL-PK row in dim_albums — faithful to
    the reference's dim SQL (SELECT DISTINCT, no null filter,
    dim_albums.sql:3-9) but in breach of the PK contract its schema.yml
    documents and never enforces. The validate gate must CATCH that
    breach; parity semantics are then asserted with the gate off."""
    items = [
        _item(0, _album(0), [_artist(0)]),
        _item(1, None, [_artist(1)]),  # no album -> NULL FK
    ]
    raw = _write_fixture(str(tmp_path / "raw.json"), items)
    with pytest.raises(ValueError, match="dim_albums.album_id_not_null"):
        run_medallion(spark, raw, str(tmp_path / "lake"))
    gold = run_medallion(
        spark, raw, str(tmp_path / "lake2"), validate=False
    )
    fact = gold["fact_playlist_tracks"]
    assert fact.count() == 1
    assert [r.track_id for r in fact.collect()] == ["T00"]


def test_incremental_gold_refresh_upserts_only_touched_partitions(
    spark, tmp_path
):
    """Incremental refresh (plans/medallion.py:refresh_gold_incremental):
    a fact batch is the full snapshot of the playlists it names, and
    replaces only those fact partitions (untouched partition files are
    bit-identical on disk afterward); dim keys are upserted, not
    duplicated; and the gold contracts still gate the result."""
    import os

    from pyspark.sql import functions as F

    from spotify_etl_aws_spark.plans.medallion import refresh_gold_incremental

    raw = _write_fixture(str(tmp_path / "raw.json"), _playlist_items())
    lake = str(tmp_path / "lake")
    gold = run_medallion(spark, raw, lake)
    fact = gold["fact_playlist_tracks"]
    n0 = fact.count()
    p1 = fact.first().playlist_id

    # wave 1: land a SECOND playlist partition (clone rows under a new
    # id) plus its dim row, in one upsert batch
    p2_fact = fact.withColumn("playlist_id", F.lit("p2"))
    p2_dim = (
        gold["dim_playlists"]
        .filter(F.col("playlist_id") == p1)
        .withColumn("playlist_id", F.lit("p2"))
    )
    landed = refresh_gold_incremental(
        spark,
        lake,
        {"fact_playlist_tracks": p2_fact, "dim_playlists": p2_dim},
    )
    fact2 = landed["fact_playlist_tracks"]
    assert fact2.count() == 2 * n0
    assert fact2.filter(F.col("playlist_id") == p1).count() == n0

    def _listing(pid: str) -> list[tuple[str, float, int]]:
        d = os.path.join(lake, "gold", "fact_playlist_tracks", f"playlist_id={pid}")
        return sorted(
            (f, os.path.getmtime(os.path.join(d, f)), os.path.getsize(os.path.join(d, f)))
            for f in os.listdir(d)
            if f.endswith(".parquet")
        )

    before_p1 = _listing(p1)

    # wave 2: re-fetch p2 with ONE row changed — the batch is p2's full
    # snapshot, and p1's partition files must not be rewritten
    tn = p2_fact.first().track_number
    upd = p2_fact.withColumn(
        "track_name",
        F.when(F.col("track_number") == tn, F.lit("UPDATED TITLE")).otherwise(
            F.col("track_name")
        ),
    )
    landed = refresh_gold_incremental(spark, lake, {"fact_playlist_tracks": upd})
    assert _listing(p1) == before_p1

    fact3 = landed["fact_playlist_tracks"]
    assert fact3.count() == 2 * n0  # replaced, not appended
    got = fact3.filter(
        (F.col("playlist_id") == "p2") & (F.col("track_number") == tn)
    ).collect()
    assert [r.track_name for r in got] == ["UPDATED TITLE"]
    # p1 rows untouched
    assert fact3.filter(
        (F.col("playlist_id") == p1) & (F.col("track_name") == "UPDATED TITLE")
    ).count() == 0

    # dim upsert: change an artist's name; key count is unchanged and
    # contracts (PK unique) still pass
    some_artist = gold["dim_artists"].first()
    n_artists = gold["dim_artists"].count()
    dim_upd = spark.createDataFrame(
        [(some_artist.artist_id, "Renamed Artist")], "artist_id string, artist_name string"
    )
    landed = refresh_gold_incremental(spark, lake, {"dim_artists": dim_upd})
    dims = landed["dim_artists"]
    assert dims.filter(F.col("artist_id") == some_artist.artist_id).collect()[
        0
    ].artist_name == "Renamed Artist"
    assert dims.count() == n_artists

    # an upsert that breaks a contract is rejected by the same gate as
    # the full build: a fact row referencing a missing dim
    bad = p2_fact.limit(1).withColumn("playlist_id", F.lit("ghost"))
    import pytest as _pytest

    with _pytest.raises(ValueError, match="playlist_id_references"):
        refresh_gold_incremental(spark, lake, {"fact_playlist_tracks": bad})


def _lake_listing(root: str) -> dict[str, tuple[int, int]]:
    """relative path -> (size, mtime_ns) of every file under ``root``."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            st = os.stat(os.path.join(d, f))
            out[os.path.relpath(os.path.join(d, f), root)] = (st.st_size, st.st_mtime_ns)
    return out


def _gold_rows(lake: str) -> dict[str, list]:
    """Every gold table's rows, read with pyarrow (off Spark) and
    sorted, with the fact's ``playlist_id`` from its directory names."""
    import pyarrow.dataset as ds

    out = {}
    for name in ["dim_playlists", "dim_albums", "dim_artists", "fact_playlist_tracks"]:
        table = ds.dataset(
            os.path.join(lake, "gold", name), format="parquet", partitioning="hive"
        ).to_table()
        out[name] = (table.column_names, sorted(map(repr, table.to_pylist())))
    return out


_CONTRACT_NAMES = [
    "dim_playlists.playlist_id_unique",
    "dim_playlists.playlist_id_not_null",
    "dim_albums.album_id_unique",
    "dim_albums.album_id_not_null",
    "dim_artists.artist_id_unique",
    "dim_artists.artist_id_not_null",
    "fact_playlist_tracks.playlist_id_references",
    "fact_playlist_tracks.album_id_references",
    "fact_playlist_tracks.artist_id_references",
]


@pytest.mark.parametrize("case", ["shrunk", "emptied"])
def test_refresh_of_refetched_playlists_equals_rebuild(spark, tmp_path, caplog, case):
    """A re-fetched playlist is a complete snapshot, so a refresh must
    leave the gold a full rebuild of the post-delta playlists leaves.
    ``shrunk``: PL2 comes back with 12 of its 30 tracks, and the 18 it
    lost leave the fact. ``emptied``: PL3 comes back with no track that
    resolves (none has an artist), so the batch holds no fact row for it,
    and its old partition is deleted because PL3 is in the
    ``dim_playlists`` batch. PL1 holds every album and artist, so no dim
    row is orphaned and the dims' key merge also agrees with the
    rebuild. The refresh logs the partitions it replaced and pruned, and
    the build logs its contract counts."""
    from spotify_etl_aws_spark.plans.medallion import refresh_gold_incremental

    items = _playlist_items()
    base = [_playlist("PL1", items), _playlist("PL2", items[:30]), _playlist("PL3", items[30:])]
    if case == "shrunk":
        delta = [_playlist("PL2", items[:12], followers=7)]
        logged = "1 fact partitions replaced ['PL2'], 0 pruned []"
    else:
        unresolved = [_item(i, _album(i % N_ALBUMS), []) for i in range(50, 55)]
        delta = [_playlist("PL3", unresolved, followers=7)]
        logged = "0 fact partitions replaced [], 1 pruned ['PL3']"
    after = [pl for pl in base if pl["id"] != delta[0]["id"]] + delta

    lake = str(tmp_path / "lake")
    with caplog.at_level(logging.INFO, logger="spotify_etl_aws_spark.plans.medallion"):
        run_medallion(spark, _write_playlists(str(tmp_path / "base.json"), base), lake)
        updates = _refresh_updates(spark, _write_playlists(str(tmp_path / "delta.json"), delta))
        refresh_gold_incremental(spark, lake, updates)
    rebuilt = str(tmp_path / "rebuilt")
    run_medallion(spark, _write_playlists(str(tmp_path / "after.json"), after), rebuilt)

    assert _gold_rows(lake) == _gold_rows(rebuilt)
    messages = [r.getMessage() for r in caplog.records]
    assert [m for m in messages if m.startswith("gold refresh:")] == [
        f"gold refresh: {logged}; contracts "
        + str({name: 0 for name in _CONTRACT_NAMES})
    ]
    assert [m for m in messages if m.startswith("gold contracts:")] == [
        "gold contracts: " + str({name: 0 for name in _CONTRACT_NAMES})
    ]


def test_refresh_rejects_fact_batch_with_drifted_columns(spark, tmp_path):
    """The fact replace checks the batch against the landed columns
    before it writes: a batch missing a column, or carrying an extra
    one, raises and leaves every file of the lake as it was."""
    from pyspark.sql import functions as F

    from spotify_etl_aws_spark.plans.medallion import refresh_gold_incremental

    raw = _write_fixture(str(tmp_path / "raw.json"), _playlist_items())
    lake = str(tmp_path / "lake")
    run_medallion(spark, raw, lake, validate=False)
    fact = _refresh_updates(spark, raw)["fact_playlist_tracks"]
    before = _lake_listing(lake)
    for batch in (fact.drop("track_name"), fact.withColumn("extra", F.lit(1))):
        with pytest.raises(ValueError, match="does not match the landed columns"):
            refresh_gold_incremental(spark, lake, {"fact_playlist_tracks": batch})
        assert _lake_listing(lake) == before
