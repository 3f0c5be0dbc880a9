"""Medallion pipeline runner (SURVEY.md §3, §7 step 6).

Replaces the reference's three Airflow DAGs + dbt/Cosmos DAG
(airflow/dags/{raw,bronze,silver,gold}_dag.py) with plain function
composition: each dbt model is a ``DataFrame -> DataFrame`` function and
the runner executes the stages in dependency order inside one Spark
session — no per-stage process boundary, no SQL-string templating, one
Catalyst plan per materialization.

Differences from the reference, on purpose:
- the gold export runs ONCE after the fact build (the reference's dbt
  post-hook re-exports after every core model, 4x —
  dbt_project.yml:41);
- the fact is written partitioned by ``playlist_id`` so downstream
  per-playlist reads prune partitions at scale;
- the fact joins the dims as they landed, read back from gold like
  dbt's ``ref()``, so the ``distinct()`` dims are computed once and no
  staging frame is cached: each is read exactly once;
- every read-back of a file the run just wrote declares its schema
  (``schemas.BRONZE_TABLES`` for bronze, the written frame's schema for
  silver and gold), so no read-back runs a footer-inference job;
- a layer's tables that do not depend on one another are written
  concurrently (``session.run_concurrently``): the four bronze writes,
  then the four silver write-and-read-back steps, then the three dims,
  and the fact once the dims have landed; the refresh's four upserts
  overlap the same way. Each table runs the jobs of a one-at-a-time run
  and keeps the caller's job group, so the job count, the plans and the
  files written do not change; what shrinks is the time the executors
  sit idle between small jobs.
"""

from __future__ import annotations

import logging
import os
import time
from collections.abc import Callable
from typing import TypeVar

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

T = TypeVar("T")

from ..operators.core import dims, fact_playlist_tracks
from ..operators.quality import (
    check_not_null,
    check_references,
    check_unique,
    expect_all,
)
from ..operators.shred import shred
from ..operators.staging import silver_projection, stage
from ..schemas import BRONZE_TABLES
from ..session import run_concurrently
from ..sources.readers import read_raw_playlists
from ..sources.sinks import write_parquet, write_partitioned

log = logging.getLogger(__name__)


def run_with_retries(
    fn: Callable[[], T],
    name: str,
    retries: int,
    delay_s: float,
    sleeper: Callable[[float], None] = time.sleep,
) -> T:
    """Airflow-task-style retry envelope (the reference carries
    ``retries=1`` on raw/bronze/silver and ``retries=2`` on gold with a
    5-minute delay — airflow/dags/raw_dag.py:34-35, gold_dag.py:9-10).
    A stage that raises is re-run up to ``retries`` times after
    ``delay_s``; stages here are idempotent (mode=overwrite parquet
    writes, dbt-style full rebuilds), so a re-run after a partial
    failure converges exactly like an Airflow task retry. ``sleeper``
    is injectable for tests. Each retry logs one WARNING naming the
    stage and the failed attempt."""
    for attempt in range(retries + 1):
        try:
            return fn()
        except Exception as exc:
            if attempt == retries:
                raise
            log.warning(
                "stage %s: attempt %d/%d failed (%s: %s); retrying in %ss",
                name,
                attempt + 1,
                retries + 1,
                type(exc).__name__,
                exc,
                delay_s,
            )
            sleeper(delay_s)
    raise AssertionError("unreachable")


def run_medallion(
    spark: SparkSession,
    raw_json_path: str,
    out_root: str,
    validate: bool = True,
    retries: int = 1,
    gold_retries: int = 2,
    retry_delay_s: float = 0.0,
    sleeper: Callable[[float], None] = time.sleep,
) -> dict[str, DataFrame]:
    """raw JSON -> bronze -> silver -> gold, all materialized as parquet
    under ``out_root``. Returns the gold DataFrames (re-read from disk so
    callers see exactly what was written).

    ``validate`` enforces the gold-layer contracts the reference only
    documents (schema.yml PK/FK prose, no dbt ``tests:``): dim primary
    keys unique + not-null, fact FKs resolving to their dims. Checked
    AFTER the write on the re-read frames — what is validated is what
    landed — raising if any contract fails, like a dbt build gated on
    its tests. The CONTRACT GATE IS NOT RETRIED: a failing contract is
    deterministic data, not a transient fault.

    ``retries``/``gold_retries`` mirror the reference's Airflow retry
    policy (1 for ingest stages, 2 for gold; its delay is 300 s —
    ``retry_delay_s`` defaults to 0 so library callers aren't stalled
    by default, pass 300 for strict parity)."""

    def _bronze() -> dict[str, DataFrame]:
        raw = read_raw_playlists(spark, raw_json_path)
        bronze = shred(raw)
        run_concurrently(
            spark,
            lambda name: write_parquet(
                bronze[name], os.path.join(out_root, "bronze", name)
            ),
            bronze,
        )
        return bronze

    bronze = run_with_retries(
        _bronze, "bronze", retries, retry_delay_s, sleeper
    )

    def _silver_table(name: str) -> DataFrame:
        bdf = spark.read.schema(BRONZE_TABLES[name]).parquet(
            os.path.join(out_root, "bronze", name)
        )
        sdf = silver_projection(bdf, name)
        path = os.path.join(out_root, "silver", name)
        write_parquet(sdf, path)
        return spark.read.schema(sdf.schema).parquet(path)

    def _silver() -> dict[str, DataFrame]:
        return dict(zip(bronze, run_concurrently(spark, _silver_table, bronze)))

    silver = run_with_retries(
        _silver, "silver", retries, retry_delay_s, sleeper
    )

    def _gold() -> dict[str, DataFrame]:
        stg = stage(silver)
        dim_frames = dims(stg)

        def _land_dim(name: str) -> DataFrame:
            df = dim_frames[name]
            path = os.path.join(out_root, "gold", name)
            write_parquet(df, path)
            return spark.read.schema(df.schema).parquet(path)

        landed = dict(
            zip(dim_frames, run_concurrently(spark, _land_dim, dim_frames))
        )
        fact = fact_playlist_tracks(
            stg["stg_tracks"], landed["dim_albums"], landed["dim_artists"]
        )
        path = os.path.join(out_root, "gold", "fact_playlist_tracks")
        write_partitioned(fact, path, ["playlist_id"])
        landed["fact_playlist_tracks"] = spark.read.schema(
            _partition_last(fact.schema, "playlist_id")
        ).parquet(path)
        return landed

    landed = run_with_retries(
        _gold, "gold", gold_retries, retry_delay_s, sleeper
    )
    if validate:
        expect_all(gold_contracts(landed))
    return landed


def _partition_last(schema: StructType, col: str) -> StructType:
    """The schema a ``partitionBy(col)`` write lands as: the partition
    column moves from the files to the directory names, and a read
    lists it after the data columns."""
    return StructType([f for f in schema.fields if f.name != col] + [schema[col]])


_DIM_KEYS = {
    "dim_playlists": "playlist_id",
    "dim_albums": "album_id",
    "dim_artists": "artist_id",
}

# the fact's documented grain (see gold_contracts): one row per
# (playlist, position)
_FACT_KEYS = ["playlist_id", "track_number"]


def refresh_gold_incremental(
    spark: SparkSession,
    out_root: str,
    updates: dict[str, DataFrame],
    validate: bool = True,
) -> dict[str, DataFrame]:
    """MERGE-shaped incremental gold refresh: upsert changed rows into
    the landed gold tables instead of rebuilding them — the incremental
    story the reference's CREATE OR REPLACE full rebuild
    (dbt_project.yml:33-41) lacks.

    ``updates`` maps gold table names to gold-shaped update batches
    (changed + new rows only). Dims merge by primary key with a full
    (broadcast-scale) rewrite; the fact merges by its (playlist,
    position) grain and — being partitioned by ``playlist_id`` —
    rewrites ONLY the partitions the batch touches, via dynamic
    partition overwrite. Untouched fact partitions' files are not
    rewritten (pinned by test_medallion's file-mtime check).

    The four tables are refreshed concurrently, each task being the
    table's upsert (if the batch names it) and then its read-back, so
    the upserts and the schema-inference reads overlap. An upsert that
    fails does not stop its siblings: they finish, and then the first
    failure in table order is raised. A partial refresh was possible
    before too, as the tables are separate directories with no shared
    commit; each upsert is idempotent for the same batch, so the
    caller re-runs the whole refresh.

    Returns the re-read gold frames; ``validate`` re-runs the same
    contract gate as the full build, so an upsert that would break a
    PK/FK contract fails exactly like a full rebuild would."""
    from ..sources.sinks import upsert_partitioned, upsert_unpartitioned

    names = list(_DIM_KEYS) + ["fact_playlist_tracks"]
    for name in updates:
        if name not in names:
            raise ValueError(f"unknown gold table {name!r}")

    def _refresh(name: str) -> DataFrame:
        path = os.path.join(out_root, "gold", name)
        if name in updates:
            if name in _DIM_KEYS:
                upsert_unpartitioned(updates[name], path, [_DIM_KEYS[name]])
            else:
                upsert_partitioned(updates[name], path, _FACT_KEYS, "playlist_id")
        return spark.read.parquet(path)

    landed = dict(zip(names, run_concurrently(spark, _refresh, names)))
    if validate:
        expect_all(gold_contracts(landed))
    return landed


def gold_contracts(gold_frames: dict[str, DataFrame]) -> dict[str, DataFrame]:
    """The reference's documented schema contracts as named checks
    (dbt/spotify_etl_aws/models/staging/schema.yml:8,27-40,46,57):
    each dim's PK unique + not-null, each fact FK resolving. The fact
    itself gets NO uniqueness contract — its grain is (playlist,
    position): the same track legitimately repeats across playlists
    (and even within one), and the reference declares no fact PK."""
    fact = gold_frames["fact_playlist_tracks"]
    checks: dict[str, DataFrame] = {}
    for name, pk in _DIM_KEYS.items():
        checks[f"{name}.{pk}_unique"] = check_unique(gold_frames[name], [pk])
        checks[f"{name}.{pk}_not_null"] = check_not_null(gold_frames[name], [pk])
    for name, pk in _DIM_KEYS.items():
        checks[f"fact_playlist_tracks.{pk}_references"] = check_references(
            fact, pk, gold_frames[name], pk
        )
    return checks
