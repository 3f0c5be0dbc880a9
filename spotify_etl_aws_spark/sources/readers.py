"""Sources.

Spark-first replacements for the reference's readers
(SURVEY.md §2.1 S1/S4/S6):

- Parquet scans with declared schemas (no runtime inference) so Catalyst
  gets column pruning + predicate pushdown into the row groups for free.
- Multiline JSON reads for the raw playlist documents — the declarative
  equivalent of the reference's ``s3.get_object -> chardet -> json.loads``
  ingest (reference: ingestion/ingestion/bronze/bronze.py:33-77); schema
  supplied explicitly so an empty/partial file cannot silently change
  downstream types.

Paths are plain strings: ``/local/dir`` in tests, ``s3a://bucket/...`` on
a cluster — the code does not care which.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import (
    EVENTS_PARQUET_NANOS,
    RAW_PLAYLIST,
    TESTDATA_SCHEMAS,
)


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def enable_nanos_as_long(spark: SparkSession) -> None:
    """For events files storing ts as INT64 timestamp[ns]: Spark's
    vectorized parquet reader cannot load nanos as TimestampType. This
    legacy flag maps nanos columns to plain longs so the reader accepts
    them; the conversion to microsecond timestamps happens explicitly in
    ``_events_ts``. Runtime-settable, so it also works on a
    driver-created session.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


def _events_ts(df: DataFrame) -> DataFrame:
    # integer div keeps the conversion exact (no double rounding at 1.7e18)
    return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))


_TS_UNIT_CACHE: dict[str, str] = {}


def events_ts_unit(path: str) -> str:
    """Physical resolution of events.ts ('ns'/'us'/'ms'/'s'), sniffed
    from the parquet FOOTER — a driver-side metadata read, no data
    touched. Fixture generations have flipped between timestamp[ns] and
    timestamp[us]; hardcoding either silently corrupts every event-time
    query under the other (ns read as us lands in 1970), so the reader
    dispatches on what the file actually stores. Memoized per path —
    one footer read per corpus per process."""
    unit = _TS_UNIT_CACHE.get(path)
    if unit is None:
        import pyarrow.parquet as pq

        probe = path
        if os.path.isdir(path):  # multi-file table: any part file will do
            probe = next(
                (
                    os.path.join(path, f)
                    for f in sorted(os.listdir(path))
                    if f.endswith(".parquet")
                ),
                None,
            )
            if probe is None:
                raise FileNotFoundError(
                    f"no .parquet part files under directory table {path}"
                )
        unit = pq.ParquetFile(probe).schema_arrow.field("ts").type.unit
        _TS_UNIT_CACHE[path] = unit
    return unit


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """One testdata table, schema-declared parquet scan."""
    if name == "events":
        path = table_path(sf_dir, name)
        if events_ts_unit(path) == "ns":
            enable_nanos_as_long(spark)
            raw = spark.read.schema(EVENTS_PARQUET_NANOS).parquet(path)
            return _events_ts(raw)
        # us/ms/s map straight onto Spark's microsecond TimestampType
        return spark.read.schema(TESTDATA_SCHEMAS["events"]).parquet(path)
    reader = spark.read
    schema = TESTDATA_SCHEMAS.get(name)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(table_path(sf_dir, name))


def widen_if_starved(df: DataFrame) -> DataFrame:
    """Round-robin repartition to ``defaultParallelism`` ONLY when the
    frame's scan leaves most cores idle (r15; guide §2.5 "input skew:
    repartition immediately after the read").

    A single small parquet file plans as 1-3 tasks, serializing any
    expensive per-row work (md5-per-gram fingerprints, bucketed join
    probes) onto that many cores — there the one narrow shuffle buys
    full-cluster width. A production table arrives as many files/row
    groups and gets its parallelism from the scan itself; in that case
    this is a no-op and the plan carries NO added Exchange (the r14
    unconditional form would have re-shuffled 100 TB for nothing).
    For a scan-and-project frame the partition-count probe only plans
    the query, and no job runs. A frame with a shuffle is different:
    under AQE, ``df.rdd`` runs its shuffle stages to learn the
    partition count. Both callers pass scan-and-project frames
    (``queries/text.py`` and ``queries/lanes_temporal.py``).
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def _sample_json_file(path: str) -> str | None:
    """A local file to sniff: the path itself, or the first .json file
    inside a directory. None for remote/missing paths (no sniff)."""
    if os.path.isdir(path):
        for name in sorted(os.listdir(path)):
            if name.endswith(".json"):
                return os.path.join(path, name)
        return None
    return path if os.path.isfile(path) else None


def sniff_encoding(path: str, sample_bytes: int = 1 << 20) -> str:
    """Driver-side encoding detection for raw JSON — the reference's
    chardet sniff with its ISO-8859-1 fallback
    (ingestion/ingestion/bronze/bronze.py:48-63). chardet is used when
    installed; otherwise a strict UTF-8 trial decode stands in (UTF-8
    self-validates; any byte sequence that fails it falls back to
    ISO-8859-1, which accepts every byte — the same fallback posture as
    the reference). Non-local paths sniff nothing and default to UTF-8.
    """
    f = _sample_json_file(path)
    if f is None:
        return "UTF-8"
    with open(f, "rb") as fh:
        sample = fh.read(sample_bytes)
    if sample.startswith(b"\xef\xbb\xbf"):
        return "UTF-8"
    try:
        import chardet  # pragma: no cover - not present in this container

        enc = (chardet.detect(sample) or {}).get("encoding")
        return enc or "ISO-8859-1"
    except ImportError:
        pass
    try:
        sample.decode("utf-8")
        return "UTF-8"
    except UnicodeDecodeError as e:
        # a multi-byte char cut at the SAMPLE boundary is not evidence
        # of a non-UTF-8 file — but the boundary excuse only exists if
        # the sample really was truncated (file larger than the sample)
        truncated = len(sample) == sample_bytes
        if truncated and e.start >= len(sample) - 3:
            return "UTF-8"
        return "ISO-8859-1"


def read_raw_playlists(
    spark: SparkSession, path: str, encoding: str | None = None
) -> DataFrame:
    """Raw playlist JSON (array-of-playlists documents) -> one row per playlist.

    Replaces the reference's driver-side ``get_object + chardet + json.loads``
    (bronze.py:33-77) with a distributed multiline JSON scan. With
    ``encoding=None`` (the default) the encoding is auto-detected
    driver-side (``sniff_encoding`` — reference parity with the chardet
    sniff + ISO-8859-1 fallback); pass an explicit encoding to skip the
    sniff.
    """
    if encoding is None:
        encoding = sniff_encoding(path)
    return (
        spark.read.schema(RAW_PLAYLIST)
        .option("multiLine", True)
        .option("encoding", encoding)
        .json(path)
    )
