"""Sinks (SURVEY.md §2.1 S2/S3/S5/S7/S8/S9).

The reference writes Parquet by materializing a DuckDB table locally,
then re-uploading the file to S3 with boto3 (bronze.py:213-264). Spark
collapses both hops into a single distributed write — the same call
works for ``/local`` and ``s3a://`` destinations.

The reference's MotherDuck CTAS (bronze.py:294-318) maps to
``saveAsTable`` against the session catalog (``save_bucketed``); its
dbt post-hook gold export — which re-runs after **every** core model,
4x (dbt_project.yml:41) — becomes a single explicit ``write_parquet``
at the end of the gold build.

File sizing: an unpartitioned medallion write (``write_parquet``, and
through it the dim upsert and the incremental bronze append) lands one
file per ``spark.sql.files.maxPartitionBytes`` of the frame's planned
size, not one per task. Spark's split planner spreads an input smaller
than cores x ``maxPartitionBytes`` over every core, so without the rule
a 100 KB table lands as one small file per core.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import StructType

from ..session import run_concurrently


def _sized(df: DataFrame) -> DataFrame:
    """``df`` coalesced to ``ceil(planned bytes / maxPartitionBytes)``
    partitions, so each written file holds about one read split.

    The planned bytes are the optimized plan's ``sizeInBytes``: for a
    scan, the scanned files' size, scaled by the columns kept. Reading
    it runs no Spark job (``df.rdd.getNumPartitions()`` would, under AQE,
    run the frame's shuffle stages). ``coalesce`` is narrow, adds no
    shuffle and no job, and is a no-op when it asks for at least the
    partitions the frame already has. So a scan larger than cores x
    ``maxPartitionBytes``, whose splits already hold at most
    ``maxPartitionBytes`` each, keeps its partitioning, as does a frame
    Spark cannot size (its estimate is ``spark.sql.defaultSizeInBytes``).
    An inner join's estimate is the product of its sides' sizes, far
    above its output, so a join is seldom coalesced."""
    jconf = df.sparkSession._jsparkSession.sessionState().conf()
    planned = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    files = -(-planned // jconf.filesMaxPartitionBytes())
    return df.coalesce(min(max(files, 1), 2**31 - 1))


def write_parquet(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Unpartitioned parquet, sized by the frame's planned bytes: one
    file per ``spark.sql.files.maxPartitionBytes`` (``_sized``), where
    Spark alone would land one file per task, so one per core for a
    table smaller than cores x ``maxPartitionBytes``."""
    _sized(df).write.mode(mode).parquet(path)


def write_partitioned(
    df: DataFrame, path: str, partition_cols: list[str], mode: str = "overwrite"
) -> None:
    """Directory-partitioned parquet — the scale posture for gold tables.

    Partitioning by a low-cardinality pruning key (the reference's analogue:
    ``playlist_id`` on the fact) turns downstream per-key reads into
    partition-pruned scans instead of full-table filters.
    """
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def partition_last(schema: StructType, col: str) -> StructType:
    """The schema a ``partitionBy(col)`` write lands as: the partition
    column moves from the files to the directory names, and a read
    lists it after the data columns."""
    return StructType([f for f in schema.fields if f.name != col] + [schema[col]])


def upsert_partitioned(df: DataFrame, path: str, partition_col: str) -> list:
    """Replace the partitions of a directory-partitioned parquet table
    that the batch names, and return those partition values.

    Each partition value in ``df`` is a complete snapshot: its directory
    ends up holding exactly the batch's rows for it, as a rebuild with
    the reference's CREATE OR REPLACE (dbt_project.yml:33-41) would
    leave it. That is one write with the writer option
    ``partitionOverwriteMode=dynamic``: mode=overwrite replaces only the
    partitions present in the batch, and every other partition's files
    are untouched on disk. The target is not read and no row is merged.
    The option is the write's own, so the session config and concurrent
    writes in the session are unaffected. A partition the batch holds no
    rows for is left as it is; ``drop_partitions`` removes one.

    The batch must carry the landed table's columns with their types
    (the partition column's by name only: a read infers its type from
    the directory names), in its order once the partition column moves
    last (``partition_last``);
    one schema-inference read of the target checks that before anything
    is written, so a batch with a missing, extra, retyped or reordered
    column raises ``ValueError`` and leaves the table as it was. The
    values written come from an ``Observation`` on the write, which adds
    no Spark job. (A Delta/Iceberg ``replaceWhere`` replaces this when
    a table format is available.)"""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    landed = df.sparkSession.read.parquet(path).schema
    batch = partition_last(df.schema, partition_col)

    def columns(schema: StructType) -> list[tuple[str, str | None]]:
        # the landed partition column's type is inferred from directory
        # names, so only its name and place are compared
        return [
            (f.name, None if f.name == partition_col else f.dataType.simpleString())
            for f in schema.fields
        ]

    if columns(batch) != columns(landed):
        missing = [c for c in landed.fieldNames() if c not in batch.fieldNames()]
        extra = [c for c in batch.fieldNames() if c not in landed.fieldNames()]
        raise ValueError(
            f"batch for {path} does not match the landed columns: missing "
            f"{missing}, extra {extra}; landed {columns(landed)}, batch {columns(batch)}"
        )
    written = Observation()
    (
        df.select(*batch.fieldNames())
        .observe(written, F.collect_set(partition_col).alias("values"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .parquet(path)
    )
    return sorted(written.get["values"])


def _hadoop_fs(spark, path: str):
    """The Hadoop ``FileSystem`` of ``path`` and its ``Path``, so that
    object-store paths (``s3a://``) work as local ones do."""
    root = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(path)
    return root.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()), root


def drop_partitions(spark, path: str, partition_col: str, values: list[str]) -> None:
    """Delete the ``partition_col=value`` directories of ``values`` under
    ``path``, with each value escaped the way Spark writes it, through
    the Hadoop ``FileSystem`` API. A missing directory is not an error."""
    if not values:
        return
    jvm = spark.sparkContext._jvm
    fs, root = _hadoop_fs(spark, path)
    names = jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    for v in values:
        fs.delete(
            jvm.org.apache.hadoop.fs.Path(root, names.getPartitionPathString(partition_col, v)),
            True,
        )


def _rename(fs, src, dst) -> None:
    if not fs.rename(src, dst):
        raise OSError(f"could not rename {src.toString()} to {dst.toString()}")


def upsert_unpartitioned(df: DataFrame, path: str, keys: list[str]) -> None:
    """Key-window upsert for small unpartitioned tables (gold dims): the
    batch's rows replace the landed rows with the same key, and every
    other landed row stays, in a full-file rewrite — a dim is
    broadcast-scale by definition, so rewriting it is cheaper than
    maintaining partitions on it. Unlike ``upsert_partitioned`` this is
    a merge: a key the batch does not name is kept, never dropped.

    The merged rows are written (``write_parquet``, so sized by their
    planned bytes) to a hidden sibling staging directory, which then
    replaces the table by two Hadoop ``FileSystem`` renames: the table
    moves aside, the staging directory moves in, and the aside copy is
    deleted. The write reads the table and never deletes it, so a write
    that fails leaves the table as it was, and no staging directory is
    left behind. A crash between the two renames leaves the aside copy
    and no table, and the next call on ``path`` restores the copy; a
    crash after them leaves a stale aside copy, and the next call
    deletes it. Both happen before the call reads the table."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    spark = df.sparkSession
    fs, root = _hadoop_fs(spark, path)
    sibling = spark.sparkContext._jvm.org.apache.hadoop.fs.Path
    staging = sibling(root.getParent(), f".{root.getName()}.staging")
    aside = sibling(root.getParent(), f".{root.getName()}.aside")
    if fs.exists(aside):
        if fs.exists(root):
            fs.delete(aside, True)
        else:
            _rename(fs, aside, root)

    target = spark.read.parquet(path)
    merged = (
        target.withColumn("__batch", F.lit(0))
        .unionByName(df.withColumn("__batch", F.lit(1)))
        .withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy(*keys).orderBy(F.desc("__batch"))
            ),
        )
        .filter(F.col("__rn") == 1)
        .drop("__batch", "__rn")
    )
    try:
        write_parquet(merged, staging.toString())
        _rename(fs, root, aside)
        _rename(fs, staging, root)
    finally:
        fs.delete(staging, True)
    fs.delete(aside, True)


def save_bucketed(
    df: DataFrame,
    name: str,
    buckets: int,
    bucket_cols: list[str],
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
    one_file_per_bucket: bool = False,
) -> None:
    """Bucketed catalog table: rows are hash-bucketed (and optionally
    sorted) on the join key at WRITE time, so two tables bucketed the
    same way join with ZERO exchanges and zero sorts — the shuffle is
    paid once at layout time instead of on every query. The 100 TB
    posture for fact⋈fact joins that AQE can't broadcast.

    ``one_file_per_bucket``: by default every WRITE task emits its own
    file per bucket it holds rows for (N tasks × B buckets files), and
    a multi-file bucket makes Spark re-Sort each side of a
    sorted-merge join at read time (only single-file buckets are
    trusted as sorted). Setting this repartitions on the bucket
    columns into exactly ``buckets`` partitions first — Spark's
    repartition and bucketing use the same Murmur3 hash, so each task
    then owns exactly one bucket and writes one (sorted) file: reads
    skip the SMJ sorts entirely. Right when a bucket's rows fit one
    healthy file (≤ ~1 GB); at larger per-bucket volume prefer more
    buckets over multi-GB files."""
    if one_file_per_bucket:
        df = df.repartition(buckets, *[df[c] for c in bucket_cols])
    w = df.write.mode(mode).bucketBy(buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(name)


def commit_epoch(
    root: str,
    epoch_id: int,
    writes: dict[str, "object"],
) -> None:
    """Atomic-visibility multi-dataset epoch commit on plain parquet —
    the manifest/_SUCCESS pattern over a staged write and a rename
    swap.

    An epoch-keyed ``mode=overwrite`` is idempotent per PARTITION, but
    a foreachBatch that writes several datasets (corpus + signature
    store) or a partitioned dataset (``epoch=N/split=...``) can crash
    MID-write, exposing a mixed epoch to readers until the stream
    replays. This commit protocol closes that window:

    1. every dataset writes into ``<root>/.epoch_staging/<epoch>/...``
       — dot-prefixed, so Spark/Hive readers never list it;
    2. a replayed epoch's existing marker is RETRACTED, then each
       staged dataset renames into its final path (per-dataset atomic;
       replay overwrites remove the previous final dir first) — so at
       no instant does a marker vouch for finals that are mid-replace;
    3. ONLY THEN the epoch's marker file lands in
       ``<root>/_epoch_commits/<epoch>`` (single atomic file create —
       the commit point).

    ``writes`` maps a RELATIVE final path (e.g.
    ``"corpus_incremental/epoch=7"``) to a callable taking the staging
    path and writing the dataset there. Readers that must never see a
    half-written epoch read through ``read_committed_epochs`` (filter
    by marker set = partition pruning on ``epoch``); a crashed commit
    leaves finals untouched-or-complete and NO marker, and the
    replayed batch simply re-runs the same commit (idempotent).
    Local-filesystem swap semantics (``os.rename``); a table format's
    transactional commit replaces this on object stores."""
    import os
    import shutil

    stage_root = os.path.join(root, ".epoch_staging", str(epoch_id))
    shutil.rmtree(stage_root, ignore_errors=True)
    staged: list[tuple[str, str]] = []
    for rel, write_fn in writes.items():
        stage_path = os.path.join(stage_root, rel)
        write_fn(stage_path)
        staged.append((stage_path, os.path.join(root, rel)))
    # REPLAY of an already-committed epoch: retract the marker BEFORE
    # touching finals — otherwise a crash between the rmtree below and
    # the re-rename would leave the epoch marked committed with
    # missing/mixed data, the exact window this protocol closes
    marker = os.path.join(root, "_epoch_commits", str(epoch_id))
    if os.path.exists(marker):
        os.remove(marker)
    for stage_path, final in staged:
        os.makedirs(os.path.dirname(final), exist_ok=True)
        if os.path.exists(final):
            shutil.rmtree(final)  # replay: replace the stale attempt
        os.rename(stage_path, final)
    shutil.rmtree(stage_root, ignore_errors=True)
    marks = os.path.join(root, "_epoch_commits")
    os.makedirs(marks, exist_ok=True)
    tmp = os.path.join(marks, f".{epoch_id}.tmp")
    with open(tmp, "w") as f:
        f.write(str(epoch_id))
    os.rename(tmp, os.path.join(marks, str(epoch_id)))  # commit point


def committed_epochs(root: str) -> list[int]:
    """Epoch ids whose ``commit_epoch`` completed (marker exists)."""
    import os

    marks = os.path.join(root, "_epoch_commits")
    if not os.path.isdir(marks):
        return []
    return sorted(
        int(name) for name in os.listdir(marks) if not name.startswith(".")
    )


def read_committed_epochs(spark, root: str, dataset: str) -> DataFrame:
    """Read ``<root>/<dataset>`` keeping only COMMITTED epochs — the
    reader half of ``commit_epoch``. The filter is on the ``epoch``
    partition column, so uncommitted (crashed) partitions are pruned
    at planning time, never scanned."""
    import os

    from pyspark.sql import functions as F

    df = spark.read.parquet(os.path.join(root, dataset))
    return df.filter(F.col("epoch").isin(committed_epochs(root)))


def save_hilbert_clustered(
    df: DataFrame,
    path: str,
    x_col: str,
    y_col: str,
    bits: int = 8,
    num_files: int = 32,
    mode: str = "overwrite",
) -> None:
    """Hilbert-clustered parquet write — the layout sink that turns
    ``layout_hilbert_keys`` from a key calculator into a scan-pruning
    lever (the liquid-clustering write posture): data lands sorted by
    the Hilbert d-index of (x_col, y_col), giving every file and row
    group a tight 2-D bounding box for min/max footer pruning.
    Measured files/row-groups read for a 2-D range predicate vs linear
    and z-order layouts: experiments/layout_scale.py (BASELINE.md
    'Layout pruning')."""
    from ..operators.hilbert import hilbert_layout

    hilbert_layout(df, x_col, y_col, bits, num_files).write.mode(
        mode
    ).parquet(path)


def save_hilbert_table(
    df: DataFrame,
    path: str,
    x_col: str,
    y_col: str,
    bits: int = 8,
    num_files: int = 32,
    key_col: str = "_hkey",
    mode: str = "overwrite",
) -> None:
    """``save_hilbert_clustered`` for a table that will be APPENDED to
    (round-13: the incremental/OPTIMIZE layout): the Hilbert key
    column is KEPT in the data, because its parquet footer min/max IS
    the per-file clustering metadata ``optimize_hilbert_incremental``
    reads — exactly the role a table format's clustering stats play
    in liquid clustering. A clean write leaves file key-ranges
    pairwise DISJOINT (repartitionByRange); appends violate that
    invariant, and OPTIMIZE restores it rewriting only the violating
    files."""
    from ..operators.hilbert import with_hilbert

    (
        with_hilbert(df, x_col, y_col, bits, key_col)
        .repartitionByRange(num_files, key_col)
        .sortWithinPartitions(key_col)
        .write.mode(mode)
        .parquet(path)
    )


def append_hilbert_epoch(
    df: DataFrame,
    path: str,
    x_col: str,
    y_col: str,
    bits: int = 8,
    key_col: str = "_hkey",
    num_files: int = 1,
) -> None:
    """Land an epoch of new rows into a ``save_hilbert_table`` dataset:
    keys computed map-side, rows range-clustered WITHIN the epoch (the
    epoch is small — one exchange at epoch size, not table size), then
    appended. Epoch files typically straddle existing file ranges —
    that is the debt ``optimize_hilbert_incremental`` repays."""
    from ..operators.hilbert import with_hilbert

    (
        with_hilbert(df, x_col, y_col, bits, key_col)
        .repartitionByRange(num_files, key_col)
        .sortWithinPartitions(key_col)
        .write.mode("append")
        .parquet(path)
    )


def optimize_hilbert_incremental(
    spark,
    path: str,
    key_col: str = "_hkey",
    target_file_bytes: int | None = None,
) -> dict:
    """Incremental OPTIMIZE for a Hilbert-clustered table (round-13
    verdict item 5): re-cluster ONLY the files whose key ranges
    overlap — the files the appended epochs straddle — leaving every
    range-disjoint file untouched on disk (hardlinked, zero data
    movement).

    Algorithm (pure footer metadata, no data scan for planning):
    1. read every file's ``key_col`` min/max from its parquet footer;
    2. connected components over interval overlap (sort by min, one
       sweep) — a component of >= 2 files violates the disjointness
       invariant and becomes one rewrite group;
    3. each group is read, range-repartitioned into the same number
       of files, sorted within partitions, written to a temp dir;
       untouched files HARDLINK into the temp dir;
    4. a crash-recoverable two-rename swap (the table moves aside, the
       temp dir moves in, the old copy is deleted) publishes the new
       state; the next call finishes or undoes a swap a crash cut
       short.

    Cost scales with the STRADDLED data, not the table: a table of N
    files with one appended epoch touching k file ranges rewrites
    k+epoch files; a full rewrite (save_hilbert_table) shuffles all N.
    Post-compaction pruning equals a full rewrite's for file-level
    admission (pinned in tests/test_hilbert_incremental.py) because
    disjointness, not global order, is what footer pruning uses.

    KEY-AGNOSTIC: the algorithm only reads ``key_col`` footer ranges
    and restores their disjointness, so it maintains ANY
    linearized-key clustering — Hilbert, Morton/z-order
    (operators/zorder.py keys), or a plain sort key (pinned in
    tests/test_hilbert_incremental.py::test_optimize_is_key_agnostic).

    BIN-PACKING (round-13 verdict item 4): with
    ``target_file_bytes`` set, undersized files (< target/2 — Delta
    OPTIMIZE's file-size-floor convention) are merged into the
    rewrite plan even when range-disjoint: consecutive key-ordered
    components that are dirty OR undersized coalesce into one rewrite
    group until the group reaches the target, and every rewrite group
    lands in ceil(bytes/target) output files instead of its input
    file count. Repeated small epoch appends therefore no longer
    accrete files without bound (probed in
    experiments/layout_scale.py main_small_epochs). Merging only ever
    joins ADJACENT components, so the key-ordered hulls stay pairwise
    disjoint and footer pruning is preserved. ``None`` keeps the
    round-13 semantics (rewrite only overlap groups, file count
    preserved).

    The footer scan is a THREAD-POOL pass (metadata-sized reads —
    the round-13 verdict's serial-planning note), and dirty-group
    rewrites submit as concurrent Spark jobs from a small driver
    pool (independent non-overlapping inputs/outputs).

    LOCAL-FILESYSTEM ONLY (the swap is ``os.rename``; remote paths are
    rejected up front); on object stores a table format's OPTIMIZE owns
    the commit. Returns {files, groups_rewritten, files_rewritten,
    files_linked, files_after}."""
    import os
    import re
    import shutil

    import pyarrow.parquet as pq

    if path.startswith("file:"):
        path = path[5:]
    if re.match(r"^[a-zA-Z][a-zA-Z0-9+.-]*:/", path):
        raise ValueError(
            f"optimize_hilbert_incremental is local-filesystem-only; "
            f"got remote path {path!r} — use a table format's OPTIMIZE"
        )
    tmp = f"{path}.__hopt_tmp__"
    old = f"{path}.__hopt_old__"
    # crash recovery: a previous run died mid-swap or mid-write
    if os.path.exists(old) and not os.path.exists(path):
        os.rename(old, path)
    if os.path.exists(old):
        shutil.rmtree(old)
    if os.path.exists(tmp):
        shutil.rmtree(tmp)

    from concurrent.futures import ThreadPoolExecutor

    def _span(name: str) -> tuple[str, int, int, int]:
        fp = os.path.join(path, name)
        md = pq.ParquetFile(fp)
        # row_group(g).column(i) is indexed by parquet LEAF order,
        # which diverges from schema_arrow.names on any table with a
        # nested/list column before key_col — resolve the leaf index
        # by path_in_schema instead (round-13 ADVICE)
        rg0 = md.metadata.row_group(0)
        ki = next(
            (
                i
                for i in range(rg0.num_columns)
                if rg0.column(i).path_in_schema == key_col
            ),
            None,
        )
        if ki is None:
            raise ValueError(
                f"key column {key_col!r} is not a leaf column of {fp}"
            )
        stats_list = [
            md.metadata.row_group(g).column(ki).statistics
            for g in range(md.metadata.num_row_groups)
        ]
        if any(s is None for s in stats_list):
            raise ValueError(
                f"{fp} has row groups without {key_col!r} statistics; "
                "rewrite the table with stats enabled before OPTIMIZE"
            )
        lo = min(s.min for s in stats_list)
        hi = max(s.max for s in stats_list)
        return (fp, lo, hi, os.path.getsize(fp))

    names = [
        n for n in sorted(os.listdir(path)) if n.endswith(".parquet")
    ]
    # metadata-sized reads: a thread pool hides per-file I/O latency
    # (round-13 verdict's serial-planning note); order restored below
    with ThreadPoolExecutor(max_workers=min(16, max(1, len(names)))) as ex:
        spans = list(ex.map(_span, names))
    spans.sort(key=lambda s: (s[1], s[2]))
    # connected components over interval overlap: sorted by min, a
    # span belongs to the current component iff its min is inside the
    # component's running max — one sweep, exact
    comps: list[list[tuple[str, int, int, int]]] = []
    cur_hi: int | None = None
    for s in spans:
        if comps and cur_hi is not None and s[1] <= cur_hi:
            comps[-1].append(s)
            cur_hi = max(cur_hi, s[2])
        else:
            comps.append([s])
            cur_hi = s[2]
    if target_file_bytes is None:
        # round-13 semantics: rewrite exactly the overlap groups,
        # preserving each group's file count
        rewrite = [(g, len(g)) for g in comps if len(g) > 1]
        clean = [g[0] for g in comps if len(g) == 1]
    else:
        # bin-packing: coalesce consecutive components that are dirty
        # or undersized (any file < target/2 — the file-size floor)
        # into one rewrite group until the group reaches the target;
        # right-sized clean singletons flush the bin and hardlink.
        # Only ADJACENT components merge, so key-ordered hulls stay
        # pairwise disjoint and footer pruning is unaffected.
        floor_bytes = target_file_bytes // 2
        rewrite = []
        clean = []
        bin_: list[tuple[str, int, int, int]] = []

        def _flush() -> None:
            nonlocal bin_
            if not bin_:
                return
            if len(bin_) == 1:
                # a lone undersized clean file: rewriting 1 -> 1
                # moves no needle; keep it until a neighbor shows up
                clean.append(bin_[0])
            else:
                nbytes = sum(f[3] for f in bin_)
                n_out = max(1, -(-nbytes // target_file_bytes))
                rewrite.append((bin_, n_out))
            bin_ = []

        for g in comps:
            needs = len(g) > 1 or any(f[3] < floor_bytes for f in g)
            if needs:
                bin_.extend(g)
                if sum(f[3] for f in bin_) >= target_file_bytes:
                    nbytes = sum(f[3] for f in bin_)
                    n_out = max(1, -(-nbytes // target_file_bytes))
                    rewrite.append((bin_, n_out))
                    bin_ = []
            else:
                _flush()
                clean.append(g[0])
        _flush()
    stats = {
        "files": len(spans),
        "groups_rewritten": len(rewrite),
        "files_rewritten": sum(len(g) for g, _ in rewrite),
        "files_linked": len(clean),
    }
    if not rewrite:
        stats["files_after"] = len(spans)
        return stats

    os.makedirs(tmp)
    for fp, _, _, _ in clean:
        os.link(fp, os.path.join(tmp, os.path.basename(fp)))

    def _rewrite_group(args) -> None:
        i, g, n_out = args
        gdir = os.path.join(tmp, f".group{i}")
        df = spark.read.parquet(*[fp for fp, _, _, _ in g])
        (
            df.repartitionByRange(n_out, key_col)
            .sortWithinPartitions(key_col)
            .write.mode("overwrite")
            .parquet(gdir)
        )
        for name in os.listdir(gdir):
            if name.endswith(".parquet"):
                os.rename(
                    os.path.join(gdir, name),
                    os.path.join(tmp, f"opt-{i}-{name}"),
                )
        shutil.rmtree(gdir)

    # groups are independent (disjoint inputs, distinct output
    # prefixes): submit their Spark jobs concurrently
    run_concurrently(
        spark,
        _rewrite_group,
        [(i, g, n_out) for i, (g, n_out) in enumerate(rewrite)],
    )
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    stats["files_after"] = sum(
        1 for n in os.listdir(path) if n.endswith(".parquet")
    )
    return stats
