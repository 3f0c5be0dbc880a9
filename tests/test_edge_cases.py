"""Degenerate-input contracts for the text/dedup ladder: real corpora
contain null, empty, and sub-shingle-length documents, and the operators
must degrade predictably (documented drops, null-safe hashing) rather
than crash or silently corrupt neighboring rows."""

from __future__ import annotations

from pyspark.sql import functions as F

from spotify_etl_aws_spark.operators.dedup import (
    exact_dedup_groups,
    jaccard_pairs,
    lsh_verified_pairs,
    minhash_signatures,
    neardup_clusters,
    simhash_fingerprints,
)


def _edge_docs(spark):
    return spark.createDataFrame(
        [
            (0, None),
            (1, ""),
            (2, "one"),
            (3, "two words"),
            (4, "dup dup dup dup"),
            (5, "dup dup dup dup"),
        ],
        "doc_id bigint, text string",
    )


def test_exact_dedup_handles_null_and_empty(spark):
    """Every row lands in exactly one group; null text hashes to the
    null group, empty text to the empty-string hash — neither is lost
    and neither merges with real content."""
    out = exact_dedup_groups(_edge_docs(spark)).collect()
    assert sum(r.n_copies for r in out) == 6
    by_rep = {r.doc_id: r.n_copies for r in out}
    assert by_rep[4] == 2  # the real duplicates still collapse
    assert by_rep[0] == 1 and by_rep[1] == 1


def test_signature_builders_drop_subshingle_docs_only(spark):
    """Docs with fewer than shingle_n tokens have no shingles and
    vanish from signature tables (the documented contract, mirrored by
    the SQL oracle) — full-length docs are unaffected."""
    docs = _edge_docs(spark)
    assert {r.doc_id for r in minhash_signatures(docs).collect()} == {4, 5}
    assert {r.doc_id for r in simhash_fingerprints(docs).collect()} == {4, 5}


def test_pair_generators_never_emit_degenerate_docs(spark):
    """Null/empty/short docs cannot appear in any near-dup pair, and
    identical full-length docs still pair."""
    docs = _edge_docs(spark)
    jp = jaccard_pairs(docs, threshold=0.01).collect()
    assert [(r.doc_a, r.doc_b) for r in jp] == [(4, 5)]
    lv = lsh_verified_pairs(docs, threshold=0.5).collect()
    assert [(r.doc_a, r.doc_b) for r in lv] == [(4, 5)]


def test_neardup_clusters_keep_degenerate_docs_as_singletons(spark):
    """Cluster assignment is TOTAL over the corpus: docs that can't
    participate in near-dup detection are their own representatives —
    dropping them here would silently delete them from the curated
    corpus downstream."""
    got = {
        r.doc_id: r.cluster_rep
        for r in neardup_clusters(_edge_docs(spark), threshold=0.5).collect()
    }
    assert got == {0: 0, 1: 1, 2: 2, 3: 3, 4: 4, 5: 4}


def test_jaccard_pairs_brute_force_reference(spark):
    """Exact Jaccard against an independent Python reference on a small
    random-ish corpus (fixed strings, no LSH probability involved)."""
    texts = {
        0: "the quick brown fox jumps over the lazy dog",
        1: "the quick brown fox leaps over the lazy dog",
        2: "a completely different sentence about spark engines",
        3: "a completely different sentence about duck engines",
        4: "the quick brown fox jumps over the lazy dog",
    }
    docs = spark.createDataFrame(list(texts.items()), "doc_id bigint, text string")

    def shingles(t):
        w = t.lower().split()
        return {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}

    want = {}
    for a in texts:
        for b in texts:
            if a < b:
                sa, sb = shingles(texts[a]), shingles(texts[b])
                j = len(sa & sb) / len(sa | sb)
                if j >= 0.2:
                    want[(a, b)] = round(j, 4)
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in jaccard_pairs(docs, threshold=0.2).collect()
    }
    assert got == want


def _edge_vecs(spark):
    """Degenerate embedding table: a zero vector (no direction), exact
    duplicates, an antipodal pair, and a lone off-axis vector."""
    rows = [
        (0, [1.0, 0.0, 0.0]),   # centroid-ish seed
        (1, [0.0, 1.0, 0.0]),   # second seed, orthogonal
        (2, [0.0, 0.0, 0.0]),   # zero vector: cosine undefined
        (3, [2.0, 0.0, 0.0]),   # same direction as 0, different norm
        (4, [-1.0, 0.0, 0.0]),  # antipodal to 0: cosine -1
        (5, [1.0, 0.0, 0.0]),   # exact duplicate of 0
    ]
    return spark.createDataFrame(rows, "vec_id bigint, v array<double>")


def test_assign_cells_arrow_drops_zero_vectors_only(spark):
    """Zero-norm vectors vanish from the index (cosine has no meaning
    for them); every other vector gets exactly one cell, and identical
    directions land in the same cell."""
    from spotify_etl_aws_spark.operators.vector_ops import assign_cells_arrow

    cents = [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0])]
    out = {r.vec_id: r for r in assign_cells_arrow(_edge_vecs(spark), cents).collect()}
    assert set(out) == {0, 1, 3, 4, 5}  # vec 2 dropped
    assert out[0].cell == out[3].cell == out[5].cell == 0
    assert out[1].cell == 1
    # unit vectors really are unit
    for r in out.values():
        assert abs(sum(x * x for x in r.u) - 1.0) < 1e-12


def test_cell_pair_kernel_contracts(spark):
    """Singleton cells emit nothing; duplicates and same-direction
    vectors pair at cosine ~1; antipodal vectors never clear a positive
    threshold; emitted pairs always have doc_a < doc_b; the scored
    variant carries the cell and the raw symmetric score."""
    from spotify_etl_aws_spark.operators.vector_ops import (
        assign_cells_arrow,
        cell_cosine_pairs_arrow,
    )

    cents = [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0])]
    assigned = assign_cells_arrow(_edge_vecs(spark), cents)
    got = cell_cosine_pairs_arrow(assigned, 0.9, with_score=True).collect()
    pairs = {(r.doc_a, r.doc_b): r for r in got}
    # cell 0 holds {0, 3, 5} (the same-direction vectors — all pair);
    # the antipodal vec 4 assigns to cell 1 (cos 0 beats -1), where its
    # cosine to vec 1 is 0 < threshold, so it never pairs either.
    assert set(pairs) == {(0, 3), (0, 5), (3, 5)}
    for (a, b), r in pairs.items():
        assert a < b
        assert r.cell == 0
        assert abs(r.cosine - 1.0) < 1e-12


def test_embedding_neardup_keeps_zero_vector_as_singleton(spark):
    """The near-dup composition stays TOTAL over vec_ids even though
    the zero vector is dropped from the index: nodes come from the
    source table, so it remains its own representative."""
    from spotify_etl_aws_spark.operators.dedup import label_propagation
    from spotify_etl_aws_spark.operators.vector_ops import (
        assign_cells_arrow,
        cell_cosine_pairs_arrow,
    )

    emb = _edge_vecs(spark)
    cents = [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0])]
    pairs = cell_cosine_pairs_arrow(assign_cells_arrow(emb, cents), 0.9)
    nodes = emb.select(F.col("vec_id").alias("node"))
    got = {r.node: r.label for r in label_propagation(pairs, nodes).collect()}
    assert got == {0: 0, 1: 1, 2: 2, 3: 0, 4: 4, 5: 0}


def test_blocked_gemm_matches_one_shot_pairs(spark, sf_dir, monkeypatch):
    """Forcing a tiny block edge must not change the emitted pair set:
    the blocked traversal covers each unordered pair exactly once
    (strict upper triangle on diagonal blocks, full hits elsewhere)."""
    from spotify_etl_aws_spark.operators import vector_ops
    from spotify_etl_aws_spark.queries.vector import (
        EMB_DUP_THRESHOLD,
        _embeddings,
        _learned_centroids,
    )

    cents = _learned_centroids(spark, sf_dir)
    assigned = vector_ops.assign_cells_arrow(_embeddings(spark, sf_dir), cents)
    one_shot = {
        (r.doc_a, r.doc_b)
        for r in vector_ops.cell_cosine_pairs_arrow(
            assigned, EMB_DUP_THRESHOLD
        ).collect()
    }
    monkeypatch.setattr(vector_ops, "GEMM_BLOCK", 7)  # force many blocks
    blocked = {
        (r.doc_a, r.doc_b)
        for r in vector_ops.cell_cosine_pairs_arrow(
            assigned, EMB_DUP_THRESHOLD
        ).collect()
    }
    assert one_shot and blocked == one_shot


def test_fixture_has_no_zero_vectors():
    """The SQL oracle twins keep zero vectors (their NULL cosines would
    order arbitrarily) while the index drops them — a contract that is
    only safe because the fixtures contain none. Guard that assumption
    at EVERY scale factor the harness touches (oracle runs sf0.01, the
    bench and experiments sf0.1), including NULL embeddings (min()
    would silently skip them): if a regenerated fixture ever ships a
    zero or NULL embedding, this fails before any oracle hash
    mysteriously diverges."""
    import glob

    import duckdb

    dirs = sorted(glob.glob("/root/testdata/sf*"))
    assert dirs
    for d in dirs:
        n_null, lo = duckdb.execute(
            "SELECT sum(CASE WHEN embedding IS NULL THEN 1 ELSE 0 END),"
            " min(list_dot_product(CAST(embedding AS DOUBLE[]),"
            " CAST(embedding AS DOUBLE[])))"
            f" FROM read_parquet('{d}/embeddings.parquet')"
        ).fetchone()
        assert n_null == 0, d
        assert lo > 0.0, d


def test_resize_media_roundtrips_target_dimensions(spark):
    """resize_media: binary in -> binary out at the requested
    dimensions, deterministic (same input -> same bytes), content
    actually changed, and the resized column re-decodes through the
    standard metadata path."""
    from spotify_etl_aws_spark.operators.multimodal import (
        encode_media,
        resize_media,
        with_media_meta,
    )

    df = encode_media(
        spark.range(6).select(
            F.col("id").alias("doc_id"),
            (F.col("id") + 5).cast("int").alias("width"),
            (F.col("id") + 4).cast("int").alias("height"),
            F.unhex(F.md5(F.col("id").cast("string"))).alias("payload"),
            F.when(F.col("id") % 2 == 0, F.lit("bmp")).otherwise(F.lit("png")).alias("fmt"),
        )
    )
    resized = resize_media(df, 128, 96)
    meta = {r.doc_id: r for r in with_media_meta(resized).collect()}
    assert set(meta) == set(range(6))
    assert all(m.width == 128 and m.height == 96 for m in meta.values())
    # deterministic and different from the originals
    again = {r.doc_id: bytes(r.media) for r in resize_media(df, 128, 96).collect()}
    first = {r.doc_id: bytes(r.media) for r in resized.collect()}
    orig = {r.doc_id: bytes(r.media) for r in df.collect()}
    assert again == first
    assert all(first[i] != orig[i] for i in range(6))
    # distinct images stay distinct after resize
    assert len(set(first.values())) == 6


def test_events_reader_handles_both_ts_resolutions(spark, tmp_path):
    """Fixture generations have stored events.ts as timestamp[ns] AND
    timestamp[us]; the reader sniffs the footer and must produce
    identical TimestampType values for both physical encodings (nanos
    misread as micros would land in 1970)."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from spotify_etl_aws_spark.sources.readers import events_ts_unit, load_table
    from spotify_etl_aws_spark.streaming.pipeline import read_table_stream, run_available_now

    ts = [
        dt.datetime(2024, 1, 1, 0, 0, 0, 123456),
        dt.datetime(2024, 6, 15, 12, 30, 45, 654321),
    ]
    base = {
        "event_id": pa.array([1, 2], pa.int64()),
        "user_id": pa.array([10, 20], pa.int64()),
        "event_type": pa.array(["click", "view"]),
        "value": pa.array([1.5, 2.5], pa.float64()),
        "props": pa.array(["{}", "{}"]),
    }
    for unit in ("ns", "us"):
        d = tmp_path / unit
        d.mkdir()
        tbl = pa.table(
            {**base, "ts": pa.array(ts, pa.timestamp(unit))}
        ).select(["event_id", "ts", "user_id", "event_type", "value", "props"])
        pq.write_table(tbl, str(d / "events.parquet"))
        assert events_ts_unit(str(d / "events.parquet")) == unit
        got = sorted(
            (r.event_id, r.ts)
            for r in load_table(spark, str(d), "events").collect()
        )
        assert got == [(1, ts[0]), (2, ts[1])], unit
        # streaming path dispatches identically
        out = run_available_now(
            read_table_stream(spark, str(d), "events").select("event_id", "ts"),
            f"nsus_{unit}",
        )
        sgot = sorted((r.event_id, r.ts) for r in out.collect())
        assert sgot == [(1, ts[0]), (2, ts[1])], unit


def test_zscore_udtf_matches_jvm_window_twin(spark, sf_dir):
    """The applyInPandas z-score exists to exercise the UDTF lane; the
    production formulation is the pure-JVM window twin. This pins that
    the two produce IDENTICAL rows — so the docstring's 'use the
    built-in for this computation' claim is a checked fact, not
    advice."""
    from pyspark.sql import Window

    from spotify_etl_aws_spark.queries.udfs import udf_group_zscore
    from spotify_etl_aws_spark.sources.readers import load_table

    got = sorted(
        tuple(r) for r in udf_group_zscore(spark, sf_dir).collect()
    )
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
        "value",
    )
    w = Window.partitionBy("event_type", "day")
    z = (F.col("value") - F.avg("value").over(w)) / F.stddev_samp("value").over(w)
    twin = ev.select(
        "event_id",
        "event_type",
        "day",
        (F.round(z, 4) + F.lit(0.0)).alias("zscore"),
    )
    assert got == sorted(tuple(r) for r in twin.collect())


def test_bmp_codec_real_roundtrip(spark):
    """The REAL codec: encode_bmp writes genuine uncompressed 24-bit
    BMP files, decode_image recovers dimensions AND pixels bit-for-bit,
    resize_media performs true nearest-neighbor resampling of the pixel
    grid, and the Spark kernels carry real BMPs end-to-end."""
    import numpy as np

    from spotify_etl_aws_spark.operators.multimodal import (
        bmp_row_bytes,
        decode_image,
        encode_bmp,
        encode_media,
        resize_media,
        with_media_meta,
    )

    # driver-side: pixel-exact round trip through the actual file format
    rng = np.random.default_rng(7)
    src = rng.integers(0, 256, size=(10, 7, 3), dtype=np.uint8)
    b = encode_bmp(7, 10, src.tobytes())
    assert b[:2] == b"BM"
    assert len(b) == 54 + 10 * bmp_row_bytes(7)
    img = decode_image(b)
    assert (img.width, img.height) == (7, 10)
    assert np.array_equal(
        np.frombuffer(img.pixels, np.uint8).reshape(10, 7, 3), src
    )

    # real nearest-neighbor resize: output pixels are exactly the
    # source pixels the index arithmetic selects
    one = spark.createDataFrame(
        [(0, bytearray(b))], "doc_id bigint, media binary"
    )
    out = bytes(resize_media(one, 3, 4).collect()[0].media)
    rimg = decode_image(out)
    assert (rimg.width, rimg.height) == (3, 4)
    yi = (np.arange(4) * 10) // 4
    xi = (np.arange(3) * 7) // 3
    assert np.array_equal(
        np.frombuffer(rimg.pixels, np.uint8).reshape(4, 3, 3), src[yi][:, xi]
    )

    # Spark lane: encode kernel -> metadata decode reads REAL headers
    df = spark.range(5).select(
        F.col("id").alias("doc_id"),
        (F.col("id") + 3).cast("int").alias("width"),
        (F.col("id") + 2).cast("int").alias("height"),
        F.unhex(F.md5(F.col("id").cast("string"))).alias("payload"),
        F.lit("bmp").alias("fmt"),
    )
    media = encode_media(df)
    meta = {r.doc_id: r for r in with_media_meta(media).collect()}
    assert set(meta) == set(range(5))
    assert all(m.media_type == "bmp" for m in meta.values())
    assert all(
        meta[i].width == i + 3 and meta[i].height == i + 2 for i in range(5)
    )


def test_png_codec_real_roundtrip(spark):
    """The PNG half of the codec seam: encode_png writes genuine
    truecolor 8-bit PNG files (real CRCs, real zlib stream) whose size
    matches the stored-block closed form, decode recovers pixels
    bit-for-bit (including foreign files using filters 1-4), resize
    re-encodes in the source format, and the mixed-format Spark kernel
    dispatches per row."""
    import struct
    import zlib

    import numpy as np

    from spotify_etl_aws_spark.operators.multimodal import (
        PNG_SIG,
        decode_image,
        encode_media,
        encode_png,
        resize_media,
        with_media_meta,
    )

    rng = np.random.default_rng(11)
    src = rng.integers(0, 256, size=(10, 7, 3), dtype=np.uint8)
    b = encode_png(7, 10, src.tobytes())
    assert b[: len(PNG_SIG)] == PNG_SIG

    def png_n_bytes(w, h):
        # signature + IHDR + IDAT(zlib header, one stored block, raw
        # filtered scanlines, adler) + IEND
        return 8 + 25 + 12 + (2 + 5 + h * (1 + 3 * w) + 4) + 12

    assert len(b) == png_n_bytes(7, 10)
    img = decode_image(b)
    assert (img.width, img.height, img.mode) == (7, 10, "RGB")
    assert np.array_equal(
        np.frombuffer(img.pixels, np.uint8).reshape(10, 7, 3), src
    )

    # a foreign PNG using Sub/Up/Average/Paeth filters decodes per spec
    def _chunk(tag: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data))
        )

    w, h = 5, 4
    fsrc = rng.integers(0, 256, (h, w, 3), dtype=np.uint8).astype(np.int32)
    lines, prev = [], np.zeros(w * 3, np.int32)
    for y, ft in enumerate([1, 2, 3, 4]):
        row = fsrc[y].reshape(-1)
        filt = np.zeros(w * 3, np.int32)
        for i in range(w * 3):
            a = row[i - 3] if i >= 3 else 0
            up = prev[i]
            c = prev[i - 3] if i >= 3 else 0
            if ft == 1:
                pred = a
            elif ft == 2:
                pred = up
            elif ft == 3:
                pred = (a + up) >> 1
            else:
                p = a + up - c
                pa, pb, pc = abs(p - a), abs(p - up), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (up if pb <= pc else c)
            filt[i] = (row[i] - pred) & 255
        lines.append(bytes([ft]) + bytes(filt.astype(np.uint8)))
        prev = row
    foreign = (
        PNG_SIG
        + _chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + _chunk(b"IDAT", zlib.compress(b"".join(lines), 9))
        + _chunk(b"IEND", b"")
    )
    assert decode_image(foreign).pixels == fsrc.astype(np.uint8).tobytes()

    # real nearest-neighbor resize, re-encoded as PNG
    one = spark.createDataFrame([(0, bytearray(b))], "doc_id bigint, media binary")
    out = bytes(resize_media(one, 3, 4).collect()[0].media)
    assert out[: len(PNG_SIG)] == PNG_SIG
    rimg = decode_image(out)
    yi = (np.arange(4) * 10) // 4
    xi = (np.arange(3) * 7) // 3
    assert np.array_equal(
        np.frombuffer(rimg.pixels, np.uint8).reshape(4, 3, 3), src[yi][:, xi]
    )

    # mixed-format Spark kernel: per-row codec dispatch on fmt
    df = spark.range(6).select(
        F.col("id").alias("doc_id"),
        (F.col("id") + 3).cast("int").alias("width"),
        (F.col("id") + 2).cast("int").alias("height"),
        F.unhex(F.md5(F.col("id").cast("string"))).alias("payload"),
        F.when(F.col("id") % 2 == 0, F.lit("bmp")).otherwise(F.lit("png")).alias("fmt"),
    )
    meta = {r.doc_id: r for r in with_media_meta(encode_media(df)).collect()}
    assert all(
        meta[i].media_type == ("bmp" if i % 2 == 0 else "png") for i in range(6)
    )
    assert all(
        meta[i].width == i + 3 and meta[i].height == i + 2 for i in range(6)
    )
    assert all(
        meta[i].n_bytes == png_n_bytes(i + 3, i + 2)
        for i in range(6)
        if i % 2 == 1
    )


def test_assign_cells_arrow_probe_filter_composes_with_zero_drop(spark):
    """keep_cells filtering inside the kernel must compose with the
    zero-vector drop: integer re-indexing after two boolean masks is
    the subtle path (vec_ids must stay aligned with their vectors)."""
    from spotify_etl_aws_spark.operators.vector_ops import assign_cells_arrow

    cents = [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0])]
    out = {
        r.vec_id: r
        for r in assign_cells_arrow(
            _edge_vecs(spark), cents, keep_cells=[1]
        ).collect()
    }
    # zero vector (2) dropped; same-direction vectors (0,3,5) live in
    # cell 0 and are filtered out; cell 1 holds vec 1 AND the antipodal
    # vec 4 (cosine 0 to the orthogonal centroid beats -1 to its own
    # axis) — both must survive, correctly aligned with their vectors
    assert set(out) == {1, 4}
    assert out[1].cell == 1 and out[4].cell == 1
    assert out[1].v == [0.0, 1.0, 0.0]
    assert out[4].v == [-1.0, 0.0, 0.0]
