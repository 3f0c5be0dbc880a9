"""Perceptual-hash image dedup (operators/phash.py): dHash kernel
parity against a direct numpy reference over random block images,
banded-join brute-force parity (pigeonhole exactness), the grid-
alignment loud guard, the skew valve's no-wrong-pairs contract, and
the no-cartesian plan pin."""

from __future__ import annotations

import random

import numpy as np
import pytest

from spotify_etl_aws_spark.operators.multimodal import encode_bmp
from spotify_etl_aws_spark.operators.phash import (
    GRID_COLS,
    GRID_ROWS,
    HASH_BITS,
    dhash_bytes,
    dhash_media,
    hamming_near_pairs,
)


def _bmp_from_cells(cells: np.ndarray, block: int = 8) -> bytes:
    px = np.repeat(np.repeat(cells.astype(np.uint8), block, 0), block, 1)
    buf = np.repeat(px[:, :, None], 3, 2)
    h, w = px.shape
    return encode_bmp(w, h, buf.tobytes())


def _ref_hash(cells: np.ndarray) -> int:
    bits = cells[:, :-1] > cells[:, 1:]
    w = 1 << np.arange(GRID_ROWS * (GRID_COLS - 1), dtype=np.uint64).reshape(
        GRID_ROWS, GRID_COLS - 1
    )
    return int((bits.astype(np.uint64) * w).sum())


def _brute_pairs(hashes: dict[int, int], d: int) -> set[tuple[int, int, int]]:
    ids = sorted(hashes)
    out = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            ham = bin(hashes[a] ^ hashes[b]).count("1")
            if ham <= d:
                out.add((a, b, ham))
    return out


def test_dhash_kernel_matches_reference_on_random_block_images():
    rng = random.Random(7)
    for _ in range(25):
        cells = np.array(
            [[rng.randrange(256) for _ in range(GRID_COLS)] for _ in range(GRID_ROWS)],
            dtype=np.int64,
        )
        assert dhash_bytes(_bmp_from_cells(cells)) == _ref_hash(cells)


def test_dhash_is_invariant_to_block_scale():
    # same 8x8 cell pattern at 8px and 16px blocks -> same hash (the
    # block mean of a constant block is exact at any scale)
    rng = random.Random(11)
    cells = np.array(
        [[rng.randrange(256) for _ in range(GRID_COLS)] for _ in range(GRID_ROWS)],
        dtype=np.int64,
    )
    assert dhash_bytes(_bmp_from_cells(cells, 8)) == dhash_bytes(
        _bmp_from_cells(cells, 16)
    )


def test_dhash_is_codec_invariant():
    # the same pixels through the BMP and PNG encoders hash
    # identically — dedup must find a re-encoded copy (both codecs are
    # lossless; JPEG re-encodes are the NEAR-dup case the Hamming
    # threshold absorbs)
    from spotify_etl_aws_spark.operators.multimodal import encode_png

    rng = random.Random(19)
    cells = np.array(
        [[rng.randrange(256) for _ in range(GRID_COLS)] for _ in range(GRID_ROWS)],
        dtype=np.int64,
    )
    px = np.repeat(np.repeat(cells.astype(np.uint8), 8, 0), 8, 1)
    bgr = np.repeat(px[:, :, None], 3, 2)
    bmp = encode_bmp(64, 64, bgr.tobytes())
    png = encode_png(64, 64, bgr.tobytes())
    assert dhash_bytes(bmp) == dhash_bytes(png) == _ref_hash(cells)


def test_dhash_rejects_unaligned_dimensions():
    img = encode_bmp(60, 64, b"\x00" * (60 * 64 * 3))
    with pytest.raises(ValueError, match="not a multiple"):
        dhash_bytes(img)


def test_dhash_bit_range():
    rng = random.Random(3)
    for _ in range(10):
        cells = np.array(
            [[rng.randrange(256) for _ in range(GRID_COLS)] for _ in range(GRID_ROWS)],
            dtype=np.int64,
        )
        h = dhash_bytes(_bmp_from_cells(cells))
        assert 0 <= h < (1 << HASH_BITS)


def _random_hashes(rng: random.Random, n: int, families: int):
    """n hashes clustered into families: family base + <=4 flipped bits
    per member, so near pairs exist at every distance 0..4."""
    out = {}
    for i in range(n):
        fam = i % families
        base_rng = random.Random(1000 + fam)
        h = base_rng.getrandbits(HASH_BITS)
        for _ in range(rng.randrange(5)):
            h ^= 1 << rng.randrange(HASH_BITS)
        out[i] = h
    return out


def test_banded_join_matches_brute_force(spark):
    rng = random.Random(42)
    hashes = _random_hashes(rng, 120, families=17)
    df = spark.createDataFrame(
        [(i, h) for i, h in hashes.items()], "doc_id long, phash long"
    )
    for d in (0, 2, 4, 7):
        got = {
            (r.id_a, r.id_b, r.hamming)
            for r in hamming_near_pairs(df, max_distance=d).collect()
        }
        assert got == _brute_pairs(hashes, d), f"d={d}"


def test_banded_join_rejects_unprovable_threshold(spark):
    df = spark.createDataFrame([(1, 5)], "doc_id long, phash long")
    with pytest.raises(ValueError, match="pigeonhole"):
        hamming_near_pairs(df, max_distance=8, bands=8)
    with pytest.raises(ValueError, match="pigeonhole"):
        hamming_near_pairs(df, max_distance=8, bands=4, probe_radius=1)
    with pytest.raises(ValueError, match="probe_radius"):
        hamming_near_pairs(df, max_distance=4, probe_radius=2)


def test_multiprobe_matches_brute_force(spark):
    # 4x14-bit bands probed at r=1 cover d <= 7 — the wide-band
    # posture must find exactly what 8-band exact banding finds
    rng = random.Random(77)
    hashes = _random_hashes(rng, 100, families=13)
    # plant pairs at the extended boundary: base + exactly 7 flips
    base = random.Random(2000).getrandbits(HASH_BITS)
    hashes[900] = base
    h7 = base
    for j in (0, 9, 18, 27, 36, 45, 54):  # one flip in every 8-bit zone
        h7 ^= 1 << j
    hashes[901] = h7
    df = spark.createDataFrame(
        [(i, h) for i, h in hashes.items()], "doc_id long, phash long"
    )
    for d in (3, 5, 7):
        got = {
            (r.id_a, r.id_b, r.hamming)
            for r in hamming_near_pairs(
                df, max_distance=d, bands=4, probe_radius=1
            ).collect()
        }
        assert got == _brute_pairs(hashes, d), f"d={d}"
    assert (900, 901, 7) in _brute_pairs(hashes, 7)


def test_skew_valve_never_emits_wrong_pairs(spark):
    # a hot bucket (hash 0 x 40 copies: every band collides) capped at
    # 10 -> its pairs vanish from candidates; survivors still exact
    rng = random.Random(5)
    hashes = {i: 0 for i in range(40)}
    hashes.update(
        {100 + i: h for i, h in _random_hashes(rng, 30, families=6).items()}
    )
    df = spark.createDataFrame(
        [(i, h) for i, h in hashes.items()], "doc_id long, phash long"
    )
    capped = {
        (r.id_a, r.id_b, r.hamming)
        for r in hamming_near_pairs(
            df, max_distance=4, max_band_bucket=10
        ).collect()
    }
    brute = _brute_pairs(hashes, 4)
    assert capped <= brute  # nothing fabricated
    hot = {(a, b) for a, b, _ in brute if a < 40 and b < 40}
    assert not {(a, b) for a, b, _ in capped if a < 40 and b < 40} & hot
    # pairs entirely outside the hot family survive untouched
    cold = {(a, b, h) for a, b, h in brute if a >= 100 and b >= 100}
    assert {(a, b, h) for a, b, h in capped if a >= 100} == cold


def test_plan_has_no_cartesian(spark):
    df = spark.createDataFrame(
        [(i, i * 37) for i in range(20)], "doc_id long, phash long"
    )
    plan = (
        hamming_near_pairs(df, max_distance=4)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


def test_wide_hash_kernel_matches_reference():
    from spotify_etl_aws_spark.operators.phash import (
        WIDE_BITS,
        WIDE_COLS,
        WIDE_ROWS,
        dhash_wide_bytes,
    )

    rng = random.Random(31)
    for _ in range(10):
        cells = np.array(
            [[rng.randrange(256) for _ in range(WIDE_COLS)] for _ in range(WIDE_ROWS)],
            dtype=np.int64,
        )
        img = _bmp_from_cells(cells, block=4)
        words = dhash_wide_bytes(img)
        bits = (cells[:, :-1] > cells[:, 1:]).reshape(-1)
        expect = [0, 0, 0, 0]
        for k in range(WIDE_BITS):
            if bits[k]:
                expect[k // 60] |= 1 << (k % 60)
        assert list(words) == expect
        assert all(0 <= w < (1 << 60) for w in words)


def _wide_brute(hashes: dict[int, tuple], d: int) -> set:
    ids = sorted(hashes)
    out = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            ham = sum(
                bin(x ^ y).count("1") for x, y in zip(hashes[a], hashes[b])
            )
            if ham <= d:
                out.add((a, b, ham))
    return out


def test_wide_join_matches_brute_force(spark):
    from spotify_etl_aws_spark.operators.phash import hamming_near_pairs_wide

    rng = random.Random(41)
    hashes = {}
    for i in range(80):
        fam = i % 11
        base_rng = random.Random(3000 + fam)
        ws = [base_rng.getrandbits(60) for _ in range(4)]
        for _ in range(rng.randrange(16)):  # up to 15 flips
            k = rng.randrange(240)
            ws[k // 60] ^= 1 << (k % 60)
        hashes[i] = tuple(ws)
    df = spark.createDataFrame(
        [(i, *ws) for i, ws in hashes.items()],
        "doc_id long, w0 long, w1 long, w2 long, w3 long",
    )
    for d in (0, 7, 15):
        got = {
            (r.id_a, r.id_b, r.hamming)
            for r in hamming_near_pairs_wide(df, max_distance=d).collect()
        }
        assert got == _wide_brute(hashes, d), f"d={d}"


def test_wide_join_rejects_unprovable_threshold(spark):
    from spotify_etl_aws_spark.operators.phash import hamming_near_pairs_wide

    df = spark.createDataFrame(
        [(1, 0, 0, 0, 0)], "doc_id long, w0 long, w1 long, w2 long, w3 long"
    )
    with pytest.raises(ValueError, match="pigeonhole"):
        hamming_near_pairs_wide(df, max_distance=16, probe_radius=1)
    with pytest.raises(ValueError, match="pigeonhole"):
        hamming_near_pairs_wide(df, max_distance=8, probe_radius=0)


def test_dhash_media_end_to_end(spark):
    rng = random.Random(9)
    rows = []
    expect = {}
    for i in range(12):
        cells = np.array(
            [[rng.randrange(256) for _ in range(GRID_COLS)] for _ in range(GRID_ROWS)],
            dtype=np.int64,
        )
        rows.append((i, bytearray(_bmp_from_cells(cells))))
        expect[i] = _ref_hash(cells)
    df = spark.createDataFrame(rows, "doc_id long, media binary")
    got = {r.doc_id: r.phash for r in dhash_media(df).collect()}
    assert got == expect


def test_dhash_media_preserves_string_ids(spark):
    # id_col is a parameter, not a bigint contract: the mapInPandas
    # output schema derives the id field type from the input, so
    # string doc ids ride through hashing AND the near-pair join
    rng = random.Random(21)
    cells = np.array(
        [[rng.randrange(256) for _ in range(GRID_COLS)] for _ in range(GRID_ROWS)],
        dtype=np.int64,
    )
    blob = bytearray(_bmp_from_cells(cells))
    df = spark.createDataFrame(
        [("doc/a", blob), ("doc/b", blob)], "doc_id string, media binary"
    )
    hashed = dhash_media(df)
    assert dict(hashed.dtypes)["doc_id"] == "string"
    got = {r.doc_id: r.phash for r in hashed.collect()}
    assert got == {"doc/a": _ref_hash(cells), "doc/b": _ref_hash(cells)}
    pairs = hamming_near_pairs(hashed, max_distance=0).collect()
    assert [(r.id_a, r.id_b, r.hamming) for r in pairs] == [
        ("doc/a", "doc/b", 0)
    ]


def test_dhash_media_wide_preserves_string_ids(spark):
    from spotify_etl_aws_spark.operators.phash import dhash_media_wide

    px = np.zeros((16, 16), dtype=np.int64)
    px[0, 0] = 255
    blob = bytearray(_bmp_from_cells(px, block=1))
    df = spark.createDataFrame([("x", blob)], "doc_id string, media binary")
    out = dhash_media_wide(df)
    assert dict(out.dtypes)["doc_id"] == "string"
    assert out.count() == 1


def test_probe_prefilter_modes_do_not_change_output(spark):
    """broadcast (exact) and bloom (no-false-negative) prefilters only
    drop probe variants that cannot join — pair sets must be identical
    to the unfiltered run, narrow and wide."""
    from spotify_etl_aws_spark.operators.phash import (
        dhash_media_wide,
        hamming_near_pairs_wide,
    )

    rng = random.Random(51)
    # narrow: 60 hashes, 12 planted near-dup pairs at d<=4
    hashes = {}
    for i in range(60):
        if i % 5 and rng.random() < 0.4:
            base = hashes[i - i % 5]
            h = base ^ sum(1 << rng.randrange(56) for _ in range(rng.randrange(4)))
        else:
            h = rng.getrandbits(56)
        hashes[i] = h
    df = spark.createDataFrame(
        [(i, h) for i, h in hashes.items()], "doc_id long, phash long"
    )
    want = {
        (r.id_a, r.id_b, r.hamming)
        for r in hamming_near_pairs(
            df, max_distance=7, bands=4, probe_radius=1
        ).collect()
    }
    assert want == _brute_pairs(hashes, 7)
    for mode in ("broadcast", "bloom"):
        got = {
            (r.id_a, r.id_b, r.hamming)
            for r in hamming_near_pairs(
                df, max_distance=7, bands=4, probe_radius=1,
                probe_prefilter=mode,
            ).collect()
        }
        assert got == want, mode
    # wide: planted word perturbations
    rows = []
    for i in range(40):
        if i % 4:
            w = list(rows[i - i % 4][1:])
            for _ in range(rng.randrange(6)):
                k = rng.randrange(4)
                w[k] ^= 1 << rng.randrange(60)
        else:
            w = [rng.getrandbits(60) for _ in range(4)]
        rows.append((i, *w))
    wdf = spark.createDataFrame(rows, "doc_id long, w0 long, w1 long, w2 long, w3 long")
    wide_want = {
        (r.id_a, r.id_b, r.hamming)
        for r in hamming_near_pairs_wide(wdf).collect()
    }
    assert wide_want  # fixture sanity: some pairs exist
    for mode in ("broadcast", "bloom"):
        got = {
            (r.id_a, r.id_b, r.hamming)
            for r in hamming_near_pairs_wide(
                wdf, probe_prefilter=mode
            ).collect()
        }
        assert got == wide_want, mode


def test_probe_prefilter_rejects_unknown_mode(spark):
    df = spark.createDataFrame([(0, 1)], "doc_id long, phash long")
    with pytest.raises(ValueError, match="probe_prefilter"):
        hamming_near_pairs(
            df, max_distance=7, bands=4, probe_radius=1,
            probe_prefilter="nope",
        ).collect()
