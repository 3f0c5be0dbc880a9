"""Perceptual image hashing + Hamming near-duplicate join (north-star,
SURVEY.md §2.11a/§2.11d intersection): find visually-near-duplicate
images in a binary media column without an all-pairs scan.

The reference pipeline has no image dedup (its media handling stops at
metadata passthrough); this is the LLM-training-data operator a 100 TB
multimodal corpus needs: the classic crawl-dedup stack (dHash —
"difference hash", the gradient variant of Krawetz's average hash —
then banded LSH over the 64/56-bit hash, exact Hamming verify on
candidates only). Public algorithm; no library needed — the repo's own
codecs (operators/multimodal.py, operators/jpeg.py) decode the bytes
and numpy does the downsample.

Scale shape (the point of the design):

- ``dhash_media`` is a mapInPandas kernel — one Arrow batch of image
  bytes in, one int64 hash per image out. Embarrassingly parallel
  across images; a billion images cost a billion independent decodes
  spread over the cluster, never a bigger matrix. The decode is the
  repo's pure-Python/numpy codec seam — a deployment swaps in
  PIL/libvips inside the SAME kernel signature.
- ``hamming_near_pairs`` is the cheap-filter→exact-verify house
  pattern (LSH before cosine, segments before levenshtein, envelopes
  before DTW): split the B-bit hash into ``bands`` fixed windows; by
  pigeonhole, any pair within Hamming distance d < bands agrees
  exactly on ≥1 band, so ONE equi-join on (band_index, band_value)
  finds every qualifying pair — no theta join, no cartesian anywhere
  in the plan (test-pinned). Verify is a JVM-side
  ``bit_count(a ^ b)`` — no Python in the verify path.
- Hot bands (e.g. the all-zero gradient band every flat/monochrome
  image shares) are the skew risk at corpus scale — the same shape as
  the edit-distance segment join's replica families. The operator
  exposes ``max_band_bucket``: band buckets larger than the cap are
  dropped from CANDIDATE GENERATION only, countable by the caller as
  a (band, band_val) count over ``band_buckets`` (a dropped bucket
  weakens recall for near-flat images but never produces a wrong pair;
  exact-verify still gates everything emitted). Default None = exact
  recall.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from .lineage import cut_lineage

def id_ddl(df: DataFrame, id_col: str) -> str:
    """DDL type string of ``id_col`` in ``df`` — the mapInPandas
    output schemas below carry the id through unchanged, so the Arrow
    field must match the INPUT type (bigint ids stay bigint, string
    doc ids stay string) instead of hard-coding long."""
    return df.schema[id_col].dataType.simpleString()


#: dHash geometry: GRID_ROWS x GRID_COLS luminance grid, horizontal
#: gradient sign -> GRID_ROWS * (GRID_COLS - 1) bits. 8x8 -> 56 bits,
#: which keeps every hash strictly inside a non-negative int64 (no
#: sign-bit arithmetic on either engine) and splits evenly into 8
#: 7-bit LSH bands.
GRID_ROWS = 8
GRID_COLS = 8
HASH_BITS = GRID_ROWS * (GRID_COLS - 1)  # 56


def dhash_pixels(px, rows: int = GRID_ROWS, cols: int = GRID_COLS) -> int:
    """dHash of one DECODED pixel buffer — (h, w, 3) uint8 array:
    grayscale, block-mean downsample to (rows x cols), emit sign of
    each horizontal gradient. Bit k = r*(cols-1)+c is set iff
    cell[r][c] > cell[r][c+1] (strict; ties -> 0 on both engines).
    Pixel dims must be exact multiples of the grid so the block mean
    is a true partition mean — real thumbnails resample first; this
    fails loud instead of silently interpolating."""
    import numpy as np

    h, w = px.shape[0], px.shape[1]
    if w % cols or h % rows:
        raise ValueError(
            f"dhash_pixels: image {w}x{h} is not a multiple of the "
            f"{rows}x{cols} grid; resample first (resize_media) so "
            "block means are exact partition means"
        )
    gray = px.astype(np.float64).mean(axis=2)
    bh, bw = h // rows, w // cols
    cells = gray.reshape(rows, bh, cols, bw).mean(axis=(1, 3))
    bits = cells[:, :-1] > cells[:, 1:]
    weights = 1 << np.arange(rows * (cols - 1), dtype=np.uint64).reshape(
        rows, cols - 1
    )
    return int((bits.astype(np.uint64) * weights).sum())


def dhash_bytes(data: bytes, rows: int = GRID_ROWS, cols: int = GRID_COLS) -> int:
    """dHash of one ENCODED image: real decode, then ``dhash_pixels``."""
    import numpy as np

    from .multimodal import decode_image

    img = decode_image(data)
    px = np.frombuffer(img.pixels, dtype=np.uint8).reshape(
        img.height, img.width, 3
    )
    try:
        return dhash_pixels(px, rows, cols)
    except ValueError as exc:
        raise ValueError(f"dhash_bytes: {exc}") from None


def dhash_media(
    df: DataFrame,
    id_col: str = "doc_id",
    media_col: str = "media",
    rows: int = GRID_ROWS,
    cols: int = GRID_COLS,
) -> DataFrame:
    """(id, media binary) -> (id, phash long) via an Arrow-batched
    mapInPandas kernel. Decode + downsample run per-image inside the
    task; only the 8-byte hash ever shuffles."""
    import pandas as pd

    proj = df.select(F.col(id_col).alias("__id"), F.col(media_col).alias("__m"))

    def _hash(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "__id": pdf["__id"],
                    "phash": [
                        dhash_bytes(bytes(b), rows, cols) for b in pdf["__m"]
                    ],
                }
            )

    out = proj.mapInPandas(
        _hash, schema=f"__id {id_ddl(df, id_col)}, phash long"
    )
    return out.select(F.col("__id").alias(id_col), "phash")


def band_buckets(
    hashes: DataFrame,
    id_col: str,
    hash_col: str = "phash",
    bits: int = HASH_BITS,
    bands: int = 8,
) -> DataFrame:
    """Explode each hash into (id, band, band_val) LSH bucket rows —
    all JVM-side bit arithmetic (shiftrightunsigned + mask), no UDF."""
    if bits % bands:
        raise ValueError(f"bits ({bits}) must divide into bands ({bands})")
    width = bits // bands
    mask = (1 << width) - 1
    h = F.col(hash_col)
    rows = [
        F.struct(
            F.lit(b).alias("band"),
            F.shiftrightunsigned(h, b * width).bitwiseAND(F.lit(mask)).alias(
                "band_val"
            ),
        )
        for b in range(bands)
    ]
    return hashes.select(
        F.col(id_col), F.explode(F.array(*rows)).alias("bb")
    ).select(id_col, F.col("bb.band").alias("band"), F.col("bb.band_val").alias("band_val"))


def _apply_probe_prefilter(
    probe: DataFrame,
    bb: DataFrame,
    mode: str | None,
    bloom_bits: int = 1 << 27,
) -> DataFrame:
    """Drop probe-VARIANT rows whose (band, band_val) bucket has no
    possible index partner, BEFORE the candidate shuffle (round-9
    verdict item 5): the radius-1 probe fan is a fixed (width+1)x row
    multiplier, but a random flipped bucket almost never exists on the
    index side (occupancy ~ 8N / 2^width), so most of the fan is
    shuffle freight that joins to nothing. Two modes, both
    recall-lossless (output provably identical — they only remove
    rows that cannot join):

    - ``"broadcast"``: EXACT — semi-join against the distinct index
      bucket set (<= 8N narrow rows) broadcast to every task. The
      right default until the bucket set outgrows the broadcast
      budget (~hundreds of millions of buckets).
    - ``"bloom"``: a k=1 Bloom word table over the bucket set
      (bloom_bits bits -> <= bloom_bits/64 sparse words broadcast;
      the sketches-module formulation) probed with ONE map-side
      broadcast join + bit test — no distinct/groupBy on the probe
      side. False positives only re-admit fan rows the join then
      drops; never a false negative, so recall is untouched. For when
      even the bucket set is too big to broadcast exactly.
    """
    if mode is None:
        return probe
    if mode == "broadcast":
        idx = bb.select("band", "band_val").distinct()
        return probe.join(F.broadcast(idx), ["band", "band_val"], "left_semi")
    if mode == "bloom":
        from .sketches import _bloom_word_mask

        h = F.pmod(
            F.xxhash64(F.col("band"), F.col("band_val")), F.lit(bloom_bits)
        )
        idx_word, idx_mask = _bloom_word_mask(F.col("__p"))
        words = (
            bb.select(h.alias("__p"))
            .select(idx_word.alias("w"), idx_mask.alias("__m"))
            .groupBy("w")
            .agg(F.bit_or("__m").alias("bits"))
        )
        probed = probe.withColumn("__p", h)
        word, mask = _bloom_word_mask(F.col("__p"))
        return (
            probed.withColumn("w", word)
            .withColumn("__mask", mask)
            .join(F.broadcast(words), "w", "left")
            .filter(
                F.coalesce(F.col("bits"), F.lit(0)).bitwiseAND(
                    F.col("__mask")
                )
                != 0
            )
            .drop("__p", "w", "__mask", "bits")
        )
    raise ValueError(
        f"probe_prefilter must be None, 'broadcast' or 'bloom', got {mode!r}"
    )


def hamming_near_pairs(
    hashes: DataFrame,
    id_col: str = "doc_id",
    hash_col: str = "phash",
    max_distance: int = 4,
    bits: int = HASH_BITS,
    bands: int = 8,
    max_band_bucket: int | None = None,
    probe_radius: int = 0,
    probe_prefilter: str | None = None,
) -> DataFrame:
    """All (id_a < id_b) pairs with Hamming(hash_a, hash_b) <=
    ``max_distance``, via banded LSH candidates + exact bit_count
    verify. Exact (100% recall) whenever ``max_distance <
    bands * (probe_radius + 1)``: distribute <= max_distance differing
    bits over ``bands`` bands and some band holds <= probe_radius of
    them — pigeonhole, the same guarantee the MinHash/SimHash/
    edit-distance lanes ride, generalized to multi-probe.

    ``probe_radius`` (multi-probe LSH, Lv et al. VLDB 2007): the probe
    side of the join ALSO enumerates every band value within Hamming
    ``r`` of its own (identity + w flips at r=1), while the index side
    stays one row per band — so random-collision candidate mass is set
    by the INDEX bucket space 2^(bits/bands), not by the probe fan.
    The 100 TB trade this buys: 4x14-bit bands probed at r=1 cover the
    same d <= 7 as 8x7-bit exact bands, with collision probability
    4*15/2^14 = 0.37% per random pair instead of 8/2^7 = 6.25% — ~17x
    fewer junk candidates for a 15x probe-row fan that shuffles 20-byte
    rows. Measured in experiments/media_dedup_scale.py.

    ``max_band_bucket``: optional skew valve — drop candidate buckets
    larger than the cap (see module docstring). Off by default.

    Returns (id_a, id_b, hamming) with hamming as bigint.
    """
    if probe_radius not in (0, 1):
        raise ValueError(
            f"hamming_near_pairs: probe_radius must be 0 or 1, got "
            f"{probe_radius} (r>=2 fans w-choose-2 variants per band; "
            "widen bands instead)"
        )
    if max_distance >= bands * (probe_radius + 1):
        raise ValueError(
            f"hamming_near_pairs: pigeonhole exactness needs "
            f"max_distance ({max_distance}) < bands * (probe_radius+1) "
            f"({bands} * {probe_radius + 1})"
        )
    # The hash frame is the lightweight PROXY of the media pipeline
    # (id + packed hash — the expensive encode/decode/hash lineage
    # sits behind it). It is referenced three times below (band index,
    # probe side, both verify sides); a lazy localCheckpoint
    # materializes that lineage exactly once and every reference reads
    # the stored metadata-sized blocks (r14; guide §8 "decide with
    # small rows" — measured 2.1x on dedup_video_clips' twin operator).
    hashes = hashes.transform(cut_lineage)
    width = bits // bands
    bb = band_buckets(hashes, id_col, hash_col, bits, bands)
    if max_band_bucket is not None:
        counts = bb.groupBy("band", "band_val").agg(
            F.count(F.lit(1)).alias("__n")
        )
        bb = (
            bb.join(
                F.broadcast(
                    counts.filter(F.col("__n") > max_band_bucket).select(
                        "band", "band_val"
                    )
                ),
                ["band", "band_val"],
                "left_anti",
            )
        )
    probe = bb
    if probe_radius == 1:
        # identity + one single-bit flip per band bit — JVM-side
        # explode; only the probe SIDE fans out, index buckets stay put
        variants = F.array(
            F.col("band_val"),
            *[
                F.col("band_val").bitwiseXOR(F.lit(1 << j))
                for j in range(width)
            ],
        )
        probe = _apply_probe_prefilter(
            bb.select(id_col, "band", F.explode(variants).alias("band_val")),
            bb,
            probe_prefilter,
        )
    a = probe.select(
        F.col(id_col).alias("id_a"), "band", "band_val"
    )
    b = bb.select(
        F.col(id_col).alias("id_b"), "band", "band_val"
    )
    if probe_radius == 0:
        cand = (
            a.join(b, ["band", "band_val"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
        )
    else:
        # with probing, pair (x, y) may surface only as
        # x-probe -> y-index: keep both orientations, normalize, dedup
        cand = (
            a.join(b, ["band", "band_val"])
            .filter(F.col("id_a") != F.col("id_b"))
            .select(
                F.least("id_a", "id_b").alias("id_a"),
                F.greatest("id_a", "id_b").alias("id_b"),
            )
            .distinct()
        )
    ha = hashes.select(
        F.col(id_col).alias("id_a"), F.col(hash_col).alias("__ha")
    )
    hb = hashes.select(
        F.col(id_col).alias("id_b"), F.col(hash_col).alias("__hb")
    )
    return (
        cand.join(ha, "id_a")
        .join(hb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("__ha").bitwiseXOR(F.col("__hb")))
            .cast("long")
            .alias("hamming"),
        )
        .filter(F.col("hamming") <= max_distance)
    )


# ---- wide (240-bit) variant: the billion-image posture ----
#
# Any fixed 56-bit geometry eventually drowns in same-bucket collision
# mass (~N^2 * bands / 2^width; measured past ~10^5 docs in
# experiments/media_dedup_scale.py). The scale answer is MORE BITS:
# a 16x16 luminance grid gives 16 rows x 15 gradients = 240 bits,
# packed into 4 x 60-bit words (each strictly inside a non-negative
# int64). 8 x 30-bit bands + radius-1 probing guarantee recall at
# d <= 15 (the same ~6% bit-difference threshold d=4 is on 56 bits)
# with per-band bucket space 2^30 — random collision probability
# 8*31/2^30 ~ 2e-7 per pair, so candidate mass stays linear into the
# hundreds of millions of images.
WIDE_ROWS = 16
WIDE_COLS = 16
WIDE_BITS = WIDE_ROWS * (WIDE_COLS - 1)  # 240
WIDE_WORD_BITS = 60
WIDE_WORDS = 4
WIDE_BANDS = 8
WIDE_BAND_BITS = 30


def dhash_wide_bytes(data: bytes) -> tuple[int, int, int, int]:
    """240-bit dHash of one encoded image (16x16 grid), packed
    little-endian into 4 x 60-bit words: bit k = r*15+c lives in word
    k // 60 at offset k % 60. Same exact-partition-mean contract as
    ``dhash_bytes``."""
    import numpy as np

    from .multimodal import decode_image

    img = decode_image(data)
    if img.width % WIDE_COLS or img.height % WIDE_ROWS:
        raise ValueError(
            f"dhash_wide_bytes: image {img.width}x{img.height} is not a "
            f"multiple of the {WIDE_ROWS}x{WIDE_COLS} grid; resample "
            "first (resize_media) so block means are exact"
        )
    px = np.frombuffer(img.pixels, dtype=np.uint8).reshape(
        img.height, img.width, 3
    )
    gray = px.astype(np.float64).mean(axis=2)
    bh, bw = img.height // WIDE_ROWS, img.width // WIDE_COLS
    cells = gray.reshape(WIDE_ROWS, bh, WIDE_COLS, bw).mean(axis=(1, 3))
    bits = (cells[:, :-1] > cells[:, 1:]).reshape(-1).astype(np.uint64)
    idx = np.arange(WIDE_BITS, dtype=np.uint64)
    words = []
    for w in range(WIDE_WORDS):
        sel = (idx // WIDE_WORD_BITS) == w
        words.append(
            int((bits[sel] * (1 << (idx[sel] % WIDE_WORD_BITS))).sum())
        )
    return tuple(words)


def dhash_media_wide(
    df: DataFrame, id_col: str = "doc_id", media_col: str = "media"
) -> DataFrame:
    """(id, media binary) -> (id, w0..w3 long) via mapInPandas."""
    import pandas as pd

    proj = df.select(F.col(id_col).alias("__id"), F.col(media_col).alias("__m"))

    def _hash(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            ws = [dhash_wide_bytes(bytes(b)) for b in pdf["__m"]]
            yield pd.DataFrame(
                {
                    "__id": pdf["__id"],
                    **{f"w{k}": [t[k] for t in ws] for k in range(WIDE_WORDS)},
                }
            )

    out = proj.mapInPandas(
        _hash,
        schema=f"__id {id_ddl(df, id_col)}, w0 long, w1 long, w2 long, w3 long",
    )
    return out.select(F.col("__id").alias(id_col), "w0", "w1", "w2", "w3")


def _wide_band_val(band: int):
    """JVM expression for 30-bit band ``band`` of a 4x60-bit wide hash:
    two bands per word, no band straddles a word boundary."""
    word = F.col(f"w{band // 2}")
    return F.shiftrightunsigned(word, WIDE_BAND_BITS * (band % 2)).bitwiseAND(
        F.lit((1 << WIDE_BAND_BITS) - 1)
    )


def hamming_near_pairs_wide(
    hashes: DataFrame,
    id_col: str = "doc_id",
    max_distance: int = 15,
    probe_radius: int = 1,
    max_band_bucket: int | None = None,
    probe_prefilter: str | None = None,
) -> DataFrame:
    """All (id_a < id_b) pairs within Hamming ``max_distance`` of the
    240-bit hash (columns w0..w3): 8 x 30-bit bands, radius-1 probe
    side, JVM sum-of-bit_count verify. Pigeonhole-exact for
    max_distance < 8 * (probe_radius + 1).

    ``probe_prefilter``: "broadcast" (exact) or "bloom" — drop probed
    band variants whose bucket has no index partner before they ever
    shuffle (see ``_apply_probe_prefilter``). With 30-bit bands the
    index occupies ~8N of 2^30 buckets, so a random flipped variant
    survives with probability ~8N/2^30 — at 500k docs the 31x probe
    fan (124M rows) collapses to the ~0.4% that can actually join,
    output identical (measured in experiments/media_dedup_scale.py)."""
    if probe_radius not in (0, 1):
        raise ValueError(
            f"hamming_near_pairs_wide: probe_radius must be 0 or 1, "
            f"got {probe_radius}"
        )
    if max_distance >= WIDE_BANDS * (probe_radius + 1):
        raise ValueError(
            f"hamming_near_pairs_wide: pigeonhole exactness needs "
            f"max_distance ({max_distance}) < bands * (probe_radius+1) "
            f"({WIDE_BANDS} * {probe_radius + 1})"
        )
    # single materialization of the proxy hash frame — same rationale
    # as hamming_near_pairs (three references below)
    hashes = hashes.transform(cut_lineage)
    wcols = [f"w{k}" for k in range(WIDE_WORDS)]
    rows = [
        F.struct(F.lit(b).alias("band"), _wide_band_val(b).alias("band_val"))
        for b in range(WIDE_BANDS)
    ]
    bb = hashes.select(
        F.col(id_col), F.explode(F.array(*rows)).alias("bb")
    ).select(
        id_col,
        F.col("bb.band").alias("band"),
        F.col("bb.band_val").alias("band_val"),
    )
    if max_band_bucket is not None:
        counts = bb.groupBy("band", "band_val").agg(
            F.count(F.lit(1)).alias("__n")
        )
        bb = bb.join(
            F.broadcast(
                counts.filter(F.col("__n") > max_band_bucket).select(
                    "band", "band_val"
                )
            ),
            ["band", "band_val"],
            "left_anti",
        )
    probe = bb
    if probe_radius == 1:
        variants = F.array(
            F.col("band_val"),
            *[
                F.col("band_val").bitwiseXOR(F.lit(1 << j))
                for j in range(WIDE_BAND_BITS)
            ],
        )
        probe = _apply_probe_prefilter(
            bb.select(id_col, "band", F.explode(variants).alias("band_val")),
            bb,
            probe_prefilter,
        )
    a = probe.select(F.col(id_col).alias("id_a"), "band", "band_val")
    b = bb.select(F.col(id_col).alias("id_b"), "band", "band_val")
    if probe_radius == 0:
        cand = (
            a.join(b, ["band", "band_val"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
        )
    else:
        cand = (
            a.join(b, ["band", "band_val"])
            .filter(F.col("id_a") != F.col("id_b"))
            .select(
                F.least("id_a", "id_b").alias("id_a"),
                F.greatest("id_a", "id_b").alias("id_b"),
            )
            .distinct()
        )
    ha = hashes.select(
        F.col(id_col).alias("id_a"),
        *[F.col(w).alias(f"__a{w}") for w in wcols],
    )
    hb = hashes.select(
        F.col(id_col).alias("id_b"),
        *[F.col(w).alias(f"__b{w}") for w in wcols],
    )
    hamming = sum(
        F.bit_count(F.col(f"__a{w}").bitwiseXOR(F.col(f"__b{w}")))
        for w in wcols
    )
    return (
        cand.join(ha, "id_a")
        .join(hb, "id_b")
        .select("id_a", "id_b", hamming.cast("long").alias("hamming"))
        .filter(F.col("hamming") <= max_distance)
    )
