"""Perceptual media near-dup lanes (image/audio/video) — split out of queries/selection.py in round 12
(verdict item 5). The registry (selection.QUERIES / selection.ORACLE)
and its query order are unchanged: selection imports only the query
functions and oracles it registers, so import every other name from
this module. Lane bodies are moved
VERBATIM — the full-sweep manifest gate pins value-hash equality."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.vectors import cosine
from ..sources.readers import load_table as t
from .vector import _embeddings, _query_vector

# ---- perceptual-hash image near-dup (round 9) ----
#
# The image corpus is generated IN the lane (like multimodal_images):
# groups of 4 consecutive doc_ids share one base image; members 1-3
# perturb exactly one 8x8 block, moving the dHash by <= 4 bits (each
# changed cell touches at most its left and right gradient bit). Cell
# luminance rides a 2-round xorshift-interleaved 31-bit LCG mixer —
# pure int64 arithmetic both engines compute exactly, with enough
# avalanche that distinct groups land ~28 bits apart (a plain LCG or
# multiplicative hash leaves shift-lattice structure that made distinct
# groups collide at hamming <= 4; measured before this mixer was
# chosen). The Spark side never touches the formula after ENCODE: real
# BMP bytes are encoded, decoded, block-mean downsampled, and gradient
# -signed by the phash kernel — the oracle recomputes the expected
# hashes analytically and replays the same banded join, so a hash
# match proves the full encode -> decode -> downsample -> pack -> LSH
# pipeline preserved every luminance comparison.
PHASH_GROUP = 4          # docs per duplicate family
PHASH_MAXDIST = 4        # Hamming threshold (< bands=8: pigeonhole-exact)
_PHASH_MIX_SQL = """
mix1 AS (
  SELECT *, ((k * 64 + i + 12345) % 2147483648 * 1103515245 + 12345)
            % 2147483648 AS s1
  FROM cells
),
mix2 AS (SELECT *, xor(s1, s1 >> 16) AS s2 FROM mix1),
mix3 AS (SELECT *, (s2 * 65539 + 1013904223) % 2147483648 AS s3 FROM mix2),
mixed AS (SELECT doc_id, r, c, i, k, m, xor(s3, s3 >> 13) AS s4 FROM mix3)
"""


def _phash_cells(doc_id: int):
    """The shared analytic pixel formula: 8x8 block luminances for one
    doc — numpy int64, exactly what ORACLE_IMAGE_PHASH computes in SQL."""
    import numpy as np

    m31 = 2147483648
    g, m = doc_id // PHASH_GROUP, doc_id % PHASH_GROUP
    k = (g * 8191 + 2999) % 100003
    i = np.arange(64, dtype=np.int64)
    s1 = ((k * 64 + i + 12345) % m31 * 1103515245 + 12345) % m31
    s2 = s1 ^ (s1 >> 16)
    s3 = (s2 * 65539 + 1013904223) % m31
    v = 20 + (s3 ^ (s3 >> 13)) % 199
    if m > 0:
        p = (k + 17 * m) % 64
        v = v.copy()
        v[p] = v[p] + 80 if v[p] < 120 else v[p] - 80
    return v.reshape(8, 8)


def dedup_image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual near-duplicate image pairs (operators/phash.py): real
    64x64 BMP encode (mapInPandas) -> real decode + block-mean dHash
    (mapInPandas, numpy) -> banded LSH Hamming join (JVM bit ops).
    Returns (doc_a, doc_b, hamming <= 4). The reference has no image
    dedup; this is the multimodal-corpus operator the training-data
    ladder needs (same cheap-filter->exact-verify shape as MinHash/
    SimHash/edit-distance)."""
    from ..operators.multimodal import encode_bmp
    from ..operators.phash import dhash_media, hamming_near_pairs

    docs = t(spark, sf_dir, "documents").select("doc_id")

    def _encode(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            media = []
            for did in pdf["doc_id"]:
                cells = _phash_cells(int(did)).astype(np.uint8)
                px = np.repeat(np.repeat(cells, 8, 0), 8, 1)  # 64x64 gray
                buf = np.repeat(px[:, :, None], 3, 2)  # B=G=R
                media.append(encode_bmp(64, 64, buf.tobytes()))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "media": media})

    media = docs.repartition(
        spark.sparkContext.defaultParallelism
    ).mapInPandas(_encode, "doc_id long, media binary")
    hashes = dhash_media(media)
    # multi-probe posture (4x14-bit bands, r=1): same exact recall at
    # d=4 as 8x7-bit bands (pigeonhole: d < bands*(r+1)) but collision
    # candidates scale with the 2^14 bucket space instead of 2^7 —
    # measured ~19x faster at 10x docs (experiments/media_dedup_scale)
    pairs = hamming_near_pairs(
        hashes, max_distance=PHASH_MAXDIST, bands=4, probe_radius=1
    )
    return pairs.select(
        F.col("id_a").alias("doc_a"),
        F.col("id_b").alias("doc_b"),
        "hamming",
    )


# The oracle recomputes each doc's 56-bit dHash analytically from the
# pixel formula (block means are exact: blocks are constant), then runs
# the SAME banded join — subquadratic on both engines, so amplified
# sweeps stay viable.
ORACLE_IMAGE_PHASH = f"""
WITH grid AS (SELECT r.range AS r, c.range AS c FROM range(8) r, range(8) c),
cells AS (
  SELECT d.doc_id, g.r, g.c, g.r * 8 + g.c AS i,
         ((d.doc_id // {PHASH_GROUP}) * 8191 + 2999) % 100003 AS k,
         d.doc_id % {PHASH_GROUP} AS m
  FROM documents d, grid g
),
{_PHASH_MIX_SQL},
vals AS (
  SELECT doc_id, r, c,
    CASE WHEN m > 0 AND i = (k + 17 * m) % 64 THEN
      CASE WHEN 20 + s4 % 199 < 120
           THEN 20 + s4 % 199 + 80 ELSE 20 + s4 % 199 - 80 END
    ELSE 20 + s4 % 199 END AS v
  FROM mixed
),
bits AS (
  SELECT a.doc_id, a.r * 7 + a.c AS bit_idx
  FROM vals a JOIN vals b
    ON b.doc_id = a.doc_id AND b.r = a.r AND b.c = a.c + 1
  WHERE a.c < 7 AND a.v > b.v
),
hashes AS (
  SELECT d.doc_id, COALESCE(SUM(1::BIGINT << bit_idx), 0) AS phash
  FROM documents d LEFT JOIN bits USING (doc_id)
  GROUP BY d.doc_id
),
bb AS (
  SELECT doc_id, phash, b.range AS band,
         (phash >> (b.range * 7)) & 127 AS band_val
  FROM hashes, range(8) b
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bb a JOIN bb b
    ON a.band = b.band AND a.band_val = b.band_val AND a.doc_id < b.doc_id
)
SELECT c.doc_a, c.doc_b,
       CAST(bit_count(xor(ha.phash, hb.phash)) AS BIGINT) AS hamming
FROM cand c
JOIN hashes ha ON ha.doc_id = c.doc_a
JOIN hashes hb ON hb.doc_id = c.doc_b
WHERE bit_count(xor(ha.phash, hb.phash)) <= {PHASH_MAXDIST}
"""


# ---- audio-fingerprint near-dup (round 9) ----
#
# Sibling of dedup_image_phash on the audio column: groups of 4
# consecutive doc_ids share one clip (57 constant-amplitude blocks of
# 32 mono PCM-16 samples, amplitudes from the same xorshift mixer with
# audio-lane salts); members 1-3 perturb one block's amplitude, moving
# the 56-bit energy-sign fingerprint by <= 4 bits. The Spark side
# encodes real RIFF/WAVE bytes, decodes them, and fingerprints the
# actual PCM (operators/audio_fp.py); candidates ride the SAME
# hamming_near_pairs operator the image lane uses. The oracle
# recomputes the expected fingerprints analytically (block energies
# are exact: blocks are constant) and replays the banded join.
AFP_GROUP = 4
AFP_MAXDIST = 4
AFP_BLOCK_SAMPLES = 32


def _afp_amplitudes(doc_id: int):
    """Shared analytic amplitude formula: 57 block amplitudes for one
    doc — numpy int64, exactly what ORACLE_AUDIO_FP computes in SQL."""
    import numpy as np

    m31 = 2147483648
    g, m = doc_id // AFP_GROUP, doc_id % AFP_GROUP
    k = (g * 7919 + 4241) % 100003
    j = np.arange(57, dtype=np.int64)
    s1 = ((k * 57 + j + 12345) % m31 * 1103515245 + 12345) % m31
    s2 = s1 ^ (s1 >> 16)
    s3 = (s2 * 65539 + 1013904223) % m31
    a = 100 + (s3 ^ (s3 >> 13)) % 19997
    if m > 0:
        p = (k + 13 * m) % 57
        a = a.copy()
        a[p] = a[p] + 5000 if a[p] < 12000 else a[p] - 5000
    return a


def dedup_audio_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptually-near-duplicate audio pairs (operators/audio_fp.py):
    real RIFF/WAVE encode (mapInPandas) -> real PCM decode + block-
    energy sign fingerprint (mapInPandas, numpy) -> the image lane's
    banded LSH Hamming join. Returns (doc_a, doc_b, hamming <= 4)."""
    from ..operators.audio import encode_wav
    from ..operators.audio_fp import fingerprint_media
    from ..operators.phash import hamming_near_pairs

    docs = t(spark, sf_dir, "documents").select("doc_id")

    def _encode(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            media = []
            for did in pdf["doc_id"]:
                amps = _afp_amplitudes(int(did))
                pcm = np.repeat(amps, AFP_BLOCK_SAMPLES).astype("<i2")
                media.append(
                    encode_wav(len(pcm), 8000, pcm.tobytes())
                )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "media": media})

    media = docs.repartition(
        spark.sparkContext.defaultParallelism
    ).mapInPandas(_encode, "doc_id long, media binary")
    fps = fingerprint_media(media)
    # same multi-probe posture as the image lane (see there)
    pairs = hamming_near_pairs(
        fps, hash_col="afp", max_distance=AFP_MAXDIST,
        bands=4, probe_radius=1,
    )
    return pairs.select(
        F.col("id_a").alias("doc_a"),
        F.col("id_b").alias("doc_b"),
        "hamming",
    )


def dedup_image_phash_resized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Thumbnail-stability composition: the SAME corpus as
    ``dedup_image_phash`` encoded at 128x128 (16-px blocks), pushed
    through the REAL resize kernel (operators/multimodal.py:
    resize_media — decode, nearest-neighbor resample, re-encode) down
    to 64x64 thumbnails, then hashed and joined identically. Block
    structure makes the resample exact, so this lane carries the SAME
    ORACLE as the direct lane — the driver itself verifies that
    dedup survives the thumbnail pipeline bit-for-bit (the
    dedup_editdistance_collapsed two-plans-one-oracle precedent)."""
    from ..operators.multimodal import encode_bmp, resize_media
    from ..operators.phash import dhash_media, hamming_near_pairs

    docs = t(spark, sf_dir, "documents").select("doc_id")

    def _encode(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            media = []
            for did in pdf["doc_id"]:
                cells = _phash_cells(int(did)).astype(np.uint8)
                px = np.repeat(np.repeat(cells, 16, 0), 16, 1)  # 128x128
                buf = np.repeat(px[:, :, None], 3, 2)
                media.append(encode_bmp(128, 128, buf.tobytes()))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "media": media})

    media = docs.repartition(
        spark.sparkContext.defaultParallelism
    ).mapInPandas(_encode, "doc_id long, media binary")
    thumbs = resize_media(media, 64, 64)
    hashes = dhash_media(thumbs)
    pairs = hamming_near_pairs(
        hashes, max_distance=PHASH_MAXDIST, bands=4, probe_radius=1
    )
    return pairs.select(
        F.col("id_a").alias("doc_a"),
        F.col("id_b").alias("doc_b"),
        "hamming",
    )


# ---- video clip near-dup (round 9) ----
#
# Completes the media-dedup triad on the video column: groups of 4
# consecutive doc_ids share one 6-frame animated GIF89a clip (32x32,
# 8x8 grid of 4x4 blocks, luminances on the WEB-SAFE 6-level grid so
# the GIF palette quantization is exactly the identity and the oracle
# stays analytic); member m scrambles its first m frames entirely
# (distinct salts — the re-edit scenario), so temporally-aligned
# matching-frame counts are 6-max(m1,m2) by construction: rep-member
# pairs score 5/4/3, member-member 4/3/3, and the min_frames=4 gate
# keeps exactly 3 pairs per family (planted hist: 125x5, 250x4 at
# sf0.01). The Spark side really encodes/decodes the animated GIF
# (LZW both directions) and hashes actual composited frames; the
# oracle recomputes frame hashes analytically and replays the same
# frame-keyed multi-probe banded join.
VIDEO_FRAMES = 6
VIDEO_MIN_FRAMES = 4
VIDEO_FRAME_DIST = 4


def _video_levels(doc_id: int, frame: int):
    """Shared analytic 6-level luminance formula for one frame."""
    import numpy as np

    m31 = 2147483648
    g, m = doc_id // PHASH_GROUP, doc_id % PHASH_GROUP
    k = (g * 5407 + 7573) % 100003
    i = np.arange(64, dtype=np.int64)
    if m > 0 and frame < m:
        x = k * 1536 + m * 100000000 + frame * 256 + i
    else:
        x = k * 1536 + frame * 256 + i
    s1 = ((x + 12345) % m31 * 1103515245 + 12345) % m31
    s2 = s1 ^ (s1 >> 16)
    s3 = (s2 * 65539 + 1013904223) % m31
    return (s3 ^ (s3 >> 13)) % 6


def dedup_video_clips(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate video clips (operators/video_fp.py): real
    animated-GIF encode (mapInPandas, LZW) -> real frame decode +
    per-frame dHash -> temporally-aligned multi-probe Hamming join ->
    matching-frame count gate. Returns (doc_a, doc_b,
    matching_frames >= 4 of 6)."""
    from ..operators.gif import encode_gif_animation
    from ..operators.video_fp import clip_near_pairs, frame_hashes

    docs = t(spark, sf_dir, "documents").select("doc_id")

    def _encode(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            media = []
            for did in pdf["doc_id"]:
                frames = []
                for f in range(VIDEO_FRAMES):
                    cells = (51 * _video_levels(int(did), f)).astype(
                        np.uint8
                    ).reshape(8, 8)
                    px = np.repeat(np.repeat(cells, 4, 0), 4, 1)
                    frames.append(
                        np.repeat(px[:, :, None], 3, 2).tobytes()
                    )
                media.append(encode_gif_animation(frames, 32, 32))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "media": media})

    media = docs.repartition(
        spark.sparkContext.defaultParallelism
    ).mapInPandas(_encode, "doc_id long, media binary")
    fh = frame_hashes(media)
    pairs = clip_near_pairs(
        fh,
        frame_distance=VIDEO_FRAME_DIST,
        min_frames=VIDEO_MIN_FRAMES,
        bands=4,
        probe_radius=1,
    )
    return pairs.select(
        F.col("id_a").alias("doc_a"),
        F.col("id_b").alias("doc_b"),
        "matching_frames",
    )


_VID_FLIPS = ", ".join(str(1 << j) for j in range(14))
ORACLE_VIDEO_CLIPS = f"""
WITH fr AS (SELECT range AS f FROM range({VIDEO_FRAMES})),
grid AS (SELECT r.range AS r, c.range AS c FROM range(8) r, range(8) c),
cells AS (
  SELECT d.doc_id, fr.f, g.r, g.c, g.r * 8 + g.c AS i,
         ((d.doc_id // {PHASH_GROUP}) * 5407 + 7573) % 100003 AS k,
         d.doc_id % {PHASH_GROUP} AS m
  FROM documents d, fr, grid g
),
args AS (
  SELECT *, CASE WHEN m > 0 AND f < m
                 THEN k * 1536 + m * 100000000 + f * 256 + i
                 ELSE k * 1536 + f * 256 + i END AS x
  FROM cells
),
mix1 AS (
  SELECT *, ((x + 12345) % 2147483648 * 1103515245 + 12345)
            % 2147483648 AS s1
  FROM args
),
mix2 AS (SELECT *, xor(s1, s1 >> 16) AS s2 FROM mix1),
mix3 AS (SELECT *, (s2 * 65539 + 1013904223) % 2147483648 AS s3 FROM mix2),
vals AS (
  SELECT doc_id, f, r, c, 51 * (xor(s3, s3 >> 13) % 6) AS v FROM mix3
),
bits AS (
  SELECT a.doc_id, a.f, a.r * 7 + a.c AS bit_idx
  FROM vals a JOIN vals b
    ON b.doc_id = a.doc_id AND b.f = a.f AND b.r = a.r AND b.c = a.c + 1
  WHERE a.c < 7 AND a.v > b.v
),
base AS (SELECT d.doc_id, fr.f FROM documents d, fr),
hashes AS (
  SELECT base.doc_id, base.f,
         COALESCE(SUM(1::BIGINT << bit_idx), 0) AS fhash
  FROM base LEFT JOIN bits
    ON bits.doc_id = base.doc_id AND bits.f = base.f
  GROUP BY base.doc_id, base.f
),
bb AS (
  SELECT doc_id, f, fhash, b.range AS band,
         (fhash >> (b.range * 14)) & 16383 AS band_val
  FROM hashes, range(4) b
),
pr AS (
  SELECT doc_id, f, band, xor(band_val, fl) AS band_val
  FROM bb, unnest([0, {_VID_FLIPS}]) AS t(fl)
),
cand AS (
  SELECT DISTINCT x.f, least(x.doc_id, y.doc_id) AS doc_a,
                  greatest(x.doc_id, y.doc_id) AS doc_b
  FROM pr x JOIN bb y
    ON x.f = y.f AND x.band = y.band AND x.band_val = y.band_val
   AND x.doc_id <> y.doc_id
),
matched AS (
  SELECT c.doc_a, c.doc_b, c.f
  FROM cand c
  JOIN hashes a ON a.doc_id = c.doc_a AND a.f = c.f
  JOIN hashes b ON b.doc_id = c.doc_b AND b.f = c.f
  WHERE bit_count(xor(a.fhash, b.fhash)) <= {VIDEO_FRAME_DIST}
)
SELECT doc_a, doc_b, COUNT(*) AS matching_frames
FROM matched
GROUP BY doc_a, doc_b
HAVING COUNT(*) >= {VIDEO_MIN_FRAMES}
"""


# ---- 240-bit wide-hash image near-dup (round 9) ----
#
# The billion-image posture measured in experiments/media_dedup_scale:
# past ~10^5 docs any 56-bit banding drowns in same-bucket collision
# mass, so the wide variant hashes a 16x16 grid into 240 bits packed
# as 4x60-bit words — 8x30-bit bands + radius-1 probing guarantee
# d <= 15 recall with 2^30 bucket space (zero background collisions:
# the bucket census on this corpus maxes at the family size). Same
# group-of-4 corpus construction, wide-lane salts.
PHASH_WIDE_MAXDIST = 15


def _phash_wide_cells(doc_id: int):
    """16x16 block luminances — the wide lane's analytic formula."""
    import numpy as np

    m31 = 2147483648
    g, m = doc_id // PHASH_GROUP, doc_id % PHASH_GROUP
    k = (g * 6991 + 5557) % 100003
    i = np.arange(256, dtype=np.int64)
    s1 = ((k * 256 + i + 12345) % m31 * 1103515245 + 12345) % m31
    s2 = s1 ^ (s1 >> 16)
    s3 = (s2 * 65539 + 1013904223) % m31
    v = 20 + (s3 ^ (s3 >> 13)) % 199
    if m > 0:
        p = (k + 29 * m) % 256
        v = v.copy()
        v[p] = v[p] + 80 if v[p] < 120 else v[p] - 80
    return v.reshape(16, 16)


def dedup_image_phash_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """240-bit wide-hash image near-dup (operators/phash.py:
    dhash_media_wide + hamming_near_pairs_wide): real 64x64 BMPs on a
    16x16 grid, 4x60-bit word hashes, 8x30-bit bands with radius-1
    multi-probe, sum-of-bit_count verify. Runs the 100 TB posture
    DECLARED (round-10 verdict item 1): probe_prefilter="broadcast"
    semi-joins each probed band variant against the distinct index
    bucket set before the candidate shuffle — recall-LOSSLESS (it only
    drops variants that cannot join; output identity pinned in
    tests/test_phash.py), so the oracle is unchanged and the posture
    now rides the correctness gate instead of living only in
    experiments. Returns (doc_a, doc_b, hamming <= 15)."""
    from ..operators.multimodal import encode_bmp
    from ..operators.phash import dhash_media_wide, hamming_near_pairs_wide

    docs = t(spark, sf_dir, "documents").select("doc_id")

    def _encode(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            media = []
            for did in pdf["doc_id"]:
                cells = _phash_wide_cells(int(did)).astype(np.uint8)
                px = np.repeat(np.repeat(cells, 4, 0), 4, 1)  # 64x64 gray
                buf = np.repeat(px[:, :, None], 3, 2)
                media.append(encode_bmp(64, 64, buf.tobytes()))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "media": media})

    media = docs.repartition(
        spark.sparkContext.defaultParallelism
    ).mapInPandas(_encode, "doc_id long, media binary")
    hashes = dhash_media_wide(media)
    pairs = hamming_near_pairs_wide(
        hashes,
        max_distance=PHASH_WIDE_MAXDIST,
        probe_radius=1,
        probe_prefilter="broadcast",
    )
    return pairs.select(
        F.col("id_a").alias("doc_a"),
        F.col("id_b").alias("doc_b"),
        "hamming",
    )


def dedup_image_phash_wide_bloom(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The BILLION-IMAGE posture of the wide lane: probe_prefilter=
    "bloom" — a k=1 Bloom word table over the index bucket set
    (broadcast as sparse int64 words) probed map-side, for when even
    the distinct bucket set outgrows the exact broadcast. False
    positives only re-admit fan rows the join then drops, never a
    false negative — recall-LOSSLESS, so the oracle is the identical
    ORACLE_IMAGE_PHASH_WIDE."""
    from ..operators.multimodal import encode_bmp
    from ..operators.phash import dhash_media_wide, hamming_near_pairs_wide

    docs = t(spark, sf_dir, "documents").select("doc_id")

    def _encode(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            media = []
            for did in pdf["doc_id"]:
                cells = _phash_wide_cells(int(did)).astype(np.uint8)
                px = np.repeat(np.repeat(cells, 4, 0), 4, 1)
                buf = np.repeat(px[:, :, None], 3, 2)
                media.append(encode_bmp(64, 64, buf.tobytes()))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "media": media})

    media = docs.repartition(
        spark.sparkContext.defaultParallelism
    ).mapInPandas(_encode, "doc_id long, media binary")
    hashes = dhash_media_wide(media)
    pairs = hamming_near_pairs_wide(
        hashes,
        max_distance=PHASH_WIDE_MAXDIST,
        probe_radius=1,
        probe_prefilter="bloom",
    )
    return pairs.select(
        F.col("id_a").alias("doc_a"),
        F.col("id_b").alias("doc_b"),
        "hamming",
    )


# The oracle packs the same 240 analytic bits into 4 words and replays
# the multi-probe banded join (31 variants per 30-bit band — same
# pigeonhole contract, so both engines are exact at d <= 15).
_WIDE_FLIPS = ", ".join(str(1 << j) for j in range(30))
ORACLE_IMAGE_PHASH_WIDE = f"""
WITH grid AS (SELECT r.range AS r, c.range AS c FROM range(16) r, range(16) c),
cells AS (
  SELECT d.doc_id, g.r, g.c, g.r * 16 + g.c AS i,
         ((d.doc_id // {PHASH_GROUP}) * 6991 + 5557) % 100003 AS k,
         d.doc_id % {PHASH_GROUP} AS m
  FROM documents d, grid g
),
mix1 AS (
  SELECT *, ((k * 256 + i + 12345) % 2147483648 * 1103515245 + 12345)
            % 2147483648 AS s1
  FROM cells
),
mix2 AS (SELECT *, xor(s1, s1 >> 16) AS s2 FROM mix1),
mix3 AS (SELECT *, (s2 * 65539 + 1013904223) % 2147483648 AS s3 FROM mix2),
mixed AS (SELECT doc_id, r, c, i, k, m, xor(s3, s3 >> 13) AS s4 FROM mix3),
vals AS (
  SELECT doc_id, r, c,
    CASE WHEN m > 0 AND i = (k + 29 * m) % 256 THEN
      CASE WHEN 20 + s4 % 199 < 120
           THEN 20 + s4 % 199 + 80 ELSE 20 + s4 % 199 - 80 END
    ELSE 20 + s4 % 199 END AS v
  FROM mixed
),
bits AS (
  SELECT a.doc_id, a.r * 15 + a.c AS bit_idx
  FROM vals a JOIN vals b
    ON b.doc_id = a.doc_id AND b.r = a.r AND b.c = a.c + 1
  WHERE a.c < 15 AND a.v > b.v
),
hashes AS (
  SELECT d.doc_id,
    COALESCE(SUM(CASE WHEN bit_idx // 60 = 0
                      THEN 1::BIGINT << (bit_idx % 60) END), 0) AS w0,
    COALESCE(SUM(CASE WHEN bit_idx // 60 = 1
                      THEN 1::BIGINT << (bit_idx % 60) END), 0) AS w1,
    COALESCE(SUM(CASE WHEN bit_idx // 60 = 2
                      THEN 1::BIGINT << (bit_idx % 60) END), 0) AS w2,
    COALESCE(SUM(CASE WHEN bit_idx // 60 = 3
                      THEN 1::BIGINT << (bit_idx % 60) END), 0) AS w3
  FROM documents d LEFT JOIN bits USING (doc_id)
  GROUP BY d.doc_id
),
bb AS (
  SELECT doc_id, b.range AS band,
         (CASE b.range // 2 WHEN 0 THEN w0 WHEN 1 THEN w1
                            WHEN 2 THEN w2 ELSE w3 END
          >> (30 * (b.range % 2))) & 1073741823 AS band_val
  FROM hashes, range(8) b
),
pr AS (
  SELECT doc_id, band, xor(band_val, f) AS band_val
  FROM bb, unnest([0, {_WIDE_FLIPS}]) AS t(f)
),
cand AS (
  SELECT DISTINCT least(x.doc_id, y.doc_id) AS doc_a,
                  greatest(x.doc_id, y.doc_id) AS doc_b
  FROM pr x JOIN bb y
    ON x.band = y.band AND x.band_val = y.band_val
   AND x.doc_id <> y.doc_id
)
SELECT c.doc_a, c.doc_b,
       (CAST(bit_count(xor(a.w0, b.w0)) AS BIGINT)
      + CAST(bit_count(xor(a.w1, b.w1)) AS BIGINT)
      + CAST(bit_count(xor(a.w2, b.w2)) AS BIGINT)
      + CAST(bit_count(xor(a.w3, b.w3)) AS BIGINT)) AS hamming
FROM cand c
JOIN hashes a ON a.doc_id = c.doc_a
JOIN hashes b ON b.doc_id = c.doc_b
WHERE CAST(bit_count(xor(a.w0, b.w0)) AS BIGINT)
    + CAST(bit_count(xor(a.w1, b.w1)) AS BIGINT)
    + CAST(bit_count(xor(a.w2, b.w2)) AS BIGINT)
    + CAST(bit_count(xor(a.w3, b.w3)) AS BIGINT)
   <= {PHASH_WIDE_MAXDIST}
"""


ORACLE_AUDIO_FP = f"""
WITH grid AS (SELECT range AS j FROM range(57)),
cells AS (
  SELECT d.doc_id, g.j,
         ((d.doc_id // {AFP_GROUP}) * 7919 + 4241) % 100003 AS k,
         d.doc_id % {AFP_GROUP} AS m
  FROM documents d, grid g
),
mix1 AS (
  SELECT *, ((k * 57 + j + 12345) % 2147483648 * 1103515245 + 12345)
            % 2147483648 AS s1
  FROM cells
),
mix2 AS (SELECT *, xor(s1, s1 >> 16) AS s2 FROM mix1),
mix3 AS (SELECT *, (s2 * 65539 + 1013904223) % 2147483648 AS s3 FROM mix2),
mixed AS (
  SELECT doc_id, j, k, m, 100 + xor(s3, s3 >> 13) % 19997 AS a0 FROM mix3
),
vals AS (
  SELECT doc_id, j,
    CASE WHEN m > 0 AND j = (k + 13 * m) % 57 THEN
      CASE WHEN a0 < 12000 THEN a0 + 5000 ELSE a0 - 5000 END
    ELSE a0 END AS a
  FROM mixed
),
bits AS (
  SELECT x.doc_id, x.j AS bit_idx
  FROM vals x JOIN vals y ON y.doc_id = x.doc_id AND y.j = x.j + 1
  WHERE x.j < 56 AND x.a * x.a > y.a * y.a
),
hashes AS (
  SELECT d.doc_id, COALESCE(SUM(1::BIGINT << bit_idx), 0) AS afp
  FROM documents d LEFT JOIN bits USING (doc_id)
  GROUP BY d.doc_id
),
bb AS (
  SELECT doc_id, afp, b.range AS band,
         (afp >> (b.range * 7)) & 127 AS band_val
  FROM hashes, range(8) b
),
cand AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM bb x JOIN bb y
    ON x.band = y.band AND x.band_val = y.band_val AND x.doc_id < y.doc_id
)
SELECT c.doc_a, c.doc_b,
       CAST(bit_count(xor(ha.afp, hb.afp)) AS BIGINT) AS hamming
FROM cand c
JOIN hashes ha ON ha.doc_id = c.doc_a
JOIN hashes hb ON hb.doc_id = c.doc_b
WHERE bit_count(xor(ha.afp, hb.afp)) <= {AFP_MAXDIST}
"""
