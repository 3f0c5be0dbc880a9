"""Multimodal (binary) column operators (north-star, SURVEY.md §2.11d).

The reference carries image columns only as URLs in its declared models
(the reference's ``models/model.py:10,19`` image_url/cover_image_url;
the raw playlist JSON has ``images[]``). A 100 TB training-data lake
carries the media itself: an opaque ``binary`` column plus a typed
metadata struct, with decode / feature-extraction running as
Arrow-batched Python over ``mapInPandas``.

The codec is REAL for three formats: uncompressed 24-bit BMP
(``encode_bmp``, stdlib ``struct``), truecolor 8-bit PNG
(``encode_png`` / ``decode_png``, stdlib ``zlib`` — real chunk CRCs,
real DEFLATE stream, filter-aware decode covering all five PNG filter
types), and baseline JPEG (``operators/jpeg.py`` — pure-numpy DCT +
Annex K Huffman entropy coding, 4:4:4/4:2:0, restart markers). Resize
is true nearest-neighbor resampling over the decoded pixel grid for
all three. Progressive JPEG / arithmetic coding raise
``NotImplementedError`` at the same seam — swap in PIL/torchvision
there in a real deployment. A legacy deterministic fake
(``IMG:<w>:<h>:`` header + 16-byte payload) still parses and resizes
as a fallback.

The PNG encoder emits zlib level-0 (stored) IDAT blocks, so the exact
file size is a closed-form function of (width, height) — which is what
lets the DuckDB oracle recompute ``n_bytes`` analytically and the hash
gate prove the bytes really are well-formed PNGs.

Scale notes: mapInPandas streams Arrow batches — memory is bounded by
batch size regardless of table size, the right lane for per-item C
decoders (PIL/ffmpeg) that are per-row calls anyway. Decode early,
project metadata, and drop the binary column before any shuffle: bytes
travel at most once (scan -> decode), never through an exchange.
"""

from __future__ import annotations

import struct
import zlib
from collections.abc import Iterator
from typing import NamedTuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_MAGIC = "IMG"

BMP_HEADER_BYTES = 54  # BITMAPFILEHEADER (14) + BITMAPINFOHEADER (40)


def bmp_row_bytes(width: int) -> int:
    """Bytes per stored BMP row: 3 bytes/pixel padded to 4-byte
    alignment — the file-format fact the analytic oracle reuses."""
    return (3 * width + 3) & ~3


def encode_bmp(width: int, height: int, payload: bytes) -> bytes:
    """A REAL uncompressed 24-bit BMP file (stdlib ``struct`` only):
    BITMAPFILEHEADER + BITMAPINFOHEADER + bottom-up BGR rows padded to
    4-byte alignment. ``payload`` fills the pixel buffer (repeated /
    truncated to 3*width*height bytes), so passing an exactly-sized
    buffer round-trips pixels bit-for-bit."""
    if width <= 0 or height <= 0:
        raise ValueError(f"invalid BMP dimensions {width}x{height}")
    if not payload:
        raise ValueError("BMP payload must be non-empty")
    import numpy as np

    stride = 3 * width
    row = bmp_row_bytes(width)
    size = BMP_HEADER_BYTES + row * height
    file_header = b"BM" + struct.pack("<IHHI", size, 0, 0, BMP_HEADER_BYTES)
    info_header = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, row * height,
        2835, 2835, 0, 0,
    )
    pix = (payload * (stride * height // len(payload) + 1))[: stride * height]
    # vectorized row layout: rows reversed (positive biHeight = bottom-up
    # storage, the canonical layout) and padded to 4-byte alignment
    rows = np.zeros((height, row), dtype=np.uint8)
    rows[:, :stride] = np.frombuffer(pix, dtype=np.uint8).reshape(height, stride)[
        ::-1
    ]
    return file_header + info_header + rows.tobytes()


PNG_SIG = b"\x89PNG\r\n\x1a\n"
JPEG_SIG = b"\xff\xd8"


def _png_chunk(tag: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + tag
        + data
        + struct.pack(">I", zlib.crc32(tag + data))
    )


def encode_png(width: int, height: int, payload: bytes) -> bytes:
    """A REAL truecolor 8-bit PNG file (stdlib ``zlib`` only): proper
    signature, IHDR/IDAT/IEND chunks with CRC32s, filter byte 0 per
    scanline, and a genuine zlib stream — level 0 (stored blocks) so
    the output size is deterministic and closed-form: 8 (signature) +
    25 (IHDR) + 12 + idat + 12 (IEND), idat = 2 + 5 per stored block +
    height * (1 + 3*width) + 4.
    ``payload`` fills the RGB pixel buffer (repeated / truncated), so an
    exactly-sized buffer round-trips pixels bit-for-bit."""
    if width <= 0 or height <= 0:
        raise ValueError(f"invalid PNG dimensions {width}x{height}")
    if not payload:
        raise ValueError("PNG payload must be non-empty")
    import numpy as np

    stride = 3 * width
    pix = (payload * (stride * height // len(payload) + 1))[: stride * height]
    # scanlines: one filter byte (0 = None) + raw RGB per row
    rows = np.zeros((height, 1 + stride), dtype=np.uint8)
    rows[:, 1:] = np.frombuffer(pix, dtype=np.uint8).reshape(height, stride)
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    idat = zlib.compress(rows.tobytes(), 0)
    return (
        PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", idat)
        + _png_chunk(b"IEND", b"")
    )


def _png_unfilter(raw: bytes, width: int, height: int, bpp: int = 3) -> bytes:
    """Reverse PNG scanline filtering (all five filter types) for
    ``bpp`` bytes per pixel (3 = truecolor, 1 = palette indices).

    Filter 0 (what ``encode_png`` writes) is the vectorized fast path;
    Sub/Up/Average/Paeth reconstruct per the spec for externally
    produced files. Up is vectorized; Sub/Average/Paeth carry an
    in-row sequential dependency, so they run as scalar loops - decode
    of foreign filtered files, not the hot lane."""
    import numpy as np

    stride = bpp * width
    if len(raw) != height * (1 + stride):
        raise ValueError("PNG pixel stream length mismatch")
    arr = np.frombuffer(raw, dtype=np.uint8).reshape(height, 1 + stride)
    if (arr[:, 0] == 0).all():
        return arr[:, 1:].tobytes()
    out = np.zeros((height, stride), dtype=np.uint8)
    for y in range(height):
        ft = int(arr[y, 0])
        line = arr[y, 1:].astype(np.int32)
        prev = out[y - 1].astype(np.int32) if y else np.zeros(stride, np.int32)
        if ft == 0:
            pass
        elif ft == 1:  # Sub
            for i in range(bpp, stride):
                line[i] = (line[i] + line[i - bpp]) & 255
        elif ft == 2:  # Up
            line = (line + prev) & 255
        elif ft == 3:  # Average
            for i in range(stride):
                a = line[i - bpp] if i >= bpp else 0
                line[i] = (line[i] + ((a + prev[i]) >> 1)) & 255
        elif ft == 4:  # Paeth
            for i in range(stride):
                a = line[i - bpp] if i >= bpp else 0
                b = int(prev[i])
                c = int(prev[i - bpp]) if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                line[i] = (line[i] + pr) & 255
        else:
            raise ValueError(f"unknown PNG filter type {ft}")
        out[y] = line.astype(np.uint8)
    return out.tobytes()


def decode_png(data: bytes) -> "DecodedImage":
    """REAL PNG decode (stdlib ``zlib``): walks the chunk stream,
    validates the IHDR contract, inflates the concatenated IDAT zlib
    stream, and reverses scanline filtering — all five filter types,
    every 8-bit color type (gray, gray+alpha, truecolor, truecolor+
    alpha, palette), both progressive layouts (sequential and Adam7
    interlaced). Alpha is dropped on decode (PIL ``convert("RGB")``
    semantics); 16-bit and sub-8-bit depths raise at the seam."""
    if data[: len(PNG_SIG)] != PNG_SIG:
        raise ValueError("not a PNG: bad signature")
    pos, width, height, idat = len(PNG_SIG), 0, 0, []
    ctype, plte, ilace = 2, b"", 0
    while pos + 8 <= len(data):
        (ln,) = struct.unpack_from(">I", data, pos)
        tag = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + ln]
        if len(body) != ln:
            raise ValueError("truncated PNG chunk")
        if tag == b"IHDR":
            width, height, depth, ctype, comp, filt, ilace = struct.unpack(
                ">IIBBBBB", body
            )
            if depth != 8 or ctype not in (0, 2, 3, 4, 6):
                raise NotImplementedError(
                    f"decode_png supports 8-bit gray/truecolor/palette/"
                    f"alpha only (got depth={depth}, color_type={ctype})"
                )
            if comp != 0 or filt != 0 or ilace not in (0, 1):
                raise NotImplementedError(
                    "decode_png: compression/filter method 0 only"
                )
        elif tag == b"PLTE":
            plte = body
        elif tag == b"IDAT":
            idat.append(body)
        elif tag == b"IEND":
            break
        pos += 12 + ln
    if not width or not idat:
        raise ValueError("PNG missing IHDR or IDAT")
    import numpy as np

    raw = zlib.decompress(b"".join(idat))
    bpp = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[ctype]
    if ilace:
        px = _png_deinterlace(raw, width, height, bpp)
    else:
        px = _png_unfilter(raw, width, height, bpp)
    arr = np.frombuffer(px, dtype=np.uint8).reshape(-1, bpp)
    if ctype == 3:
        if not plte or len(plte) % 3:
            raise ValueError("palette PNG missing/odd PLTE chunk")
        pal = np.frombuffer(plte, dtype=np.uint8).reshape(-1, 3)
        idx = arr[:, 0]
        if idx.max(initial=0) >= len(pal):
            raise ValueError("PNG palette index out of range")
        return DecodedImage(width, height, "RGB", pal[idx].tobytes())
    if ctype in (0, 4):  # grayscale (+alpha): replicate luma
        rgb = np.repeat(arr[:, :1], 3, axis=1)
    elif ctype == 6:  # truecolor+alpha: drop A
        rgb = arr[:, :3].copy()
    else:
        rgb = arr
    return DecodedImage(width, height, "RGB", rgb.tobytes())


# Adam7 pass geometry: (x0, y0, dx, dy) per pass
_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def _png_deinterlace(raw: bytes, width: int, height: int, bpp: int) -> bytes:
    """Adam7: the stream is 7 independently-filtered sub-images;
    unfilter each pass and scatter its pixels onto the full grid
    (vectorized numpy fancy-index per pass)."""
    import numpy as np

    out = np.zeros((height, width, bpp), dtype=np.uint8)
    pos = 0
    for x0, y0, dx, dy in _ADAM7:
        pw = (width - x0 + dx - 1) // dx
        ph = (height - y0 + dy - 1) // dy
        if pw <= 0 or ph <= 0:
            continue
        nbytes = ph * (1 + pw * bpp)
        sub = _png_unfilter(raw[pos : pos + nbytes], pw, ph, bpp)
        pos += nbytes
        pix = np.frombuffer(sub, dtype=np.uint8).reshape(ph, pw, bpp)
        out[y0::dy, x0::dx] = pix
    if pos != len(raw):
        raise ValueError("Adam7 PNG pixel stream length mismatch")
    return out.tobytes()


class DecodedImage(NamedTuple):
    """Decode result: dimensions plus the top-down unpadded BGR pixel
    buffer (3*width*height bytes)."""

    width: int
    height: int
    mode: str
    pixels: bytes


def decode_image(data: bytes) -> DecodedImage:
    """REAL image decode, dispatched on the file magic: uncompressed
    24-bit BMP (header parse, padding strip, bottom-up flip), truecolor
    8-bit PNG (zlib inflate + filter reversal), or baseline JPEG
    (pure-numpy Huffman + IDCT decode — ``operators/jpeg.py``).
    Progressive JPEG / other formats raise at this seam; everything
    around it (mapInPandas batching, schema, column flow) is
    format-agnostic."""
    if data[: len(PNG_SIG)] == PNG_SIG:
        return decode_png(data)
    if data[:2] == JPEG_SIG:
        from spotify_etl_aws_spark.operators.jpeg import decode_jpeg

        w, h, pixels = decode_jpeg(data)
        return DecodedImage(w, h, "RGB", pixels)
    if data[:4] == b"GIF8":
        from spotify_etl_aws_spark.operators.gif import decode_gif

        w, h, pixels = decode_gif(data)
        return DecodedImage(w, h, "RGB", pixels)
    if len(data) < 2 or data[:2] != b"BM":
        raise NotImplementedError(
            "decode_image implements uncompressed 24-bit BMP, truecolor "
            "8-bit PNG, baseline JPEG, and single-frame GIF; other "
            "formats need an imaging library (e.g. PIL) not present in "
            "this container"
        )
    if len(data) < BMP_HEADER_BYTES:
        raise ValueError("truncated BMP: missing headers")
    size, _, _, off = struct.unpack_from("<IHHI", data, 2)
    (hsz, width, biheight, planes, bpp, comp, _, _, _, _, _) = struct.unpack_from(
        "<IiiHHIIiiII", data, 14
    )
    if hsz < 40 or planes != 1:
        raise ValueError(f"unsupported BMP header (size={hsz}, planes={planes})")
    if bpp != 24 or comp != 0:
        raise NotImplementedError(
            f"decode_image supports uncompressed 24-bit BMP only "
            f"(got bpp={bpp}, compression={comp})"
        )
    height = abs(biheight)
    if width <= 0 or height == 0:
        raise ValueError(f"invalid BMP dimensions {width}x{biheight}")
    stride = 3 * width
    row = bmp_row_bytes(width)
    if len(data) < off + row * height:
        raise ValueError("truncated BMP: pixel array shorter than advertised")
    rows = [data[off + r * row : off + r * row + stride] for r in range(height)]
    if biheight > 0:  # bottom-up storage -> top-down buffer
        rows.reverse()
    return DecodedImage(width, height, "BGR", b"".join(rows))


def _parse_one(b: bytes) -> tuple[str, int, int, int]:
    """Per-item metadata extraction, dispatched on the actual bytes:
    real BMP header decode when the buffer is a BMP file (width/height
    read straight from the BITMAPINFOHEADER — metadata extraction does
    not build the pixel buffer, exactly like PIL's lazy open()), the
    PNG IHDR fields (fixed offset: first chunk per spec) for PNG bytes,
    the legacy fake header otherwise."""
    if b[:2] == b"BM":
        width, biheight = struct.unpack_from("<ii", b, 18)
        return "bmp", width, abs(biheight), len(b)
    if b[: len(PNG_SIG)] == PNG_SIG:
        width, height = struct.unpack_from(">II", b, 16)
        return "png", width, height, len(b)
    if b[:2] == JPEG_SIG:
        from spotify_etl_aws_spark.operators.jpeg import jpeg_dimensions

        width, height = jpeg_dimensions(b)
        return "jpeg", width, height, len(b)
    if b[:4] == b"GIF8":
        width, height = struct.unpack_from("<HH", b, 6)
        return "gif", width, height, len(b)
    magic, w, h, _ = b.split(b":", 3)
    return magic.decode("ascii").lower(), int(w), int(h), len(b)


def _encode_jpeg(width: int, height: int, payload: bytes) -> bytes:
    from spotify_etl_aws_spark.operators.jpeg import encode_jpeg

    return encode_jpeg(width, height, payload)


def _encode_jpeg_prog(width: int, height: int, payload: bytes) -> bytes:
    from spotify_etl_aws_spark.operators.jpeg import encode_jpeg_progressive

    return encode_jpeg_progressive(width, height, payload)


_ENCODERS = {
    "bmp": encode_bmp,
    "png": encode_png,
    "jpeg": _encode_jpeg,
    # progressive files still parse/report as media_type 'jpeg' — the
    # staged fmt only picks the encoder
    "jpeg_prog": _encode_jpeg_prog,
}


def encode_media(
    df: DataFrame,
    id_col: str = "doc_id",
    width_col: str = "width",
    height_col: str = "height",
    payload_col: str = "payload",
    fmt_col: str = "fmt",
) -> DataFrame:
    """Mixed-format media encode via mapInPandas: (id, width, height,
    payload, fmt) -> (id, media binary), dispatching per row on ``fmt``
    ('bmp' | 'png' | 'jpeg'), the per-item codec chosen by a column —
    the same Arrow-batched lane a PIL/ffmpeg encoder runs in, and the
    shape a real corpus has, where media formats are heterogeneous
    within one table."""
    schema = f"{id_col} bigint, media binary"

    def _encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "media": [
                        _ENCODERS[f](int(w), int(h), bytes(p))
                        for f, w, h, p in zip(
                            pdf[fmt_col],
                            pdf[width_col],
                            pdf[height_col],
                            pdf[payload_col],
                        )
                    ],
                }
            )

    return df.select(
        id_col, width_col, height_col, payload_col, fmt_col
    ).mapInPandas(_encode, schema=schema)


def with_media_meta(
    df: DataFrame, id_col: str = "doc_id", media_col: str = "media"
) -> DataFrame:
    """Decode media metadata out of the binary column via mapInPandas.

    Output: (id, media_type, width, height, n_bytes) — the binary column
    is dropped on the way out so downstream shuffles never carry bytes.
    The per-item parse mirrors how a real decoder runs (a C call per
    item inside an Arrow batch); header fields double as the "decoded"
    metadata.
    """
    schema = f"{id_col} bigint, media_type string, width int, height int, n_bytes int"

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            parsed = pdf[media_col].map(_parse_one)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "media_type": parsed.map(lambda t: t[0]),
                    "width": parsed.map(lambda t: t[1]),
                    "height": parsed.map(lambda t: t[2]),
                    "n_bytes": parsed.map(lambda t: t[3]),
                }
            )

    return df.select(id_col, media_col).mapInPandas(_decode, schema=schema)


def resize_media(
    df: DataFrame,
    width: int,
    height: int,
    id_col: str = "doc_id",
    media_col: str = "media",
) -> DataFrame:
    """Resize the media column to (width, height) — binary in, binary
    out, through the same codec seam as decode. BMP, PNG, JPEG, and
    GIF bytes get a
    REAL resize: decode -> nearest-neighbor resample over the pixel
    grid (numpy fancy indexing, the same arithmetic PIL's NEAREST
    uses) -> re-encode in the SOURCE format, so the output is a genuine
    image file of the target dimensions whose pixels come from the
    source image. Legacy fake bytes get the header rewritten and a
    payload derived deterministically from the original payload +
    target.

    Scale shape: bytes flow scan -> kernel -> (sink); the resized
    column comes back as ``binary`` for writing, never into a shuffle —
    join/aggregate on the METADATA frames instead."""
    import hashlib

    import numpy as np

    schema = f"{id_col} bigint, {media_col} binary"
    suffix = f":{width}x{height}".encode("ascii")
    header = b"%s:%d:%d:" % (MEDIA_MAGIC.encode("ascii"), width, height)

    def _resize_real(b: bytes, enc) -> bytes:
        img = decode_image(b)
        src = np.frombuffer(img.pixels, dtype=np.uint8).reshape(
            img.height, img.width, 3
        )
        yi = (np.arange(height) * img.height) // height
        xi = (np.arange(width) * img.width) // width
        out = src[yi][:, xi]
        return enc(width, height, out.tobytes())

    def _resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            def one(b: bytes) -> bytes:
                if b[:2] == b"BM":
                    return _resize_real(b, encode_bmp)
                if b[: len(PNG_SIG)] == PNG_SIG:
                    return _resize_real(b, encode_png)
                if b[:2] == JPEG_SIG:
                    return _resize_real(b, _encode_jpeg)
                if b[:4] == b"GIF8":
                    from spotify_etl_aws_spark.operators.gif import encode_gif

                    return _resize_real(b, encode_gif)
                _, _, _, payload = b.split(b":", 3)
                return header + hashlib.md5(payload + suffix).digest()

            yield pd.DataFrame(
                {id_col: pdf[id_col], media_col: pdf[media_col].map(one)}
            )

    return df.select(id_col, media_col).mapInPandas(_resize, schema=schema)


def media_features(meta: DataFrame) -> DataFrame:
    """Derived features over decoded metadata — back on the JVM lane
    (built-in functions) the moment the bytes are gone."""
    aspect = F.col("width") / F.col("height")
    return meta.select(
        "*",
        F.round(aspect, 4).alias("aspect_ratio"),
        (F.col("width") * F.col("height")).alias("n_pixels"),
        F.when(aspect >= 1.0, F.lit("landscape"))
        .otherwise(F.lit("portrait"))
        .alias("orientation"),
    )
