"""Video (binary) container codec (north-star, SURVEY.md §2.11d) —
the video third of the multimodal lane.

Same design as the image codecs (``operators/multimodal.py``,
``operators/jpeg.py``) and the audio lane (``operators/audio.py``): a
REAL stdlib container codec — RIFF/AVI carrying Motion-JPEG, every
frame a genuine baseline JFIF file produced by our own pure-numpy T.81
encoder. The clip near-dup lane (``operators/video_fp.py``) decodes
these containers frame by frame.

The scale-critical design point is the ``idx1`` frame index:
``extract_frame`` slices one frame out of the container via the index
before it reaches the JPEG decoder, with no decode of any other frame —
how a production frame sampler seeks I-frames instead of decoding the
whole stream. Inter-frame-compressed codecs (H.264/VP9/AV1) need
libraries this container lacks — ``parse_avi`` raises
``NotImplementedError`` at the same seam where a real deployment would
call ffmpeg/PyAV.

The reference's domain carries media URLs but never the media itself
(`ingestion/ingestion/models/model.py:10,19` — image
URLs; `playlist_model.py:12-13`); this lane is what carrying video
payloads through the same pipeline looks like.
"""

from __future__ import annotations

import struct
from typing import NamedTuple

_AVIF_HASINDEX = 0x00000010
_AVIIF_KEYFRAME = 0x00000010


class VideoMeta(NamedTuple):
    width: int
    height: int
    fps: float
    n_frames: int
    # (absolute byte offset of frame payload, payload size) per frame
    frame_index: list[tuple[int, int]]


def encode_avi_mjpeg(
    frames: list[bytes], fps: int, width: int, height: int
) -> bytes:
    """A REAL RIFF/AVI file with one 'vids'/'MJPG' stream: each element
    of ``frames`` must be a complete JPEG file and is stored VERBATIM in
    a '00dc' chunk (Motion-JPEG is intra-only — no inter-frame state),
    followed by a standard 'idx1' index so readers can seek without
    scanning 'movi'."""

    def _chunk(tag: bytes, body: bytes) -> bytes:
        # fourcc + LE size + body, padded to word alignment
        return tag + struct.pack("<I", len(body)) + body + (b"\x00" * (len(body) & 1))

    def _list(tag: bytes, body: bytes) -> bytes:
        return _chunk(b"LIST", tag + body)

    if not frames:
        raise ValueError("AVI needs at least one frame")
    if fps <= 0 or width <= 0 or height <= 0:
        raise ValueError(f"invalid AVI shape: {width}x{height} @ {fps} fps")
    max_frame = max(len(f) for f in frames)

    avih = struct.pack(
        "<IIIIIIIIIIIIII",
        1_000_000 // fps,          # dwMicroSecPerFrame
        max_frame * fps,           # dwMaxBytesPerSec
        0,                         # dwPaddingGranularity
        _AVIF_HASINDEX,            # dwFlags
        len(frames),               # dwTotalFrames
        0,                         # dwInitialFrames
        1,                         # dwStreams
        max_frame,                 # dwSuggestedBufferSize
        width,
        height,
        0, 0, 0, 0,                # dwReserved[4]
    )
    strh = (
        b"vids" + b"MJPG"
        + struct.pack(
            "<IHHIIIIIIIII",
            0, 0, 0,               # flags, priority, language
            0,                     # initial frames
            1, fps,                # scale, rate -> fps = rate/scale
            0, len(frames),        # start, length (in frames)
            max_frame,             # suggested buffer
            0xFFFFFFFF,            # quality (default)
            0,                     # sample size (0: varies per chunk)
            0,                     # rcFrame.left/top
        )
        + struct.pack("<HH", width, height)  # rcFrame.right/bottom
    )
    strf = struct.pack(
        "<IiiHH4sIiiII",
        40, width, height, 1, 24, b"MJPG",
        3 * width * height, 0, 0, 0, 0,
    )
    hdrl = _list(
        b"hdrl", _chunk(b"avih", avih) + _list(b"strl", _chunk(b"strh", strh) + _chunk(b"strf", strf))
    )

    movi_body = b"movi"
    idx_entries = []
    for f in frames:
        # idx1 offsets are relative to the start of the 'movi' fourcc
        # and point at the chunk HEADER (the convention most writers
        # and all tolerant readers use).
        idx_entries.append((len(movi_body), len(f)))
        movi_body += _chunk(b"00dc", f)
    movi = _chunk(b"LIST", movi_body)
    idx1 = b"".join(
        b"00dc" + struct.pack("<III", _AVIIF_KEYFRAME, off, size)
        for off, size in idx_entries
    )
    riff_body = b"AVI " + hdrl + movi + _chunk(b"idx1", idx1)
    return b"RIFF" + struct.pack("<I", len(riff_body)) + riff_body


def parse_avi(data: bytes, use_index: bool = True) -> VideoMeta:
    """Walk the RIFF chunk tree (unknown chunks skipped per spec) and
    return stream geometry plus the per-frame (offset, size) table.

    With ``use_index`` the table comes from 'idx1' — header-sized I/O
    regardless of payload size, the metadata / sampling fast path. When
    the index is absent (or ``use_index=False``) it falls back to
    scanning the 'movi' list, which every AVI reader must support."""
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        raise NotImplementedError(
            "parse_avi implements RIFF/AVI with Motion-JPEG frames; "
            "inter-frame codecs in other containers (MP4/H.264, WebM/"
            "VP9, ...) need a library not present in this container"
        )
    width = height = 0
    rate = scale = 0
    n_frames = 0
    movi_start = None  # absolute offset of the 'movi' fourcc
    movi_end = 0
    idx1 = None

    def walk(pos: int, end: int) -> None:
        nonlocal width, height, rate, scale, n_frames
        nonlocal movi_start, movi_end, idx1
        while pos + 8 <= end:
            tag = data[pos : pos + 4]
            (ln,) = struct.unpack_from("<I", data, pos + 4)
            body_at = pos + 8
            if tag == b"LIST":
                ltag = data[body_at : body_at + 4]
                if ltag == b"movi":
                    movi_start, movi_end = body_at, body_at + ln
                else:
                    walk(body_at + 4, body_at + ln)
            elif tag == b"avih":
                fields = struct.unpack_from("<14I", data, body_at)
                n_frames = fields[4]
                width, height = fields[8], fields[9]
            elif tag == b"strh" and data[body_at : body_at + 4] == b"vids":
                s = struct.unpack_from("<IHHIIIII", data, body_at + 8)
                scale, rate = s[4], s[5]
            elif tag == b"idx1":
                idx1 = data[body_at : body_at + ln]
            pos = body_at + ln + (ln & 1)

    walk(12, len(data))
    if movi_start is None:
        raise ValueError("AVI missing movi list")

    frame_index: list[tuple[int, int]] = []
    if use_index and idx1 is not None:
        for off in range(0, len(idx1) - 15, 16):
            ckid = idx1[off : off + 4]
            _, rel, size = struct.unpack_from("<III", idx1, off + 4)
            if ckid[2:4] in (b"dc", b"db"):
                # rel points at the chunk header, relative to 'movi'
                frame_index.append((movi_start + rel + 8, size))
        # sanity-probe the offset convention: some writers store
        # FILE-absolute offsets instead of movi-relative ones. If the
        # first entry doesn't land on a video chunk header under our
        # interpretation, discard the index and use the scan fallback.
        if frame_index:
            hdr = frame_index[0][0] - 8
            if data[hdr + 2 : hdr + 4] not in (b"dc", b"db"):
                frame_index = []
    if not frame_index:  # no/odd index -> scan movi (mandatory fallback)
        pos = movi_start + 4
        while pos + 8 <= movi_end:
            tag = data[pos : pos + 4]
            (ln,) = struct.unpack_from("<I", data, pos + 4)
            if tag[2:4] in (b"dc", b"db"):
                frame_index.append((pos + 8, ln))
            pos += 8 + ln + (ln & 1)

    fps = rate / scale if scale else 0.0
    return VideoMeta(width, height, fps, n_frames or len(frame_index), frame_index)


def extract_frame(data: bytes, meta: VideoMeta, i: int) -> bytes:
    """The JPEG bytes of frame ``i`` — a pure slice via the index, no
    decode of any other frame."""
    off, size = meta.frame_index[i]
    return data[off : off + size]
