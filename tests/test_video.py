"""Video container codec (operators/video.py): real RIFF/AVI files
carrying Motion-JPEG frames and index-seek frame extraction."""

from __future__ import annotations

import numpy as np
import pytest

from spotify_etl_aws_spark.operators.jpeg import decode_jpeg, encode_jpeg
from spotify_etl_aws_spark.operators.video import (
    encode_avi_mjpeg,
    extract_frame,
    parse_avi,
)


def _frames(n: int, w: int = 16, h: int = 16) -> list[bytes]:
    rng = np.random.default_rng(7)
    return [
        encode_jpeg(w, h, rng.integers(0, 256, 3 * w * h, dtype=np.uint8).tobytes())
        for _ in range(n)
    ]


def test_avi_roundtrip_frames_verbatim():
    """MJPEG is intra-only: every stored frame must come back
    bit-identical to the JPEG that went in, via the idx1 index."""
    frames = _frames(5)
    avi = encode_avi_mjpeg(frames, fps=10, width=16, height=16)
    assert avi[:4] == b"RIFF" and avi[8:12] == b"AVI "
    m = parse_avi(avi)
    assert (m.width, m.height, m.fps, m.n_frames) == (16, 16, 10.0, 5)
    assert len(m.frame_index) == 5
    for i, f in enumerate(frames):
        assert extract_frame(avi, m, i) == f


def test_avi_index_matches_movi_scan():
    """The idx1 fast path and the mandatory movi-scan fallback must
    produce the same frame table."""
    frames = _frames(4)
    avi = encode_avi_mjpeg(frames, fps=25, width=16, height=16)
    assert parse_avi(avi, use_index=True).frame_index == parse_avi(
        avi, use_index=False
    ).frame_index


def test_avi_odd_frame_padding_and_rejects():
    # force an odd-length frame: JPEG files can be any length, so pad
    # one with a COM segment of odd size
    frames = _frames(3)
    odd = frames[1][:-2] + b"\xff\xfe\x00\x03a" + frames[1][-2:]
    assert len(odd) % 2 == 1 or len(frames[1]) % 2 == 1  # at least one odd overall
    frames[1] = odd
    avi = encode_avi_mjpeg(frames, fps=5, width=16, height=16)
    m = parse_avi(avi)
    assert extract_frame(avi, m, 1) == odd
    assert extract_frame(avi, m, 2) == frames[2]

    with pytest.raises(NotImplementedError, match="inter-frame"):
        parse_avi(b"\x00\x00\x00\x20ftypisom....")  # an MP4 box header
    with pytest.raises(ValueError):
        encode_avi_mjpeg([], fps=10, width=16, height=16)
    with pytest.raises(ValueError):
        encode_avi_mjpeg(frames, fps=0, width=16, height=16)


def test_sampled_frame_pixels_match_direct_decode():
    """Decoding a frame sliced out via the index must equal decoding
    the stored JPEG directly — the slice hands the decoder identical
    bytes."""
    rng = np.random.default_rng(11)
    px = rng.integers(0, 256, 3 * 16 * 16, dtype=np.uint8).tobytes()
    jpg = encode_jpeg(16, 16, px)
    avi = encode_avi_mjpeg([jpg], fps=1, width=16, height=16)
    m = parse_avi(avi)
    w, h, rgb = decode_jpeg(extract_frame(avi, m, 0))
    w2, h2, rgb2 = decode_jpeg(jpg)
    assert (w, h, rgb) == (w2, h2, rgb2)


def test_absolute_offset_index_falls_back_to_scan():
    """idx1 offsets in the wild are sometimes file-absolute, not
    movi-relative; the parser must detect the convention mismatch and
    recover via the movi scan instead of slicing garbage."""
    import struct

    frames = _frames(3)
    avi = bytearray(encode_avi_mjpeg(frames, fps=10, width=16, height=16))
    m_good = parse_avi(bytes(avi))
    # rewrite every idx1 entry to a file-absolute offset (header pos)
    idx_at = bytes(avi).rfind(b"idx1")
    body_at = idx_at + 8
    for i, (payload_abs, _size) in enumerate(m_good.frame_index):
        struct.pack_into("<I", avi, body_at + 16 * i + 8, payload_abs - 8)
    m = parse_avi(bytes(avi))
    assert m.frame_index == m_good.frame_index  # recovered via scan
    for i, f in enumerate(frames):
        assert extract_frame(bytes(avi), m, i) == f
