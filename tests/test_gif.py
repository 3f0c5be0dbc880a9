"""GIF codec (operators/gif.py): LZW encode/decode lockstep across
size growth and dictionary resets, palette quantization bounds,
extension skipping, and dispatch through decode_image."""

from __future__ import annotations

import numpy as np
import pytest

from spotify_etl_aws_spark.operators.gif import (
    _lzw_decode,
    _lzw_encode,
    decode_gif,
    encode_gif,
    quantize_rgb,
)


def test_lzw_roundtrip_small():
    for payload in [b"\x00", b"\x01\x01\x01\x01", bytes(range(256)), b"abcabcabcabc"]:
        assert _lzw_decode(_lzw_encode(payload), 8) == payload


def test_lzw_roundtrip_forces_size_growth_and_reset():
    """> 3838 dictionary entries forces 9->12-bit growth AND a mid-
    stream clear/reset; random bytes maximize new-entry rate."""
    rng = np.random.default_rng(5)
    payload = rng.integers(0, 256, 20_000, dtype=np.uint8).tobytes()
    enc = _lzw_encode(payload)
    assert _lzw_decode(enc, 8) == payload
    # and a highly repetitive stream (deep dictionary chains)
    rep = (b"\x03\x07" * 4000) + (b"\x03" * 4000)
    assert _lzw_decode(_lzw_encode(rep), 8) == rep


def test_gif_roundtrip_on_cube_is_exact():
    """Pixels already on the 6x6x6 cube survive encode->decode
    bit-for-bit (quantization is the identity there)."""
    rng = np.random.default_rng(9)
    rgb = quantize_rgb(rng.integers(0, 256, (12, 17, 3), dtype=np.uint8))
    gif = encode_gif(17, 12, rgb.tobytes())
    assert gif[:6] == b"GIF89a" and gif[-1:] == b"\x3b"
    w, h, out = decode_gif(gif)
    assert (w, h) == (17, 12)
    assert out == rgb.tobytes()


def test_gif_quantization_error_bounded():
    rng = np.random.default_rng(13)
    rgb = rng.integers(0, 256, (8, 8, 3), dtype=np.uint8)
    w, h, out = decode_gif(encode_gif(8, 8, rgb.tobytes()))
    err = np.abs(
        np.frombuffer(out, np.uint8).astype(int) - rgb.reshape(-1).astype(int)
    )
    assert err.max() <= 25
    # and decode equals the analytic quantizer exactly
    assert out == quantize_rgb(rgb).tobytes()


def test_gif_extension_blocks_skipped_and_rejects():
    gif = bytearray(encode_gif(4, 4, b"\x33\x66\x99"))
    # splice a Graphic Control Extension before the image descriptor
    at = gif.index(0x2C, 13 + 768)
    gce = b"\x21\xf9\x04\x00\x00\x00\x00\x00"
    with_ext = bytes(gif[:at]) + gce + bytes(gif[at:])
    assert decode_gif(with_ext)[2] == decode_gif(bytes(gif))[2]

    with pytest.raises(ValueError, match="not a GIF"):
        decode_gif(b"NOTAGIF!")
    with pytest.raises(ValueError):
        encode_gif(0, 4, b"x")

def test_interlaced_gif_deinterlaces():
    """Store rows in the spec's four pass order + set the interlace
    flag: decode must scatter them back to display order."""
    rng = np.random.default_rng(31)
    h, w = 11, 5
    rgb = quantize_rgb(rng.integers(0, 256, (h, w, 3), dtype=np.uint8))
    order = np.concatenate(
        [np.arange(s, h, st) for s, st in ((0, 8), (4, 8), (2, 4), (1, 2))]
    )
    stored = rgb[order]  # what an interlaced writer lays down
    gif = bytearray(encode_gif(w, h, stored.tobytes()))
    at = gif.index(0x2C, 13 + 768)
    gif[at + 9] |= 0x40
    gw, gh, out = decode_gif(bytes(gif))
    assert (gw, gh) == (w, h)
    assert out == rgb.tobytes()


def test_gif_dispatch_through_decode_image_and_meta():
    from spotify_etl_aws_spark.operators.multimodal import (
        _parse_one,
        decode_image,
    )

    rgb = quantize_rgb(
        np.random.default_rng(21).integers(0, 256, (6, 9, 3), dtype=np.uint8)
    )
    gif = encode_gif(9, 6, rgb.tobytes())
    img = decode_image(gif)
    assert (img.width, img.height, img.mode) == (9, 6, "RGB")
    assert img.pixels == rgb.tobytes()
    assert _parse_one(gif) == ("gif", 9, 6, len(gif))


def test_animation_roundtrip_and_meta():
    from spotify_etl_aws_spark.operators.gif import (
        encode_gif_animation,
        gif_frames,
        gif_scan_meta,
    )

    rng = np.random.default_rng(41)
    w, h = 8, 6
    frames = [
        quantize_rgb(rng.integers(0, 256, (h, w, 3), dtype=np.uint8)).tobytes()
        for _ in range(4)
    ]
    gif = encode_gif_animation(frames, w, h, delay_cs=7)
    out = gif_frames(gif)
    assert len(out) == 4
    for (delay, got), want in zip(out, frames):
        assert delay == 7
        assert got == want  # full-canvas frames: composite == stored
    # header-only scan agrees without any LZW decode
    assert gif_scan_meta(gif) == (w, h, 4, 28)


def test_animation_delta_frames_composite():
    """A sub-rectangle frame paints onto the previous canvas
    (disposal 0/1) — the delta-frame layout real encoders emit."""
    import struct as s

    from spotify_etl_aws_spark.operators.gif import (
        _PALETTE,
        _lzw_encode,
        _rgb_to_indices,
        _sub_blocks,
        gif_frames,
    )

    w, h = 6, 4
    base = quantize_rgb(
        np.random.default_rng(43).integers(0, 256, (h, w, 3), dtype=np.uint8)
    )
    patch = quantize_rgb(
        np.full((2, 3, 3), 204, dtype=np.uint8)
    )
    head = b"GIF89a" + s.pack("<HHBBB", w, h, 0xF7, 0, 0) + _PALETTE
    f1 = b"\x2c" + s.pack("<HHHHB", 0, 0, w, h, 0) + b"\x08" + _sub_blocks(
        _lzw_encode(_rgb_to_indices(base).reshape(-1).tobytes())
    )
    # frame 2: 3x2 patch at (left=2, top=1)
    f2 = b"\x2c" + s.pack("<HHHHB", 2, 1, 3, 2, 0) + b"\x08" + _sub_blocks(
        _lzw_encode(_rgb_to_indices(patch).reshape(-1).tobytes())
    )
    out = gif_frames(head + f1 + f2 + b"\x3b")
    assert len(out) == 2
    want = base.copy()
    want[1:3, 2:5] = patch
    assert out[1][1] == want.tobytes()


def test_animation_transparency_preserves_canvas():
    """GCE transparent index: delta-frame pixels carrying the
    transparent color must leave the underlying canvas intact."""
    import struct as s

    from spotify_etl_aws_spark.operators.gif import (
        _PALETTE,
        _lzw_encode,
        _rgb_to_indices,
        _sub_blocks,
        gif_frames,
    )

    w, h = 4, 2
    base = quantize_rgb(
        np.random.default_rng(51).integers(0, 256, (h, w, 3), dtype=np.uint8)
    )
    head = b"GIF89a" + s.pack("<HHBBB", w, h, 0xF7, 0, 0) + _PALETTE
    f1 = b"\x2c" + s.pack("<HHHHB", 0, 0, w, h, 0) + b"\x08" + _sub_blocks(
        _lzw_encode(_rgb_to_indices(base).reshape(-1).tobytes())
    )
    # frame 2 covers the full canvas: index 7 everywhere except one
    # pixel of transparent index 5 at (0,1)
    idx2 = np.full((h, w), 7, dtype=np.uint8)
    idx2[0, 1] = 5
    gce = b"\x21\xf9\x04" + s.pack("<BHB", 0x01, 3, 5) + b"\x00"  # transp=5
    f2 = b"\x2c" + s.pack("<HHHHB", 0, 0, w, h, 0) + b"\x08" + _sub_blocks(
        _lzw_encode(idx2.tobytes())
    )
    out = gif_frames(head + f1 + gce + f2 + b"\x3b")
    assert len(out) == 2 and out[1][0] == 3
    got = np.frombuffer(out[1][1], np.uint8).reshape(h, w, 3)
    pal7 = np.frombuffer(_PALETTE, np.uint8)[21:24]
    assert (got[0, 0] == pal7).all()
    assert (got[0, 1] == base[0, 1]).all()  # transparent -> canvas kept


def test_animation_disposal_applies_to_own_frame():
    """A frame's OWN disposal=2 clears its region before the NEXT
    frame, regardless of what the next frame's GCE says."""
    import struct as s

    from spotify_etl_aws_spark.operators.gif import (
        _PALETTE,
        _lzw_encode,
        _sub_blocks,
        gif_frames,
    )

    w, h = 4, 2
    head = b"GIF89a" + s.pack("<HHBBB", w, h, 0xF7, 0, 0) + _PALETTE
    full = np.full((h, w), 7, dtype=np.uint8)
    patch = np.full((1, 2), 13, dtype=np.uint8)
    # frame1: full canvas of idx 7, GCE disposal=2 (clear own region
    # after display); frame2: small patch, GCE disposal=0
    gce_d2 = b"\x21\xf9\x04" + s.pack("<BHB", 2 << 2, 1, 0) + b"\x00"
    f1 = b"\x2c" + s.pack("<HHHHB", 0, 0, w, h, 0) + b"\x08" + _sub_blocks(
        _lzw_encode(full.tobytes())
    )
    gce_d0 = b"\x21\xf9\x04" + s.pack("<BHB", 0, 1, 0) + b"\x00"
    f2 = b"\x2c" + s.pack("<HHHHB", 1, 0, 2, 1, 0) + b"\x08" + _sub_blocks(
        _lzw_encode(patch.tobytes())
    )
    out = gif_frames(head + gce_d2 + f1 + gce_d0 + f2 + b"\x3b")
    got = np.frombuffer(out[1][1], np.uint8).reshape(h, w, 3)
    pal = np.frombuffer(_PALETTE, np.uint8).reshape(-1, 3)
    # frame1's region was restored to background (index 0 = black)
    # before frame2 painted its 2-wide patch at (1,0)
    assert (got[1] == pal[0]).all(axis=-1).all()  # bottom row cleared
    assert (got[0, 1] == pal[13]).all() and (got[0, 2] == pal[13]).all()
    assert (got[0, 0] == pal[0]).all() and (got[0, 3] == pal[0]).all()


def test_resize_media_handles_gif(spark):
    from spotify_etl_aws_spark.operators.gif import decode_gif, encode_gif
    from spotify_etl_aws_spark.operators.multimodal import resize_media

    rng = np.random.default_rng(61)
    rgb = quantize_rgb(rng.integers(0, 256, (8, 8, 3), dtype=np.uint8))
    df = spark.createDataFrame(
        [(0, bytearray(encode_gif(8, 8, rgb.tobytes())))],
        "doc_id long, media binary",
    )
    (row,) = resize_media(df, 4, 4).collect()
    w, h, out = decode_gif(bytes(row.media))
    assert (w, h) == (4, 4)
    # nearest-neighbor on an already-quantized source: exact pixels
    yi = (np.arange(4) * 8) // 4
    assert out == rgb[yi][:, yi].tobytes()
