"""Audio codec (operators/audio.py): real RIFF/WAVE PCM-16 files,
bit-exact round trips, float-32 and IMA-ADPCM decode."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from spotify_etl_aws_spark.operators.audio import (
    decode_audio,
    encode_wav,
)


def test_wav_roundtrip_bit_exact():
    rng = np.random.default_rng(3)
    x = rng.integers(-32768, 32768, 480, dtype=np.int16)
    b = encode_wav(480, 16000, x.astype("<i2").tobytes())
    assert b[:4] == b"RIFF" and b[8:12] == b"WAVE"
    # 44-byte canonical header + 2 bytes per 16-bit sample
    assert len(b) == 44 + 2 * 480
    d = decode_audio(b)
    assert (d.n_samples, d.sample_rate, d.channels) == (480, 16000, 1)
    assert np.array_equal(np.frombuffer(d.samples, "<i2"), x)
    # stereo
    b2 = encode_wav(100, 44100, x[:400].astype("<i2").tobytes(), channels=2)
    d2 = decode_audio(b2)
    assert (d2.n_samples, d2.channels) == (100, 2)
    assert len(b2) == 44 + 2 * 100 * 2


def test_wav_foreign_chunk_order_and_rejects():
    # a foreign WAV with an unknown chunk before fmt/data still decodes
    x = np.arange(8, dtype="<i2").tobytes()
    junk = b"LIST" + struct.pack("<I", 4) + b"INFO"
    body = (
        b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 16000, 2, 16)
        + b"data" + struct.pack("<I", len(x)) + x
    )
    raw = b"RIFF" + struct.pack("<I", 4 + len(junk) + len(body)) + b"WAVE" + junk + body
    d = decode_audio(raw)
    assert d.n_samples == 8 and d.sample_rate == 8000

    with pytest.raises(NotImplementedError, match="PCM-16"):
        # float32 format code 3
        bad = raw.replace(
            struct.pack("<IHHIIHH", 16, 1, 1, 8000, 16000, 2, 16),
            struct.pack("<IHHIIHH", 16, 3, 1, 8000, 16000, 2, 16),
        )
        decode_audio(bad)
    with pytest.raises(NotImplementedError, match="compressed audio"):
        decode_audio(b"\xff\xfbMP3FRAME")
    with pytest.raises(ValueError):
        encode_wav(0, 8000, b"x")


def test_audio_features_hand_computed():
    # constant amplitude 1000 -> rms exactly 1000, peak 1000
    x = np.full(200, 1000, dtype="<i2")
    b = encode_wav(200, 8000, x.tobytes())
    d = decode_audio(b)
    s = np.frombuffer(d.samples, "<i2").astype(np.float64)
    assert np.sqrt((s**2).mean()) == 1000.0
    assert d.n_samples / d.sample_rate == pytest.approx(0.025)


def test_float32_wav_decodes_to_int16_grid():
    """IEEE-float WAV (format code 3): [-1, 1] floats land on the
    int16 grid exactly (clipped), so the feature kernels see one
    sample type regardless of source encoding."""
    x = np.array([0.0, 0.5, -0.5, 1.0, -1.0, 2.0, -2.0], dtype="<f4")
    body = (
        b"fmt " + struct.pack("<IHHIIHH", 16, 3, 1, 8000, 32000, 4, 32)
        + b"data" + struct.pack("<I", x.nbytes) + x.tobytes()
    )
    raw = b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body
    d = decode_audio(raw)
    assert (d.n_samples, d.sample_rate, d.channels) == (7, 8000, 1)
    got = np.frombuffer(d.samples, "<i2").tolist()
    assert got == [0, 16384, -16384, 32767, -32767, 32767, -32768]


# ---- IMA-ADPCM (format 0x11) ----

_STEPS = [
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
]
_IDX = [-1, -1, -1, -1, 2, 4, 6, 8, -1, -1, -1, -1, 2, 4, 6, 8]


def _clamp16(v):
    return max(-32768, min(32767, v))


def _ima_encode_blocks(x: np.ndarray, block_align: int) -> bytes:
    """Scalar reference encoder: standard IMA nibble quantizer, one
    4-byte header per block (predictor = first sample, step index
    carried across blocks like real encoders do)."""
    spb = 1 + (block_align - 4) * 2
    out = bytearray()
    idx = 0
    i = 0
    while i < len(x):
        blk = x[i : i + spb]
        pred = int(blk[0])
        out += struct.pack("<hBB", pred, idx, 0)
        nibbles = []
        for s in blk[1:]:
            step = _STEPS[idx]
            diff = int(s) - pred
            n = 0
            if diff < 0:
                n = 8
                diff = -diff
            if diff >= step:
                n |= 4
                diff -= step
            if diff >= step >> 1:
                n |= 2
                diff -= step >> 1
            if diff >= step >> 2:
                n |= 1
            # reconstruct like the decoder
            d = (step >> 3) + ((step >> 2) if n & 1 else 0) + \
                ((step >> 1) if n & 2 else 0) + (step if n & 4 else 0)
            pred = _clamp16(pred - d if n & 8 else pred + d)
            idx = max(0, min(88, idx + _IDX[n]))
            nibbles.append(n)
        while len(nibbles) < spb - 1:
            nibbles.append(0)  # pad final block
        for lo, hi in zip(nibbles[0::2], nibbles[1::2]):
            out.append(lo | (hi << 4))
        i += spb
    return bytes(out)


def _ima_decode_ref(data: bytes, block_align: int) -> list[int]:
    """Independent scalar decoder (the spec loop, no numpy)."""
    out = []
    for b0 in range(0, len(data), block_align):
        blk = data[b0 : b0 + block_align]
        if len(blk) < 4:
            break
        pred, idx, _ = struct.unpack_from("<hBB", blk, 0)
        idx = max(0, min(88, idx))
        out.append(pred)
        for byte in blk[4:]:
            for n in (byte & 0x0F, byte >> 4):
                step = _STEPS[idx]
                d = (step >> 3) + ((step >> 2) if n & 1 else 0) + \
                    ((step >> 1) if n & 2 else 0) + (step if n & 4 else 0)
                pred = _clamp16(pred - d if n & 8 else pred + d)
                idx = max(0, min(88, idx + _IDX[n]))
                out.append(pred)
    return out


def _adpcm_wav(data: bytes, rate: int, block_align: int) -> bytes:
    spb = 1 + (block_align - 4) * 2
    hdr = b"RIFF" + struct.pack("<I", 40 + len(data)) + b"WAVE"
    hdr += b"fmt " + struct.pack(
        "<IHHIIHHHH", 20, 17, 1, rate, rate * block_align // spb,
        block_align, 4, 2, spb,
    )
    return hdr + b"data" + struct.pack("<I", len(data)) + data


def test_ima_adpcm_matches_scalar_reference():
    rng = np.random.default_rng(11)
    t = np.arange(2500)
    x = (8000 * np.sin(t / 20) + rng.normal(0, 300, len(t))).astype(np.int16)
    block_align = 256  # 505 samples/block -> full blocks + truncated tail
    data = _ima_encode_blocks(x, block_align)
    d = decode_audio(_adpcm_wav(data, 8000, block_align))
    got = np.frombuffer(d.samples, "<i2")
    ref = np.array(_ima_decode_ref(data, block_align), dtype=np.int16)
    # vectorized decode must equal the spec loop bit-for-bit on every
    # sample it emits (ref includes the final block's zero-padding tail)
    assert d.channels == 1 and d.sample_rate == 8000
    assert len(got) <= len(ref)
    assert np.array_equal(got, ref[: len(got)])
    # and reconstruct the waveform: ADPCM is lossy but close
    n = min(len(got), len(x))
    err = got[:n].astype(np.float64) - x[:n].astype(np.float64)
    snr = 10 * np.log10(np.mean(x[:n].astype(np.float64) ** 2) / np.mean(err**2))
    assert snr > 20, f"IMA-ADPCM SNR too low: {snr:.1f} dB"


def test_ima_adpcm_rejects_stereo():
    hdr = b"RIFF" + struct.pack("<I", 40) + b"WAVE"
    hdr += b"fmt " + struct.pack("<IHHIIHHHH", 20, 17, 2, 8000, 8000, 256, 4, 2, 505)
    hdr += b"data" + struct.pack("<I", 4) + b"\x00\x00\x00\x00"
    with pytest.raises(NotImplementedError, match="mono IMA-ADPCM"):
        decode_audio(hdr)


def test_ima_adpcm_truncated_final_block():
    rng = np.random.default_rng(5)
    x = rng.integers(-2000, 2000, 1200, dtype=np.int16)
    block_align = 128  # 249 samples/block
    data = _ima_encode_blocks(x, block_align)
    cut = data[: 2 * block_align + 60]  # 2 full blocks + 60-byte tail
    d = decode_audio(_adpcm_wav(cut, 8000, block_align))
    got = np.frombuffer(d.samples, "<i2")
    ref = np.array(_ima_decode_ref(cut, block_align), dtype=np.int16)
    assert len(got) == 2 * 249 + 1 + 2 * (60 - 4)
    assert np.array_equal(got, ref)
    # a tail too short for a block header is dropped entirely
    d2 = decode_audio(_adpcm_wav(data[: block_align + 3], 8000, block_align))
    assert d2.n_samples == 249
