"""Audio (binary) column operators (north-star, SURVEY.md §2.11d) —
the audio half of the multimodal lane.

Same design as the image codecs in ``operators/multimodal.py``: a REAL
stdlib codec (RIFF/WAVE PCM — ``struct`` only, bit-exact round trips)
that the audio fingerprint lane (``operators/audio_fp.py``) decodes
inside its Arrow kernel, so bytes flow scan -> kernel and never
through a shuffle.

Compressed codecs (MP3/AAC/Opus) need libraries this container lacks —
``decode_audio`` raises ``NotImplementedError`` at the same seam where
a real deployment would call ffmpeg/soundfile.

The reference's domain is literally audio metadata (Spotify tracks:
``duration_ms`` at the reference's ``ingestion/ingestion/bronze/
bronze.py:141``, preview/track URLs in ``models/model.py``) but it never
touches samples; this lane is what carrying the media itself looks
like.
"""

from __future__ import annotations

import struct
from typing import NamedTuple

import numpy as np


class DecodedAudio(NamedTuple):
    n_samples: int
    sample_rate: int
    channels: int
    samples: bytes  # interleaved int16 little-endian


def encode_wav(
    n_samples: int,
    sample_rate: int,
    payload: bytes,
    channels: int = 1,
) -> bytes:
    """A REAL RIFF/WAVE file: canonical 44-byte header + 16-bit PCM
    little-endian samples. ``payload`` fills the sample buffer
    (repeated / truncated — same convention as the image encoders), so
    an exactly-sized buffer round-trips bit-for-bit."""
    if n_samples <= 0 or sample_rate <= 0 or channels <= 0:
        raise ValueError(
            f"invalid WAV shape: {n_samples} samples @ {sample_rate} Hz "
            f"x {channels} ch"
        )
    if not payload:
        raise ValueError("WAV payload must be non-empty")
    nbytes = 2 * n_samples * channels
    data = (payload * (nbytes // len(payload) + 1))[:nbytes]
    byte_rate = sample_rate * channels * 2
    hdr = b"RIFF" + struct.pack("<I", 36 + nbytes) + b"WAVE"
    hdr += b"fmt " + struct.pack(
        "<IHHIIHH", 16, 1, channels, sample_rate, byte_rate, channels * 2, 16
    )
    hdr += b"data" + struct.pack("<I", nbytes)
    return hdr + data


# IMA/DVI ADPCM tables (interchange spec values, public domain)
_IMA_STEPS = np.array(
    [
        7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34,
        37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143,
        157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494,
        544, 598, 658, 724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552,
        1707, 1878, 2066, 2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428,
        4871, 5358, 5894, 6484, 7132, 7845, 8630, 9493, 10442, 11487,
        12635, 13899, 15289, 16818, 18500, 20350, 22385, 24623, 27086,
        29794, 32767,
    ],
    dtype=np.int32,
)
_IMA_INDEX = np.array(
    [-1, -1, -1, -1, 2, 4, 6, 8, -1, -1, -1, -1, 2, 4, 6, 8], dtype=np.int32
)


def _decode_ima_adpcm(samples: bytes, block_align: int) -> np.ndarray:
    """Mono IMA-ADPCM data chunk -> int16 sample vector.

    Blocks are independent (each opens with its own predictor/step
    header), so the inherently sequential nibble recurrence runs as a
    loop over nibble POSITIONS vectorized ACROSS blocks — numpy does
    nblocks decodes per step instead of one.
    """
    if block_align < 5:
        raise ValueError(f"IMA-ADPCM block_align too small: {block_align}")
    raw = np.frombuffer(samples, dtype=np.uint8)
    # drop a trailing fragment too short to hold a block header
    nblocks = len(raw) // block_align
    tail = raw[nblocks * block_align :]
    if len(tail) >= 4:
        nblocks += 1
    if nblocks == 0:
        return np.zeros(0, dtype="<i2")
    raw = raw[: nblocks * block_align]  # the dropped fragment, if any
    buf = np.zeros(nblocks * block_align, dtype=np.uint8)
    buf[: len(raw)] = raw
    blocks = buf.reshape(nblocks, block_align)
    pred = blocks[:, :2].copy().view("<i2")[:, 0].astype(np.int32)
    idx = np.clip(blocks[:, 2].astype(np.int32), 0, 88)
    data = blocks[:, 4:]
    nib = np.empty((nblocks, data.shape[1] * 2), dtype=np.uint8)
    nib[:, 0::2] = data & 0x0F  # low nibble first, per spec
    nib[:, 1::2] = data >> 4
    out = np.empty((nblocks, 1 + nib.shape[1]), dtype="<i2")
    out[:, 0] = np.clip(pred, -32768, 32767).astype("<i2")
    for t in range(nib.shape[1]):
        n = nib[:, t].astype(np.int32)
        step = _IMA_STEPS[idx]
        diff = (
            (step >> 3)
            + np.where(n & 1, step >> 2, 0)
            + np.where(n & 2, step >> 1, 0)
            + np.where(n & 4, step, 0)
        )
        pred = np.clip(np.where(n & 8, pred - diff, pred + diff), -32768, 32767)
        out[:, t + 1] = pred.astype("<i2")
        idx = np.clip(idx + _IMA_INDEX[n], 0, 88)
    # per-block valid sample counts (the padded final block only
    # contributes samples its real bytes encode)
    full_count = 1 + 2 * data.shape[1]
    last_bytes = len(raw) - (nblocks - 1) * block_align
    last_count = 1 + 2 * max(0, min(block_align, last_bytes) - 4)
    if last_count == full_count:
        return out.reshape(-1)
    return np.concatenate([out[:-1].reshape(-1), out[-1, :last_count]])


def decode_audio(data: bytes) -> DecodedAudio:
    """RIFF/WAVE PCM-16 decode: walks the chunk list (fmt/data in any
    order, unknown chunks skipped per spec). Float/ADPCM/24-bit WAVs and
    compressed formats (MP3/AAC/...) raise at this seam."""
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise NotImplementedError(
            "decode_audio implements RIFF/WAVE PCM-16; compressed audio "
            "(MP3/AAC/Opus/...) needs a library not present in this "
            "container"
        )
    pos = 12
    fmt = None
    samples = None
    while pos + 8 <= len(data):
        tag = data[pos : pos + 4]
        (ln,) = struct.unpack_from("<I", data, pos + 4)
        body = data[pos + 8 : pos + 8 + ln]
        if tag == b"fmt ":
            fmt = struct.unpack_from("<HHIIHH", body, 0)
        elif tag == b"data":
            samples = body
        pos += 8 + ln + (ln & 1)  # chunks are word-aligned
    if fmt is None or samples is None:
        raise ValueError("WAV missing fmt or data chunk")
    audio_format, channels, sample_rate, _, _, bits = fmt
    if audio_format == 3 and bits == 32:
        # IEEE-float WAV: normalize [-1, 1] floats onto the int16 grid
        # (clipped) so every downstream kernel sees one sample type —
        # the same convert-on-ingest posture soundfile's int16 mode has
        x = np.frombuffer(
            samples[: (len(samples) // (4 * channels)) * 4 * channels], "<f4"
        )
        pcm = np.clip(np.round(x * 32767.0), -32768, 32767).astype("<i2")
        return DecodedAudio(
            len(pcm) // channels, sample_rate, channels, pcm.tobytes()
        )
    if audio_format == 17 and bits == 4:
        # IMA/DVI ADPCM (format 0x11): mono only here; stereo keeps the
        # channel-interleaved seam. block_align is fmt word 5.
        if channels != 1:
            raise NotImplementedError(
                "decode_audio supports mono IMA-ADPCM only "
                f"(got {channels} channels)"
            )
        block_align = fmt[4]
        pcm = _decode_ima_adpcm(samples, block_align)
        return DecodedAudio(len(pcm), sample_rate, 1, pcm.tobytes())
    if audio_format != 1 or bits != 16:
        raise NotImplementedError(
            f"decode_audio supports PCM-16, IEEE-float-32 and mono "
            f"IMA-ADPCM only (got format={audio_format}, bits={bits})"
        )
    n = len(samples) // (2 * channels)
    return DecodedAudio(n, sample_rate, channels, samples[: 2 * n * channels])
