"""Pure-stdlib WAV PCM sample decoding: struct + numpy, no audio libs.
Walks the RIFF chunks to the sample payload — 8-bit unsigned / 16 / 24 /
32-bit signed little-endian PCM and 32-bit IEEE-float frames — the one
audio container whose encoding is stdlib-feasible.  Compressed codecs
(MP3, FLAC's rice-coded subframes, AAC) are not decoded.  No index,
query or `jobs/` code uses this module.

Decoded samples are numpy arrays of shape (n_frames, channels): int32
for PCM (sign-corrected; 8-bit has its +128 offset removed) or float32
for IEEE-float WAVs.

Format reference: the public RIFF/WAVE specification (Microsoft
multimedia standards; fmt tags 1 = PCM, 3 = IEEE float).
"""

from __future__ import annotations

import struct
from typing import Optional, Tuple

import numpy as np


def decode_wav(data: bytes) -> Tuple[np.ndarray, int]:
    """WAV bytes -> (samples (n_frames, channels), sample_rate).
    Raises ValueError for non-WAV bytes, compressed codecs, or
    truncated sample data."""
    b = bytes(data or b"")
    if b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE stream")
    i, n = 12, len(b)
    fmt = None
    frames = None
    while i + 8 <= n:
        cid = b[i:i + 4]
        size = struct.unpack("<I", b[i + 4:i + 8])[0]
        if cid == b"fmt " and size >= 16 and i + 24 <= n:
            fmt = struct.unpack("<HHIIHH", b[i + 8:i + 24])
        elif cid == b"data":
            if i + 8 + size > n:
                raise ValueError("truncated WAV data chunk")
            frames = b[i + 8:i + 8 + size]
        i += 8 + size + (size & 1)   # chunks are word-aligned
    if fmt is None or frames is None:
        raise ValueError("WAV missing fmt or data chunk")
    audio_fmt, channels, rate, _byte_rate, _align, bits = fmt
    if channels < 1:
        raise ValueError("WAV fmt declares zero channels")
    if audio_fmt == 3:   # IEEE float
        if bits != 32:
            raise ValueError(f"unsupported float WAV bit depth {bits}")
        arr = np.frombuffer(frames[: len(frames) // 4 * 4], dtype="<f4")
        return arr.reshape(-1, channels), rate
    if audio_fmt != 1:
        raise ValueError(f"unsupported WAV codec tag {audio_fmt}")
    if bits == 8:
        arr = np.frombuffer(frames, dtype=np.uint8).astype(np.int32) - 128
    elif bits == 16:
        arr = np.frombuffer(frames[: len(frames) // 2 * 2],
                            dtype="<i2").astype(np.int32)
    elif bits == 24:
        raw = np.frombuffer(frames[: len(frames) // 3 * 3], dtype=np.uint8)
        raw = raw.reshape(-1, 3).astype(np.int32)
        arr = raw[:, 0] | (raw[:, 1] << 8) | (raw[:, 2] << 16)
        arr = np.where(arr >= 1 << 23, arr - (1 << 24), arr)
    elif bits == 32:
        arr = np.frombuffer(frames[: len(frames) // 4 * 4], dtype="<i4"
                            ).astype(np.int32)
    else:
        raise ValueError(f"unsupported PCM bit depth {bits}")
    n_frames = arr.size // channels
    return arr[: n_frames * channels].reshape(n_frames, channels), rate


def encode_wav(samples: np.ndarray, sample_rate: int, bits: int = 16) -> bytes:
    """(n_frames, channels) signed-int samples -> PCM WAV bytes at the
    given bit depth (8/16/24/32; 8-bit stores the unsigned +128 form)."""
    samples = np.asarray(samples)
    if samples.ndim == 1:
        samples = samples[:, None]
    if samples.ndim != 2:
        raise ValueError("samples must be (n_frames,) or (n_frames, ch)")
    channels = samples.shape[1]
    amp = (1 << (bits - 1)) - 1
    if int(np.abs(samples).max(initial=0)) > amp:
        raise ValueError(f"sample exceeds {bits}-bit range")
    flat = samples.reshape(-1).astype(np.int64)
    if bits == 8:
        frames = (flat + 128).astype(np.uint8).tobytes()
    elif bits == 16:
        frames = flat.astype("<i2").tobytes()
    elif bits == 24:
        u = np.where(flat < 0, flat + (1 << 24), flat).astype(np.uint32)
        out = np.empty((flat.size, 3), dtype=np.uint8)
        out[:, 0] = u & 0xFF
        out[:, 1] = (u >> 8) & 0xFF
        out[:, 2] = (u >> 16) & 0xFF
        frames = out.tobytes()
    elif bits == 32:
        frames = flat.astype("<i4").tobytes()
    else:
        raise ValueError("bits must be 8/16/24/32")
    block_align = channels * bits // 8
    fmt = struct.pack("<HHIIHH", 1, channels, sample_rate,
                      sample_rate * block_align, block_align, bits)
    body = (b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(frames)) + frames
            + (b"\x00" if len(frames) & 1 else b""))
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_audio(data: Optional[bytes]):
    """Sniff + decode: -> (samples, sample_rate) for PCM/float WAV,
    None for anything else (compressed audio is not stdlib-decodable)."""
    if not data:
        return None
    b = bytes(data)
    if b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        return None
    try:
        return decode_wav(b)
    except ValueError:
        return None


def audio_stats(samples: np.ndarray) -> dict:
    """Exact integer statistics over decoded PCM samples (no float
    hashing): per-array sum/min/max plus channel-0
    zero crossings (sign-bit flips between consecutive frames)."""
    ch0 = samples[:, 0]
    neg = ch0 < 0
    empty = samples.size == 0
    return {
        "n_frames": int(samples.shape[0]),
        "channels": int(samples.shape[1]),
        "samp_sum": int(samples.sum(dtype=np.int64)),
        "samp_min": 0 if empty else int(samples.min()),
        "samp_max": 0 if empty else int(samples.max()),
        "zero_cross": int(np.count_nonzero(neg[:-1] != neg[1:])),
    }


def synth_pcm_array(i: int) -> Tuple[np.ndarray, int, int]:
    """Deterministic PCM test field, a pure function of the row id,
    defined directly in the integer sample domain (no quantization
    ambiguity):

        bits = (8, 16, 24, 32)[i % 4],  amp = 2^(bits-1) - 1
        rate = (8000, 16000, 44100)[i % 3],  ch = 1 + i % 2
        n_frames = 50 + 13 * (i % 7)
        s[t, c] = ((t * (13 + i) + 7 * c) % (2*amp + 1)) - amp

    -> (samples (n, ch) int64, rate, bits)."""
    bits = (8, 16, 24, 32)[i % 4]
    rate = (8000, 16000, 44100)[i % 3]
    channels = 1 + i % 2
    n_frames = 50 + 13 * (i % 7)
    amp = (1 << (bits - 1)) - 1
    t = np.arange(n_frames, dtype=np.int64)[:, None]
    c = np.arange(channels, dtype=np.int64)[None, :]
    return ((t * (13 + i) + 7 * c) % (2 * amp + 1)) - amp, rate, bits
