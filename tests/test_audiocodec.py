"""WAV PCM sample codec tests: round-trips at every bit depth, sign
handling (24-bit assembly), IEEE-float frames, chunk-walk robustness,
the integer sample statistics and the synthetic PCM field."""

import struct

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from terrier_spark.datapipe.audiocodec import (
    audio_stats,
    decode_audio,
    decode_wav,
    encode_wav,
    synth_pcm_array,
)


@pytest.mark.parametrize("bits", [8, 16, 24, 32])
@pytest.mark.parametrize("channels", [1, 2])
def test_wav_roundtrip(bits, channels):
    amp = (1 << (bits - 1)) - 1
    t = np.arange(64, dtype=np.int64)[:, None]
    c = np.arange(channels, dtype=np.int64)[None, :]
    samples = ((t * 37 + 11 * c) % (2 * amp + 1)) - amp
    out, rate = decode_wav(encode_wav(samples, 16000, bits=bits))
    assert rate == 16000
    np.testing.assert_array_equal(out, samples)


def test_wav_24bit_sign_extension():
    samples = np.array([[-(1 << 23) + 1], [-1], [0], [1], [(1 << 23) - 1]],
                       dtype=np.int64)
    out, _ = decode_wav(encode_wav(samples, 8000, bits=24))
    np.testing.assert_array_equal(out, samples)


def test_wav_float_frames():
    vals = np.array([0.5, -0.25, 1.0, -1.0], dtype="<f4")
    fmt = struct.pack("<HHIIHH", 3, 1, 44100, 44100 * 4, 4, 32)
    body = (b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", vals.nbytes) + vals.tobytes())
    wav = b"RIFF" + struct.pack("<I", len(body)) + body
    out, rate = decode_wav(wav)
    assert rate == 44100 and out.dtype == np.float32
    np.testing.assert_array_equal(out[:, 0], vals)


def test_wav_extra_chunks_and_padding():
    samples = np.array([[1], [-2], [3]], dtype=np.int64)
    wav = bytearray(encode_wav(samples, 8000, bits=16))
    # splice an odd-sized LIST chunk between fmt and data
    insert_at = 12 + 8 + 16
    extra = b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"  # pad byte
    wav[insert_at:insert_at] = extra
    wav[4:8] = struct.pack("<I", len(wav) - 8)
    out, _ = decode_wav(bytes(wav))
    np.testing.assert_array_equal(out, samples)


def test_wav_rejects():
    with pytest.raises(ValueError):
        decode_wav(b"RIFFxxxxWAVO" + b"\x00" * 20)
    good = encode_wav(np.array([[1], [2]], dtype=np.int64), 8000, bits=16)
    with pytest.raises(ValueError):
        decode_wav(good[:-3])           # truncated data chunk
    with pytest.raises(ValueError):
        encode_wav(np.array([[200]]), 8000, bits=8)   # out of range
    assert decode_audio(b"fLaC....") is None
    assert decode_audio(None) is None
    assert decode_audio(good) is not None


@settings(max_examples=20, deadline=None)
@given(bits=st.sampled_from([8, 16, 24, 32]),
       n=st.integers(1, 40), ch=st.integers(1, 3), seed=st.integers(0, 9))
def test_wav_roundtrip_random(bits, n, ch, seed):
    amp = (1 << (bits - 1)) - 1
    rng = np.random.default_rng(seed)
    samples = rng.integers(-amp, amp + 1, size=(n, ch), dtype=np.int64)
    out, _ = decode_wav(encode_wav(samples, 22050, bits=bits))
    np.testing.assert_array_equal(out, samples)


def test_audio_stats_zero_cross():
    s = np.array([[1], [-1], [-2], [3], [0], [-5]], dtype=np.int64)
    st_ = audio_stats(s)
    # sign flips at 1->-1, -2->3, 0->-5 (0 counts as non-negative)
    assert st_["zero_cross"] == 3
    assert st_["samp_sum"] == -4
    assert st_["samp_min"] == -5 and st_["samp_max"] == 3


def test_synth_pcm_in_range():
    for i in range(24):
        s, rate, bits = synth_pcm_array(i)
        amp = (1 << (bits - 1)) - 1
        assert s.min() >= -amp and s.max() <= amp
        assert rate in (8000, 16000, 44100)
