"""Pure-stdlib pixel codec tests: PNG/BMP/GIF round-trips covering every
PNG filter type, palette paths, GIF LZW table growth + clears +
interlace, BMP padding/orientation, the dispatch sniffing, GIF
animation compositing and nearest-neighbour resize."""

import struct
import zlib

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from terrier_spark.datapipe.imagecodec import (
    decode_bmp,
    decode_gif,
    decode_image,
    decode_png,
    encode_bmp,
    encode_gif,
    encode_png,
    resize_nearest,
)


def _pattern(h, w, c=None, seed=0):
    """Deterministic non-trivial pixel field."""
    y, x = np.mgrid[0:h, 0:w]
    if c is None:
        return ((3 * x + 7 * y + seed) % 256).astype(np.uint8)
    chan = np.arange(c)[None, None, :]
    return ((3 * x[:, :, None] + 7 * y[:, :, None] + 31 * chan + seed)
            % 256).astype(np.uint8)


# ------------------------------------------------------------------- PNG

@pytest.mark.parametrize("filter_type", [0, 1, 2, 3, 4])
@pytest.mark.parametrize("channels", [None, 2, 3, 4])
def test_png_roundtrip_all_filters(filter_type, channels):
    img = _pattern(13, 17, channels, seed=filter_type)
    out = decode_png(encode_png(img, filter_type=filter_type))
    np.testing.assert_array_equal(out, img)


def test_png_one_pixel_and_one_column():
    for shape in [(1, 1), (1, 9), (9, 1)]:
        for ft in range(5):
            img = _pattern(*shape, 3, seed=ft)
            np.testing.assert_array_equal(
                decode_png(encode_png(img, filter_type=ft)), img)


def test_png_palette_decode():
    # hand-built ct3 PNG: 4x2 indices through an 8-entry palette
    idx = np.array([[0, 1, 2, 3], [7, 6, 5, 4]], dtype=np.uint8)
    pal = bytes(v for i in range(8) for v in (i * 30, 255 - i * 30, i))
    raw = b"".join(b"\x00" + idx[y].tobytes() for y in range(2))
    ihdr = struct.pack(">IIBBBBB", 4, 2, 8, 3, 0, 0, 0)

    def chunk(t, b):
        return (struct.pack(">I", len(b)) + t + b
                + struct.pack(">I", zlib.crc32(t + b) & 0xFFFFFFFF))

    png = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
           + chunk(b"PLTE", pal)
           + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))
    out = decode_png(png)
    expect = np.frombuffer(pal, np.uint8).reshape(8, 3)[idx]
    np.testing.assert_array_equal(out, expect)


def test_png_rejects_unsupported():
    img = _pattern(4, 4, 3)
    good = encode_png(img)
    with pytest.raises(ValueError):
        decode_png(b"nope" + good)
    # 16-bit depth
    bad = bytearray(good)
    bad[24] = 16
    with pytest.raises(ValueError):
        decode_png(bytes(bad))
    # Adam7 interlace flag
    bad = bytearray(good)
    bad[28] = 1
    with pytest.raises(ValueError):
        decode_png(bytes(bad))
    # truncated IDAT payload
    with pytest.raises(ValueError):
        decode_png(good[:40])


@settings(max_examples=25, deadline=None)
@given(
    h=st.integers(1, 12), w=st.integers(1, 12),
    c=st.sampled_from([0, 1, 2, 3, 4]),
    ft=st.integers(0, 4),
    data=st.data(),
)
def test_png_roundtrip_random(h, w, c, ft, data):
    n = h * w * max(c, 1)
    flat = np.array(
        data.draw(st.lists(st.integers(0, 255), min_size=n, max_size=n)),
        dtype=np.uint8,
    )
    img = flat.reshape((h, w) if c == 0 else (h, w, c))
    out = decode_png(encode_png(img, filter_type=ft))
    # the decoder's convention: 1-channel images come back as (H, W)
    np.testing.assert_array_equal(out, img.reshape(h, w) if c == 1 else img)


# ------------------------------------------------------------------- BMP

def test_bmp_roundtrip_odd_width():
    for w in (1, 2, 3, 5, 8):   # exercises 0-3 bytes of row padding
        img = _pattern(6, w, 3, seed=w)
        np.testing.assert_array_equal(decode_bmp(encode_bmp(img)), img)


def test_bmp_topdown_and_32bpp():
    img = _pattern(4, 3, 3)
    enc = bytearray(encode_bmp(img))
    # flip to top-down: negate height, reverse stored row order
    (h,) = struct.unpack("<i", enc[22:26])
    enc[22:26] = struct.pack("<i", -h)
    row_bytes = (3 * 3 + 3) & ~3
    rows = [bytes(enc[54 + i * row_bytes:54 + (i + 1) * row_bytes])
            for i in range(4)]
    enc[54:] = b"".join(reversed(rows))
    np.testing.assert_array_equal(decode_bmp(bytes(enc)), img)

    # 32bpp BGRA -> RGBA
    px = _pattern(2, 2, 4)
    body = b"".join(px[y, :, [2, 1, 0, 3]].T.tobytes() for y in (1, 0))
    info = struct.pack("<IiiHHIIiiII", 40, 2, 2, 1, 32, 0, len(body),
                       0, 0, 0, 0)
    bmp = b"BM" + struct.pack("<IHHI", 54 + len(body), 0, 0, 54) + info + body
    np.testing.assert_array_equal(decode_bmp(bmp), px)


def test_bmp_8bpp_palette():
    idx = _pattern(3, 4)
    tbl = b"".join(bytes([255 - i, i, (i * 3) % 256, 0]) for i in range(256))
    row_bytes = (4 + 3) & ~3
    body = b"".join(
        idx[y].tobytes() + b"\x00" * (row_bytes - 4) for y in (2, 1, 0))
    info = struct.pack("<IiiHHIIiiII", 40, 4, 3, 1, 8, 0, len(body),
                       0, 0, 256, 0)
    off = 14 + 40 + len(tbl)
    bmp = (b"BM" + struct.pack("<IHHI", off + len(body), 0, 0, off)
           + info + tbl + body)
    out = decode_bmp(bmp)
    expect = np.frombuffer(tbl, np.uint8).reshape(256, 4)[:, :3][:, ::-1][idx]
    np.testing.assert_array_equal(out, expect)


def test_bmp_rejects():
    with pytest.raises(ValueError):
        decode_bmp(b"XX" + b"\x00" * 60)
    img = _pattern(3, 3, 3)
    with pytest.raises(ValueError):
        decode_bmp(encode_bmp(img)[:-5])


# ------------------------------------------------------------------- GIF

def test_gif_roundtrip_small():
    img = _pattern(7, 11, seed=3)
    out = decode_gif(encode_gif(img))
    # grayscale palette: every channel equals the index value
    for ch in range(3):
        np.testing.assert_array_equal(out[:, :, ch], img)


def test_gif_roundtrip_large_grows_code_width():
    # >4096 distinct LZW phrases: exercises width growth 9->12 bits and
    # the encoder's CLEAR + decoder reset path
    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, size=(80, 90), dtype=np.uint8)
    out = decode_gif(encode_gif(img))
    np.testing.assert_array_equal(out[:, :, 0], img)


def test_gif_interlaced():
    img = _pattern(13, 6, seed=5)
    out = decode_gif(encode_gif(img, interlace=True))
    np.testing.assert_array_equal(out[:, :, 1], img)


def test_gif_rejects():
    with pytest.raises(ValueError):
        decode_gif(b"GIF89a" + b"\x00" * 4)   # truncated
    good = encode_gif(_pattern(4, 4))
    with pytest.raises(ValueError):
        decode_gif(good[:30])


@settings(max_examples=15, deadline=None)
@given(h=st.integers(1, 16), w=st.integers(1, 16), seed=st.integers(0, 9))
def test_gif_roundtrip_random(h, w, seed):
    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, size=(h, w), dtype=np.uint8)
    out = decode_gif(encode_gif(img))
    np.testing.assert_array_equal(out[:, :, 0], img)


# -------------------------------------------------------------- dispatch

def test_decode_image_dispatch():
    png = encode_png(_pattern(5, 4, 3))
    bmp = encode_bmp(_pattern(5, 4, 3))
    gif = encode_gif(_pattern(5, 4))
    assert decode_image(png)[1] == "png"
    assert decode_image(bmp)[1] == "bmp"
    assert decode_image(gif)[1] == "gif"
    assert decode_image(None) is None
    assert decode_image(b"") is None
    assert decode_image(b"\xff\xd8\xff\xe0 jpeg has no stdlib path") is None
    assert decode_image(png[:20]) is None   # corrupt -> None, not raise


def test_resize_nearest_exact():
    img = _pattern(4, 4, 3)
    up = resize_nearest(img, 8, 8)
    assert up.shape == (8, 8, 3)
    np.testing.assert_array_equal(up[::2, ::2], img)   # 2x upsample grid
    down = resize_nearest(img, 2, 2)
    np.testing.assert_array_equal(down, img[::2, ::2])


# ------------------------------------------------------------ animated GIF

def test_gif_animation_roundtrip():
    from terrier_spark.datapipe.imagecodec import (
        decode_gif_frames,
        encode_gif_animation,
    )

    frames = [_pattern(6, 9, seed=k) for k in range(3)]
    seq = decode_gif_frames(encode_gif_animation(frames, [40, 80, 120]))
    assert [d for d, _ in seq] == [40, 80, 120]
    for (_, canvas), f in zip(seq, frames):
        for ch in range(3):
            np.testing.assert_array_equal(canvas[:, :, ch], f)


def test_gif_animation_transparency_and_disposal():
    """Hand-built 2-frame GIF: frame 2 is a 1x1 sub-rectangle at (1,1)
    whose single pixel is the transparent index -> the composited second
    canvas must equal the first (pixel shows through); then a disposal-2
    frame region is cleared before the third frame composites."""
    from terrier_spark.datapipe.imagecodec import (
        _lzw_encode,
        decode_gif_frames,
    )

    def subblocks(payload):
        return b"".join(
            bytes([len(payload[i:i + 255])]) + payload[i:i + 255]
            for i in range(0, len(payload), 255)) + b"\x00"

    gct = bytes(v for g in range(256) for v in (g, g, g))
    f1 = _pattern(4, 4, seed=1)
    base = (b"GIF89a" + struct.pack("<HH", 4, 4)
            + bytes([0xF7, 0, 0]) + gct)
    # frame 1: full size, disposal 2 (restore bg after), delay 50ms
    img1 = (b"\x21\xf9\x04" + bytes([0x08]) + struct.pack("<H", 5)
            + b"\x00\x00"
            + b"\x2c" + struct.pack("<HHHH", 0, 0, 4, 4) + b"\x00\x08"
            + subblocks(_lzw_encode(f1.reshape(-1).tolist(), 8)))
    # frame 2: 1x1 at (1,1), transparent index 7, delay 50ms
    img2 = (b"\x21\xf9\x04" + bytes([0x01]) + struct.pack("<H", 5)
            + bytes([7]) + b"\x00"
            + b"\x2c" + struct.pack("<HHHH", 1, 1, 1, 1) + b"\x00\x08"
            + subblocks(_lzw_encode([7], 8)))
    seq = decode_gif_frames(base + img1 + img2 + b"\x3b")
    assert len(seq) == 2 and seq[0][0] == 50
    np.testing.assert_array_equal(seq[0][1][:, :, 0], f1)
    # after frame 1's disposal-2 the full region is cleared to 0; the
    # transparent 1x1 frame then shows the CLEARED canvas -> all zeros
    assert int(seq[1][1].sum()) == 0
