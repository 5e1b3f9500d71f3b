"""Pure-stdlib image PIXEL codecs: PNG, BMP and GIF decode/encode with
zlib + struct + numpy — no PIL.  PNG's IDAT is zlib deflate, BMP is raw
rows, GIF is LZW (implemented here, including animation).  JPEG is not
decoded.

Format references are the public specifications only: PNG (RFC 2083 /
ISO 15948) chunk layout + filter algorithms, BMP BITMAPINFOHEADER,
GIF89a + its LZW variant (CompuServe spec, appendix F).

Decoded images are numpy uint8 arrays of shape (H, W) for grayscale or
(H, W, C) for multi-channel; encoders accept the same shapes.  All
functions are driver/executor-agnostic pure byte transforms, so a
caller can batch them inside mapInPandas.  No index, query or `jobs/`
code uses them: the reference indexes text, not pixels.
"""

from __future__ import annotations

import struct
import zlib
from typing import Optional, Tuple

import numpy as np

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# color type -> samples per pixel
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}
_PNG_CT_FOR_CHANNELS = {1: 0, 2: 4, 3: 2, 4: 6}


# --------------------------------------------------------------- PNG decode

def decode_png(data: bytes) -> np.ndarray:
    """PNG -> uint8 array (H,W) / (H,W,C).  Supports bit depth 8, color
    types 0/2/3/4/6, non-interlaced.  Palette (type 3) images are
    expanded through PLTE to RGB.  Raises ValueError on anything the
    subset doesn't cover (16-bit, Adam7, corrupt streams)."""
    if not data.startswith(_PNG_SIG):
        raise ValueError("not a PNG stream")
    pos, n = len(_PNG_SIG), len(data)
    ihdr = None
    plte = None
    idat_parts = []
    while pos + 8 <= n:
        (length,) = struct.unpack(">I", data[pos:pos + 4])
        ctype = data[pos + 4:pos + 8]
        body = data[pos + 8:pos + 8 + length]
        if len(body) < length:
            raise ValueError("truncated PNG chunk")
        if ctype == b"IHDR":
            ihdr = body
        elif ctype == b"PLTE":
            plte = body
        elif ctype == b"IDAT":
            idat_parts.append(body)
        elif ctype == b"IEND":
            break
        pos += 12 + length  # len + type + body + crc
    if ihdr is None or len(ihdr) < 13:
        raise ValueError("PNG missing IHDR")
    w, h = struct.unpack(">II", ihdr[:8])
    depth, color_type, _comp, _filt, interlace = ihdr[8:13]
    if depth != 8:
        raise ValueError(f"unsupported PNG bit depth {depth} (only 8)")
    if color_type not in _PNG_CHANNELS:
        raise ValueError(f"unsupported PNG color type {color_type}")
    if interlace != 0:
        raise ValueError("Adam7-interlaced PNG not supported")
    if not idat_parts:
        raise ValueError("PNG missing IDAT")
    channels = _PNG_CHANNELS[color_type]
    raw = zlib.decompress(b"".join(idat_parts))
    stride = w * channels
    if len(raw) != h * (stride + 1):
        raise ValueError("PNG pixel data has wrong length")
    img = _png_unfilter(raw, w, h, channels)
    if color_type == 3:
        if plte is None or len(plte) % 3:
            raise ValueError("palette PNG missing PLTE")
        pal = np.frombuffer(plte, dtype=np.uint8).reshape(-1, 3)
        idx = img.reshape(h, w)
        if int(idx.max(initial=0)) >= pal.shape[0]:
            raise ValueError("PNG palette index out of range")
        return pal[idx]
    return img.reshape(h, w) if channels == 1 else img.reshape(h, w, channels)


def _png_unfilter(raw: bytes, w: int, h: int, channels: int) -> np.ndarray:
    """Reverse the per-scanline filters (types 0-4, RFC 2083 §6).  Up and
    None are fully vectorized; Sub/Average/Paeth carry a within-row
    dependency at pixel stride, so those rows walk the line in numpy
    column slices (W steps of C-wide vectors, not per-byte Python)."""
    stride = w * channels
    arr = np.frombuffer(raw, dtype=np.uint8).reshape(h, stride + 1)
    filters = arr[:, 0]
    cur = arr[:, 1:].astype(np.int32)  # headroom for the filter sums
    prev = np.zeros(stride, dtype=np.int32)
    out = np.empty((h, stride), dtype=np.uint8)
    bpp = channels
    for y in range(h):
        f = int(filters[y])
        line = cur[y]
        if f == 0:
            rec = line & 0xFF
        elif f == 2:  # Up
            rec = (line + prev) & 0xFF
        elif f == 1:  # Sub
            rec = line.copy()
            for x in range(bpp, stride, bpp):
                rec[x:x + bpp] = (rec[x:x + bpp] + rec[x - bpp:x]) & 0xFF
        elif f == 3:  # Average
            rec = line.copy()
            rec[:bpp] = (rec[:bpp] + prev[:bpp] // 2) & 0xFF
            for x in range(bpp, stride, bpp):
                rec[x:x + bpp] = (
                    rec[x:x + bpp]
                    + (rec[x - bpp:x] + prev[x:x + bpp]) // 2
                ) & 0xFF
        elif f == 4:  # Paeth
            rec = line.copy()
            rec[:bpp] = (rec[:bpp] + _paeth(0, prev[:bpp], 0)) & 0xFF
            for x in range(bpp, stride, bpp):
                rec[x:x + bpp] = (
                    rec[x:x + bpp]
                    + _paeth(rec[x - bpp:x], prev[x:x + bpp],
                             prev[x - bpp:x])
                ) & 0xFF
        else:
            raise ValueError(f"bad PNG filter type {f}")
        out[y] = rec.astype(np.uint8)
        prev = rec
    return out


def _paeth(a, b, c):
    """Paeth predictor (RFC 2083 §6.6), elementwise on int arrays."""
    p = a + b - c
    pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
    return np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))


# --------------------------------------------------------------- PNG encode

def encode_png(img: np.ndarray, filter_type: int = 0) -> bytes:
    """uint8 (H,W) / (H,W,C in {1,2,3,4}) -> PNG bytes.  `filter_type`
    selects the per-scanline filter (0-4) — useful for exercising every
    decoder unfilter path; 0 is the fast default."""
    img = np.ascontiguousarray(img, dtype=np.uint8)
    if img.ndim == 2:
        img = img[:, :, None]
    if img.ndim != 3 or img.shape[2] not in _PNG_CT_FOR_CHANNELS:
        raise ValueError("image must be (H,W) or (H,W,C) with C in 1..4")
    h, w, channels = img.shape
    if not (0 <= filter_type <= 4):
        raise ValueError("filter_type must be 0..4")
    color_type = _PNG_CT_FOR_CHANNELS[channels]
    flat = img.reshape(h, w * channels).astype(np.int32)
    stride = w * channels
    bpp = channels
    lines = []
    prev = np.zeros(stride, dtype=np.int32)
    for y in range(h):
        line = flat[y]
        left = np.zeros(stride, dtype=np.int32)
        left[bpp:] = line[:-bpp]
        upleft = np.zeros(stride, dtype=np.int32)
        upleft[bpp:] = prev[:-bpp]
        if filter_type == 0:
            filt = line
        elif filter_type == 1:
            filt = line - left
        elif filter_type == 2:
            filt = line - prev
        elif filter_type == 3:
            filt = line - (left + prev) // 2
        else:
            filt = line - _paeth(left, prev, upleft)
        lines.append(bytes([filter_type])
                     + (filt & 0xFF).astype(np.uint8).tobytes())
        prev = line
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    idat = zlib.compress(b"".join(lines), 6)
    return (_PNG_SIG
            + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", idat)
            + _png_chunk(b"IEND", b""))


def _png_chunk(ctype: bytes, body: bytes) -> bytes:
    crc = zlib.crc32(ctype + body) & 0xFFFFFFFF
    return struct.pack(">I", len(body)) + ctype + body + struct.pack(">I", crc)


# --------------------------------------------------------------- BMP

def decode_bmp(data: bytes) -> np.ndarray:
    """BMP (BITMAPINFOHEADER, BI_RGB, 8/24/32 bpp) -> uint8 array.
    Bottom-up (positive height) and top-down rows both handled; 24/32
    bpp convert BGR(A) -> RGB(A); 8 bpp expands the color table."""
    if data[:2] != b"BM" or len(data) < 54:
        raise ValueError("not a BMP stream")
    (pix_off,) = struct.unpack("<I", data[10:14])
    (hdr_size,) = struct.unpack("<I", data[14:18])
    if hdr_size < 40:
        raise ValueError("only BITMAPINFOHEADER-family BMPs supported")
    w, h_signed = struct.unpack("<ii", data[18:26])
    planes, bpp = struct.unpack("<HH", data[26:30])
    (compression,) = struct.unpack("<I", data[30:34])
    if compression != 0:
        raise ValueError("compressed BMP not supported")
    if bpp not in (8, 24, 32):
        raise ValueError(f"unsupported BMP bpp {bpp}")
    h = abs(h_signed)
    bottom_up = h_signed > 0
    row_bytes = (w * bpp // 8 + 3) & ~3
    need = pix_off + row_bytes * h
    if len(data) < need:
        raise ValueError("truncated BMP pixel data")
    rows = np.frombuffer(
        data[pix_off:pix_off + row_bytes * h], dtype=np.uint8
    ).reshape(h, row_bytes)[:, : w * bpp // 8]
    if bottom_up:
        rows = rows[::-1]
    if bpp == 8:
        # color table sits between header and pixels: 4-byte BGRX entries
        tbl_off = 14 + hdr_size
        n_colors = struct.unpack("<I", data[46:50])[0] or 256
        tbl = np.frombuffer(
            data[tbl_off:tbl_off + 4 * n_colors], dtype=np.uint8
        ).reshape(-1, 4)[:, :3][:, ::-1]  # BGRX -> RGB
        return tbl[rows]
    px = rows.reshape(h, w, bpp // 8)
    if bpp == 24:
        return px[:, :, ::-1].copy()           # BGR -> RGB
    return px[:, :, [2, 1, 0, 3]].copy()       # BGRA -> RGBA


def encode_bmp(img: np.ndarray) -> bytes:
    """uint8 (H,W,3) RGB -> 24bpp bottom-up BI_RGB BMP bytes."""
    img = np.ascontiguousarray(img, dtype=np.uint8)
    if img.ndim != 3 or img.shape[2] != 3:
        raise ValueError("encode_bmp wants (H,W,3) RGB")
    h, w, _ = img.shape
    row_bytes = (w * 3 + 3) & ~3
    pad = row_bytes - w * 3
    body = bytearray()
    for y in range(h - 1, -1, -1):
        body += img[y, :, ::-1].tobytes()  # RGB -> BGR
        body += b"\x00" * pad
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0,
                       len(body), 2835, 2835, 0, 0)
    file_hdr = b"BM" + struct.pack("<IHHI", 54 + len(body), 0, 0, 54)
    return bytes(file_hdr + info + body)


# --------------------------------------------------------------- GIF

def decode_gif(data: bytes) -> np.ndarray:
    """GIF87a/89a first frame -> uint8 (H,W,3) RGB via the active color
    table.  Full LZW decode with code-width growth and clear codes;
    interlaced frames are de-interlaced (the 4-pass row order)."""
    if data[:3] != b"GIF" or data[3:6] not in (b"87a", b"89a"):
        raise ValueError("not a GIF stream")
    if len(data) < 14:
        raise ValueError("truncated GIF header")
    sw, sh = struct.unpack("<HH", data[6:10])
    packed = data[10]
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        gct = np.frombuffer(data[pos:pos + 3 * n], dtype=np.uint8
                            ).reshape(-1, 3)
        pos += 3 * n
    while pos < len(data):
        block = data[pos]
        if block == 0x21:  # extension: label + sub-blocks
            pos += 2
            while pos < len(data) and data[pos] != 0:
                pos += 1 + data[pos]
            pos += 1
        elif block == 0x2C:  # image descriptor
            _left, _top, iw, ih = struct.unpack("<HHHH", data[pos + 1:pos + 9])
            ipacked = data[pos + 9]
            pos += 10
            lct = gct
            if ipacked & 0x80:
                n = 2 << (ipacked & 0x07)
                lct = np.frombuffer(data[pos:pos + 3 * n], dtype=np.uint8
                                    ).reshape(-1, 3)
                pos += 3 * n
            if lct is None:
                raise ValueError("GIF frame has no color table")
            min_code_size = data[pos]
            pos += 1
            chunks = []
            while pos < len(data) and data[pos] != 0:
                ln = data[pos]
                chunks.append(data[pos + 1:pos + 1 + ln])
                pos += 1 + ln
            indices = _lzw_decode(b"".join(chunks), min_code_size,
                                  iw * ih)
            idx = np.asarray(indices, dtype=np.int32).reshape(ih, iw)
            if ipacked & 0x40:  # interlaced: undo the 4-pass order
                order = np.concatenate([
                    np.arange(0, ih, 8), np.arange(4, ih, 8),
                    np.arange(2, ih, 4), np.arange(1, ih, 2)])
                de = np.empty_like(idx)
                de[order] = idx
                idx = de
            if int(idx.max(initial=0)) >= lct.shape[0]:
                raise ValueError("GIF index out of color-table range")
            return lct[idx]
        elif block == 0x3B:
            break
        else:
            raise ValueError(f"unknown GIF block 0x{block:02x}")
    raise ValueError("GIF has no image frame")


def _lzw_decode(data: bytes, min_code_size: int, expect: int) -> list:
    """GIF-variant LZW: LSB-first bit packing, code width grows from
    min+1 to 12, CLEAR resets the table, EOI terminates."""
    clear = 1 << min_code_size
    eoi = clear + 1
    bits = np.unpackbits(
        np.frombuffer(data, dtype=np.uint8), bitorder="little"
    )
    out: list = []
    bitpos = 0
    nbits = len(bits)

    def reset():
        return {i: [i] for i in range(clear)}, min_code_size + 1, clear + 2

    table, width, next_code = reset()
    prev_seq = None
    while bitpos + width <= nbits:
        code = int(bits[bitpos:bitpos + width] @ (1 << np.arange(width)))
        bitpos += width
        if code == clear:
            table, width, next_code = reset()
            prev_seq = None
            continue
        if code == eoi:
            break
        if prev_seq is None:
            seq = table[code]
        elif code in table:
            seq = table[code]
            table[next_code] = prev_seq + [seq[0]]
            next_code += 1
        elif code == next_code:  # the KwKwK case
            seq = prev_seq + [prev_seq[0]]
            table[next_code] = seq
            next_code += 1
        else:
            raise ValueError("corrupt GIF LZW stream")
        out.extend(seq)
        prev_seq = seq
        if next_code >= (1 << width) and width < 12:
            width += 1
        if len(out) >= expect:
            break
    if len(out) < expect:
        raise ValueError("GIF LZW stream shorter than frame")
    return out[:expect]


def decode_gif_frames(data: bytes) -> list:
    """Animated GIF -> [(delay_ms, canvas (H,W,3) RGB uint8), ...] with
    frames COMPOSITED onto the logical screen: per-frame left/top
    offsets, Graphics Control Extension delays, transparency (index
    pixels show through from the previous canvas) and disposal methods
    0/1 (leave) and 2 (restore to background = zeros).  Disposal 3
    (restore-previous) is treated as leave — documented subset.
    A zero GCE delay is reported as 100 ms (the common player default)."""
    if data[:3] != b"GIF" or data[3:6] not in (b"87a", b"89a"):
        raise ValueError("not a GIF stream")
    if len(data) < 14:
        raise ValueError("truncated GIF header")
    sw, sh = struct.unpack("<HH", data[6:10])
    packed = data[10]
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        gct = np.frombuffer(data[pos:pos + 3 * n], dtype=np.uint8
                            ).reshape(-1, 3)
        pos += 3 * n
    canvas = np.zeros((sh, sw, 3), dtype=np.uint8)
    frames = []
    delay_ms = 100
    transparent = None
    disposal = 0
    while pos < len(data):
        block = data[pos]
        if block == 0x21:
            label = data[pos + 1]
            pos += 2
            if label == 0xF9 and data[pos] >= 4:  # Graphics Control Ext
                gpacked = data[pos + 1]
                (delay_cs,) = struct.unpack("<H", data[pos + 2:pos + 4])
                delay_ms = delay_cs * 10 or 100
                transparent = data[pos + 4] if gpacked & 0x01 else None
                disposal = (gpacked >> 2) & 0x07
            while pos < len(data) and data[pos] != 0:
                pos += 1 + data[pos]
            pos += 1
        elif block == 0x2C:
            left, top, iw, ih = struct.unpack("<HHHH", data[pos + 1:pos + 9])
            ipacked = data[pos + 9]
            pos += 10
            lct = gct
            if ipacked & 0x80:
                n = 2 << (ipacked & 0x07)
                lct = np.frombuffer(data[pos:pos + 3 * n], dtype=np.uint8
                                    ).reshape(-1, 3)
                pos += 3 * n
            if lct is None:
                raise ValueError("GIF frame has no color table")
            min_code_size = data[pos]
            pos += 1
            chunks = []
            while pos < len(data) and data[pos] != 0:
                ln = data[pos]
                chunks.append(data[pos + 1:pos + 1 + ln])
                pos += 1 + ln
            pos += 1  # block terminator
            idx = np.asarray(
                _lzw_decode(b"".join(chunks), min_code_size, iw * ih),
                dtype=np.int32,
            ).reshape(ih, iw)
            if ipacked & 0x40:
                order = np.concatenate([
                    np.arange(0, ih, 8), np.arange(4, ih, 8),
                    np.arange(2, ih, 4), np.arange(1, ih, 2)])
                de = np.empty_like(idx)
                de[order] = idx
                idx = de
            if int(idx.max(initial=0)) >= lct.shape[0]:
                raise ValueError("GIF index out of color-table range")
            region = canvas[top:top + ih, left:left + iw]
            painted = lct[idx]
            if transparent is not None:
                opaque = (idx != transparent)[:, :, None]
                painted = np.where(opaque, painted, region)
            canvas[top:top + ih, left:left + iw] = painted
            frames.append((delay_ms, canvas.copy()))
            if disposal == 2:
                canvas[top:top + ih, left:left + iw] = 0
            delay_ms, transparent, disposal = 100, None, 0
        elif block == 0x3B:
            break
        else:
            raise ValueError(f"unknown GIF block 0x{block:02x}")
    if not frames:
        raise ValueError("GIF has no image frame")
    return frames


def encode_gif_animation(frames, delays_ms=None) -> bytes:
    """[(H,W) uint8 gray frames] (all the logical-screen size) -> an
    animated GIF89a with per-frame Graphics Control delays — the test
    generator for decode_gif_frames."""
    if not frames:
        raise ValueError("need at least one frame")
    frames = [np.ascontiguousarray(f, dtype=np.uint8) for f in frames]
    h, w = frames[0].shape
    if delays_ms is None:
        delays_ms = [100] * len(frames)
    gct = bytes(v for g in range(256) for v in (g, g, g))
    out = bytearray(b"GIF89a" + struct.pack("<HH", w, h)
                    + bytes([0xF7, 0x00, 0x00]) + gct)
    for img, delay in zip(frames, delays_ms):
        if img.shape != (h, w):
            raise ValueError("all frames must match the screen size")
        out += (b"\x21\xf9\x04" + bytes([0x00])
                + struct.pack("<H", max(delay // 10, 1)) + b"\x00\x00")
        lzw = _lzw_encode(img.reshape(-1).tolist(), 8)
        out += b"\x2c" + struct.pack("<HHHH", 0, 0, w, h) + b"\x00\x08"
        for i in range(0, len(lzw), 255):
            out += bytes([len(lzw[i:i + 255])]) + lzw[i:i + 255]
        out += b"\x00"
    out += b"\x3b"
    return bytes(out)


def encode_gif(img: np.ndarray, interlace: bool = False) -> bytes:
    """uint8 (H,W) palette-index-is-gray-level image -> GIF89a bytes
    with a 256-entry grayscale color table (decoding yields (H,W,3)
    with R=G=B=the input values).  Real LZW compression with table
    growth and 4096-entry clears — exercising the decoder's full path."""
    img = np.ascontiguousarray(img, dtype=np.uint8)
    if img.ndim != 2:
        raise ValueError("encode_gif wants a (H,W) uint8 index image")
    h, w = img.shape
    gct = bytes(v for g in range(256) for v in (g, g, g))
    flat = img.reshape(-1)
    if interlace:
        order = np.concatenate([
            np.arange(0, h, 8), np.arange(4, h, 8),
            np.arange(2, h, 4), np.arange(1, h, 2)])
        flat = img[order].reshape(-1)
    lzw = _lzw_encode(flat.tolist(), 8)
    sub_blocks = b"".join(
        bytes([len(lzw[i:i + 255])]) + lzw[i:i + 255]
        for i in range(0, len(lzw), 255)
    )
    return (b"GIF89a" + struct.pack("<HH", w, h)
            + bytes([0xF7, 0x00, 0x00])      # GCT present, 256 entries
            + gct
            + b"\x2c" + struct.pack("<HHHH", 0, 0, w, h)
            + bytes([0x40 if interlace else 0x00])
            + bytes([8])                      # LZW min code size
            + sub_blocks + b"\x00" + b"\x3b")


def _lzw_encode(indices: list, min_code_size: int) -> bytes:
    """GIF-variant LZW encoder (table growth to 12 bits, CLEAR on full
    table), LSB-first bit packing."""
    clear = 1 << min_code_size
    eoi = clear + 1
    out_bits = []

    def emit(code: int, width: int):
        for k in range(width):
            out_bits.append((code >> k) & 1)

    def reset():
        return ({(i,): i for i in range(clear)},
                min_code_size + 1, clear + 2)

    table, width, next_code = reset()
    emit(clear, width)
    seq: Tuple[int, ...] = ()
    for sym in indices:
        cand = seq + (sym,)
        if cand in table:
            seq = cand
            continue
        emit(table[seq], width)
        table[cand] = next_code
        next_code += 1
        if next_code > (1 << width) and width < 12:
            width += 1
        if next_code >= 4096:
            emit(clear, width)
            table, width, next_code = reset()
        seq = (sym,)
    if seq:
        emit(table[seq], width)
    emit(eoi, width)
    bits = np.array(out_bits, dtype=np.uint8)
    return np.packbits(bits, bitorder="little").tobytes()


# --------------------------------------------------------------- dispatch

def decode_image(data: Optional[bytes]) -> Optional[Tuple[np.ndarray, str]]:
    """Sniff the container and decode pixels.  -> (array, format) or
    None when the bytes are not a supported pixel container (JPEG and
    unknown formats yield None).  Corrupt or truncated streams also
    yield None: curation keeps the row and filters on the null, it
    never crashes the batch."""
    if not data:
        return None
    b = bytes(data)
    try:
        if b.startswith(_PNG_SIG):
            return decode_png(b), "png"
        if b[:2] == b"BM":
            return decode_bmp(b), "bmp"
        if b[:3] == b"GIF":
            return decode_gif(b), "gif"
    except (ValueError, IndexError, KeyError, struct.error):
        return None
    return None


def resize_nearest(img: np.ndarray, width: int, height: int) -> np.ndarray:
    """Nearest-neighbor resample to (height, width) via index maps —
    pure numpy fancy indexing, no loops."""
    h, w = img.shape[:2]
    ys = np.minimum((np.arange(height) * h) // height, h - 1)
    xs = np.minimum((np.arange(width) * w) // width, w - 1)
    return img[ys][:, xs]
