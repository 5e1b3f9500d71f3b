"""Numpy-vectorized VByte (variable-byte) integer codec + delta-gap
posting-block format.

Format parity with the reference's chunked integer posting layout
(org/terrier/structures/integer/IntegerCodingPostingOutputStream.java:194-267
and compression/integer/codec/VIntCodec.java:41-81): posting chunks store
docid GAPS and term frequencies as two separately-compressed arrays
("columnar posting format"), chunk size default 1024.  We use the classic
continuation-bit VByte: little-endian 7-bit groups, high bit set on all
but the final byte of each integer (equivalent information content to
Hadoop VInt; byte layout chosen for branch-free numpy decode).

Encoding (all numpy, no per-row Python):
  * gaps: ids[0]+1, diff(ids)  — "+1" so a leading docid 0 still advances,
    mirroring the reference's gamma(first docid + 1) convention
    (org/terrier/structures/postings/bit/BasicIterablePosting.java:38).
  * tfs encoded as-is (tf >= 1).
"""

from __future__ import annotations

import numpy as np


def vbyte_encode(values: np.ndarray) -> bytes:
    """Encode a uint64 array to VByte bytes (vectorized)."""
    v = np.asarray(values, dtype=np.uint64)
    if v.size == 0:
        return b""
    # number of 7-bit groups per value (1..10)
    nbytes = np.ones(v.size, dtype=np.int64)
    shifted = v >> np.uint64(7)
    while shifted.any():
        nbytes[shifted > 0] += 1
        shifted = shifted >> np.uint64(7)
    total = int(nbytes.sum())
    out = np.empty(total, dtype=np.uint8)
    # byte positions: offsets of each value's first byte
    ends = np.cumsum(nbytes)
    starts = ends - nbytes
    # fill byte-by-byte position within each value
    # max bytes is small (<=10); loop over byte index, vectorized over values
    maxb = int(nbytes.max())
    vals = v.copy()
    for bi in range(maxb):
        sel = nbytes > bi
        pos = starts[sel] + bi
        chunk = (vals[sel] & np.uint64(0x7F)).astype(np.uint8)
        is_last = nbytes[sel] == bi + 1
        chunk = np.where(is_last, chunk, chunk | np.uint8(0x80))
        out[pos] = chunk
        vals[sel] = vals[sel] >> np.uint64(7)
    return out.tobytes()


def _decode_sections(raw: np.ndarray, lengths, counts) -> np.ndarray:
    """The one VByte decoder.  `raw` (uint8) is back-to-back sections,
    section i `lengths[i]` bytes long and holding exactly `counts[i]`
    values -> every section's values, concatenated (uint64), in one
    vectorized pass.  ValueError when a section holds another count of
    values or ends inside a value."""
    lengths = np.asarray(lengths, dtype=np.int64)
    counts = np.asarray(counts, dtype=np.int64)
    last = raw < 0x80  # the final byte of each value
    # done[i] = whole values in raw[:i]
    done = np.zeros(raw.size + 1,
                    dtype=np.int64 if raw.size >> 31 else np.int32)
    np.cumsum(last, out=done[1:])
    ends = np.cumsum(lengths)
    got = done[ends] - done[ends - lengths]
    ok = got == counts
    if raw.size:
        ok &= (lengths == 0) | last[ends - 1]  # no value cut at the end
    if np.count_nonzero(ok) < ok.size:
        i = int(np.argmin(ok))
        raise ValueError(
            f"VByte section {i}: {int(lengths[i])} bytes hold "
            f"{int(got[i])} whole values, expected {int(counts[i])}"
        )
    # a value's final byte is its highest 7-bit group; the bytes before
    # it (high bit set) are rare, so only those take extra passes
    vals = raw[last].astype(np.uint64)
    if vals.size < raw.size:
        more = (~last).nonzero()[0]
        value = more - np.arange(more.size)  # values that end before it
        new = np.empty(more.size, dtype=bool)
        new[0] = True
        new[1:] = value[1:] != value[:-1]
        head = new.nonzero()[0]
        width = np.empty_like(head)  # low groups of each long value
        width[:-1] = head[1:] - head[:-1]
        width[-1] = more.size - head[-1]
        if np.count_nonzero(width > 9):
            raise ValueError("VByte value longer than 10 bytes")
        shift = (more - np.repeat(more[head], width)) * 7
        low = np.bitwise_or.reduceat(
            (raw[more] & 0x7F).astype(np.uint64) << shift.astype(np.uint64),
            head)
        at = value[head]
        vals[at] = (vals[at] << (width * 7).astype(np.uint64)) | low
    return vals


def _concat(parts) -> tuple[np.ndarray, np.ndarray]:
    """-> (the parts' bytes joined as uint8, each part's byte length)."""
    sizes = np.fromiter(map(len, parts), dtype=np.int64, count=len(parts))
    return np.frombuffer(b"".join(parts), dtype=np.uint8), sizes


def vbyte_decode(data: bytes, count: int | None = None) -> np.ndarray:
    """Decode VByte bytes back to a uint64 array (vectorized); with
    `count`, ValueError unless the bytes hold exactly that many values."""
    raw = np.frombuffer(data or b"", dtype=np.uint8)
    if count is None:
        count = np.count_nonzero(raw < 0x80)
    return _decode_sections(raw, [raw.size], [count])


def vbyte_decode_parts(parts, counts) -> np.ndarray:
    """Decode a sequence of VByte byte strings, part i holding exactly
    `counts[i]` values, in one pass -> their values concatenated; a part
    holding another count raises ValueError."""
    raw, sizes = _concat(parts)
    return _decode_sections(raw, sizes, counts)


def encode_scoring_block(docids: np.ndarray, tfs: np.ndarray,
                         doclens: np.ndarray) -> bytes:
    """Self-contained scoring block: VByte(gaps) ++ VByte(tfs) ++
    VByte(doclens).  Carrying doclens inside the block means BM25 scoring
    needs NO join against the docs table at query time — at 10^12-doc
    scale neither a broadcast of doclens (the reference loads them all
    into an int[] heap array, FSADocumentIndex.java:39-89) nor a shuffle
    join would be acceptable; ~1 byte/posting here buys both back."""
    ids = np.asarray(docids, dtype=np.int64)
    if ids.size == 0:
        return b""
    gaps = np.empty(ids.size, dtype=np.uint64)
    gaps[0] = np.uint64(ids[0] + 1)
    if ids.size > 1:
        gaps[1:] = np.diff(ids).astype(np.uint64)
    id_bytes = vbyte_encode(gaps)
    tf_bytes = vbyte_encode(np.asarray(tfs, dtype=np.uint64))
    dl_bytes = vbyte_encode(np.asarray(doclens, dtype=np.uint64))
    header = np.array([ids.size, len(id_bytes), len(tf_bytes)],
                      dtype=np.uint32).tobytes()
    return header + id_bytes + tf_bytes + dl_bytes


_HEADER = 12  # uint32 (n, gap bytes, tf bytes) of a scoring block


def decode_scoring_blocks(blocks) -> tuple[np.ndarray, np.ndarray,
                                          np.ndarray, np.ndarray]:
    """Decode a sequence of scoring blocks in one vectorized pass ->
    (docids int64, tfs int64, doclens int64, postings per block int64),
    the postings of all blocks concatenated in block order.  An empty
    block holds no postings.  ValueError when a block is cut short or a
    gap, tf or doclen section does not hold exactly the header's n
    values."""
    raw, sizes = _concat(blocks)
    full = sizes > 0
    if np.count_nonzero(sizes[full] < _HEADER):
        raise ValueError("scoring block shorter than its header")
    hdr_at = ((np.cumsum(sizes) - sizes)[full, None]
              + np.arange(_HEADER)).ravel()
    hdr = np.zeros((sizes.size, 3), dtype=np.int64)
    hdr[full] = raw[hdr_at].view(np.uint32).reshape(-1, 3)
    n = hdr[:, 0]
    # each block's gap, tf and doclen sections, back to back
    lengths = np.empty_like(hdr)
    lengths[:, :2] = hdr[:, 1:]
    lengths[:, 2] = sizes - _HEADER * full - hdr[:, 1] - hdr[:, 2]
    if np.count_nonzero(lengths < 0):
        raise ValueError("scoring block shorter than its section lengths")
    payload = np.ones(raw.size, dtype=bool)
    payload[hdr_at] = False
    counts = np.repeat(n, 3)
    vals = _decode_sections(raw[payload], lengths.ravel(), counts)
    kind = np.empty((sizes.size, 3), dtype=np.int8)
    kind[:] = (0, 1, 2)
    kind = np.repeat(kind.ravel(), counts)
    # docids: per-block prefix sums of the gaps (first gap = first docid
    # + 1); uint64 wraps, so the difference is exact for docids < 2^63
    run = np.cumsum(vals[kind == 0])
    base = np.concatenate((np.zeros(1, np.uint64), run))[np.cumsum(n) - n]
    ids = (run - np.repeat(base, n)).astype(np.int64) - 1
    return (ids, vals[kind == 1].astype(np.int64),
            vals[kind == 2].astype(np.int64), n)


def decode_scoring_block(block: bytes) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """-> (docids int64 ascending, tfs int64, doclens int64)."""
    ids, tfs, dls, _ = decode_scoring_blocks([block])
    return ids, tfs, dls


def encode_positions(positions_concat: np.ndarray) -> bytes:
    """VByte the concatenated per-posting position lists (the per-posting
    slice lengths are the tfs, so no extra length array is needed —
    positions count == tf, as in the reference's block postings,
    org/terrier/structures/indexing/classical/BlockIndexer.java:84-99)."""
    return vbyte_encode(np.asarray(positions_concat, dtype=np.uint64))


def decode_positions(data: bytes, tfs: np.ndarray) -> list[np.ndarray]:
    """-> per-posting position arrays, split by tfs."""
    total = int(np.asarray(tfs).sum())
    flat = vbyte_decode(data, total).astype(np.int64)
    return np.split(flat, np.cumsum(np.asarray(tfs, dtype=np.int64))[:-1])

