"""VByte codec round-trip + property tests (FIXTURES.md §6)."""

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from terrier_spark.index.builder import (
    BLOCK_COLUMNS,
    decode_blocks,
    encode_blocks,
)

from terrier_spark.compression.vbyte import (
    decode_scoring_block,
    decode_scoring_blocks,
    encode_scoring_block,
    vbyte_decode,
    vbyte_decode_parts,
    vbyte_encode,
)


def test_empty():
    assert vbyte_encode(np.array([], dtype=np.uint64)) == b""
    assert vbyte_decode(b"").size == 0
    assert encode_scoring_block(np.array([], dtype=np.int64), [], []) == b""
    ids, tfs, dls = decode_scoring_block(b"")
    assert ids.size == 0 and tfs.size == 0 and dls.size == 0


def test_small_values_one_byte_each():
    vals = np.arange(128, dtype=np.uint64)
    enc = vbyte_encode(vals)
    assert len(enc) == 128
    np.testing.assert_array_equal(vbyte_decode(enc), vals)


def test_boundaries():
    vals = np.array(
        [0, 1, 127, 128, 129, 16383, 16384, 2**21 - 1, 2**21,
         2**28, 2**35, 2**63 - 1],
        dtype=np.uint64,
    )
    np.testing.assert_array_equal(vbyte_decode(vbyte_encode(vals)), vals)


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**62), max_size=300))
def test_roundtrip_property(values):
    vals = np.array(values, dtype=np.uint64)
    np.testing.assert_array_equal(vbyte_decode(vbyte_encode(vals), vals.size), vals)


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2**40),
            st.integers(min_value=1, max_value=100000),
            st.integers(min_value=1, max_value=100000),
        ),
        min_size=1,
        max_size=500,
    )
)
def test_posting_block_roundtrip(postings):
    # unique ascending docids
    ids = np.array(sorted({d for d, _, _ in postings}), dtype=np.int64)
    tfs = np.array([t for _, t, _ in postings[: ids.size]], dtype=np.int64)
    dls = np.array([d for _, _, d in postings[: ids.size]], dtype=np.int64)
    out = decode_scoring_block(encode_scoring_block(ids, tfs, dls))
    for got, want in zip(out, (ids, tfs, dls)):
        np.testing.assert_array_equal(got, want)


def test_posting_block_docid_zero():
    ids = np.array([0, 5, 6, 100], dtype=np.int64)
    tfs = np.array([3, 1, 2, 9], dtype=np.int64)
    dls = np.array([7, 1, 4, 300], dtype=np.int64)
    out = decode_scoring_block(encode_scoring_block(ids, tfs, dls))
    for got, want in zip(out, (ids, tfs, dls)):
        np.testing.assert_array_equal(got, want)


def test_compression_is_compact():
    # dense ascending docids -> gaps of 1 -> ~1 byte per gap, tf and
    # doclen, plus the 12-byte header
    ids = np.arange(10000, dtype=np.int64)
    tfs = np.ones(10000, dtype=np.int64)
    dls = np.full(10000, 100, dtype=np.int64)
    block = encode_scoring_block(ids, tfs, dls)
    assert len(block) <= 12 + 3 * 10000 + 2


# one scoring block: unique docids below 2^43, tf and doclen up to 2^32;
# min_size=1 keeps one-posting blocks frequent
_scoring_block = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2**43),
        st.integers(min_value=1, max_value=2**32),
        st.integers(min_value=1, max_value=2**32),
    ),
    min_size=1,
    max_size=40,
    unique_by=lambda p: p[0],
).map(lambda ps: tuple(
    np.array(col, dtype=np.int64) for col in zip(*sorted(ps))
))


@settings(max_examples=150, deadline=None, derandomize=True)
@given(st.lists(_scoring_block, max_size=30))
def test_decode_scoring_blocks_equals_per_block(blocks):
    """The multi-block decode is the per-block decodes concatenated."""
    enc = [encode_scoring_block(*b) for b in blocks]
    ids, tfs, dls, n = decode_scoring_blocks(enc)
    np.testing.assert_array_equal(n, [b[0].size for b in blocks])
    per_block = [decode_scoring_block(e) for e in enc]
    for got, col in zip((ids, tfs, dls), range(3)):
        want = np.concatenate(
            [np.empty(0, np.int64)] + [b[col] for b in blocks])
        np.testing.assert_array_equal(got, want)
        np.testing.assert_array_equal(got, np.concatenate(
            [np.empty(0, np.int64)] + [d[col] for d in per_block]))
        assert got.dtype == np.int64


def test_decode_scoring_blocks_edges():
    one = encode_scoring_block(np.array([2**43]), np.array([2**32]),
                               np.array([1]))
    ids, tfs, dls, n = decode_scoring_blocks([b"", one, b"", one])
    assert list(n) == [0, 1, 0, 1]
    assert list(ids) == [2**43] * 2 and list(tfs) == [2**32] * 2
    assert list(dls) == [1, 1]
    ids, tfs, dls, n = decode_scoring_blocks([])
    assert ids.size == tfs.size == dls.size == n.size == 0


# one term's postings: unique docids, tf 1..4 (a position per
# occurrence), doclen, and two fields' tfs and lengths
_term_postings = st.lists(
    st.tuples(st.integers(0, 5000), st.integers(1, 4), st.integers(1, 300),
              st.integers(0, 9), st.integers(0, 9), st.integers(1, 300),
              st.integers(1, 300)),
    min_size=1, max_size=12, unique_by=lambda p: p[0],
).map(sorted)


def _encode_terms(terms, with_pos, nf, block_size, bucket_span, seed=0):
    """-> (the block rows frame, the concatenated encoder inputs)."""
    rng = np.random.default_rng(seed)
    rows, want = [], {k: [] for k in ("ids", "tfs", "dls", "pos", "ftf",
                                      "fln")}
    for i, postings in enumerate(terms):
        ids, tfs, dls, f0, f1, l0, l1 = (
            np.array(c, dtype=np.int64) for c in zip(*postings))
        pos = rng.integers(0, 1000, int(tfs.sum())) if with_pos else None
        ftf = np.stack([f0, f1], axis=1)[:, :nf] if nf else None
        fln = np.stack([l0, l1], axis=1)[:, :nf] if nf else None
        rows += encode_blocks(f"t{i}", ids, tfs, dls, block_size,
                              bucket_span, pos=pos, ftf=ftf, fln=fln)
        for k, v in zip(want, (ids, tfs, dls, pos, ftf, fln)):
            want[k].append(v)
    return pd.DataFrame(rows, columns=BLOCK_COLUMNS), want


@settings(max_examples=100, deadline=None, derandomize=True)
@given(st.lists(_term_postings, min_size=1, max_size=5), st.booleans(),
       st.sampled_from([0, 2]), st.integers(1, 5),
       st.sampled_from([64, 1 << 16]))
def test_decode_blocks_inverts_encode_blocks(terms, with_pos, nf,
                                             block_size, bucket_span):
    """decode_blocks returns encode_blocks' inputs, block_size 1 giving
    1-posting blocks and a small bucket span blocks cut at buckets."""
    frame, want = _encode_terms(terms, with_pos, nf, block_size,
                                bucket_span)
    ids, tfs, dls, n, pos, ftf, fln = decode_blocks(frame, with_pos, nf)
    np.testing.assert_array_equal(n, frame["n"])
    for got, key in zip((ids, tfs, dls, pos, ftf, fln), want):
        if want[key][0] is None:
            assert got is None
        else:
            np.testing.assert_array_equal(got, np.concatenate(want[key]))
            assert got.dtype == np.int64


def _with_header(block: bytes, **fields) -> bytes:
    hdr = np.frombuffer(block[:12], dtype=np.uint32).copy()
    for i, key in enumerate(("n", "gap_bytes", "tf_bytes")):
        hdr[i] = fields.get(key, hdr[i])
    return hdr.tobytes() + block[12:]


def test_decode_scoring_blocks_rejects_corrupt_blocks():
    ids = np.array([3, 200, 70000], dtype=np.int64)
    good = encode_scoring_block(ids, np.array([1, 300, 2]),
                                np.array([9, 9000, 90000]))
    hdr = np.frombuffer(good[:12], dtype=np.uint32)
    bad = [
        good[:-1],                                   # doclens cut short
        good[:7],                                    # header cut short
        _with_header(good, n=2),                     # wrong header n
        _with_header(good, n=4),
        _with_header(good, gap_bytes=int(hdr[1]) - 1),  # gap section cut
        _with_header(good, tf_bytes=int(hdr[2]) + 1),   # tf section long
        _with_header(good, gap_bytes=len(good)),     # sections overrun
    ]
    for block in bad:
        for blocks in ([block], [good, block, good]):
            with pytest.raises(ValueError):
                decode_scoring_blocks(blocks)
        with pytest.raises(ValueError):
            decode_scoring_block(block)
    # decode_blocks checks each payload's count: positions the block's
    # tf sum, field tfs and lengths n x nf; one value short or over, or
    # a null payload, raises
    frame, _ = _encode_terms([[(3, 2, 9, 1, 1, 5, 4), (70, 1, 9, 0, 1, 6, 3),
                               (71, 3, 9, 2, 1, 5, 4)]], True, 2, 2, 64)
    for col in ("pos", "ftf", "fln"):
        values = vbyte_decode(frame[col][0]).tolist()
        for wrong in (values[:-1], values + [1], None):
            bad = frame.copy()
            bad.at[0, col] = (None if wrong is None
                              else vbyte_encode(np.array(wrong, np.uint64)))
            with pytest.raises(ValueError):
                decode_blocks(bad, pos=True, nf=2)


def test_decode_blocks_decodes_only_the_asked_fields():
    """fields=("ftf",) decodes the field tfs alone: the field lengths are
    neither returned nor read, so a null or corrupt fln passes, while a
    corrupt ftf still raises."""
    frame, want = _encode_terms([[(3, 2, 9, 1, 1, 5, 4),
                                  (70, 1, 9, 0, 1, 6, 3)]], False, 2, 2, 64)
    ids, _, _, _, _, ftf, fln = decode_blocks(frame, nf=2, fields=("ftf",))
    np.testing.assert_array_equal(ftf, np.concatenate(want["ftf"]))
    assert fln is None
    np.testing.assert_array_equal(ids, np.concatenate(want["ids"]))
    for col, ok in (("fln", True), ("ftf", False)):
        for wrong in (None, vbyte_encode(np.array([1], np.uint64))):
            bad = frame.copy()
            bad.at[0, col] = wrong
            if ok:
                decode_blocks(bad, nf=2, fields=("ftf",))
            else:
                with pytest.raises(ValueError):
                    decode_blocks(bad, nf=2, fields=("ftf",))


def test_vbyte_decode_parts_checks_each_count():
    parts = [vbyte_encode(np.array(v, dtype=np.uint64))
             for v in ([1, 300], [], [2**40])]
    np.testing.assert_array_equal(vbyte_decode_parts(parts, [2, 0, 1]),
                                  [1, 300, 2**40])
    for counts in ([1, 1, 1], [2, 1, 0], [3, 0, 1]):
        with pytest.raises(ValueError):
            vbyte_decode_parts(parts, counts)
    # each part holds one complete value by count, but 300's bytes
    # straddle the two parts
    split = [parts[0][:2], parts[0][2:]]
    assert np.frombuffer(split[1], np.uint8).tolist() == [0x02]
    with pytest.raises(ValueError):
        vbyte_decode_parts(split, [1, 1])
