"""Edge-case hardening: empty/tiny corpora, invalid-token docs, unicode,
empty-index queries, positions codec properties."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from terrier_spark.compression.vbyte import decode_positions, encode_positions
from terrier_spark.config import IndexConfig, QueryConfig
from terrier_spark.index.builder import build_index
from terrier_spark.index.corpus import from_source_code_table
from terrier_spark.query.search import search


def _corpus(spark, rows):
    df = spark.createDataFrame(
        rows,
        "repo string, path string, commit string, lang string, content string",
    )
    return from_source_code_table(df)


def test_single_doc_and_weird_docs(spark, tmp_path):
    rows = [
        ("r", "a.py", "c1", "py", "hello world code"),
        ("r", "b.py", "c2", "py", ""),                      # empty
        ("r", "c.py", "c3", "py", "xxxxx 123456 " + "y" * 30),  # all invalid
        ("r", "d.py", "c4", "py", "日本語のテキスト"),        # non-ASCII only
        ("r", "e.py", "c5", "py", None),                     # null content
    ]
    store = build_index(spark, _corpus(spark, rows), str(tmp_path / "i"),
                        bucket_span=16)
    assert store.stats["num_docs"] == 5
    docs = store.docs(spark).orderBy("docid").toPandas()
    assert list(docs["doclen"]) == [3, 0, 0, 0, 0]
    res = search(spark, store, [("q", "hello")],
                 QueryConfig(k=5, ignore_low_idf=False)).collect()
    assert [r["docid"] for r in res] == [0]


def test_empty_query_results_on_real_index(spark, tmp_path):
    rows = [("r", "a.py", "c", "py", "alpha beta gamma")]
    store = build_index(spark, _corpus(spark, rows), str(tmp_path / "i2"),
                        bucket_span=16)
    out = search(spark, store, [("q", "delta")], QueryConfig(k=5))
    assert out.count() == 0
    out2 = search(spark, store, [], QueryConfig(k=5))
    assert out2.count() == 0


def test_huge_token_and_long_doc(spark, tmp_path):
    long_doc = " ".join(f"tok{i % 97}" for i in range(50000))
    rows = [("r", "big.py", "c", "py", long_doc)]
    store = build_index(spark, _corpus(spark, rows), str(tmp_path / "i3"),
                        bucket_span=16)
    assert store.stats["num_tokens"] == 50000
    res = search(spark, store, [("q", "tok5")],
                 QueryConfig(k=3, ignore_low_idf=False)).collect()
    assert len(res) == 1


def test_empty_input_partitions_build_and_search(spark, tmp_path):
    """3 docs over 8 input partitions: the empty partitions commit empty
    segments with the same column types, so the seg_* reads work."""
    rows = [("r", f"{n}.py", "c", "py", f"alpha {n} beta")
            for n in ("one", "two", "three")]
    corpus = _corpus(spark, rows).repartition(8)
    store = build_index(spark, corpus, str(tmp_path / "e8"), bucket_span=16)
    assert store.stats["num_docs"] == 3
    assert len(store.segment_names()) == 8
    assert sorted(r["doclen"] for r in store.docs(spark).collect()) == [3, 3, 3]
    res = search(spark, store, [("q", "alpha")],
                 QueryConfig(k=5, ignore_low_idf=False)).collect()
    assert sorted(r["docid"] for r in res) == [0, 1, 2]


def test_segment_schemas_identical(spark, tmp_path):
    """Every segment's docs, meta and postings files carry one schema,
    empty segments included, for plain and field indexes."""
    import pyarrow.parquet as pq

    rows = [("r", "a.py", "c", "py", "alpha beta"),
            ("r", "b.py", "c", "py", "gamma")]
    for name, cfg in (("plain", IndexConfig()),
                      ("fields", IndexConfig(
                          field_cols=(("path", "path"),
                                      ("content", "content")),
                          positions=True))):
        out = tmp_path / name
        store = build_index(spark, _corpus(spark, rows).repartition(4),
                            str(out), cfg, bucket_span=16)
        segs = store.segment_names()
        assert len(segs) == 4
        for table in ("docs", "meta", "postings"):
            schemas = {
                pq.read_schema(out / "segments" / s / f"{table}.parquet")
                .remove_metadata().to_string()
                for s in segs
            }
            assert len(schemas) == 1, (name, table, schemas)


def test_monolithic_layout_rejected(tmp_path):
    import json

    from terrier_spark.index.store import IndexStore

    path = tmp_path / "old"
    path.mkdir()
    (path / "manifest.json").write_text(
        json.dumps({"layout": "monolithic", "stats": {}})
    )
    with pytest.raises(ValueError, match=str(path)):
        IndexStore(str(path))
    (path / "manifest.json").write_text(json.dumps({"stats": {}}))
    with pytest.raises(ValueError, match="layout None"):
        IndexStore(str(path))
    (path / "manifest.json").write_text(
        json.dumps({"layout": "segmented_compacted", "stats": {}})
    )
    with pytest.raises(ValueError, match="compacted_segments"):
        IndexStore(str(path))


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.lists(st.integers(min_value=0, max_value=100000),
                 min_size=1, max_size=20),
        min_size=1, max_size=50,
    )
)
def test_positions_roundtrip_property(plists):
    tfs = np.array([len(p) for p in plists], dtype=np.int64)
    flat = np.concatenate([np.array(p, dtype=np.int64) for p in plists])
    enc = encode_positions(flat)
    out = decode_positions(enc, tfs)
    assert len(out) == len(plists)
    for got, exp in zip(out, plists):
        np.testing.assert_array_equal(got, np.array(exp))
