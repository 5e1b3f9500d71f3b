"""Index merging (StructureMerger analog) + TREC output + evaluation."""

import pandas as pd
import pytest

from terrier_spark.config import IndexConfig, QueryConfig
from terrier_spark.index.builder import build_index
from terrier_spark.index.corpus import synth_source_corpus
from terrier_spark.index.merge import merge_indexes
from terrier_spark.oracle import OracleIndex
from terrier_spark.query.evaluation import evaluate_run, parse_qrels, to_trec_run
from terrier_spark.query.search import search


def test_merge_equals_whole(spark, tmp_path):
    corpus = synth_source_corpus(spark, n_docs=200)
    pdf = corpus.toPandas()
    half_a = spark.createDataFrame(pdf.iloc[:120])
    half_b = spark.createDataFrame(pdf.iloc[120:])
    cfg = IndexConfig()
    a = build_index(spark, half_a, str(tmp_path / "a"), cfg, bucket_span=64)
    b = build_index(spark, half_b, str(tmp_path / "b"), cfg, bucket_span=64)
    merged = merge_indexes(spark, a, b, str(tmp_path / "m"))
    whole = build_index(spark, corpus, str(tmp_path / "w"), cfg, bucket_span=64)

    assert merged.stats == whole.stats

    # identical retrieval behavior (docids align because docid order is
    # ingest order and the halves preserve it)
    oracle = OracleIndex(pdf["content"].tolist(), cfg.pipeline)
    usable = sorted(
        t for t in oracle.postings
        if oracle.tf_collection(t) <= oracle.num_docs and oracle.nt(t) >= 3
    )
    q = [("q", " ".join(usable[:4]))]
    rm = search(spark, merged, q, QueryConfig(k=15)).orderBy("rank").collect()
    rw = search(spark, whole, q, QueryConfig(k=15)).orderBy("rank").collect()
    assert [(r["docid"], round(r["score"], 9)) for r in rm] == [
        (r["docid"], round(r["score"], 9)) for r in rw
    ]
    exp = oracle.search(q[0][1], QueryConfig(k=15))
    assert [r["docid"] for r in rm] == [d for d, _ in exp]


def test_merge_bucket_invariant_and_pruning(spark, tmp_path):
    """Rebased blocks must be split at the new bucket boundaries: with
    offset=120 (not a multiple of span=64) every straddling block of b
    would otherwise carry docids of two buckets under one label, breaking
    the invariant block-max pruning relies on (ADVICE round 1, high)."""
    import numpy as np

    from terrier_spark.compression.vbyte import (
        decode_positions,
        decode_scoring_block,
    )

    corpus = synth_source_corpus(spark, n_docs=200)
    pdf = corpus.toPandas()
    half_a = spark.createDataFrame(pdf.iloc[:120])
    half_b = spark.createDataFrame(pdf.iloc[120:])
    cfg = IndexConfig(positions=True)
    span = 64
    a = build_index(spark, half_a, str(tmp_path / "a"), cfg, bucket_span=span)
    b = build_index(spark, half_b, str(tmp_path / "b"), cfg, bucket_span=span)
    merged = merge_indexes(spark, a, b, str(tmp_path / "m"))
    whole = build_index(spark, corpus, str(tmp_path / "w"), cfg,
                        bucket_span=span)

    # 1. bucket invariant: every docid of every block is in the labeled
    # bucket (the search kernel's block skip and score combine assume it)
    blocks = merged.postings(spark).collect()
    whole_pos = {}
    straddle_buckets = set()
    for r in whole.postings(spark).collect():
        ids, tfs, _ = decode_scoring_block(r["block"])
        for d, plist in zip(ids, decode_positions(r["pos"], tfs)):
            whole_pos[(r["term"], int(d))] = list(plist)
    merged_pos = {}
    for r in blocks:
        ids, tfs, _ = decode_scoring_block(r["block"])
        assert (ids // span == r["bucket"]).all(), (
            f"block for {r['term']} bucket {r['bucket']} holds docids "
            f"{ids.min()}..{ids.max()} outside the bucket"
        )
        assert r["n"] == ids.size and r["first_docid"] == ids[0]
        assert r["last_docid"] == ids[-1]
        assert r["max_tf"] == int(tfs.max())
        for d, plist in zip(ids, decode_positions(r["pos"], tfs)):
            merged_pos[(r["term"], int(d))] = list(plist)
    # 2. positions survive the split byte-exactly
    assert merged_pos == whole_pos

    # 3. pruned search on the merged index == unpruned (force pruning on)
    oracle = OracleIndex(pdf["content"].tolist(), cfg.pipeline)
    usable = sorted(
        t for t in oracle.postings
        if oracle.tf_collection(t) <= oracle.num_docs and oracle.nt(t) >= 3
    )
    q = [("q", " ".join(usable[:4]))]
    pruned = search(
        spark, merged, q,
        QueryConfig(k=15, prune=True),
    ).orderBy("rank").collect()
    full = search(
        spark, merged, q, QueryConfig(k=15, prune=False)
    ).orderBy("rank").collect()
    assert [(r["docid"], round(r["score"], 9)) for r in pruned] == [
        (r["docid"], round(r["score"], 9)) for r in full
    ]
    exp = oracle.search(q[0][1], QueryConfig(k=15))
    assert [r["docid"] for r in pruned] == [d for d, _ in exp]


def test_merge_field_index_bm25f(spark, tmp_path):
    """A merged field index keeps its field metadata (meta.field_lens,
    per-field lexicon stats, stats.fields): BM25F over it ranks like the
    whole-corpus field index and the field oracle."""
    from terrier_spark.oracle import OracleFieldIndex

    corpus = synth_source_corpus(spark, n_docs=200)
    pdf = corpus.toPandas()
    cfg = IndexConfig(field_cols=(("path", "path"), ("content", "content")))
    a = build_index(spark, spark.createDataFrame(pdf.iloc[:120]),
                    str(tmp_path / "fa"), cfg, bucket_span=64)
    b = build_index(spark, spark.createDataFrame(pdf.iloc[120:]),
                    str(tmp_path / "fb"), cfg, bucket_span=64)
    with pytest.raises(ValueError, match="mismatch"):
        merge_indexes(spark, a, build_index(
            spark, spark.createDataFrame(pdf.iloc[120:]),
            str(tmp_path / "plain_b"), IndexConfig(), bucket_span=64,
        ), str(tmp_path / "bad"))
    with pytest.raises(ValueError, match="new directory"):
        merge_indexes(spark, a, b, a.path)
    merged = merge_indexes(spark, a, b, str(tmp_path / "fm"))
    whole = build_index(spark, corpus, str(tmp_path / "fw"), cfg,
                        bucket_span=64)
    assert merged.stats == whole.stats
    assert merged.stats["fields"] == ["path", "content"]

    oracle = OracleFieldIndex(list(zip(pdf["path"], pdf["content"])),
                              cfg.pipeline)
    qcfg = QueryConfig(k=20, model="BM25F", ignore_low_idf=False)
    q = [("q", "py sym1 src")]
    got = {
        name: search(spark, st, q, qcfg).orderBy("rank").toPandas()
        for name, st in (("merged", merged), ("whole", whole))
    }
    exp = oracle.search_bm25f(q[0][1], k=20)
    assert exp
    for res in got.values():
        assert list(res["docid"]) == [d for d, _ in exp]
        for g, (_, sc) in zip(res["score"], exp):
            assert g == pytest.approx(sc, abs=1e-6)


def test_trec_run_format(spark, tmp_path):
    corpus = synth_source_corpus(spark, n_docs=100)
    store = build_index(spark, corpus, str(tmp_path / "t"), bucket_span=64)
    res = search(spark, store, [("7", "sym11 sym31")],
                 QueryConfig(k=5, ignore_low_idf=False), with_meta=True)
    lines = [r["line"] for r in to_trec_run(res).collect()]
    assert lines, "no run lines"
    parts = lines[0].split(" ")
    assert parts[0] == "7" and parts[1] == "Q0" and parts[3] == "0"
    assert parts[5] == "terrier_spark"
    assert len(lines) <= 5


def test_adhoc_evaluation_golden():
    """Hand-computed MAP / P@k / R-prec on a tiny fixture."""
    results = pd.DataFrame(
        {
            "qid": ["1"] * 5 + ["2"] * 4,
            "rank": [0, 1, 2, 3, 4, 0, 1, 2, 3],
            "docno": ["a", "b", "c", "d", "e", "x", "y", "z", "w"],
        }
    )
    qrels = parse_qrels(
        [
            "1 0 a 1", "1 0 c 1", "1 0 q 1",     # 3 relevant, q not retrieved
            "2 0 y 1",                             # 1 relevant
            "3 0 only 1",                          # query 3 not in results
        ]
    )
    out = evaluate_run(results, qrels)
    # q1: hits at ranks 1,3 -> AP = (1/1 + 2/3)/3 = 5/9
    # q2: hit at rank 2 -> AP = (1/2)/1 = 1/2
    assert out["num_queries"] == 2
    assert out["AP_per_query"]["1"] == pytest.approx(5 / 9)
    assert out["AP_per_query"]["2"] == pytest.approx(0.5)
    assert out["MAP"] == pytest.approx((5 / 9 + 0.5) / 2)
    # P@1: q1 hit (1.0), q2 miss (0.0) -> 0.5
    assert out["P_at"][1] == pytest.approx(0.5)
    # P@5: q1 2/5, q2 1/5 -> 0.3
    assert out["P_at"][5] == pytest.approx(0.3)
    # R-prec: q1 R=3 -> 2/3... top-3 = a,b,c -> hits a,c = 2/3; q2 R=1 ->
    # top-1 = x -> 0
    assert out["R_precision"] == pytest.approx((2 / 3 + 0) / 2)
