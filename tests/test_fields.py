"""Field indexing: per-field tfs/lengths, BM25F rank identity vs the
field oracle, field-restricted structured queries."""

import math

import numpy as np
import pytest

from terrier_spark.config import IndexConfig, QueryConfig
from terrier_spark.index.builder import build_index
from terrier_spark.index.corpus import synth_source_corpus
from terrier_spark.oracle import OracleFieldIndex
from terrier_spark.query.models import bm25f
from terrier_spark.query.search import search
from terrier_spark.query.structured import search_structured

FIELD_COLS = (("path", "path"), ("content", "content"))


def test_bm25f_kernel_golden():
    # one posting, two fields, hand-computed
    ftf = np.array([[2.0, 3.0]])
    fln = np.array([[4.0, 100.0]])
    avg = [5.0, 80.0]
    w, c = [2.0, 1.0], [0.5, 0.75]
    N, nt, qtf = 1000, 50, 1.0
    tfn = (
        w[0] * 2.0 / (1 - c[0] + c[0] * 4.0 / avg[0])
        + w[1] * 3.0 / (1 - c[1] + c[1] * 100.0 / avg[1])
    )
    exp = (
        (9.0 * qtf / (8.0 + qtf))
        * (2.2 * tfn / (1.2 + tfn))
        * math.log2((N - nt + 0.5) / (nt + 0.5))
    )
    got = bm25f(ftf, fln, qtf, nt, 500, N, w, c, avg, 100_000)
    assert float(got[0]) == pytest.approx(exp, rel=1e-12)
    # zero in one field: that field contributes nothing
    got0 = bm25f(np.array([[0.0, 0.0]]), fln, qtf, nt, 500, N, w, c, avg,
                 100_000)
    assert float(got0[0]) == 0.0


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("fidx"))
    corpus = synth_source_corpus(spark, n_docs=250)
    cfg = IndexConfig(field_cols=FIELD_COLS)
    store = build_index(spark, corpus, out, cfg, bucket_span=64)
    pdf = corpus.toPandas()
    oracle = OracleFieldIndex(
        list(zip(pdf["path"], pdf["content"])), cfg.pipeline
    )
    return store, oracle, pdf


def test_field_stats(spark, engine):
    store, oracle, pdf = engine
    assert store.stats["fields"] == ["path", "content"]
    assert store.stats["avg_field_lens"] == pytest.approx(
        oracle.avg_field_lens
    )
    # doclen = sum of field lens
    meta = store.meta(spark).orderBy("docid").toPandas()
    for row in meta.itertuples():
        assert row.doclen == sum(row.field_lens)
        assert list(row.field_lens) == oracle.field_lens[row.docid]


def test_bm25f_rank_identity(spark, engine):
    store, oracle, _ = engine
    queries = [
        ("q1", "sym1 py sym7"),      # 'py' appears in path extensions
        ("q2", "src sym0 class"),    # 'src' is in every path
        ("q3", "sym12 sym3"),
    ]
    qcfg = QueryConfig(k=20, model="BM25F", ignore_low_idf=False)
    got = search(spark, store, queries, qcfg).orderBy("qid", "rank").toPandas()
    by_qid = {qid: grp for qid, grp in got.groupby("qid")}
    nonempty = 0
    for qid, text in queries:
        exp = oracle.search_bm25f(text, k=20)
        grp = by_qid.get(qid)
        act = list(zip(grp["docid"], grp["score"])) if grp is not None else []
        assert len(act) == len(exp), qid
        nonempty += bool(exp)
        for (gd, gs), (ed, es) in zip(act, exp):
            assert gd == ed, f"{qid}: {gd} != {ed}"
            assert gs == pytest.approx(es, abs=1e-6)
    assert nonempty >= 2


def test_bm25f_with_weights(spark, engine):
    store, oracle, _ = engine
    qcfg = QueryConfig(k=10, model="BM25F", ignore_low_idf=False,
                       field_weights=(3.0, 1.0), field_c=(0.4, 0.9))
    got = search(spark, store, [("q", "py sym1")], qcfg).orderBy("rank").toPandas()
    exp = oracle.search_bm25f("py sym1", k=10, weights=[3.0, 1.0],
                              cs=[0.4, 0.9])
    assert list(got["docid"]) == [d for d, _ in exp]
    for g, (_, s) in zip(got["score"], exp):
        assert g == pytest.approx(s, abs=1e-6)


def test_field_restriction(spark, engine):
    """TermInFieldModifier.java semantics: docs where the restricted term
    occurs but NOT in the named field are dropped (-inf in the
    reference); docs without the term at all are unaffected."""
    store, oracle, pdf = engine
    res = search_structured(
        spark, store, [("q", "sym1 path:java")],
        QueryConfig(k=10_000, ignore_low_idf=False),
    ).toPandas()
    assert len(res) > 0
    plist = oracle.postings.get("java", {})
    present = set(plist)                       # 'java' in any field
    in_path = {d for d, ftf in plist.items() if ftf[0] > 0}
    excluded = present - in_path               # out-of-field only -> dropped
    got = set(res["docid"])
    assert not (got & excluded)
    # docs without 'java' anywhere still score on sym1 (the reference
    # modifier walks only the term's posting list)
    sym1_docs = set(oracle.postings.get("sym1", {}))
    survivors_wo_java = sym1_docs - present
    assert survivors_wo_java & got, (
        "docs lacking the restricted term entirely must not be excluded"
    )
    # exact result set: the field term itself still scores normally, so
    # the scored pool is sym1-docs UNION java-docs, minus the excluded
    assert got == (sym1_docs | present) - excluded
    # unknown field is loud
    with pytest.raises(Exception, match="field"):
        search_structured(
            spark, store, [("q", "title:foo")], QueryConfig(k=5)
        ).collect()


def test_single_field_model(spark, engine):
    """SingleFieldModel.java: base model scored on the active fields' tf
    and length sums; collection statistics RESTRICTED to the active
    fields (setCollectionStatistics:107-125 — numberOfTokens and avgdl
    from active fields only; documentFrequency stays global); tf==0 in
    those fields -> 0."""
    import math

    store, oracle, pdf = engine
    qcfg = QueryConfig(k=30, model="SingleField(BM25,1)",
                       ignore_low_idf=False)
    got = search(spark, store, [("q", "sym1 sym3")], qcfg).orderBy(
        "rank").toPandas()
    # literal reference port: BM25(tf_content, len_content) with global
    # N/nt and avgdl = active field's average length
    N = oracle.num_docs
    avgdl = oracle.avg_field_lens[1]
    acc = {}
    for term in ("sym1", "sym3"):
        plist = oracle.postings.get(term, {})
        nt = len(plist)
        idf = math.log2((N - nt + 0.5) / (nt + 0.5))
        for docid, ftf in plist.items():
            tf = ftf[1]
            if tf == 0:
                continue
            dl = oracle.field_lens[docid][1]
            K = 1.2 * ((1 - 0.75) + 0.75 * dl / avgdl) + tf
            acc[docid] = acc.get(docid, 0.0) + (tf * 9.0 / (9.0 * K)) * idf
    exp = sorted(acc.items(), key=lambda kv: (-kv[1], kv[0]))[:30]
    assert list(got["docid"]) == [d for d, _ in exp]
    for g, (_, s) in zip(got["score"], exp):
        assert g == pytest.approx(s, abs=1e-6)


def test_single_field_entry_stats_restricted(spark, engine):
    """setEntryStatistics:128-142: the collection term frequency handed to
    the base model is the sum of the ACTIVE fields' frequencies, and
    numberOfTokens (setCollectionStatistics:113-120) is the active
    fields' token total — exercised with a base model that actually uses
    F and num_tokens (DirichletLM)."""
    import math

    store, oracle, pdf = engine
    # active-field (content) statistics from the oracle
    lex = store.lexicon(spark).filter("term = 'sym1'").toPandas()
    plist = oracle.postings["sym1"]
    f_active = sum(ftf[1] for ftf in plist.values())
    f_global = sum(sum(ftf) for ftf in plist.values())
    assert list(lex["field_tf"])[0][1] == f_active
    assert int(lex["tf"].iloc[0]) == f_global
    t_active = sum(fl[1] for fl in oracle.field_lens)
    assert store.stats["field_tokens"][1] == t_active

    qcfg = QueryConfig(k=30, model="SingleField(DirichletLM,1)",
                       ignore_low_idf=False)
    got = search(spark, store, [("q", "sym1")], qcfg).orderBy(
        "rank").toPandas()
    mu = 2500.0
    acc = {}
    for docid, ftf in plist.items():
        tf = ftf[1]
        if tf == 0:
            continue
        dl = oracle.field_lens[docid][1]
        acc[docid] = (
            math.log2(1.0 + tf / (mu * (f_active / t_active)))
            + math.log2(mu / (dl + mu))
        )
    exp = sorted(acc.items(), key=lambda kv: (-kv[1], kv[0]))[:30]
    assert list(got["docid"]) == [d for d, _ in exp]
    for g, (_, s) in zip(got["score"], exp):
        assert g == pytest.approx(s, abs=1e-6)


# The ids name the survivor modes of an earlier two-pass prune plan; they
# are kept so the test's history stays continuous.  The axis is now the
# Arrow batch size, as in test_search.test_pruned_equals_unpruned.
@pytest.mark.parametrize("batch_rows", [None, 2],
                         ids=["eager_survivors", "lazy_survivors"])
def test_bm25f_pruned_equals_unpruned(spark, engine, batch_rows):
    """Field-aware block-max pruning (per-block per-field max_ftf/min_fln
    bounds) must be invisible in results — the BM25F clone of
    test_search.test_pruned_equals_unpruned.  Two-row Arrow batches make
    (qid, bucket) groups straddle the kernel's input batches."""
    store, oracle, _ = engine
    queries = [("q1", "sym1 py sym7"), ("q2", "src sym0 class"),
               ("q3", "sym12 sym3 java")]
    base = dict(model="BM25F", ignore_low_idf=False, k=15,
                field_weights=(2.0, 1.0), field_c=(0.5, 0.9))
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    saved = spark.conf.get(key)
    if batch_rows is not None:
        spark.conf.set(key, str(batch_rows))
    try:
        pruned = search(
            spark, store, queries,
            QueryConfig(prune=True, **base),
        ).orderBy("qid", "rank").toPandas()
    finally:
        spark.conf.set(key, saved)
    unpruned = search(
        spark, store, queries, QueryConfig(prune=False, **base),
    ).orderBy("qid", "rank").toPandas()
    assert list(pruned["docid"]) == list(unpruned["docid"])
    assert list(pruned["qid"]) == list(unpruned["qid"])
    for a, b in zip(pruned["score"], unpruned["score"]):
        assert a == pytest.approx(b, abs=1e-9)


def test_segmented_field_build_parity(spark, tmp_path):
    """The segmented builder supports field_cols: field statistics and
    BM25F results match the field oracle, before and after compaction."""
    from terrier_spark.index.resumable import (
        build_index_resumable,
        compact_postings,
    )

    corpus = synth_source_corpus(spark, n_docs=200)
    pdf = corpus.toPandas()
    cfg = IndexConfig(field_cols=FIELD_COLS)
    seg = build_index_resumable(spark, corpus, str(tmp_path / "fs"), cfg,
                                bucket_span=64)
    oracle = OracleFieldIndex(list(zip(pdf["path"], pdf["content"])),
                              cfg.pipeline)
    assert seg.stats["num_docs"] == oracle.num_docs
    assert seg.stats["avg_field_lens"] == pytest.approx(oracle.avg_field_lens)
    qcfg = QueryConfig(k=20, model="BM25F", ignore_low_idf=False)
    for st in (seg, compact_postings(spark, seg, cfg)):
        got = search(spark, st, [("q", "py sym1 src")], qcfg).orderBy(
            "rank").toPandas()
        exp = oracle.search_bm25f("py sym1 src", k=20)
        assert list(got["docid"]) == [d for d, _ in exp]
        for g, (_, s) in zip(got["score"], exp):
            assert g == pytest.approx(s, abs=1e-6)
