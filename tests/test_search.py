"""Retrieval correctness: rank-identity + score equality (1e-6) vs the
pure-Python oracle; pruned == unpruned; low-idf drop; tie-break pinning
(FIXTURES.md §4-5)."""

import random

import numpy as np
import pandas as pd
import pytest

from terrier_spark.config import IndexConfig, QueryConfig
from terrier_spark.index.builder import (BLOCK_COLUMNS, build_index,
                                         encode_blocks)
from terrier_spark.index.corpus import load_documents_corpus
from terrier_spark.oracle import OracleIndex
from terrier_spark.query.models import get_model
from terrier_spark.query.search import _search_kernel, search


def make_queries(oracle, n_per_bucket=3, seed=42):
    """Reference-style query set (FIXTURES.md §4): length buckets 2..10,
    terms sampled from the corpus vocabulary + stopwords + OOV terms."""
    rng = random.Random(seed)
    vocab = sorted(oracle.postings)
    queries = []
    qid = 0
    for length in range(2, 11):
        for _ in range(n_per_bucket):
            terms = [vocab[rng.randrange(len(vocab))] for _ in range(length)]
            if length % 3 == 0:
                terms[0] = "the"            # stopword
            if length % 4 == 0:
                terms[-1] = "zzqqoovvx"     # out-of-vocabulary
            queries.append((str(qid), " ".join(terms)))
            qid += 1
    return queries


@pytest.fixture(scope="module")
def engine(spark, sf_dir, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("qindex"))
    corpus = load_documents_corpus(spark, sf_dir)
    cfg = IndexConfig()
    store = build_index(spark, corpus, out, cfg, bucket_span=128)
    contents = corpus.toPandas()["content"].tolist()
    oracle = OracleIndex(contents, cfg.pipeline)
    return store, oracle


def run_and_compare(spark, store, oracle, queries, qcfg):
    got = (
        search(spark, store, queries, qcfg)
        .orderBy("qid", "rank")
        .toPandas()
    )
    by_qid = {qid: grp for qid, grp in got.groupby("qid")}
    for qid, text in queries:
        expected = oracle.search(text, qcfg)
        grp = by_qid.get(qid)
        actual = (
            list(zip(grp["docid"], grp["score"])) if grp is not None else []
        )
        assert len(actual) == len(expected), f"qid={qid} size mismatch"
        for (gd, gs), (ed, es) in zip(actual, expected):
            assert gd == ed, f"qid={qid}: docid {gd} != {ed}"
            assert gs == pytest.approx(es, abs=1e-6), f"qid={qid} docid={gd}"
        if grp is not None:
            assert list(grp["rank"]) == list(range(len(actual)))


def test_rank_identity_unpruned(spark, engine):
    # NOTE: the testdata documents corpus has a tiny vocabulary, so every
    # term is "low idf" (collection frequency > N) and the default drop
    # would empty all results — disable it here so the comparison is a
    # real scoring check; the drop itself is covered by test_low_idf_drop
    # and the synth-corpus test exercises the default config.
    store, oracle = engine
    queries = make_queries(oracle)
    run_and_compare(spark, store, oracle, queries,
                    QueryConfig(k=50, prune=False, ignore_low_idf=False))


def test_rank_identity_pruned(spark, engine):
    store, oracle = engine
    queries = make_queries(oracle)
    run_and_compare(spark, store, oracle, queries,
                    QueryConfig(k=50, prune=True, ignore_low_idf=False))


def test_rank_identity_synth_corpus(spark, tmp_path):
    """Default config (low-idf drop ON) over the synthetic source-code
    corpus: 5k-term Zipf vocabulary gives a real idf spread, so this is
    the non-vacuous default-path check."""
    from terrier_spark.index.corpus import synth_source_corpus

    corpus = synth_source_corpus(spark, n_docs=400)
    cfg = IndexConfig()
    store = build_index(spark, corpus, str(tmp_path / "sidx"), cfg,
                        bucket_span=128)
    oracle = OracleIndex(corpus.toPandas()["content"].tolist(), cfg.pipeline)
    queries = make_queries(oracle, n_per_bucket=2, seed=11)
    qcfg = QueryConfig(k=30)
    # sanity: this corpus must yield non-empty results under the default
    # config, otherwise the comparison is vacuous
    assert any(oracle.search(text, qcfg) for _, text in queries)
    run_and_compare(spark, store, oracle, queries, qcfg)


@pytest.mark.parametrize(
    "batch_rows", [None, 2], ids=["default_batches", "two_row_batches"],
)
def test_pruned_equals_unpruned(spark, engine, batch_rows):
    """The in-kernel block skip is invisible in results.  Two-row Arrow
    batches make (qid, bucket) groups straddle the kernel's input
    batches.  The low-idf drop is off: on this corpus it would empty
    every result (see test_rank_identity_unpruned)."""
    store, oracle = engine
    queries = make_queries(oracle, n_per_bucket=2, seed=7)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    saved = spark.conf.get(key)
    if batch_rows is not None:
        spark.conf.set(key, str(batch_rows))
    try:
        a = (
            search(spark, store, queries,
                   QueryConfig(k=20, prune=True, ignore_low_idf=False))
            .orderBy("qid", "rank").toPandas()
        )
    finally:
        spark.conf.set(key, saved)
    b = (
        search(spark, store, queries,
               QueryConfig(k=20, prune=False, ignore_low_idf=False))
        .orderBy("qid", "rank").toPandas()
    )
    assert len(a) > 0
    assert list(a["qid"]) == list(b["qid"])
    assert list(a["docid"]) == list(b["docid"])
    for x, y in zip(a["score"], b["score"]):
        assert x == pytest.approx(y, abs=1e-9)


def test_low_idf_drop(spark, engine):
    store, oracle = engine
    # find a term with collection frequency > N, if the corpus has one
    hot = [t for t in oracle.postings if oracle.tf_collection(t) > oracle.num_docs]
    if not hot:
        pytest.skip("corpus has no low-idf term")
    q = [("h", hot[0])]
    got = search(spark, store, q, QueryConfig(k=10, ignore_low_idf=True)).count()
    assert got == 0
    got2 = search(spark, store, q, QueryConfig(k=10, ignore_low_idf=False)).count()
    assert got2 > 0


def test_oov_and_empty_queries(spark, engine):
    store, oracle = engine
    out = search(spark, store, [("a", "zzqqoovvx"), ("b", "the of and")],
                 QueryConfig(k=5))
    assert out.count() == 0


def test_k_limits_results(spark, engine):
    store, oracle = engine
    vocab = sorted(oracle.postings)
    q = [("q", f"{vocab[0]} {vocab[1]}")]
    out = search(spark, store, q, QueryConfig(k=3, prune=False)).toPandas()
    assert len(out) <= 3
    assert list(out.sort_values("rank")["rank"]) == list(range(len(out)))


def kernel_rows(n_queries=20, seed=5):
    """Kernel input of `n_queries` int qids over four terms, sorted by
    (qid, bucket): 4-posting blocks in 16-doc buckets, so most (qid,
    bucket) groups hold several block rows."""
    rng = np.random.default_rng(seed)
    terms = []
    for t in range(4):
        ids = np.sort(rng.choice(64, size=rng.integers(10, 40),
                                 replace=False)).astype(np.int64)
        tfs = rng.integers(1, 5, ids.size)
        blocks = pd.DataFrame(
            encode_blocks(f"t{t}", ids, tfs, rng.integers(5, 50, ids.size),
                          4, 16), columns=BLOCK_COLUMNS)
        terms.append(blocks[["term", "bucket", "n", "block"]].assign(
            nt=ids.size, tfc=int(tfs.sum())))
    rows = [
        terms[t].assign(qid=np.int32(q), qtf=1.0)
        for q in range(n_queries)
        for t in rng.choice(4, size=rng.integers(1, 4), replace=False)
    ]
    return pd.concat(rows).sort_values(["qid", "bucket"], kind="stable",
                                       ignore_index=True)


def bm25_kernel(labels, k=5):
    return _search_kernel(get_model("BM25"), 64, 27.0, 1728, None, k, None,
                          None, labels)


def test_kernel_emits_each_query_once_passed():
    """The kernel emits a query's top k as soon as its last group has
    passed, not when its input ends: with frames of five rows, a qid's
    rows come out at the latest once the frame after the one holding
    its last row has been pulled (that frame shows whether the last
    group continues).  The rows equal one whole-input call's."""
    rows = kernel_rows()
    labels = [f"q{i}" for i in range(rows["qid"].max() + 1)]
    size = 5
    frame_of = np.arange(len(rows)) // size + 1  # 1-based frame per row
    group = rows["qid"].astype(str) + "/" + rows["bucket"].astype(str)
    straddling = pd.Series(frame_of).groupby(group.to_numpy()).nunique()
    assert (straddling > 1).any()  # groups straddle frames
    pulled = 0

    def frames():
        nonlocal pulled
        for a in range(0, len(rows), size):
            pulled += 1
            yield rows.iloc[a:a + size].reset_index(drop=True)

    emitted, outs = {}, []
    for out in bm25_kernel(labels)(frames()):
        outs.append(out)
        for q in out["qid"].unique():
            assert q not in emitted, f"{q} emitted twice"
            emitted[q] = pulled
    last_frame = pd.Series(frame_of).groupby(rows["qid"].to_numpy()).max()
    assert set(emitted) == {labels[q] for q in last_frame.index}
    for q, f in last_frame.items():
        assert emitted[labels[q]] <= f + 1, (labels[q], f, emitted)
    whole = pd.concat(list(bm25_kernel(labels)([rows])), ignore_index=True)
    assert len(whole) > 0
    pd.testing.assert_frame_equal(pd.concat(outs, ignore_index=True), whole)


def test_kernel_memory_does_not_grow_with_queries():
    """A task holds at most a frame's worth of query pools: the kernel's
    traced peak over 8x the queries, all on one hot term, stays within
    2x (it grew about in proportion when every pool lived until the
    input ended)."""
    import tracemalloc

    ids = np.arange(1000, dtype=np.int64)
    tfs = ids % 5 + 1
    blocks = pd.DataFrame(encode_blocks("hot", ids, tfs, ids % 97 + 5, 1024,
                                        64), columns=BLOCK_COLUMNS)
    blocks = blocks[["term", "bucket", "n", "block"]].assign(
        qtf=1.0, nt=ids.size, tfc=int(tfs.sum()))

    def peak(n_queries: int) -> int:
        rows = pd.concat([blocks] * n_queries, ignore_index=True).assign(
            qid=np.repeat(np.arange(n_queries, dtype=np.int32), len(blocks)))
        frames = [rows.iloc[a:a + 500].reset_index(drop=True)
                  for a in range(0, len(rows), 500)]
        kernel = _search_kernel(get_model("BM25"), 4000, 50.0, 200_000, None,
                                1000, None, None, [str(q) for q in
                                                   range(n_queries)])
        tracemalloc.start()
        try:
            n = sum(len(out) for out in kernel(iter(frames)))
            top = tracemalloc.get_traced_memory()[1]
        finally:
            tracemalloc.stop()
        assert n == n_queries * ids.size
        return top

    assert peak(512) < 2 * peak(64)


@pytest.mark.parametrize("order", ["within_frame", "across_frames"])
def test_kernel_rejects_unsorted_qids(order):
    """A qid that came back after its result was emitted would get a
    second, partial top k: the kernel refuses qids that decrease."""
    rows = kernel_rows()
    labels = [f"q{i}" for i in range(rows["qid"].max() + 1)]
    late = rows["qid"] >= 2
    frames = (
        [rows.iloc[::-1].reset_index(drop=True)] if order == "within_frame"
        else [rows[late].reset_index(drop=True),
              rows[~late].reset_index(drop=True)]
    )
    with pytest.raises(ValueError, match="not sorted by qid"):
        list(bm25_kernel(labels)(iter(frames)))


def test_scan_pushdown_plan_shape(spark, engine, monkeypatch):
    """Scale guard: the postings scan must keep the term In-filter
    pushed to parquet and read only the columns the plan needs — a scan
    that reads all columns for the decode would be wrong at 100 TB.
    These searches are small enough for the driver path, so a zero run
    bound sends them through the Spark plan."""
    import contextlib
    import io
    import sys

    monkeypatch.setattr(sys.modules[search.__module__], "_RUN_POSTINGS", 0)
    store, oracle = engine
    vocab = sorted(oracle.postings)
    res = search(spark, store, [("q", f"{vocab[0]} {vocab[1]}")],
                 QueryConfig(k=5, ignore_low_idf=False))
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        res.explain("formatted")
    plan = buf.getvalue()
    assert "In(term" in plan or "term IN" in plan, "term filter not pushed"
    import re
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    post_schema = next((s for s in schemas if "block" in s), None)
    assert post_schema is not None, f"no postings ReadSchema in plan: {schemas}"
    cols = {c.split(":")[0] for c in post_schema.split(",")}
    assert "content" not in cols and "pos" not in cols, cols
    assert cols <= {"term", "bucket", "block", "max_tf", "min_dl",
                    "max_score", "n", "ftf", "fln", "max_ftf_f",
                    "min_fln_f"}, f"over-wide postings scan: {cols}"

    # one query, one heap: a single shuffle puts each query's blocks in
    # one partition and the kernel's top k is final — no second exchange
    # or window merges per-partition heaps
    def final_plan(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        return plan.split("== Initial Plan ==")[0]

    sc = spark.sparkContext
    group = "test-scan-pushdown-plan-shape"
    sc.setJobGroup(group, "single query", False)
    try:
        res = search(spark, store, [("q", f"{vocab[0]} {vocab[1]}")],
                     QueryConfig(k=5, ignore_low_idf=False))
        res.toPandas()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(key, None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) <= 3, f"{len(jobs)} Spark jobs for one query"
    # one query -> one partition; two -> hashed on qid alone
    assert re.findall(r"\bExchange (\w+)", final_plan(res)) == [
        "SinglePartition"], final_plan(res)
    res = search(spark, store, [("q", vocab[0]), ("r", vocab[1])],
                 QueryConfig(k=5, ignore_low_idf=False))
    res.toPandas()
    plan = final_plan(res)
    shuffles = re.findall(r"\bExchange (\w+)\(([^)]*)\)", plan)
    assert len(shuffles) == 1, plan
    assert shuffles[0][0] == "hashpartitioning", plan
    assert re.fullmatch(r"qid#\d+, 2", shuffles[0][1]), plan
    assert "Window" not in plan, plan


def test_term_filter_matches_isin_in_few_py4j_calls(spark, engine,
                                                   py4j_commands):
    """where_term_in (the postings_for scan) keeps exactly the rows isin
    keeps, whatever the term text, and builds its predicate in a fixed
    number of py4j round trips: isin pays a few per term."""
    from pyspark.sql import functions as F

    from terrier_spark.index.store import where_term_in

    store, oracle = engine
    vocab = sorted(oracle.postings)
    hostile = ["it's", "back\\slash", "a,b", "naïve", "日本語", "x",
               "\\Q", "\\E", "tab\tnew\nline", 'q"uote', ""]
    terms = hostile + vocab[:3]
    df = spark.createDataFrame(
        [(t, i) for i, t in enumerate(hostile + vocab[:5] + ["y", "zz"])],
        "term string, i int",
    )
    got = sorted(map(tuple, where_term_in(df, terms).collect()))
    assert got == sorted(map(tuple, df.filter(F.col("term").isin(terms))
                             .collect()))
    assert len(got) == len(terms)

    def blocks(d):
        return sorted(map(tuple, d.select("term", "bucket", "block_id")
                          .collect()))

    scan = blocks(store.postings_for(spark, terms))
    assert scan and scan == blocks(
        store.postings(spark).filter(F.col("term").isin(terms)))

    def commands(n_terms: int) -> int:
        many = [f"t{i}" for i in range(n_terms)]
        where_term_in(df, many)  # warm: the py4j class lookups
        return py4j_commands(lambda: where_term_in(df, many))

    assert commands(20) < 20
    assert commands(2000) < 20


def test_session_tuning_check(spark, caplog):
    """The once-per-context session-tuning probe: a tuned session (the
    test fixture uses get_spark) reports nothing missing; a session
    missing the Arrow/AQE confs is flagged exactly once per
    SparkContext."""
    import logging

    import importlib

    # the package attribute `search` is the function (re-exported by
    # query/__init__), which shadows `import ... as` binding; fetch the
    # MODULE from the import system instead
    search_mod = importlib.import_module("terrier_spark.query.search")

    search_mod._tuning_checked.discard(spark.sparkContext)
    assert search_mod._check_session_tuning(spark) == []

    class FakeConf:
        def get(self, key, default=None):
            return "false"

    class FakeSC:
        pass

    class FakeSpark:
        conf = FakeConf()
        sparkContext = FakeSC()

    search_mod._tuning_checked.discard(FakeSpark.sparkContext)
    with caplog.at_level(logging.WARNING, logger="terrier_spark.search"):
        missing = search_mod._check_session_tuning(FakeSpark())
    assert missing == [
        "spark.sql.execution.arrow.pyspark.enabled",
        "spark.sql.adaptive.enabled",
    ]
    assert any("tuned settings" in r.message for r in caplog.records)
    # second call on the same context: memoized, silent, no list
    assert search_mod._check_session_tuning(FakeSpark()) == []
    # a new context is checked afresh, whatever id() it reuses
    FakeSpark.sparkContext = FakeSC()
    assert len(search_mod._check_session_tuning(FakeSpark())) == 2
