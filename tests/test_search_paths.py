"""The two search paths (query/search.py): a search whose Σ nt is within
the driver gate, on a store whose files fit the driver budget, runs the
kernel on the driver, any other in a Spark job.  Each test forces a path
through the gate `_DRIVER_POSTINGS` (0: every search is too large for
the driver; 2^30: every search fits) or the store's driver budget, and
checks that both paths return the same ranking as each other and as the
pure-Python oracle (rank identity, scores within 1e-6)."""

import importlib
import os
import shutil

import pandas as pd
import pytest

from terrier_spark.config import IndexConfig, QueryConfig
from terrier_spark.index.builder import build_index
from terrier_spark.index.corpus import synth_source_corpus
from terrier_spark.index.resumable import compact_postings
from terrier_spark.index.store import IndexStore
from terrier_spark.oracle import OracleFieldIndex, OracleIndex
from terrier_spark.query.search import LocalResult, search
from terrier_spark.streaming.incremental import IncrementalIndexer

search_module = importlib.import_module("terrier_spark.query.search")

SPARK_PATH, DRIVER_PATH = 0, 1 << 30

# the synth corpus's head terms are in nearly every doc, so the tests
# keep them (ignore_low_idf=False)
QUERIES = [
    ("0", "sym2 sym3 sym12"),
    ("1", "sym4 sym5 sym4"),          # repeated term: qtf 2
    ("2", "if return sym40 sym7"),
    ("3", "sym12 zzqqoovvx"),         # one OOV term
    ("4", "zzqqoovvx"),               # nothing matches: no rows
]


@pytest.fixture(scope="module")
def pdf(spark):
    return synth_source_corpus(spark, n_docs=200).toPandas()


@pytest.fixture(scope="module")
def plain(spark, pdf, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("paths") / "plain")
    cfg = IndexConfig()
    store = build_index(spark, spark.createDataFrame(pdf), out, cfg,
                        bucket_span=64)
    return store, OracleIndex(pdf["content"].tolist(), cfg.pipeline)


@pytest.fixture(scope="module")
def compacted(spark, pdf, tmp_path_factory):
    """A compacted index with exact max-scores, and a copy of it with a
    segment appended after the compaction."""
    root = tmp_path_factory.mktemp("paths")
    out, appended = str(root / "compacted"), str(root / "appended")
    IncrementalIndexer(out, bucket_span=64, compact_every=1).index_batch(
        spark.createDataFrame(pdf.iloc[:150]), 0)
    shutil.copytree(out, appended)
    IncrementalIndexer(appended, bucket_span=64).index_batch(
        spark.createDataFrame(pdf.iloc[150:]), 1)
    pipeline = IndexConfig().pipeline
    contents = pdf["content"].tolist()
    return ((IndexStore(out), OracleIndex(contents[:150], pipeline)),
            (IndexStore(appended), OracleIndex(contents, pipeline)))


@pytest.fixture(scope="module")
def fielded(spark, pdf, tmp_path_factory):
    """A field index over (path, content) and its oracle."""
    out = str(tmp_path_factory.mktemp("paths") / "fielded")
    cfg = IndexConfig(field_cols=(("path", "path"), ("content", "content")))
    store = build_index(spark, spark.createDataFrame(pdf), out, cfg,
                        bucket_span=64)
    return store, OracleFieldIndex(list(zip(pdf["path"], pdf["content"])),
                                   cfg.pipeline)


def run(spark, store, queries, qcfg, bound, monkeypatch, **kw):
    monkeypatch.setattr(search_module, "_DRIVER_POSTINGS", bound)
    return (search(spark, store, queries, qcfg, **kw)
            .orderBy("qid", "rank").toPandas())


def assert_same_rows(a, b):
    assert list(a.columns) == list(b.columns)
    for col in a.columns:
        if col == "score":
            assert list(a[col]) == pytest.approx(list(b[col]), abs=1e-6)
        else:
            assert list(a[col]) == list(b[col]), col


def both_paths(spark, store, queries, qcfg, monkeypatch, **kw):
    """The Spark path's rows, checked equal to the driver path's."""
    a = run(spark, store, queries, qcfg, SPARK_PATH, monkeypatch, **kw)
    b = run(spark, store, queries, qcfg, DRIVER_PATH, monkeypatch, **kw)
    assert_same_rows(a, b)
    return a


def assert_oracle(got, expected_of, queries):
    by_qid = {qid: grp for qid, grp in got.groupby("qid")}
    for qid, text in queries:
        expected = expected_of(text)
        grp = by_qid.get(qid)
        actual = ([] if grp is None
                  else list(zip(grp["docid"], grp["score"])))
        assert [d for d, _ in actual] == [d for d, _ in expected], qid
        assert [s for _, s in actual] == pytest.approx(
            [s for _, s in expected], abs=1e-6), qid
        if grp is not None:
            assert list(grp["rank"]) == list(range(len(actual)))


@pytest.mark.parametrize("prune", [True, False])
@pytest.mark.parametrize("model", ["BM25", "DFR(In_exp,B,2)"])
def test_paths_equal_oracle(spark, plain, monkeypatch, model, prune):
    store, oracle = plain
    qcfg = QueryConfig(model=model, k=10, prune=prune,
                       ignore_low_idf=False)
    got = both_paths(spark, store, QUERIES, qcfg, monkeypatch)
    assert got["qid"].nunique() == 4
    assert_oracle(got, lambda text: oracle.search(text, qcfg), QUERIES)


@pytest.mark.parametrize("prune", [True, False])
@pytest.mark.parametrize("appended", [False, True],
                         ids=["compacted", "appended"])
def test_paths_equal_oracle_compacted(spark, compacted, monkeypatch,
                                      appended, prune):
    """DPH, a non-monotone model, skips blocks by the exact max-scores
    compaction stores (stale once a segment is appended: no bound then),
    and the appended segment's postings are read beside the compact
    file on both paths."""
    store, oracle = compacted[appended]
    assert (store.maxscore_index("DPH") is None) == appended
    assert any("/segments/" in f for f in store.posting_files()) == appended
    for k in (1, 10):
        qcfg = QueryConfig(model="DPH", k=k, prune=prune,
                           ignore_low_idf=False)
        got = both_paths(spark, store, QUERIES, qcfg, monkeypatch)
        assert_oracle(got, lambda text: oracle.search(text, qcfg), QUERIES)


@pytest.mark.parametrize("prune", [True, False])
def test_paths_equal_oracle_bm25f(spark, fielded, monkeypatch, prune):
    store, oracle = fielded
    queries = QUERIES + [("5", "src py sym1")]
    qcfg = QueryConfig(model="BM25F", k=10, prune=prune,
                       ignore_low_idf=False)
    got = both_paths(spark, store, queries, qcfg, monkeypatch)
    assert got["qid"].nunique() == 5
    assert_oracle(got, lambda text: oracle.search_bm25f(text, k=10),
                  queries)


def test_paths_with_meta(spark, plain, monkeypatch):
    store, oracle = plain
    qcfg = QueryConfig(k=5, ignore_low_idf=False)
    got = both_paths(spark, store, QUERIES, qcfg, monkeypatch,
                     with_meta=True)
    assert list(got.columns) == ["qid", "rank", "docid", "docno", "sha256",
                                 "score"]
    meta = store.meta(spark).select("docid", "docno").toPandas()
    docno = dict(zip(meta["docid"], meta["docno"]))
    assert list(got["docno"]) == [docno[d] for d in got["docid"]]
    assert_oracle(got, lambda text: oracle.search(text, qcfg), QUERIES)


def test_paths_empty_result(spark, plain, monkeypatch):
    """No query term in the lexicon; or every posting's BB2 score
    undefined (NaN, dropped), so the kernel runs and ranks nothing."""
    store, oracle = plain
    bb2 = QueryConfig(model="BB2", ignore_low_idf=False)
    assert oracle.nt("sym71") > 0 and oracle.search("sym71", bb2) == []
    for queries, qcfg in (([("a", "zzqqoovvx the")], QueryConfig()),
                          ([("b", "sym71")], bb2)):
        for kw in ({}, {"with_meta": True}):
            got = both_paths(spark, store, queries, qcfg, monkeypatch, **kw)
            assert got.empty


def test_single_query_jobs_and_skip_counters(spark, plain, monkeypatch,
                                             jobs_of, py4j_commands):
    """A warm single query on the driver path runs no Spark job and sends
    no py4j command, its caller's toPandas included; the Spark path runs
    at least three jobs (the stats broadcast, the block shuffle's map
    stage and the kernel stage).  stats_out adds a count() job on the
    Spark path only, both paths count the same groups seen and decoded,
    and it names the path."""
    store, _ = plain
    query = [("q", "sym1 sym2 if")]
    qcfg = QueryConfig(k=1, ignore_low_idf=False)
    search(spark, store, query, qcfg).toPandas()  # warm the lexicon cache
    counters = {}
    for bound in (SPARK_PATH, DRIVER_PATH):
        monkeypatch.setattr(search_module, "_DRIVER_POSTINGS", bound)
        plain_jobs = jobs_of(
            lambda: search(spark, store, query, qcfg).toPandas())
        stats: dict = {}
        stats_jobs, _ = jobs_of(
            lambda: search(spark, store, query, qcfg,
                           stats_out=stats).toPandas())
        counters[bound] = (plain_jobs, stats_jobs, stats)
    assert counters[DRIVER_PATH][:2] == ((0, 0), 0)
    assert py4j_commands(
        lambda: search(spark, store, query, qcfg).toPandas()) == 0
    (spark_jobs, _), spark_stats_jobs, _ = counters[SPARK_PATH]
    assert 3 <= spark_jobs < spark_stats_jobs
    driver_stats, spark_stats = counters[DRIVER_PATH][2], counters[SPARK_PATH][2]
    assert (driver_stats.pop("path"), spark_stats.pop("path")) == (
        "driver", "spark")
    assert driver_stats == spark_stats
    assert driver_stats["surviving_buckets"] > 0


def test_driver_result_equals_spark_frame(spark, plain, monkeypatch):
    """The driver path's LocalResult answers toPandas(), toArrow(),
    collect(), count() and schema from its pyarrow Table, and each
    equals the same table loaded through Spark, dtypes included; so do
    the methods it hands to that Spark frame (orderBy, filter, join) and
    with_meta.  Empty results, with and without meta, are LocalResults
    too.  The pyspark-internal attributes the subclass sets must be
    every attribute a classic DataFrame carries."""
    store, _ = plain
    monkeypatch.setattr(search_module, "_DRIVER_POSTINGS", DRIVER_PATH)
    qcfg = QueryConfig(k=5, ignore_low_idf=False)
    local = search(spark, store, QUERIES, qcfg)
    assert isinstance(local, LocalResult)
    loaded = spark.createDataFrame(local.toArrow(), local.schema)
    assert local.schema == loaded.schema
    assert local.columns == loaded.columns
    pd.testing.assert_frame_equal(local.toPandas(), loaded.toPandas(),
                                  check_dtype=True)
    assert local.toArrow().equals(loaded.toArrow())
    assert local.collect() == loaded.collect()
    assert ([r.asDict() for r in local.collect()]
            == [r.asDict() for r in loaded.collect()])
    assert local.count() == loaded.count() == 20

    def ordered(df):
        return df.orderBy("qid", "rank").toPandas()

    pd.testing.assert_frame_equal(ordered(local), ordered(loaded))
    assert local.filter("rank < 2").count() == 8
    meta = store.meta(spark).select("docid", "docno")
    pd.testing.assert_frame_equal(ordered(local.join(meta, "docid")),
                                  ordered(loaded.join(meta, "docid")))
    cols = ["qid", "rank", "docid", "docno", "sha256", "score"]
    pd.testing.assert_frame_equal(
        ordered(search(spark, store, QUERIES, qcfg, with_meta=True)),
        ordered(loaded.join(store.meta(spark), "docid").select(*cols)))

    classic = spark.range(1)
    assert {"_jdf", "_session", "_sc"} <= set(vars(classic))
    assert set(vars(classic)) <= set(vars(local))
    assert local._session is spark and local._sc is spark.sparkContext

    for with_meta in (False, True):
        empty = search(spark, store, [("e", "zzqqoovvx")], qcfg,
                       with_meta=with_meta)
        assert isinstance(empty, LocalResult)
        assert empty.columns == (cols if with_meta else
                                 ["qid", "rank", "docid", "score"])
        loaded = spark.createDataFrame(empty.toArrow(), empty.schema)
        pd.testing.assert_frame_equal(empty.toPandas(), loaded.toPandas())
        assert empty.collect() == [] and empty.count() == 0


def test_driver_budget_sends_small_search_to_spark(spark, plain,
                                                   monkeypatch):
    """A search small enough for one kernel run takes the Spark path when
    the store's posting files exceed the driver budget, with the same
    rows."""
    store, oracle = plain
    qcfg = QueryConfig(k=10, ignore_low_idf=False)
    over_budget = IndexStore(store.path)
    monkeypatch.setattr(over_budget, "DRIVER_POSTINGS_MAX_BYTES", 0)
    rows = {}
    for handle in (store, over_budget):
        stats: dict = {}
        rows[handle] = (search(spark, handle, QUERIES, qcfg, stats_out=stats)
                        .orderBy("qid", "rank").toPandas())
        rows[handle, "path"] = stats["path"]
    assert (rows[store, "path"], rows[over_budget, "path"]) == (
        "driver", "spark")
    assert_same_rows(rows[store], rows[over_budget])
    assert_oracle(rows[store], lambda text: oracle.search(text, qcfg),
                  QUERIES)


def test_meta_over_budget_joins_on_spark(spark, plain, monkeypatch):
    """A store whose posting files fit the driver budget but whose posting
    and meta files together do not answers every search on the driver;
    with_meta then joins the meta in Spark, with the rows of the
    driver-resident join."""
    store, _ = plain
    qcfg = QueryConfig(k=5, ignore_low_idf=False)
    postings_only = IndexStore(store.path)
    monkeypatch.setattr(postings_only, "DRIVER_POSTINGS_MAX_BYTES", sum(
        map(os.path.getsize, store.posting_files())))
    assert store.driver_meta() is not None
    assert postings_only.driver_meta() is None
    for kw in ({}, {"with_meta": True}):
        rows = []
        for handle in (store, postings_only):
            stats: dict = {}
            rows.append(run(spark, handle, QUERIES, qcfg, DRIVER_PATH,
                            monkeypatch, stats_out=stats, **kw))
            assert stats["path"] == "driver"
        assert_same_rows(*rows)
    assert list(rows[0].columns) == ["qid", "rank", "docid", "docno",
                                     "sha256", "score"]


def test_driver_directory_follows_appends_and_compaction(spark, pdf,
                                                         tmp_path,
                                                         monkeypatch):
    """One IndexStore handle searched on the driver path, then again
    after a segment is appended and after a compaction: each search
    equals the Spark path and the oracle of the documents indexed so
    far, so the handle's driver-resident postings, lexicon and manifest
    follow the index on disk."""
    out = str(tmp_path / "idx")
    indexer = IncrementalIndexer(out, bucket_span=64)
    indexer.index_batch(spark.createDataFrame(pdf.iloc[:120]), 0)
    store = IndexStore(out)
    contents = pdf["content"].tolist()
    pipeline = IndexConfig().pipeline
    qcfg = QueryConfig(model="DPH", k=10, ignore_low_idf=False)
    steps = [
        (120, lambda: None),
        (200, lambda: indexer.index_batch(
            spark.createDataFrame(pdf.iloc[120:]), 1)),
        (200, lambda: compact_postings(spark, IndexStore(out))),
    ]
    for n_docs, step in steps:
        step()
        stats: dict = {}
        driver = run(spark, store, QUERIES, qcfg, DRIVER_PATH, monkeypatch,
                     stats_out=stats, with_meta=True)
        assert stats["path"] == "driver"
        assert_same_rows(
            driver, run(spark, store, QUERIES, qcfg, SPARK_PATH, monkeypatch,
                        with_meta=True))
        assert set(driver["docno"]) <= set(pdf["docno"].iloc[:n_docs])
        oracle = OracleIndex(contents[:n_docs], pipeline)
        assert_oracle(driver, lambda text: oracle.search(text, qcfg),
                      QUERIES)
    assert store.layout == "segmented_compacted"
    assert store.maxscore_index("DPH") is not None


@pytest.mark.parametrize("index", ["plain", "fielded"])
def test_lexicon_cache_equals_spark_scan(spark, request, monkeypatch,
                                         index):
    """The driver-side lexicon, read with pyarrow, returns the rows and
    dtypes of the Spark scan that lexicons above LEXICON_CACHE_MAX_TERMS
    take; an OOV term returns no row."""
    path = request.getfixturevalue(index)[0].path
    terms = ["sym12", "if", "zzqqoovvx", "sym2", "py"]
    cached = IndexStore(path).lexicon_lookup(spark, terms)
    monkeypatch.setattr(IndexStore, "LEXICON_CACHE_MAX_TERMS", 0)
    scanned = IndexStore(path).lexicon_lookup(spark, terms)
    assert (index == "fielded") == ("field_tf" in cached.columns)
    assert list(cached.columns) == list(scanned.columns)
    assert list(cached.dtypes) == list(scanned.dtypes)
    cached, scanned = (
        df.sort_values("term", ignore_index=True).map(
            lambda v: v.tolist() if hasattr(v, "tolist") else v)
        for df in (cached, scanned))
    assert "zzqqoovvx" not in set(cached["term"])
    assert len(cached) >= 3
    assert cached.to_dict("list") == scanned.to_dict("list")


def test_stats_record_gate_postings(spark, plain, monkeypatch):
    """stats_out records the Σ nt the gate compared on both paths, and a
    gate of exactly that many postings keeps the search on the driver,
    one fewer sends it to Spark."""
    store, oracle = plain
    qcfg = QueryConfig(k=5, ignore_low_idf=False)
    qterms = search_module.process_queries(QUERIES, store.pipeline_config())
    postings = sum(oracle.nt(t) for t in qterms["term"])
    assert postings > 0
    for gate, path in ((postings, "driver"), (postings - 1, "spark")):
        monkeypatch.setattr(search_module, "_DRIVER_POSTINGS", gate)
        stats: dict = {}
        search(spark, store, QUERIES, qcfg, stats_out=stats).toPandas()
        assert (stats["path"], stats["postings"]) == (path, postings)


def test_driver_meta_runs_no_job(spark, plain, monkeypatch, jobs_of):
    """A warm driver-path search with_meta joins docno and sha256 from the
    store's driver-resident meta: its toPandas() runs no Spark job and
    equals the Spark join of the same rows, dtypes included."""
    store, _ = plain
    monkeypatch.setattr(search_module, "_DRIVER_POSTINGS", DRIVER_PATH)
    qcfg = QueryConfig(k=5, ignore_low_idf=False)
    search(spark, store, QUERIES, qcfg, with_meta=True).toPandas()  # warm
    (jobs, _), = [jobs_of(lambda: search(spark, store, QUERIES, qcfg,
                                         with_meta=True).toPandas())]
    assert jobs == 0
    local = search(spark, store, QUERIES, qcfg, with_meta=True)
    plain_rows = search(spark, store, QUERIES, qcfg)
    joined = (spark.createDataFrame(plain_rows.toArrow(), plain_rows.schema)
              .join(store.meta(spark), "docid")
              .select("qid", "rank", "docid", "docno", "sha256", "score"))
    order = ["qid", "rank"]
    pd.testing.assert_frame_equal(
        local.toPandas().sort_values(order, ignore_index=True),
        joined.toPandas().sort_values(order, ignore_index=True),
        check_dtype=True)
    assert len(local.toPandas()) == 20


def test_driver_path_memory_does_not_grow_with_queries(spark, plain,
                                                        monkeypatch):
    """The driver path feeds the kernel slices of _DRIVER_SLICE_ROWS block
    rows, so it holds a slice's worth of query pools, not the search's:
    over 512 queries the kernel's traced peak stays under a tenth of its
    peak when the same search is fed as one frame (measured: about 0.45
    MB sliced against 10.6 MB as one frame, which grows in proportion to
    the queries)."""
    import tracemalloc

    store, _ = plain
    monkeypatch.setattr(search_module, "_DRIVER_POSTINGS", DRIVER_PATH)
    real_kernel = search_module._search_kernel
    peaks = []

    def traced_kernel(*args):
        run_kernel = real_kernel(*args)

        def run(batches):
            tracemalloc.start()
            try:
                n = sum(len(out) for out in run_kernel(batches))
                peaks.append((tracemalloc.get_traced_memory()[1], n))
            finally:
                tracemalloc.stop()
            return iter(())

        return run

    monkeypatch.setattr(search_module, "_search_kernel", traced_kernel)
    qcfg = QueryConfig(k=100, prune=False, ignore_low_idf=False)
    queries = [(f"q{i:04d}", "sym1 sym2 sym3") for i in range(512)]

    def peak(slice_rows: int) -> int:
        monkeypatch.setattr(search_module, "_DRIVER_SLICE_ROWS", slice_rows)
        search(spark, store, queries, qcfg).toPandas()
        top, n = peaks.pop()
        assert n > 50 * len(queries)
        return top

    assert 10 * peak(50) < peak(1 << 30)
