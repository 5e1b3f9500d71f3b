"""Result caching + the docid/raw/null output-format variants."""

import pandas as pd
import pytest

from terrier_spark.config import IndexConfig, QueryConfig
from terrier_spark.index.builder import build_index
from terrier_spark.index.corpus import synth_source_corpus
from terrier_spark.query.cache import (
    NullQueryResultCache,
    QueryResultCache,
    cached_search,
)
from terrier_spark.query.evaluation import (
    to_null_output,
    to_raw_output,
    to_trec_docid_run,
)
from terrier_spark.query.search import search


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("cidx"))
    corpus = synth_source_corpus(spark, n_docs=120)
    return build_index(spark, corpus, out, IndexConfig(), bucket_span=64)


def test_result_cache_round_trip(spark, store):
    qcfg = QueryConfig(k=10, ignore_low_idf=False)
    cache = QueryResultCache()
    q = [("a", "sym1 sym3"), ("b", "sym2 class")]
    r1 = cached_search(spark, store, q, cache, qcfg).orderBy(
        "qid", "rank").collect()
    assert cache.misses == 2 and cache.hits == 0 and len(cache) == 2
    # repeat (one hit, one new)
    q2 = [("a2", "sym1 sym3"), ("c", "sym4")]
    r2 = cached_search(spark, store, q2, cache, qcfg).orderBy(
        "qid", "rank").collect()
    assert cache.hits == 1 and cache.misses == 3
    # the cached result equals the fresh one (modulo qid)
    direct = search(spark, store, [("a2", "sym1 sym3")], qcfg).orderBy(
        "rank").collect()
    got_a2 = [r for r in r2 if r["qid"] == "a2"]
    assert [(r["docid"], round(r["score"], 9)) for r in got_a2] == \
        [(r["docid"], round(r["score"], 9)) for r in direct]
    # whitespace-normalised text hits the same entry
    cached_search(spark, store, [("d", "  sym1   sym3 ")], cache, qcfg)
    assert cache.hits == 2
    # different k is a different key
    cached_search(spark, store, [("e", "sym1 sym3")], cache,
                  QueryConfig(k=5, ignore_low_idf=False))
    assert cache.misses == 4


def test_cache_invalidated_by_store_change(spark, tmp_path):
    """The key carries store identity + a manifest-derived version, so an
    in-place mutation of the SAME path (incremental ingest, compaction,
    delete-policy drop) stops serving stale entries — even through a
    stale IndexStore handle (the manifest is re-read from disk)."""
    import json
    import os

    out = str(tmp_path / "vidx")
    corpus = synth_source_corpus(spark, n_docs=60)
    store = build_index(spark, corpus, out, IndexConfig(), bucket_span=64)
    qcfg = QueryConfig(k=5, ignore_low_idf=False)
    cache = QueryResultCache()
    cached_search(spark, store, [("a", "sym1")], cache, qcfg)
    cached_search(spark, store, [("a", "sym1")], cache, qcfg)
    assert cache.hits == 1 and cache.misses == 1
    # simulate an in-place ingest: the manifest's stats change on disk
    mpath = os.path.join(out, "manifest.json")
    with open(mpath) as fh:
        manifest = json.load(fh)
    manifest["stats"]["num_docs"] += 1
    with open(mpath, "w") as fh:
        json.dump(manifest, fh)
    cached_search(spark, store, [("a", "sym1")], cache, qcfg)
    assert cache.misses == 2  # stale entry not served
    # a different store path never collides either
    out2 = str(tmp_path / "vidx2")
    store2 = build_index(
        spark, synth_source_corpus(spark, n_docs=60), out2,
        IndexConfig(), bucket_span=64,
    )
    cached_search(spark, store2, [("a", "sym1")], cache, qcfg)
    assert cache.misses == 3


def test_all_hits_run_no_spark_job(spark, store, jobs_of):
    """A cached_search whose queries all hit the cache runs no Spark job,
    its caller's toPandas() included, and returns the rows the misses'
    search returned; with no query it returns the empty result."""
    qcfg = QueryConfig(k=10, ignore_low_idf=False)
    cache = QueryResultCache()
    queries = [("a", "sym1 sym3"), ("b", "sym2 class")]
    first = cached_search(spark, store, queries, cache, qcfg).toPandas()
    got = []
    assert jobs_of(lambda: got.append(
        cached_search(spark, store, queries, cache, qcfg).toPandas())) == (0, 0)
    assert cache.hits == 2
    pd.testing.assert_frame_equal(
        got[0].sort_values(["qid", "rank"], ignore_index=True),
        first.sort_values(["qid", "rank"], ignore_index=True))
    empty = cached_search(spark, store, [], cache, qcfg)
    assert empty.columns == ["qid", "rank", "docid", "score"]
    assert empty.count() == 0


def test_null_cache_is_default_off(spark, store):
    qcfg = QueryConfig(k=5, ignore_low_idf=False)
    cache = NullQueryResultCache()
    cached_search(spark, store, [("a", "sym1")], cache, qcfg)
    cached_search(spark, store, [("a", "sym1")], cache, qcfg)
    assert len(cache) == 0


def test_cache_lru_bound():
    c = QueryResultCache(max_entries=2)
    for i in range(4):
        c.put(("q", i), pd.DataFrame({"x": [i]}))
    assert len(c) == 2
    assert c.get(("q", 0)) is None
    assert c.get(("q", 3)) is not None


def test_output_format_variants(spark, store):
    res = search(spark, store, [("7", "sym1 sym2")],
                 QueryConfig(k=3, ignore_low_idf=False), with_meta=True)
    docid_lines = [r["line"] for r in to_trec_docid_run(res).collect()]
    assert len(docid_lines) == 3
    parts = docid_lines[0].split(" ")
    assert parts[0] == "7" and parts[1] == "Q0" and parts[3] == "0"
    # docid format writes the INTERNAL id in position 2
    assert parts[2].isdigit()
    raw = to_raw_output(res).collect()
    assert len(raw) == 3 and set(raw[0].asDict()) == {"qid", "docid", "score"}
    assert to_null_output(res).count() == 0


def test_iceberg_export_raises_clearly_without_runtime(spark, store):
    from terrier_spark.index.iceberg import export_to_iceberg, iceberg_available

    assert iceberg_available(spark) is False  # this sandbox has no jars
    with pytest.raises(RuntimeError, match="Iceberg runtime"):
        export_to_iceberg(spark, store, "idx_ns")
