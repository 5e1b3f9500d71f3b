"""Exact per-block max-score pruning (index/maxscore.py): the generic
Maxscore bound stored at compaction time.

Validity rests on two invariants, both tested here:
  1. qtf factorisation — every model's score factors as
     qtf_scale(qtf) * score(qtf=1)  (ModelSpec.qtf_scale);
  2. pruned == unpruned for the non-monotone models (PL2, DPH, DLH,
     BB2, DFRee, field models) on a compacted index, which previously
     ran fully unpruned.
Plus the staleness guard: stats drift after compaction disables the
stored bounds instead of pruning with them.
"""

import numpy as np
import pytest

from terrier_spark.config import IndexConfig, QueryConfig
from terrier_spark.index.corpus import synth_source_corpus
from terrier_spark.index.resumable import (
    build_index_resumable,
    compact_postings,
)
from terrier_spark.oracle import OracleIndex
from terrier_spark.query.models import MODELS, get_model
from terrier_spark.query.search import search, search_terms

NONMONOTONE = ["PL2", "DPH", "DLH", "DLH13", "BB2", "DFRee", "XSqrA_M"]


# ---------------------------------------------------------------------------
# invariant 1: qtf factorisation


def _rand_inputs(rng, n=64):
    tf = rng.integers(1, 20, n).astype(np.float64)
    dl = tf + rng.integers(0, 200, n).astype(np.float64)
    nt, F, N, T = 37.0, 120.0, 1000, 250_000
    avgdl = T / N
    return tf, dl, nt, F, N, avgdl, T


@pytest.mark.parametrize("name", sorted(MODELS))
@pytest.mark.parametrize("q", [0.4, 1.0, 2.0, 5.0])
def test_qtf_factorisation_scalar(name, q):
    spec = get_model(name)
    rng = np.random.default_rng(3)
    if spec.needs_fields:
        nf = 2
        ftf = rng.integers(0, 9, (64, nf)).astype(np.float64)
        ftf[:, 0] = np.maximum(ftf[:, 0], 1)  # at least one field with tf
        fln = ftf + rng.integers(1, 80, (64, nf)).astype(np.float64)
        args = (ftf, fln, q, 37.0, 120.0, 1000, [1.0] * nf, [1.0] * nf,
                [40.0, 200.0], 250_000)
        unit_args = (ftf, fln, 1.0) + args[3:]
    else:
        tf, dl, nt, F, N, avgdl, T = _rand_inputs(rng)
        args = (tf, dl, q, nt, F, N, avgdl, T)
        unit_args = (tf, dl, 1.0, nt, F, N, avgdl, T)
    with np.errstate(divide="ignore", invalid="ignore"):
        got = np.asarray(spec.kernel(*args), dtype=np.float64)
        unit = np.asarray(spec.kernel(*unit_args), dtype=np.float64)
        scale = float(spec.qtf_scale(np.float64(q)))
    ok = np.isfinite(got) & np.isfinite(unit)
    assert ok.any(), f"{name}: no finite scores to compare"
    np.testing.assert_allclose(got[ok], scale * unit[ok], rtol=1e-12,
                               err_msg=name)


@pytest.mark.parametrize("name", ["DFR(In_exp,B,2)", "DFR(BM,,2)",
                                  "DFR(P,L,2)"])
def test_qtf_factorisation_dfr_composed(name):
    spec = get_model(name)
    rng = np.random.default_rng(5)
    tf, dl, nt, F, N, avgdl, T = _rand_inputs(rng)
    q = 3.0
    with np.errstate(divide="ignore", invalid="ignore"):
        got = spec.kernel(tf, dl, q, nt, F, N, avgdl, T)
        unit = spec.kernel(tf, dl, 1.0, nt, F, N, avgdl, T)
        scale = float(spec.qtf_scale(np.float64(q)))
    ok = np.isfinite(got) & np.isfinite(unit)
    np.testing.assert_allclose(got[ok], scale * unit[ok], rtol=1e-12)


def test_qtf_scale_works_on_columns(spark):
    # the same callable must evaluate as a pure Column expression
    from pyspark.sql import functions as F

    df = spark.range(1).select(F.lit(3.0).alias("q"))
    for name in ("BM25", "PL2", "DirichletLM", "DFR_BM25"):
        spec = get_model(name)
        got = df.select(spec.qtf_scale(F.col("q")).alias("s")).first()["s"]
        assert got == pytest.approx(float(spec.qtf_scale(np.float64(3.0))))


# ---------------------------------------------------------------------------
# invariant 2: pruned == unpruned on a compacted index


@pytest.fixture(scope="module")
def compacted(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("msidx"))
    corpus = synth_source_corpus(spark, n_docs=300)
    cfg = IndexConfig()
    store = build_index_resumable(spark, corpus, out, cfg, bucket_span=64)
    store = compact_postings(spark, store)
    oracle = OracleIndex(corpus.toPandas()["content"].tolist(), cfg.pipeline)
    return store, oracle


def make_queries(oracle, seed=19, n=18):
    import random

    rng = random.Random(seed)
    vocab = sorted(oracle.postings)
    out = []
    for qid in range(n):
        length = 2 + qid % 5
        terms = [vocab[rng.randrange(len(vocab))] for _ in range(length)]
        if qid % 3 == 0:
            terms.append(terms[0])  # repeated term -> qtf = 2
        out.append((str(qid), " ".join(terms)))
    return out


def test_registration(compacted):
    store, _ = compacted
    models = store.manifest["maxscore_models"]
    for m in NONMONOTONE:
        assert m in models
    assert store.maxscore_index("PL2") == models.index("PL2") + 1
    assert store.maxscore_index("NoSuchModel") is None
    snap = store.manifest["maxscore_stats"]
    assert snap["num_docs"] == store.stats["num_docs"]


@pytest.mark.parametrize("model", NONMONOTONE)
def test_pruned_equals_unpruned_nonmonotone(spark, compacted, model):
    """At k=1 the running threshold is the best score so far, so the
    kernel's block skip fires on this fixture (and an unsafe group bound
    would change results)."""
    store, oracle = compacted
    assert store.maxscore_index(model) is not None
    queries = make_queries(oracle)
    for k in (20, 1):
        stats: dict = {}
        a = (
            search(spark, store, queries,
                   QueryConfig(model=model, k=k, prune=True),
                   stats_out=stats)
            .orderBy("qid", "rank").toPandas()
        )
        b = (
            search(spark, store, queries,
                   QueryConfig(model=model, k=k, prune=False))
            .orderBy("qid", "rank").toPandas()
        )
        assert list(a["qid"]) == list(b["qid"]), k
        assert list(a["docid"]) == list(b["docid"]), k
        for x, y in zip(a["score"], b["score"]):
            assert x == pytest.approx(y, abs=1e-9)
    assert stats["pruned_fraction"] > 0, stats


def test_nan_contributions_dropped(spark, compacted):
    """NaN contract (search.py decode kernel): a per-posting score that
    is NaN (BB2 outside its stirling domain on this fixture) is dropped
    at the source, so (a) no NaN/NULL ever reaches a result and (b) the
    OracleIndex applies the same rule and ranks identically."""
    store, oracle = compacted
    queries = make_queries(oracle)
    got = (
        search(spark, store, queries,
               QueryConfig(model="BB2", k=20, prune=False))
        .orderBy("qid", "rank").toPandas()
    )
    assert not got["score"].isna().any()
    # the fixture genuinely exercises the domain edge (scalar kernel is
    # NaN somewhere) ...
    assert any(
        np.isnan(get_model("BB2").kernel(
            np.array([tf]), np.array([oracle.doclen[d]]), 1.0,
            oracle.nt(t), oracle.tf_collection(t), oracle.num_docs,
            oracle.avgdl, oracle.num_tokens,
        ))[0]
        for t, pl in oracle.postings.items() for d, tf in pl.items()
    )
    # ... and the oracle ranks match the engine under the shared rule
    for qid, qtext in queries:
        ranked = got[got["qid"] == qid]
        exp = oracle.search(qtext, QueryConfig(model="BB2", k=20))
        assert list(ranked["docid"]) == [d for d, _ in exp]


def test_pruned_equals_unpruned_fractional_qtf(spark, compacted):
    """PRF re-entry uses fractional qtf weights; the exact scale factor
    (not a q>=1 approximation) must stay bound-safe there."""
    import pandas as pd

    store, oracle = compacted
    vocab = sorted(oracle.postings)
    qterms = pd.DataFrame(
        [("q0", vocab[3], 0.37), ("q0", vocab[10], 1.0),
         ("q0", vocab[20], 2.4), ("q1", vocab[5], 0.05),
         ("q1", vocab[6], 0.9)],
        columns=["qid", "term", "qtf"],
    )
    for model in ("PL2", "DPH", "BM25"):
        a = search_terms(
            spark, store, qterms,
            QueryConfig(model=model, k=15, prune=True),
        ).orderBy("qid", "rank").toPandas()
        b = search_terms(
            spark, store, qterms, QueryConfig(model=model, k=15, prune=False)
        ).orderBy("qid", "rank").toPandas()
        assert list(a["docid"]) == list(b["docid"]), model
        for x, y in zip(a["score"], b["score"]):
            assert x == pytest.approx(y, abs=1e-9)


def test_pl2_pruned_rank_identity_vs_oracle(spark, compacted):
    store, oracle = compacted
    queries = make_queries(oracle, seed=7, n=9)
    qcfg = QueryConfig(model="PL2", k=25, prune=True)
    got = (
        search(spark, store, queries, qcfg).orderBy("qid", "rank").toPandas()
    )
    by_qid = {qid: grp for qid, grp in got.groupby("qid")}
    checked = 0
    for qid, text in queries:
        expected = oracle.search(text, qcfg)
        grp = by_qid.get(qid)
        actual = list(zip(grp["docid"], grp["score"])) if grp is not None else []
        assert len(actual) == len(expected), qid
        for (gd, gs), (ed, es) in zip(actual, expected):
            assert gd == ed, qid
            assert gs == pytest.approx(es, abs=1e-6)
            checked += 1
    assert checked > 0


def test_staleness_guard(compacted):
    """Stats drift after compaction (e.g. an appended batch) must turn
    the stored bounds off rather than prune with them."""
    store, _ = compacted
    assert store.maxscore_index("PL2") is not None
    orig = store.manifest["stats"]["num_docs"]
    try:
        store.manifest["stats"]["num_docs"] = orig + 1
        assert store.maxscore_index("PL2") is None
    finally:
        store.manifest["stats"]["num_docs"] = orig


def test_prune_actually_prunes(spark, compacted):
    """The bound must do work, not just be valid: on a skewed corpus a
    1-term PL2 query at k=1 must skip some of the term's buckets
    (otherwise this feature is a no-op), and skip none unpruned."""
    from pyspark.sql import functions as F

    store, oracle = compacted
    # pick a mid-frequency term: hot enough to span many buckets
    lex = (
        store.lexicon(spark)
        .filter(F.col("nt") > 50)
        .orderBy("nt")
        .limit(1)
        .collect()
    )
    term = lex[0]["term"]
    blocks = store.postings(spark).filter(F.col("term") == term)
    n_buckets = blocks.select("bucket").distinct().count()
    if n_buckets < 4:
        pytest.skip("corpus too small to observe pruning")
    # k=1 makes theta the max score -> most buckets should fall
    stats: dict = {}
    res = search(spark, store, [("q", term)],
                 QueryConfig(model="PL2", k=1, prune=True),
                 stats_out=stats).collect()
    assert len(res) == 1
    assert stats["candidate_buckets"] == n_buckets
    assert stats["pruned_fraction"] > 0, stats
    off: dict = {}
    unpruned = search(spark, store, [("q", term)],
                      QueryConfig(model="PL2", k=1, prune=False),
                      stats_out=off).collect()
    assert off["pruned_fraction"] == 0, off
    assert res[0]["docid"] == unpruned[0]["docid"]
    assert res[0]["score"] == pytest.approx(unpruned[0]["score"], abs=1e-9)


def test_one_threshold_per_query(spark, compacted):
    """A query's block skip must not depend on which other queries share
    its batch: each query prunes against its own one running k-th best
    score, so a batch decodes exactly the groups its queries decode when
    each runs alone.  (A plan that splits one query's blocks across
    partitions prunes each part against a weaker heap and decodes
    more.)"""
    from pyspark.sql import functions as F

    store, _ = compacted
    # 1-term queries on mid-frequency terms at k=1: several buckets each,
    # and a high threshold, so the skip has work to do
    lex = (
        store.lexicon(spark).filter(F.col("nt") > 30)
        .orderBy("nt", "term").limit(4).collect()
    )
    queries = [(str(i), r["term"]) for i, r in enumerate(lex)]
    qcfg = QueryConfig(model="PL2", k=1)
    batch: dict = {}
    search(spark, store, queries, qcfg, stats_out=batch)
    assert batch["pruned_fraction"] > 0, batch
    alone = 0
    for q in queries:
        one: dict = {}
        search(spark, store, [q], qcfg, stats_out=one)
        alone += one["surviving_buckets"]
    assert batch["surviving_buckets"] == alone, (batch, alone)


def test_small_runs_equal_unpruned(spark, compacted):
    """The kernel's runs are invisible in results and in the skip
    counters.  A run budget of a few postings makes every run hold one
    or two groups, so groups are dropped at run starts that a larger run
    would decode first, and two-row Arrow batches make groups straddle
    the kernel's input batches.  BB2 also drops NaN contributions inside
    the runs (test_nan_contributions_dropped)."""
    import sys

    store, oracle = compacted
    queries = make_queries(oracle, n=10)
    qcfg = QueryConfig(model="BB2", k=1)
    whole: dict = {}
    search(spark, store, queries, qcfg, stats_out=whole)
    module = sys.modules[search.__module__]
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    saved_budget, saved_rows = module._RUN_POSTINGS, spark.conf.get(key)
    module._RUN_POSTINGS = 3
    spark.conf.set(key, "2")
    try:
        runs: dict = {}
        a = (
            search(spark, store, queries, qcfg, stats_out=runs)
            .orderBy("qid", "rank").toPandas()
        )
    finally:
        module._RUN_POSTINGS = saved_budget
        spark.conf.set(key, saved_rows)
    b = (
        search(spark, store, queries, QueryConfig(model="BB2", k=1,
                                                  prune=False))
        .orderBy("qid", "rank").toPandas()
    )
    assert len(a) > 0
    assert list(a["qid"]) == list(b["qid"])
    assert list(a["docid"]) == list(b["docid"])
    for x, y in zip(a["score"], b["score"]):
        assert x == pytest.approx(y, abs=1e-9)
    assert whole["pruned_fraction"] > 0, whole
    # a 3-posting run budget also sends the search to the Spark path
    assert (whole.pop("path"), runs.pop("path")) == ("driver", "spark")
    assert runs == whole


# ---------------------------------------------------------------------------
# field models


@pytest.fixture(scope="module")
def compacted_fields(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("msfidx"))
    corpus = synth_source_corpus(spark, n_docs=200)
    cfg = IndexConfig(field_cols=(("path", "path"), ("content", "content")))
    store = build_index_resumable(spark, corpus, out, cfg, bucket_span=64)
    store = compact_postings(spark, store)
    pdf = corpus.toPandas()
    return store, pdf


@pytest.mark.parametrize("model", ["PL2F", "ML2", "MDL2", "BM25F"])
def test_field_models_pruned_equals_unpruned(spark, compacted_fields, model):
    store, pdf = compacted_fields
    assert store.maxscore_index(model) is not None
    terms = ["sym1", "sym2", "if", "return", "sym40"]
    queries = [("0", " ".join(terms[:3])), ("1", " ".join(terms[2:])),
               ("2", terms[0] + " " + terms[0])]
    a = (
        search(spark, store, queries,
               QueryConfig(model=model, k=20, prune=True))
        .orderBy("qid", "rank").toPandas()
    )
    b = (
        search(spark, store, queries,
               QueryConfig(model=model, k=20, prune=False))
        .orderBy("qid", "rank").toPandas()
    )
    assert len(a) > 0
    assert list(a["qid"]) == list(b["qid"])
    assert list(a["docid"]) == list(b["docid"])
    for x, y in zip(a["score"], b["score"]):
        assert x == pytest.approx(y, abs=1e-9)


def test_field_models_nondefault_params_fall_back(spark, compacted_fields):
    """Stored field maxima assume weights=cs=1.0; a reweighted query must
    not consume them (and must still be correct, pruned or not)."""
    store, pdf = compacted_fields
    queries = [("0", "sym1 if return")]
    qcfg = QueryConfig(model="PL2F", k=10, prune=True,
                       field_weights=(2.0, 1.0), field_c=(1.0, 0.5))
    a = search(spark, store, queries, qcfg).orderBy("rank").toPandas()
    b = search(
        spark, store, queries,
        QueryConfig(model="PL2F", k=10, prune=False,
                    field_weights=(2.0, 1.0), field_c=(1.0, 0.5)),
    ).orderBy("rank").toPandas()
    assert list(a["docid"]) == list(b["docid"])
    for x, y in zip(a["score"], b["score"]):
        assert x == pytest.approx(y, abs=1e-9)
