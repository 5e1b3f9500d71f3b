"""Resumable build: checkpoint/lineage correctness, resume-after-failure
equivalence (FIXTURES.md §7), segment compaction, index content equal to
the pure-Python oracle."""

import json
import os

import pytest
from pyspark.sql import functions as F

from terrier_spark.config import IndexConfig, QueryConfig
from terrier_spark.index.builder import build_index
from terrier_spark.index.corpus import synth_source_corpus
from terrier_spark.index.resumable import build_index_resumable, compact_postings
from terrier_spark.oracle import OracleIndex
from terrier_spark.query.search import search


def table_snapshot(spark, store):
    """Logical content of every index table (parquet bytes depend on task
    scheduling, so equality is asserted on rows, not files)."""
    docs = sorted(
        map(tuple, store.docs(spark).select("docid", "docno", "doclen").collect())
    )
    meta = sorted(
        map(
            tuple,
            store.meta(spark)
            .select("docid", "docno", "repo", "path", "commit", "lang", "sha256")
            .collect(),
        )
    )
    lex = sorted(
        map(tuple, store.lexicon(spark).select("term", "termid", "nt", "tf").collect())
    )
    post = {}
    from terrier_spark.compression.vbyte import decode_scoring_block

    for row in store.postings(spark).collect():
        ids, tfs, dls = decode_scoring_block(row["block"])
        for d, t, l in zip(ids, tfs, dls):
            post[(row["term"], int(d))] = (int(t), int(l))
    return docs, meta, lex, post


@pytest.fixture(scope="module")
def corpus(spark):
    return synth_source_corpus(spark, n_docs=300).repartition(6).cache()


def test_resumable_matches_oracle(spark, tmp_path):
    """build_index_resumable is build_index, and the index it writes
    holds exactly the oracle's docs, lexicon and postings (docids in
    ingest order); compaction keeps that content."""
    assert build_index_resumable is build_index
    c = synth_source_corpus(spark, n_docs=300)
    pdf = c.toPandas()
    seg = build_index_resumable(
        spark, c, str(tmp_path / "seg"), bucket_span=128
    )
    oracle = OracleIndex(pdf["content"].tolist(), IndexConfig().pipeline)
    docs, meta, lex, post = table_snapshot(spark, seg)
    assert docs == [
        (i, d, oracle.doclen[i]) for i, d in enumerate(pdf["docno"])
    ]
    assert [m[:2] for m in meta] == [d[:2] for d in docs]
    terms = sorted(oracle.postings)
    assert lex == [
        (t, i, oracle.nt(t), oracle.tf_collection(t))
        for i, t in enumerate(terms)
    ]
    assert post == {
        (t, d): (tf, oracle.doclen[d])
        for t in terms for d, tf in oracle.postings[t].items()
    }
    assert seg.stats["num_tokens"] == oracle.num_tokens
    compacted = compact_postings(spark, seg)
    assert table_snapshot(spark, compacted) == (docs, meta, lex, post)


def test_checkpoints_lineage(spark, corpus, tmp_path):
    out = str(tmp_path / "idx")
    store = build_index_resumable(spark, corpus, out, bucket_span=128)
    with open(os.path.join(out, "checkpoints", "partitions.json")) as fh:
        rows = json.load(fh)
    assert all(r["status"] == "built" for r in rows)
    assert sum(int(r["n_docs"]) for r in rows) == 300
    offs = sorted(
        (int(r["docid_offset"]), int(r["n_docs"])) for r in rows
    )
    acc = 0
    for off, n in offs:
        assert off == acc
        acc += n
    assert all(len(r["sha256_agg"]) == 64 for r in rows if int(r["n_docs"]) > 0)


def test_resume_after_partial_build_identical(spark, corpus, tmp_path):
    """Deterministic 'killed after a subset of partitions committed'
    state via skip_partitions, then a resume run; final index content
    must equal an uninterrupted build's."""
    ok = str(tmp_path / "ok")
    partial = str(tmp_path / "partial")
    full = build_index_resumable(spark, corpus, ok, bucket_span=128)

    build_index_resumable(
        spark, corpus, partial, bucket_span=128, skip_partitions={3, 4}
    )
    committed = [
        s for s in os.listdir(os.path.join(partial, "segments"))
        if os.path.exists(os.path.join(partial, "segments", s, "_SUCCESS"))
    ]
    assert len(committed) == 4  # 6 partitions minus the 2 skipped

    resumed = build_index_resumable(spark, corpus, partial, bucket_span=128)
    with open(os.path.join(partial, "checkpoints", "partitions.json")) as fh:
        rows = json.load(fh)
    by_pid = {int(r["partition_id"]): r["status"] for r in rows}
    assert by_pid[3] == "built" and by_pid[4] == "built"
    assert sum(1 for s in by_pid.values() if s == "cached") == 4
    assert table_snapshot(spark, resumed) == table_snapshot(spark, full)
    # lineage survives the resume: cached rows keep their original sha
    assert all(
        len(r["sha256_agg"]) == 64 for r in rows if int(r["n_docs"]) > 0
    )


def test_manifest_is_a_function_of_corpus_and_config(spark, corpus,
                                                     tmp_path):
    """Two builds of one corpus, and a resume of one of them, write
    byte-identical manifests: the run's timing and cache counts are on
    the returned handle (and in the log), not in the index."""
    def manifest(path):
        with open(os.path.join(path, "manifest.json"), "rb") as fh:
            return fh.read()

    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    first = build_index_resumable(spark, corpus, a, bucket_span=128)
    built = manifest(a)
    build_index_resumable(spark, corpus, b, bucket_span=128)
    assert manifest(b) == built
    resumed = build_index_resumable(spark, corpus, a, bucket_span=128)
    assert manifest(a) == built
    assert "metrics" not in first.manifest
    assert first.build_metrics["partitions_built"] == 6
    assert resumed.build_metrics["partitions_cached"] == 6
    assert resumed.build_metrics["num_docs"] == first.stats["num_docs"]
    assert resumed.build_metrics["build_seconds"] > 0


@pytest.fixture(scope="module")
def clean_build(spark, corpus, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("clean") / "idx")
    return build_index_resumable(spark, corpus, out, bucket_span=128)


@pytest.mark.parametrize("marker", [True, False])
def test_resume_ignores_stale_staging_directory(spark, corpus, clean_build,
                                                 tmp_path, marker):
    """A task killed mid-commit leaves its `<segment>.tmp-<hex>` staging
    directory beside the segments, with or without its _SUCCESS marker.
    A store opened on it reads the committed segments only; a resumed
    build deletes it, and returns the same stats, docs and BM25 results
    as a clean build."""
    import shutil

    from terrier_spark.index.store import IndexStore

    out = str(tmp_path / "stale")
    shutil.copytree(clean_build.path, out)
    seg = os.path.join(out, "segments", "seg_00000")
    stale = seg + ".tmp-deadbeef"
    shutil.copytree(seg, stale)
    if not marker:
        os.remove(os.path.join(stale, "_SUCCESS"))
    queries = [("a", "sym1 sym2 sym3"), ("b", "sym4 sym5")]
    qcfg = QueryConfig(k=10, ignore_low_idf=False)

    def ranking(store):
        return search(spark, store, queries, qcfg).orderBy(
            "qid", "rank").collect()

    want = ranking(clean_build)
    assert len(want) == 20
    before = IndexStore(out)
    assert stale not in {os.path.dirname(f) for f in before.posting_files()}
    assert before.docs(spark).count() == clean_build.docs(spark).count()
    assert ranking(before) == want
    resumed = build_index_resumable(spark, corpus, out, bucket_span=128)
    assert resumed.build_metrics["partitions_cached"] == 6
    assert not os.path.exists(stale)
    assert resumed.manifest["stats"] == clean_build.manifest["stats"]
    assert resumed.docs(spark).count() == clean_build.docs(spark).count()
    assert ranking(resumed) == want


def test_crash_path_resumes(spark, corpus, tmp_path):
    """Real exception mid-job: whatever committed before the abort is
    reused; the resume run completes and matches a clean build."""
    ok = str(tmp_path / "ok2")
    crashed = str(tmp_path / "crashed")
    full = build_index_resumable(spark, corpus, ok, bucket_span=128)
    with pytest.raises(Exception):
        build_index_resumable(
            spark, corpus, crashed, bucket_span=128, fail_partitions={5}
        )
    resumed = build_index_resumable(spark, corpus, crashed, bucket_span=128)
    assert table_snapshot(spark, resumed) == table_snapshot(spark, full)


def test_rebuild_into_same_dir(spark, corpus, tmp_path):
    """A build into a directory that holds another build must not serve
    that build's segments: other settings or doc counts raise, changed
    rows are rebuilt, and an index build_index did not plan is refused.
    The build leaves an uncached corpus uncached."""
    out = str(tmp_path / "twice")
    build_index_resumable(spark, corpus, out, bucket_span=128)
    for cfg, span in ((IndexConfig(positions=True), 128),
                      (IndexConfig(), 64)):
        with pytest.raises(ValueError, match="other settings"):
            build_index_resumable(spark, corpus, out, cfg, bucket_span=span)
    first = corpus.first()["docno"]
    with pytest.raises(ValueError, match="other input"):
        build_index_resumable(spark, corpus.filter(F.col("docno") != first),
                              out, bucket_span=128)

    edited = corpus.withColumn(
        "content",
        F.when(F.col("docno") == first, F.concat("content", F.lit(" zzedit")))
        .otherwise(F.col("content")),
    )
    assert not edited.is_cached
    resumed = build_index_resumable(spark, edited, out, bucket_span=128)
    assert not edited.is_cached
    with open(os.path.join(out, "checkpoints", "partitions.json")) as fh:
        statuses = sorted(r["status"] for r in json.load(fh))
    assert statuses == ["built"] + ["cached"] * 5
    fresh = build_index_resumable(spark, edited, str(tmp_path / "fresh"),
                                  bucket_span=128)
    assert table_snapshot(spark, resumed) == table_snapshot(spark, fresh)

    foreign = tmp_path / "foreign"
    (foreign / "segments").mkdir(parents=True)
    with pytest.raises(ValueError, match=str(foreign)):
        build_index_resumable(spark, corpus, str(foreign), bucket_span=128)


def test_compaction_preserves_content_and_search(spark, corpus, tmp_path):
    out = str(tmp_path / "cidx")
    store = build_index_resumable(spark, corpus, out, bucket_span=128)
    before = table_snapshot(spark, store)
    n_blocks_before = store.postings(spark).count()

    compacted = compact_postings(spark, store)
    assert compacted.layout == "segmented_compacted"
    after = table_snapshot(spark, compacted)
    assert before == after
    n_blocks_after = compacted.postings(spark).count()
    assert n_blocks_after <= n_blocks_before

    res = search(spark, compacted, [("q", "sym1 sym2 sym3")],
                 QueryConfig(k=10))
    assert res.count() >= 0


def test_positional_compaction(spark, corpus, tmp_path):
    """Positional payloads survive compaction: every (term, docid)
    position list is byte-identical before/after, and phrase search over
    the compacted store matches the uncompacted one."""
    from terrier_spark.compression.vbyte import (
        decode_positions,
        decode_scoring_block,
    )
    from terrier_spark.query.positional import phrase_docs

    def positions_snapshot(store):
        out = {}
        for row in store.postings(spark).collect():
            ids, tfs, _ = decode_scoring_block(row["block"])
            for d, plist in zip(ids, decode_positions(row["pos"], tfs)):
                out[(row["term"], int(d))] = list(plist)
        return out

    out = str(tmp_path / "pidx")
    cfg = IndexConfig(positions=True)
    store = build_index_resumable(spark, corpus, out, cfg, bucket_span=128)
    before = positions_snapshot(store)
    phrase_before = sorted(
        r["docid"] for r in phrase_docs(spark, store, ["sym1", "sym2"]).collect()
    )
    compacted = compact_postings(spark, store, cfg)
    assert compacted.layout == "segmented_compacted"
    assert positions_snapshot(compacted) == before
    phrase_after = sorted(
        r["docid"]
        for r in phrase_docs(spark, compacted, ["sym1", "sym2"]).collect()
    )
    assert phrase_after == phrase_before


def test_compaction_keeps_later_segments_visible(spark, corpus, tmp_path):
    """Segments appended AFTER a compaction must stay queryable (ADVICE
    round 1, medium): postings() unions the compact file with newer
    segments, finalize preserves the compacted layout, and a second
    compaction folds only the new segments in."""
    import pandas as pd

    from terrier_spark.index.store import IndexStore
    from terrier_spark.streaming.incremental import IncrementalIndexer

    pdf = synth_source_corpus(spark, n_docs=120).toPandas()
    out = str(tmp_path / "inc_c")
    inc = IncrementalIndexer(out, bucket_span=64, compact_every=1,
                             finalize_every=1)
    inc.index_batch(spark.createDataFrame(pdf.iloc[:60]).repartition(2), 0)
    st = IndexStore(out)
    assert st.layout == "segmented_compacted"
    assert st.stats["num_docs"] == 60

    # second batch arrives, finalize runs (finalize_every=1) but suppose
    # compaction lags: simulate by appending via a fresh indexer with
    # compaction off
    inc2 = IncrementalIndexer(out, bucket_span=64, compact_every=0,
                              finalize_every=1)
    inc2.index_batch(spark.createDataFrame(pdf.iloc[60:]).repartition(2), 1)
    st = IndexStore(out)
    # layout stays compacted, stats refreshed over ALL docs
    assert st.layout == "segmented_compacted"
    assert st.stats["num_docs"] == 120
    # postings view includes the new segments: every non-empty docid
    # scores (the synth corpus has a few empty/stopword-only docs)
    expected = set(
        int(r["docid"])
        for r in st.docs(spark).filter("doclen > 0").collect()
    )
    docids = set()
    from terrier_spark.compression.vbyte import decode_scoring_block

    for row in st.postings(spark).collect():
        ids, _, _ = decode_scoring_block(row["block"])
        docids.update(int(d) for d in ids)
    assert docids == expected
    assert len(expected) > 110  # the empty docs are a handful

    # a recompaction folds the new segments into the compact file
    recompacted = compact_postings(spark, st)
    seg_names = sorted(
        d for d in os.listdir(os.path.join(out, "segments"))
        if os.path.exists(os.path.join(out, "segments", d, "_SUCCESS"))
    )
    assert recompacted.manifest["compacted_segments"] == seg_names
    docids2 = set()
    for row in recompacted.postings(spark).collect():
        ids, _, _ = decode_scoring_block(row["block"])
        docids2.update(int(d) for d in ids)
    assert docids2 == expected
    # and compacting again with nothing new is a no-op
    again = compact_postings(spark, recompacted)
    assert again.manifest["compacted_segments"] == seg_names


def test_docid_reordering_segmented(spark, corpus, tmp_path):
    """sort_docids_by on the SEGMENTED path: docids follow (repo, path)
    order, and retrieval is identical to the ingest-order build (docno
    ranking is docid-independent)."""
    cfg = IndexConfig(sort_docids_by=("repo", "path"))
    sorted_store = build_index_resumable(
        spark, corpus, str(tmp_path / "sorted"), cfg, bucket_span=64
    )
    meta = sorted_store.meta(spark).orderBy("docid").toPandas()
    keys = list(zip(meta["repo"], meta["path"]))
    assert keys == sorted(keys)

    plain_store = build_index_resumable(
        spark, corpus, str(tmp_path / "plain"), IndexConfig(), bucket_span=64
    )
    qcfg = QueryConfig(k=10, ignore_low_idf=False)
    queries = [("q1", "return class sym1"), ("q2", "for int sym2 sym3")]

    def by_docno(store):
        res = search(spark, store, queries, qcfg, with_meta=True)
        return sorted(
            (r["qid"], r["rank"], r["docno"], round(r["score"], 9))
            for r in res.collect()
        )

    assert by_docno(sorted_store) == by_docno(plain_store)


def test_verify_cached_detects_drift(spark, corpus, tmp_path):
    """A cached segment whose recorded lineage does not match the resumed
    input (simulated membership drift) must be evicted and rebuilt, and
    the resumed index must equal an uninterrupted build's."""
    ok = str(tmp_path / "vok")
    out = str(tmp_path / "vidx")
    full = build_index_resumable(spark, corpus, ok, bucket_span=128)
    build_index_resumable(spark, corpus, out, bucket_span=128)
    ckpt_path = os.path.join(out, "checkpoints", "partitions.json")
    with open(ckpt_path) as fh:
        rows = json.load(fh)
    # tamper one partition's recorded lineage -> resume sees a mismatch
    victim = next(r for r in rows if int(r["n_docs"]) > 0)
    victim_pid = int(victim["partition_id"])
    victim["sha256_agg"] = "0" * 64
    with open(ckpt_path, "w") as fh:
        json.dump(rows, fh)
    resumed = build_index_resumable(spark, corpus, out, bucket_span=128,
                                    verify_cached=True)
    with open(ckpt_path) as fh:
        rows2 = json.load(fh)
    by_pid = {int(r["partition_id"]): r["status"] for r in rows2}
    assert by_pid[victim_pid] == "built"  # evicted + rebuilt
    assert sum(1 for s in by_pid.values() if s == "cached") == len(rows) - 1
    assert table_snapshot(spark, resumed) == table_snapshot(spark, full)


def test_verify_cached_clean_resume_stays_cached(spark, corpus, tmp_path):
    """With verification ON and an unchanged input, every committed
    segment must still be served from cache (hash match, no rebuild)."""
    out = str(tmp_path / "vclean")
    build_index_resumable(spark, corpus, out, bucket_span=128)
    build_index_resumable(spark, corpus, out, bucket_span=128,
                          verify_cached=True)
    with open(os.path.join(out, "checkpoints", "partitions.json")) as fh:
        rows = json.load(fh)
    assert all(r["status"] == "cached" for r in rows)
