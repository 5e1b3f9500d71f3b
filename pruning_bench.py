"""End-to-end block-max pruning evidence on a HETEROGENEOUS corpus.

The uniform synth_zipf_corpus could never show a wall-clock pruning win:
every docid bucket is statistically identical, so per-bucket score
bounds are near-equal and theta can't beat them (BASELINE.md
"uniform-corpus pruning limit" — k=10 returned 100x fewer rows in ~the
same time).  This bench runs the flagship WAND/Maxscore machinery where
it is supposed to matter: synth_topical_corpus (topic-clustered
vocabularies + lognormal doc-length spread), indexed with the fork's
docid reordering (InvertedIndexReordering.java:114-140;
IndexConfig(sort_docids_by=("repo", "path")) — repo encodes the topic),
so each topic occupies contiguous docid ranges and per-bucket bounds
are heterogeneous.

What it measures (all best-of-N warm batches, 900 topical queries):

  reordered index:  k=10   prune on vs off   <- the serving case
                    k=1000 prune on vs off   <- the eval-run case
  ingest index:     k=10   prune on vs off   <- control: scrambled
                    docids destroy bucket locality, pruning should win
                    much less -> evidence the win comes from bounds,
                    not overhead differences

plus the pruned-bucket fraction (the share of (query, bucket) groups
the search kernel skipped, from its stats_out counters), a
pruned == unpruned exact-row check on a query sample, and the docid-
reordering compression experiment: postings_compact bytes under ingest
order vs (repo, path) order on the same corpus.

Output: BENCH_PRUNING.json (quiet_box-stamped like the other benches).

Knobs (env):
  PRUNING_DOCS/VOCAB/TOPICS/BUCKET_SPAN/REPS  corpus + protocol sizing
  PRUNING_CPUS      session cores (default all) — the "small node" arm
                    runs the same batches at e.g. 4 cores (pin the
                    process tree with taskset for a honest core count)
  PRUNING_ROOT      persistent work dir: corpus + indexes are REUSED
                    when already built there (so the small-node arm
                    reuses the protocol run's indexes); default = a
                    tempdir, removed at exit
  PRUNING_INDEXES   comma list of index variants to build/use
                    (default "reordered,ingest")
  PRUNING_ARMS      comma list of timed arms `index_kN`
                    (default "reordered_k10,reordered_k1000,ingest_k10")
  PRUNING_FRACTIONS / PRUNING_CHECKS   "0" skips the diagnostic
                    fraction passes / pruned==unpruned checks
  PRUNING_TAG       suffix for the output file (e.g. SMALLNODE ->
                    BENCH_PRUNING_SMALLNODE.json)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

import numpy as np

DOCS = int(os.environ.get("PRUNING_DOCS", "500000"))
VOCAB = int(os.environ.get("PRUNING_VOCAB", "50000"))
TOPICS = int(os.environ.get("PRUNING_TOPICS", "50"))
BUCKET_SPAN = int(os.environ.get("PRUNING_BUCKET_SPAN", "8192"))
REPS = int(os.environ.get("PRUNING_REPS", "3"))
CPUS = int(os.environ.get("PRUNING_CPUS", str(os.cpu_count())))
SEED = 42


def make_topical_queries(n_per_bucket: int = 100, p_shared: float = 0.2,
                         seed: int = SEED, vocab: int = None,
                         topics: int = None):
    """900 queries (lengths 2..10 x n_per_bucket), each anchored to one
    topic: terms Zipf-sampled from that topic's vocabulary slice, with
    p_shared of the terms drawn from the shared (stopword-like) head —
    the hot+selective mix real query logs show.  vocab/topics default to
    this module's PRUNING_* protocol constants; scaling_bench passes its
    own so the two benches can share one generator."""
    from terrier_spark.index.corpus import topical_slice_ranks, zipf_token

    vocab = VOCAB if vocab is None else vocab
    topics = TOPICS if topics is None else topics
    n_shared, slice_size = topical_slice_ranks(vocab, topics)

    def zipf_cum(n):
        c = np.cumsum(1.0 / np.arange(1, n + 1, dtype=np.float64))
        return c / c[-1]

    cum_shared, cum_slice = zipf_cum(n_shared), zipf_cum(slice_size)
    rng = np.random.default_rng(seed)
    queries = []
    qid = 0
    for length in range(2, 11):
        for _ in range(n_per_bucket):
            topic = int(rng.integers(0, topics))
            toks = []
            for _ in range(length):
                if rng.random() < p_shared:
                    idx = int(np.searchsorted(cum_shared, rng.random()))
                else:
                    idx = n_shared + topic * slice_size + int(
                        np.searchsorted(cum_slice, rng.random())
                    )
                toks.append(zipf_token(idx + 1))
            queries.append((str(qid), " ".join(toks)))
            qid += 1
    return queries


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def progress(msg: str) -> None:
    print(f"PROGRESS {time.strftime('%H:%M:%S')} {msg}", flush=True)


def timed_batch(spark, store, queries, qcfg, reps: int):
    """Cold run + `reps` measured warm runs; returns (best, all, rows)."""
    from terrier_spark.query.search import search

    times, n_rows = [], 0
    for r in range(1 + reps):
        t0 = time.time()
        n_rows = search(spark, store, queries, qcfg).count()
        dt = time.time() - t0
        if r > 0:
            times.append(round(dt, 3))
    return min(times), times, n_rows


def exact_match_check(spark, store, queries, k: int) -> bool:
    """pruned == unpruned on exact (qid, rank, docid, score) rows."""
    from terrier_spark.config import QueryConfig
    from terrier_spark.query.search import search

    def rows(prune):
        qcfg = QueryConfig(k=k, prune=prune)
        got = search(spark, store, queries, qcfg).collect()
        return sorted(
            (r.qid, r.rank, r.docid, round(r.score, 9)) for r in got
        )

    return rows(True) == rows(False)


def main() -> None:
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from bench import cpu_probe, quiet_box

    from terrier_spark.config import IndexConfig, QueryConfig
    from terrier_spark.index.corpus import synth_topical_corpus
    from terrier_spark.index.resumable import (
        build_index_resumable,
        compact_postings,
    )
    from terrier_spark.index.store import IndexStore
    from terrier_spark.session import get_spark

    index_names = os.environ.get(
        "PRUNING_INDEXES", "reordered,ingest").split(",")
    arms = [a for a in os.environ.get(
        "PRUNING_ARMS", "reordered_k10,reordered_k1000,ingest_k10"
    ).split(",") if a]  # PRUNING_ARMS="" -> build/diagnostics only
    do_fractions = os.environ.get("PRUNING_FRACTIONS", "1") == "1"
    do_checks = os.environ.get("PRUNING_CHECKS", "1") == "1"
    tag = os.environ.get("PRUNING_TAG", "")

    load_before = [round(x, 2) for x in os.getloadavg()]
    probe_before = cpu_probe()

    shm = "/dev/shm" if os.path.isdir("/dev/shm") else None
    root = os.environ.get("PRUNING_ROOT")
    keep_root = root is not None
    if root:
        os.makedirs(root, exist_ok=True)
    else:
        root = tempfile.mkdtemp(prefix="pruning_bench_", dir=shm)
    # the k=1000 UNPRUNED batch holds ~2-3e8 (qid, docid) agg cells in
    # the single local-mode JVM; 48g keeps the comparison arm honest
    # (an OOM-retry there would fake a pruning win)
    os.environ.setdefault("SPARK_DRIVER_MEM", "48g")
    # shuffle partitions never drop below 32 even on the small-node arm:
    # per-task agg state is what OOMs, and fewer cores only cap
    # concurrency, not per-task volume
    spark = get_spark("pruning-bench", cpus=CPUS,
                      shuffle_partitions=max(CPUS, 32))
    spark.sparkContext.setLogLevel("ERROR")
    cfg_of = {
        "reordered": IndexConfig(sort_docids_by=("repo", "path")),
        "ingest": IndexConfig(),
    }
    report: dict = {
        "metric": "block-max pruning wall-clock win on a topical corpus",
        "protocol": {
            "docs": DOCS, "vocab": VOCAB, "topics": TOPICS,
            "bucket_span": BUCKET_SPAN, "meas_reps": REPS,
            "queries": 900, "corpus": "synth_topical_corpus",
            "cpus": CPUS, "arms": arms,
        },
    }
    try:
        # generate once, persist: every index build reads identical bytes
        corpus_path = os.path.join(root, "corpus.parquet")
        if not os.path.exists(os.path.join(corpus_path, "_SUCCESS")):
            synth_topical_corpus(
                spark, DOCS, vocab_size=VOCAB, n_topics=TOPICS, seed=SEED
            ).write.mode("overwrite").parquet(corpus_path)
            progress("corpus written")
        corpus = spark.read.parquet(corpus_path)

        stores = {}
        for name in index_names:
            idx_dir = os.path.join(root, f"idx_{name}")
            if os.path.exists(os.path.join(idx_dir, "manifest.json")):
                stores[name] = IndexStore(idx_dir)
                progress(f"index {name} reused from {idx_dir}")
            else:
                t0 = time.time()
                st = build_index_resumable(spark, corpus, idx_dir,
                                           cfg_of[name],
                                           bucket_span=BUCKET_SPAN)
                st = compact_postings(spark, st)
                stores[name] = st
                report[f"{name}_build_sec"] = round(time.time() - t0, 3)
                progress(f"index {name} built in "
                         f"{report[name + '_build_sec']}s")
            report[f"{name}_postings_bytes"] = dir_bytes(
                os.path.join(idx_dir, "postings_compact")
            )
        if {"reordered", "ingest"} <= set(stores):
            report["reorder_compression_ratio"] = round(
                report["ingest_postings_bytes"]
                / report["reordered_postings_bytes"], 4
            )

        queries = make_topical_queries()
        runs = {}
        arm_pairs = []
        for arm in arms:
            index_name, k_s = arm.rsplit("_k", 1)
            arm_pairs.append((index_name, int(k_s)))
        for index_name, k in arm_pairs:
            st = stores[index_name]
            for prune in (True, False):
                qcfg = QueryConfig(k=k, prune=prune)
                best, times, n_rows = timed_batch(
                    spark, st, queries, qcfg, REPS
                )
                progress(f"batch {index_name} k={k} "
                         f"prune={prune}: best={best}s "
                         f"all={times} rows={n_rows}")
                runs[f"{index_name}_k{k}_prune{int(prune)}"] = {
                    "warm_sec_best": best,
                    "warm_sec_all": times,
                    "queries_per_sec": round(len(queries) / best, 2),
                    "result_rows": n_rows,
                }
        report["runs"] = runs
        for index_name, k in arm_pairs:
            on = runs[f"{index_name}_k{k}_prune1"]["warm_sec_best"]
            off = runs[f"{index_name}_k{k}_prune0"]["warm_sec_best"]
            report[f"{index_name}_k{k}_prune_speedup"] = round(off / on, 3)

        # pruned-bucket fraction (untimed diagnostic pass, the search
        # kernel's own skip counters)
        from terrier_spark.query.search import search

        if do_fractions:
            fractions = {}
            for index_name in stores:
                for k in (10, 1000):
                    stats: dict = {}
                    search(spark, stores[index_name], queries,
                           QueryConfig(k=k, prune=True),
                           stats_out=stats).count()
                    fractions[f"{index_name}_k{k}"] = stats
                    progress(f"fractions {index_name} k={k}: {stats}")
            report["prune_fractions"] = fractions

        # correctness: pruning must not change a single row
        if do_checks:
            sample = queries[::15]  # 60 queries across all length buckets
            checks = {}
            for index_name, k in arm_pairs:
                checks[f"{index_name}_k{k}"] = exact_match_check(
                    spark, stores[index_name], sample, k)
            report["pruned_equals_unpruned"] = checks

        load_after = [round(x, 2) for x in os.getloadavg()]
        time.sleep(15)  # settle: probe external load, not our wind-down
        probe_after = cpu_probe()
        report["host_load"] = {
            "loadavg_before": load_before, "loadavg_after": load_after,
            "cpu_probe_sec_before": probe_before,
            "cpu_probe_sec_after": probe_after,
        }
        report["quiet_box"] = quiet_box(load_before, probe_before,
                                        probe_after)
        report["protocol_compliant"] = (
            DOCS >= 500000 and VOCAB >= 50000 and TOPICS >= 50
            and REPS >= 3 and BUCKET_SPAN == 8192
        )
        print(json.dumps(report, indent=2))
        if tag:
            out = f"BENCH_PRUNING_{tag}.json"
        elif report["protocol_compliant"] and CPUS == os.cpu_count():
            out = "BENCH_PRUNING.json"
        else:
            out = "BENCH_PRUNING_adhoc.json"
        with open(out, "w") as fh:
            json.dump(report, fh, indent=2)
        print(f"wrote {out}")
    finally:
        if not keep_root:
            shutil.rmtree(root, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
