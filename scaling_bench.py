"""Two-parallelism scaling benchmark (BASELINE.json north rule: N vs 4N
executors at >=0.8 index-build throughput scaling efficiency; the
sandbox stand-in is local[8] vs local[32] in separate JVMs on the same
input).

Usage:
    python scaling_bench.py                  # run both levels, report
    python scaling_bench.py --worker --cpus 8   # one level (internal)

The corpus is the sf0.1 documents table replicated REPLICAS x with
distinct docnos (deterministic; ~40k docs) so per-doc compute dominates
fixed session/job overhead.

QUERY-side scaling (SCALING_PHASE=queries): the driver testdata's
29-term vocabulary makes query scaling unmeasurable (every term matches
~every doc; an 8M-doc attempt OOMed — BASELINE.md), so this phase
builds ONE compacted index over the synthetic Zipf corpus
(synth_zipf_corpus: 50k-term Zipf s=1 vocabulary, realistic idf
spread), then runs the 900-query warm batch against it at both
parallelism levels in pinned local-cluster workers and reports
warm-throughput scaling efficiency to BENCH_SCALING_QUERIES.json.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# sized so per-doc compute (~100us/doc) dominates Spark's ~9s of fixed
# per-build overhead at the low level; otherwise the efficiency ratio
# measures scheduler constants, not the pipeline
REPLICAS = int(os.environ.get("SCALING_REPLICAS", "1600"))
WARM_REPLICAS = int(os.environ.get("SCALING_WARM_REPLICAS", "8"))
# default N=4 vs 4N=16 executor-cores (1 vs 4 real executor processes of
# 4 cores each) leaves headroom on the 32-core box for driver + OS at
# BOTH levels — saturating the whole box at the high level handicaps it
LEVELS = [int(x) for x in os.environ.get("SCALING_LEVELS", "4,16").split(",")]
# local[N] bounds concurrent TASKS, not CPUs: each task pairs a JVM
# thread with a Python worker process, so an unpinned local[8] run can
# consume ~16 cores and fake the baseline.  taskset pins the whole
# process tree (JVM + Python workers) to exactly N cores, which is what
# "N executors vs 4N executors" means.
PIN_CPUS = os.environ.get("SCALING_PIN", "1") == "1"


def _host_load_block():
    """Start-of-run host snapshot; pair with _host_load_finish()."""
    from bench import cpu_probe

    return {"loadavg_before": [round(x, 2) for x in os.getloadavg()],
            "cpu_probe_sec_before": cpu_probe()}


def _host_load_finish(block: dict) -> bool:
    """Complete the snapshot and return the quiet_box verdict (same
    thresholds as bench.py: loadavg < 1 at start, probe drift between
    -25% and +5%)."""
    from bench import cpu_probe, quiet_box

    block["loadavg_after"] = [round(x, 2) for x in os.getloadavg()]
    # settle before the closing probe (same rationale as bench.py:
    # sampled immediately after a long all-core run it reads the
    # bench's own wind-down, not external load)
    time.sleep(15)
    block["cpu_probe_sec_after"] = cpu_probe()
    return quiet_box(block["loadavg_before"],
                     block["cpu_probe_sec_before"],
                     block["cpu_probe_sec_after"])


def worker(cpus: int) -> None:
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    os.environ.setdefault("SPARK_DRIVER_MEM", "24g")
    # On one box, disk bandwidth does NOT grow with the parallelism level
    # the way it does when going from N to 4N executors (each executor
    # brings its own disks).  Shuffle + index output go to tmpfs so the
    # two levels compare compute, not the sandbox's single disk.
    if os.path.isdir("/dev/shm"):
        shm = f"/dev/shm/scaling_{cpus}"
        os.makedirs(shm, exist_ok=True)
        os.environ.setdefault("SPARK_LOCAL_DIRS", shm)
        tempfile.tempdir = shm
    from pyspark.sql import functions as F

    from terrier_spark.config import IndexConfig, QueryConfig
    from terrier_spark.index.builder import build_index
    from terrier_spark.index.corpus import load_documents_corpus
    from terrier_spark.query.search import search
    from terrier_spark.session import get_spark

    from bench import make_query_set

    mode = os.environ.get("SCALING_MODE", "executors")
    if mode == "executors":
        # N vs 4N REAL executor processes (local-cluster spawns separate
        # executor JVMs, each with its own python workers — the faithful
        # emulation of the cluster-size criterion), 4 cores each
        from pyspark.sql import SparkSession

        n_exec = max(cpus // 4, 1)
        repo_root = os.path.dirname(os.path.abspath(__file__))
        os.environ["PYTHONPATH"] = (
            repo_root + ":" + os.environ.get("PYTHONPATH", "")
        )
        # 225-query batches over the 8M-doc index need more executor heap
        # than the build (the query phase OOMed at 8G with 4 tasks/executor)
        exec_mb = int(os.environ.get("SCALING_EXECUTOR_MB", "14336"))
        spark = (
            SparkSession.builder
            .master(f"local-cluster[{n_exec},4,{exec_mb}]")
            .config("spark.executorEnv.PYTHONPATH", repo_root)
            .appName(f"scaling-{cpus}")
            .config("spark.sql.shuffle.partitions", str(cpus))
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.sql.execution.arrow.pyspark.enabled", "true")
            .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
            .config("spark.driver.memory", "8g")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
    else:
        spark = get_spark(f"scaling-{cpus}", cpus=cpus,
                          shuffle_partitions=cpus)

    def replicated(n_rep: int):
        # repartition the BASE before the crossJoin: the join output
        # inherits the stream side's partitioning, so replication runs in
        # cpus*4 parallel tasks instead of the base parquet's handful —
        # a trailing repartition would funnel all generated rows through
        # those few source tasks first, serializing both levels equally
        base = load_documents_corpus(spark, SF_DIR).repartition(cpus * 4)
        return (
            base.crossJoin(spark.range(n_rep).withColumnRenamed("id", "rep"))
            .withColumn("docno", F.concat_ws("_", "docno", "rep"))
            .withColumn("path", F.concat_ws("_", "path", "rep"))
            .drop("rep")
        )

    def run_build(c, path):
        return build_index(spark, c, path, IndexConfig(), bucket_span=4096)

    out = tempfile.mkdtemp(prefix=f"scaling_{cpus}_")
    try:
        # small warm-up build (JVM JIT, python workers, parquet writers),
        # then repeated measured builds keeping the best — the fork's
        # repeat-and-keep-last discipline (TrecTerrier.java:47-50), with
        # min instead of last because the sandbox shares its host
        reps = int(os.environ.get("SCALING_MEAS_REPS", "3"))
        run_build(replicated(WARM_REPLICAS), f"{out}/warm")
        corpus = replicated(REPLICAS)
        times = []
        for r in range(reps):
            t0 = time.time()
            store = run_build(corpus, f"{out}/meas{r}")
            times.append(time.time() - t0)
            if r < reps - 1:  # keep the last build for the query phase
                shutil.rmtree(f"{out}/meas{r}", ignore_errors=True)
        build_sec = min(times)
        n_docs = store.stats["num_docs"]

        query_sec, n_queries = None, 0
        if os.environ.get("SCALING_QUERIES", "0") == "1":
            vocab = [r["term"] for r in store.lexicon(spark).limit(2000).collect()]
            queries = make_query_set(sorted(vocab), n_per_bucket=25)
            qcfg = QueryConfig(k=1000, ignore_low_idf=False, prune=True)
            search(spark, store, queries, qcfg).count()  # cold
            t0 = time.time()
            search(spark, store, queries, qcfg).count()
            query_sec = round(time.time() - t0, 3)
            n_queries = len(queries)
        print(
            "WORKER_RESULT "
            + json.dumps(
                {
                    "cpus": cpus,
                    "n_docs": n_docs,
                    "build_sec": round(build_sec, 3),
                    "build_docs_per_sec": round(n_docs / build_sec, 2),
                    "warm_query_sec": query_sec,
                    "queries": n_queries,
                }
            )
        )
    finally:
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(f"/dev/shm/scaling_{cpus}", ignore_errors=True)
        spark.stop()


def make_zipf_queries(vocab_size: int, n_per_bucket: int = 100,
                      seed: int = 42):
    """900 queries (9 length buckets x 100) whose terms are Zipf-sampled
    ranks re-encoded with the corpus token scheme — the realistic mix of
    hot and tail terms real query logs show."""
    import numpy as np

    from terrier_spark.index.corpus import zipf_token

    ranks = np.arange(1, vocab_size + 1, dtype=np.float64)
    cum = np.cumsum(1.0 / ranks)
    cum /= cum[-1]
    rng = np.random.default_rng(seed)
    queries = []
    qid = 0
    for length in range(2, 11):
        for _ in range(n_per_bucket):
            rs = np.searchsorted(cum, rng.random(length)) + 1
            queries.append((str(qid), " ".join(zipf_token(int(r)) for r in rs)))
            qid += 1
    return queries


def query_worker(cpus: int) -> None:
    """One parallelism level of the QUERY-side scaling run: open the
    PREBUILT index (built once by the parent — query scaling must not
    conflate build scaling) and run the 900-query batch, cold + best-of
    reps warm."""
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    index_dir = os.environ["SCALING_INDEX_DIR"]
    vocab_size = int(os.environ.get("SCALING_ZIPF_VOCAB", "50000"))
    reps = int(os.environ.get("SCALING_MEAS_REPS", "3"))

    from pyspark.sql import SparkSession

    from terrier_spark.config import QueryConfig
    from terrier_spark.index.store import IndexStore
    from terrier_spark.query.search import search

    n_exec = max(cpus // 4, 1)
    repo_root = os.path.dirname(os.path.abspath(__file__))
    os.environ["PYTHONPATH"] = repo_root + ":" + os.environ.get("PYTHONPATH", "")
    exec_mb = int(os.environ.get("SCALING_EXECUTOR_MB", "20480"))
    spark = (
        SparkSession.builder
        .master(f"local-cluster[{n_exec},4,{exec_mb}]")
        .config("spark.executorEnv.PYTHONPATH", repo_root)
        .appName(f"qscaling-{cpus}")
        # FIXED partition count at both levels: (a) comparing levels is
        # only fair when the plan does identical work; (b) partitions =
        # cpus put ~50M agg cells in each of 4 tasks at the low level
        # and OOMed a 20G executor heap (measured) — 64 bounds per-task
        # state at any level, and cores still cap concurrency.
        # AQE partition COALESCING must stay off here: it sizes by
        # shuffle BYTES, and once the decode exchange moved to int32
        # qids the bytes shrank enough that it re-coalesced the agg
        # exchange to 4 tasks and re-created exactly the per-task-state
        # OOM the fixed 64 exists to prevent (hash-agg state per row is
        # ~2-3x its wire footprint, so byte-based coalescing
        # underestimates memory).
        .config("spark.sql.shuffle.partitions", "64")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "8g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    try:
        store = IndexStore(index_dir)
        if os.environ.get("SCALING_CORPUS", "zipf") == "topical":
            from pruning_bench import make_topical_queries

            queries = make_topical_queries(
                vocab=vocab_size,
                topics=int(os.environ.get("SCALING_TOPICS", "50")),
            )
        else:
            queries = make_zipf_queries(vocab_size)
        # SCALING_K=10 variant: top-10 retrieval (the common serving
        # case) — block-max pruning kills most decode volume, so this
        # measures the plan's scaling with the single-box
        # memory-bandwidth confound of the k=1000 run largely removed
        k = int(os.environ.get("SCALING_K", "1000"))
        qcfg = QueryConfig(k=k, prune=True)
        times = []
        n_rows = 0
        for r in range(1 + reps):
            t0 = time.time()
            n_rows = search(spark, store, queries, qcfg).count()
            dt = time.time() - t0
            if r > 0:  # first batch is the cold one
                times.append(dt)
        best = min(times)
        print(
            "WORKER_RESULT "
            + json.dumps(
                {
                    "cpus": cpus,
                    "n_queries": len(queries),
                    "warm_query_sec": round(best, 3),
                    "warm_queries_per_sec": round(len(queries) / best, 2),
                    "warm_times": [round(t, 3) for t in times],
                    "result_rows": n_rows,
                }
            )
        )
    finally:
        spark.stop()


def main_queries() -> None:
    """Parent for SCALING_PHASE=queries: build the Zipf index once, then
    run pinned query workers at both levels."""
    import shutil as _shutil
    import subprocess as _sp
    import tempfile as _tf

    n_docs = int(os.environ.get("SCALING_ZIPF_DOCS", "500000"))
    vocab = int(os.environ.get("SCALING_ZIPF_VOCAB", "50000"))
    reps = int(os.environ.get("SCALING_MEAS_REPS", "3"))
    shm = "/dev/shm" if os.path.isdir("/dev/shm") else None
    root = _tf.mkdtemp(prefix="qscaling_", dir=shm)
    index_dir = os.path.join(root, "zipf_index")
    host_load = _host_load_block()
    try:
        from terrier_spark.config import IndexConfig
        from terrier_spark.index.corpus import (
            synth_topical_corpus,
            synth_zipf_corpus,
        )
        from terrier_spark.index.resumable import (
            build_index_resumable,
            compact_postings,
        )
        from terrier_spark.session import get_spark

        spark = get_spark("qscaling-build", cpus=os.cpu_count(),
                          shuffle_partitions=os.cpu_count())
        # SCALING_CORPUS=topical: scale the PRUNING protocol instead of
        # the uniform Zipf one — topic-clustered corpus, reordered
        # docids, 8192 bucket span (pruning_bench.py's arms), so the
        # two-level run measures how the PRUNED plan scales.  The
        # uniform corpus (default) can't prune, so its run isolates the
        # exhaustive decode+agg path.
        corpus_kind = os.environ.get("SCALING_CORPUS", "zipf")
        topics = int(os.environ.get("SCALING_TOPICS", "50"))
        if corpus_kind == "topical":
            corpus = synth_topical_corpus(spark, n_docs, vocab_size=vocab,
                                          n_topics=topics)
            build_cfg = IndexConfig(sort_docids_by=("repo", "path"))
            span = int(os.environ.get("SCALING_BUCKET_SPAN", "8192"))
        else:
            corpus = synth_zipf_corpus(spark, n_docs, vocab_size=vocab)
            build_cfg = IndexConfig()
            span = int(os.environ.get("SCALING_BUCKET_SPAN", "65536"))
        t0 = time.time()
        store = build_index_resumable(spark, corpus, index_dir,
                                      build_cfg, bucket_span=span)
        store = compact_postings(spark, store)
        build_sec = round(time.time() - t0, 3)
        n_built = store.stats["num_docs"]
        spark.stop()

        results = {}
        for cpus in LEVELS:
            env = dict(os.environ, SCALING_INDEX_DIR=index_dir)
            cmd = [sys.executable, os.path.abspath(__file__),
                   "--worker-queries", "--cpus", str(cpus)]
            if PIN_CPUS:
                factor = float(os.environ.get("SCALING_PIN_FACTOR", "1.5"))
                pin = min(int(cpus * factor), os.cpu_count())
                cmd = ["taskset", "-c", f"0-{pin - 1}"] + cmd
            wk_timeout = int(os.environ.get("SCALING_WORKER_TIMEOUT", "3600"))
            proc = _sp.run(cmd, capture_output=True, text=True,
                           timeout=wk_timeout, env=env)
            for line in proc.stdout.splitlines():
                if line.startswith("WORKER_RESULT "):
                    results[cpus] = json.loads(line[len("WORKER_RESULT "):])
            if cpus not in results:
                # full logs to files — the real traceback is usually
                # buried under progress-bar output
                for tag, data in (("out", proc.stdout), ("err", proc.stderr)):
                    with open(f"/tmp/qworker_{cpus}.{tag}", "w") as fh:
                        fh.write(data)
                sys.stderr.write(proc.stdout[-2000:] + proc.stderr[-2000:])
                raise SystemExit(
                    f"query worker {cpus} produced no result "
                    f"(full logs: /tmp/qworker_{cpus}.out/.err)"
                )

        lo, hi = min(LEVELS), max(LEVELS)
        ratio = hi / lo
        speedup = (
            results[lo]["warm_query_sec"] / results[hi]["warm_query_sec"]
        )
        k = int(os.environ.get("SCALING_K", "1000"))
        protocol = {
            "phase": "queries",
            "corpus": corpus_kind,
            "topics": topics,
            "zipf_docs": n_docs,
            "zipf_vocab": vocab,
            "levels": LEVELS,
            "meas_reps": reps,
            "mode": "executors",
            "cpu_pinned": PIN_CPUS,
            "index_build_sec_once": build_sec,
            "num_docs": n_built,
            "k": k,
        }
        is_protocol = (
            n_docs >= 500000 and vocab >= 50000
            and sorted(LEVELS) == [4, 16] and reps >= 3 and PIN_CPUS
        )
        report = {
            "levels": results,
            "parallelism_ratio": ratio,
            "warm_query_speedup": round(speedup, 3),
            "query_scaling_efficiency": round(speedup / ratio, 3),
            "protocol": protocol,
            "protocol_compliant": is_protocol,
            "quiet_box": _host_load_finish(host_load),
            "host_load": host_load,
        }
        print(json.dumps(report, indent=2))
        tag = "" if corpus_kind == "zipf" else f"_{corpus_kind.upper()}"
        out_file = (
            (f"BENCH_SCALING_QUERIES{tag}.json" if k == 1000
             else f"BENCH_SCALING_QUERIES{tag}_K{k}.json") if is_protocol
            else "BENCH_SCALING_QUERIES_adhoc.json"
        )
        with open(out_file, "w") as fh:
            json.dump(report, fh, indent=2)
        print(f"wrote {out_file}")
    finally:
        _shutil.rmtree(root, ignore_errors=True)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--worker", action="store_true")
    ap.add_argument("--worker-queries", action="store_true")
    ap.add_argument("--cpus", type=int, default=32)
    args = ap.parse_args()
    if args.worker_queries:
        query_worker(args.cpus)
        return
    if args.worker:
        worker(args.cpus)
        return
    if os.environ.get("SCALING_PHASE") == "queries":
        main_queries()
        return

    results = {}
    host_load = _host_load_block()
    for cpus in LEVELS:
        cmd = [sys.executable, os.path.abspath(__file__), "--worker",
               "--cpus", str(cpus)]
        if PIN_CPUS:
            # proportional headroom (driver + OS) at BOTH levels keeps the
            # ratio honest and avoids saturating the whole box at the
            # high level
            factor = float(os.environ.get("SCALING_PIN_FACTOR", "1.5"))
            pin = min(int(cpus * factor), os.cpu_count())
            cmd = ["taskset", "-c", f"0-{pin - 1}"] + cmd
        wk_timeout = int(os.environ.get("SCALING_WORKER_TIMEOUT", "3600"))
        proc = subprocess.run(
            cmd, capture_output=True, text=True, timeout=wk_timeout,
        )
        for line in proc.stdout.splitlines():
            if line.startswith("WORKER_RESULT "):
                results[cpus] = json.loads(line[len("WORKER_RESULT "):])
        if cpus not in results:
            sys.stderr.write(proc.stdout[-2000:] + proc.stderr[-2000:])
            raise SystemExit(f"worker {cpus} produced no result")

    lo, hi = min(LEVELS), max(LEVELS)
    ratio = hi / lo
    build_speedup = (
        results[hi]["build_docs_per_sec"] / results[lo]["build_docs_per_sec"]
    )
    meas_reps = int(os.environ.get("SCALING_MEAS_REPS", "3"))
    protocol = {
        "replicas": REPLICAS,
        "levels": LEVELS,
        "meas_reps": meas_reps,
        "mode": os.environ.get("SCALING_MODE", "executors"),
        "cpu_pinned": PIN_CPUS,
        "pin_factor": float(os.environ.get("SCALING_PIN_FACTOR", "1.5")),
    }
    # The graded BASELINE.md protocol: 8M docs (sf0.1 x 1600), 1 vs 4 real
    # 4-core executor processes, best-of-3 measured builds, pinned.  Only a
    # run under exactly this protocol may write the graded evidence file;
    # anything else (quick ad-hoc runs, experiments) writes the adhoc file
    # so a stray invocation can't clobber the committed artifact again.
    is_protocol = (
        REPLICAS == 1600
        and sorted(LEVELS) == [4, 16]
        and meas_reps >= 3
        and protocol["mode"] == "executors"
        and PIN_CPUS
    )
    report = {
        "levels": results,
        "parallelism_ratio": ratio,
        "build_throughput_speedup": round(build_speedup, 3),
        "build_scaling_efficiency": round(build_speedup / ratio, 3),
        "sf_dir": SF_DIR,
        "protocol": protocol,
        "protocol_compliant": is_protocol,
        "quiet_box": _host_load_finish(host_load),
        "host_load": host_load,
    }
    if results[lo].get("warm_query_sec") and results[hi].get("warm_query_sec"):
        qsp = results[lo]["warm_query_sec"] / results[hi]["warm_query_sec"]
        report["warm_query_speedup"] = round(qsp, 3)
        report["query_scaling_efficiency"] = round(qsp / ratio, 3)
    print(json.dumps(report, indent=2))
    out_file = "BENCH_SCALING.json" if is_protocol else "BENCH_SCALING_adhoc.json"
    with open(out_file, "w") as fh:
        json.dump(report, fh, indent=2)
    print(f"wrote {out_file}")


if __name__ == "__main__":
    main()
