"""Headline benchmark (driver-run per round; BASELINE.md protocol).

Phases (reference protocol, BASELINE.md):
  index_build      full index build over the documents corpus (docs/sec)
  compact          posting compaction (geometric-merge analog)
  bm25_batch_cold  900-query BM25 top-k batch (9 length buckets x 100,
                   SingleLineTRECQuery-style), first repetition
  bm25_batch_warm  same batch repeated; the measured one (the fork runs
                   4x and keeps the last — TrecTerrier.java:47-50)

Noise discipline (round-4 hardening; the same protocol stamp
scaling_bench.py carries): every phase runs BENCH_REPS times and the
BEST time is graded — on a shared host, external load can only slow a
run down, so min-of-N is the unbiased estimator of engine capability.
The JSON records all per-rep times, host loadavg before/after, and a
single-threaded CPU noise probe (a fixed numpy workload timed at start
and end: if the host is externally loaded, the probe slows and the
`host_load` block says so, so a contaminated artifact is self-labelling
instead of silently misgrading the engine).

Output: ONE JSON line
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {phase: sec, ...}, "sf": ..., "extras": {...},
   "protocol": {...}, "protocol_compliant": bool, "host_load": {...}}
"""

from __future__ import annotations

import json
import os
import random
import shutil
import sys
import tempfile
import time


def make_query_set(vocab: list[str], n_per_bucket: int = 100, seed: int = 42):
    rng = random.Random(seed)
    queries = []
    qid = 0
    for length in range(2, 11):
        for _ in range(n_per_bucket):
            terms = [vocab[rng.randrange(len(vocab))] for _ in range(length)]
            queries.append((str(qid), " ".join(terms)))
            qid += 1
    return queries


def cpu_probe(reps: int = 3) -> float:
    """Best-of-N seconds for a fixed single-threaded numpy workload.
    Invariant across code changes; only host contention moves it."""
    import numpy as np

    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        rng = np.random.default_rng(0)
        a = rng.standard_normal(400_000)
        for _ in range(60):
            a = np.sort(a * 1.0000001)
            a.sum()
        best = min(best, time.perf_counter() - t0)
    return round(best, 4)


# a cold opening probe (governor ramp) measured up to ~16% slower than
# the closing one on an idle box; a larger speed-up is a competitor that
# left mid-run
_MAX_PROBE_SPEEDUP = 0.25


def quiet_box(load_before, probe_before: float, probe_after: float,
              max_load: float = 1.0, max_drift: float = 0.05) -> bool:
    """True iff the host was measurably idle around the run: 1-minute
    loadavg below `max_load` when the run started AND the fixed CPU
    probe drifted by less than +`max_drift` / -_MAX_PROBE_SPEEDUP
    between start and end.  External load slows the probe.  A probe
    that speeds up a little means the start-of-run sample was cold (CPU
    governor ramp, cold page cache); one that speeds up by more means a
    competitor slowed the opening probe and left mid-run, too fresh to
    have moved the 1-minute loadavg.  `protocol_compliant` checks only
    the protocol PARAMETERS — a loaded-box run still stamps compliant —
    so graded comparisons filter on this flag instead of reading the
    load block."""
    drift = (probe_after - probe_before) / max(probe_before, 1e-9)
    return (load_before[0] < max_load
            and -_MAX_PROBE_SPEEDUP < drift < max_drift)


def protocol_compliant(reps: int, cpus: int, k: int, sf_dir: str,
                       nproc: int) -> bool:
    """The graded protocol: sf0.1, every core of the host (`nproc`, the
    CPUs this process may run on), k=1000, >=3 reps.  An ad-hoc run
    (another sf, core count, k or fewer reps) stamps itself
    non-compliant so it can't be mistaken for the graded artifact."""
    return (reps >= 3 and cpus == nproc and k == 1000
            and sf_dir.rstrip("/").endswith("sf0.1"))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    nproc = len(os.sched_getaffinity(0))
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", nproc))
    k = int(os.environ.get("BENCH_K", "1000"))
    reps = int(os.environ.get("BENCH_REPS", "3"))

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from pyspark.sql import functions as F

    from terrier_spark.config import IndexConfig, QueryConfig
    from terrier_spark.index.corpus import load_documents_corpus
    from terrier_spark.index.resumable import build_index_resumable
    from terrier_spark.query.search import search
    from terrier_spark.session import get_spark

    load_before = os.getloadavg()
    probe_before = cpu_probe()

    spark = get_spark("terrier-spark-bench", cpus=cpus,
                      shuffle_partitions=cpus)
    out_root = tempfile.mkdtemp(prefix="terrier_bench_")
    phases: dict[str, float] = {}
    all_times: dict[str, list] = {}
    try:
        # the testdata parquet is a single file -> a single input
        # partition; spread it so the build parallelizes
        corpus = load_documents_corpus(spark, sf_dir).repartition(cpus * 2)

        # the segmented builder + compaction is the scale architecture
        # (map-side blocks + per-partition checkpoints, then the
        # geometric-merge pass) — benchmark what production would run
        from terrier_spark.index.resumable import compact_postings

        build_times, compact_times = [], []
        store = None
        for r in range(reps):
            out_dir = os.path.join(out_root, f"rep{r}")
            t0 = time.time()
            store = build_index_resumable(spark, corpus, out_dir,
                                          IndexConfig(), bucket_span=1024)
            build_times.append(round(time.time() - t0, 3))
            t0 = time.time()
            store = compact_postings(spark, store)
            compact_times.append(round(time.time() - t0, 3))
            if r < reps - 1:  # keep the last rep's index for the queries
                shutil.rmtree(out_dir, ignore_errors=True)
        phases["index_build"] = min(build_times)
        phases["compact"] = min(compact_times)
        all_times["index_build"] = build_times
        all_times["compact"] = compact_times
        n_docs = store.stats["num_docs"]

        vocab = [
            r["term"]
            for r in store.lexicon(spark)
            .orderBy(F.desc("nt"))
            .limit(2000)
            .collect()
        ]
        queries = make_query_set(vocab)
        # the testdata documents corpus is low-idf-saturated (tiny vocab);
        # disable the drop so the benchmark actually scores postings
        qcfg = QueryConfig(k=k, ignore_low_idf=False, prune=True)

        # first batch after the build is the cold one (python workers,
        # JIT, shuffle services all cold); the warm number is best-of-N
        # repeats of the same batch, the fork's repeat-and-keep discipline
        n_rows = 0
        warm_times = []
        for r in range(1 + reps):
            t0 = time.time()
            res = search(spark, store, queries, qcfg)
            n_rows = res.count()  # materialize the whole batch
            dt = round(time.time() - t0, 3)
            if r == 0:
                phases["bm25_batch_cold"] = dt
                all_times["bm25_batch_cold"] = [dt]
            else:
                warm_times.append(dt)
        phases["bm25_batch_warm"] = min(warm_times)
        all_times["bm25_batch_warm"] = warm_times

        # per-query latency sample (the reference's "Time to process
        # query" protocol): individual warm queries, per-query best-of-N,
        # then p50/p95 over the sample
        sample = queries[:: max(len(queries) // 24, 1)][:24]
        lat = []
        for qid, text in sample:
            best = float("inf")
            for _ in range(max(reps - 1, 2)):
                t0 = time.time()
                search(spark, store, [(qid, text)], qcfg).count()
                best = min(best, time.time() - t0)
            lat.append(best)
        lat.sort()
        phases["per_query_p50"] = round(lat[len(lat) // 2], 3)
        phases["per_query_p95"] = round(lat[int(len(lat) * 0.95)], 3)
        all_times["per_query_sorted"] = [round(x, 3) for x in lat]

        load_after = os.getloadavg()
        # settle before the closing probe: sampled immediately after ~20
        # minutes of all-core load, the probe reads the bench's OWN
        # thermal/turbo wind-down (observed +-9-24% drift on a box with
        # 1-min loadavg 0.01-0.09 at start), not external contention —
        # which is the only thing quiet_box is supposed to detect.
        # External load persists through a 15 s pause; self-load does not.
        time.sleep(15)
        probe_after = cpu_probe()

        total = sum(phases.values())
        build_tput = round(n_docs / phases["index_build"], 2)
        qps_warm = round(len(queries) / phases["bm25_batch_warm"], 2)
        protocol = {
            "reps": reps,
            "estimator": "best-of-reps per phase",
            "n_queries": len(queries),
            "k": k,
            "cpus": cpus,
            "nproc": nproc,
            "builder": "resumable+compact",
            "latency_sample": len(sample),
        }
        compliant = protocol_compliant(reps, cpus, k, sf_dir, nproc)
        print(
            json.dumps(
                {
                    "metric": "index-build + 2x900-query BM25 top-k batch "
                              "wall seconds (docs/sec and warm q/s in "
                              "extras)",
                    "value": round(total, 3),
                    "unit": "sec",
                    "queries": phases,
                    "sf": sf_dir,
                    "extras": {
                        "num_docs": n_docs,
                        "build_docs_per_sec": build_tput,
                        "warm_queries_per_sec": qps_warm,
                        "result_rows": n_rows,
                        "cpus": cpus,
                        "k": k,
                        "all_times": all_times,
                    },
                    "protocol": protocol,
                    "protocol_compliant": compliant,
                    "quiet_box": quiet_box(load_before, probe_before,
                                           probe_after),
                    "host_load": {
                        "loadavg_before": [round(x, 2) for x in load_before],
                        "loadavg_after": [round(x, 2) for x in load_after],
                        "cpu_probe_sec_before": probe_before,
                        "cpu_probe_sec_after": probe_after,
                        "probe_note": "single-thread fixed numpy workload; "
                                      "a slowdown vs ~equal before/after "
                                      "values means external host load",
                    },
                }
            )
        )
    finally:
        shutil.rmtree(out_root, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
