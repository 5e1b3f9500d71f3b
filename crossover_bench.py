"""Driver/Spark sweep of the two search paths (query/search.py).

    python3 crossover_bench.py [--reps 5] [--k 10 1000]
    python3 crossover_bench.py --peak driver --k 10 --copies 7

Runs from the root of a checkout, on perfbench's query fixture (the 16k-doc
topical index and its 1,800-query pool, built or reused under
`.bench_build/perfbench/`).  For growing query sets (2, 33, 100 and 200
queries per length 2..10, then the whole pool two and three times under
fresh qids) it times a warm `search(...).toPandas()` forced onto each path
through the gate constant `_DRIVER_POSTINGS`, alternating the paths, and
prints per set Σ nt (the postings the gate compares) and each path's median
time.  The rows of both paths are checked equal.

`--peak PATH` instead runs one search, the pool repeated `--copies` times
at the first `--k`, on that path after a warm-up, and prints how far its
peak resident memory (VmHWM) rose above the process's resident memory
when it began.  The peak never falls, so each such measurement needs a
process of its own.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

import run as perfbench  # noqa: E402  (perfbench/run.py)


def query_sets(pool: list, per_length: int,
               copies_of_pool) -> list[tuple[str, list]]:
    sets = [(f"{n}/length", [pool[length * per_length + i]
                             for length in range(len(pool) // per_length)
                             for i in range(n)])
            for n in (2, 33, 100, 200)]
    for copies in copies_of_pool:
        sets.append((f"pool x{copies}", [
            (f"{c}-{qid}", text) for c in range(copies)
            for qid, text in pool]))
    return sets


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--reps", type=int, default=5)
    p.add_argument("--k", type=int, nargs="+", default=[10, 1000])
    p.add_argument("--copies", type=int, nargs="*", default=[2, 3],
                   help="also time the whole pool this many times over")
    p.add_argument("--only-copies", action="store_true",
                   help="time the pool copies alone")
    p.add_argument("--peak", choices=["driver", "spark"],
                   help="measure one search's peak memory on this path")
    args = p.parse_args(argv)
    perfbench.prepare_environment(False, "crossover")
    sys.path.insert(0, ROOT)

    import fixture as fx
    import pandas as pd

    from terrier_spark.config import QueryConfig
    from terrier_spark.index.store import IndexStore
    from terrier_spark.session import get_spark

    sq = importlib.import_module("terrier_spark.query.search")
    fixture = fx.ensure(ROOT, os.path.join(perfbench.WORK, "cache"),
                        perfbench.log)
    nproc = len(os.sched_getaffinity(0))
    spark = get_spark(app="crossover", cpus=nproc)
    store = IndexStore(fixture.index_path)
    gates = {"spark": 0, "driver": 1 << 62}
    saved = sq._DRIVER_POSTINGS
    rows = []
    if args.peak:
        try:
            row = peak(sq, spark, store, fixture.queries, args, gates)
        finally:
            spark.stop()
        print(json.dumps(row))
        return 0
    try:
        for k in args.k:
            qcfg = QueryConfig(k=k)
            sets = query_sets(fixture.queries, fx.POOL_PER_LENGTH,
                              args.copies)
            for name, queries in sets[4 if args.only_copies else 0:]:
                times = {path: [] for path in gates}
                results = {}
                for rep in range(args.reps + 1):  # the first is warm-up
                    for path, gate in gates.items():
                        sq._DRIVER_POSTINGS = gate
                        stats: dict = {}
                        t0 = time.perf_counter()
                        out = sq.search(spark, store, queries, qcfg,
                                        stats_out=stats).toPandas()
                        dt = time.perf_counter() - t0
                        assert stats["path"] == path, stats
                        if rep:
                            times[path].append(dt)
                        else:
                            results[path] = out.sort_values(
                                ["qid", "rank"], ignore_index=True)
                pd.testing.assert_frame_equal(results["spark"],
                                              results["driver"])
                row = {"k": k, "set": name, "queries": len(queries),
                       "postings": stats["postings"], "nproc": nproc,
                       **{f"{path}_s": round(statistics.median(t), 3)
                          for path, t in times.items()}}
                perfbench.log(json.dumps(row))
                rows.append(row)
    finally:
        sq._DRIVER_POSTINGS = saved
        spark.stop()
    print("| k | queries | Σ nt | Spark | driver |")
    print("|---|---|---|---|---|")
    for r in rows:
        print(f"| {r['k']} | {r['queries']} | {r['postings']:,} | "
              f"{r['spark_s']:.2f} s | {r['driver_s']:.2f} s |")
    print(json.dumps(rows))
    return 0


def memory_kb() -> dict:
    """The process's resident memory now (VmRSS) and at its peak (VmHWM)."""
    with open("/proc/self/status") as fh:
        return {key: int(rest.split()[0]) for key, rest in
                (line.split(":", 1) for line in fh)
                if key in ("VmRSS", "VmHWM")}


def peak(sq, spark, store, pool: list, args, gates) -> dict:
    """How far one search of the pool repeated args.copies[0] times on
    path args.peak raised the resident memory at its peak, above what the
    process held when it began; None when the peak stayed below an
    earlier one (then rerun: the warm-up set the high-water mark)."""
    from terrier_spark.config import QueryConfig

    qcfg = QueryConfig(k=args.k[0])
    sq._DRIVER_POSTINGS = gates[args.peak]
    for _ in range(2):  # warm the JVM, the lexicon and the directory
        sq.search(spark, store, pool[:18], qcfg).toPandas()
    copies = args.copies[0]
    queries = [(f"{c}-{qid}", text) for c in range(copies)
               for qid, text in pool]
    before = memory_kb()
    stats: dict = {}
    sq.search(spark, store, queries, qcfg, stats_out=stats).toPandas()
    after = memory_kb()
    assert stats["path"] == args.peak, stats
    raised = after["VmHWM"] > before["VmHWM"]
    return {"k": qcfg.k, "queries": len(queries),
            "postings": stats["postings"], "path": args.peak,
            "rss_mb": round(before["VmRSS"] / 1024, 1),
            "peak_raise_mb": (round((after["VmHWM"] - before["VmRSS"])
                                    / 1024, 1) if raised else None)}


if __name__ == "__main__":
    sys.exit(main())
