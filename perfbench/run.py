"""The engine's benchmark: one workload per run, from a seed.

    python3 perfbench/run.py --workload interactive|batch \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout.  Everything the run writes goes under
`.bench_build/perfbench/` there: the cached query fixture, Spark's local
and temporary directories, event logs and span files.

Every run first sets up SETUPS times (session start in a newly launched
JVM, store open, one cold k=10 query; `setup_s` is the median), then
runs its workload for `--seconds` (one client, closed loop,
`get_spark(cpus=nproc)`):
  interactive  single queries at k=10 against the 16k-doc query fixture;
               per-query driver work and Spark job fixed cost dominate.
  batch        the 900-query run (100 queries per length 2..10) at
               k=1000, every result row brought to the driver, after one
               untimed batch; decode, scoring, aggregation and the top-k
               exchange dominate.
Both workloads draw a fixed query set from the fixture's pool of 1,800
(whose oracle results the fixture holds): 18 queries for interactive,
900 for batch.  The seed orders that set, picks each setup's cold query
and generates the ingest probe's corpus.

Every result is checked: query results against the pure-Python oracle
(rank identity, scores within 1e-6, docids mapped through store.meta),
ingest statistics against the corpus counts.

`--trace 0` prints the end-to-end metrics.  `--trace 1` alternates
untraced and traced operations (spans around every layer call, Spark
job groups, the Spark event log), then reads the prune decision of the
traced query sets (`stats_out`, in plan-only calls), traces one ingest
probe (build_index_resumable + compact_postings of a fresh corpus) and
prints the per-layer metrics.  The last stdout line is the result.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback
import uuid
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")

SETUPS = 2
INTERACTIVE_K = 10
BATCH_K = 1000
BATCH_PER_LENGTH = 100
INGEST_DOCS = 24
KERNEL_SAMPLE = 16


def metric_units() -> dict:
    """Unit of every end-to-end and per-layer metric, as BENCHMARK.json
    declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {kind: {m["name"]: m["unit"] for m in spec[kind]}
            for kind in ("end_to_end", "per_layer")}


def log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr,
          flush=True)


def prepare_environment(trace: bool, run_id: str) -> dict:
    """Point Spark, its Python workers and temp files at the checkout.
    Must run before pyspark starts the JVM."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    submit = (f"--driver-java-options -Djava.io.tmpdir={tmp} "
              "--conf spark.ui.showConsoleProgress=false ")
    paths = {"tmp": tmp}
    if trace:
        from probes import eventlog_submit_args

        paths["eventlog"] = os.path.join(WORK, "eventlog", run_id)
        os.makedirs(paths["eventlog"], exist_ok=True)
        submit += eventlog_submit_args(paths["eventlog"])
    os.environ["PYSPARK_SUBMIT_ARGS"] = submit + "pyspark-shell"
    return paths


class Bench:
    def __init__(self, fixture, tracer, nproc: int):
        self.fixture = fixture
        self.tracer = tracer
        self.nproc = nproc
        self.attempted = 0
        self.failed = 0
        self.spark = None
        self.store = None
        self.doc_of_docid = None
        self.traced_queries: dict[tuple, None] = {}
        self.prune_stats: list[dict] = []
        self.groups = 0

    # -- bookkeeping -------------------------------------------------------

    def record(self, attempted: int, failed: int, what: str) -> None:
        self.attempted += attempted
        self.failed += failed
        if failed:
            log(f"FAILED: {what}")

    def job_group(self, phase: str):
        """A fresh Spark job group for the next traced call."""
        if not self.tracer.enabled:
            return None
        self.groups += 1
        group = f"pb-{self.tracer.run_id}-{phase}-{self.groups}"
        self.spark.sparkContext.setJobGroup(group, "perfbench", False)
        return group

    def counts(self, group, phase: str) -> None:
        """Record what the call under `group` ran, and clear the group: it
        is a thread-local property that later calls would inherit."""
        if group is None:
            return
        from probes import job_counts

        sc = self.spark.sparkContext
        for key in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(key, None)
        jobs, stages, tasks = job_counts(sc, group)
        self.tracer.spans.append({
            "run": self.tracer.run_id, "name": "spark.counts",
            "phase": phase, "group": group, "jobs": jobs,
            "stages": stages, "tasks": tasks,
        })

    # -- session and store -------------------------------------------------

    def setup(self, i: int, first_query) -> float:
        """Session start, store open and the first (cold) query."""
        from terrier_spark.index.store import IndexStore
        from terrier_spark.session import get_spark

        tr = self.tracer
        t0 = time.perf_counter()
        with tr.span("session.start", phase="setup"):
            self.spark = get_spark(app="perfbench", cpus=self.nproc)
        with tr.span("store.open", phase="setup"):
            self.store = IndexStore(self.fixture.index_path)
        if tr.enabled:
            self._wrap_store()
        rows = self.search([first_query], INTERACTIVE_K, phase="setup")
        elapsed = time.perf_counter() - t0
        if self.doc_of_docid is None:
            self.doc_of_docid = self._docid_map()
        self.check_queries(rows, [first_query], INTERACTIVE_K, f"setup {i}")
        return elapsed

    def _wrap_store(self) -> None:
        """Time the store's public lookups from outside, per call."""
        tr, store = self.tracer, self.store
        for name in ("lexicon_lookup", "postings"):
            inner = getattr(store, name)

            def timed(*a, _inner=inner, _name=name, **kw):
                with tr.span(f"store.{_name}"):
                    return _inner(*a, **kw)

            setattr(store, name, timed)

    def _docid_map(self):
        import numpy as np

        meta = self.store.meta(self.spark).select("docid", "docno").toPandas()
        index = {d: i for i, d in enumerate(self.fixture.docnos)}
        out = np.full(int(meta["docid"].max()) + 1, -1, dtype=np.int64)
        out[meta["docid"].to_numpy()] = [index.get(d, -1)
                                         for d in meta["docno"]]
        return out

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    # -- query path --------------------------------------------------------

    def search(self, queries, k: int, phase: str):
        """One search call, collected to the driver as pandas.  Untraced it
        is the public `search`; traced it is the same work split at the
        layer boundaries search() itself calls."""
        from terrier_spark.config import QueryConfig

        # the module, not the package's re-exported search() function
        sq = importlib.import_module("terrier_spark.query.search")

        qcfg = QueryConfig(k=k)
        tr = self.tracer
        if not tr.enabled:
            return sq.search(self.spark, self.store, queries, qcfg).toPandas()
        group = self.job_group(phase)
        with tr.span("search.call", phase=phase):
            with tr.span("text.process_queries"):
                qterms = sq.process_queries(
                    queries, self.store.pipeline_config())
            with tr.span("search.plan"):
                df = sq.search_terms(self.spark, self.store, qterms, qcfg)
            with tr.span("search.action"):
                rows = df.toPandas()
        self.counts(group, phase)
        if phase == "traced":
            self.traced_queries[(k, tuple(queries))] = None
        return rows

    def collect_prune_stats(self) -> None:
        """The prune decision of each distinct query set the traced calls
        ran, from a plan-only search_terms call with `stats_out`.  Those
        stats cost extra count jobs the benchmarked calls do not run, so
        they get their own job group, outside the traced calls' counts and
        event-log totals."""
        from terrier_spark.config import QueryConfig

        sq = importlib.import_module("terrier_spark.query.search")
        for k, queries in self.traced_queries:
            stats: dict = {}
            group = self.job_group("prune-stats")
            with self.tracer.span("search.prune_stats", phase="prune-stats"):
                qterms = sq.process_queries(
                    list(queries), self.store.pipeline_config())
                sq.search_terms(self.spark, self.store, qterms,
                                QueryConfig(k=k), stats_out=stats)
            self.counts(group, "prune-stats")
            self.prune_stats.append(stats)

    def check_queries(self, rows, queries, k: int, what: str) -> None:
        from check import check_results

        pool = self.fixture.pool_index
        try:
            bad = check_results(rows, {q: pool[q] for q, _ in queries},
                                self.fixture, self.doc_of_docid, k)
        except Exception:
            traceback.print_exc()
            bad = len(queries)
        self.record(len(queries), bad, f"{what}: {bad} of {len(queries)} "
                                       "queries differ from the oracle")


# ---------------------------------------------------------------------------
# workloads: `op` runs and checks one operation and returns its time, or
# None when it raised


def loop(seconds: float, ops, min_rounds: int) -> list[list[float]]:
    """Run the `ops` in turn, back to back (one client, closed loop), until
    `seconds` have passed and each has run `min_rounds` times; per op, the
    times of the calls that succeeded."""
    times = [[] for _ in ops]
    attempts = 0
    start = time.perf_counter()
    while (attempts < len(ops) * min_rounds
           or time.perf_counter() - start < seconds):
        i = attempts % len(ops)
        attempts += 1
        t = ops[i]()
        if t is not None:
            times[i].append(t)
    return times


class Interactive:
    items_per_op = 1
    # Every run cycles through the same 18 queries (the first two pool
    # queries of each length 2..10), in seeded order: which queries a run
    # drew from the whole pool moved its median more than the host did.
    per_length = 2
    # Query latency keeps falling over a fresh session's first dozens of
    # queries while the JVM compiles the query path.  Four untimed
    # queries take the steepest part off, and a fixed minimum count puts
    # the median at the same point of that curve on a slow host as on a
    # fast one.
    warmup_ops = 4
    min_ops = 12

    def __init__(self, bench: Bench, seed: int):
        import numpy as np

        import fixture as fx

        self.bench = bench
        pool = bench.fixture.queries
        per = fx.POOL_PER_LENGTH
        picks = [length * per + i
                 for length in range(len(pool) // per)
                 for i in range(self.per_length)]
        np.random.default_rng([seed, 11]).shuffle(picks)
        self.queries = [pool[i] for i in picks]
        self.calls = 0

    def warmup(self) -> None:
        for _ in range(self.warmup_ops):
            self.op("warmup")

    def op(self, phase: str):
        b = self.bench
        q = self.queries[self.calls % len(self.queries)]
        self.calls += 1
        t0 = time.perf_counter()
        try:
            rows = b.search([q], INTERACTIVE_K, phase)
        except Exception:
            traceback.print_exc()
            b.record(1, 1, f"query {q[0]} raised")
            return None
        dt = time.perf_counter() - t0
        b.check_queries(rows, [q], INTERACTIVE_K, f"query {q[0]}")
        return dt


class Batch(Interactive):
    # the same 900 queries in every run, in seeded order (one plan serves
    # the whole batch, so the order does not change its work)
    per_length = BATCH_PER_LENGTH
    items_per_op = 9 * BATCH_PER_LENGTH
    # the first batches of a session are up to a third slower while the
    # JVM compiles the batch plan's hot paths
    warmup_ops = 1
    # one batch takes most of a run's seconds: at least two timed
    # batches, so that one slow batch does not set the result alone (a
    # third would add a fifth to the length of every run)
    min_ops = 2

    def op(self, phase: str):
        b = self.bench
        queries = self.queries
        t0 = time.perf_counter()
        try:
            rows = b.search(queries, BATCH_K, phase)
        except Exception:
            traceback.print_exc()
            b.record(len(queries), len(queries), "batch raised")
            return None
        dt = time.perf_counter() - t0
        b.check_queries(rows, queries, BATCH_K, "batch")
        return dt


def ingest_probe(bench: Bench, seed: int) -> dict:
    """One build_index_resumable + compact_postings of a fresh INGEST_DOCS
    corpus with the fixture's IndexConfig and the default max-score
    models, traced; checked against the corpus counts.  The write side of
    the posting format, measured per layer in every traced run."""
    import fixture as fx
    import workload
    from check import corpus_counts
    from terrier_spark.index.resumable import (
        build_index_resumable,
        compact_postings,
    )

    corpus = workload.make_corpus(INGEST_DOCS, seed, workload.Vocabulary(),
                                  prefix="i")
    want = corpus_counts(corpus["content"])
    out = os.path.join(WORK, "ingest")
    shutil.rmtree(out, ignore_errors=True)
    df = bench.spark.createDataFrame(corpus)
    cfg = fx.index_config()
    tr = bench.tracer
    try:
        t0 = time.perf_counter()
        group = bench.job_group("probe")
        with tr.span("resumable.build", phase="probe"):
            store = build_index_resumable(
                bench.spark, df, out, cfg, bucket_span=fx.BUCKET_SPAN)
        bench.counts(group, "probe-build")
        t1 = time.perf_counter()
        group = bench.job_group("probe")
        with tr.span("resumable.compact", phase="probe"):
            store = compact_postings(bench.spark, store, cfg)
        bench.counts(group, "probe-compact")
        t2 = time.perf_counter()
        got = {k: store.stats[k] for k in want}
        ok = got == want and store.layout == "segmented_compacted"
        bench.record(1, 0 if ok else 1,
                     f"ingest stats {got} != corpus {want}")
        return _ingest_layers(out, t1 - t0, t2 - t1)
    except Exception:
        traceback.print_exc()
        bench.record(1, 1, "ingest raised")
        return {}
    finally:
        shutil.rmtree(out, ignore_errors=True)


def _ingest_layers(out: str, build_s: float, compact_s: float) -> dict:
    import glob

    import pyarrow.parquet as pq

    import fixture as fx

    compact = os.path.join(out, "postings_compact")
    return {
        "build_s": build_s, "compact_s": compact_s,
        "segment_bytes": fx.dir_bytes(os.path.join(out, "segments")),
        "compact_bytes": fx.dir_bytes(compact),
        "compact_blocks": sum(
            pq.ParquetFile(f).metadata.num_rows
            for f in glob.glob(os.path.join(compact, "*.parquet"))),
    }


WORKLOADS = {"interactive": Interactive, "batch": Batch}


# ---------------------------------------------------------------------------
# kernels


def kernel_rates(fixture) -> dict:
    """Single-core Mpostings/s of the block decode and the BM25 kernel over
    the fixture's own posting blocks (median of 3 passes)."""
    import glob

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from terrier_spark.compression.vbyte import decode_scoring_block
    from terrier_spark.query.models import get_model

    table = pa.concat_tables(
        pq.read_table(f, columns=["term", "block", "n"])
        for f in sorted(glob.glob(os.path.join(
            fixture.index_path, "segments", "*", "postings.parquet"))))
    lex = pq.read_table(os.path.join(fixture.index_path, "lexicon"),
                        columns=["term", "nt", "tf"]).to_pandas()
    stats = {"nt": dict(zip(lex["term"], lex["nt"])),
             "tf": dict(zip(lex["term"], lex["tf"]))}
    # every KERNEL_SAMPLE-th block: the fixture's block-size mix, in
    # about a second per pass
    table = table.take(np.arange(0, table.num_rows, KERNEL_SAMPLE))
    blocks = table.column("block").to_pylist()
    terms = table.column("term").to_pylist()
    total = int(np.sum(table.column("n").to_numpy()))
    N = fixture.meta["num_docs"]
    avgdl = fixture.meta["num_tokens"] / N
    T = fixture.meta["num_tokens"]
    kernel = get_model("BM25").kernel

    decode_t, score_t = [], []
    for _ in range(3):
        t0 = time.perf_counter()
        decoded = [decode_scoring_block(b) for b in blocks]
        decode_t.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        for (_ids, tfs, dls), term in zip(decoded, terms):
            kernel(tfs, dls, 1.0, stats["nt"][term], stats["tf"][term],
                   N, avgdl, T)
        score_t.append(time.perf_counter() - t0)
    return {
        "kernel.decode_mpostings_per_s":
            total / statistics.median(decode_t) / 1e6,
        "kernel.bm25_mpostings_per_s":
            total / statistics.median(score_t) / 1e6,
    }


# ---------------------------------------------------------------------------


def end_to_end(times: list[float], items: int, fixture,
               setups: list[float]) -> dict:
    meta = fixture.meta
    return {
        "setup_s": statistics.median(setups),
        "op_p50_s": statistics.median(times),
        "items_per_s": items * len(times) / sum(times),
        "index_bytes_per_posting": meta["index_bytes"] / meta["num_pointers"],
    }


def per_layer(bench: Bench, untraced: list[float], traced: list[float],
              probe: dict, peak_rss: int, eventlog: dict) -> dict:
    """Layer metrics of the traced calls and of the ingest probe."""
    from probes import median_or_zero

    tr = bench.tracer
    calls = [s for s in tr.spans
             if s["name"] == "search.call" and s["phase"] == "traced"]

    def per_call_ms(name: str) -> float:
        """Median over traced search calls of the time in `name` spans
        inside each call."""
        return 1e3 * median_or_zero(
            sum(s["end"] - s["start"] for s in tr.spans
                if s["name"] == name
                and c["start"] <= s["start"] <= s["end"] <= c["end"])
            for c in calls)

    def counts(phase: str) -> list[dict]:
        return [s for s in tr.spans
                if s["name"] == "spark.counts" and s["phase"] == phase]

    prune = bench.prune_stats
    ran = [p for p in prune if "pruned_fraction" in p]
    [compact] = counts("probe-compact") or [{"jobs": 0, "stages": 0,
                                             "tasks": 0}]
    n_ops = len(traced)
    return {
        "session.start_s": median_or_zero(tr.durations("session.start")),
        "text.process_queries_ms": per_call_ms("text.process_queries"),
        "store.lexicon_lookup_ms": per_call_ms("store.lexicon_lookup"),
        "store.postings_ms": per_call_ms("store.postings"),
        "search.plan_ms": per_call_ms("search.plan"),
        "search.action_ms": per_call_ms("search.action"),
        "search.prune_ran_share": len(ran) / max(len(prune), 1),
        "search.pruned_fraction": median_or_zero(
            p["pruned_fraction"] for p in ran),
        "spark.jobs": median_or_zero(c["jobs"] for c in counts("traced")),
        "spark.stages": median_or_zero(c["stages"] for c in counts("traced")),
        "spark.tasks": median_or_zero(c["tasks"] for c in counts("traced")),
        "spark.executor_run_s": eventlog["run_ms"] / 1e3 / n_ops,
        "spark.decode_stage_run_s": eventlog["decode_ms"] / 1e3 / n_ops,
        "spark.shuffle_write_bytes": eventlog["shuffle_write"] / n_ops,
        "spark.spill_bytes": eventlog["spill"] / n_ops,
        **kernel_rates(bench.fixture),
        "resumable.build_docs_per_s":
            INGEST_DOCS / probe["build_s"] if probe else 0.0,
        "resumable.compact_docs_per_s":
            INGEST_DOCS / probe["compact_s"] if probe else 0.0,
        "resumable.compact_jobs": compact["jobs"],
        "resumable.compact_stages": compact["stages"],
        "resumable.compact_tasks": compact["tasks"],
        "resumable.compact_blocks": probe.get("compact_blocks", 0),
        "resumable.segment_bytes": probe.get("segment_bytes", 0),
        "resumable.compact_bytes": probe.get("compact_bytes", 0),
        "host.peak_rss_mb": peak_rss / 2**20,
        "trace.overhead_ratio": (statistics.median(traced)
                                 / statistics.median(untraced)),
    }


def stop_jvm() -> None:
    """End the Spark JVM this process launched and wait for it: it exits
    when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is None or proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def traced_op(tracer, wl):
    tracer.enabled = True
    try:
        return wl.op("traced")
    finally:
        tracer.enabled = False


def run(args) -> int:
    import numpy as np

    run_id = f"{args.workload}-{args.seed}-{uuid.uuid4().hex[:8]}"
    paths = prepare_environment(bool(args.trace), run_id)
    sys.path.insert(0, ROOT)

    import fixture as fx
    from probes import RssSampler, Tracer, cpu_probe, host_stamp, loadavg

    host0 = {"load": loadavg(), "probe_s": cpu_probe()}
    nproc = len(os.sched_getaffinity(0))
    fixture = fx.ensure(ROOT, os.path.join(WORK, "cache"), log)
    tracer = Tracer(run_id, enabled=False)
    bench = Bench(fixture, tracer, nproc)
    wl = WORKLOADS[args.workload](bench, args.seed)
    setup_rng = np.random.default_rng([args.seed, 3])

    setups, times, untraced, traced, probe = [], [], [], [], {}
    # /proc sampling costs driver CPU, so only the traced run pays it
    with (RssSampler() if args.trace else nullcontext()) as rss:
        try:
            for i in range(SETUPS):
                # every setup launches its own JVM, so setup_s includes
                # the launch and its launch-time settings
                bench.stop()
                stop_jvm()
                tracer.enabled = bool(args.trace)
                q = fixture.queries[int(setup_rng.integers(
                    len(fixture.queries)))]
                setups.append(bench.setup(i, q))
                tracer.enabled = False
            wl.warmup()
            if args.trace:
                # untraced, traced, untraced: both sides see the same
                # warm-up curve and the same host
                before, traced, after = loop(args.seconds, [
                    lambda: wl.op("untraced"), lambda: traced_op(tracer, wl),
                    lambda: wl.op("untraced")], 1)
                untraced = before + after
                tracer.enabled = True
                bench.collect_prune_stats()
                probe = ingest_probe(bench, args.seed)
                tracer.enabled = False
            else:
                [times] = loop(args.seconds, [lambda: wl.op("timed")],
                               wl.min_ops)
        finally:
            bench.stop()
            stop_jvm()
    host = host_stamp(host0, cpu_probe(), loadavg())
    units = metric_units()

    if args.trace:
        from probes import read_eventlog

        eventlog = read_eventlog(paths["eventlog"], f"pb-{run_id}-traced")
        tracer.dump(os.path.join(WORK, "traces", f"{run_id}.jsonl"))
        shutil.rmtree(paths["eventlog"], ignore_errors=True)
        if not traced or not untraced:
            log("no operation completed")
            return 1
        log(f"event log, executor run time by plan node (ms): "
            f"{eventlog['by_node_ms']}")
        metrics = per_layer(bench, untraced, traced, probe, rss.peak,
                            eventlog)
        units = units["per_layer"]
        n_ops = len(traced)
    else:
        if not times:
            log("no operation completed")
            return 1
        metrics = end_to_end(times, wl.items_per_op, fixture, setups)
        units = units["end_to_end"]
        n_ops = len(times)
        log(f"op times (s): {[round(t, 4) for t in times]}")

    failed_ratio = bench.failed / max(bench.attempted, 1)
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "trace": args.trace, "ops": n_ops,
                      "setups_s": setups, "host": host}))
    for name, value in metrics.items():
        print(f"{name} = {value:.6g} {units[name]}")
    print(f"failed_ratio = {failed_ratio:.6g} ratio "
          f"({bench.failed} of {bench.attempted})")
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": float(v), "unit": units[k]}
                    for k, v in metrics.items()},
    }))
    return 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "terrier_spark", "__init__.py")):
        print("perfbench: terrier_spark/ not found beside perfbench/; run "
              "from the root of a full checkout", file=sys.stderr)
        return 2
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
