"""The query fixture: a prebuilt index over the benchmark's topical corpus
plus the oracle's expected results for a pool of queries.

Built once per engine source tree: the cache key hashes `terrier_spark/`,
the generator and this module, and the sizes below, so a fixture is
never reused across engine commits.  Building it is not timed; what it
costs to build an index is what the `ingest` workload measures.

The fixture index is the segmented layout `build_index_resumable`
writes, not compacted: compacting 16k documents takes over ten minutes
on a 4-core host, more than the benchmark can spend per engine tree.
The blocks, their codec and the search plan are the same; the bucket
bounds come from the (max_tf, min_dl) block metadata instead of the
compaction-time exact max-scores.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time

import numpy as np

import workload

FIXTURE_DOCS = 16_384          # 16 docid buckets: the pruning floor
BUCKET_SPAN = 1024
FIXTURE_SEED = 20_250_101
POOL_PER_LENGTH = 200          # 1,800 pool queries, 200 per length 2..10
POOL_K = 1000                  # largest k a workload asks for
SORT_BY = ("repo", "path")


def index_config():
    from terrier_spark.config import IndexConfig

    return IndexConfig(sort_docids_by=SORT_BY)


def cache_key(root: str) -> str:
    h = hashlib.sha256()
    files = []
    for dirpath, dirnames, filenames in os.walk(
            os.path.join(root, "terrier_spark")):
        dirnames[:] = [d for d in dirnames if d != "__pycache__"]
        files += [os.path.join(dirpath, f) for f in filenames
                  if not f.endswith(".pyc")]
    here = os.path.dirname(os.path.abspath(__file__))
    files += [os.path.join(here, "workload.py"), os.path.abspath(__file__)]
    for path in sorted(files):
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update(json.dumps({
        "gen": workload.params(), "docs": FIXTURE_DOCS, "span": BUCKET_SPAN,
        "seed": FIXTURE_SEED, "pool": POOL_PER_LENGTH, "k": POOL_K,
    }, sort_keys=True).encode())
    return h.hexdigest()[:20]


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


class Fixture:
    """A committed fixture directory: index/, expected.npz, meta.json."""

    def __init__(self, path: str):
        self.index_path = os.path.join(path, "index")
        with open(os.path.join(path, "meta.json")) as fh:
            self.meta = json.load(fh)
        self.queries = [tuple(q) for q in self.meta["queries"]]
        self.pool_index = {q: i for i, (q, _t) in enumerate(self.queries)}
        exp = np.load(os.path.join(path, "expected.npz"))
        self.offsets = exp["offsets"]
        self.doc = exp["doc"]
        self.score = exp["score"]
        self.docnos = self.meta["docnos"]

    def expected(self, i: int, k: int) -> tuple[np.ndarray, np.ndarray]:
        """Oracle (doc index, score) of pool query i, top k+1: one more
        than the engine returns, to tell whether the k limit cuts a tie."""
        a = self.offsets[i]
        b = min(self.offsets[i + 1], a + k + 1)
        return self.doc[a:b], self.score[a:b]


def ensure(root: str, cache_dir: str, log) -> Fixture:
    key = cache_key(root)
    path = os.path.join(cache_dir, f"fixture-{key}")
    if os.path.exists(os.path.join(path, "meta.json")):
        return Fixture(path)
    os.makedirs(cache_dir, exist_ok=True)
    for old in os.listdir(cache_dir):
        if old.startswith("fixture-"):
            shutil.rmtree(os.path.join(cache_dir, old), ignore_errors=True)
    tmp = f"{path}.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    t0 = time.perf_counter()
    _build(tmp, log)
    log(f"fixture {key} built in {time.perf_counter() - t0:.1f} s")
    os.replace(tmp, path)
    return Fixture(path)


def _build(out: str, log) -> None:
    from terrier_spark.config import PipelineConfig, QueryConfig
    from terrier_spark.index.resumable import build_index_resumable
    from terrier_spark.oracle import OracleIndex
    from terrier_spark.session import get_spark

    vocab = workload.Vocabulary()
    corpus = workload.make_corpus(FIXTURE_DOCS, FIXTURE_SEED, vocab)
    spark = get_spark(app="perfbench-fixture",
                      cpus=len(os.sched_getaffinity(0)))
    try:
        t0 = time.perf_counter()
        store = build_index_resumable(
            spark, spark.createDataFrame(corpus),
            os.path.join(out, "index"), index_config(),
            bucket_span=BUCKET_SPAN,
        )
        log(f"fixture index: {store.stats} in "
            f"{time.perf_counter() - t0:.1f} s")
    finally:
        spark.stop()
    index_bytes = dir_bytes(os.path.join(out, "index"))

    # The oracle numbers docids in the order the reordered build assigns
    # them, so exact score ties break the same way (docid ascending).
    ordered = corpus.sort_values(list(SORT_BY)).reset_index(drop=True)
    t0 = time.perf_counter()
    oracle = OracleIndex(ordered["content"].tolist(), PipelineConfig())
    queries = workload.make_queries(POOL_PER_LENGTH, FIXTURE_SEED, vocab)
    qcfg = QueryConfig(k=POOL_K + 1)
    offsets, docs, scores = [0], [], []
    for _qid, text in queries:
        ranked = oracle.search(text, qcfg)
        docs += [d for d, _ in ranked]
        scores += [s for _, s in ranked]
        offsets.append(len(docs))
    log(f"oracle: {len(queries)} queries in "
        f"{time.perf_counter() - t0:.1f} s")
    np.savez(os.path.join(out, "expected.npz"),
             offsets=np.asarray(offsets, dtype=np.int64),
             doc=np.asarray(docs, dtype=np.int32),
             score=np.asarray(scores, dtype=np.float64))
    with open(os.path.join(out, "meta.json"), "w") as fh:
        json.dump({
            "num_docs": store.stats["num_docs"],
            "num_pointers": store.stats["num_pointers"],
            "num_tokens": store.stats["num_tokens"],
            "index_bytes": index_bytes,
            "queries": queries,
            "docnos": ordered["docno"].tolist(),
        }, fh)
