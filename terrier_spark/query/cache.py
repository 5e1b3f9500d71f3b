"""Per-query result caching.

The reference ships a pluggable query result cache, default OFF
(structures/cache/NullQueryResultCache.java, wired in
TRECQuerying.java:249-251); this is the working equivalent: a bounded
driver-side map keyed by (normalised query text, model, k), serving
repeated queries of a long-lived session without a Spark job.
"""

from __future__ import annotations

import json
import os
from collections import OrderedDict
from typing import Optional, Sequence, Tuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from terrier_spark.config import QueryConfig
from terrier_spark.index.store import IndexStore
from terrier_spark.query.search import LocalResult, search


class NullQueryResultCache:
    """The reference default: caches nothing."""

    def get(self, key):
        return None

    def put(self, key, value) -> None:
        pass

    def __len__(self) -> int:
        return 0


class QueryResultCache:
    """Bounded LRU of per-query results (pandas frames, driver-side)."""

    def __init__(self, max_entries: int = 10_000):
        self.max_entries = max_entries
        self._map: OrderedDict = OrderedDict()
        self.hits = 0
        self.misses = 0

    def get(self, key) -> Optional[pd.DataFrame]:
        got = self._map.get(key)
        if got is None:
            self.misses += 1
            return None
        self._map.move_to_end(key)
        self.hits += 1
        return got

    def put(self, key, value: pd.DataFrame) -> None:
        self._map[key] = value
        self._map.move_to_end(key)
        while len(self._map) > self.max_entries:
            self._map.popitem(last=False)

    def __len__(self) -> int:
        return len(self._map)


def _store_version(store: IndexStore) -> tuple:
    """Identity + version marker for the index behind a cache entry.  The
    manifest is re-read from disk (a small driver-side JSON) so in-place
    mutations — incremental ingests, geometric merges, delete-policy
    drops, compaction — on the SAME path invalidate entries even when the
    caller holds a stale IndexStore handle.  One cache instance can thus
    safely serve several stores."""
    try:
        with open(os.path.join(store.path, "manifest.json")) as fh:
            m = json.load(fh)
    except OSError:  # store deleted out from under us: never match
        return (store.path, None)
    stats = m.get("stats") or {}
    return (
        store.path,
        m.get("version"),
        m.get("layout"),
        stats.get("num_docs"),
        stats.get("num_terms"),
        stats.get("num_tokens"),
        tuple(m.get("compacted_segments") or ()),
    )


def _key(text: str, qcfg: QueryConfig, store_version: tuple = ()) -> tuple:
    return (
        store_version,
        " ".join(text.split()),
        qcfg.model,
        qcfg.k,
        qcfg.ignore_low_idf,
    )


def cached_search(
    spark: SparkSession,
    store: IndexStore,
    queries: Sequence[Tuple[str, str]],
    cache,
    qcfg: Optional[QueryConfig] = None,
) -> DataFrame:
    """search() with a result cache: cached queries are served without a
    Spark job; only the misses run (as one batch), and their results are
    inserted.  -> a LocalResult (qid, rank, docid, score)."""
    qcfg = qcfg or QueryConfig()
    sv = _store_version(store)
    hit_frames, misses = [], []
    for qid, text in queries:
        got = cache.get(_key(text, qcfg, sv))
        if got is None:
            misses.append((qid, text))
        else:
            hit_frames.append(got.assign(qid=str(qid)))
    miss_pdf = None
    if misses:
        miss_pdf = search(spark, store, misses, qcfg).toPandas()
        for qid, text in misses:
            grp = miss_pdf[miss_pdf["qid"] == str(qid)]
            cache.put(_key(text, qcfg, sv), grp.drop(columns=["qid"]))
    frames = hit_frames + ([miss_pdf] if miss_pdf is not None else [])
    return LocalResult.from_frames(spark, frames)
