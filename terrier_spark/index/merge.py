"""Index merging — two complete indexes into one.

The reference's StructureMerger/LexiconMerger (org/terrier/structures/
merging/StructureMerger.java:84-176,533-637): docids of the second index
are offset by the first's document count; lexicons merge by term.  Here
the first index's segments are copied verbatim and each segment of the
second is rewritten with its docids shifted (one Spark task per segment:
segments are independent, so this is embarrassingly parallel).  The
merged lexicon, statistics and manifest come from the same finalize pass
as a build.

Used for distributed-retrieval sharding: build shard indexes
independently, merge pairwise (or query them as one via the segmented
store, which is the MultiIndex path — SURVEY.md §2.8)."""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession

from terrier_spark.config import IndexConfig
from terrier_spark.index.builder import (
    BLOCK_COLUMNS,
    _finalize,
    _write_segment,
    decode_blocks,
    encode_blocks,
)
from terrier_spark.index.store import IndexStore


def _rebase_blocks(blocks: pd.DataFrame, offset: int, span: int,
                   block_size: int, with_pos: bool, nf: int) -> pd.DataFrame:
    """Shift every block's docids by `offset`.  offset is rarely a
    multiple of span, so a rebased block can STRADDLE a bucket boundary.
    Buckets must partition docids identically across terms (the search
    kernel sums per-term bounds per bucket and skips whole buckets —
    query/search.py::_search_kernel), so each block goes back through the
    block encoder, which cuts it at every new boundary."""
    ids, tfs, dls, n, pos, ftf, fln = decode_blocks(blocks, with_pos, nf)
    at = np.cumsum(n) - n
    pos_at = np.concatenate(([0], np.cumsum(tfs)))
    rows = []
    for term, a, m in zip(blocks["term"], at, n):
        # one block at a time, so merged segments keep the source
        # blocks' boundaries; max_score comes back null: the merged
        # collection's stats differ, so source-index unit maxima are
        # invalid bounds here
        rows += encode_blocks(
            term, ids[a:a + m] + offset, tfs[a:a + m], dls[a:a + m],
            block_size, span,
            pos=pos[pos_at[a]:pos_at[a + m]] if with_pos else None,
            ftf=ftf[a:a + m] if nf else None,
            fln=fln[a:a + m] if nf else None)
    return pd.DataFrame(rows, columns=BLOCK_COLUMNS)


def _rebase_segment(src: str, dst: str, offset: int, span: int,
                    block_size: int, with_pos: bool, nf: int) -> None:
    import pyarrow.parquet as pq

    docs, meta, blocks = (
        pq.read_table(os.path.join(src, f"{t}.parquet")).to_pandas()
        for t in ("docs", "meta", "postings")
    )
    docs["docid"] += np.int64(offset)
    meta["docid"] += np.int64(offset)
    _write_segment(dst, docs, meta, _rebase_blocks(
        blocks, offset, span, block_size, with_pos, nf))


def merge_indexes(spark: SparkSession, a: IndexStore, b: IndexStore,
                  out_dir: str) -> IndexStore:
    """Merge index b after index a (docids of b += a.num_docs) into a new
    segmented index under out_dir."""
    t0 = time.time()
    if os.path.realpath(out_dir) in {os.path.realpath(a.path),
                                     os.path.realpath(b.path)}:
        raise ValueError(f"{out_dir}: merge output must be a new directory")
    for key in ("bucket_span", "positions", "fields"):
        if a.manifest.get(key) != b.manifest.get(key):
            raise ValueError(f"{key} mismatch between indexes")
    fields = a.manifest.get("fields")
    cfg = IndexConfig(
        pipeline=a.pipeline_config(),
        block_size=a.block_size,
        positions=bool(a.manifest.get("positions")),
        field_cols=tuple(map(tuple, fields)) if fields else None,
    )
    span, offset = a.bucket_span, a.stats["num_docs"]

    # a previous index under out_dir must not leak into the merge
    for stale in ("segments", "postings_compact", "manifest.json"):
        path = os.path.join(out_dir, stale)
        if os.path.isdir(path):
            shutil.rmtree(path)
        elif os.path.exists(path):
            os.remove(path)
    seg_root = os.path.join(out_dir, "segments")
    os.makedirs(seg_root)
    segs_a, segs_b = a.segment_names(), b.segment_names()
    for i, seg in enumerate(segs_a):
        shutil.copytree(os.path.join(a.path, "segments", seg),
                        os.path.join(seg_root, f"seg_{i:05d}"))
    tasks = [
        (os.path.join(b.path, "segments", seg),
         os.path.join(seg_root, f"seg_{len(segs_a) + i:05d}"))
        for i, seg in enumerate(segs_b)
    ]
    if tasks:
        nf = len(fields) if fields else 0
        spark.sparkContext.parallelize(tasks, len(tasks)).foreach(
            lambda t: _rebase_segment(t[0], t[1], offset, span,
                                      cfg.block_size, cfg.positions, nf)
        )
    _finalize(spark, out_dir, cfg, span, t0, [])
    return IndexStore(out_dir)
