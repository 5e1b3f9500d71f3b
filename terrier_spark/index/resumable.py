"""Segment compaction, and the historical name of the builder.

`build_index_resumable` is `builder.build_index` — the one segmented,
resumable build (plan pass, one checkpointed segment per input
partition, finalize).

Per-partition posting blocks are smaller than full ones (each segment
chunks its own (term, bucket) groups); `compact_postings` re-groups and
re-encodes them — the analog of the reference's geometric merge policy
(realtime/incremental/IncrementalMergeGeometric.java) and
InvertedIndexRecompresser (applications/InvertedIndexRecompresser.java:101-237).
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from typing import Optional

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession

from terrier_spark.config import IndexConfig
from terrier_spark.index.builder import (
    BLOCK_COLUMNS,
    BLOCK_SCHEMA,
    build_index,
    decode_blocks,
    encode_blocks,
)
from terrier_spark.index.store import IndexStore

build_index_resumable = build_index


def _compact_group(block_size: int, bucket_span: int, with_pos: bool,
                   nf: int):
    """applyInPandas body over one (term, bucket) group of block rows:
    decode every block, concatenate in docid order and re-cut with the
    one block encoder."""

    def encode(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("first_docid")
        ids, tfs, dls, _, pos, ftf, fln = decode_blocks(pdf, with_pos, nf)
        if ids.size > 1 and not (np.diff(ids) > 0).all():
            raise ValueError(
                f"term {pdf['term'].iloc[0]!r} bucket "
                f"{pdf['bucket'].iloc[0]}: blocks overlap in docid range"
            )
        rows = encode_blocks(pdf["term"].iloc[0], ids, tfs, dls, block_size,
                             bucket_span, pos=pos, ftf=ftf, fln=fln)
        return pd.DataFrame(rows, columns=BLOCK_COLUMNS)

    return encode


def compact_postings(spark: SparkSession, store: IndexStore,
                     cfg: Optional[IndexConfig] = None,
                     maxscore_models: Optional[tuple] = None) -> IndexStore:
    """Re-group and re-encode posting blocks across segments into one
    compact posting table, `postings_compact` (geometric-merge /
    recompress analog).  Produces full `block_size`-posting blocks;
    positional (pos) and per-field (ftf/fln) payloads are decoded,
    re-sliced to the new block boundaries and re-encoded alongside the
    scoring blocks.

    Also fills the exact per-block max-score metadata (index/maxscore.py
    — the fork's Maxscore pre-scan paid here instead of per query) for
    `maxscore_models` (None -> the registered defaults; () -> disable).

    Re-entrant: the manifest records which segments a compaction covers
    (`compacted_segments`), so a later compaction reads the previous
    compact file PLUS only the segments appended since, and
    IndexStore.postings() keeps newer segments visible in between."""
    from terrier_spark.index.maxscore import (
        resolve_maxscore_models,
        with_max_scores,
    )

    cfg = cfg or IndexConfig()
    out_dir = store.path
    manifest = dict(store.manifest)
    with_pos = bool(manifest.get("positions"))
    fields = manifest.get("fields")
    nf = len(fields) if fields else 0

    compact_path = os.path.join(out_dir, "postings_compact")
    all_segs = store.segment_names()
    covered = set(manifest.get("compacted_segments") or [])
    # nothing appended since the last compaction AND the maxscore
    # metadata is already registered -> nothing to do (a compacted index
    # without it falls through and gets upgraded)
    if (covered and covered.issuperset(all_segs)
            and manifest.get("maxscore_models") is not None):
        return store
    # the previous compact file plus the segments appended since
    src = spark.read.parquet(*store.posting_files()).select(
        "term", "bucket", "first_docid", "block", "pos", "ftf", "fln"
    )
    blocks = src.groupBy("term", "bucket").applyInPandas(
        _compact_group(cfg.block_size, store.bucket_span, with_pos, nf),
        schema=BLOCK_SCHEMA,
    )
    # exact per-block max-score metadata (generic Maxscore, paid here):
    # one extra decode pass over the freshly-encoded blocks, joined with
    # the lexicon for per-term (nt, F) statistics
    ms_models = resolve_maxscore_models(maxscore_models, nf)
    if ms_models:
        blocks = with_max_scores(
            blocks, spark.read.parquet(f"{out_dir}/lexicon"),
            ms_models, manifest["stats"], nf,
        )
    # write beside the live compact file, swap in atomically after the job
    tmp = f"{compact_path}.tmp-{uuid.uuid4().hex[:8]}"
    n_out = int(spark.conf.get("spark.sql.shuffle.partitions"))
    (
        blocks.repartitionByRange(n_out, "term", "bucket")
        .sortWithinPartitions("term", "bucket", "block_id")
        .write.mode("overwrite").parquet(tmp)
    )
    if os.path.isdir(compact_path):
        shutil.rmtree(compact_path)
    os.replace(tmp, compact_path)
    manifest["layout"] = "segmented_compacted"
    manifest["compacted_segments"] = all_segs
    manifest["maxscore_models"] = ms_models
    manifest["maxscore_stats"] = {
        "num_docs": manifest["stats"]["num_docs"],
        "num_tokens": manifest["stats"]["num_tokens"],
    }
    with open(f"{out_dir}/manifest.json", "w") as fh:
        json.dump(manifest, fh, indent=2)
    return IndexStore(out_dir)
