"""Incremental / streaming index maintenance.

The reference's realtime package maps onto Structured Streaming
micro-batches (SURVEY.md §2.8):

  MemoryIndex.indexDocument (realtime/memory/MemoryIndex.java:75-289)
      -> each micro-batch is indexed as new SEGMENTS appended to the
         segmented store (same layout as build_index);
  IncrementalIndex flush policies (realtime/incremental/
  IncrementalIndex.java:56-232: flushdocs/flushmem/flushtime)
      -> the micro-batch boundary IS the flush; trigger intervals and
         maxFilesPerTrigger give the time/size policies;
  IncrementalMergeGeometric (merge policy)
      -> compact_postings() once the segment count passes a threshold;
  MultiIndex shard view (realtime/multi/MultiIndex.java:49-139)
      -> the segmented IndexStore already reads all segments as one
         dataset; docids are GLOBAL at ingest (continuing offsets), so no
         per-shard offset math at query time.

Exactly-once: foreachBatch can retry a batch; batches are registered in
checkpoints/stream.json and segment commits are atomic (_SUCCESS), so a
retried batch is served from its committed segments.
"""

from __future__ import annotations

import json
import os
import time
from typing import Iterator, Optional

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from terrier_spark.config import IndexConfig
from terrier_spark.index.builder import (
    CHECKPOINT_SCHEMA,
    DEFAULT_BUCKET_SPAN,
    _build_partition,
    _checkpoint_row,
    _finalize,
    _write_segment,
)
from terrier_spark.index.store import IndexStore


class IncrementalIndexer:
    def __init__(self, out_dir: str, cfg: Optional[IndexConfig] = None,
                 bucket_span: int = DEFAULT_BUCKET_SPAN,
                 compact_every: int = 0, finalize_every: int = 1,
                 delete_policy: str = "nodelete",
                 keep_most_recent: int = 24):
        """delete_policy mirrors the reference's incremental.delete
        property (realtime/incremental/IncrementalDeletePolicy.java):
        "nodelete" (default) keeps every batch shard;
        "deleteFixedSize" retains only the `keep_most_recent` most recent
        batch shards (IncrementalDeleteFixedNumber.java:49,
        incremental.delete.mostrecent default 24), dropping older batches'
        segments — the rolling-window retention used for streams."""
        if delete_policy not in ("nodelete", "deleteFixedSize"):
            raise ValueError(
                "delete_policy must be 'nodelete' or 'deleteFixedSize'"
            )
        self.out_dir = out_dir
        self.cfg = cfg or IndexConfig()
        self.bucket_span = bucket_span
        self.compact_every = compact_every
        self.finalize_every = max(finalize_every, 1)
        self.delete_policy = delete_policy
        self.keep_most_recent = keep_most_recent
        os.makedirs(os.path.join(out_dir, "segments"), exist_ok=True)
        os.makedirs(os.path.join(out_dir, "checkpoints"), exist_ok=True)
        self._state_path = os.path.join(out_dir, "checkpoints", "stream.json")

    # ------------------------------------------------------------- state

    def _state(self) -> dict:
        if os.path.exists(self._state_path):
            with open(self._state_path) as fh:
                return json.load(fh)
        return {"total_docs": 0, "batches": {}, "ckpt_rows": []}

    def _save_state(self, state: dict) -> None:
        tmp = self._state_path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(state, fh, indent=1)
        os.replace(tmp, self._state_path)

    # ------------------------------------------------------------- batch

    def index_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """Index one micro-batch of canonical corpus rows (docno, repo,
        path, commit, lang, content).  Idempotent per batch_id."""
        state = self._state()
        if str(batch_id) in state["batches"]:
            return  # retried batch: already committed
        base = state["total_docs"]
        spark = batch_df.sparkSession
        # pin partitioning across the count job and the build job
        batch_df = batch_df.persist()

        counts = (
            batch_df.withColumn("__pid", F.spark_partition_id())
            .groupBy("__pid").count().orderBy("__pid").collect()
        )
        plan, acc = {}, base
        for row in counts:
            plan[int(row["__pid"])] = (int(row["count"]), acc)
            acc += int(row["count"])
        n_batch = acc - base
        if n_batch == 0:
            state["batches"][str(batch_id)] = {"n_docs": 0, "segments": []}
            self._save_state(state)
            return

        seg_root = os.path.join(self.out_dir, "segments")
        cfg, span = self.cfg, self.bucket_span

        def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            from pyspark import TaskContext

            pid = TaskContext.get().partitionId()
            n, offset = plan.get(pid, (0, base))
            seg_dir = os.path.join(
                seg_root, f"seg_b{batch_id:06d}_{pid:05d}"
            )
            if os.path.exists(os.path.join(seg_dir, "_SUCCESS")):
                yield _checkpoint_row(pid, n, offset, "", "cached")
                return
            docs, meta, blocks, sha = _build_partition(
                batches, offset, cfg, span
            )
            if len(docs) != n:
                raise RuntimeError(
                    f"batch {batch_id} partition {pid}: {len(docs)} != {n}"
                )
            if n > 0:
                _write_segment(seg_dir, docs, meta, blocks)
            yield _checkpoint_row(pid, n, offset, sha, "built")

        ckpt = batch_df.mapInPandas(run, schema=CHECKPOINT_SCHEMA).toPandas()
        segs = [
            f"seg_b{batch_id:06d}_{int(p):05d}"
            for p, n in zip(ckpt["partition_id"], ckpt["n_docs"]) if n > 0
        ]
        state["total_docs"] = base + n_batch
        state["batches"][str(batch_id)] = {
            "n_docs": n_batch, "segments": segs,
        }
        state["ckpt_rows"].extend(
            {**r, "batch_id": batch_id} for r in ckpt.to_dict("records")
        )
        self._save_state(state)
        batch_df.unpersist()

        if self.delete_policy == "deleteFixedSize":
            state = self._apply_delete_policy(state)

        n_batches = len(
            [b for b in state["batches"].values() if not b.get("deleted")]
        )
        if n_batches % self.finalize_every == 0:
            self.finalize()
        if self.compact_every and n_batches % self.compact_every == 0:
            from terrier_spark.index.resumable import compact_postings

            compact_postings(spark, IndexStore(self.out_dir), self.cfg)

    def _apply_delete_policy(self, state: dict) -> dict:
        """Drop the oldest batches' segments beyond keep_most_recent
        (IncrementalDeleteFixedNumber semantics).  If a dropped segment
        was already folded into a compaction, the compact file is
        invalidated (layout reverts to plain segmented) so queries never
        serve deleted shards; the next compaction rebuilds it."""
        import shutil as _sh

        live = sorted(
            (int(bid) for bid, b in state["batches"].items()
             if not b.get("deleted")),
        )
        to_drop = live[: max(len(live) - self.keep_most_recent, 0)]
        if not to_drop:
            return state
        seg_root = os.path.join(self.out_dir, "segments")
        dropped_segs = []
        for bid in to_drop:
            entry = state["batches"][str(bid)]
            for seg in entry.get("segments", ()):
                path = os.path.join(seg_root, seg)
                if os.path.isdir(path):
                    _sh.rmtree(path)
                dropped_segs.append(seg)
            entry["deleted"] = True
            entry["segments"] = []
        state["ckpt_rows"] = [
            r for r in state.get("ckpt_rows", [])
            if int(r.get("batch_id", -1)) not in set(to_drop)
        ]
        self._save_state(state)
        # invalidate a compaction that covered any dropped segment
        manifest_path = os.path.join(self.out_dir, "manifest.json")
        if os.path.exists(manifest_path):
            with open(manifest_path) as fh:
                manifest = json.load(fh)
            covered = set(manifest.get("compacted_segments") or ())
            if covered & set(dropped_segs):
                compact_path = os.path.join(self.out_dir, "postings_compact")
                if os.path.isdir(compact_path):
                    _sh.rmtree(compact_path)
                manifest["layout"] = "segmented"
                manifest.pop("compacted_segments", None)
                with open(manifest_path, "w") as fh:
                    json.dump(manifest, fh, indent=2)
        return state

    def finalize(self) -> IndexStore:
        """Refresh the global lexicon/stats/manifest over all segments."""
        from terrier_spark.session import get_spark

        spark = SparkSession.getActiveSession() or get_spark()
        state = self._state()
        _finalize(spark, self.out_dir, self.cfg, self.bucket_span,
                  time.time(), state.get("ckpt_rows", []))
        return IndexStore(self.out_dir)

    # ------------------------------------------------------------ stream

    def attach(self, stream_df: DataFrame, checkpoint_dir: Optional[str] = None,
               trigger_available_now: bool = True):
        """Attach to a streaming DataFrame of canonical corpus rows via
        foreachBatch.  Returns the StreamingQuery."""
        writer = stream_df.writeStream.foreachBatch(
            lambda df, bid: self.index_batch(df, bid)
        ).option(
            "checkpointLocation",
            checkpoint_dir or os.path.join(self.out_dir, "checkpoints", "spark"),
        )
        if trigger_available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()
