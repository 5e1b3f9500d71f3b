"""Distributed inverted-index build: one segment per input partition.

The Spark analog of the reference's MapReduce indexing protocol
(org/terrier/structures/indexing/singlepass/
hadoop/Hadoop_BasicSinglePassIndexer.java:82-107):

  plan pass    per-partition doc counts -> cumulative docid offsets,
               persisted to checkpoints/plan.json (the "side files",
               :430-448,560-592) — docids are fully determined BEFORE any
               segment builds, so segments can build/resume in any order;
  build pass   one mapInPandas job; each task tokenizes its partition and
               builds its segment (docs/meta/postings parquet written via
               pyarrow, committed by atomic rename + _SUCCESS marker), then
               yields a checkpoint row (partition_id, n_docs, docid_offset,
               sha256_agg, status).  A task whose segment is already
               committed yields status='cached' WITHOUT reprocessing —
               that is the resume path;
  finalize     global lexicon/stats aggregation over all segments (the
               RunsMerger/LexiconBuilder merge, :188-268) + manifest.

Posting blocks are grouped by (term, docid-range bucket): the bucket is
the block-max pruning axis, and buckets partition docids identically
across terms.  Content crosses the JVM/Python boundary once; there is no
global posting shuffle.  `compact_postings` (index/resumable.py)
re-groups the per-segment blocks into full ones.
"""

from __future__ import annotations

import hashlib
import json
import logging
import os
import shutil
import time
import uuid
from dataclasses import asdict
from typing import Iterator, Optional

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.sql.types import ArrayType, LongType, StructField, StructType

from terrier_spark.compression.vbyte import (
    decode_scoring_blocks,
    encode_positions,
    encode_scoring_block,
    vbyte_decode_parts,
    vbyte_encode,
)
from terrier_spark.config import IndexConfig
from terrier_spark.index.docids import assign_docids
from terrier_spark.index.store import IndexStore, read_segments
from terrier_spark.text.pipeline import make_pipeline

DEFAULT_BUCKET_SPAN = 1 << 16

# The posting-block format, declared once: segment and compact parquet
# files are written with this pyarrow schema, and Spark jobs that emit
# block rows use BLOCK_SCHEMA, derived from it.  Explicit types also make
# an empty partition write the same column types as a full one, so the
# segments read as one dataset.
POSTINGS_ARROW_SCHEMA = pa.schema([
    ("term", pa.string()), ("bucket", pa.int64()),
    ("block_id", pa.int32()), ("n", pa.int32()),
    ("first_docid", pa.int64()), ("last_docid", pa.int64()),
    ("max_tf", pa.int32()), ("min_dl", pa.int32()),
    ("tf_sum", pa.int64()), ("block", pa.binary()),
    ("pos", pa.binary()), ("ftf", pa.binary()), ("fln", pa.binary()),
    # per-field block metadata (field indexes only, else null): per-field
    # tf sums (-> lexicon FieldEntryStatistics, SingleFieldModel.java:131),
    # per-field max tf and min length (-> field-aware block-max bounds)
    ("ftf_sum", pa.list_(pa.int64())),
    ("max_ftf_f", pa.list_(pa.int64())),
    ("min_fln_f", pa.list_(pa.int64())),
    # exact per-block unit-score maxima per registered model (filled at
    # compaction time by index/maxscore.py; null until then — a null
    # bound never prunes)
    ("max_score", pa.list_(pa.float64())),
])
BLOCK_SCHEMA = from_arrow_schema(POSTINGS_ARROW_SCHEMA)
BLOCK_COLUMNS = POSTINGS_ARROW_SCHEMA.names

# segment docs/meta file schemas, explicit for the same reason
DOCS_ARROW_SCHEMA = pa.schema([
    ("docid", pa.int64()), ("docno", pa.string()), ("doclen", pa.int64()),
])
META_ARROW_SCHEMA = pa.schema([
    ("docid", pa.int64()), ("docno", pa.string()), ("repo", pa.string()),
    ("path", pa.string()), ("commit", pa.string()), ("lang", pa.string()),
    ("sha256", pa.string()), ("doclen", pa.int64()),
])
FIELD_LENS_FIELD = pa.field("field_lens", pa.list_(pa.int64()))

CHECKPOINT_SCHEMA = (
    "partition_id int, n_docs long, docid_offset long, sha256_agg string, "
    "status string"
)
CHECKPOINT_COLUMNS = [c.split()[0] for c in CHECKPOINT_SCHEMA.split(",")]


def encode_blocks(term: str, ids: np.ndarray, tfs: np.ndarray,
                  dls: np.ndarray, block_size: int, bucket_span: int,
                  pos: Optional[np.ndarray] = None,
                  ftf: Optional[np.ndarray] = None,
                  fln: Optional[np.ndarray] = None) -> list[tuple]:
    """Cut one term's docid-ascending posting run into block rows
    (BLOCK_COLUMNS order): split at every bucket boundary, then into
    `block_size` chunks within each bucket (block_id counts from 0 per
    bucket).  Each block carries its scoring payload (delta-gap VByte
    docids, tfs, doclens — IntegerCodingPostingOutputStream.java:194-267)
    and its pruning metadata.

    `pos` is the run's flat position array (tfs[i] entries per posting),
    `ftf`/`fln` the n x F per-posting field tfs and field lengths; each
    is None when the index does not store it."""
    buckets = ids // bucket_span
    cuts = np.concatenate(
        ([0], np.flatnonzero(np.diff(buckets)) + 1, [ids.size])
    )
    pos_off = np.concatenate(([0], np.cumsum(tfs))) if pos is not None else None
    rows = []
    for s, e in zip(cuts[:-1], cuts[1:]):
        for b0 in range(s, e, block_size):
            b1 = min(b0 + block_size, e)
            blk_tfs, blk_dls = tfs[b0:b1], dls[b0:b1]
            pos_bytes = ftf_bytes = fln_bytes = None
            ftf_sum = max_ftf_f = min_fln_f = None
            if pos is not None:
                pos_bytes = encode_positions(pos[pos_off[b0]:pos_off[b1]])
            if ftf is not None:
                ftf_mat, fln_mat = ftf[b0:b1], fln[b0:b1]
                ftf_bytes = vbyte_encode(ftf_mat.reshape(-1))
                fln_bytes = vbyte_encode(fln_mat.reshape(-1))
                ftf_sum = ftf_mat.sum(axis=0).astype(np.int64).tolist()
                max_ftf_f = ftf_mat.max(axis=0).astype(np.int64).tolist()
                min_fln_f = fln_mat.min(axis=0).astype(np.int64).tolist()
            rows.append(
                (
                    term, int(buckets[s]), (b0 - s) // block_size, b1 - b0,
                    int(ids[b0]), int(ids[b1 - 1]),
                    int(blk_tfs.max()), int(blk_dls.min()),
                    int(blk_tfs.sum()),
                    encode_scoring_block(ids[b0:b1], blk_tfs, blk_dls),
                    pos_bytes, ftf_bytes, fln_bytes,
                    ftf_sum, max_ftf_f, min_fln_f,
                    None,  # max_score: filled by compaction (maxscore.py)
                )
            )
    return rows


def decode_blocks(frame, pos: bool = False, nf: int = 0,
                  fields=("ftf", "fln")) -> tuple:
    """The inverse of encode_blocks over many block rows at once: `frame`
    maps "block" (and, as asked, "pos" and the `fields` payloads of
    "ftf", "fln") to one value per block row -> (docids, tfs, doclens,
    postings per row, flat positions or None, n x nf field tfs or None,
    n x nf field lengths or None), the postings of all rows concatenated
    in row order.  Field payloads are decoded when nf > 0, only those
    named in `fields`.  One decode_scoring_blocks call plus one
    vbyte_decode_parts call per decoded payload; ValueError unless each
    row's positions number its tf sum and its ftf/fln values n x nf, or
    when a decoded payload is null."""
    ids, tfs, dls, n = decode_scoring_blocks(frame["block"])

    def payload(col, counts):
        parts = frame[col]
        if any(p is None for p in parts):
            raise ValueError(f"block row without its {col} payload")
        return vbyte_decode_parts(parts, counts).astype(np.int64)

    flat = None
    if pos:
        tf_run = np.concatenate(([0], np.cumsum(tfs)))
        ends = np.cumsum(n)
        flat = payload("pos", tf_run[ends] - tf_run[ends - n])
    ftf, fln = (payload(c, n * nf).reshape(-1, nf) if nf and c in fields
                else None for c in ("ftf", "fln"))
    return ids, tfs, dls, n, flat, ftf, fln


_POSTING_TYPES = {"docid": LongType(), "tf": LongType(), "dl": LongType(),
                  "positions": ArrayType(LongType())}


def explode_blocks(blocks_df: DataFrame, carry, want) -> DataFrame:
    """Block rows -> one row per posting: the `carry` columns of its
    block row, then the `want` columns (from docid, tf, dl, positions),
    decoded one Arrow batch at a time.  A row with no postings, or
    without positions when they are wanted, yields none."""
    carry, want = list(carry), list(want)
    with_pos = "positions" in want
    schema = StructType(
        [blocks_df.schema[c] for c in carry]
        + [StructField(c, _POSTING_TYPES[c]) for c in want]
    )

    def explode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if with_pos:
                pdf = pdf[pdf["pos"].notna()]
            ids, tfs, dls, n, flat, _, _ = decode_blocks(pdf, pos=with_pos)
            if ids.size == 0:
                continue
            posting = {"docid": ids, "tf": tfs, "dl": dls}
            if with_pos:
                posting["positions"] = np.split(flat, np.cumsum(tfs)[:-1])
            yield pd.DataFrame(
                {c: np.repeat(pdf[c].to_numpy(), n) for c in carry}
                | {c: posting[c] for c in want})

    cols = carry + ["block"] + (["pos"] if with_pos else [])
    return blocks_df.select(*cols).mapInPandas(explode, schema=schema)


def lexicon_from_blocks(blocks_df: DataFrame, nf: int = 0) -> DataFrame:
    """One aggregation over block METADATA replaces the reference's
    temp-lexicon merge machinery (LexiconBuilder.java:78,343-424): nt from
    block posting counts, collection tf from per-block tf sums.  Field
    indexes additionally get per-term per-field collection frequencies
    (the FieldEntryStatistics surface SingleFieldModel consumes,
    structures/FieldLexiconEntry semantics) and per-field (max_ftf,
    min_fln) bounds for field-aware block-max pruning."""
    aggs = [
        F.sum("n").cast("long").alias("nt"),
        F.sum("tf_sum").cast("long").alias("tf"),
        F.max("max_tf").alias("max_tf"),
        F.min("min_dl").alias("min_dl"),
    ]
    for i in range(nf):
        aggs += [
            F.sum(F.element_at("ftf_sum", i + 1)).cast("long").alias(f"__ftf{i}"),
            F.max(F.element_at("max_ftf_f", i + 1)).cast("long").alias(f"__mx{i}"),
            F.min(F.element_at("min_fln_f", i + 1)).cast("long").alias(f"__mn{i}"),
        ]
    lex = blocks_df.groupBy("term").agg(*aggs)
    if nf:
        lex = (
            lex.withColumn("field_tf", F.array(*[f"__ftf{i}" for i in range(nf)]))
            .withColumn("max_ftf_f", F.array(*[f"__mx{i}" for i in range(nf)]))
            .withColumn("min_fln_f", F.array(*[f"__mn{i}" for i in range(nf)]))
            .drop(*[c for i in range(nf)
                    for c in (f"__ftf{i}", f"__mx{i}", f"__mn{i}")])
        )
    return lex


def _build_inputs(cfg: IndexConfig, bucket_span: int) -> dict:
    """Everything besides the input rows that a committed segment depends
    on, JSON-normalized so it compares equal to its plan.json copy."""
    d = asdict(cfg)
    d["pipeline"]["stopwords"] = sorted(cfg.pipeline.stopwords or ())
    return json.loads(json.dumps({"cfg": d, "bucket_span": bucket_span}))


def _plan(corpus: DataFrame, out_dir: str,
          inputs: dict) -> dict[int, tuple[int, int]]:
    """{pid: (n_docs, docid_offset)}, recorded in checkpoints/plan.json
    together with the build inputs.  A build into a directory that
    already has a plan resumes it only if the inputs and the
    per-partition doc counts are the same; otherwise the committed
    segments would silently describe another build, so it raises."""
    plan_path = os.path.join(out_dir, "checkpoints", "plan.json")
    counts = (
        corpus.withColumn("__pid", F.spark_partition_id())
        .groupBy("__pid")
        .count()
        .orderBy("__pid")
        .collect()
    )
    plan, acc = {}, 0
    for row in counts:
        plan[int(row["__pid"])] = (int(row["count"]), acc)
        acc += int(row["count"])
    record = {
        "inputs": inputs,
        "plan": {str(k): list(v) for k, v in plan.items()},
    }
    if os.path.exists(plan_path):
        with open(plan_path) as fh:
            prior = json.load(fh)
        if prior.get("inputs") != inputs:
            raise ValueError(
                f"{out_dir} holds a build with other settings (IndexConfig "
                "or bucket_span); remove it or build elsewhere"
            )
        if prior.get("plan") != record["plan"]:
            raise ValueError(
                f"{out_dir} holds a build of other input (per-partition doc "
                "counts differ); remove it or build elsewhere"
            )
        return plan
    if any(os.path.exists(os.path.join(out_dir, name))
           for name in ("segments", "manifest.json")):
        raise ValueError(
            f"{out_dir} holds an index that build_index did not plan; "
            "remove it or build elsewhere"
        )
    os.makedirs(os.path.dirname(plan_path), exist_ok=True)
    with open(plan_path + ".tmp", "w") as fh:
        json.dump(record, fh)
    os.replace(plan_path + ".tmp", plan_path)
    return plan


def _write_segment(seg_dir: str, docs: pd.DataFrame, meta: pd.DataFrame,
                   blocks: pd.DataFrame) -> None:
    """Commit one segment: write beside it, then rename into place with
    a _SUCCESS marker (a segment without the marker never existed)."""
    import pyarrow.parquet as pq

    meta_schema = (
        META_ARROW_SCHEMA.append(FIELD_LENS_FIELD)
        if "field_lens" in meta.columns else META_ARROW_SCHEMA
    )
    tmp = f"{seg_dir}.tmp-{uuid.uuid4().hex[:8]}"
    os.makedirs(tmp, exist_ok=True)
    for name, frame, schema in (
        ("docs", docs, DOCS_ARROW_SCHEMA),
        ("meta", meta, meta_schema),
        ("postings", blocks, POSTINGS_ARROW_SCHEMA),
    ):
        pq.write_table(
            pa.Table.from_pandas(frame, schema=schema, preserve_index=False),
            os.path.join(tmp, f"{name}.parquet"),
        )
    with open(os.path.join(tmp, "_SUCCESS"), "w"):
        pass
    if os.path.exists(seg_dir):
        shutil.rmtree(seg_dir)
    os.replace(tmp, seg_dir)


def _build_partition(pdfs, offset: int, cfg: IndexConfig,
                     bucket_span: int) -> tuple[pd.DataFrame, pd.DataFrame, pd.DataFrame, str]:
    """Tokenize + index one partition's rows.

    Streams the batch iterator (never materializes the partition) and
    accumulates postings in compact typed arrays per term — the memory
    footprint is ~16 bytes/posting + 4 bytes/position, NOT Python tuple
    objects, so 32 concurrent quarter-million-doc tasks fit comfortably
    (the reference's MemoryPostings plays the same role with int[] runs,
    structures/indexing/singlepass/MemoryPostings.java:44-155)."""
    from array import array

    pipe = make_pipeline(cfg.pipeline)
    fields = cfg.field_cols  # ordered (field_name, column) pairs or None
    nf = len(fields) if fields else 0
    doc_rows, meta_rows = [], []
    # lineage hash covers (docno, content) so a membership drift that
    # swaps equal-content rows with different docnos is still caught by
    # the resume verification (_hash_partition must mirror this exactly)
    # term -> [docids('q'), tfs('i'), dls('i'), flat positions('i'),
    #          flat per-posting field tfs('i', n*nf)]
    acc: dict[str, list] = {}
    # per-LOCAL-doc field lengths (fln vectors are emitted per posting at
    # encode time, indexed by docid - offset)
    flens_rows: list = []
    docid = offset
    sha_acc = hashlib.sha256()
    want_pos = cfg.positions
    for pdf in pdfs:
        for row in pdf.itertuples():
            content = row.content or ""
            sha = hashlib.sha256(content.encode("utf-8")).hexdigest()
            sha_acc.update(str(row.docno).encode("utf-8"))
            sha_acc.update(sha.encode())
            if fields:
                # per-field token streams, concatenated in field order for
                # positions/doclen (FieldScore.java:54-86 semantics)
                streams = [
                    pipe.terms(getattr(row, col) or "") for _, col in fields
                ]
                terms = [t for s in streams for t in s]
                ftfmap: dict[str, list[int]] = {}
                for fi, s in enumerate(streams):
                    for t in s:
                        v = ftfmap.get(t)
                        if v is None:
                            v = ftfmap[t] = [0] * nf
                        v[fi] += 1
                flens_rows.append([len(s) for s in streams])
            else:
                terms = pipe.terms(content)
                ftfmap = None
            dl = len(terms)
            doc_rows.append((docid, row.docno, dl))
            meta_rows.append(
                (docid, row.docno, row.repo, row.path, row.commit,
                 row.lang, sha, dl)
                + ((flens_rows[-1],) if fields else ())
            )
            # per-document term aggregation (DocumentPostingList.java:
            # 62-113): one posting per unique term
            posmap: dict[str, list[int]] = {}
            for pos, t in enumerate(terms):
                posmap.setdefault(t, []).append(pos)
            for term, plist in posmap.items():
                a = acc.get(term)
                if a is None:
                    a = acc[term] = [array("q"), array("i"), array("i"),
                                     array("i"), array("i")]
                a[0].append(docid)
                a[1].append(len(plist))
                a[2].append(dl)
                if want_pos:
                    a[3].extend(plist)
                if fields:
                    a[4].extend(ftfmap[term])
            docid += 1
    docs = pd.DataFrame(doc_rows, columns=["docid", "docno", "doclen"])
    meta_cols = ["docid", "docno", "repo", "path", "commit", "lang",
                 "sha256", "doclen"] + (["field_lens"] if fields else [])
    meta = pd.DataFrame(meta_rows, columns=meta_cols)
    flens_arr = (
        np.asarray(flens_rows, dtype=np.int64).reshape(-1, nf)
        if fields else None
    )
    block_rows = []
    for term in sorted(acc):
        a = acc[term]
        ids = np.frombuffer(a[0], dtype=np.int64)
        block_rows += encode_blocks(
            term, ids,
            np.frombuffer(a[1], dtype=np.int32).astype(np.int64),
            np.frombuffer(a[2], dtype=np.int32).astype(np.int64),
            cfg.block_size, bucket_span,
            pos=(np.frombuffer(a[3], dtype=np.int32).astype(np.int64)
                 if want_pos else None),
            ftf=(np.frombuffer(a[4], dtype=np.int32).reshape(-1, nf)
                 if fields else None),
            fln=flens_arr[ids - offset] if fields else None,
        )
    blocks = pd.DataFrame(block_rows, columns=BLOCK_COLUMNS)
    return docs, meta, blocks, sha_acc.hexdigest()


def _hash_partition(pdfs) -> tuple[int, str]:
    """Stream a partition's (docno, content) rows through the SAME
    lineage hash _build_partition computes — no tokenization, so
    verifying a cached segment costs hashing only."""
    n = 0
    sha_acc = hashlib.sha256()
    for pdf in pdfs:
        for row in pdf.itertuples():
            content = row.content or ""
            sha = hashlib.sha256(content.encode("utf-8")).hexdigest()
            sha_acc.update(str(row.docno).encode("utf-8"))
            sha_acc.update(sha.encode())
            n += 1
    return n, sha_acc.hexdigest()


def _checkpoint_row(pid: int, n: int, offset: int, sha: str,
                    status: str) -> pd.DataFrame:
    return pd.DataFrame([(pid, n, offset, sha, status)],
                        columns=CHECKPOINT_COLUMNS)


def build_index(
    spark: SparkSession,
    corpus: DataFrame,
    out_dir: str,
    cfg: Optional[IndexConfig] = None,
    bucket_span: int = DEFAULT_BUCKET_SPAN,
    fail_partitions: Optional[set[int]] = None,
    skip_partitions: Optional[set[int]] = None,
    verify_cached: bool = True,
) -> IndexStore:
    """Build the index under out_dir (plan, one segment per input
    partition, finalize) and return an IndexStore handle.

    Re-running on the same out_dir resumes: committed segments are
    served cached.  The directory must hold a build with the same cfg,
    bucket_span and per-partition doc counts, else ValueError (remove the
    directory to rebuild).  `verify_cached` also re-hashes the input of
    partitions whose segments are already committed and compares against
    the recorded lineage (sha256_agg over (docno, content)): a mismatch
    means the partition's rows changed since the original run (edited
    input, or a repartitionByRange whose sampled boundaries moved) — the
    stale segment is deleted and rebuilt in a second pass over the same
    (persisted, hence pinned) partitioning, so cached and rebuilt
    segments can never mix inconsistent docid assignments.  Hashing
    costs a read of the cached partitions, far less than rebuilding them.

    Test hooks: `fail_partitions` raises inside those partitions before
    their segment commit (exercises the crash path); `skip_partitions`
    deterministically leaves those segments unbuilt (a reproducible
    "killed after partial completion" state for resume tests)."""
    cfg = cfg or IndexConfig()
    t0 = time.time()
    os.makedirs(out_dir, exist_ok=True)
    if cfg.sort_docids_by:
        # docid-reordering-for-compression (InvertedIndexReordering.java:
        # 114-140); the persist below pins the range partitioning across
        # the plan and build jobs, and the plan check in _plan turns any
        # cross-run drift of the partition counts into a loud error
        # instead of corrupt docids
        corpus = corpus.repartitionByRange(
            *cfg.sort_docids_by
        ).sortWithinPartitions(*cfg.sort_docids_by)
    # Pin the input partitioning: the plan pass counts partitions in one
    # job and the build pass assigns docids in another, so the layout
    # must be identical across jobs.  File scans are stable, but
    # LocalRelations / shuffled inputs are not — persisting materializes
    # one layout both jobs share.  A corpus the caller cached stays cached.
    pinned = not corpus.is_cached
    if pinned:
        corpus = corpus.persist()
    try:
        plan = _plan(corpus, out_dir, _build_inputs(cfg, bucket_span))
        ckpt_rows = _build_segments(
            corpus, out_dir, plan, cfg, bucket_span, fail_partitions or set(),
            skip_partitions or set(), verify_cached,
        )
    finally:
        if pinned:
            corpus.unpersist()
    metrics = _finalize(spark, out_dir, cfg, bucket_span, t0, ckpt_rows)
    store = IndexStore(out_dir)
    store.build_metrics = metrics
    return store


def _build_segments(corpus: DataFrame, out_dir: str, plan: dict,
                    cfg: IndexConfig, bucket_span: int, fail: set,
                    skip: set, verify_cached: bool) -> list:
    """The build pass (and, after a failed verification, the rebuild
    pass): commit every missing segment and record the per-partition
    checkpoint rows in checkpoints/partitions.json, which it returns."""
    seg_root = os.path.join(out_dir, "segments")
    os.makedirs(seg_root, exist_ok=True)
    # a task killed mid-commit leaves its `<segment>.tmp-<hex>` staging
    # directory behind, a full copy of a segment that no reader lists
    for name in os.listdir(seg_root):
        if ".tmp-" in name:
            shutil.rmtree(os.path.join(seg_root, name), ignore_errors=True)
    # prior lineage for cached-segment verification (driver-side read,
    # broadcast via the closure — one small dict)
    prior_lineage: dict[int, str] = {}
    ckpt_path = os.path.join(out_dir, "checkpoints", "partitions.json")
    if verify_cached and os.path.exists(ckpt_path):
        with open(ckpt_path) as fh:
            prior_lineage = {
                int(r["partition_id"]): r.get("sha256_agg") or ""
                for r in json.load(fh)
            }

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        n, offset = plan.get(pid, (0, 0))
        seg_dir = os.path.join(seg_root, f"seg_{pid:05d}")
        if os.path.exists(os.path.join(seg_dir, "_SUCCESS")):
            if verify_cached and prior_lineage.get(pid):
                n_seen, sha_seen = _hash_partition(batches)
                if sha_seen != prior_lineage[pid] or n_seen != n:
                    # the rows changed since the committed run: drop
                    # the stale segment; the driver reruns the build
                    # pass (same pinned partitioning) to rebuild it
                    shutil.rmtree(seg_dir, ignore_errors=True)
                    yield _checkpoint_row(pid, n, offset, sha_seen, "stale")
                    return
            yield _checkpoint_row(pid, n, offset, "", "cached")
            return
        if pid in skip:
            yield _checkpoint_row(pid, n, offset, "", "skipped")
            return
        if pid in fail:
            raise RuntimeError(f"injected failure in partition {pid}")
        docs, meta, blocks, sha_agg = _build_partition(
            batches, offset, cfg, bucket_span
        )
        if len(docs) != n:
            raise RuntimeError(
                f"partition {pid}: saw {len(docs)} docs, plan says {n} — "
                "input changed since plan; delete checkpoints to rebuild"
            )
        _write_segment(seg_dir, docs, meta, blocks)
        yield _checkpoint_row(pid, n, offset, sha_agg, "built")

    ckpt = corpus.mapInPandas(run, schema=CHECKPOINT_SCHEMA).toPandas()
    stale = ckpt[ckpt["status"] == "stale"]
    if len(stale):
        # the verification pass evicted stale segments; rebuild them
        # with a second pass over the SAME persisted partitioning (the
        # evicted pids no longer have _SUCCESS, so they take the build
        # path; everything else is served cached)
        logging.getLogger("terrier_spark.builder").warning(
            "resume verification: %d cached segment(s) did not match the "
            "resumed input (the partition's rows changed) — rebuilding %s",
            len(stale), sorted(stale["partition_id"].tolist()),
        )
        ckpt = corpus.mapInPandas(run, schema=CHECKPOINT_SCHEMA).toPandas()
    ckpt = ckpt.sort_values("partition_id")
    prior = {}
    if os.path.exists(ckpt_path):
        with open(ckpt_path) as fh:
            prior = {int(r["partition_id"]): r for r in json.load(fh)}
    rows = []
    for r in ckpt.to_dict("records"):
        if r["status"] == "cached" and int(r["partition_id"]) in prior:
            # keep the original lineage (sha256_agg) but record that this
            # run served the partition from its committed segment
            kept = dict(prior[int(r["partition_id"])])
            kept["status"] = "cached"
            rows.append(kept)
        else:
            rows.append(r)
    with open(ckpt_path + ".tmp", "w") as fh:
        json.dump(rows, fh, indent=1, default=str)
    os.replace(ckpt_path + ".tmp", ckpt_path)
    return rows


def _finalize(spark: SparkSession, out_dir: str, cfg: IndexConfig,
              bucket_span: int, t0: float, ckpt_rows: list) -> dict:
    """Lexicon, collection statistics and manifest over every committed
    segment under out_dir/segments -> this run's build metrics (logged,
    not persisted: the manifest is a function of corpus and config
    alone)."""
    postings = read_segments(spark, out_dir, "postings")
    # lexicon: merge per-segment partials (the RunsMerger pass) straight
    # from block METADATA — nt from posting counts, collection tf from
    # per-block tf sums; no block decode needed.  termid = dense rank in
    # lexicographic term order (RunsMerger.java:236).
    lex = lexicon_from_blocks(
        postings, len(cfg.field_cols) if cfg.field_cols else 0
    )
    lex = assign_docids(lex, order_by=["term"], id_col="__rank")
    lex = lex.withColumn("termid", F.col("__rank").cast("long")).drop("__rank")
    lex.repartitionByRange(4, "term").sortWithinPartitions("term").write.mode(
        "overwrite"
    ).parquet(f"{out_dir}/lexicon")

    docs = read_segments(spark, out_dir, "docs")
    drow = docs.agg(
        F.count("*").alias("nd"), F.sum("doclen").alias("ntok")
    ).collect()[0]
    lrow = spark.read.parquet(f"{out_dir}/lexicon").agg(
        F.count("*").alias("nt"), F.sum("nt").alias("np")
    ).collect()[0]
    num_docs, num_tokens = int(drow["nd"] or 0), int(drow["ntok"] or 0)
    stats = {
        "num_docs": num_docs,
        "num_terms": int(lrow["nt"] or 0),
        "num_tokens": num_tokens,
        "num_pointers": int(lrow["np"] or 0),
        "avg_doclen": (num_tokens / num_docs) if num_docs else 0.0,
    }
    if cfg.field_cols:
        nf = len(cfg.field_cols)
        meta_read = read_segments(spark, out_dir, "meta")
        frow = meta_read.select(
            *[
                F.sum(F.element_at("field_lens", i + 1)).alias(f"f{i}")
                for i in range(nf)
            ]
        ).collect()[0]
        stats["fields"] = [name for name, _ in cfg.field_cols]
        stats["field_tokens"] = [int(frow[f"f{i}"] or 0) for i in range(nf)]
        stats["avg_field_lens"] = [
            (stats["field_tokens"][i] / num_docs) if num_docs else 0.0
            for i in range(nf)
        ]
    elapsed = time.time() - t0
    built = sum(1 for r in ckpt_rows if r["status"] == "built")
    # a prior compaction stays valid: its coverage list tells postings()
    # which segments the compact file already folds in, so refreshing the
    # lexicon/stats must not silently revert the layout to "segmented"
    prior_manifest = {}
    manifest_path = os.path.join(out_dir, "manifest.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as fh:
            prior_manifest = json.load(fh)
    layout = (
        "segmented_compacted"
        if prior_manifest.get("layout") == "segmented_compacted"
        else "segmented"
    )
    manifest = {
        "version": 1,
        "layout": layout,
        "bucket_span": bucket_span,
        "block_size": cfg.block_size,
        "positions": cfg.positions,
        "fields": (
            [list(fc) for fc in cfg.field_cols] if cfg.field_cols else None
        ),
        "pipeline": asdict(cfg.pipeline) | {
            "stopwords": sorted(cfg.pipeline.stopwords or ())
        },
        "stats": stats,
    }
    if layout == "segmented_compacted":
        manifest["compacted_segments"] = prior_manifest["compacted_segments"]
        # keep the maxscore registration; the stats snapshot it carries
        # is the compaction-time one, so if this finalize changed the
        # collection stats (an appended batch), IndexStore.maxscore_index
        # sees the drift and stops consuming the stale bounds until the
        # next compaction refreshes them
        for k in ("maxscore_models", "maxscore_stats"):
            if k in prior_manifest:
                manifest[k] = prior_manifest[k]
    with open(f"{out_dir}/manifest.json", "w") as fh:
        json.dump(manifest, fh, indent=2)
    metrics = {
        "build_seconds": round(elapsed, 3),
        "docs_per_sec": round(num_docs / elapsed, 2) if elapsed else None,
        "num_docs": num_docs,
        "partitions_built": built,
        "partitions_cached": len(ckpt_rows) - built,
    }
    logging.getLogger("terrier_spark.builder").info(
        "built %s: %s", out_dir, metrics)
    return metrics
