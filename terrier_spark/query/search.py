"""Batch top-k retrieval over the compressed posting store, generic over
weighting models (default BM25).

The reference's DAAT heap walk (org/terrier/matching/daat/Full.java:78-186)
becomes a declarative plan Catalyst owns:

    scan postings (term-pruned parquet scan)
      -> broadcast-join per-(qid,term) stats          [lexicon lookup,
         PostingListManager.java:213; low-idf drop :217-219]
      -> [prune] drop (qid,bucket) whose WAND upper bound < theta
         [WAND.java:190-289, made bound-safe at block granularity]
      -> repartition(qid, bucket)                      [co-locate a doc's
         postings of every query term]
      -> mapInPandas VByte decode + numpy model kernel [vectorized scoring]
         + in-kernel per-(qid, docid) score combine    [accumulators]
         + theta filter and per-partition top-k cut
      -> per-qid top-k, ties: score desc, docid asc    [pinned — reference
         ties are unstable, daat/CandidateResult.java:52-62]

All queries of a batch run as ONE Spark job (the fork's 900-query
benchmark loop becomes a single plan over a qid dimension), through the
same in-kernel aggregation whatever the batch size, as the reference
sums scores inside matching for every query.
"""

from __future__ import annotations

import logging

from typing import Iterator, List, Optional, Sequence, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

from terrier_spark.compression.vbyte import decode_scoring_block
from terrier_spark.config import QueryConfig
from terrier_spark.index.store import IndexStore
from terrier_spark.query.models import get_model, score_scalar
from terrier_spark.text.pipeline import make_pipeline

log = logging.getLogger("terrier_spark.search")

# Slack subtracted from the pass-1 theta bound wherever it is applied as
# a row filter: theta and the final document scores are float64 sums of
# the SAME per-posting values, but summed in different partition orders,
# so a doc tied exactly at theta can land 1 ULP under it.  Keeping
# score >= theta - eps rows preserves a valid lower bound (keeping more
# is always safe — the top-k cut downstream is exact).
_THETA_EPS = 1e-9
# raw (pre-combine) rows the in-kernel aggregator holds before compacting
# its accumulator with a packed-key unique+bincount pass
_AGG_COMPACT_ROWS = 1 << 23
# The in-kernel combine packs (qid code, docid) into one int64 key,
# qid << _DOCID_BITS | docid.  Docids must stay below 2^43 (8.8e12, above
# the 10^12-doc design point; search_terms raises otherwise) and a job's
# dense qid codes below 2^20, so search_terms splits larger batches into
# sequential chunks of at most _MAX_JOB_QUERIES queries.
_DOCID_BITS = 43
_MAX_JOB_QUERIES = 1 << (63 - _DOCID_BITS)

# session settings the query path assumes (session.get_spark sets them);
# a bare SparkSession.builder session measures ~2-3x slower per query
# purely from these, so flag the mismatch once per application
_TUNING_CONFS = (
    ("spark.sql.execution.arrow.pyspark.enabled", "true"),
    ("spark.sql.adaptive.enabled", "true"),
)
_tuning_checked: set = set()


def _check_session_tuning(spark: SparkSession) -> List[str]:
    """Return the tuning confs this session is missing, warning once per
    applicationId.  Read-only: never mutates the user's session."""
    app_id = spark.sparkContext.applicationId
    if app_id in _tuning_checked:
        return []
    _tuning_checked.add(app_id)
    def effective(key: str) -> str:
        # no-default get resolves Spark's BUILT-IN default (AQE is on by
        # default since 3.2); a fallback arg would mask it
        try:
            return (spark.conf.get(key) or "").lower()
        except Exception:
            return ""

    missing = [key for key, want in _TUNING_CONFS if effective(key) != want]
    if missing:
        log.warning(
            "session is missing tuned settings %s — query latency "
            "measures ~2-3x worse without them; use "
            "terrier_spark.session.get_spark() or set them on your "
            "builder", missing,
        )
    return missing


def process_queries(queries: Sequence[Tuple[str, str]],
                    pipeline_cfg) -> pd.DataFrame:
    """(qid, text) pairs -> rows (qid, term, qtf): the same term pipeline
    as indexing applied to queries (Manager.java:675-679)."""
    pipe = make_pipeline(pipeline_cfg)
    rows = []
    for qid, text in queries:
        counts: dict[str, int] = {}
        for t in pipe.query_terms(text):
            counts[t] = counts.get(t, 0) + 1
        for term, qtf in counts.items():
            rows.append((str(qid), term, qtf))
    return pd.DataFrame(rows, columns=["qid", "term", "qtf"])


def _qterm_stats(spark: SparkSession, store: IndexStore, qterms: pd.DataFrame,
                 qcfg: QueryConfig) -> pd.DataFrame:
    """Join query terms against the lexicon driver-side (the lexicon rows
    touched == distinct query terms, always tiny), apply the low-idf drop,
    and precompute per-term score upper bounds from the index-time
    (max_tf, min_dl) metadata — the analog of the fork's query-time exact
    max-score pre-scan (WAND.java:76-96), paid at index time instead."""
    stats = store.stats
    N, avgdl, T = stats["num_docs"], stats["avg_doclen"], stats["num_tokens"]
    empty = qterms.iloc[0:0].assign(nt=0, tfc=0, term_ub=0.0)
    terms = sorted(set(qterms["term"]))
    if not terms:
        return empty
    lex = store.lexicon_lookup(spark, terms).rename(columns={"tf": "tfc"})
    merged = qterms.merge(lex, on="term", how="inner")  # OOV terms drop out
    if qcfg.ignore_low_idf:
        # drop when collection frequency exceeds N
        # (PostingListManager.java:217-219: N < t.getFrequency())
        merged = merged[merged["tfc"] <= N]
    if merged.empty:
        return empty
    merged = merged.copy()
    spec = get_model(qcfg.model)
    if spec.needs_fields:
        if spec.active_fields and "field_tf" in merged.columns:
            # SingleFieldModel.setEntryStatistics:128-142: the collection
            # term frequency is restricted to the active fields (document
            # frequency nt stays global; the low-idf drop above already
            # used the global tfc, as PostingListManager does)
            merged["tfc"] = [
                int(sum(row[i] for i in spec.active_fields))
                for row in merged["field_tf"]
            ]
        merged["term_ub"] = 0.0  # block bounds computed from field metadata
        return merged
    # upper bound: monotone models bound every posting by (max_tf, min_dl);
    # clamped at 0 (valid when the idf factor goes negative, where every
    # actual score is negative)
    merged["term_ub"] = [
        max(
            score_scalar(qcfg.model, r.max_tf, r.min_dl, r.qtf, r.nt, r.tfc,
                         N, avgdl, T),
            0.0,
        )
        for r in merged.itertuples()
    ]
    return merged


def _decode_score_udf(model: str, N: int, avgdl: float, T: int,
                      field_params=None):
    """mapInPandas kernel: (qid, qtf, nt, tfc, block[, ftf, fln]) rows ->
    (qid, docid, score) posting rows; VByte decode + model kernel, all
    numpy.  field_params = (weights, cs, avg_flens) for field models."""
    spec = get_model(model)
    kernel = spec.kernel
    needs_fields = spec.needs_fields

    # Bound the python-side frame size: a hot term's blocks joined with
    # hundreds of qids can decode to tens of millions of rows per Arrow
    # input batch; accumulating them into ONE pandas frame (object-dtype
    # qids, ~50 B/row) blows up the python worker at scale.  Flush
    # incrementally instead — Spark streams each yielded frame out as
    # its own Arrow batch, so peak memory is O(emit_rows), not O(batch
    # decode volume).
    emit_rows = 1 << 21

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from terrier_spark.compression.vbyte import vbyte_decode

        out_qid, out_docid, out_score = [], [], []
        pending = 0
        for pdf in batches:
            for row in pdf.itertuples():
                ids, tfs, dls = decode_scoring_block(row.block)
                if ids.size == 0:
                    continue
                if needs_fields:
                    weights, cs, avg_flens = field_params
                    nf = len(avg_flens)
                    ftf = vbyte_decode(row.ftf, ids.size * nf).reshape(
                        ids.size, nf
                    )
                    fln = vbyte_decode(row.fln, ids.size * nf).reshape(
                        ids.size, nf
                    )
                    scores = kernel(ftf, fln, row.qtf, row.nt, row.tfc, N,
                                    weights, cs, avg_flens, T)
                else:
                    scores = kernel(tfs, dls, row.qtf, row.nt, row.tfc,
                                    N, avgdl, T)
                # Undefined (NaN) contributions are DROPPED here, at the
                # per-posting source.  BB2-family formulas are NaN
                # outside their domain (stirlingPower(F, F - TF) with
                # normalised TF > F on short docs — reference BB2.java:90
                # behaves the same); the reference then ranks NaN docs
                # FIRST (Double.compare treats NaN as greatest).  We
                # diverge deliberately: propagating NaN would rank
                # numerically degenerate docs at the top, and the
                # OracleIndex applies the same drop, so engine and
                # oracle agree on every model.  Block-max bounds stay
                # valid: dropping a contribution only lowers a doc's
                # score, and a NaN-poisoned block max keeps its bucket
                # unpruned.
                bad = np.isnan(scores)
                if bad.any():
                    keep = ~bad
                    ids, scores = ids[keep], scores[keep]
                    if ids.size == 0:
                        continue
                # int32 qid codes, not strings: object-dtype qid columns
                # dominated the Arrow exchange bytes in the DRAM-bound
                # batch phase (VERDICT r4 #2a)
                out_qid.append(np.full(ids.size, row.qid, dtype=np.int32))
                out_docid.append(ids)
                out_score.append(scores)
                pending += ids.size
                if pending >= emit_rows:
                    yield pd.DataFrame(
                        {
                            "qid": np.concatenate(out_qid),
                            "docid": np.concatenate(out_docid),
                            "score": np.concatenate(out_score),
                        }
                    )
                    out_qid, out_docid, out_score = [], [], []
                    pending = 0
        if out_qid:
            yield pd.DataFrame(
                {
                    "qid": np.concatenate(out_qid),
                    "docid": np.concatenate(out_docid),
                    "score": np.concatenate(out_score),
                }
            )

    return run


def _decode_agg_udf(model: str, N: int, avgdl: float, T: int,
                    field_params=None, k: Optional[int] = None):
    """mapInPandas kernel producing FINAL per-(qid, docid) scores for its
    partition.  Requires the input to be hash-partitioned by (qid,
    bucket): the bucket invariant (bucket labels partition docids
    identically across every term) then guarantees each (qid, docid)
    lands in exactly one partition, so the partition-local sum is the
    complete document score and no post-decode exchange of posting rows
    is needed — the WAND fork's accumulator stage collapsed into the
    decode task.  On top of the final scores the kernel applies
    (a) the pass-1 theta lower bound (carried per-row on a `theta`
    column from the pruning join, so no extra driver action is needed —
    rows that cannot reach the top-k are dropped at the source) and
    (b) a per-partition top-k cut, so the only exchange after decode is
    <= k rows per (partition, qid) feeding the global top-k window."""
    inner = _decode_score_udf(model, N, avgdl, T, field_params)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        theta_map: dict = {}

        def harvest(it):
            for pdf in it:
                if "theta" in pdf.columns:
                    got = pdf.loc[pdf["theta"].notna(),
                                  ["qid", "theta"]]
                    for q, t in zip(got["qid"], got["theta"]):
                        theta_map[q] = float(t)
                yield pdf

        # Accumulate (qid, docid, score) as numpy and combine on a packed
        # int64 key (qid << _DOCID_BITS | docid): measured ~2x faster
        # than the pandas groupby this replaced (int keys, one sort, no
        # index machinery).  search_terms keeps docids and qid codes
        # inside the key's bit widths.  Chunks are compacted whenever
        # the pending raw volume passes _AGG_COMPACT_ROWS so peak memory
        # is O(unique keys + compact window), not O(decode volume).
        key_parts: list = []
        score_parts: list = []
        pending = 0

        def compact():
            nonlocal key_parts, score_parts, pending
            keys = np.concatenate(key_parts)
            scores = np.concatenate(score_parts)
            uk, inv = np.unique(keys, return_inverse=True)
            sums = np.bincount(inv, weights=scores)
            key_parts = [uk]
            score_parts = [sums]
            pending = uk.size

        for pdf in inner(harvest(batches)):
            qids = pdf["qid"].to_numpy()
            docids = pdf["docid"].to_numpy()
            key_parts.append(
                (qids.astype(np.int64) << np.int64(_DOCID_BITS)) | docids
            )
            score_parts.append(pdf["score"].to_numpy())
            pending += qids.size
            if pending >= _AGG_COMPACT_ROWS:
                compact()
        if not key_parts:
            return
        compact()
        keys, scores = key_parts[0], score_parts[0]
        qids = (keys >> np.int64(_DOCID_BITS)).astype(np.int32)
        docids = keys & np.int64((1 << _DOCID_BITS) - 1)
        if theta_map:
            # vectorized per-row theta via searchsorted over the unique
            # qids present in this partition; no theta -> -inf -> kept
            uq = np.unique(qids)
            th = np.array([theta_map.get(int(q), -np.inf) for q in uq])
            row_th = th[np.searchsorted(uq, qids)]
            keep = ~(scores < row_th - _THETA_EPS)
            qids, docids, scores = qids[keep], docids[keep], scores[keep]
        if k is not None and qids.size > k:
            # sort by (qid asc, score desc, docid asc), then keep the
            # first k rows of each qid run
            order = np.lexsort((docids, -scores, qids))
            qids, docids, scores = (
                qids[order], docids[order], scores[order]
            )
            starts = np.flatnonzero(
                np.concatenate(([True], qids[1:] != qids[:-1]))
            )
            group_of = np.searchsorted(starts, np.arange(qids.size),
                                       side="right") - 1
            rank = np.arange(qids.size) - starts[group_of]
            keep = rank < k
            qids, docids, scores = qids[keep], docids[keep], scores[keep]
        yield pd.DataFrame(
            {"qid": qids, "docid": docids, "score": scores}
        )

    return run


_TOPK_WINDOW = None
_TOPK_WINDOW_APP = None


def _topk(scored: DataFrame, k: int) -> DataFrame:
    # the spec is constant; building it costs ~5 py4j round trips, which
    # shows up at interactive single-query latency.  Keyed on the
    # applicationId (not just cached forever): a WindowSpec holds JVM
    # object references, and after spark.stop() a new session must not
    # receive a spec bound to the dead one.
    global _TOPK_WINDOW, _TOPK_WINDOW_APP
    app = scored.sparkSession.sparkContext.applicationId
    if _TOPK_WINDOW is None or _TOPK_WINDOW_APP != app:
        _TOPK_WINDOW = Window.partitionBy("qid").orderBy(
            F.col("score").desc(), F.col("docid").asc()
        )
        _TOPK_WINDOW_APP = app
    return (
        scored.withColumn("rank", F.row_number().over(_TOPK_WINDOW) - F.lit(1))
        .filter(F.col("rank") < k)
    )


def search(
    spark: SparkSession,
    store: IndexStore,
    queries: Sequence[Tuple[str, str]],
    qcfg: Optional[QueryConfig] = None,
    with_meta: bool = False,
    stats_out: Optional[dict] = None,
) -> DataFrame:
    """Batch retrieval -> DataFrame (qid, rank, docid, score[, docno]).

    Rank semantics: score desc, docid asc, 0-based rank, k results
    (BaseMatching.java:283-316 with the tie-break pinned)."""
    return search_terms(
        spark, store,
        process_queries(queries, store.pipeline_config()),
        qcfg, with_meta,
        stats_out=stats_out,
    )


def search_terms(
    spark: SparkSession,
    store: IndexStore,
    qterms: pd.DataFrame,
    qcfg: Optional[QueryConfig] = None,
    with_meta: bool = False,
    _survivors_pdf: Optional[pd.DataFrame] = None,
    stats_out: Optional[dict] = None,
) -> DataFrame:
    """Like search(), but takes pre-pipelined weighted terms directly:
    a pandas frame (qid, term, qtf) with float qtf allowed — the entry
    point query expansion re-enters with Bo1 weights
    (Manager.runMatching keyFrequency semantics).

    `_survivors_pdf` is internal: a chunked split batch passes each
    chunk its slice of the batch-wide pruning survivors (qid, bucket,
    theta) so chunks skip re-pruning."""
    qcfg = qcfg or QueryConfig()
    _check_session_tuning(spark)
    stats = store.stats
    N, avgdl, T = stats["num_docs"], stats["avg_doclen"], stats["num_tokens"]
    if N >= 1 << _DOCID_BITS:
        # docids are dense 0..N-1; past 2^43 they overflow the in-kernel
        # combine's packed key and would corrupt scores silently
        raise ValueError(
            f"index {store.path}: {N} documents exceed the "
            f"2^{_DOCID_BITS} docids search can score"
        )

    qstats = _qterm_stats(spark, store, qterms, qcfg)
    if qstats.empty:
        schema = (
            "qid string, rank int, docid long, docno string, sha256 string, "
            "score double"
            if with_meta
            else "qid string, rank int, docid long, score double"
        )
        return spark.createDataFrame([], schema)

    terms = sorted(set(qstats["term"]))
    blocks = store.postings(spark).filter(F.col("term").isin(terms))
    # Integer qid codes through the whole decode/agg exchange: the warm
    # 900-query batch is DRAM-bandwidth-bound in decode+agg (event-log
    # profile, BASELINE.md), and a string qid there costs object-dtype
    # columns in every Arrow batch plus string hashing in the exchange
    # and top-k window.  Map each label to a dense int32 at
    # plan-build time, run everything on the code, and join the labels
    # back AFTER the top-k cut (<= k rows per query, broadcast join).
    qid_labels = sorted(set(qstats["qid"]))
    qid_code_of = {q: i for i, q in enumerate(qid_labels)}
    qstats = qstats.assign(
        qtf=qstats["qtf"].astype(float),
        qid=qstats["qid"].map(qid_code_of).astype("int32"),
    )
    qs_df = spark.createDataFrame(
        qstats[["qid", "term", "qtf", "nt", "tfc", "term_ub"]]
    )
    joined = blocks.join(F.broadcast(qs_df), "term")

    spec = get_model(qcfg.model)
    field_params = None
    T_eff = T
    sel_cols = ["qid", "qtf", "nt", "tfc", "block"]
    if spec.needs_fields:
        fields = store.stats.get("fields")
        if not fields:
            raise ValueError(
                f"model {qcfg.model} needs a field index (build with "
                "IndexConfig.field_cols)"
            )
        nf = len(fields)
        avg_flens = store.stats["avg_field_lens"]
        weights = list(qcfg.field_weights or [1.0] * nf)
        cs = list(qcfg.field_c or [1.0] * nf)
        field_params = (weights, cs, avg_flens)
        sel_cols += ["ftf", "fln"]
        if spec.active_fields:
            # SingleFieldModel.setCollectionStatistics:107-125: collection
            # token count (and so avgdl) restricted to the active fields
            field_tokens = store.stats.get("field_tokens") or [
                round(a * N) for a in avg_flens
            ]
            T_eff = sum(field_tokens[i] for i in spec.active_fields)

    total_postings = int(qstats["nt"].sum())
    can_field_prune = (
        spec.field_bound is not None and "max_ftf_f" in blocks.columns
    )
    # exact per-block max-score metadata (generic Maxscore, stored at
    # compaction; index/maxscore.py): valid for any model, monotone or
    # not.  maxscore_index() already refuses stale snapshots; field-model
    # maxima additionally assume the index-time default field parameters
    # (weights = cs = 1.0), so a reweighted query falls back.
    ms_idx = None
    if qcfg.prune and qcfg.use_exact_maxscore and "max_score" in blocks.columns:
        ms_idx = store.maxscore_index(qcfg.model)
        if ms_idx is not None and spec.needs_fields and field_params:
            weights, cs, _ = field_params
            if any(w != 1.0 for w in weights) or any(c != 1.0 for c in cs):
                ms_idx = None
    # k >= bucket_span provably makes pruning a no-op: a bucket spans at
    # most bucket_span distinct docids, so pass 1 can never find k docs
    # in one bucket and theta stays undefined -> every bucket survives.
    # Skip the two-pass instead of paying it for nothing.
    # ... and a corpus of few docid buckets gives block-granular bounds
    # nothing to skip: pass 1 decodes ~1/n_buckets of the volume just to
    # find theta, so the two-pass is pure overhead under the floor
    n_buckets = -(-N // max(store.bucket_span, 1))
    prune_ok = (
        qcfg.prune
        and qcfg.k < store.bucket_span
        and (spec.prunable or can_field_prune or ms_idx is not None)
        and total_postings >= qcfg.prune_min_postings
        and n_buckets >= qcfg.prune_min_buckets
    )
    # Bounded-memory batch execution: a degenerate batch (many queries x
    # hot terms) can push the per-job (qid, docid) aggregation state
    # past executor memory — measured: 225 queries x 8M docs of a
    # saturated vocabulary OOMed a 14-GiB executor.  When the estimated
    # score-cell volume exceeds `batch_max_score_cells`, or the batch
    # has more queries than the packed key has qid codes
    # (_MAX_JOB_QUERIES), split the batch into query chunks run as
    # SEQUENTIAL jobs; each chunk's (tiny, <= k-per-qid) result is
    # materialized eagerly so chunk memory is released before the next
    # chunk starts.  Results are identical: queries never interact in
    # scoring.
    #
    # For prunable batches the split is sized by the POST-prune
    # surviving cell volume: the two-pass prune runs ONCE batch-wide
    # (its aggregations are metadata-only; pass 1 decodes one bucket
    # per query), the exact per-bucket posting counts of the SURVIVING
    # buckets then size the chunks, and each chunk reuses its slice of
    # the survivor set instead of re-pruning.  Pruning typically kills
    # most of the raw volume, so this collapses the df-estimate's many
    # chunks (each paying plan-compile + job-fixed costs serially —
    # measured ~11 s/chunk on the 900-query scaling batch) into one or
    # a few.
    cap = qcfg.batch_max_score_cells
    # chunking recurses through the PUBLIC entry with the original string
    # labels (each recursion builds its own dense code space), so chunk
    # cost series and survivor frames crossing that boundary are keyed by
    # label, not code
    per_qid = qstats.groupby("qid")["nt"].sum().rename(
        index=lambda c: qid_labels[c]
    )
    too_many = len(per_qid) > _MAX_JOB_QUERIES

    def _over_cap(cost_by_qid: "pd.Series") -> bool:
        return (cap is not None and cost_by_qid.sum() > cap
                and len(cost_by_qid) > 1)

    split = _survivors_pdf is None and (too_many or _over_cap(per_qid))

    def _chunked(cost_by_qid: "pd.Series", surv: Optional[pd.DataFrame]):
        chunks: List[List[str]] = [[]]
        acc = 0.0
        for qid, cost in cost_by_qid.sort_index().items():
            if chunks[-1] and (
                len(chunks[-1]) >= _MAX_JOB_QUERIES
                or (cap is not None and acc + float(cost) > cap)
            ):
                chunks.append([])
                acc = 0.0
            chunks[-1].append(qid)
            acc += float(cost)
        log.info(
            "search_terms: %d queries / %.0f score cells exceed "
            "batch_max_score_cells=%s or %d queries per job -> %d "
            "sequential chunks (%s)",
            len(cost_by_qid), cost_by_qid.sum(), cap, _MAX_JOB_QUERIES,
            len(chunks),
            "post-prune survivor volume" if surv is not None
            else "raw df estimate",
        )
        out = None
        for chunk in chunks:
            out_c = search_terms(
                spark, store,
                qterms[qterms["qid"].isin(chunk)],
                qcfg, with_meta,
                _survivors_pdf=(
                    surv[surv["qid"].isin(chunk)] if surv is not None
                    else None
                ),
            ).localCheckpoint(eager=True)
            out = out_c if out is None else out.unionByName(out_c)
        return out

    # every prune below leaves the per-qid pass-1 theta (a valid lower
    # bound on the kth-best score) on a `theta` column of `joined`,
    # which the decode kernel applies in-kernel
    if _survivors_pdf is not None:
        # chunk of a split batch: apply the precomputed survivors
        # (label-keyed across the recursion boundary -> this chunk's codes)
        surv_coded = _survivors_pdf.assign(
            qid=_survivors_pdf["qid"].map(qid_code_of).astype("int32")
        )
        surv_df = spark.createDataFrame(
            surv_coded[["qid", "bucket", "theta"]],
            schema="qid int, bucket long, theta double",
        )
        joined = joined.join(F.broadcast(surv_df), ["qid", "bucket"])
    elif split and prune_ok and (
        # pass 1 of a batch-wide prune decodes ONE bucket per query in a
        # single job; when even that upper bound (queries x bucket_span)
        # cannot fit the cap — think 10^5-query mega-batches — fall back
        # to raw-df chunking below, where each chunk prunes itself
        cap is None or len(per_qid) * store.bucket_span <= cap
    ):
        joined_pruned, surv_pdf = _prune_buckets(
            spark, joined, qcfg, N, avgdl, T_eff, eager=True,
            spec=spec, field_params=field_params, ms_idx=ms_idx,
            return_survivors=True, stats_out=stats_out,
        )
        per_qid_cells = surv_pdf.groupby("qid")["cells"].sum().rename(
            index=lambda c: qid_labels[c]
        )
        if too_many or _over_cap(per_qid_cells):
            return _chunked(
                per_qid_cells,
                surv_pdf.assign(
                    qid=[qid_labels[c] for c in surv_pdf["qid"]]
                ),
            )
        joined = joined_pruned
    elif split:
        # unprunable model (or a mega-batch whose pass 1 would itself
        # break the cap): raw-df-estimate split, chunks prune themselves
        return _chunked(per_qid, None)
    elif prune_ok:
        # eager (large batches) materializes the survivor set in one
        # extra action; lazy (small batches) keeps it a plan
        joined = _prune_buckets(
            spark, joined, qcfg, N, avgdl, T_eff,
            eager=qstats["qid"].nunique() >= qcfg.prune_eager_min_queries,
            spec=spec, field_params=field_params, ms_idx=ms_idx,
            stats_out=stats_out,
        )
    # Co-locate every term's blocks for the same (qid, bucket): the
    # bucket invariant then makes the decode kernel's partition-local
    # sums FINAL document scores, so no (qid, docid, score) posting rows
    # are exchanged; the kernel also applies the pass-1 theta bound and
    # a per-partition top-k cut, leaving <= k rows per (partition, qid)
    # for the global top-k window.  The repartition exchanges compressed
    # BLOCK rows (orders of magnitude smaller than posting rows) and
    # fixes the few-scan-partitions serialization a small postings
    # dataset would impose.  It also beats a per-posting JVM hash agg
    # at every measured batch size (SCALE.md), so it is the only plan.
    agg_cols = sel_cols + ["bucket"] + (
        ["theta"] if "theta" in joined.columns else []
    )
    # width the exchange to the work, not the box: a single interactive
    # query over a few dozen compressed blocks gains nothing from 32
    # near-empty decode tasks but pays their launch + Python-worker
    # round-trips.  sum(nt)/block_size lower-bounds the block count; ~8
    # blocks per decode task keeps the kernel's numpy batches fat while
    # capping task-count overhead.
    est_blocks = total_postings / max(store.block_size, 1) + len(terms)
    width = int(min(spark.sparkContext.defaultParallelism,
                    max(4, est_blocks // 8 + 1)))
    scored = joined.select(*agg_cols).repartition(
        width, "qid", "bucket"
    ).mapInPandas(
        _decode_agg_udf(qcfg.model, N, avgdl, T_eff, field_params,
                        k=qcfg.k),
        schema="qid int, docid long, score double",
    )
    # label join AFTER the top-k cut: <= k rows per query reach it, so the
    # string qids never touch the decode exchange or the top-k sort —
    # only this broadcast join against the tiny label map
    label_df = spark.createDataFrame(
        pd.DataFrame({
            "qid": np.arange(len(qid_labels), dtype=np.int32),
            "qid_label": qid_labels,
        }),
        schema="qid int, qid_label string",
    )
    out = (
        _topk(scored, qcfg.k)
        .join(F.broadcast(label_df), "qid")
        .select(
            F.col("qid_label").alias("qid"), "rank", "docid", "score"
        )
    )
    if with_meta:
        meta = store.meta(spark).select("docid", "docno", "sha256")
        out = out.join(meta, "docid").select(
            "qid", "rank", "docid", "docno", "sha256", "score"
        )
    return out


def _prune_buckets(spark, joined: DataFrame, qcfg: QueryConfig,
                   N: int, avgdl: float, T: int,
                   eager: bool = True, spec=None,
                   field_params=None, ms_idx=None,
                   return_survivors: bool = False,
                   stats_out: Optional[dict] = None):
    """Block-max WAND-style bucket pruning, bound-safe two-pass:

    pass 1  exact-score the single most-promising bucket per query (by
            upper bound) -> a valid lower bound theta on the kth-best
            score;
    pass 2  keep only buckets whose upper bound >= theta.

    A pruned bucket's every doc satisfies score <= UB < theta <= kth best,
    so the final top-k is identical to the exhaustive plan (verified by
    tests/test_search.py::test_pruned_equals_unpruned).

    eager=True (large batches) persists the bucket-bound frame and
    materializes the survivor set driver-side — one extra Spark action,
    amortized over hundreds of queries.  eager=False (small batches /
    single queries) keeps the whole two-pass plan lazy so the caller's
    action is the ONLY job: the bucket-bound aggregation is recomputed in
    both passes, but it is a metadata-only agg (no posting decode) and
    costs far less than a second job's fixed overhead.
    return_survivors=True (eager only) also returns the materialized
    survivor frame (qid, bucket, theta, cells).

    Bound sources, tightest available first:
      * ms_idx set — the stored EXACT per-block unit-score maximum
        (index/maxscore.py) scaled by the model's multiplicative qtf
        factor, as a pure Column expression (valid for non-monotone
        models; null metadata -> +inf, never prunes);
      * field models with a `field_bound` (BM25F) — analytic bound from
        the per-field (max_ftf_f, min_fln_f) metadata, any weights;
      * monotone models — kernel(max_tf, min_dl) block bound."""
    spec = spec or get_model(qcfg.model)
    kernel = spec.kernel
    field_pruned = ms_idx is None and spec.field_bound is not None

    if ms_idx is not None:
        block_ubs = joined.withColumn(
            "block_ub",
            F.coalesce(
                F.element_at(F.col("max_score"), F.lit(int(ms_idx)))
                * spec.qtf_scale(F.col("qtf")),
                F.lit(float("inf")),
            ),
        )
    elif field_pruned:
        fbound = spec.field_bound
        weights, cs, avg_flens = field_params

        @F.pandas_udf(DoubleType())
        def block_ub(max_ftf_f: pd.Series, min_fln_f: pd.Series,
                     qtf: pd.Series, nt: pd.Series) -> pd.Series:
            mf = np.stack(list(max_ftf_f))
            ml = np.stack(list(min_fln_f))
            ub = fbound(mf, ml, qtf.to_numpy(np.float64),
                        nt.to_numpy(np.float64), N, weights, cs, avg_flens)
            return pd.Series(np.asarray(ub, dtype=np.float64))

        block_ubs = joined.withColumn(
            "block_ub",
            block_ub(F.col("max_ftf_f"), F.col("min_fln_f"),
                     F.col("qtf"), F.col("nt")),
        )
    else:
        @F.pandas_udf(DoubleType())
        def block_ub(max_tf: pd.Series, min_dl: pd.Series, qtf: pd.Series,
                     nt: pd.Series, tfc: pd.Series) -> pd.Series:
            ub = kernel(
                max_tf.to_numpy(np.float64), min_dl.to_numpy(np.float64),
                qtf.to_numpy(np.float64), nt.to_numpy(np.float64),
                tfc.to_numpy(np.float64), N, avgdl, T,
            )
            return pd.Series(np.maximum(ub, 0.0))

        block_ubs = joined.withColumn(
            "block_ub",
            block_ub(F.col("max_tf"), F.col("min_dl"), F.col("qtf"),
                     F.col("nt"), F.col("tfc")),
        )
    # `n` (exact postings per block) rides along so the over-cap caller
    # can size its chunks by SURVIVING decode volume
    bucket_ub = (
        block_ubs.groupBy("qid", "bucket", "term")
        .agg(F.max("block_ub").alias("t_ub"), F.sum("n").alias("t_cells"))
        .groupBy("qid", "bucket")
        .agg(F.sum("t_ub").alias("bucket_ub"),
             F.sum("t_cells").alias("cells"))
    )
    if eager:
        bucket_ub.persist()
    try:
        # pass 1: best bucket per qid
        w = Window.partitionBy("qid").orderBy(
            F.col("bucket_ub").desc(), F.col("bucket")
        )
        best = bucket_ub.withColumn(
            "r", F.row_number().over(w)
        ).filter("r = 1").select("qid", "bucket")
        pass1 = joined.join(F.broadcast(best), ["qid", "bucket"])
        # the compacted postings dataset is few parquet files, so without
        # a repartition this decode would run on a handful of tasks and
        # serialize the whole two-pass prune (measured: ~2 min of the
        # 900-query batch at 32 cores before this spread)
        sel1_cols = ["qid", "qtf", "nt", "tfc", "block"] + (
            ["ftf", "fln"] if spec.needs_fields else []
        )
        sel1 = pass1.select(*sel1_cols).repartition(
            spark.sparkContext.defaultParallelism
        )
        decoded1 = sel1.mapInPandas(
            _decode_score_udf(qcfg.model, N, avgdl, T,
                              field_params if spec.needs_fields else None),
            schema="qid int, docid long, score double",
        )
        kth = (
            decoded1.groupBy("qid", "docid")
            .agg(F.sum("score").alias("score"))
            .groupBy("qid")
            .agg(
                F.sort_array(F.collect_list("score"), asc=False).alias("scores")
            )
            .select(
                "qid",
                F.when(
                    F.size("scores") >= qcfg.k, F.col("scores")[qcfg.k - 1]
                ).otherwise(F.lit(float("-inf"))).alias("theta"),
            )
        )
        survivors = (
            bucket_ub.join(F.broadcast(kth), "qid", "left")
            .filter(
                F.col("theta").isNull()
                | (F.col("bucket_ub") >= F.col("theta"))
            )
            # theta rides the survivor rows into the pruning join (a
            # column, NOT a driver-side dict), so the decode kernel
            # gets it in BOTH eager and lazy modes with
            # no extra Spark action; -inf (fewer than k pass-1 docs)
            # means no usable bound -> null
            .select(
                "qid", "bucket",
                F.when(
                    F.col("theta") != F.lit(float("-inf")), F.col("theta")
                ).alias("theta"),
                "cells",
            )
        )
        surv_pdf = None
        if eager:
            # materialize the surviving (qid, bucket) pairs NOW: they
            # would be broadcast (= collected to the driver) anyway, and
            # doing it eagerly lets the cached bucket_ub be released
            # deterministically instead of leaking across queries in a
            # long-lived session.
            surv_pdf = survivors.toPandas()
            survivors = spark.createDataFrame(
                surv_pdf[["qid", "bucket", "theta"]],
                schema="qid int, bucket long, theta double",
            )
        else:
            survivors = survivors.drop("cells")
        if stats_out is not None:
            # diagnostic counters (pruning_bench.py): how much of the
            # candidate (qid, bucket) space pass 2 actually dropped —
            # extra count jobs, only paid when a caller asks
            stats_out["candidate_buckets"] = int(bucket_ub.count())
            stats_out["surviving_buckets"] = (
                len(surv_pdf) if surv_pdf is not None
                else int(survivors.count())
            )
            stats_out["pruned_fraction"] = round(
                1.0 - stats_out["surviving_buckets"]
                / max(stats_out["candidate_buckets"], 1), 4
            )
    finally:
        if eager:
            bucket_ub.unpersist()
    pruned = joined.join(F.broadcast(survivors), ["qid", "bucket"])
    if return_survivors:
        return pruned, surv_pdf
    return pruned
