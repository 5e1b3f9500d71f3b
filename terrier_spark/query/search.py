"""Batch top-k retrieval over the compressed posting store, generic over
weighting models (default BM25).

The reference's DAAT heap walk (org/terrier/matching/daat/Full.java:78-186)
becomes one vectorized kernel, `_search_kernel`, over block rows sorted
by (qid, bucket):

    block rows of the query terms ⋈ per-(qid,term) stats   [lexicon
                                 lookup, PostingListManager.java:213;
                                 low-idf drop :217-219]
      -> in runs of consecutive (qid, bucket) groups (~2^16 postings):
           drop the groups already below their qid's threshold, then
           ONE VByte decode + ONE numpy model-kernel call for the run;
           then per group: skip it when its block-max bound < the
           qid's running k-th best score             [WAND.java:190-289,
           Full.java:137-148 heap threshold, at block granularity]
           else per-doc score combine, merged into the qid's running
           top-k; when the qid's last group has passed, that top-k is
           emitted as the query's result, ranked score desc, docid asc,
           and dropped                      [Full.java:137-148; pinned —
         reference ties are unstable, daat/CandidateResult.java:52-62]

Two paths feed that one kernel.  A search runs on the driver when Σ nt
over its (qid, term) rows, the postings it decodes at most, fits in one
kernel run (_RUN_POSTINGS) and the store's posting files fit the driver
budget (IndexStore.DRIVER_POSTINGS_MAX_BYTES); otherwise on Spark:

  * driver — its block rows are taken from the store's driver-resident
    posting directory (IndexStore.driver_blocks: the live block rows,
    read once with pyarrow and sorted by term, with a term -> row-range
    directory, rebuilt when the index on disk changes), joined and
    sorted in pandas, and the kernel runs in process, as the reference
    runs one query's DAAT walk on one thread.  The result is a
    LocalResult: a DataFrame that holds the rows as a pyarrow Table, so
    the caller's toPandas()/toArrow()/collect() run no Spark job and
    send no py4j command;
  * Spark — one declarative plan Catalyst owns: term-pruned parquet scan
    (IndexStore.postings_for) -> broadcast join of the stats ->
    repartition(qid), sorted by (qid, bucket), so one query's blocks
    meet in one partition -> mapInPandas(kernel).  All queries of a
    batch run as ONE Spark job (the fork's 900-query benchmark loop
    becomes a single plan over a qid dimension).
"""

from __future__ import annotations

import logging
import weakref
from functools import cached_property
from typing import Iterator, List, Optional, Sequence, Tuple

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Row, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.sql.types import StructType

from terrier_spark.config import QueryConfig
from terrier_spark.index.builder import decode_blocks
from terrier_spark.index.store import IndexStore
from terrier_spark.query.models import get_model
from terrier_spark.text.pipeline import make_pipeline

log = logging.getLogger("terrier_spark.search")

# Slack subtracted from theta in the block skip: a group's bound and a
# doc's score are float64 sums of mathematically equal-or-ordered terms
# (e.g. qtf_scale(qtf) * stored unit max vs the kernel at qtf), rounded
# differently, so a doc scoring exactly at its bound can land 1 ULP
# above the computed bound.  Skipping only below theta - eps keeps the
# skip safe (decoding more is always safe — the top-k cut is exact).
_THETA_EPS = 1e-9

# Postings the kernel decodes and scores per call (one "run" of
# (qid, bucket) groups).  It bounds the run's temporaries: on compacted
# 1,024-posting blocks a whole-batch concatenated fill ran 2.4x slower
# (index/maxscore.py).  On the perfbench batch, budgets of 2^14, 2^16
# and 2^30 postings timed the same.
_RUN_POSTINGS = 1 << 16

# the rows of a search result, without and with its documents' metadata
_RESULT_SCHEMA = pa.schema([("qid", pa.string()), ("rank", pa.int32()),
                            ("docid", pa.int64()), ("score", pa.float64())])
_META_RESULT_SCHEMA = pa.schema([
    ("qid", pa.string()), ("rank", pa.int32()), ("docid", pa.int64()),
    ("docno", pa.string()), ("sha256", pa.string()), ("score", pa.float64())])

# session settings the query path assumes (session.get_spark sets them);
# a bare SparkSession.builder session measures ~2-3x slower per query
# purely from these, so flag the mismatch once per SparkContext
_TUNING_CONFS = (
    ("spark.sql.execution.arrow.pyspark.enabled", "true"),
    ("spark.sql.adaptive.enabled", "true"),
)
# the SparkContext objects already checked, held weakly: a stopped
# context's entry goes with it, so a new context is checked afresh even
# if it reuses the old one's id().  (Reading the applicationId instead
# costs two py4j calls per search.)
_tuning_checked: weakref.WeakSet = weakref.WeakSet()


def _check_session_tuning(spark: SparkSession) -> List[str]:
    """Return the tuning confs this session is missing, warning once per
    SparkContext.  Read-only: never mutates the user's session."""
    sc = spark.sparkContext
    if sc in _tuning_checked:
        return []
    _tuning_checked.add(sc)
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


class LocalResult(ClassicDataFrame):
    """A result computed on the driver: a DataFrame that already holds its
    rows as a pyarrow Table.  toPandas(), toArrow(), collect(), count()
    and schema answer from the table in process, with no Spark job and
    no py4j call.  Every other method runs on a one-partition Spark frame
    loaded from the table on first use (`_jdf`), so a caller sees the
    rows and types of any other DataFrame."""

    def __new__(cls, spark: SparkSession, table: pa.Table):
        return object.__new__(cls)

    def __init__(self, spark: SparkSession, table: pa.Table):
        # the attributes ClassicDataFrame.__init__ sets, but `_jdf`
        self._session = spark
        self._sc = spark.sparkContext
        self.is_cached = False
        self._support_repr_html = False
        self._table = table

    @classmethod
    def from_frames(cls, spark: SparkSession, frames: List[pd.DataFrame],
                    schema: pa.Schema = _RESULT_SCHEMA) -> "LocalResult":
        """The rows of pandas `frames`, concatenated, as `schema`."""
        table = (pa.Table.from_pandas(pd.concat(frames)[schema.names], schema,
                                      preserve_index=False)
                 if frames else schema.empty_table())
        return cls(spark, table)

    @cached_property
    def _jdf(self):
        # one partition: an action over these few rows runs one task, not
        # one per core
        return (self._session.createDataFrame(self._table, self.schema)
                .coalesce(1)._jdf)

    @cached_property
    def schema(self) -> StructType:
        return from_arrow_schema(self._table.schema)

    def toArrow(self) -> pa.Table:
        return self._table

    def toPandas(self) -> pd.DataFrame:
        return self._table.to_pandas()

    def collect(self) -> List[Row]:
        row = Row(*self._table.column_names)
        return [row(*values) for values in
                zip(*(c.to_pylist() for c in self._table.columns))]

    def count(self) -> int:
        return self._table.num_rows


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
    touched == distinct query terms, always tiny) and apply the low-idf
    drop."""
    stats = store.stats
    N = stats["num_docs"]
    empty = qterms.iloc[0:0].assign(nt=0, tfc=0)
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
    if spec.active_fields and "field_tf" in merged.columns:
        # SingleFieldModel.setEntryStatistics:128-142: the collection
        # term frequency is restricted to the active fields (document
        # frequency nt stays global; the low-idf drop above already
        # used the global tfc, as PostingListManager does)
        merged["tfc"] = [
            int(sum(row[i] for i in spec.active_fields))
            for row in merged["field_tf"]
        ]
    return merged


def _block_bounds(spec, qcfg: QueryConfig, store: IndexStore,
                  field_params, N: int, avgdl: float, T: int):
    """The block-max bound source of a search, tightest available first:

      * the stored EXACT per-block unit-score maximum (index/maxscore.py)
        scaled by the model's multiplicative qtf factor — valid for
        non-monotone models; null metadata reads as NaN, i.e. no bound;
      * field models with a `field_bound` (BM25F) — analytic bound from
        the per-field (max_ftf_f, min_fln_f) metadata, any weights;
      * monotone models — the model kernel at (max_tf, min_dl), clamped
        at 0 (valid when the idf factor goes negative, where every
        actual score is negative).

    -> (the kernel-frame columns the bound reads, the 1-based position
    in `max_score` that its "ms" column reads or None, fn(pdf) ->
    per-block upper bounds), or ([], None, None) when pruning is off or
    nothing bounds the model."""
    if not qcfg.prune:
        return [], None, None
    # maxscore_index() already refuses stale snapshots; field-model
    # maxima additionally assume the index-time default field parameters
    # (weights = cs = 1.0), so a reweighted query falls back
    ms_idx = store.maxscore_index(qcfg.model)
    if ms_idx is not None and field_params:
        weights, cs, _ = field_params
        if any(w != 1.0 for w in weights) or any(c != 1.0 for c in cs):
            ms_idx = None
    if ms_idx is not None:
        def exact(pdf: pd.DataFrame) -> np.ndarray:
            qtf = pdf["qtf"].to_numpy(np.float64)
            return pdf["ms"].to_numpy(np.float64) * spec.qtf_scale(qtf)

        return ["ms"], int(ms_idx), exact
    if spec.field_bound is not None:
        weights, cs, avg_flens = field_params

        def field(pdf: pd.DataFrame) -> np.ndarray:
            return spec.field_bound(
                np.stack(pdf["max_ftf_f"].to_list()),
                np.stack(pdf["min_fln_f"].to_list()),
                pdf["qtf"].to_numpy(np.float64),
                pdf["nt"].to_numpy(np.float64), N, weights, cs, avg_flens,
            )

        return ["max_ftf_f", "min_fln_f"], None, field
    if spec.prunable:
        def monotone(pdf: pd.DataFrame) -> np.ndarray:
            ub = spec.kernel(
                *(pdf[c].to_numpy(np.float64)
                  for c in ("max_tf", "min_dl", "qtf", "nt", "tfc")),
                N, avgdl, T,
            )
            return np.maximum(ub, 0.0)

        return ["max_tf", "min_dl"], None, monotone
    return [], None, None


class _TopK:
    """One qid's running top-k (score desc, docid asc).  Candidates
    collect until there are 2k, then are cut back to the k best, so each
    costs O(1) amortized.  `theta` is the k-th best score seen so far,
    -inf until k docs have been seen; a doc below it can never make the
    query's top k."""

    def __init__(self, k: int):
        self.k = k
        self.ids: list = []
        self.scores: list = []
        self.n = 0
        self.theta = -np.inf

    def add(self, ids: np.ndarray, scores: np.ndarray) -> None:
        keep = scores >= self.theta
        self.ids.append(ids[keep])
        self.scores.append(scores[keep])
        self.n += self.ids[-1].size
        if self.n >= (self.k if self.theta == -np.inf else 2 * self.k):
            self.best()

    def best(self) -> Tuple[np.ndarray, np.ndarray]:
        """Cut the candidates to the k best and return them, unsorted."""
        ids = np.concatenate(self.ids)
        scores = np.concatenate(self.scores)
        extra = ids.size - self.k
        if extra > 0:
            # O(n) selection; ties at the k-th score keep the lowest docids
            kth = np.partition(scores, extra)[extra]
            keep = scores > kth
            tied = np.flatnonzero(scores == kth)
            need = self.k - np.count_nonzero(keep)
            keep[tied[np.argsort(ids[tied])[:need]]] = True
            ids, scores = ids[keep], scores[keep]
        self.ids, self.scores, self.n = [ids], [scores], ids.size
        if ids.size == self.k:
            self.theta = scores.min()
        return ids, scores


def _group_starts(pdf: pd.DataFrame) -> np.ndarray:
    """Row index where each (qid, bucket) run of a sorted frame starts."""
    qids = pdf["qid"].to_numpy()
    buckets = pdf["bucket"].to_numpy()
    new = np.ones(len(pdf), dtype=bool)
    new[1:] = (qids[1:] != qids[:-1]) | (buckets[1:] != buckets[:-1])
    return np.flatnonzero(new)


def _search_kernel(spec, N: int, avgdl: float, T: int, field_params,
                   k: int, bounds, counters, qid_labels):
    """The search kernel: frames of block rows sorted by (qid, bucket)
    -> each of its qids' final top k as (qid, rank, docid, score) rows,
    rank 0-based by score desc, docid asc.  A query's top k is emitted,
    and its pool dropped, with the first output after its last group
    has passed, so a task holds at most a frame's worth of pools,
    whatever its number of queries; ValueError when the qids of the
    input decrease.  field_params = (weights, cs, avg_flens) for field
    models; `bounds` is the third value of _block_bounds (None: never
    skip); `counters` = (groups seen, groups decoded) accumulators or
    None; `qid_labels[code]` is the label of int qid code `code`.

    Its input holds every block of each of its queries: a Spark
    partition of blocks hash-partitioned by qid, or on the driver path
    one frame of all the search's blocks.  The bucket invariant (bucket labels
    partition docids identically across every term) puts all of a doc's
    postings for one query in one (qid, bucket) group, so a group's
    per-doc sums are FINAL document scores.  A group's upper bound is,
    per term, the largest block bound in the group, summed over the
    terms; the kernel skips a group whose bound is below its qid's
    running k-th best score, as the reference's WAND/Maxscore skip
    postings under the heap threshold.  A skipped doc scores below k
    docs of its query, so the top-k cut would have dropped it anyway:
    results equal the exhaustive plan's.

    The work is batched in RUNS of consecutive groups of about
    `_RUN_POSTINGS` postings: a run's groups already skippable against
    the thresholds at its start are dropped (a threshold only rises),
    the rest are decoded in one decode_blocks call and scored
    in one model-kernel call.  Then the groups are walked in order, each
    re-checked against its qid's live threshold — a group skipped there
    is not merged — and merged into the qid's running top k."""
    kernel = spec.kernel
    needs_fields = spec.needs_fields
    budget = max(_RUN_POSTINGS, 1)
    nf = 0
    if needs_fields:
        weights, cs, avg_flens = field_params
        nf = len(avg_flens)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pools: dict = {}
        seen = decoded = 0

        def pool_of(q: int) -> _TopK:
            pool = pools.get(q)
            if pool is None:
                pool = pools[q] = _TopK(k)
            return pool

        def score(frame: pd.DataFrame, starts: np.ndarray) -> None:
            nonlocal seen, decoded
            if starts.size == 0:
                return
            ends = np.append(starts[1:], len(frame))
            group_ub = None
            if bounds is not None:
                ub = np.asarray(bounds(frame), dtype=np.float64)
                ub[np.isnan(ub)] = np.inf  # a NaN bound never skips
                gid = np.repeat(np.arange(starts.size), ends - starts)
                group_ub = (
                    pd.Series(ub).groupby([gid, frame["term"].to_numpy()])
                    .max().groupby(level=0).sum().to_numpy()
                )
            qids = frame["qid"].to_numpy()
            qtf, nt, tfc = (frame[c].to_numpy() for c in ("qtf", "nt", "tfc"))
            payloads = {c: frame[c].to_numpy() for c in
                        (("block", "ftf", "fln") if nf else ("block",))}

            def decode_and_score(rows: np.ndarray):
                """One decode and one model-kernel pass over block rows
                -> (docids, scores, postings per row)."""
                ids, tfs, dls, n, _, ftf, fln = decode_blocks(
                    {c: v[rows] for c, v in payloads.items()}, nf=nf)
                if not needs_fields:
                    return ids, kernel(
                        tfs, dls, np.repeat(qtf[rows], n),
                        np.repeat(nt[rows], n), np.repeat(tfc[rows], n),
                        N, avgdl, T,
                    ), n
                # field kernels take one term's nt and F: one call per row
                # over its slice of the run's decoded payloads
                at = np.cumsum(n) - n
                return ids, np.concatenate([np.empty(0), *(
                    kernel(ftf[a:a + m], fln[a:a + m], qtf[r], nt[r], tfc[r],
                           N, weights, cs, avg_flens, T)
                    for r, a, m in zip(rows, at, n)
                )]), n

            # a run starts at the first group that begins past the next
            # multiple of the budget; a group is never split
            sizes = np.add.reduceat(frame["n"].to_numpy(np.int64), starts)
            window = (np.cumsum(sizes) - sizes) // budget
            run_starts = np.flatnonzero(np.diff(window, prepend=-1))
            run_ends = np.append(run_starts[1:], starts.size)
            for g0, g1 in zip(run_starts, run_ends):
                row0 = starts[g0]
                live = np.ones(g1 - g0, dtype=bool)
                if group_ub is not None:
                    run_q, inv = np.unique(qids[starts[g0:g1]],
                                           return_inverse=True)
                    theta = np.array([pool_of(int(q)).theta for q in run_q])
                    live = ~(group_ub[g0:g1] < theta[inv] - _THETA_EPS)
                row_live = np.repeat(live, ends[g0:g1] - starts[g0:g1])
                ids, scores, n = decode_and_score(
                    row0 + np.flatnonzero(row_live))
                # Undefined (NaN) contributions are DROPPED here, at the
                # per-posting source.  BB2-family formulas are NaN outside
                # their domain (stirlingPower(F, F - TF) with normalised
                # TF > F on short docs — reference BB2.java:90 behaves the
                # same); the reference then ranks NaN docs FIRST
                # (Double.compare treats NaN as greatest).  We diverge
                # deliberately: propagating NaN would rank numerically
                # degenerate docs at the top, and the OracleIndex applies
                # the same drop, so engine and oracle agree on every
                # model.  Block-max bounds stay valid: dropping a
                # contribution only lowers a doc's score, and a NaN block
                # bound never skips.
                keep = ~np.isnan(scores)
                ids, scores = ids[keep], scores[keep]
                # postings of the decoded rows before each row, after the drop
                row_at = np.concatenate(([0], np.cumsum(keep)))[
                    np.concatenate(([0], np.cumsum(n)))]
                rows_before = np.concatenate(([0], np.cumsum(row_live)))
                for g in range(g0, g1):
                    s, e = starts[g], ends[g]
                    pool = pool_of(int(qids[s]))
                    seen += 1
                    theta = pool.theta - _THETA_EPS
                    if group_ub is not None and group_ub[g] < theta:
                        continue
                    decoded += 1
                    a = row_at[rows_before[s - row0]]
                    b = row_at[rows_before[e - row0]]
                    g_ids, g_scores = ids[a:b], scores[a:b]
                    if e - s > 1:
                        g_ids, inv = np.unique(g_ids, return_inverse=True)
                        g_scores = np.bincount(inv, weights=g_scores)
                    pool.add(g_ids, g_scores)

        def finish(open_q=None) -> Optional[pd.DataFrame]:
            """Rank and drop every pool but open_q's -> their rows."""
            done = [q for q in pools if q != open_q]
            if not done:
                return None
            best = []
            for q in done:
                ids, scores = pools.pop(q).best()
                order = np.lexsort((ids, -scores))
                best.append((ids[order], scores[order]))
            sizes = [ids.size for ids, _ in best]
            return pd.DataFrame({
                "qid": np.repeat(
                    np.array([qid_labels[q] for q in done], dtype=object),
                    sizes),
                "rank": np.concatenate(
                    [np.arange(n, dtype=np.int32) for n in sizes]),
                "docid": np.concatenate([ids for ids, _ in best]),
                "score": np.concatenate([s for _, s in best]),
            })

        # a group can straddle Arrow batches: hold each batch's last
        # group back until the next batch shows whether it continues.
        # qids never decrease, so once a batch is scored every pool but
        # the held-back group's is final: emit those and drop them
        pending = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            qids = pdf["qid"].to_numpy()
            if (np.diff(qids) < 0).any() or (
                    pending is not None and qids[0] < pending["qid"].iat[0]):
                raise ValueError("kernel input is not sorted by qid")
            if pending is not None:
                pdf = pd.concat([pending, pdf], ignore_index=True)
            starts = _group_starts(pdf)
            pending = pdf.iloc[starts[-1]:]
            score(pdf.iloc[: starts[-1]], starts[:-1])
            out = finish(pending["qid"].iat[0])
            if out is not None:
                yield out
        if pending is not None:
            score(pending, _group_starts(pending))
        if counters is not None:
            counters[0].add(seen)
            counters[1].add(decoded)
        out = finish()
        if out is not None:
            yield out

    return run


def _topk(df: DataFrame, k: int) -> DataFrame:
    """The k best rows per qid of a re-ranked (qid, docid, score) frame,
    with a 0-based rank: score desc, docid asc."""
    window = Window.partitionBy("qid").orderBy(
        F.col("score").desc(), F.col("docid").asc()
    )
    return (
        df.withColumn("rank", F.row_number().over(window) - F.lit(1))
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
    stats_out: Optional[dict] = None,
) -> DataFrame:
    """Like search(), but takes pre-pipelined weighted terms directly:
    a pandas frame (qid, term, qtf) with float qtf allowed — the entry
    point query expansion re-enters with Bo1 weights
    (Manager.runMatching keyFrequency semantics).

    `stats_out`, when given, receives the path the search ran on
    (`path`: "driver" or "spark") and the block-max skip counters:
    `candidate_buckets` ((qid, bucket) groups the kernel saw),
    `surviving_buckets` (the groups it decoded) and `pruned_fraction`.
    On the Spark path, filling it runs the search once more, as a
    count() job; the driver path reads its own kernel run's counts."""
    qcfg = qcfg or QueryConfig()
    _check_session_tuning(spark)
    store.refresh()
    stats = store.stats
    N, avgdl, T = stats["num_docs"], stats["avg_doclen"], stats["num_tokens"]

    qstats = _qterm_stats(spark, store, qterms, qcfg)
    if qstats.empty:
        return LocalResult.from_frames(
            spark, [], _META_RESULT_SCHEMA if with_meta else _RESULT_SCHEMA)

    # Integer qid codes through the whole decode exchange: the warm
    # 900-query batch is DRAM-bandwidth-bound in decode+agg (event-log
    # profile, BASELINE.md), and a string qid there costs object-dtype
    # columns in every Arrow batch plus string hashing in the exchange.
    # Map each label to a dense int32 at plan-build time; the kernel
    # writes the label back onto its <= k result rows per query.
    qid_labels = sorted(set(qstats["qid"]))
    qid_code_of = {q: i for i, q in enumerate(qid_labels)}
    qstats = qstats.assign(
        qtf=qstats["qtf"].astype(float),
        qid=qstats["qid"].map(qid_code_of).astype("int32"),
    )[["qid", "term", "qtf", "nt", "tfc"]]

    spec = get_model(qcfg.model)
    field_params = None
    T_eff = T
    sel_cols = ["qid", "qtf", "nt", "tfc", "block", "n"]
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

    bound_cols, ms_idx, bounds = _block_bounds(spec, qcfg, store,
                                               field_params, N, avgdl, T_eff)
    if bounds is not None:
        # the group bound takes each term's largest block bound
        bound_cols = ["term", *bound_cols]
    counters = None
    if stats_out is not None:
        sc = spark.sparkContext
        counters = (sc.accumulator(0), sc.accumulator(0))
    kernel = _search_kernel(spec, N, avgdl, T_eff, field_params, qcfg.k,
                            bounds, counters, qid_labels)
    schema = "qid string, rank int, docid long, score double"
    # Σ nt over the (qid, term) rows counts every posting the kernel can
    # decode.  When they fit in one kernel run, a Spark job costs more
    # than the search: run the same kernel on the driver, unless the
    # store's postings are too large to hold there (frame None).
    frame = None
    if qstats["nt"].sum() <= _RUN_POSTINGS:
        frame = _driver_blocks(store, qstats, [*sel_cols, "bucket",
                                               *bound_cols], ms_idx)
    on_driver = frame is not None
    if on_driver:
        out = LocalResult.from_frames(spark, list(kernel([frame])))
    else:
        blocks = store.postings_for(spark, qstats["term"])
        qs_df = spark.createDataFrame(qstats)
        joined = blocks.join(F.broadcast(qs_df), "term")
        bound_sel = [
            F.element_at(F.col("max_score"), F.lit(ms_idx)).alias("ms")
            if c == "ms" else c for c in bound_cols
        ]
        # Hash every block of a query to one partition, sorted by (qid,
        # bucket): the kernel then sees every group as one contiguous
        # run, scores it to FINAL document scores or skips it against
        # the query's one running k-th best score, and its top k is the
        # query's result — no second exchange merges per-partition
        # heaps.  The exchange moves compressed BLOCK rows (orders of
        # magnitude smaller than posting rows).  A query's decode runs in
        # one task, as the reference's DAAT runs one query on one
        # thread; a batch spreads its queries over the cores.
        width = min(spark.sparkContext.defaultParallelism, len(qid_labels))
        out = (
            joined.select(*sel_cols, "bucket", *bound_sel)
            .repartition(width, "qid")
            .sortWithinPartitions("qid", "bucket")
            .mapInPandas(kernel, schema=schema)
        )
    if stats_out is not None:
        if not on_driver:
            out.count()
        stats_out["path"] = "driver" if on_driver else "spark"
        _record_skips(stats_out, counters[0].value, counters[1].value)
    if with_meta:
        meta = store.meta(spark).select("docid", "docno", "sha256")
        out = out.join(meta, "docid").select(
            "qid", "rank", "docid", "docno", "sha256", "score"
        )
    return out


def _driver_blocks(store: IndexStore, qstats: pd.DataFrame, cols,
                   ms_idx) -> Optional[pd.DataFrame]:
    """The Spark plan's kernel input, read on the driver: the block rows
    of the query terms from the store's driver-resident posting
    directory (IndexStore.driver_blocks) joined with `qstats` and stably
    sorted by (qid, bucket) -> the `cols` columns plus "term", "ms" being
    element `ms_idx` (1-based) of max_score: NaN for a null list, i.e. no
    bound, as Spark's element_at reads it.  None when the store's
    postings are too large to hold on the driver."""
    read = ["term", *("max_score" if c == "ms" else c
                      for c in cols if c not in qstats.columns)]
    table = store.driver_blocks(qstats["term"], read)
    if table is None:
        return None
    if ms_idx is not None:
        table = table.set_column(
            read.index("max_score"), "ms",
            pc.list_element(table["max_score"], ms_idx - 1))
    return table.to_pandas().merge(qstats, on="term").sort_values(
        ["qid", "bucket"], kind="stable", ignore_index=True)


def _record_skips(stats_out: dict, seen: int, decoded: int) -> None:
    stats_out["candidate_buckets"] = int(seen)
    stats_out["surviving_buckets"] = int(decoded)
    stats_out["pruned_fraction"] = round(1.0 - decoded / max(seen, 1), 4)
