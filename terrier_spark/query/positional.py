"""Index-backed phrase and proximity matching over positional postings.

The reference's PhraseIterablePosting (structures/postings/
PhraseIterablePosting.java:44) walks aligned posting iterators checking
consecutive positions; ProximityIterablePosting (:45) checks a window.

Plan shape (scale-reworked in round 2): intersect BEFORE decoding
positions —

  1. bucket-level AND on block METADATA only (a matching doc needs every
     term, and bucket labels partition docids identically across terms),
     pruning whole blocks without reading their bytes;
  2. decode surviving blocks to ONE ROW PER POSTING carrying its
     position list as an array column (never one row per position — a
     hot term's billions of positions would otherwise be shuffled before
     any intersection);
  3. docid-level AND on those posting rows, then evaluate the phrase /
     window predicate with JVM array expressions (array_intersect /
     exists) on the few docs containing all terms.

Positions index the KEPT pipeline term stream (BlockIndexer semantics).
"""

from __future__ import annotations

from typing import Optional, Sequence, Tuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from terrier_spark.index.builder import explode_blocks
from terrier_spark.index.store import IndexStore


def posting_positions(spark: SparkSession, store: IndexStore,
                      terms: Sequence[str],
                      require_all_terms: bool = True) -> DataFrame:
    """-> (term, docid, dl, positions array<long>) — one row per POSTING
    of the given terms, positions packed as an array.  With
    require_all_terms (the AND-semantics fast path), blocks are first
    pruned to buckets containing every term (metadata only), and posting
    rows to docids containing every term."""
    if not store.manifest.get("positions"):
        raise ValueError(
            "index was built without positions (IndexConfig.positions=True "
            "required for phrase/proximity)"
        )
    tset = sorted(set(terms))
    n = len(tset)
    blocks = store.postings_for(spark, tset)
    if require_all_terms and n > 1:
        ok_buckets = (
            blocks.groupBy("bucket")
            .agg(F.count_distinct("term").alias("__nt"))
            .filter(F.col("__nt") == n)
            .select("bucket")
        )
        blocks = blocks.join(ok_buckets, "bucket", "left_semi")

    rows = explode_blocks(blocks, ["term"], ["docid", "dl", "positions"])
    if require_all_terms and n > 1:
        cand = (
            rows.groupBy("docid")
            .agg(F.count_distinct("term").alias("__nt"))
            .filter(F.col("__nt") == n)
            .select("docid")
        )
        rows = rows.join(cand, "docid", "left_semi")
    return rows


def phrase_docs(spark: SparkSession, store: IndexStore,
                phrase_terms: Sequence[str]) -> DataFrame:
    """Docids containing the exact phrase (consecutive kept-stream
    positions) -> (docid).

    Candidate phrase-start positions survive term by term:
    S_0 = positions(t_0);  S_i = S_{i-1} ∩ (positions(t_i) − i) — a pure
    array_intersect on the packed arrays, JVM-side, per candidate doc."""
    rows = posting_positions(spark, store, phrase_terms)
    cur = rows.filter(F.col("term") == phrase_terms[0]).select(
        "docid", F.col("positions").alias("starts")
    )
    for i, term in enumerate(phrase_terms[1:], start=1):
        nxt = rows.filter(F.col("term") == term).select(
            "docid", F.col("positions").alias("p")
        )
        cur = (
            cur.join(nxt, "docid")
            .select(
                "docid",
                F.array_intersect(
                    "starts",
                    F.transform("p", lambda x: x - F.lit(i)),
                ).alias("starts"),
            )
            .filter(F.size("starts") > 0)
        )
    return cur.select("docid").distinct()


def batch_hits(spark: SparkSession, store: IndexStore,
               jobs: Sequence[Tuple[int, Sequence[str], Optional[int]]]
               ) -> DataFrame:
    """Evaluate MANY phrase/proximity constraints in ONE flat plan.

    jobs: (job_id, terms, window) — window None means exact phrase
    (consecutive positions), an int means unordered proximity within that
    window of an anchor occurrence of the first term.  Returns
    (job_id, docid) for every job/doc satisfying the constraint.

    Unlike a per-job loop (plan depth linear in #jobs — pathological for
    a 900-phrase-query batch), this is constant-depth regardless of job
    count:

      1. decode positions ONCE for the union of all job terms, after a
         metadata-only bucket prune (a bucket can serve job j only if it
         holds every term of j — the same block-AND phrase_docs does,
         unioned across jobs);
      2. broadcast-join postings to (job_id, offset) assignments;
      3. docid-level AND per (job_id, docid) via count_distinct(term);
      4. evaluate the phrase/window predicate per surviving (job, doc)
         with a JVM fold (F.aggregate) over the packed position arrays —
         phrase: starts fold  S_i = S_{i-1} ∩ (positions_i − offset_i);
         proximity: anchors of term 0 filtered by an |Δ| ≤ window exists
         check per other term.  No Python in the hot path.
    """
    if not store.manifest.get("positions"):
        raise ValueError(
            "index was built without positions (IndexConfig.positions=True "
            "required for phrase/proximity)"
        )
    if not jobs:
        return spark.createDataFrame([], "job_id int, docid long")
    assign_rows, meta_rows = [], []
    for job_id, terms, window in jobs:
        for off, t in enumerate(terms):
            assign_rows.append((int(job_id), t, off))
        meta_rows.append((
            int(job_id), len(set(terms)),
            -1 if window is None else int(window),
        ))
    jm = F.broadcast(spark.createDataFrame(
        pd.DataFrame(assign_rows, columns=["job_id", "term", "offset"])
    ))
    jmeta = F.broadcast(spark.createDataFrame(
        pd.DataFrame(meta_rows, columns=["job_id", "n_terms", "window"])
    ))
    all_terms = sorted({t for _, t, _ in assign_rows})
    blocks = store.postings_for(spark, all_terms)
    # metadata-only prune: keep a bucket iff it contains every term of at
    # least one job (bucket labels partition docids identically across
    # terms, so a doc matching job j lives in a bucket holding all of
    # j's terms)
    ok_buckets = (
        blocks.select("term", "bucket").join(jm, "term")
        .groupBy("job_id", "bucket")
        .agg(F.count_distinct("term").alias("__nt"))
        .join(jmeta, "job_id")
        .filter(F.col("__nt") == F.col("n_terms"))
        .select("bucket").distinct()
    )
    blocks = blocks.join(ok_buckets, "bucket", "left_semi")

    rows = explode_blocks(blocks, ["term"], ["docid", "positions"])
    grouped = (
        rows.join(jm, "term")
        .groupBy("job_id", "docid")
        .agg(
            F.count_distinct("term").alias("__nt"),
            F.array_sort(
                F.collect_list(F.struct("offset", "positions"))
            ).alias("items"),
        )
        .join(jmeta, "job_id")
        .filter(F.col("__nt") == F.col("n_terms"))
    )
    first = F.col("items")[0]
    rest = F.expr("slice(items, 2, size(items) - 1)")
    phrase_ok = F.size(F.aggregate(
        rest,
        F.transform(
            first["positions"], lambda x: x - first["offset"]
        ),
        lambda acc, it: F.array_intersect(
            acc,
            F.transform(it["positions"], lambda x: x - it["offset"]),
        ),
    )) > 0
    prox_ok = F.size(F.aggregate(
        rest,
        first["positions"],
        lambda acc, it: F.filter(
            acc,
            lambda a: F.exists(
                it["positions"],
                lambda x: F.abs(x - a) <= F.col("window"),
            ),
        ),
    )) > 0
    return grouped.filter(
        F.when(F.col("window") < 0, phrase_ok).otherwise(prox_ok)
    ).select("job_id", "docid")


def proximity_docs(spark: SparkSession, store: IndexStore,
                   terms: Sequence[str], window: int) -> DataFrame:
    """Docids where all terms co-occur within a `window` of kept-stream
    positions of an anchor occurrence of the first term (unordered)
    -> (docid)."""
    rows = posting_positions(spark, store, terms)
    cur = rows.filter(F.col("term") == terms[0]).select(
        "docid", F.col("positions").alias("anchors")
    )
    for term in terms[1:]:
        nxt = rows.filter(F.col("term") == term).select(
            "docid", F.col("positions").alias("p")
        )
        cur = (
            cur.join(nxt, "docid")
            .select(
                "docid",
                F.filter(
                    "anchors",
                    lambda a: F.exists(
                        F.col("p"),
                        lambda x: F.abs(x - a) <= F.lit(window),
                    ),
                ).alias("anchors"),
            )
            .filter(F.size("anchors") > 0)
        )
    return cur.select("docid").distinct()
