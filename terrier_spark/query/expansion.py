"""Direct index + Bo1 pseudo-relevance-feedback query expansion.

Direct index (forward index): per-docid term/tf rows, built by
transposing the inverted postings — the Spark shuffle IS the transpose
(org/terrier/structures/indexing/singlepass/Inverted2DirectIndexBuilder.java,
SURVEY.md §2.3).

Bo1 expansion replicates the reference semantics exactly:
  * feedback set = top `fb_docs` (default 3) documents of the first-pass
    ranking (querying/QueryExpansion.java, expansion.documents);
  * candidate weights w(t) = tf_x * log2((1+f)/f) + log2(1+f),
    f = F/N, tf_x = frequency in the feedback set
    (matching/models/queryexpansion/Bo1.java:score);
  * terms in fewer than 2 feedback docs are dropped unless original
    (DFRBagExpansionTerms.java:85,267, expansion.mindocuments=2, applied
    when the feedback set has >= 2 docs);
  * parameter-free normaliser: Bo1 weight of the top term computed with
    maxTermFrequency standing in for BOTH tf and F, and
    N' = collectionLength/averageDocumentLength (Bo1.java:55-61 —
    reference quirk replicated);
  * top max(fb_terms, |q|) candidates (expansion.terms=10) get weight
    w/normaliser, ADDED to the original weight (1.0 per original qtf) —
    MatchingQueryTerms.addTermPropertyWeight(:320-327).
"""

from __future__ import annotations

import math
from typing import Optional, Sequence, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from terrier_spark.config import QueryConfig
from terrier_spark.index.store import IndexStore
from terrier_spark.query.search import process_queries, search_terms

EXPANSION_DOCS = 3
EXPANSION_TERMS = 10
EXPANSION_MIN_DOCS = 2


# ---------------------------------------------------------------------------
# QE model registry (matching/models/queryexpansion/): each model maps
# (tf_x = within-feedback frequency, F = collection frequency) plus the
# statistics plumbing to a weight; parameter-free normalisers use the
# max-weight term's tf_x (DFRBagExpansionTerms.assignWeights:256-318).
#   n_prime = collectionLength/avgdl (Bo1.java:55-61 quirk)
#   total_dl = sum of feedback doc lengths, T = collection token count
# ---------------------------------------------------------------------------

def _bo1_w(tfx, F, N, total_dl, T):
    f = F / N
    return tfx * np.log2((1.0 + f) / f) + np.log2(1.0 + f)


def _bo1_norm(tf_max, total_dl, T, avgdl):
    n_prime = T / avgdl
    f = tf_max / n_prime
    return tf_max * math.log2((1.0 + f) / f) + math.log2(1.0 + f)


def _bo2_w(tfx, F, N, total_dl, T):
    f = tfx * total_dl / T
    return tfx * np.log2((1.0 + f) / f) + np.log2(1.0 + f)


def _bo2_norm(tf_max, total_dl, T, avgdl):
    f = tf_max * total_dl / T
    return tf_max * math.log2((1.0 + f) / f) + math.log2(1.0 + f)


def _kl_w(tfx, F, N, total_dl, T):
    px = np.asarray(tfx, np.float64) / total_dl
    pc = np.asarray(F, np.float64) / T
    with np.errstate(divide="ignore", invalid="ignore"):
        w = px * np.log2(px / pc)
    return np.where(px < pc, 0.0, w)


def _kl_norm(tf_max, total_dl, T, avgdl):
    return tf_max * math.log(T / total_dl) / (math.log(2.0) * total_dl)


def _ba_w(tfx, F, N, total_dl, T):
    """BA.java score(): Kullback-Leibler with binomial accuracy term —
    total_dl*(f*log2(f/p) + f*log2((1-f)/(1-p))) + 0.5*log2(2 pi F (1-f)),
    0 when f < p.  (The second D term multiplies by f, exactly as the
    reference does.)  CS.java subclasses BA unchanged."""
    tfx = np.asarray(tfx, np.float64)
    F = np.asarray(F, np.float64)
    f = tfx / total_dl
    p = F / T
    with np.errstate(divide="ignore", invalid="ignore"):
        D = f * np.log2(f / p) + f * np.log2((1.0 - f) / (1.0 - p))
        w = total_dl * D + 0.5 * np.log2(2 * math.pi * F * (1.0 - f))
    return np.where(f < p, 0.0, w)


def _one_norm(tf_max, total_dl, T, avgdl):
    return 1.0  # BA/CS are already normalised (BA.parameterFreeNormaliser)


QE_MODELS = {
    "Bo1": (_bo1_w, _bo1_norm),
    "Bo2": (_bo2_w, _bo2_norm),
    "KL": (_kl_w, _kl_norm),
    "BA": (_ba_w, _one_norm),
    "CS": (_ba_w, _one_norm),
}


def build_direct_index(spark: SparkSession, store: IndexStore) -> None:
    """Transpose the inverted postings into {path}/direct rows
    (docid, term, tf), range-partitioned by docid so feedback-doc
    lookups prune."""
    from terrier_spark.index.builder import explode_blocks

    rows = explode_blocks(store.postings(spark), ["term"], ["docid", "tf"])
    (
        rows.select("docid", "term", "tf").repartitionByRange(16, "docid")
        .sortWithinPartitions("docid", "term")
        .write.mode("overwrite")
        .parquet(f"{store.path}/direct")
    )


def direct_index(spark: SparkSession, store: IndexStore) -> DataFrame:
    import os

    if not os.path.isdir(f"{store.path}/direct"):
        build_direct_index(spark, store)
    return spark.read.parquet(f"{store.path}/direct")


def _weight_group(grp: pd.DataFrame, w_fn, norm_fn, N: int, avgdl: float,
                  T: int) -> pd.DataFrame:
    """Weight ONE query's candidate terms.  grp columns: qid, term, tf_x,
    n_fb_docs_with_term, n_fb_docs, total_dl, tfc, is_original.  Sorted by
    term first so the idxmax tie-break (first max in term order) is
    deterministic regardless of upstream partitioning."""
    grp = grp.sort_values("term").reset_index(drop=True).copy()
    total_dl = float(grp["total_dl"].iloc[0])
    grp["w"] = w_fn(
        grp["tf_x"].to_numpy(np.float64),
        grp["tfc"].to_numpy(np.float64), N, total_dl, T,
    )
    n_fb = int(grp["n_fb_docs"].iloc[0])
    min_df = 0 if n_fb < EXPANSION_MIN_DOCS else EXPANSION_MIN_DOCS
    if min_df:
        keep = (grp["n_fb_docs_with_term"] >= min_df) | grp["is_original"]
        grp.loc[~keep, "w"] = 0.0
    # parameter-free normaliser from the max-weight term's tf_x
    # (tf_max plays both the tf and F roles — reference quirk)
    imax = grp["w"].idxmax()
    tf_max = float(grp.loc[imax, "tf_x"])
    norm = norm_fn(tf_max, total_dl, T, avgdl)
    grp["w_norm"] = grp["w"] / norm if norm > 0 else 0.0
    return grp[["qid", "term", "w_norm", "is_original"]]


def expand_queries(
    spark: SparkSession,
    store: IndexStore,
    queries: Sequence[Tuple[str, str]],
    qcfg: Optional[QueryConfig] = None,
    fb_docs: int = EXPANSION_DOCS,
    fb_terms: int = EXPANSION_TERMS,
    qe_model: str = "Bo1",
) -> pd.DataFrame:
    """First-pass search -> QE weighting (Bo1/Bo2/KL/BA/CS) -> expanded
    weighted term frame (qid, term, qtf float).

    Fully distributed (VERDICT round 2): feedback-doc term rows never
    leave the executors — the (qid, docid) feedback set broadcast-joins
    the direct index, per-(qid,term) and per-qid statistics are Spark
    aggregations, the per-query weighting/normalising kernel runs via
    applyInPandas over qid groups, and top-n selection is a window.  The
    ONLY driver pull is the final expanded term frame, bounded by
    n_queries * (fb_terms + |q|) — the same frame the caller re-enters
    search_terms with."""
    qcfg = qcfg or QueryConfig()
    stats = store.stats
    N, avgdl, T = stats["num_docs"], stats["avg_doclen"], stats["num_tokens"]

    orig = process_queries(queries, store.pipeline_config())
    orig = orig.assign(qtf=orig["qtf"].astype(float))
    if orig.empty:
        return orig
    first = search_terms(spark, store, orig, qcfg)
    fb_sel = first.filter(F.col("rank") < fb_docs).select("qid", "docid")

    # feedback term statistics: broadcast the bounded (qid, docid) set
    # against the docid-range-partitioned direct index (the transpose)
    fb = direct_index(spark, store).join(F.broadcast(fb_sel), "docid")
    per_term = fb.groupBy("qid", "term").agg(
        F.sum("tf").alias("tf_x"),
        F.countDistinct("docid").alias("n_fb_docs_with_term"),
    )
    per_qid = fb.groupBy("qid").agg(
        F.countDistinct("docid").alias("n_fb_docs"),
        F.sum("tf").alias("total_dl"),
    )
    orig_df = spark.createDataFrame(orig[["qid", "term", "qtf"]])
    cand = (
        per_term.join(F.broadcast(per_qid), "qid")
        .join(store.lexicon(spark).select("term", F.col("tf").alias("tfc")),
              "term")
        .join(
            F.broadcast(
                orig_df.select("qid", "term",
                               F.lit(True).alias("is_original"))
            ),
            ["qid", "term"], "left",
        )
        .withColumn("is_original", F.coalesce("is_original", F.lit(False)))
    )

    w_fn, norm_fn = QE_MODELS[qe_model]

    def _weigh(pdf: pd.DataFrame) -> pd.DataFrame:
        return _weight_group(pdf, w_fn, norm_fn, N, avgdl, T)[
            ["qid", "term", "w_norm"]
        ]

    weights = cand.groupBy("qid").applyInPandas(
        _weigh, schema="qid string, term string, w_norm double"
    )

    # top max(fb_terms, |q|) candidates per query (same deterministic
    # order the driver-side head() used: weight desc, term asc)
    from pyspark.sql import Window

    n_orig = orig_df.groupBy("qid").agg(
        F.countDistinct("term").alias("n_orig")
    )
    wnd = Window.partitionBy("qid").orderBy(
        F.col("w_norm").desc(), F.col("term").asc()
    )
    top = (
        weights.withColumn("r", F.row_number().over(wnd))
        .join(F.broadcast(n_orig), "qid")
        .filter(F.col("r") <= F.greatest(F.lit(fb_terms), F.col("n_orig")))
        .select("qid", "term", "w_norm")
    )
    # merge with the original weights: originals always kept; selected
    # candidates ADD their normalised weight (addTermPropertyWeight);
    # queries with no feedback fall out of `top` and keep originals
    combined = (
        top.join(orig_df, ["qid", "term"], "full_outer")
        .select(
            "qid", "term",
            (F.coalesce("qtf", F.lit(0.0)) +
             F.coalesce("w_norm", F.lit(0.0))).alias("qtf"),
        )
    )
    out = combined.toPandas()
    return out[["qid", "term", "qtf"]]


def search_with_expansion(
    spark: SparkSession,
    store: IndexStore,
    queries: Sequence[Tuple[str, str]],
    qcfg: Optional[QueryConfig] = None,
    fb_docs: int = EXPANSION_DOCS,
    fb_terms: int = EXPANSION_TERMS,
    qe_model: str = "Bo1",
) -> DataFrame:
    """Two-pass PRF retrieval (the reference's runPostProcessing QE stage,
    querying/Manager.java:746-857)."""
    expanded = expand_queries(spark, store, queries, qcfg, fb_docs,
                              fb_terms, qe_model)
    return search_terms(spark, store, expanded, qcfg)


def normalise_enrichment_query(text: str) -> str:
    """CollectionEnrichment.normaliseString
    (org/terrier/applications/secondary/CollectionEnrichment.java:60-92):
    lower-case, strip query punctuation/operators, drop ` and`/` or`,
    and reduce `field:term` to the bare term."""
    t = text.lower()
    for ch in ("(", ")", '"', "'", "?", ",", "."):
        t = t.replace(ch, " ")
    t = t.replace(" and", " ").replace(" or", " ")
    t = t.replace("  ", " ")
    for ch in ("+", "[", "]"):
        t = t.replace(ch, "")
    parts = []
    for term in t.strip().split(" "):
        if ":" in term:
            term = (term.replace(":", "") if term.endswith(":")
                    else term.split(":")[1])
        if term:  # the reference keeps empty split artifacts; drop them
            parts.append(term)
    return " ".join(parts)


def get_expansion_terms(
    spark: SparkSession,
    store: IndexStore,
    query: str,
    model: str = "BM25",
    qe_model: str = "Bo1",
    n_docs: int = EXPANSION_DOCS,
    n_terms: int = EXPANSION_TERMS,
    qcfg: "Optional[QueryConfig]" = None,
) -> list:
    """CollectionEnrichment.getExpansionTerms
    (org/terrier/applications/secondary/CollectionEnrichment.java:28-58):
    normalise one query, run PRF under (model, qe_model, n_docs,
    n_terms), and return the expanded query as `term^weight` strings —
    the reference's `QE.ExpandedQuery` control value, exposed as a
    convenience over expand_queries().

    `qcfg`, when given, is used as-is for the first pass (the `model`
    arg is then ignored) — needed e.g. on low-idf-saturated corpora
    where the default Terrier drop rule would empty the feedback set."""
    from dataclasses import replace

    from terrier_spark.config import QueryConfig

    if qcfg is None:
        qcfg = replace(QueryConfig(), model=model)
    expanded = expand_queries(
        spark, store, [("ce", normalise_enrichment_query(query))],
        qcfg, fb_docs=n_docs, fb_terms=n_terms, qe_model=qe_model,
    )
    expanded = expanded.sort_values(
        ["qtf", "term"], ascending=[False, True]
    )
    def fmt(w: float) -> str:
        s = f"{w:.9f}".rstrip("0").rstrip(".")
        return s or "0"

    return [f"{r.term}^{fmt(r.qtf)}" for r in expanded.itertuples()]
