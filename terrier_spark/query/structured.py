"""Structured retrieval: scoring + required/negative/phrase constraints.

Execution plan per batch:

    scored  = model scoring of all positive terms (search plan)
    keep    = semi-join on docids holding ALL +terms        [+term]
    drop    = anti-join on docids holding any -term         [-term]
    phrase  = semi-join on positional phrase/proximity hits ["..."]
    top-k after all constraints (the reference applies modifiers before
    the final sort, matching/dsms/*, querying/Manager.java:800-848)
"""

from __future__ import annotations

from typing import Iterator, List, Optional, Sequence, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from terrier_spark.config import QueryConfig
from terrier_spark.index.builder import decode_blocks, explode_blocks
from terrier_spark.index.store import IndexStore
from terrier_spark.query.parser import parse_query
from terrier_spark.query.search import _topk, search_terms
from terrier_spark.text.pipeline import make_pipeline


def _docids_with_terms(spark: SparkSession, store: IndexStore,
                       pairs: pd.DataFrame) -> DataFrame:
    """pairs (qid, term) -> (qid, term, docid) decoded from postings."""
    hits = explode_blocks(store.postings_for(spark, pairs["term"]),
                          ["term"], ["docid"])
    qp = spark.createDataFrame(pairs[["qid", "term"]])
    return hits.join(F.broadcast(qp), "term").select("qid", "term", "docid")


def _docids_with_field_terms(spark: SparkSession, store: IndexStore,
                             rows: pd.DataFrame, nf: int) -> DataFrame:
    """rows (qid, term, field_idx) -> (qid, term, field_idx, docid) for
    docs whose per-field tf of `term` in field `field_idx` is > 0."""
    blocks = store.postings_for(spark, rows["term"])
    wanted = rows.groupby("term")["field_idx"].apply(set).to_dict()

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf[pdf["ftf"].notna()]
            ids, _, _, n, _, ftf, _ = decode_blocks(pdf, nf=nf,
                                                    fields=("ftf",))
            terms = np.repeat(pdf["term"].to_numpy(), n)
            for term in pdf["term"].unique():
                for fi in wanted.get(term, ()):
                    hit = (terms == term) & (ftf[:, fi] > 0)
                    if hit.any():
                        yield pd.DataFrame({"term": term, "field_idx": fi,
                                            "docid": ids[hit]})

    hits = blocks.select("term", "block", "ftf").mapInPandas(
        decode, schema="term string, field_idx int, docid long"
    )
    qp = spark.createDataFrame(rows[["qid", "term", "field_idx"]])
    return hits.join(F.broadcast(qp), ["term", "field_idx"]).select(
        "qid", "term", "field_idx", "docid"
    )


def _score_disjunctions(spark: SparkSession, store: IndexStore,
                        groups: pd.DataFrame, qcfg: QueryConfig) -> DataFrame:
    """Score disjunctive groups as synthetic OR-terms
    (PostingListManager.addSingleTermAlternatives:278-324): per group,
    postings are the OR of the alternatives with SUMMED tf, statistics
    merged by addition (mergeStatistics:245-253), the low-idf drop
    applied per alternative (:289) — then the weighting model scores the
    combined (tf, dl) once per doc.

    groups: pandas (qid, gid, term, qtf) — one row per alternative.
    -> (qid, docid, score)."""
    from terrier_spark.query.models import get_model

    stats = store.stats
    N, avgdl, T = stats["num_docs"], stats["avg_doclen"], stats["num_tokens"]
    spec = get_model(qcfg.model)
    if spec.needs_fields:
        raise ValueError(
            f"disjunctive groups are not supported with field model "
            f"{qcfg.model!r}"
        )
    lex = store.lexicon_lookup(spark, sorted(set(groups["term"])))
    lex = lex.rename(columns={"tf": "tfc"})
    merged = groups.merge(lex[["term", "nt", "tfc"]], on="term", how="inner")
    if qcfg.ignore_low_idf:
        merged = merged[merged["tfc"] <= N]
    if merged.empty:
        return spark.createDataFrame(
            [], "qid string, docid long, score double"
        )
    gstats = (
        merged.groupby(["qid", "gid"], as_index=False)
        .agg(qtf=("qtf", "first"), nt=("nt", "sum"), tfc=("tfc", "sum"))
    )
    alt = merged[["qid", "gid", "term"]].merge(gstats, on=["qid", "gid"])

    blocks = store.postings_for(spark, alt["term"])
    amap = spark.createDataFrame(
        alt[["term", "qid", "gid", "qtf", "nt", "tfc"]]
    )
    rows = explode_blocks(blocks.join(F.broadcast(amap), "term"),
                          ["qid", "gid", "qtf", "nt", "tfc"],
                          ["docid", "tf", "dl"])
    combined = rows.groupBy("qid", "gid", "docid", "qtf", "nt", "tfc").agg(
        F.sum("tf").alias("tf"), F.min("dl").alias("dl")
    )
    kernel = spec.kernel

    @F.pandas_udf("double")
    def score_udf(tf: pd.Series, dl: pd.Series, qtf: pd.Series,
                  nt: pd.Series, tfc: pd.Series) -> pd.Series:
        import numpy as np

        return pd.Series(kernel(
            tf.to_numpy(np.float64), dl.to_numpy(np.float64),
            qtf.to_numpy(np.float64), nt.to_numpy(np.float64),
            tfc.to_numpy(np.float64), N, avgdl, T,
        ))

    return (
        combined.withColumn(
            "score", score_udf("tf", "dl", "qtf", "nt", "tfc")
        )
        .groupBy("qid", "docid")
        .agg(F.sum("score").alias("score"))
    )


def search_structured(
    spark: SparkSession,
    store: IndexStore,
    queries: Sequence[Tuple[str, str]],
    qcfg: Optional[QueryConfig] = None,
) -> DataFrame:
    """Batch structured retrieval -> (qid, rank, docid, score)."""
    qcfg = qcfg or QueryConfig()
    pipe = make_pipeline(store.pipeline_config())

    fields = tuple(store.stats.get("fields") or ())
    qterm_rows, req_rows, neg_rows, field_rows = [], [], [], []
    group_rows = []
    phrase_jobs: List[Tuple[str, List[str], int | None]] = []
    gid = 0
    for qid, text in queries:
        parsed = parse_query(text, fields or None)
        weights: dict[str, float] = {}
        for raw, w in parsed.terms:
            for t in pipe.terms(raw):
                weights[t] = weights.get(t, 0.0) + w
        for t, w in weights.items():
            qterm_rows.append((str(qid), t, w))
        for raw in parsed.required:
            for t in pipe.terms(raw):
                req_rows.append((str(qid), t))
        for raw in parsed.negative:
            for t in pipe.terms(raw):
                neg_rows.append((str(qid), t))
        for words, window in parsed.phrases:
            terms = [t for w in words for t in pipe.terms(w)]
            if len(terms) >= 2:
                phrase_jobs.append((str(qid), terms, window))
        for fname, raw in parsed.field_terms:
            for t in pipe.terms(raw):
                field_rows.append((str(qid), t, fields.index(fname)))
        for words in parsed.disjunctions:
            alts: list[str] = []
            for w in words:
                for t in pipe.terms(w):
                    if t not in alts:
                        alts.append(t)
            if len(alts) == 1:
                qterm_rows.append((str(qid), alts[0], 1.0))
            elif alts:
                for t in alts:
                    group_rows.append((str(qid), gid, t, 1.0))
                gid += 1

    from dataclasses import replace

    qterms = pd.DataFrame(qterm_rows, columns=["qid", "term", "qtf"])
    # score WITHOUT the top-k cut: constraints must apply first
    scored = search_terms(
        spark, store, qterms, replace(qcfg, k=1 << 31)
    ).select("qid", "docid", "score")

    if group_rows:
        groups = pd.DataFrame(
            group_rows, columns=["qid", "gid", "term", "qtf"]
        )
        gscores = _score_disjunctions(spark, store, groups, qcfg)
        scored = (
            scored.unionByName(gscores)
            .groupBy("qid", "docid")
            .agg(F.sum("score").alias("score"))
        )

    if req_rows:
        req = pd.DataFrame(req_rows, columns=["qid", "term"])
        n_req = req.groupby("qid")["term"].nunique().reset_index(name="n_req")
        hits = _docids_with_terms(spark, store, req)
        ok = (
            hits.groupBy("qid", "docid")
            .agg(F.count_distinct("term").alias("n_hit"))
            .join(
                F.broadcast(spark.createDataFrame(n_req)), "qid"
            )
            .filter(F.col("n_hit") == F.col("n_req"))
            .select("qid", "docid")
        )
        scored = scored.join(ok, ["qid", "docid"], "left_semi")

    if neg_rows:
        neg = pd.DataFrame(neg_rows, columns=["qid", "term"])
        bad = _docids_with_terms(spark, store, neg).select("qid", "docid")
        scored = scored.join(bad, ["qid", "docid"], "left_anti")

    if field_rows:
        # TermInFieldModifier.java:modifyScores (requirement=true): a doc
        # whose posting for the term has NO in-field occurrence is scored
        # -inf and stripped; docs without the term at all are untouched
        # (the modifier only walks the term's posting list).  Expressed as
        # an anti-join on (present anywhere) MINUS (present in field).
        fr = pd.DataFrame(field_rows, columns=["qid", "term", "field_idx"])
        present = _docids_with_terms(
            spark, store, fr[["qid", "term"]].drop_duplicates()
        )
        # one constraint row per modifier: a term restricted to several
        # fields must appear in EACH (one TermInFieldModifier per field)
        cons = spark.createDataFrame(fr.drop_duplicates())
        expected = present.join(F.broadcast(cons), ["qid", "term"])
        in_field = _docids_with_field_terms(spark, store, fr, len(fields))
        bad = expected.join(
            in_field.select("qid", "term", "field_idx", "docid"),
            ["qid", "term", "field_idx", "docid"], "left_anti"
        ).select("qid", "docid").distinct()
        scored = scored.join(bad, ["qid", "docid"], "left_anti")

    if phrase_jobs:
        # all phrase/proximity constraints in ONE flat plan (plan depth
        # constant in #jobs): batch_hits gives (job_id, docid) matches; a
        # doc survives for qid iff it matches EVERY constraint of qid.
        from terrier_spark.query.positional import batch_hits

        hits = batch_hits(
            spark, store,
            [(i, terms, window)
             for i, (_, terms, window) in enumerate(phrase_jobs)],
        )
        jq = pd.DataFrame(
            [(i, qid) for i, (qid, _, _) in enumerate(phrase_jobs)],
            columns=["job_id", "qid"],
        )
        nj = jq.groupby("qid")["job_id"].nunique().reset_index(name="n_jobs")
        ok = (
            hits.join(F.broadcast(spark.createDataFrame(jq)), "job_id")
            .groupBy("qid", "docid")
            .agg(F.count_distinct("job_id").alias("__nj"))
            .join(F.broadcast(spark.createDataFrame(nj)), "qid")
            .filter(F.col("__nj") == F.col("n_jobs"))
            .select("qid", "docid")
        )
        phrase_qids = sorted({qid for qid, _, _ in phrase_jobs})
        scored = (
            scored.filter(F.col("qid").isin(phrase_qids))
            .join(ok, ["qid", "docid"], "left_semi")
            .unionByName(scored.filter(~F.col("qid").isin(phrase_qids)))
        )

    return _topk(scored, qcfg.k).select("qid", "rank", "docid", "score")
