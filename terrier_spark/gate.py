"""Driver correctness-gate queries: paired (Spark callable, DuckDB oracle
SQL) built from shared constants so both sides express the SAME semantics.

The gate uses the SQL-expressible pipeline (SQL_SAFE_PIPELINE: tokenizer
validity rules + stopword list, no Porter) because ANSI SQL cannot stem;
the full default pipeline (with Porter) is covered by the pytest oracle
(tests/test_search.py) instead.

NOTE on the testdata corpus: the documents table has a tiny vocabulary,
so nearly every term has collection frequency > N and Terrier's low-idf
drop would empty all results; gate BM25 queries therefore run with
ignore_low_idf=False (the drop itself is pytest-covered).
"""

from __future__ import annotations

import os
import string
import tempfile
from typing import Iterator, Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from terrier_spark.config import (
    DEFAULT_STOPWORDS,
    IndexConfig,
    QueryConfig,
    SQL_SAFE_PIPELINE,
)
from terrier_spark.index.builder import (
    build_index,
    decode_blocks,
    explode_blocks,
)
from terrier_spark.index.corpus import load_documents_corpus
from terrier_spark.index.store import IndexStore
from terrier_spark.query.search import search

# --------------------------------------------------------------------------
# shared constants
# --------------------------------------------------------------------------

STOPWORDS = DEFAULT_STOPWORDS
MAX_TERM_LEN = 20
# >4 digits anywhere -> invalid (EnglishTokeniser.java:166-176)
DIGITS5_RE = "([^0-9]*[0-9]){5}"
# >3 consecutive identical chars -> invalid; RE2 (DuckDB) has no
# backreferences, so enumerate the 62 alternatives
CONSEQ4_RE = "(" + "|".join(
    c * 4 for c in string.ascii_lowercase + string.ascii_uppercase + string.digits
) + ")"

# fixed gate query set: terms that survive the SQL-safe pipeline unchanged
GATE_QUERIES = [
    ("q1", ["fast", "key", "order"]),
    ("q2", ["sort", "table", "scan", "merge"]),
    ("q3", ["part", "window", "small"]),
    ("q4", ["spark", "group", "query", "row", "data"]),
    ("q5", ["slow", "filter", "customer"]),
    ("q6", ["join", "stream", "scan"]),
    ("q7", ["data", "row"]),
    ("q8", ["merge", "key", "filter", "group", "table", "scan"]),
]
GATE_K = 20
SCORE_DECIMALS = 4

BOOLEAN_TERMS = ["fast", "merge", "scan"]
POSTING_TERMS = ["fast", "window", "customer", "spark"]
PHRASE = ["group", "query"]
PROXIMITY_WINDOW = 3

# --------------------------------------------------------------------------
# SQL fragments (DuckDB)
# --------------------------------------------------------------------------

_STOP_LIST = ", ".join(f"'{w}'" for w in STOPWORDS)

# (doc_id, term) exploded token stream after the SQL-safe pipeline;
# validity runs on the RAW token (pre-lowercase), as the reference does
TOKS_CTE = f"""
raw AS (
  SELECT doc_id,
         unnest(list_filter(regexp_extract_all(text, '[A-Za-z0-9]+'),
                x -> len(x) <= {MAX_TERM_LEN}
                     AND NOT regexp_matches(x, '{DIGITS5_RE}')
                     AND NOT regexp_matches(x, '{CONSEQ4_RE}'))) AS tok
  FROM documents
),
toks AS (
  SELECT doc_id, lower(tok) AS term
  FROM raw
  WHERE lower(tok) NOT IN ({_STOP_LIST})
)"""

# same stream with positions (index within the KEPT stream, 0-based) —
# the reference's "blocks" semantics (BlockIndexer.java:84-99): positions
# count surviving pipeline terms
POS_CTE = f"""
filtered AS (
  SELECT doc_id,
         list_filter(list_transform(
             list_filter(regexp_extract_all(text, '[A-Za-z0-9]+'),
                 x -> len(x) <= {MAX_TERM_LEN}
                      AND NOT regexp_matches(x, '{DIGITS5_RE}')
                      AND NOT regexp_matches(x, '{CONSEQ4_RE}')),
             x -> lower(x)),
             x -> x NOT IN ({_STOP_LIST})) AS terms
  FROM documents
),
postoks AS (
  SELECT doc_id,
         unnest(terms) AS term,
         unnest(range(len(terms))) AS pos
  FROM filtered
)"""


def _query_values() -> str:
    rows = []
    for qid, terms in GATE_QUERIES:
        for t in terms:
            rows.append(f"('{qid}', '{t}')")
    return ", ".join(rows)


def _bm25_sql(k: int = GATE_K) -> str:
    """Full BM25 top-k in one DuckDB query, mirroring the engine formula
    term-for-term (BM25.java:70-74; qtf=1 in the gate set)."""
    return f"""
WITH {TOKS_CTE},
tf AS (
  SELECT doc_id, term, COUNT(*)::DOUBLE AS tf
  FROM toks GROUP BY doc_id, term
),
dl AS (
  SELECT doc_id, COUNT(*)::DOUBLE AS dl FROM toks GROUP BY doc_id
),
consts AS (
  SELECT (SELECT COUNT(*) FROM documents)::DOUBLE AS n,
         (SELECT COUNT(*) FROM toks)::DOUBLE
           / (SELECT COUNT(*) FROM documents)::DOUBLE AS avgdl
),
ntt AS (
  SELECT term, COUNT(DISTINCT doc_id)::DOUBLE AS nt FROM toks GROUP BY term
),
q(qid, term) AS (VALUES {_query_values()}),
scored AS (
  SELECT q.qid, tf.doc_id,
         SUM(
           tf.tf * (8.0 + 1.0) * 1.0
           / ((8.0 + 1.0)
              * (1.2 * ((1.0 - 0.75) + 0.75 * dl.dl / consts.avgdl) + tf.tf))
           * log2((consts.n - ntt.nt + 0.5) / (ntt.nt + 0.5))
         ) AS score
  FROM q
  JOIN tf ON tf.term = q.term
  JOIN dl ON dl.doc_id = tf.doc_id
  JOIN ntt ON ntt.term = q.term
  CROSS JOIN consts
  GROUP BY q.qid, tf.doc_id
)
SELECT qid, doc_id,
       CAST(round(score, {SCORE_DECIMALS}) AS DOUBLE) AS score_r,
       (row_number() OVER (
          PARTITION BY qid
          ORDER BY round(score, {SCORE_DECIMALS}) DESC, doc_id) - 1)::BIGINT
         AS rank
FROM scored
QUALIFY rank < {k}
"""


# --------------------------------------------------------------------------
# engine side
# --------------------------------------------------------------------------


def _corpus_fingerprint(sf_dir: str) -> str:
    """Content-version tag for the gate's disk-cached indexes: hash of
    the documents parquet's (path, size, mtime), so a REGENERATED corpus
    at the same path rebuilds the index instead of silently reusing a
    stale one (the DuckDB oracle always reads the fresh parquet, so a
    stale index would show up as a confusing gate diff)."""
    import glob as _glob
    import hashlib as _hashlib

    root = os.path.join(os.path.abspath(sf_dir), "documents.parquet")
    paths = [root] if os.path.isfile(root) else sorted(
        _glob.glob(os.path.join(root, "*.parquet"))
    )
    h = _hashlib.sha256()
    for p in paths:
        try:
            st = os.stat(p)
            h.update(f"{p}:{st.st_size}:{st.st_mtime_ns};".encode())
        except OSError:
            h.update(f"{p}:missing;".encode())
    return h.hexdigest()[:12]


def _cache_key(sf_dir: str) -> str:
    return os.path.abspath(sf_dir) + "@" + _corpus_fingerprint(sf_dir)


def _cache_dir(tag: str, sf_dir: str) -> str:
    key = os.path.abspath(sf_dir)
    return os.path.join(
        tempfile.gettempdir(), tag,
        key.strip("/").replace("/", "_") + "_" + _corpus_fingerprint(sf_dir),
    )


_INDEX_CACHE: dict[str, IndexStore] = {}


def gate_index(spark: SparkSession, sf_dir: str) -> IndexStore:
    """Build (once per sf_dir per process) the SQL-safe-pipeline index over
    the documents table."""
    key = _cache_key(sf_dir)
    store = _INDEX_CACHE.get(key)
    if store is not None:
        return store
    # format-versioned cache path: a stale index from an older block
    # layout must never be reused across rounds; the corpus fingerprint
    # in the path does the same for regenerated testdata
    out = _cache_dir("terrier_spark_gate_v5", sf_dir)
    if not os.path.exists(os.path.join(out, "manifest.json")):
        corpus = load_documents_corpus(spark, sf_dir)
        cfg = IndexConfig(pipeline=SQL_SAFE_PIPELINE, positions=True)
        build_index(spark, corpus, out, cfg, bucket_span=1024)
    store = IndexStore(out)
    _INDEX_CACHE[key] = store
    return store


def _docno_as_doc_id(df: DataFrame, store, spark) -> DataFrame:
    docs = store.docs(spark).select(
        "docid", F.col("docno").cast("long").alias("doc_id")
    )
    return df.join(F.broadcast(docs), "docid")


def q_lexicon(spark: SparkSession, sf_dir: str) -> DataFrame:
    store = gate_index(spark, sf_dir)
    return store.lexicon(spark).select("term", "nt", "tf")


def q_doc_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    store = gate_index(spark, sf_dir)
    return store.docs(spark).select(
        F.col("docno").cast("long").alias("doc_id"), F.col("doclen")
    )


def q_collection_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    store = gate_index(spark, sf_dir)
    s = store.stats
    return spark.createDataFrame(
        [
            (
                s["num_docs"],
                s["num_terms"],
                s["num_tokens"],
                s["num_pointers"],
                round(s["avg_doclen"], 6),
            )
        ],
        "num_docs long, num_terms long, num_tokens long, num_pointers long, "
        "avg_doclen double",
    )


def q_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Posting lists for POSTING_TERMS, decoded from the VByte store —
    exercises the compressed path end-to-end."""
    store = gate_index(spark, sf_dir)
    decoded = explode_blocks(store.postings_for(spark, POSTING_TERMS),
                             ["term"], ["docid", "tf"])
    return _docno_as_doc_id(decoded, store, spark).select("term", "doc_id", "tf")


def q_postings_bitcodec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-codec parity: the same posting lists as `postings`, but
    re-encoded executor-side through the reference BIT layout
    (gamma-gap + unary-tf, BasicIterablePosting.java:38) and decoded
    back — the driver gates that the bit codec is a lossless drop-in
    for the persisted VByte blocks."""
    from terrier_spark.compression.bitcodecs import (
        decode_bit_postings,
        encode_bit_postings,
    )

    store = gate_index(spark, sf_dir)
    blocks = store.postings_for(spark, POSTING_TERMS)

    def recode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, tfs, _, n, _, _, _ = decode_blocks(pdf)
            # the bit codec re-encodes one block at a time
            back = [decode_bit_postings(encode_bit_postings(
                ids[a:a + m], tfs[a:a + m]), m)
                for a, m in zip(np.cumsum(n) - n, n)]
            yield pd.DataFrame({
                "term": np.repeat(pdf["term"].to_numpy(), n),
                "docid": np.concatenate([np.empty(0, np.int64)]
                                        + [d for d, _ in back]),
                "tf": np.concatenate([np.empty(0, np.int64)]
                                     + [t for _, t in back]),
            })

    decoded = blocks.select("term", "block").mapInPandas(
        recode, schema="term string, docid long, tf long"
    )
    return _docno_as_doc_id(decoded, store, spark).select(
        "term", "doc_id", "tf"
    )


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    store = gate_index(spark, sf_dir)
    queries = [(qid, " ".join(terms)) for qid, terms in GATE_QUERIES]
    qcfg = QueryConfig(k=1_000_000, ignore_low_idf=False, prune=True)
    res = search(spark, store, queries, qcfg)
    res = _docno_as_doc_id(res, store, spark)
    res = res.withColumn(
        "score_r", F.round(F.col("score"), SCORE_DECIMALS)
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("score_r").desc(), F.col("doc_id").asc()
    )
    return (
        res.withColumn("rank", (F.row_number().over(w) - 1).cast("long"))
        .filter(F.col("rank") < GATE_K)
        .select("qid", "doc_id", "score_r", "rank")
    )


def _model_topk(spark: SparkSession, sf_dir: str, model: str) -> DataFrame:
    """Gate query batch under a registry weighting model, rounded and
    re-ranked to the gate's comparable form."""
    store = gate_index(spark, sf_dir)
    queries = [(qid, " ".join(terms)) for qid, terms in GATE_QUERIES]
    qcfg = QueryConfig(k=1_000_000, ignore_low_idf=False, prune=True,
                       model=model)
    res = search(spark, store, queries, qcfg)
    res = _docno_as_doc_id(res, store, spark)
    res = res.withColumn("score_r", F.round(F.col("score"), SCORE_DECIMALS))
    w = Window.partitionBy("qid").orderBy(
        F.col("score_r").desc(), F.col("doc_id").asc()
    )
    return (
        res.withColumn("rank", (F.row_number().over(w) - 1).cast("long"))
        .filter(F.col("rank") < GATE_K)
        .select("qid", "doc_id", "score_r", "rank")
    )


def q_tf_idf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same batch as bm25_topk under the TF_IDF weighting model
    (matching/models/TF_IDF.java)."""
    return _model_topk(spark, sf_dir, "TF_IDF")


def q_dirichlet_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same batch under DirichletLM (matching/models/DirichletLM.java,
    mu=2500, no qtf multiplier — reference quirk)."""
    return _model_topk(spark, sf_dir, "DirichletLM")


def q_pl2_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same batch under PL2 (matching/models/PL2.java, c=1)."""
    return _model_topk(spark, sf_dir, "PL2")


def q_inl2_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same batch under InL2 (matching/models/InL2.java, c=1)."""
    return _model_topk(spark, sf_dir, "InL2")


def q_dph_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same batch under the parameter-free DPH
    (matching/models/DPH.java)."""
    return _model_topk(spark, sf_dir, "DPH")


# --------------------------------------------------------------------------
# field gate: a second index with per-field postings over the documents
# table; field 0 = "source" (the table's source column, canonicalised to
# corpus `repo`), field 1 = "content" (text)
# --------------------------------------------------------------------------

FIELD_GATE_COLS = (("source", "repo"), ("content", "content"))
# 'source:src1' keeps docs of source src1 untouched (the token never
# occurs in text); 'source:slow' excludes every doc where 'slow' appears
# (it only ever occurs in content) — exercising both directions of
# TermInFieldModifier
FIELD_RESTRICT_QUERY = "data row source:src1 source:slow"

_FIELD_INDEX_CACHE: dict[str, IndexStore] = {}


def gate_field_index(spark: SparkSession, sf_dir: str) -> IndexStore:
    key = _cache_key(sf_dir)
    store = _FIELD_INDEX_CACHE.get(key)
    if store is not None:
        return store
    # v3: segmented layout with per-field lexicon/block stats
    out = _cache_dir("terrier_spark_gate_field_v3", sf_dir)
    if not os.path.exists(os.path.join(out, "manifest.json")):
        corpus = load_documents_corpus(spark, sf_dir)
        cfg = IndexConfig(pipeline=SQL_SAFE_PIPELINE,
                          field_cols=FIELD_GATE_COLS)
        build_index(spark, corpus, out, cfg, bucket_span=1024)
    store = IndexStore(out)
    _FIELD_INDEX_CACHE[key] = store
    return store


def _field_model_topk(spark: SparkSession, sf_dir: str,
                      model: str) -> DataFrame:
    store = gate_field_index(spark, sf_dir)
    queries = [(qid, " ".join(terms)) for qid, terms in GATE_QUERIES]
    qcfg = QueryConfig(k=1_000_000, ignore_low_idf=False, model=model)
    res = search(spark, store, queries, qcfg)
    res = _docno_as_doc_id(res, store, spark)
    res = res.withColumn("score_r", F.round(F.col("score"), SCORE_DECIMALS))
    w = Window.partitionBy("qid").orderBy(
        F.col("score_r").desc(), F.col("doc_id").asc()
    )
    return (
        res.withColumn("rank", (F.row_number().over(w) - 1).cast("long"))
        .filter(F.col("rank") < GATE_K)
        .select("qid", "doc_id", "score_r", "rank")
    )


def q_bm25f_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25F over the (source, content) field index
    (PerFieldNormWeightingModel BM x NormalisationB)."""
    return _field_model_topk(spark, sf_dir, "BM25F")


def q_single_field_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SingleFieldModel(BM25, content): BM25 on the content field's tf
    and length only, with global statistics
    (matching/models/SingleFieldModel.java)."""
    return _field_model_topk(spark, sf_dir, "SingleField(BM25,1)")


def q_field_restrict_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """field:term restriction through the structured path
    (matching/tsms/TermInFieldModifier.java: docs with the term
    out-of-field only are dropped; absent docs unaffected)."""
    from terrier_spark.query.structured import search_structured

    store = gate_field_index(spark, sf_dir)
    qcfg = QueryConfig(k=1_000_000, ignore_low_idf=False)
    res = search_structured(
        spark, store, [("q1", FIELD_RESTRICT_QUERY)], qcfg
    )
    res = _docno_as_doc_id(res, store, spark)
    res = res.withColumn("score_r", F.round(F.col("score"), SCORE_DECIMALS))
    w = Window.partitionBy("qid").orderBy(
        F.col("score_r").desc(), F.col("doc_id").asc()
    )
    return (
        res.withColumn("rank", (F.row_number().over(w) - 1).cast("long"))
        .filter(F.col("rank") < GATE_K)
        .select("qid", "doc_id", "score_r", "rank")
    )


# disjunctive-group gate query: {fast slow} matches as ONE synthetic
# OR-term (summed tf, merged statistics), plus plain terms data/row
GROUP_QUERY = "data {fast slow} row"
GROUP_ALTS = ["fast", "slow"]
GROUP_SINGLES = ["data", "row"]


def q_structured_group_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Disjunctive-group retrieval (terrier.g:196-209 +
    PostingListManager.addSingleTermAlternatives:278-324)."""
    from terrier_spark.query.structured import search_structured

    store = gate_index(spark, sf_dir)
    # TF_IDF: its idf log2(N/nt + 1) stays positive even when the merged
    # group nt exceeds N (true for every pair on this tiny-vocab corpus,
    # where BM25's (N - nt + 0.5) would go negative -> NaN)
    qcfg = QueryConfig(k=1_000_000, ignore_low_idf=False, model="TF_IDF")
    res = search_structured(spark, store, [("q1", GROUP_QUERY)], qcfg)
    res = _docno_as_doc_id(res, store, spark)
    res = res.withColumn("score_r", F.round(F.col("score"), SCORE_DECIMALS))
    w = Window.partitionBy("qid").orderBy(
        F.col("score_r").desc(), F.col("doc_id").asc()
    )
    return (
        res.withColumn("rank", (F.row_number().over(w) - 1).cast("long"))
        .filter(F.col("rank") < GATE_K)
        .select("qid", "doc_id", "score_r", "rank")
    )


def _group_sql(k: int = GATE_K) -> str:
    alts = ", ".join(f"'{t}'" for t in GROUP_ALTS)
    singles = ", ".join(f"('q1', '{t}')" for t in GROUP_SINGLES)
    return f"""
WITH {TOKS_CTE},
tf AS (
  SELECT doc_id, term, COUNT(*)::DOUBLE AS tf
  FROM toks GROUP BY doc_id, term
),
dl AS (
  SELECT doc_id, COUNT(*)::DOUBLE AS dl FROM toks GROUP BY doc_id
),
consts AS (
  SELECT (SELECT COUNT(*) FROM documents)::DOUBLE AS n,
         (SELECT COUNT(*) FROM toks)::DOUBLE
           / (SELECT COUNT(*) FROM documents)::DOUBLE AS avgdl
),
ntt AS (
  SELECT term, COUNT(DISTINCT doc_id)::DOUBLE AS nt FROM toks GROUP BY term
),
q(qid, term) AS (VALUES {singles}),
single_scored AS (
  SELECT q.qid, tf.doc_id,
         SUM(
           (1.2 * tf.tf
            / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / consts.avgdl)))
           * log2(consts.n / ntt.nt + 1.0)
         ) AS score
  FROM q
  JOIN tf ON tf.term = q.term
  JOIN dl ON dl.doc_id = tf.doc_id
  JOIN ntt ON ntt.term = q.term
  CROSS JOIN consts
  GROUP BY q.qid, tf.doc_id
),
gstats AS (
  SELECT SUM(nt) AS nt FROM ntt WHERE term IN ({alts})
),
gtf AS (
  SELECT doc_id, SUM(tf) AS tf FROM tf WHERE term IN ({alts})
  GROUP BY doc_id
),
group_scored AS (
  SELECT 'q1' AS qid, gtf.doc_id,
         (1.2 * gtf.tf
          / (gtf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / consts.avgdl)))
         * log2(consts.n / gstats.nt + 1.0) AS score
  FROM gtf
  JOIN dl ON dl.doc_id = gtf.doc_id
  CROSS JOIN consts CROSS JOIN gstats
),
scored AS (
  SELECT qid, doc_id, SUM(score) AS score FROM (
    SELECT * FROM single_scored UNION ALL SELECT * FROM group_scored
  ) GROUP BY qid, doc_id
)
SELECT qid, doc_id,
       CAST(round(score, {SCORE_DECIMALS}) AS DOUBLE) AS score_r,
       (row_number() OVER (
          PARTITION BY qid
          ORDER BY round(score, {SCORE_DECIMALS}) DESC, doc_id) - 1)::BIGINT
         AS rank
FROM scored
QUALIFY rank < {k}
"""


# structured gate query: score {fast, merge, scan}, require 'merge',
# exclude docs containing 'window'
STRUCTURED_QUERY = "fast +merge -window scan"
STRUCTURED_SCORE_TERMS = ["fast", "merge", "scan"]
STRUCTURED_REQUIRED = "merge"
STRUCTURED_NEGATIVE = "window"


def q_structured_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Required/negative-term retrieval through the structured path
    (RequiredTermModifier / negative-term semantics,
    querying/Manager.java:800-848)."""
    from terrier_spark.config import QueryConfig
    from terrier_spark.query.structured import search_structured

    store = gate_index(spark, sf_dir)
    qcfg = QueryConfig(k=1_000_000, ignore_low_idf=False)
    res = search_structured(spark, store, [("q1", STRUCTURED_QUERY)], qcfg)
    res = _docno_as_doc_id(res, store, spark)
    res = res.withColumn("score_r", F.round(F.col("score"), SCORE_DECIMALS))
    w = Window.partitionBy("qid").orderBy(
        F.col("score_r").desc(), F.col("doc_id").asc()
    )
    return (
        res.withColumn("rank", (F.row_number().over(w) - 1).cast("long"))
        .filter(F.col("rank") < GATE_K)
        .select("qid", "doc_id", "score_r", "rank")
    )


def q_boolean_and(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Docid intersection of posting lists (ANDIterablePosting.java:40-152
    as a group-having plan)."""
    store = gate_index(spark, sf_dir)
    blocks = store.postings_for(spark, BOOLEAN_TERMS)
    hits = _decode_docids(blocks)
    matched = (
        hits.groupBy("docid")
        .agg(F.count_distinct("term").alias("nterms"))
        .filter(F.col("nterms") == len(BOOLEAN_TERMS))
        .select("docid")
    )
    return _docno_as_doc_id(matched, store, spark).select("doc_id")


def q_boolean_or(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Docid union with match count (ORIterablePosting.java:42-167)."""
    store = gate_index(spark, sf_dir)
    blocks = store.postings_for(spark, BOOLEAN_TERMS)
    hits = _decode_docids(blocks)
    matched = hits.groupBy("docid").agg(
        F.count_distinct("term").cast("long").alias("n_matched")
    )
    return _docno_as_doc_id(matched, store, spark).select("doc_id", "n_matched")


def _decode_docids(blocks: DataFrame) -> DataFrame:
    return explode_blocks(blocks, ["term"], ["docid"])


def q_phrase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase from the POSITIONAL INDEX
    (PhraseIterablePosting.java:44; positions stored per posting block)."""
    from terrier_spark.query.positional import phrase_docs

    store = gate_index(spark, sf_dir)
    out = phrase_docs(spark, store, PHRASE)
    return _docno_as_doc_id(out, store, spark).select("doc_id")


def q_proximity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unordered proximity within a window from the positional index
    (ProximityIterablePosting.java:45)."""
    from terrier_spark.query.positional import proximity_docs

    store = gate_index(spark, sf_dir)
    out = proximity_docs(spark, store, PHRASE, PROXIMITY_WINDOW)
    return _docno_as_doc_id(out, store, spark).select("doc_id")


def _dependence_topk(spark: SparkSession, sf_dir: str,
                     variant: str, dependency: str = "SD") -> DataFrame:
    """MRF sequential-dependence retrieval from the POSITIONAL index
    (DependenceScoreModifier.java:216-360 with the DFR scoreFDSD of
    DFRDependenceScoreModifier.java:91-118 or the Dirichlet-LM pair
    score of MRFDependenceScoreModifier.java:70-75), over a
    positive-scoring base model (Hiemstra_LM — the reference's >0 base
    gate at :260-262 would otherwise void all pair contributions on
    this negative-idf-saturated corpus)."""
    from terrier_spark.query.dependence import search_with_dependence

    store = gate_index(spark, sf_dir)
    queries = [(qid, " ".join(terms)) for qid, terms in GATE_QUERIES]
    qcfg = QueryConfig(
        k=1_000_000, ignore_low_idf=False, prune=True, model="Hiemstra_LM"
    )
    res = search_with_dependence(
        spark, store, queries, qcfg, dependency=dependency, variant=variant
    )
    res = _docno_as_doc_id(res, store, spark)
    res = res.withColumn("score_r", F.round(F.col("score"), SCORE_DECIMALS))
    w = Window.partitionBy("qid").orderBy(
        F.col("score_r").desc(), F.col("doc_id").asc()
    )
    return (
        res.withColumn("rank", (F.row_number().over(w) - 1).cast("long"))
        .filter(F.col("rank") < GATE_K)
        .select("qid", "doc_id", "score_r", "rank")
    )


def q_sd_dfr_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _dependence_topk(spark, sf_dir, "DFR")


def q_sd_mrf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _dependence_topk(spark, sf_dir, "MRF")


def q_fd_dfr_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full dependence: every query-term pair (i < j), unordered sliding
    windows (Distance.noTimes via windowsForTerms) — with window=2 a
    size-2 window contains both distinct terms iff they are adjacent in
    either order, so m reduces to bidirectional adjacency."""
    return _dependence_topk(spark, sf_dir, "DFR", dependency="FD")


def q_dsm_static_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 + SimpleStaticScoreModifier (matching/dsms/
    SimpleStaticScoreModifier.java: score += w * prior for ranked docs
    with a prior and non-zero score) — the prior is a deterministic
    function of the docno so the oracle can mirror it."""
    from terrier_spark.query.dsms import (
        SimpleStaticScoreModifier,
        search_with_dsms,
    )

    store = gate_index(spark, sf_dir)
    docs = store.docs(spark).select(
        "docid", F.col("docno").cast("long").alias("dno")
    )
    priors = docs.filter(F.col("dno") % 3 == 0).select(
        "docid", ((F.col("dno") % 7) / F.lit(7.0)).alias("prior")
    )
    queries = [(qid, " ".join(terms)) for qid, terms in GATE_QUERIES]
    qcfg = QueryConfig(k=1_000_000, ignore_low_idf=False, prune=True)
    res = search_with_dsms(
        spark, store, queries,
        [SimpleStaticScoreModifier(priors, w=0.5)], qcfg,
    )
    res = _docno_as_doc_id(res, store, spark)
    res = res.withColumn("score_r", F.round(F.col("score"), SCORE_DECIMALS))
    w = Window.partitionBy("qid").orderBy(
        F.col("score_r").desc(), F.col("doc_id").asc()
    )
    return (
        res.withColumn("rank", (F.row_number().over(w) - 1).cast("long"))
        .filter(F.col("rank") < GATE_K)
        .select("qid", "doc_id", "score_r", "rank")
    )


def _rounded_rank(res: DataFrame, store, spark) -> DataFrame:
    res = _docno_as_doc_id(res, store, spark)
    res = res.withColumn("score_r", F.round(F.col("score"), SCORE_DECIMALS))
    w = Window.partitionBy("qid").orderBy(
        F.col("score_r").desc(), F.col("doc_id").asc()
    )
    return (
        res.withColumn("rank", (F.row_number().over(w) - 1).cast("long"))
        .filter(F.col("rank") < GATE_K)
        .select("qid", "doc_id", "score_r", "rank")
    )


def q_merged_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """StructureMerger path (structures/merging/StructureMerger.java):
    the corpus split in two, indexed separately, merged with docid
    re-basing — BM25 over the merged index must equal BM25 over a
    single build, so the oracle is the plain BM25 SQL."""
    from terrier_spark.index.merge import merge_indexes

    key = _cache_key(sf_dir)
    store = _MERGED_CACHE.get(key)
    if store is None:
        root = _cache_dir("terrier_spark_gate_merged_v2", sf_dir)
        out = os.path.join(root, "merged")
        if not os.path.exists(os.path.join(out, "manifest.json")):
            corpus = load_documents_corpus(spark, sf_dir)
            half = corpus.filter(F.col("docno").cast("long") % 2 == 0)
            other = corpus.filter(F.col("docno").cast("long") % 2 == 1)
            cfg = IndexConfig(pipeline=SQL_SAFE_PIPELINE)
            a = build_index(spark, half, os.path.join(root, "a"), cfg,
                            bucket_span=1024)
            b = build_index(spark, other, os.path.join(root, "b"), cfg,
                            bucket_span=1024)
            merge_indexes(spark, a, b, out)
        store = IndexStore(out)
        _MERGED_CACHE[key] = store
    queries = [(qid, " ".join(terms)) for qid, terms in GATE_QUERIES]
    qcfg = QueryConfig(k=1_000_000, ignore_low_idf=False, prune=True)
    return _rounded_rank(search(spark, store, queries, qcfg), store, spark)


def q_incremental_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IncrementalIndex path (realtime/incremental/IncrementalIndex.java):
    the corpus ingested as three micro-batches through the segment
    store, finalized, then searched — results must equal the one-shot
    build, so the oracle is the plain BM25 SQL."""
    from terrier_spark.streaming.incremental import IncrementalIndexer

    key = _cache_key(sf_dir)
    store = _INCR_CACHE.get(key)
    if store is None:
        out = _cache_dir("terrier_spark_gate_incr_v1", sf_dir)
        if not os.path.exists(os.path.join(out, "manifest.json")):
            corpus = load_documents_corpus(spark, sf_dir)
            idx = IncrementalIndexer(
                out, IndexConfig(pipeline=SQL_SAFE_PIPELINE),
                bucket_span=1024,
            )
            for i in range(3):
                idx.index_batch(
                    corpus.filter(F.col("docno").cast("long") % 3 == i), i
                )
            store = idx.finalize()
        else:
            store = IndexStore(out)
        _INCR_CACHE[key] = store
    queries = [(qid, " ".join(terms)) for qid, terms in GATE_QUERIES]
    qcfg = QueryConfig(k=1_000_000, ignore_low_idf=False, prune=True)
    return _rounded_rank(search(spark, store, queries, qcfg), store, spark)


_MERGED_CACHE: dict = {}
_INCR_CACHE: dict = {}


def q_bo1_expansion_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-pass Bo1 pseudo-relevance feedback
    (querying/QueryExpansion.java + matching/models/queryexpansion/
    Bo1.java): first-pass BM25, top-3 feedback docs, Bo1 candidate
    weights with the mindocuments=2 rule and the parameter-free
    normaliser quirk (tf_max in both roles), top max(10, |q|) terms
    merged into the query, second-pass BM25 with the expanded weights."""
    from terrier_spark.query.expansion import search_with_expansion

    store = gate_index(spark, sf_dir)
    queries = [(qid, " ".join(terms)) for qid, terms in GATE_QUERIES]
    qcfg = QueryConfig(k=1_000_000, ignore_low_idf=False, prune=True)
    res = search_with_expansion(spark, store, queries, qcfg)
    res = _docno_as_doc_id(res, store, spark)
    res = res.withColumn("score_r", F.round(F.col("score"), SCORE_DECIMALS))
    w = Window.partitionBy("qid").orderBy(
        F.col("score_r").desc(), F.col("doc_id").asc()
    )
    return (
        res.withColumn("rank", (F.row_number().over(w) - 1).cast("long"))
        .filter(F.col("rank") < GATE_K)
        .select("qid", "doc_id", "score_r", "rank")
    )


def q_expansion_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CollectionEnrichment.getExpansionTerms
    (applications/secondary/CollectionEnrichment.java:28-58) over the
    gate queries: each query's Bo1-expanded `term^weight` list (the
    reference's QE.ExpandedQuery control value) parsed back to rows.
    Drives the wrapper itself — normalisation, PRF, weight formatting —
    with the gate qcfg (the testdata corpus is low-idf-saturated, so
    the Terrier drop rule must be off for a non-empty feedback set)."""
    from terrier_spark.query.expansion import get_expansion_terms

    store = gate_index(spark, sf_dir)
    qcfg = QueryConfig(k=1_000_000, ignore_low_idf=False, prune=True)
    rows = []
    for qid, terms in GATE_QUERIES:
        for tw in get_expansion_terms(spark, store, " ".join(terms),
                                      qcfg=qcfg):
            term, w = tw.rsplit("^", 1)
            rows.append((qid, term, float(w)))
    return (
        spark.createDataFrame(rows, "qid string, term string, qtf double")
        .withColumn("qtf_r", F.round(F.col("qtf"), SCORE_DECIMALS))
        .select("qid", "term", "qtf_r")
    )


def q_eval_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ad-hoc evaluation (AdhocEvaluation.java) over the gate BM25 run:
    per-query average precision against deterministic qrels
    (doc relevant to qN iff doc_id % 7 == N % 7), MAP-ready."""
    from terrier_spark.query.evaluation import evaluate_run

    run = q_bm25_topk(spark, sf_dir).toPandas()
    qrels = {
        qid: {
            str(r["doc_id"])
            for r in _all_doc_ids(spark, sf_dir)
            if r["doc_id"] % 7 == int(qid[1:]) % 7
        }
        for qid, _ in GATE_QUERIES
    }
    res = evaluate_run(run, qrels, doc_col="doc_id")
    rows = [
        (qid, float(round(ap, 8)))
        for qid, ap in sorted(res["AP_per_query"].items())
    ]
    return spark.createDataFrame(rows, "qid string, ap double")


def q_eval_namedpage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named-page evaluation (NamedPageEvaluation.java) over the gate
    BM25 run: per-query reciprocal rank of the FIRST relevant document
    (within the top-50 cutoff; the gate run is top-20, so always
    inside), same deterministic qrels as eval_map; 0.0 when no relevant
    document is retrieved."""
    from terrier_spark.query.evaluation import evaluate_named_page

    run = q_bm25_topk(spark, sf_dir).toPandas()
    qrels = {
        qid: {
            str(r["doc_id"])
            for r in _all_doc_ids(spark, sf_dir)
            if r["doc_id"] % 7 == int(qid[1:]) % 7
        }
        for qid, _ in GATE_QUERIES
    }
    res = evaluate_named_page(run, qrels, doc_col="doc_id")
    rows = [
        (qid, float(round(res["recip_rank_per_query"].get(qid, 0.0), 8)))
        for qid, _ in sorted(GATE_QUERIES)
    ]
    return spark.createDataFrame(rows, "qid string, rr double")


def _all_doc_ids(spark: SparkSession, sf_dir: str):
    store = gate_index(spark, sf_dir)
    return store.docs(spark).select(
        F.col("docno").cast("long").alias("doc_id")
    ).collect()


# --------------------------------------------------------------------------
# oracle SQL
# --------------------------------------------------------------------------

_TERMS_IN = ", ".join(f"'{t}'" for t in BOOLEAN_TERMS)
_PTERMS_IN = ", ".join(f"'{t}'" for t in POSTING_TERMS)


def _sd_pair_values() -> str:
    """Adjacent query-term pairs in first-occurrence order (the SD combos
    of DependenceScoreModifier.java:303-317); gate terms all survive the
    SQL-safe pipeline, matching the engine's pair construction."""
    rows = []
    for qid, terms in GATE_QUERIES:
        for a, b in zip(terms, terms[1:]):
            if a != b:
                rows.append(f"('{qid}', '{a}', '{b}')")
    return ", ".join(rows)


def _fd_pair_values() -> str:
    """Every (i, j) i < j pair — the FD combos
    (DependenceScoreModifier.java:341-357)."""
    rows = []
    for qid, terms in GATE_QUERIES:
        for i in range(len(terms)):
            for j in range(i + 1, len(terms)):
                if terms[i] != terms[j]:
                    rows.append(f"('{qid}', '{terms[i]}', '{terms[j]}')")
    return ", ".join(rows)


_BM25_SCORED_CTES = """
tf AS (
  SELECT doc_id, term, COUNT(*)::DOUBLE AS tf
  FROM toks GROUP BY doc_id, term
),
dl AS (
  SELECT doc_id, COUNT(*)::DOUBLE AS dl FROM toks GROUP BY doc_id
),
consts AS (
  SELECT (SELECT COUNT(*) FROM documents)::DOUBLE AS n,
         (SELECT COUNT(*) FROM toks)::DOUBLE
           / (SELECT COUNT(*) FROM documents)::DOUBLE AS avgdl
),
ntt AS (
  SELECT term, COUNT(DISTINCT doc_id)::DOUBLE AS nt FROM toks GROUP BY term
),
scored AS (
  SELECT q.qid, tf.doc_id,
         SUM(
           tf.tf * (8.0 + 1.0) * 1.0
           / ((8.0 + 1.0)
              * (1.2 * ((1.0 - 0.75) + 0.75 * dl.dl / consts.avgdl) + tf.tf))
           * log2((consts.n - ntt.nt + 0.5) / (ntt.nt + 0.5))
         ) AS score
  FROM q
  JOIN tf ON tf.term = q.term
  JOIN dl ON dl.doc_id = tf.doc_id
  JOIN ntt ON ntt.term = q.term
  CROSS JOIN consts
  GROUP BY q.qid, tf.doc_id
)"""


def _dsm_static_sql(k: int = GATE_K) -> str:
    """BM25 + static prior, mirroring SimpleStaticScoreModifier: docs
    with docno % 3 == 0 carry prior (docno % 7)/7, added as w=0.5 *
    prior when the base score is non-zero.  modified_length (1000)
    exceeds every candidate set here, so the rank cutoff is inert on
    both sides (the cutoff branch is pytest-covered in test_dsms)."""
    return f"""
WITH {TOKS_CTE},
q(qid, term) AS (VALUES {_query_values()}),
{_BM25_SCORED_CTES},
boosted AS (
  SELECT qid, doc_id,
         score + CASE WHEN doc_id % 3 = 0 AND score <> 0.0
                      THEN 0.5 * ((doc_id % 7) / 7.0)
                      ELSE 0.0 END AS score
  FROM scored
)
SELECT qid, doc_id,
       CAST(round(score, {SCORE_DECIMALS}) AS DOUBLE) AS score_r,
       (row_number() OVER (
          PARTITION BY qid
          ORDER BY round(score, {SCORE_DECIMALS}) DESC, doc_id) - 1)::BIGINT
         AS rank
FROM boosted
QUALIFY rank < {k}
"""


def _eval_map_sql(k: int = GATE_K) -> str:
    """Per-query average precision of the gate BM25 run against the
    deterministic qrels (doc relevant to qN iff doc_id % 7 == N % 7) —
    the AdhocEvaluation.java AP computation: sum over retrieved
    relevant docs of hits/(rank+1), divided by TOTAL relevant R."""
    return f"""
WITH {TOKS_CTE},
q(qid, term) AS (VALUES {_query_values()}),
{_BM25_SCORED_CTES},
run AS (
  SELECT qid, doc_id,
         (row_number() OVER (
            PARTITION BY qid
            ORDER BY round(score, {SCORE_DECIMALS}) DESC, doc_id) - 1)
           AS rank
  FROM scored
  QUALIFY rank < {k}
),
flags AS (
  SELECT qid, doc_id, rank,
         CASE WHEN doc_id % 7 = CAST(substr(qid, 2) AS INT) % 7
              THEN 1 ELSE 0 END AS is_rel
  FROM run
),
cum AS (
  SELECT qid, rank, is_rel,
         SUM(is_rel) OVER (
           PARTITION BY qid ORDER BY rank
           ROWS UNBOUNDED PRECEDING) AS hits
  FROM flags
),
contrib AS (
  SELECT qid,
         SUM(CASE WHEN is_rel = 1
                  THEN hits::DOUBLE / (rank + 1) ELSE 0.0 END) AS s
  FROM cum GROUP BY qid
),
rtot AS (
  SELECT c.qid,
         (SELECT COUNT(*) FROM documents d
          WHERE d.doc_id % 7 = CAST(substr(c.qid, 2) AS INT) % 7)::DOUBLE
           AS r
  FROM contrib c
)
SELECT contrib.qid, CAST(round(contrib.s / rtot.r, 8) AS DOUBLE) AS ap
FROM contrib JOIN rtot ON rtot.qid = contrib.qid
"""


def _eval_namedpage_sql(k: int = GATE_K, cutoff: int = 50) -> str:
    """Per-query reciprocal rank of the first relevant retrieved doc
    (NamedPageEvaluation.java: counted only within the top-`cutoff`,
    1-based ranks), same deterministic qrels as eval_map; 0.0 when no
    relevant doc is retrieved."""
    return f"""
WITH {TOKS_CTE},
q(qid, term) AS (VALUES {_query_values()}),
{_BM25_SCORED_CTES},
run AS (
  SELECT qid, doc_id,
         (row_number() OVER (
            PARTITION BY qid
            ORDER BY round(score, {SCORE_DECIMALS}) DESC, doc_id) - 1)
           AS rank
  FROM scored
  QUALIFY rank < {k}
),
firstrel AS (
  SELECT qid, MIN(rank) + 1 AS r1
  FROM run
  WHERE doc_id % 7 = CAST(substr(qid, 2) AS INT) % 7
  GROUP BY qid
)
SELECT q.qid,
       CAST(round(COALESCE(
         CASE WHEN f.r1 <= {cutoff} THEN 1.0 / f.r1 END, 0.0), 8)
         AS DOUBLE) AS rr
FROM (SELECT DISTINCT qid FROM q) q
LEFT JOIN firstrel f ON f.qid = q.qid
"""


def _bo1_expansion_ctes(query_values: Optional[str] = None) -> str:
    """Shared CTE chain of the Bo1 PRF oracle, ending at `combined`
    (qid, term, merged qtf) — the expanded query itself.  Used whole by
    `_bo1_expansion_sql` (second-pass BM25 on top) and cut there by
    `_expansion_terms_sql` (the CollectionEnrichment surface), so the
    two oracles cannot drift apart.  `query_values` overrides the gate
    query VALUES (the enrichment oracle passes its normalised terms)."""
    qv = _query_values() if query_values is None else query_values
    return f"""
WITH {TOKS_CTE},
q(qid, term) AS (VALUES {qv}),
{_BM25_SCORED_CTES},
fbsel AS (
  SELECT qid, doc_id FROM (
    SELECT qid, doc_id,
           row_number() OVER (
             PARTITION BY qid ORDER BY score DESC, doc_id) AS rr
    FROM scored) WHERE rr <= 3
),
fb AS (
  SELECT f.qid, t.doc_id, t.term, COUNT(*)::DOUBLE AS tf
  FROM fbsel f JOIN toks t ON t.doc_id = f.doc_id
  GROUP BY f.qid, t.doc_id, t.term
),
per_term AS (
  SELECT qid, term, SUM(tf) AS tf_x,
         COUNT(DISTINCT doc_id)::DOUBLE AS ndt
  FROM fb GROUP BY qid, term
),
per_qid AS (
  SELECT qid, COUNT(DISTINCT doc_id)::DOUBLE AS nfb, SUM(tf) AS total_dl
  FROM fb GROUP BY qid
),
lexf AS (SELECT term, COUNT(*)::DOUBLE AS tfc FROM toks GROUP BY term),
consts3 AS (
  SELECT (SELECT COUNT(*) FROM documents)::DOUBLE AS n,
         (SELECT COUNT(*) FROM toks)::DOUBLE AS t
),
cand AS (
  SELECT pt.qid, pt.term, pt.tf_x, pt.ndt, pq.nfb, lexf.tfc,
         (q2.term IS NOT NULL) AS is_original
  FROM per_term pt
  JOIN per_qid pq ON pq.qid = pt.qid
  JOIN lexf ON lexf.term = pt.term
  LEFT JOIN (SELECT DISTINCT qid, term FROM q) q2
         ON q2.qid = pt.qid AND q2.term = pt.term
),
weighted AS (
  SELECT c.qid, c.term, c.tf_x, c.is_original,
         CASE WHEN c.nfb >= 2 AND c.ndt < 2 AND NOT c.is_original
              THEN 0.0
              ELSE c.tf_x * log2((1.0 + c.tfc / s.n) / (c.tfc / s.n))
                   + log2(1.0 + c.tfc / s.n) END AS w
  FROM cand c CROSS JOIN consts3 s
),
norms AS (
  SELECT qid, tf_max,
         tf_max * log2((1.0 + tf_max / (s.t / (s.t / s.n)))
                       / (tf_max / (s.t / (s.t / s.n))))
         + log2(1.0 + tf_max / (s.t / (s.t / s.n))) AS norm
  FROM (
    SELECT qid, tf_x AS tf_max,
           row_number() OVER (
             PARTITION BY qid ORDER BY w DESC, term ASC) AS rn
    FROM weighted) m CROSS JOIN consts3 s
  WHERE m.rn = 1
),
wnormed AS (
  SELECT w.qid, w.term,
         CASE WHEN n.norm > 0 THEN w.w / n.norm ELSE 0.0 END AS w_norm
  FROM weighted w JOIN norms n ON n.qid = w.qid
),
n_orig AS (SELECT qid, COUNT(DISTINCT term) AS n_orig FROM q GROUP BY qid),
top AS (
  SELECT qid, term, w_norm FROM (
    SELECT w.qid, w.term, w.w_norm,
           row_number() OVER (
             PARTITION BY w.qid
             ORDER BY w.w_norm DESC, w.term ASC) AS rn,
           o.n_orig
    FROM wnormed w JOIN n_orig o ON o.qid = w.qid)
  WHERE rn <= greatest(10, n_orig)
),
combined AS (
  SELECT COALESCE(t.qid, o.qid) AS qid,
         COALESCE(t.term, o.term) AS term,
         COALESCE(o.qtf, 0.0) + COALESCE(t.w_norm, 0.0) AS qtf
  FROM top t
  FULL OUTER JOIN (SELECT qid, term, 1.0 AS qtf FROM q) o
    ON o.qid = t.qid AND o.term = t.term
)"""


def _bo1_expansion_sql(k: int = GATE_K) -> str:
    """Full two-pass Bo1 PRF in one DuckDB query, mirroring
    expand_queries step-for-step: feedback set = top-3 first-pass docs
    (raw score desc, doc_id asc); tf_x / n-docs-with-term / total_dl
    from the feedback token stream (the direct index transpose);
    w(t) = tf_x*log2((1+f)/f) + log2(1+f) with f = F/N
    (Bo1.java:score), zeroed for candidates in < 2 feedback docs unless
    original (DFRBagExpansionTerms.java:85,267); normaliser from the
    max-weight term's tf_x with n' = T/avgdl (Bo1.java:55-61 quirk,
    avgdl computed as T/N in double to match the engine's floats);
    top max(10, |q|) candidates by (w_norm desc, term asc); merged
    qtf = original 1.0 + w_norm (addTermPropertyWeight); second-pass
    BM25 with qtf as keyFrequency."""
    return _bo1_expansion_ctes() + f""",
scored2 AS (
  -- keyFrequency saturation (BM25.java k3=8): (k3+1)*qtf/(k3+qtf)
  SELECT c.qid, tf.doc_id,
         SUM(
           tf.tf * (8.0 + 1.0) * c.qtf
           / ((8.0 + c.qtf)
              * (1.2 * ((1.0 - 0.75) + 0.75 * dl.dl / consts.avgdl) + tf.tf))
           * log2((consts.n - ntt.nt + 0.5) / (ntt.nt + 0.5))
         ) AS score
  FROM combined c
  JOIN tf ON tf.term = c.term
  JOIN dl ON dl.doc_id = tf.doc_id
  JOIN ntt ON ntt.term = c.term
  CROSS JOIN consts
  GROUP BY c.qid, tf.doc_id
)
SELECT qid, doc_id,
       CAST(round(score, {SCORE_DECIMALS}) AS DOUBLE) AS score_r,
       (row_number() OVER (
          PARTITION BY qid
          ORDER BY round(score, {SCORE_DECIMALS}) DESC, doc_id) - 1)::BIGINT
         AS rank
FROM scored2
QUALIFY rank < {k}
"""


def _expansion_terms_sql() -> str:
    """Expanded-query term weights (the CollectionEnrichment surface):
    the identical Bo1 CTE chain cut at `combined`, before the second
    retrieval pass.  The q VALUES are the POST-normalisation terms —
    the wrapper applies the reference's normaliseString first, whose
    naive ` or`/` and` replaces mangle e.g. 'order' -> 'der' — so the
    oracle sees exactly what the engine's first pass sees."""
    from terrier_spark.query.expansion import normalise_enrichment_query

    rows = []
    for qid, terms in GATE_QUERIES:
        for t in normalise_enrichment_query(" ".join(terms)).split():
            rows.append(f"('{qid}', '{t}')")
    return _bo1_expansion_ctes(", ".join(rows)) + f"""
SELECT qid, term, CAST(round(qtf, {SCORE_DECIMALS}) AS DOUBLE) AS qtf_r
FROM combined
"""


def _dependence_sql(variant: str, k: int = GATE_K,
                    dependency: str = "SD") -> str:
    """SD dependence over a Hiemstra_LM base, mirroring
    search_with_dependence term-for-term.  With window=2 the
    noTimesSameOrder count (Distance.java:255-283) reduces to
    #{p1 : p1+2 <= dl and (p1+1) is a position of the second term} —
    pure adjacency with the end-of-doc guard, expressible as a
    positional self-join.  bg is the ngram-adjusted average document
    length (setCollectionStatistics:393-397).  DFR drops m == 0 pairs
    (scoreFDSD returns 0, DFRDependenceScoreModifier.java:91-92); MRF
    keeps every doc containing both terms — the m == 0 length penalty
    log2(mu/(dl+mu)) applies (MRFDependenceScoreModifier.java:70-75,
    mu=4000, defaultCf=2*N/100)."""
    # SD: ordered adjacency (t1 then t2) with the p1 + window <= dl
    # guard; FD with window=2: a size-2 sliding window contains both
    # distinct terms iff they are adjacent in EITHER order, and each
    # such adjacency maps to a unique window start min(p1, p2), so
    # |pos difference| = 1 counts windows exactly (Distance.noTimes).
    adjacency = (
        "b.pos = a.pos + 1" if dependency == "SD"
        else "abs(b.pos - a.pos) = 1"
    )
    dl_guard = "WHERE a.pos + 2 <= dl.dl" if dependency == "SD" else ""
    if variant == "DFR":
        pair_cand = f"""
pm AS (
  SELECT p.qid, p.t1, p.t2, a.doc_id, COUNT(*)::DOUBLE AS m
  FROM pairs p
  JOIN postoks a ON a.term = p.t1
  JOIN postoks b ON b.doc_id = a.doc_id AND b.term = p.t2
                AND {adjacency}
  JOIN dl ON dl.doc_id = a.doc_id
  {dl_guard}
  GROUP BY p.qid, p.t1, p.t2, a.doc_id
)"""
        pair_score = """
  (
    (-lgamma(c.bg + 1.0) + lgamma(c.pfn + 1.0)
     + lgamma(c.bg - c.pfn + 1.0)) / ln(2.0)
    - c.pfn * log2(1.0 / c.bg)
    - (c.bg - c.pfn) * log2(1.0 - 1.0 / c.bg)
  ) / (1.0 + c.pfn)"""
        pfn_cte = """
pscored AS (
  SELECT qid, doc_id, {score} AS pair_score
  FROM (
    SELECT pm.qid, pm.doc_id,
           (SELECT bg FROM consts2) AS bg,
           pm.m * log2(1.0 + (SELECT bg FROM consts2)
                 / (CASE WHEN dl.dl < 2 THEN 1.0 ELSE dl.dl - 1.0 END))
             AS pfn
    FROM pm JOIN dl ON dl.doc_id = pm.doc_id
  ) c
)""".format(score=pair_score)
    else:  # MRF
        pair_cand = """
td AS (SELECT DISTINCT doc_id, term FROM toks),
adj AS (
  SELECT p.qid, p.t1, p.t2, a.doc_id, COUNT(*)::DOUBLE AS m
  FROM pairs p
  JOIN postoks a ON a.term = p.t1
  JOIN postoks b ON b.doc_id = a.doc_id AND b.term = p.t2
                AND b.pos = a.pos + 1
  JOIN dl ON dl.doc_id = a.doc_id
  WHERE a.pos + 2 <= dl.dl
  GROUP BY p.qid, p.t1, p.t2, a.doc_id
),
pm AS (
  SELECT p.qid, p.t1, p.t2, x1.doc_id, COALESCE(adj.m, 0.0) AS m
  FROM pairs p
  JOIN td x1 ON x1.term = p.t1
  JOIN td x2 ON x2.term = p.t2 AND x2.doc_id = x1.doc_id
  LEFT JOIN adj ON adj.qid = p.qid AND adj.t1 = p.t1 AND adj.t2 = p.t2
               AND adj.doc_id = x1.doc_id
)"""
        pfn_cte = """
pscored AS (
  SELECT pm.qid, pm.doc_id,
         log2(1.0 + pm.m
              / (4000.0 * (2.0 * ((SELECT n FROM consts2) / 100.0))
                 / (SELECT t FROM consts2)))
         + log2(4000.0 / (dl.dl + 4000.0)) AS pair_score
  FROM pm JOIN dl ON dl.doc_id = pm.doc_id
)"""
    return f"""
WITH {TOKS_CTE},
{POS_CTE},
tf AS (
  SELECT doc_id, term, COUNT(*)::DOUBLE AS tf FROM toks GROUP BY doc_id, term
),
dl AS (
  SELECT doc_id, COUNT(*)::DOUBLE AS dl FROM toks GROUP BY doc_id
),
ff AS (
  SELECT term, COUNT(*)::DOUBLE AS f FROM toks GROUP BY term
),
consts2 AS (
  SELECT (SELECT COUNT(*) FROM documents)::DOUBLE AS n,
         (SELECT COUNT(*) FROM toks)::DOUBLE AS t,
         ((SELECT COUNT(*) FROM toks)::DOUBLE
          - (SELECT COUNT(*) FROM documents)::DOUBLE)
           / (SELECT COUNT(*) FROM documents)::DOUBLE AS bg
),
q(qid, term) AS (VALUES {_query_values()}),
pairs(qid, t1, t2) AS (VALUES {
    _sd_pair_values() if dependency == "SD" else _fd_pair_values()}),
base AS (
  SELECT q.qid, tf.doc_id,
         SUM(log2(1.0 + (0.15 * tf.tf * (SELECT t FROM consts2))
                  / (0.85 * ff.f * dl.dl))) AS score
  FROM q
  JOIN tf ON tf.term = q.term
  JOIN dl ON dl.doc_id = tf.doc_id
  JOIN ff ON ff.term = q.term
  GROUP BY q.qid, tf.doc_id
),
{pair_cand},
{pfn_cte},
prox AS (
  SELECT qid, doc_id, SUM(pair_score) AS prox
  FROM pscored GROUP BY qid, doc_id
),
final AS (
  SELECT base.qid, base.doc_id,
         CASE WHEN base.score > 0
              THEN base.score + COALESCE(prox.prox, 0.0)
              ELSE base.score END AS score
  FROM base
  LEFT JOIN prox ON prox.qid = base.qid AND prox.doc_id = base.doc_id
)
SELECT qid, doc_id,
       CAST(round(score, {SCORE_DECIMALS}) AS DOUBLE) AS score_r,
       (row_number() OVER (
          PARTITION BY qid
          ORDER BY round(score, {SCORE_DECIMALS}) DESC, doc_id) - 1)::BIGINT
         AS rank
FROM final
QUALIFY rank < {k}
"""

def _tf_idf_sql(k: int = GATE_K) -> str:
    return f"""
WITH {TOKS_CTE},
tf AS (
  SELECT doc_id, term, COUNT(*)::DOUBLE AS tf
  FROM toks GROUP BY doc_id, term
),
dl AS (
  SELECT doc_id, COUNT(*)::DOUBLE AS dl FROM toks GROUP BY doc_id
),
consts AS (
  SELECT (SELECT COUNT(*) FROM documents)::DOUBLE AS n,
         (SELECT COUNT(*) FROM toks)::DOUBLE
           / (SELECT COUNT(*) FROM documents)::DOUBLE AS avgdl
),
ntt AS (
  SELECT term, COUNT(DISTINCT doc_id)::DOUBLE AS nt FROM toks GROUP BY term
),
q(qid, term) AS (VALUES {_query_values()}),
scored AS (
  SELECT q.qid, tf.doc_id,
         SUM(
           1.0 * (1.2 * tf.tf
                  / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / consts.avgdl)))
           * log2(consts.n / ntt.nt + 1.0)
         ) AS score
  FROM q
  JOIN tf ON tf.term = q.term
  JOIN dl ON dl.doc_id = tf.doc_id
  JOIN ntt ON ntt.term = q.term
  CROSS JOIN consts
  GROUP BY q.qid, tf.doc_id
)
SELECT qid, doc_id,
       CAST(round(score, {SCORE_DECIMALS}) AS DOUBLE) AS score_r,
       (row_number() OVER (
          PARTITION BY qid
          ORDER BY round(score, {SCORE_DECIMALS}) DESC, doc_id) - 1)::BIGINT
         AS rank
FROM scored
QUALIFY rank < {k}
"""


def _dirichlet_sql(k: int = GATE_K) -> str:
    return f"""
WITH {TOKS_CTE},
tf AS (
  SELECT doc_id, term, COUNT(*)::DOUBLE AS tf
  FROM toks GROUP BY doc_id, term
),
dl AS (
  SELECT doc_id, COUNT(*)::DOUBLE AS dl FROM toks GROUP BY doc_id
),
consts AS (
  SELECT (SELECT COUNT(*) FROM toks)::DOUBLE AS t
),
ctf AS (
  SELECT term, COUNT(*)::DOUBLE AS f FROM toks GROUP BY term
),
q(qid, term) AS (VALUES {_query_values()}),
scored AS (
  SELECT q.qid, tf.doc_id,
         SUM(
           log2(1.0 + tf.tf / (2500.0 * (ctf.f / consts.t)))
           + log2(2500.0 / (dl.dl + 2500.0))
         ) AS score
  FROM q
  JOIN tf ON tf.term = q.term
  JOIN dl ON dl.doc_id = tf.doc_id
  JOIN ctf ON ctf.term = q.term
  CROSS JOIN consts
  GROUP BY q.qid, tf.doc_id
)
SELECT qid, doc_id,
       CAST(round(score, {SCORE_DECIMALS}) AS DOUBLE) AS score_r,
       (row_number() OVER (
          PARTITION BY qid
          ORDER BY round(score, {SCORE_DECIMALS}) DESC, doc_id) - 1)::BIGINT
         AS rank
FROM scored
QUALIFY rank < {k}
"""


def _dfr_model_sql(score_expr: str, k: int = GATE_K) -> str:
    """Shared top-k oracle template: per-(query-term, doc) rows expose
    tf, dl, tfn (Normalisation2, c=1), nt, f (collection term frequency),
    n, avgdl, t; `score_expr` computes the per-term score from them
    (qtf = 1 in the gate set)."""
    return f"""
WITH {TOKS_CTE},
tf AS (
  SELECT doc_id, term, COUNT(*)::DOUBLE AS tf
  FROM toks GROUP BY doc_id, term
),
dl AS (
  SELECT doc_id, COUNT(*)::DOUBLE AS dl FROM toks GROUP BY doc_id
),
consts AS (
  SELECT (SELECT COUNT(*) FROM documents)::DOUBLE AS n,
         (SELECT COUNT(*) FROM toks)::DOUBLE AS t,
         (SELECT COUNT(*) FROM toks)::DOUBLE
           / (SELECT COUNT(*) FROM documents)::DOUBLE AS avgdl
),
ntt AS (
  SELECT term, COUNT(DISTINCT doc_id)::DOUBLE AS nt FROM toks GROUP BY term
),
ctf AS (
  SELECT term, COUNT(*)::DOUBLE AS f FROM toks GROUP BY term
),
q(qid, term) AS (VALUES {_query_values()}),
rows_ AS (
  SELECT q.qid, tf.doc_id,
         tf.tf AS tf, dl.dl AS dl,
         tf.tf * log2(1.0 + consts.avgdl / dl.dl) AS tfn,
         ntt.nt AS nt, ctf.f AS f,
         consts.n AS n, consts.avgdl AS avgdl, consts.t AS t
  FROM q
  JOIN tf ON tf.term = q.term
  JOIN dl ON dl.doc_id = tf.doc_id
  JOIN ntt ON ntt.term = q.term
  JOIN ctf ON ctf.term = q.term
  CROSS JOIN consts
),
scored AS (
  SELECT qid, doc_id, SUM({score_expr}) AS score
  FROM rows_ GROUP BY qid, doc_id
)
SELECT qid, doc_id,
       CAST(round(score, {SCORE_DECIMALS}) AS DOUBLE) AS score_r,
       (row_number() OVER (
          PARTITION BY qid
          ORDER BY round(score, {SCORE_DECIMALS}) DESC, doc_id) - 1)::BIGINT
         AS rank
FROM scored
QUALIFY rank < {k}
"""


# log2(e) spelled as 1/ln(2) so DuckDB computes the identical double
_L2E = "(1.0 / ln(2.0))"

# PL2.java score() with c=1, qtf=1
_PL2_EXPR = f"""(1.0 / (tfn + 1.0)) * (
    tfn * log2(n / f)
    + (f / n) * {_L2E}
    + 0.5 * log2(2.0 * pi() * tfn)
    + tfn * (log2(tfn) - {_L2E})
)"""

# InL2.java score() with c=1, qtf=1; idfDFR = log2((N+1)/(nt+0.5))
_INL2_EXPR = """tfn * log2((n + 1.0) / (nt + 0.5)) / (tfn + 1.0)"""

# DPH.java score(), parameter-free, qtf=1
_DPH_EXPR = """(
    pow(1.0 - tf / dl, 2) / (tf + 1.0)
) * (
    tf * log2((tf * avgdl / dl) * (n / f))
    + 0.5 * log2(2.0 * pi() * tf * (1.0 - tf / dl))
)"""


# per-field token streams for the field gate: fi 0 = source, fi 1 = text
FIELD_TOKS_CTE = f"""
raw0 AS (
  SELECT doc_id,
         unnest(list_filter(regexp_extract_all(source, '[A-Za-z0-9]+'),
                x -> len(x) <= {MAX_TERM_LEN}
                     AND NOT regexp_matches(x, '{DIGITS5_RE}')
                     AND NOT regexp_matches(x, '{CONSEQ4_RE}'))) AS tok
  FROM documents
),
raw1 AS (
  SELECT doc_id,
         unnest(list_filter(regexp_extract_all(text, '[A-Za-z0-9]+'),
                x -> len(x) <= {MAX_TERM_LEN}
                     AND NOT regexp_matches(x, '{DIGITS5_RE}')
                     AND NOT regexp_matches(x, '{CONSEQ4_RE}'))) AS tok
  FROM documents
),
ftoks AS (
  SELECT doc_id, lower(tok) AS term, 0 AS fi FROM raw0
  WHERE lower(tok) NOT IN ({_STOP_LIST})
  UNION ALL
  SELECT doc_id, lower(tok) AS term, 1 AS fi FROM raw1
  WHERE lower(tok) NOT IN ({_STOP_LIST})
),
ftf AS (
  SELECT doc_id, term,
         SUM(CASE WHEN fi = 0 THEN 1 ELSE 0 END)::DOUBLE AS tf0,
         SUM(CASE WHEN fi = 1 THEN 1 ELSE 0 END)::DOUBLE AS tf1
  FROM ftoks GROUP BY doc_id, term
),
flen AS (
  SELECT d.doc_id,
         COALESCE(SUM(CASE WHEN t.fi = 0 THEN 1 END), 0)::DOUBLE AS len0,
         COALESCE(SUM(CASE WHEN t.fi = 1 THEN 1 END), 0)::DOUBLE AS len1
  FROM documents d LEFT JOIN ftoks t ON t.doc_id = d.doc_id
  GROUP BY d.doc_id
),
fconsts AS (
  SELECT (SELECT COUNT(*) FROM documents)::DOUBLE AS n,
         (SELECT SUM(len0) FROM flen)
           / (SELECT COUNT(*) FROM documents)::DOUBLE AS avg0,
         (SELECT SUM(len1) FROM flen)
           / (SELECT COUNT(*) FROM documents)::DOUBLE AS avg1
),
fnt AS (
  SELECT term, COUNT(DISTINCT doc_id)::DOUBLE AS nt FROM ftoks GROUP BY term
)"""

_TOPK_TAIL = f"""
SELECT qid, doc_id,
       CAST(round(score, {SCORE_DECIMALS}) AS DOUBLE) AS score_r,
       (row_number() OVER (
          PARTITION BY qid
          ORDER BY round(score, {SCORE_DECIMALS}) DESC, doc_id) - 1)::BIGINT
         AS rank
FROM scored
QUALIFY rank < {GATE_K}
"""


def _bm25f_sql() -> str:
    """BM25F with w=c=1 (NormalisationB tfn_i = tf_i * avg_i / len_i;
    qtf=1 so the k3 factor is 1)."""
    return f"""
WITH {FIELD_TOKS_CTE},
q(qid, term) AS (VALUES {_query_values()}),
scored AS (
  SELECT q.qid, ftf.doc_id,
         SUM(
           (2.2 * tfn / (1.2 + tfn))
           * log2((fconsts.n - fnt.nt + 0.5) / (fnt.nt + 0.5))
         ) AS score
  FROM q
  JOIN ftf ON ftf.term = q.term
  JOIN flen ON flen.doc_id = ftf.doc_id
  JOIN fnt ON fnt.term = q.term
  CROSS JOIN fconsts
  CROSS JOIN LATERAL (SELECT
      CASE WHEN ftf.tf0 > 0 THEN ftf.tf0 * fconsts.avg0 / flen.len0 ELSE 0 END
      + CASE WHEN ftf.tf1 > 0 THEN ftf.tf1 * fconsts.avg1 / flen.len1 ELSE 0 END
      AS tfn) _
  GROUP BY q.qid, ftf.doc_id
)
{_TOPK_TAIL}
"""


def _single_field_sql() -> str:
    """SingleFieldModel(BM25, content): tf/dl from the content field; nt
    stays global but avgdl is restricted to the ACTIVE field's tokens
    (= avg1), per SingleFieldModel.setCollectionStatistics:107-125."""
    return f"""
WITH {FIELD_TOKS_CTE},
q(qid, term) AS (VALUES {_query_values()}),
scored AS (
  SELECT q.qid, ftf.doc_id,
         SUM(
           ftf.tf1
           / (1.2 * (0.25 + 0.75 * flen.len1 / fconsts.avg1)
              + ftf.tf1)
           * log2((fconsts.n - fnt.nt + 0.5) / (fnt.nt + 0.5))
         ) AS score
  FROM q
  JOIN ftf ON ftf.term = q.term AND ftf.tf1 > 0
  JOIN flen ON flen.doc_id = ftf.doc_id
  JOIN fnt ON fnt.term = q.term
  CROSS JOIN fconsts
  GROUP BY q.qid, ftf.doc_id
)
{_TOPK_TAIL}
"""


def _field_restrict_sql() -> str:
    """BM25 whole-doc scoring of {data, row, src1, slow} minus docs where
    a restricted term occurs but not in the source field."""
    terms_vals = ", ".join(
        f"('q1', '{t}')" for t in ["data", "row", "src1", "slow"]
    )
    return f"""
WITH {FIELD_TOKS_CTE},
q(qid, term) AS (VALUES {terms_vals}),
scored0 AS (
  SELECT q.qid, ftf.doc_id,
         SUM(
           (ftf.tf0 + ftf.tf1)
           / (1.2 * (0.25 + 0.75 * (flen.len0 + flen.len1)
                     / (fconsts.avg0 + fconsts.avg1))
              + ftf.tf0 + ftf.tf1)
           * log2((fconsts.n - fnt.nt + 0.5) / (fnt.nt + 0.5))
         ) AS score
  FROM q
  JOIN ftf ON ftf.term = q.term
  JOIN flen ON flen.doc_id = ftf.doc_id
  JOIN fnt ON fnt.term = q.term
  CROSS JOIN fconsts
  GROUP BY q.qid, ftf.doc_id
),
scored AS (
  SELECT s.* FROM scored0 s
  WHERE NOT EXISTS (SELECT 1 FROM ftf
                    WHERE ftf.doc_id = s.doc_id
                      AND ftf.term IN ('src1', 'slow')
                      AND ftf.tf0 = 0)
)
{_TOPK_TAIL}
"""


def _structured_sql(k: int = GATE_K) -> str:
    terms_vals = ", ".join(
        f"('q1', '{t}')" for t in STRUCTURED_SCORE_TERMS
    )
    return f"""
WITH {TOKS_CTE},
tf AS (
  SELECT doc_id, term, COUNT(*)::DOUBLE AS tf
  FROM toks GROUP BY doc_id, term
),
dl AS (
  SELECT doc_id, COUNT(*)::DOUBLE AS dl FROM toks GROUP BY doc_id
),
consts AS (
  SELECT (SELECT COUNT(*) FROM documents)::DOUBLE AS n,
         (SELECT COUNT(*) FROM toks)::DOUBLE
           / (SELECT COUNT(*) FROM documents)::DOUBLE AS avgdl
),
ntt AS (
  SELECT term, COUNT(DISTINCT doc_id)::DOUBLE AS nt FROM toks GROUP BY term
),
q(qid, term) AS (VALUES {terms_vals}),
scored AS (
  SELECT q.qid, tf.doc_id,
         SUM(
           tf.tf * (8.0 + 1.0) * 1.0
           / ((8.0 + 1.0)
              * (1.2 * ((1.0 - 0.75) + 0.75 * dl.dl / consts.avgdl) + tf.tf))
           * log2((consts.n - ntt.nt + 0.5) / (ntt.nt + 0.5))
         ) AS score
  FROM q
  JOIN tf ON tf.term = q.term
  JOIN dl ON dl.doc_id = tf.doc_id
  JOIN ntt ON ntt.term = q.term
  CROSS JOIN consts
  GROUP BY q.qid, tf.doc_id
),
constrained AS (
  SELECT s.* FROM scored s
  WHERE EXISTS (SELECT 1 FROM tf
                WHERE tf.doc_id = s.doc_id
                  AND tf.term = '{STRUCTURED_REQUIRED}')
    AND NOT EXISTS (SELECT 1 FROM tf
                    WHERE tf.doc_id = s.doc_id
                      AND tf.term = '{STRUCTURED_NEGATIVE}')
)
SELECT qid, doc_id,
       CAST(round(score, {SCORE_DECIMALS}) AS DOUBLE) AS score_r,
       (row_number() OVER (
          PARTITION BY qid
          ORDER BY round(score, {SCORE_DECIMALS}) DESC, doc_id) - 1)::BIGINT
         AS rank
FROM constrained
QUALIFY rank < {k}
"""


IR_QUERIES = {
    "lexicon": q_lexicon,
    "tf_idf_topk": q_tf_idf_topk,
    "dirichlet_topk": q_dirichlet_topk,
    "pl2_topk": q_pl2_topk,
    "inl2_topk": q_inl2_topk,
    "dph_topk": q_dph_topk,
    "bm25f_topk": q_bm25f_topk,
    "single_field_topk": q_single_field_topk,
    "field_restrict_topk": q_field_restrict_topk,
    "structured_topk": q_structured_topk,
    "structured_group_topk": q_structured_group_topk,
    "doc_lengths": q_doc_lengths,
    "collection_stats": q_collection_stats,
    "postings": q_postings,
    "postings_bitcodec": q_postings_bitcodec,
    "bm25_topk": q_bm25_topk,
    "boolean_and": q_boolean_and,
    "boolean_or": q_boolean_or,
    "phrase": q_phrase,
    "proximity": q_proximity,
    "sd_dfr_topk": q_sd_dfr_topk,
    "sd_mrf_topk": q_sd_mrf_topk,
    "fd_dfr_topk": q_fd_dfr_topk,
    "dsm_static_topk": q_dsm_static_topk,
    "eval_map": q_eval_map,
    "eval_namedpage": q_eval_namedpage,
    "bo1_expansion_topk": q_bo1_expansion_topk,
    "expansion_terms": q_expansion_terms,
    "merged_bm25_topk": q_merged_bm25_topk,
    "incremental_bm25_topk": q_incremental_bm25_topk,
}

IR_ORACLE_SQL = {
    "lexicon": f"""
WITH {TOKS_CTE}
SELECT term, COUNT(DISTINCT doc_id)::BIGINT AS nt, COUNT(*)::BIGINT AS tf
FROM toks GROUP BY term
""",
    "doc_lengths": f"""
WITH {TOKS_CTE},
dl AS (SELECT doc_id, COUNT(*)::BIGINT AS doclen FROM toks GROUP BY doc_id)
SELECT d.doc_id, COALESCE(dl.doclen, 0)::BIGINT AS doclen
FROM documents d LEFT JOIN dl ON dl.doc_id = d.doc_id
""",
    "collection_stats": f"""
WITH {TOKS_CTE}
SELECT (SELECT COUNT(*) FROM documents)::BIGINT AS num_docs,
       (SELECT COUNT(DISTINCT term) FROM toks)::BIGINT AS num_terms,
       (SELECT COUNT(*) FROM toks)::BIGINT AS num_tokens,
       (SELECT COUNT(*) FROM (SELECT DISTINCT doc_id, term FROM toks))::BIGINT
         AS num_pointers,
       CAST(round((SELECT COUNT(*) FROM toks)::DOUBLE
             / (SELECT COUNT(*) FROM documents)::DOUBLE, 6) AS DOUBLE)
         AS avg_doclen
""",
    "postings": f"""
WITH {TOKS_CTE}
SELECT term, doc_id, COUNT(*)::BIGINT AS tf
FROM toks WHERE term IN ({_PTERMS_IN})
GROUP BY term, doc_id
""",
    # identical truth: the bit-codec path must be lossless vs VByte
    "postings_bitcodec": f"""
WITH {TOKS_CTE}
SELECT term, doc_id, COUNT(*)::BIGINT AS tf
FROM toks WHERE term IN ({_PTERMS_IN})
GROUP BY term, doc_id
""",
    "bm25_topk": _bm25_sql(),
    "tf_idf_topk": _tf_idf_sql(),
    "dirichlet_topk": _dirichlet_sql(),
    "pl2_topk": _dfr_model_sql(_PL2_EXPR),
    "inl2_topk": _dfr_model_sql(_INL2_EXPR),
    "dph_topk": _dfr_model_sql(_DPH_EXPR),
    "bm25f_topk": _bm25f_sql(),
    "single_field_topk": _single_field_sql(),
    "field_restrict_topk": _field_restrict_sql(),
    "structured_topk": _structured_sql(),
    "structured_group_topk": _group_sql(),
    "boolean_and": f"""
WITH {TOKS_CTE}
SELECT doc_id FROM toks WHERE term IN ({_TERMS_IN})
GROUP BY doc_id HAVING COUNT(DISTINCT term) = {len(BOOLEAN_TERMS)}
""",
    "boolean_or": f"""
WITH {TOKS_CTE}
SELECT doc_id, COUNT(DISTINCT term)::BIGINT AS n_matched
FROM toks WHERE term IN ({_TERMS_IN})
GROUP BY doc_id
""",
    "phrase": f"""
WITH {POS_CTE}
SELECT DISTINCT a.doc_id
FROM postoks a JOIN postoks b ON a.doc_id = b.doc_id
WHERE a.term = '{PHRASE[0]}' AND b.term = '{PHRASE[1]}'
  AND b.pos = a.pos + 1
""",
    "proximity": f"""
WITH {POS_CTE}
SELECT DISTINCT a.doc_id
FROM postoks a JOIN postoks b ON a.doc_id = b.doc_id
WHERE a.term = '{PHRASE[0]}' AND b.term = '{PHRASE[1]}'
  AND abs(b.pos - a.pos) <= {PROXIMITY_WINDOW}
""",
    "sd_dfr_topk": _dependence_sql("DFR"),
    "sd_mrf_topk": _dependence_sql("MRF"),
    "fd_dfr_topk": _dependence_sql("DFR", dependency="FD"),
    "dsm_static_topk": _dsm_static_sql(),
    "eval_map": _eval_map_sql(),
    "eval_namedpage": _eval_namedpage_sql(),
    "bo1_expansion_topk": _bo1_expansion_sql(),
    "expansion_terms": _expansion_terms_sql(),
    # split-build + StructureMerger and 3-batch IncrementalIndex must be
    # indistinguishable from a one-shot build: same BM25 truth
    "merged_bm25_topk": _bm25_sql(),
    "incremental_bm25_topk": _bm25_sql(),
}
