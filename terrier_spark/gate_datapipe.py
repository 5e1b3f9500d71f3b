"""Datapipe gate queries: paired (Spark callable, DuckDB oracle SQL) for
the training-data pipeline operators (dedup / similarity search / text
analysis) over the driver testdata `documents` and `embeddings` tables.

Cross-engine determinism rests on one shared hash primitive:
60-bit md5-int == Spark `conv(substr(md5(x),1,15),16,10)::long`
            == DuckDB `('0x'||substr(md5(x),1,15))::BIGINT`
(verified identical), plus affine rehashing mod 2^31-1 which never
overflows signed 64-bit in either engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from terrier_spark.datapipe.dedup import (
    MERSENNE31,
    _hash_params,
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash_fingerprints,
)
from terrier_spark.datapipe.simsearch import cosine_topk, lsh_cosine_topk
from terrier_spark.datapipe.textstats import (
    EN_QUALITY_STOPS,
    LANG_STOPWORDS,
    char_fingerprints,
    language_id,
    quality_scores,
    token_counts,
)

JACCARD_THRESHOLD = 0.5
NUM_HASHES_GATE = 16
COSINE_QUERY_IDS = [0, 1, 2, 3, 4]
COSINE_K = 10


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _embs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


# --------------------------------------------------------------------- Spark

def q_exact_dedup(spark, sf_dir):
    df = _docs(spark, sf_dir).select(
        "doc_id", F.md5("text").alias("text_hash")
    )
    w = Window.partitionBy("text_hash")
    return df.withColumn("canonical_id", F.min("doc_id").over(w))


def q_ngram_jaccard(spark, sf_dir):
    out = ngram_jaccard_pairs(
        _docs(spark, sf_dir), threshold=JACCARD_THRESHOLD
    )
    return out.select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard_r")
    )


def q_minhash_sigs(spark, sf_dir):
    sig = minhash_signatures(
        _docs(spark, sf_dir), num_hashes=NUM_HASHES_GATE
    )
    return sig.select(
        F.col("id").alias("doc_id"),
        F.posexplode("sig").alias("hash_idx", "minhash"),
    ).select("doc_id", F.col("hash_idx").cast("long"), "minhash")


def q_minhash_lsh(spark, sf_dir):
    # full pipeline gate: banding is md5-deterministic, so the oracle
    # mirrors signatures -> bands -> cap -> verify exactly (_minhash_lsh_sql)
    out = minhash_lsh_pairs(
        _docs(spark, sf_dir), threshold=JACCARD_THRESHOLD
    )
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard_r"))


def q_simhash(spark, sf_dir):
    return simhash_fingerprints(_docs(spark, sf_dir)).select(
        F.col("id").alias("doc_id"), "simhash"
    )


def q_cosine_topk(spark, sf_dir):
    out = cosine_topk(_embs(spark, sf_dir), COSINE_QUERY_IDS, k=COSINE_K)
    w = Window.partitionBy("query_id").orderBy(
        F.round("cosine", 5).desc(), F.col("vec_id").asc()
    )
    return (
        out.withColumn("cosine_r", F.round("cosine", 5))
        .withColumn("rank", (F.row_number().over(w) - 1).cast("long"))
        .select("query_id", "vec_id", "cosine_r", "rank")
    )


LSH_COSINE_PLANES = 12
LSH_COSINE_BANDS = 6
EMBEDDING_DIM = 64  # driver testdata embeddings (all scale factors)


def q_lsh_cosine_topk(spark, sf_dir):
    out = lsh_cosine_topk(_embs(spark, sf_dir), COSINE_QUERY_IDS,
                          dim=EMBEDDING_DIM, k=COSINE_K,
                          n_planes=LSH_COSINE_PLANES,
                          bands=LSH_COSINE_BANDS)
    w = Window.partitionBy("query_id").orderBy(
        F.round("cosine", 5).desc(), F.col("vec_id").asc()
    )
    return (
        out.withColumn("cosine_r", F.round("cosine", 5))
        .withColumn("rank", (F.row_number().over(w) - 1).cast("long"))
        .select("query_id", "vec_id", "cosine_r", "rank")
    )


IVF_CENTROIDS = 8
IVF_NPROBE = 3


def q_ivf_cosine_topk(spark, sf_dir):
    """IVF approximate cosine top-k with seeded unit-vector anchors
    (data-independent, so the oracle inlines the same constants)."""
    from terrier_spark.datapipe.simsearch import ivf_anchors, ivf_cosine_topk

    anchors = ivf_anchors(EMBEDDING_DIM, IVF_CENTROIDS)
    out = ivf_cosine_topk(_embs(spark, sf_dir), COSINE_QUERY_IDS, anchors,
                          k=COSINE_K, nprobe=IVF_NPROBE)
    w = Window.partitionBy("query_id").orderBy(
        F.round("cosine", 5).desc(), F.col("vec_id").asc()
    )
    return (
        out.withColumn("cosine_r", F.round("cosine", 5))
        .withColumn("rank", (F.row_number().over(w) - 1).cast("long"))
        .select("query_id", "vec_id", "cosine_r", "rank")
    )


def _ivf_sql() -> str:
    """IVF mirrored: anchors inlined as ordered-sum dot expressions
    (left-associative like the engine's folds), assignment = first index
    of the max similarity, probes = top-nprobe anchors per query by
    (sim desc, centroid asc), then exact cosine over probed buckets."""
    from terrier_spark.datapipe.simsearch import ivf_anchors

    anchors = ivf_anchors(EMBEDDING_DIM, IVF_CENTROIDS)
    dots = []
    for c in anchors:
        terms = " + ".join(
            f"embedding[{i + 1}]::DOUBLE * ({x!r})" for i, x in enumerate(c)
        )
        dots.append(f"({terms})")
    sims_list = "[" + ", ".join(dots) + "]"
    return f"""
WITH sims AS (
  SELECT vec_id, embedding, {sims_list} AS s FROM embeddings
),
assigned AS (
  SELECT vec_id, embedding,
         (list_position(s, list_max(s)) - 1)::INT AS centroid
  FROM sims
),
qsims AS (
  SELECT vec_id AS query_id, embedding AS qv, unnest(s) AS sim,
         unnest(range(len(s)))::INT AS centroid
  FROM sims WHERE vec_id IN ({_COSINE_IDS})
),
probes AS (
  SELECT query_id, centroid FROM (
    SELECT query_id, centroid,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY sim DESC, centroid) AS r
    FROM qsims
  ) WHERE r <= {IVF_NPROBE}
),
q AS (
  SELECT DISTINCT query_id, qv FROM qsims
),
cands AS (
  SELECT DISTINCT a.vec_id, a.embedding AS ev, p.query_id, q.qv
  FROM assigned a
  JOIN probes p USING (centroid)
  JOIN q USING (query_id)
  WHERE a.vec_id <> p.query_id
),
comps AS (
  SELECT query_id, vec_id,
         unnest(ev)::DOUBLE AS x, unnest(qv)::DOUBLE AS y
  FROM cands
),
scored AS (
  SELECT query_id, vec_id,
         sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))) AS cosine
  FROM comps GROUP BY query_id, vec_id
)
SELECT query_id, vec_id,
       CAST(round(cosine, 5) AS DOUBLE) AS cosine_r,
       (row_number() OVER (
          PARTITION BY query_id
          ORDER BY round(cosine, 5) DESC, vec_id) - 1)::BIGINT AS rank
FROM scored
QUALIFY rank < {COSINE_K}
"""


NEAR_DUP_COSINE = 0.4


def q_embedding_near_dup(spark, sf_dir):
    """Embedding-cosine near-dup pairs, exact baseline path (the LSH
    variant is recall-tested in pytest; this testdata's vectors are
    near-orthogonal so an exact gate needs the exhaustive join)."""
    from terrier_spark.datapipe.simsearch import embedding_near_dup_pairs

    out = embedding_near_dup_pairs(
        _embs(spark, sf_dir), threshold=NEAR_DUP_COSINE, use_lsh=False
    )
    return out.select(
        "id_a", "id_b", F.round("cosine", 5).alias("cosine_r")
    )


_NEAR_DUP_SQL = f"""
WITH pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         a.embedding AS va, b.embedding AS vb
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
),
comps AS (
  SELECT id_a, id_b, unnest(va)::DOUBLE AS x, unnest(vb)::DOUBLE AS y
  FROM pairs
),
scored AS (
  SELECT id_a, id_b,
         sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))) AS cosine
  FROM comps GROUP BY id_a, id_b
)
SELECT id_a, id_b, CAST(round(cosine, 5) AS DOUBLE) AS cosine_r
FROM scored WHERE cosine >= {NEAR_DUP_COSINE}
"""


def q_token_counts(spark, sf_dir):
    return token_counts(_docs(spark, sf_dir)).withColumnRenamed("id", "doc_id")


def q_quality(spark, sf_dir):
    return quality_scores(_docs(spark, sf_dir)).withColumnRenamed("id", "doc_id")


def q_gopher_quality(spark, sf_dir):
    from terrier_spark.datapipe.textstats import gopher_quality

    return gopher_quality(_docs(spark, sf_dir)).withColumnRenamed(
        "id", "doc_id"
    )


def q_repetition_scores(spark, sf_dir):
    from terrier_spark.datapipe.textstats import repetition_scores

    return repetition_scores(_docs(spark, sf_dir)).withColumnRenamed(
        "id", "doc_id"
    )


def q_pii_scrub(spark, sf_dir):
    from terrier_spark.datapipe.textstats import pii_scrub

    return pii_scrub(_docs(spark, sf_dir)).withColumnRenamed("id", "doc_id")


def _pii_sql() -> str:
    """Identical RE2-compatible patterns, identical mask order; DuckDB
    regexp_replace needs the 'g' flag to match Spark's global default."""
    from terrier_spark.datapipe.textstats import (
        PII_EMAIL_RE,
        PII_IPV4_RE,
        PII_PHONE_RE,
    )

    def esc(p: str) -> str:
        return p.replace("'", "''")

    e, i, ph = esc(PII_EMAIL_RE), esc(PII_IPV4_RE), esc(PII_PHONE_RE)
    return f"""
WITH s1 AS (
  SELECT doc_id,
         len(regexp_extract_all(text, '{e}'))::BIGINT AS n_emails,
         regexp_replace(text, '{e}', '<|email|>', 'g') AS t1
  FROM documents
),
s2 AS (
  SELECT doc_id, n_emails,
         len(regexp_extract_all(t1, '{i}'))::BIGINT AS n_ips,
         regexp_replace(t1, '{i}', '<|ip|>', 'g') AS t2
  FROM s1
)
SELECT doc_id,
       regexp_replace(t2, '{ph}', '<|phone|>', 'g') AS scrubbed,
       n_emails, n_ips,
       len(regexp_extract_all(t2, '{ph}'))::BIGINT AS n_phones
FROM s2
"""


def q_lang_id(spark, sf_dir):
    return language_id(_docs(spark, sf_dir)).withColumnRenamed("id", "doc_id")


def q_lang_id_trigram(spark, sf_dir):
    from terrier_spark.datapipe.textstats import language_id_trigram

    return language_id_trigram(_docs(spark, sf_dir))


def _lang_trigram_sql() -> str:
    """Oracle for q_lang_id_trigram, generated from the SAME trigram
    profile dict the engine scores with (langwords.trigram_logprobs):
    per-language mean trigram log-likelihood, matched trigrams at their
    profile log-prob, unseen ones at the language floor; argmax with
    (llk desc, lang asc) ties; letterless docs -> ('und', NULL)."""
    from terrier_spark.datapipe.langwords import trigram_logprobs

    logp, floor = trigram_logprobs()
    prof_rows = ", ".join(
        f"('{lang}', '{tri.replace(chr(39), chr(39) * 2)}', {lp!r})"
        for lang in sorted(logp)
        for tri, lp in sorted(logp[lang].items())
    )
    floor_rows = ", ".join(
        f"('{lang}', {fl!r})" for lang, fl in sorted(floor.items())
    )
    return f"""
WITH prof(lang, tri, logp) AS (VALUES {prof_rows}),
fl(lang, floor_lp) AS (VALUES {floor_rows}),
words AS (
  SELECT doc_id,
         unnest(regexp_extract_all(lower(text), '{_LETTER_RUN}')) AS w
  FROM documents
),
tris AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(w) + 1),
                i -> substr(' ' || w || ' ', i, 3))) AS tri
  FROM words
),
tc AS (SELECT doc_id, tri, count(*)::DOUBLE AS c FROM tris GROUP BY 1, 2),
tot AS (SELECT doc_id, sum(c) AS n FROM tc GROUP BY 1),
scored AS (
  SELECT tc.doc_id, fl.lang,
         sum(tc.c * coalesce(prof.logp, fl.floor_lp)) / max(tot.n)
           AS mean_llk
  FROM tc
  CROSS JOIN fl
  LEFT JOIN prof ON prof.lang = fl.lang AND prof.tri = tc.tri
  JOIN tot ON tot.doc_id = tc.doc_id
  GROUP BY tc.doc_id, fl.lang
),
best AS (
  SELECT doc_id, lang, mean_llk,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY mean_llk DESC, lang) AS rn
  FROM scored
)
SELECT d.doc_id::BIGINT AS id,
       coalesce(b.lang, 'und') AS lang_guess,
       round(b.mean_llk, 6)::DOUBLE AS tri_llk
FROM documents d
LEFT JOIN best b ON b.doc_id = d.doc_id AND b.rn = 1
"""


def q_fingerprint(spark, sf_dir):
    return char_fingerprints(_docs(spark, sf_dir)).withColumnRenamed(
        "id", "doc_id"
    )


# ----------------------------------------------------------------------- SQL

def _shingle_cte(src: str = "documents") -> str:
    return f"""
sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(0, greatest(len(toks)-3, 0)+1),
                i -> array_to_string(list_slice(toks, i+1, i+3), ' ')))
           AS shingle
  FROM (SELECT doc_id,
               regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
        FROM {src})
),
shf AS (SELECT doc_id, shingle FROM sh WHERE len(shingle) > 0)
"""


_SHINGLE_CTE = _shingle_cte()

_JACCARD_SQL = f"""
WITH {_SHINGLE_CTE},
sz AS (SELECT doc_id, COUNT(*) AS sz FROM shf GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
  FROM shf a JOIN shf b USING (shingle)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       CAST(round(i::DOUBLE / (sa.sz + sb.sz - i), 6) AS DOUBLE) AS jaccard_r
FROM inter
JOIN sz sa ON sa.doc_id = id_a
JOIN sz sb ON sb.doc_id = id_b
WHERE i::DOUBLE / (sa.sz + sb.sz - i) >= {JACCARD_THRESHOLD}
"""


def _minhash_sql() -> str:
    params = _hash_params(NUM_HASHES_GATE)
    seeds = ", ".join(
        f"({i}, {a}, {b})" for i, (a, b) in enumerate(params)
    )
    return f"""
WITH {_SHINGLE_CTE},
h AS (
  SELECT doc_id,
         ('0x' || substr(md5(shingle), 1, 15))::BIGINT % {MERSENNE31} AS h
  FROM shf
),
seeds(hash_idx, a, b) AS (VALUES {seeds})
SELECT doc_id, hash_idx::BIGINT AS hash_idx,
       min((a * h + b) % {MERSENNE31})::BIGINT AS minhash
FROM h CROSS JOIN seeds
GROUP BY doc_id, hash_idx
"""


LSH_NUM_HASHES = 64
LSH_BANDS = 16
LSH_BUCKET_CAP = 1024


def _minhash_lsh_sql() -> str:
    """Full MinHash+LSH near-dup pipeline mirrored: canonical text per
    md5(text) group (dedup_exact_first), 64 minhashes, 16 bands of 4,
    bucket-size cap, candidate bucket join, exact Jaccard verify.  Every
    stage is md5/affine-deterministic, so the pair set is exact (the
    banding is approximate vs exhaustive Jaccard, but both engines
    compute the SAME banding)."""
    params = _hash_params(LSH_NUM_HASHES)
    seeds = ", ".join(f"({i}, {a}, {b})" for i, (a, b) in enumerate(params))
    rpb = LSH_NUM_HASHES // LSH_BANDS
    return f"""
WITH canon AS (
  SELECT doc_id, text FROM documents
  QUALIFY doc_id = min(doc_id) OVER (PARTITION BY md5(text))
),
{_shingle_cte('canon')},
h AS (
  SELECT doc_id,
         ('0x' || substr(md5(shingle), 1, 15))::BIGINT % {MERSENNE31} AS h
  FROM shf
),
seeds(hash_idx, a, b) AS (VALUES {seeds}),
mh AS (
  SELECT doc_id, hash_idx,
         min((a * h + b) % {MERSENNE31})::BIGINT AS minhash
  FROM h CROSS JOIN seeds
  GROUP BY doc_id, hash_idx
),
bandkeys AS (
  SELECT doc_id, (hash_idx // {rpb})::BIGINT AS band,
         string_agg(minhash::VARCHAR, ',' ORDER BY hash_idx) AS key
  FROM mh GROUP BY doc_id, (hash_idx // {rpb})
),
okb AS (
  SELECT band, key FROM bandkeys
  GROUP BY band, key HAVING COUNT(*) <= {LSH_BUCKET_CAP}
),
bk AS (SELECT b.* FROM bandkeys b JOIN okb USING (band, key)),
cands AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bk a JOIN bk b USING (band, key)
  WHERE a.doc_id < b.doc_id
),
sz AS (SELECT doc_id, COUNT(*) AS sz FROM shf GROUP BY doc_id),
inter AS (
  SELECT c.id_a, c.id_b, COUNT(*) AS i
  FROM cands c
  JOIN shf a ON a.doc_id = c.id_a
  JOIN shf b ON b.doc_id = c.id_b AND b.shingle = a.shingle
  GROUP BY c.id_a, c.id_b
)
SELECT id_a, id_b,
       CAST(round(i::DOUBLE / (sa.sz + sb.sz - i), 6) AS DOUBLE) AS jaccard_r
FROM inter
JOIN sz sa ON sa.doc_id = id_a
JOIN sz sb ON sb.doc_id = id_b
WHERE i::DOUBLE / (sa.sz + sb.sz - i) >= {JACCARD_THRESHOLD}
"""


def _simhash_sql() -> str:
    bit_sums = ", ".join(
        f"sum(CASE WHEN (h >> {j}) & 1 = 1 THEN tf ELSE -tf END) AS b{j}"
        for j in range(60)
    )
    fp = " + ".join(
        f"(CASE WHEN b{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(60)
    )
    return f"""
WITH tf AS (
  SELECT doc_id, tok, COUNT(*) AS tf
  FROM (SELECT doc_id,
               unnest(list_filter(
                 regexp_split_to_array(lower(trim(text)), '\\s+'),
                 x -> len(x) > 0)) AS tok
        FROM documents)
  GROUP BY doc_id, tok
),
h AS (SELECT doc_id, tf,
             ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM tf),
bits AS (SELECT doc_id, {bit_sums} FROM h GROUP BY doc_id)
SELECT doc_id, ({fp})::BIGINT AS simhash FROM bits
"""


_COSINE_IDS = ", ".join(str(i) for i in COSINE_QUERY_IDS)

_COSINE_SQL = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv
  FROM embeddings WHERE vec_id IN ({_COSINE_IDS})
),
pairs AS (
  SELECT q.query_id, e.vec_id, e.embedding AS ev, q.qv
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id <> q.query_id
),
comps AS (
  SELECT query_id, vec_id,
         unnest(ev)::DOUBLE AS x, unnest(qv)::DOUBLE AS y
  FROM pairs
),
scored AS (
  SELECT query_id, vec_id,
         sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))) AS cosine
  FROM comps GROUP BY query_id, vec_id
)
SELECT query_id, vec_id,
       CAST(round(cosine, 5) AS DOUBLE) AS cosine_r,
       (row_number() OVER (
          PARTITION BY query_id
          ORDER BY round(cosine, 5) DESC, vec_id) - 1)::BIGINT AS rank
FROM scored
QUALIFY rank < {COSINE_K}
"""

def _lsh_cosine_sql() -> str:
    """Random-hyperplane LSH cosine top-k mirrored: the plane constants
    are inlined as ORDERED sum expressions (left-associative addition =
    the same fold order as Spark's F.aggregate), so the sign bits agree
    bit-for-bit; band keys, candidate join and exact-cosine re-rank as
    in the engine."""
    from terrier_spark.datapipe.simsearch import _planes

    planes = _planes(EMBEDDING_DIM, LSH_COSINE_PLANES, seed=13)
    width = LSH_COSINE_PLANES // LSH_COSINE_BANDS
    bit_exprs = []
    for p in planes:
        terms = " + ".join(
            f"embedding[{i + 1}]::DOUBLE * ({c!r})" for i, c in enumerate(p)
        )
        bit_exprs.append(f"CASE WHEN ({terms}) >= 0 THEN '1' ELSE '0' END")
    sig = " || ".join(bit_exprs)
    band_keys = ", ".join(
        f"({i} || ':' || substr(sig, {i * width + 1}, {width}))"
        for i in range(LSH_COSINE_BANDS)
    )
    return f"""
WITH sigs AS (
  SELECT vec_id, embedding, ({sig}) AS sig FROM embeddings
),
banded AS (
  SELECT vec_id, embedding, unnest([{band_keys}]) AS band_key FROM sigs
),
qb AS (
  SELECT vec_id AS query_id, embedding AS qv, band_key
  FROM banded WHERE vec_id IN ({_COSINE_IDS})
),
cands AS (
  SELECT DISTINCT b.vec_id, b.embedding AS ev, q.query_id, q.qv
  FROM banded b JOIN qb q USING (band_key)
  WHERE b.vec_id <> q.query_id
),
comps AS (
  SELECT query_id, vec_id,
         unnest(ev)::DOUBLE AS x, unnest(qv)::DOUBLE AS y
  FROM cands
),
scored AS (
  SELECT query_id, vec_id,
         sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))) AS cosine
  FROM comps GROUP BY query_id, vec_id
)
SELECT query_id, vec_id,
       CAST(round(cosine, 5) AS DOUBLE) AS cosine_r,
       (row_number() OVER (
          PARTITION BY query_id
          ORDER BY round(cosine, 5) DESC, vec_id) - 1)::BIGINT AS rank
FROM scored
QUALIFY rank < {COSINE_K}
"""


_WS = "\\S+"
_BPE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"
_PUNCT = "[^A-Za-z0-9\\s]"
_LETTER_RUN = "[\\p{L}]+"  # language-ID tokenization (RE2-compatible)
_EN_STOPS = ", ".join(f"'{w}'" for w in EN_QUALITY_STOPS)

_TOKEN_COUNTS_SQL = f"""
SELECT doc_id,
       len(regexp_extract_all(text, '{_WS}'))::BIGINT AS n_ws_tokens,
       len(regexp_extract_all(text, '{_BPE}'))::BIGINT AS n_subword_tokens,
       len(text)::BIGINT AS n_chars
FROM documents
"""

_QUALITY_SQL = f"""
WITH base AS (
  SELECT doc_id,
         len(text)::BIGINT AS n_chars,
         regexp_extract_all(lower(text), '{_WS}') AS toks,
         len(regexp_extract_all(text, '{_PUNCT}'))::BIGINT AS n_punct
  FROM documents
),
feat AS (
  SELECT doc_id, n_chars,
         len(toks)::BIGINT AS n_tokens,
         CAST(round(n_punct::DOUBLE / greatest(n_chars, 1), 6) AS DOUBLE)
           AS punct_ratio,
         CAST(round(
           len(list_filter(toks, x -> x IN ({_EN_STOPS})))::DOUBLE
           / greatest(len(toks), 1), 6) AS DOUBLE) AS stopword_ratio
  FROM base
)
SELECT doc_id, n_chars, n_tokens, punct_ratio, stopword_ratio,
       (n_tokens >= 10 AND punct_ratio <= 0.3) AS keep
FROM feat
"""


_GOPHER_STOPS_IN = ", ".join(
    f"'{w}'" for w in
    ("the", "be", "to", "of", "and", "that", "have", "with")
)

# Gopher quality rules (Rae et al. 2021 table A1), mirroring
# textstats.gopher_quality expression-for-expression (round 6 both sides)
_GOPHER_SQL = f"""
WITH base AS (
  SELECT doc_id, text,
         regexp_extract_all(text, '{_WS}') AS words,
         regexp_extract_all(lower(text), '{_WS}') AS lwords,
         string_split(text, chr(10)) AS lines
  FROM documents
),
feat AS (
  SELECT doc_id,
         len(words)::BIGINT AS n_words,
         greatest(len(words), 1)::DOUBLE AS nw1,
         len(list_aggregate(list_prepend('', words), 'string_agg', ''))
           ::DOUBLE AS word_chars,
         (len(text) - len(replace(text, '#', '')))::BIGINT AS n_hash,
         ((len(text) - len(replace(text, '...', ''))) // 3
          + (len(text) - len(replace(text, '…', ''))))::BIGINT AS n_ell,
         greatest(len(lines), 1)::DOUBLE AS n_lines,
         len(list_filter(lines, l -> starts_with(l, '•')
             OR starts_with(l, '- ') OR starts_with(l, '* ')))::BIGINT
           AS bullet_lines,
         len(list_filter(lines, l -> ends_with(l, '...')
             OR ends_with(l, '…')))::BIGINT AS ell_lines,
         len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]')))
           ::BIGINT AS alpha_words,
         len(list_filter([{_GOPHER_STOPS_IN}],
                         s -> list_contains(lwords, s)))::BIGINT
           AS stop_hits
  FROM base
),
scored AS (
  SELECT doc_id, n_words,
         CAST(round(word_chars / nw1, 6) AS DOUBLE) AS mean_word_len,
         CAST(round((n_hash + n_ell)::DOUBLE / nw1, 6) AS DOUBLE)
           AS symbol_ratio,
         CAST(round(bullet_lines::DOUBLE / n_lines, 6) AS DOUBLE)
           AS bullet_frac,
         CAST(round(ell_lines::DOUBLE / n_lines, 6) AS DOUBLE)
           AS ellipsis_frac,
         CAST(round(alpha_words::DOUBLE / nw1, 6) AS DOUBLE)
           AS alpha_word_frac,
         stop_hits
  FROM feat
)
SELECT doc_id, n_words, mean_word_len, symbol_ratio, bullet_frac,
       ellipsis_frac, alpha_word_frac, stop_hits,
       (n_words >= 50 AND n_words <= 100000
        AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
        AND symbol_ratio <= 0.1 AND bullet_frac <= 0.9
        AND ellipsis_frac <= 0.3 AND alpha_word_frac >= 0.8
        AND stop_hits >= 2) AS keep
FROM scored
"""


# Gopher repetition filters, mirroring textstats.repetition_scores'
# pinned definitions (dup occurrences = count - 1; top 2-gram =
# (cnt desc, gram asc); round 6 both sides)
_REPETITION_SQL = """
WITH lines AS (
  SELECT doc_id, trim(l) AS line
  FROM (SELECT doc_id, unnest(string_split(text, chr(10))) AS l
        FROM documents)
  WHERE trim(l) <> ''
),
line_counts AS (
  SELECT doc_id, line, COUNT(*)::BIGINT AS cnt, len(line)::BIGINT AS chars
  FROM lines GROUP BY doc_id, line
),
line_feats AS (
  SELECT doc_id,
         SUM(cnt)::BIGINT AS n_lines,
         SUM(cnt - 1)::BIGINT AS dup_lines,
         SUM(cnt * chars)::BIGINT AS line_chars,
         SUM((cnt - 1) * chars)::BIGINT AS dup_line_chars
  FROM line_counts GROUP BY doc_id
),
wordlists AS (
  SELECT doc_id,
         regexp_extract_all(lower(text), '\\S+') AS words
  FROM documents
),
wstats AS (
  SELECT doc_id,
         len(list_aggregate(list_prepend('', words), 'string_agg', ''))
           ::BIGINT AS word_chars
  FROM wordlists
),
grams AS (
  SELECT doc_id,
         unnest(list_transform(
           range(1, greatest(len(words), 1)),
           i -> words[i] || ' ' || words[i + 1])) AS gram
  FROM wordlists
  WHERE len(words) >= 2
),
per_gram AS (
  SELECT doc_id, gram, COUNT(*)::BIGINT AS cnt
  FROM grams GROUP BY doc_id, gram
),
max_cnt AS (
  SELECT doc_id, MAX(cnt) AS mc FROM per_gram GROUP BY doc_id
),
top AS (
  SELECT p.doc_id, m.mc * len(MIN(p.gram)) AS top_covered
  FROM per_gram p JOIN max_cnt m
    ON m.doc_id = p.doc_id AND p.cnt = m.mc
  GROUP BY p.doc_id, m.mc
),
feats AS (
  SELECT d.doc_id,
         CAST(round(COALESCE(lf.dup_lines, 0)::DOUBLE
              / greatest(COALESCE(lf.n_lines, 0), 1), 6) AS DOUBLE)
           AS dup_line_frac,
         CAST(round(COALESCE(lf.dup_line_chars, 0)::DOUBLE
              / greatest(COALESCE(lf.line_chars, 0), 1), 6) AS DOUBLE)
           AS dup_line_char_frac,
         CAST(round(COALESCE(t.top_covered, 0)::DOUBLE
              / greatest(COALESCE(w.word_chars, 0), 1), 6) AS DOUBLE)
           AS top_2gram_char_frac
  FROM documents d
  LEFT JOIN line_feats lf ON lf.doc_id = d.doc_id
  LEFT JOIN wstats w ON w.doc_id = d.doc_id
  LEFT JOIN top t ON t.doc_id = d.doc_id
)
SELECT doc_id, dup_line_frac, dup_line_char_frac, top_2gram_char_frac,
       (dup_line_frac <= 0.30 AND dup_line_char_frac <= 0.20
        AND top_2gram_char_frac <= 0.20) AS keep
FROM feats
"""


def _lang_sql() -> str:
    """Argmax over per-language marker-word hits, ties broken by
    language code ascending — generated from LANG_STOPWORDS so the
    oracle tracks the engine's lexicons exactly."""
    langs = sorted(LANG_STOPWORDS)
    counts = []
    for lang in langs:
        stops = ", ".join(f"'{w}'" for w in LANG_STOPWORDS[lang])
        counts.append(
            f"len(list_filter(toks, x -> x IN ({stops})))::BIGINT AS h_{lang}"
        )
    all_h = ", ".join(f"h_{lg}" for lg in langs)
    # languages in ascending order: the first one matching the max wins,
    # mirroring the engine's (hits desc, lang asc) struct sort
    whens = "\n            ".join(
        f"WHEN h_{lg} = greatest({all_h}) THEN '{lg}'" for lg in langs
    )
    return f"""
WITH toks AS (
  SELECT doc_id, regexp_extract_all(lower(text), '{_LETTER_RUN}') AS toks
  FROM documents
),
c AS (SELECT doc_id, {', '.join(counts)} FROM toks)
SELECT doc_id,
       CASE WHEN greatest({all_h}) = 0 THEN 'und'
            {whens}
            END AS lang_guess,
       greatest({all_h})::BIGINT AS hits
FROM c
"""


_FINGERPRINT_SQL = """
SELECT doc_id,
       list_min(list_transform(
         range(1, greatest(len(text) - 7, 1) + 1),
         i -> ('0x' || substr(md5(substr(text, i, 8)), 1, 15))::BIGINT))
         AS fingerprint
FROM documents
"""

_EXACT_DEDUP_SQL = """
SELECT doc_id, md5(text) AS text_hash,
       min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id
FROM documents
"""

DATAPIPE_QUERIES = {
    "exact_dedup": q_exact_dedup,
    "ngram_jaccard": q_ngram_jaccard,
    "minhash_sigs": q_minhash_sigs,
    "minhash_lsh_pairs": q_minhash_lsh,
    "simhash": q_simhash,
    "cosine_topk": q_cosine_topk,
    "embedding_near_dup": q_embedding_near_dup,
    "lsh_cosine_topk": q_lsh_cosine_topk,
    "ivf_cosine_topk": q_ivf_cosine_topk,
    "token_counts": q_token_counts,
    "quality_scores": q_quality,
    "gopher_quality": q_gopher_quality,
    "repetition_scores": q_repetition_scores,
    "pii_scrub": q_pii_scrub,
    "language_id": q_lang_id,
    "char_fingerprint": q_fingerprint,
    "language_id_trigram": q_lang_id_trigram,
}

DATAPIPE_ORACLE_SQL = {
    "exact_dedup": _EXACT_DEDUP_SQL,
    "ngram_jaccard": _JACCARD_SQL,
    "minhash_sigs": _minhash_sql(),
    "simhash": _simhash_sql(),
    "cosine_topk": _COSINE_SQL,
    "embedding_near_dup": _NEAR_DUP_SQL,
    "token_counts": _TOKEN_COUNTS_SQL,
    "quality_scores": _QUALITY_SQL,
    "gopher_quality": _GOPHER_SQL,
    "repetition_scores": _REPETITION_SQL,
    "pii_scrub": _pii_sql(),
    "language_id": _lang_sql(),
    "char_fingerprint": _FINGERPRINT_SQL,
    "minhash_lsh_pairs": _minhash_lsh_sql(),
    "lsh_cosine_topk": _lsh_cosine_sql(),
    "ivf_cosine_topk": _ivf_sql(),
    "language_id_trigram": _lang_trigram_sql(),
}
