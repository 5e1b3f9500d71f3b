"""Language-routed indexing pipeline demo.

    raw corpus
      -> language ID             (datapipe.language_id, JVM-side argmax)
      -> route by language       (one partition-pruned subset per lang)
      -> per-language indexes    (matching Snowball stemmer + shared
                                  tokenizer, persisted in each manifest)
      -> language-routed search  (each query hits the index whose
                                  pipeline matches its language)

This is the 100 TB shape: a single mixed-language corpus cannot share
one stemmer, so detection happens once (a Column expression, no UDF),
the corpus is written partitioned by detected language (partition
pruning makes each per-language build read only its slice), and every
index records its own pipeline so queries are processed by the exact
chain that built the postings they search.

Run:  spark-submit --py-files terrier_spark.zip jobs/multilingual_index.py \\
          [sf_dir] [out_dir]
"""

from __future__ import annotations

import shutil
import sys
import tempfile

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

# languages with a Snowball stemmer in the registry
_SNOWBALL = {"en", "da", "de", "es", "fi", "fr", "hu", "it", "nl", "no",
             "pt", "ro", "ru", "sv", "tr"}

# deterministic multilingual sample appended to the corpus so the demo
# exercises several routes even on the English-leaning testdata
_SAMPLES = [
    ("ml-en-%d", "en", "the quick build runs and the tests pass with the "
                       "data that is in the files"),
    ("ml-de-%d", "de", "der schnelle bau läuft und die tests sind mit den "
                       "daten von dem system ein erfolg"),
    ("ml-fr-%d", "fr", "le test est rapide et les données dans les "
                       "fichiers passent pour que tout marche"),
    ("ml-es-%d", "es", "el sistema es rápido y la prueba de los datos "
                       "que pasa por el archivo del proyecto"),
]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out_dir = sys.argv[2] if len(sys.argv) > 2 else tempfile.mkdtemp(
        prefix="ml_idx_"
    )
    spark = (
        SparkSession.builder.appName("multilingual-index")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    from terrier_spark.config import IndexConfig, PipelineConfig, QueryConfig
    from terrier_spark.datapipe.textstats import language_id
    from terrier_spark.index.builder import build_index
    from terrier_spark.index.corpus import from_documents_table
    from terrier_spark.index.store import IndexStore
    from terrier_spark.query.search import search

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sample_rows = [
        (docno % i, lang, text + f" extra{i}")
        for docno, lang, text in _SAMPLES
        for i in range(3)
    ]
    extra = spark.createDataFrame(
        [(d, t, "", "sample", len(t)) for d, _, t in sample_rows],
        "doc_id string, text string, lang string, source string, "
        "n_chars long",
    )
    docs = docs.select(
        F.col("doc_id").cast("string").alias("doc_id"), "text",
        "lang", "source", "n_chars",
    ).unionByName(extra)

    # 1. detect once, JVM-side; write the corpus PARTITIONED by language
    routed = docs.join(
        language_id(docs).select(F.col("id").alias("doc_id"), "lang_guess"),
        "doc_id",
    )
    corpus_path = f"{out_dir}/by_lang"
    routed.write.mode("overwrite").partitionBy("lang_guess").parquet(
        corpus_path
    )
    by_lang = spark.read.parquet(corpus_path)
    counts = {
        r["lang_guess"]: r["n"]
        for r in by_lang.groupBy("lang_guess").agg(
            F.count("*").alias("n")
        ).collect()
    }
    print("route counts:", dict(sorted(counts.items())))

    # 2. one index per detected language, matching stemmer in the chain
    stores = {}
    for lang, n in sorted(counts.items()):
        if n < 3:
            continue
        stem = f"snowball_{lang}" if lang in _SNOWBALL else "none"
        cfg = IndexConfig(pipeline=PipelineConfig(stemmer=stem))
        # partition pruning: this scan reads ONLY lang_guess=<lang>
        subset = from_documents_table(
            by_lang.filter(F.col("lang_guess") == lang).drop("lang_guess")
        )
        # a re-run rewrites its indexes (build_index would resume one
        # and refuse it if the routed subset changed)
        shutil.rmtree(f"{out_dir}/idx_{lang}", ignore_errors=True)
        stores[lang] = build_index(
            spark, subset, f"{out_dir}/idx_{lang}", cfg, bucket_span=256
        )
        print(f"idx[{lang}] docs={stores[lang].stats['num_docs']} "
              f"terms={stores[lang].stats['num_terms']} stemmer={stem}")

    # 3. language-routed search: each query hits its language's index
    probes = {"en": "tests passing", "de": "schnellen daten",
              "fr": "données rapides", "es": "datos rápidos"}
    for lang, text in probes.items():
        if lang not in stores:
            continue
        got = search(spark, stores[lang], [(f"q-{lang}", text)],
                     QueryConfig(k=3, ignore_low_idf=False),
                     with_meta=True).collect()
        top = [(r["docno"], round(r["score"], 3)) for r in got]
        print(f"search[{lang}] {text!r} ->", top)
        # the manifest proves the query ran through the same chain
        assert IndexStore(
            f"{out_dir}/idx_{lang}"
        ).pipeline_config().stemmer == (
            f"snowball_{lang}" if lang in _SNOWBALL else "none"
        )
    print("MULTILINGUAL-OK", out_dir)


if __name__ == "__main__":
    main()
