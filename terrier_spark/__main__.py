"""Command-line entry point — the TrecTerrier application surface
(org/terrier/applications/TrecTerrier.java: -i index, -r retrieve,
-e evaluate; plus merge/compact) as spark-submit-friendly subcommands:

    spark-submit --py-files terrier_spark.zip -m ... OR
    python -m terrier_spark index   --input docs.parquet --out /idx
    python -m terrier_spark search  --index /idx --queries topics.txt \\
                                    --k 10 [--model BM25] [--expand] \\
                                    [--topics-format trec]
    python -m terrier_spark interactive --index /idx
    python -m terrier_spark merge   --a /idx1 --b /idx2 --out /merged
    python -m terrier_spark compact --index /idx
    python -m terrier_spark eval    --run run.txt --qrels qrels.txt \\
                                    [--measure namedpage]

Query file formats: SingleLineTRECQuery (`qid term term ...`,
applications/batchquerying/SingleLineTRECQuery.java:93-156) and tagged
TREC topics (`<top><num><title>...`, batchquerying/TRECQuery.java via
query/topics.py).  `interactive` is the InteractiveQuerying loop
(applications/InteractiveQuerying.java).
"""

from __future__ import annotations

import argparse
import json


def _spark():
    from terrier_spark.session import get_spark

    return get_spark("terrier-spark-cli")


def cmd_index(args) -> None:
    from terrier_spark.config import IndexConfig, PipelineConfig
    from terrier_spark.index.builder import build_index
    from terrier_spark.index.corpus import (
        from_documents_table,
        from_source_code_table,
        from_trec_files,
        from_trec_web_files,
        from_twitter_json,
        from_warc_files,
        from_xml_files,
    )

    spark = _spark()
    fmt = args.format
    if fmt == "trec":
        corpus = from_trec_files(spark, args.input)
    elif fmt == "trecweb":
        corpus = from_trec_web_files(spark, args.input)
    elif fmt == "warc":
        corpus = from_warc_files(spark, args.input)
    elif fmt == "twitter":
        corpus = from_twitter_json(spark, args.input)
    elif fmt == "xml":
        corpus = from_xml_files(spark, args.input)
    else:
        df = spark.read.parquet(args.input)
        if "content" in df.columns:
            corpus = from_source_code_table(df)
        else:
            corpus = from_documents_table(df)
    pipeline = PipelineConfig(
        stem=not args.no_stem,
        stemmer=args.stemmer,
        tokeniser=args.tokeniser,
    )
    field_cols = (
        tuple(tuple(fc.split("=", 1)) for fc in args.fields.split(","))
        if args.fields else None
    )
    cfg = IndexConfig(
        pipeline=pipeline,
        positions=args.positions,
        field_cols=field_cols,
    )
    store = build_index(spark, corpus, args.out, cfg)
    print(json.dumps(store.build_metrics))


def cmd_search(args) -> None:
    from terrier_spark.config import QueryConfig
    from terrier_spark.index.store import IndexStore
    from terrier_spark.query.evaluation import to_trec_run
    from terrier_spark.query.expansion import search_with_expansion
    from terrier_spark.query.search import search
    from terrier_spark.query.structured import search_structured

    spark = _spark()
    store = IndexStore(args.index)
    if args.topics_format == "trec":
        from terrier_spark.query.topics import load_trec_topics

        fields = tuple(args.topics_fields.split(","))
        queries = load_trec_topics(args.queries, fields=fields)
    else:
        from terrier_spark.query.topics import load_single_line_topics

        queries = load_single_line_topics(args.queries)
    qcfg = QueryConfig(k=args.k, model=args.model,
                       ignore_low_idf=not args.keep_low_idf)
    if args.expand:
        res = search_with_expansion(spark, store, queries, qcfg)
    elif args.structured:
        res = search_structured(spark, store, queries, qcfg)
    elif args.dependence:
        from terrier_spark.query.dependence import search_with_dependence

        res = search_with_dependence(spark, store, queries, qcfg,
                                     dependency=args.dependence,
                                     variant=args.dependence_variant)
    else:
        res = search(spark, store, queries, qcfg, with_meta=True)
    if "docno" not in res.columns:
        res = res.join(
            store.meta(spark).select("docid", "docno"), "docid"
        )
    if args.output_format == "docid":
        from terrier_spark.query.evaluation import to_trec_docid_run

        lines = to_trec_docid_run(res, tag=args.tag).collect()
    elif args.output_format == "raw":
        from terrier_spark.query.evaluation import to_raw_output

        for row in to_raw_output(res).collect():
            print(row["qid"], row["docid"], row["score"])
        return
    else:
        lines = to_trec_run(res, tag=args.tag).collect()
    for row in lines:
        print(row["line"])


def cmd_interactive(args) -> None:
    """Interactive query loop (org/terrier/applications/
    InteractiveQuerying.java): read a query per line from stdin, print
    the decorated top-k.  Reuses the memoized store reader + the
    single-query latency path, so repeat queries are warm."""
    import sys
    import time

    from terrier_spark.config import QueryConfig
    from terrier_spark.index.store import IndexStore
    from terrier_spark.query.search import search

    spark = _spark()
    store = IndexStore(args.index)
    qcfg = QueryConfig(k=args.k, model=args.model,
                       ignore_low_idf=not args.keep_low_idf)
    out = sys.stdout
    out.write("terrier_spark interactive querying. Type a query, "
              "'quit' to exit.\n")
    out.flush()
    qid = 0
    for line in sys.stdin:
        query = line.strip()
        if not query:
            continue
        if query.lower() in ("quit", "exit"):
            break
        qid += 1
        t0 = time.time()
        rows = (
            search(spark, store, [(str(qid), query)], qcfg, with_meta=True)
            .orderBy("rank")
            .collect()
        )
        out.write(f"Displaying 1-{len(rows)} results "
                  f"({time.time() - t0:.3f} seconds):\n")
        for r in rows:
            out.write(f"{r['rank']} {r['docno']} {r['score']:.6f}\n")
        out.flush()


def cmd_merge(args) -> None:
    from terrier_spark.index.merge import merge_indexes
    from terrier_spark.index.store import IndexStore

    spark = _spark()
    merged = merge_indexes(
        spark, IndexStore(args.a), IndexStore(args.b), args.out
    )
    print(json.dumps(merged.stats))


def cmd_compact(args) -> None:
    from terrier_spark.index.resumable import compact_postings
    from terrier_spark.index.store import IndexStore

    spark = _spark()
    store = compact_postings(spark, IndexStore(args.index))
    print(json.dumps({"layout": store.layout}))


def cmd_eval(args) -> None:
    import pandas as pd

    from terrier_spark.query.evaluation import evaluate_run, parse_qrels

    rows = []
    with open(args.run) as fh:
        for line in fh:
            p = line.split()
            if len(p) >= 5:
                rows.append((p[0], p[2], int(p[3])))
    results = pd.DataFrame(rows, columns=["qid", "docno", "rank"])
    with open(args.qrels) as fh:
        qrels = parse_qrels(fh)
    if args.measure == "namedpage":
        from terrier_spark.query.evaluation import evaluate_named_page

        out = evaluate_named_page(results, qrels)
        out.pop("recip_rank_per_query", None)
        out.pop("first_rank_per_query", None)
    elif args.measure == "full":
        # trec_eval -q analog (AdhocFullQueryEvaluation)
        from terrier_spark.query.evaluation import evaluate_full_query

        out = evaluate_full_query(results, qrels)
        out["aggregate"].pop("AP_per_query", None)
    else:
        out = evaluate_run(results, qrels)
        out.pop("AP_per_query", None)
    print(json.dumps(out, indent=2))


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(prog="terrier_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    p = sub.add_parser("index")
    p.add_argument("--input", required=True)
    p.add_argument("--out", required=True,
                   help="index directory; a build already there is resumed")
    p.add_argument("--format", default="parquet",
                   choices=["parquet", "trec", "trecweb", "warc",
                            "twitter", "xml"])
    p.add_argument("--positions", action="store_true")
    p.add_argument("--no-stem", action="store_true")
    p.add_argument("--stemmer", default=None,
                   help="porter|weak_porter|trv2_porter|trv2_weak_porter|"
                        "snowball_en|none")
    p.add_argument("--tokeniser", default="english",
                   choices=["english", "utf", "utf_twitter", "identity"])
    p.add_argument("--fields", default=None,
                   help="comma list of field=column pairs, e.g. "
                        "path=path,content=content")
    p.set_defaults(fn=cmd_index)

    p = sub.add_parser("search")
    p.add_argument("--index", required=True)
    p.add_argument("--queries", required=True)
    p.add_argument("--k", type=int, default=1000)
    p.add_argument("--model", default="BM25")
    p.add_argument("--tag", default="terrier_spark")
    p.add_argument("--expand", action="store_true")
    p.add_argument("--structured", action="store_true")
    p.add_argument("--dependence", default=None, choices=["SD", "FD"])
    p.add_argument("--dependence-variant", default="DFR",
                   choices=["DFR", "MRF"])
    p.add_argument("--output-format", default="docno",
                   choices=["docno", "docid", "raw"])
    p.add_argument("--keep-low-idf", action="store_true")
    p.add_argument("--topics-format", default="singleline",
                   choices=["singleline", "trec"],
                   help="singleline: `qid term term ...` per line; "
                        "trec: tagged <top><num><title> topic files")
    p.add_argument("--topics-fields", default="title",
                   help="comma list of TREC topic tags forming the query "
                        "(title[,desc[,narr]])")
    p.set_defaults(fn=cmd_search)

    p = sub.add_parser("interactive")
    p.add_argument("--index", required=True)
    p.add_argument("--k", type=int, default=10)
    p.add_argument("--model", default="BM25")
    p.add_argument("--keep-low-idf", action="store_true")
    p.set_defaults(fn=cmd_interactive)

    p = sub.add_parser("merge")
    p.add_argument("--a", required=True)
    p.add_argument("--b", required=True)
    p.add_argument("--out", required=True)
    p.set_defaults(fn=cmd_merge)

    p = sub.add_parser("compact")
    p.add_argument("--index", required=True)
    p.set_defaults(fn=cmd_compact)

    p = sub.add_parser("eval")
    p.add_argument("--run", required=True)
    p.add_argument("--qrels", required=True)
    p.add_argument("--measure", default="adhoc",
                   choices=["adhoc", "namedpage", "full"])
    p.set_defaults(fn=cmd_eval)

    args = ap.parse_args(argv)
    args.fn(args)


if __name__ == "__main__":
    main()
