"""spark-submit entry point for BM25 top-k queries against a built index.

Usage:
  spark-submit --py-files grenad_spark.zip jobs/query_job.py \
      --index /path/to/index --query "spark window" [--k 10] [--mode wand]

Multiple --query flags run as ONE batched Spark job (the serving shape:
per-query overhead amortizes across the batch).
"""

from __future__ import annotations

import argparse
import sys


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--index", required=True)
    ap.add_argument("--query", action="append", required=True)
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument(
        "--mode",
        default="wand",
        choices=[
            "wand", "wand_pruned", "exhaustive",
            "shared", "shared_pruned", "auto",
            "fuzzy", "fuzzy2", "prefix", "and",
            "phrase", "phrase_shared", "proximity", "mixed", "mixed_prefix",
            "ranked", "attr",
        ],
        help="wand_pruned = two-pass metadata prune (shuffle ∝ surviving "
        "blocks — pick when the exchange is network-bound); shared[_pruned] "
        "= decode-once-score-many batch; auto = per-batch gate on the "
        "measured survivor ratio; fuzzy/fuzzy2 = typo-tolerant "
        "(Levenshtein ≤ 1/2 via the persisted typo tables); prefix = "
        "trailing-* expansion; and = conjunctive; phrase[_shared]/proximity/"
        "mixed[_prefix] = positional serving (quoted phrases constrain, "
        "mixed_prefix treats the final word as a prefix, --max-edits adds "
        "typos on free terms); ranked = the composed Meilisearch default "
        "pipeline, attr = attribute rule (both need field-aware positions)",
    )
    ap.add_argument(
        "--max-expansions", type=int, default=None,
        help="prefix/mixed_prefix modes: cap each prefix to its top-df "
        "expansions (default exhaustive; serving tiers facing web "
        "vocabularies should set one, e.g. 128)",
    )
    ap.add_argument(
        "--max-edits", type=int, default=0,
        help="mixed_prefix: typo tolerance on non-final free terms; "
        "ranked: derivation edit budget (default 1 there)",
    )
    ap.add_argument(
        "--synonyms", default=None,
        help='JSON map term -> [synonyms], applied as a query rewrite '
        '(e.g. \'{"fast": ["quick"]}\')',
    )
    ap.add_argument(
        "--filter", default=None,
        help="boolean SQL filter over document attributes (filterable-"
        "attributes serving; needs --docs)",
    )
    ap.add_argument(
        "--docs", default=None,
        help="documents parquet for --filter / attribute serving",
    )
    ap.add_argument(
        "--stop-words", default=None,
        help="comma-separated stop words dropped from queries before the "
        "words rule",
    )
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("grenad-query").getOrCreate()
    from grenad_spark.index.build import IndexHandle
    from grenad_spark.query.search import search_topk

    idx = IndexHandle(args.index)
    queries = list(enumerate(args.query, start=1))
    if args.filter:
        from grenad_spark.query.search import search_topk_filtered

        if not args.docs:
            raise SystemExit("--filter needs --docs (the documents parquet)")
        docs = spark.read.parquet(args.docs)
        res = search_topk_filtered(
            spark, idx, docs, queries, args.filter, k=args.k
        )
        for row in res.collect():
            print(f"q{row['query_id']}\t{row['doc_id']}\t{row['score']:.4f}")
        return
    if args.stop_words:
        from grenad_spark.query.search import search_topk_stopwords

        stop = {s.strip().lower() for s in args.stop_words.split(",") if s.strip()}
        res = search_topk_stopwords(spark, idx, queries, stop, k=args.k)
        for row in res.collect():
            print(f"q{row['query_id']}\t{row['doc_id']}\t{row['score']:.4f}")
        return
    if args.synonyms:
        import json as _json

        from grenad_spark.query.search import search_topk_synonyms

        res = search_topk_synonyms(
            spark, idx, queries, _json.loads(args.synonyms), k=args.k
        )
        for row in res.collect():
            print(f"q{row['query_id']}\t{row['doc_id']}\t{row['score']:.4f}")
        return
    if args.mode in ("phrase", "phrase_shared", "proximity", "mixed",
                     "mixed_prefix"):
        from grenad_spark.query import phrase as ph

        if args.mode == "phrase":
            res = ph.search_topk_phrase(spark, idx, queries, k=args.k)
        elif args.mode == "phrase_shared":
            res = ph.search_topk_phrase_shared(spark, idx, queries, k=args.k)
        elif args.mode == "proximity":
            res = ph.search_topk_proximity(spark, idx, queries, k=args.k)
        elif args.mode == "mixed":
            res = ph.search_topk_mixed(spark, idx, queries, k=args.k)
        else:
            res = ph.search_topk_mixed_prefix(
                spark, idx, queries, k=args.k,
                max_expansions=args.max_expansions, max_edits=args.max_edits,
            )
        for row in res.collect():
            cols = [str(row[c]) for c in res.columns if c not in ("query_id",)]
            print(f"q{row['query_id']}\t" + "\t".join(cols))
        return
    if args.mode in ("ranked", "attr"):
        from grenad_spark.query import ranked as rk

        if args.mode == "ranked":
            res = rk.search_topk_ranked(
                spark, idx, queries, k=args.k, max_edits=args.max_edits or 1
            )
        else:
            res = rk.search_topk_attr_rule(spark, idx, queries, k=args.k)
        for row in res.collect():
            cols = [str(row[c]) for c in res.columns if c != "query_id"]
            print(f"q{row['query_id']}\t" + "\t".join(cols))
        return
    if args.mode in ("shared", "shared_pruned"):
        # decode-once-score-many: best shape for multi-query batches
        from grenad_spark.query.search import search_topk_shared

        res = search_topk_shared(
            spark, idx, queries, k=args.k, prune=args.mode == "shared_pruned"
        )
    elif args.mode == "auto":
        res = idx.search_auto(spark, queries, k=args.k)
    elif args.mode in ("fuzzy", "fuzzy2"):
        res = idx.search_fuzzy(
            spark, queries, k=args.k, max_edits=1 if args.mode == "fuzzy" else 2
        )
    elif args.mode == "prefix":
        res = idx.search_prefix(
            spark, queries, k=args.k, max_expansions=args.max_expansions
        )
    elif args.mode == "and":
        res = idx.search_and(spark, queries, k=args.k)
    else:
        res = search_topk(spark, idx, queries, k=args.k, mode=args.mode)
    for row in res.collect():
        print(f"q{row['query_id']}\t{row['doc_id']}\t{row['score']:.4f}")


if __name__ == "__main__":
    main(sys.argv[1:])
