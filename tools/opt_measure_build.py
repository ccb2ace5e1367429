"""r6 optimization scratch: isolate build-stage costs with noop sinks.

Usage: python tools/opt_measure_build.py [repl]
Times (best-of-2, noop sink) the pieces of the segments stage and the docs
stage on the bench's replicated corpus at local[16], 64 plan partitions —
the same shape as bench.py's in-suite builds.
"""
from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

import bench
from grenad_spark.index.build import (
    SEGMENT_SCHEMA,
    _make_encode_stream,
    build_segments,
    tokens_with_dl,
)
from grenad_spark.index.stats import doc_lengths
from grenad_spark.session import get_spark

REPL = int(sys.argv[1]) if len(sys.argv) > 1 else 128
PARTS = 64


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def timed(name, fn, reps=2):
    best = float("inf")
    for _ in range(reps):
        t0 = time.time()
        fn()
        best = min(best, time.time() - t0)
    print(f"{name}: {best:.2f}s", flush=True)
    return best


def main():
    spark = get_spark("opt-measure", cpus=16, shuffle_partitions=PARTS)
    sc = spark.sparkContext
    docs, n_docs = bench.replicated_docs(spark, "/root/testdata/sf0.1", REPL)
    docs = docs.cache()
    docs.count()
    print(f"n_docs={n_docs}")
    n_shards = 128
    doc_space = n_docs

    sc.setJobDescription("docs: doc_lengths noop")
    timed("docs_stage_noop", lambda: noop(doc_lengths(docs)))

    sc.setJobDescription("tokenize+explode only (raw occurrences, no agg)")
    from grenad_spark.functions.tokenize import tokens_col

    def raw_stream():
        toks = docs.select("doc_id", tokens_col("text").alias("toks"))
        return toks.select(
            "doc_id", F.size("toks").alias("dl"), F.explode("toks").alias("term")
        )

    timed("raw_occurrences_noop", lambda: noop(raw_stream()))

    sc.setJobDescription("token stream (groupBy agg) noop")
    timed("token_stream_agg_noop", lambda: noop(tokens_with_dl(docs)))

    sc.setJobDescription("segments current (agg + repartition + encode) noop")
    timed(
        "segments_current_noop",
        lambda: noop(
            build_segments(tokens_with_dl(docs), doc_space, n_shards, PARTS)
        ),
    )

    sc.setJobDescription("segments raw (single exchange, run-length) noop")

    def segments_raw():
        raw = raw_stream()
        sharded = raw.withColumn(
            "shard",
            F.expr(
                f"CAST((doc_id * CAST({n_shards} AS BIGINT)) DIV "
                f"CAST({doc_space} AS BIGINT) AS INT)"
            ),
        )
        return (
            sharded.repartition(PARTS, "term", "shard")
            .sortWithinPartitions("term", "shard", "doc_id")
            .mapInPandas(_make_encode_stream("none", None, None, None), SEGMENT_SCHEMA)
        )

    timed("segments_raw_noop", lambda: noop(segments_raw()))

    sc.setJobDescription(None)
    spark.stop()


if __name__ == "__main__":
    main()
