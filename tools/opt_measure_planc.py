"""r6 scratch: plan C — single exchange + reduce-side full agg for segments."""
from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

import bench
from grenad_spark.functions.tokenize import tokens_col
from grenad_spark.index.build import (
    SEGMENT_SCHEMA,
    _make_encode_stream,
    build_segments,
    tokens_with_dl,
)
from grenad_spark.session import get_spark

REPL = int(sys.argv[1]) if len(sys.argv) > 1 else 128
PARTS = 64
N_SHARDS = 128


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
    spark = get_spark("opt-planc", cpus=16, shuffle_partitions=16)
    docs, n_docs = bench.replicated_docs(spark, "/root/testdata/sf0.1", REPL)
    docs = docs.cache()
    docs.count()
    doc_space = n_docs
    sc = spark.sparkContext

    def plan_c():
        toks = docs.select("doc_id", tokens_col("text").alias("toks"))
        raw = toks.select(
            "doc_id", F.size("toks").alias("dl"), F.explode("toks").alias("term")
        ).withColumn(
            "shard",
            F.expr(
                f"CAST((doc_id * CAST({N_SHARDS} AS BIGINT)) DIV "
                f"CAST({doc_space} AS BIGINT) AS INT)"
            ),
        )
        return (
            raw.repartition(PARTS, "term", "shard")
            .groupBy("term", "shard", "doc_id", "dl")
            .agg(F.count("*").cast("int").alias("tf"))
            .sortWithinPartitions("term", "shard", "doc_id")
            .mapInPandas(_make_encode_stream("none", None, None, None), SEGMENT_SCHEMA)
        )

    print(plan_c()._jdf.queryExecution().executedPlan().treeString()[:3000])
    sc.setJobDescription("plan C noop")
    timed("segments_planC_noop", lambda: noop(plan_c()))
    sc.setJobDescription("plan A (current) noop")
    timed(
        "segments_current_noop",
        lambda: noop(
            build_segments(tokens_with_dl(docs), doc_space, N_SHARDS, PARTS)
        ),
    )
    sc.setJobDescription(None)
    spark.stop()


if __name__ == "__main__":
    main()
