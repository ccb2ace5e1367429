"""r6 scratch: positions + pair-proximity build cost breakdown (noop sinks)."""
from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

import bench
from grenad_spark.index.build import SEGMENT_SCHEMA, build_segments
from grenad_spark.index.pairprox import pair_stream
from grenad_spark.index.positions import (
    POSITIONS_SCHEMA,
    _encode_positions_stream,
    tokens_with_pos,
)
from grenad_spark.session import get_spark

REPL = int(sys.argv[1]) if len(sys.argv) > 1 else 32
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
    spark = get_spark("opt-measure-pair", cpus=16, shuffle_partitions=PARTS)
    sc = spark.sparkContext
    docs, n_docs = bench.replicated_docs(spark, "/root/testdata/sf0.1", REPL)
    docs = docs.cache()
    docs.count()
    print(f"n_docs={n_docs}")
    n_shards = 128
    doc_space = n_docs

    # ---- positions ----
    sc.setJobDescription("positions: occurrence stream noop")
    timed("pos_occurrences_noop", lambda: noop(tokens_with_pos(docs)))

    def pos_encode():
        occ = tokens_with_pos(docs)
        stream = occ.withColumn(
            "shard",
            F.expr(
                f"CAST((doc_id * CAST({n_shards} AS BIGINT)) DIV "
                f"CAST({doc_space} AS BIGINT) AS INT)"
            ),
        )
        return (
            stream.repartition(PARTS, "term", "shard")
            .sortWithinPartitions("term", "shard", "doc_id", "pos")
            .mapInPandas(
                lambda it: _encode_positions_stream(it, "none", None),
                POSITIONS_SCHEMA,
            )
        )

    sc.setJobDescription("positions: full encode noop")
    timed("pos_encode_noop", lambda: noop(pos_encode()))
    sc.setJobDescription("positions: full encode + parquet write")
    timed(
        "pos_encode_write",
        lambda: pos_encode()
        .write.mode("overwrite")
        .option("compression", "zstd")
        .parquet("/tmp/opt_pos_probe"),
    )

    # ---- pair proximity ----
    sc.setJobDescription("pair: stream noop")
    timed("pair_stream_noop", lambda: noop(pair_stream(docs)))

    sc.setJobDescription("pair: segments encode noop")
    timed(
        "pair_segments_noop",
        lambda: noop(
            build_segments(pair_stream(docs), doc_space, n_shards, PARTS)
        ),
    )

    sc.setJobDescription(None)
    spark.stop()


if __name__ == "__main__":
    main()
