"""r6 scratch: zipf pruning-leg timings (bench shapes)."""
from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

import bench
from grenad_spark.index.build import IndexHandle, build_index
from grenad_spark.query.search import search_topk, search_topk_shared
from grenad_spark.session import get_spark

REPL = 128
OUT = "/tmp/opt_idx_zipf"


def main():
    spark = get_spark(
        "opt-zipf", cpus=16, shuffle_partitions=16,
        extra_conf={"spark.sql.adaptive.enabled": "false"},
    )
    zdocs, zn = bench.replicated_docs(spark, "/root/testdata/sf0.1", REPL)
    zdocs = zdocs.select(
        "doc_id",
        F.concat("text", F.lit(" zzz"), (F.col("doc_id") % 977).cast("string")).alias("text"),
    )
    t0 = time.time()
    build_index(spark, zdocs, OUT, overwrite=True, partitions=64, docs_per_shard=5000)
    print(f"zipf build: {time.time()-t0:.1f}s ({zn} docs)")
    zidx = IndexHandle(OUT)
    zqueries = [(i, f"zzz{(i * 13) % 977} data stream") for i in range(64)]
    zmodes = ("wand", "exhaustive", "wand_pruned")
    for mode in zmodes:
        search_topk(spark, zidx, zqueries[:4], k=10, mode=mode).collect()
    search_topk_shared(spark, zidx, zqueries[:4], k=10, prune=True).collect()
    res = {}
    for mode in zmodes:
        best = float("inf")
        for _ in range(3):
            t0 = time.time()
            res[mode] = sorted(map(tuple, search_topk(spark, zidx, zqueries, k=10, mode=mode).collect()))
            best = min(best, time.time() - t0)
        print(f"zipf_batch64_{mode}: {best:.3f}s")
    assert res["wand"] == res["exhaustive"] == res["wand_pruned"], "diverged"
    for prune in (False, True):
        best = float("inf")
        for _ in range(2):
            t0 = time.time()
            r = sorted(map(tuple, search_topk_shared(spark, zidx, zqueries, k=10, prune=prune).collect()))
            best = min(best, time.time() - t0)
        assert r == res["exhaustive"], "shared diverged"
        print(f"zipf_batch64_shared{'_pruned' if prune else ''}: {best:.3f}s")
    spark.stop()


if __name__ == "__main__":
    main()
