"""r6 scratch: rebuild the 640k bench-shape index into /tmp/opt_idx_large."""
from __future__ import annotations

import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench
from grenad_spark.index.build import build_index
from grenad_spark.index.positions import build_positions
from grenad_spark.session import get_spark

REPL = int(sys.argv[1]) if len(sys.argv) > 1 else 128
OUT = sys.argv[2] if len(sys.argv) > 2 else "/tmp/opt_idx_large"


def main():
    spark = get_spark("opt-build-large", cpus=16, shuffle_partitions=16)
    docs, n_docs = bench.replicated_docs(spark, "/root/testdata/sf0.1", REPL)
    docs = docs.cache()
    docs.count()
    shutil.rmtree(OUT, ignore_errors=True)
    t0 = time.time()
    build_index(spark, docs, OUT, overwrite=True, partitions=64,
                docs_per_shard=5000)
    t1 = time.time()
    build_positions(spark, docs, OUT, partitions=64)
    t2 = time.time()
    print(f"n_docs={n_docs} build_index={t1-t0:.2f}s positions={t2-t1:.2f}s")
    import json
    print(json.load(open(f"{OUT}/manifest.json"))["stage_seconds"])
    spark.stop()


if __name__ == "__main__":
    main()
