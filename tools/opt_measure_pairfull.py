"""r6 scratch: full pairprox-leg rebuild timing (bench-shape, repl//4)."""
from __future__ import annotations

import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench
from grenad_spark.index.build import build_index
from grenad_spark.index.pairprox import build_pair_proximity
from grenad_spark.index.positions import build_positions
from grenad_spark.session import get_spark

REPL = int(sys.argv[1]) if len(sys.argv) > 1 else 32
PARTS = 64
OUT = "/tmp/opt_idx_pairprox"


def main():
    spark = get_spark("opt-pairfull", cpus=16, shuffle_partitions=16)
    docs, n_docs = bench.replicated_docs(spark, "/root/testdata/sf0.1", REPL)
    shutil.rmtree(OUT, ignore_errors=True)
    t0 = time.time()
    build_index(spark, docs, OUT, overwrite=True, partitions=PARTS,
                docs_per_shard=5000)
    t1 = time.time()
    build_positions(spark, docs, OUT, partitions=PARTS)
    t2 = time.time()
    build_pair_proximity(spark, docs, OUT, partitions=PARTS)
    t3 = time.time()
    print(f"n_docs={n_docs} build_index={t1-t0:.2f}s positions={t2-t1:.2f}s "
          f"pair={t3-t2:.2f}s", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
