"""r6 scratch: docs-stage write layout variants."""
from __future__ import annotations

import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench
from grenad_spark.index.stats import doc_lengths
from grenad_spark.session import get_spark

REPL = int(sys.argv[1]) if len(sys.argv) > 1 else 128


def timed(name, fn, reps=2):
    best = float("inf")
    for _ in range(reps):
        t0 = time.time()
        fn()
        best = min(best, time.time() - t0)
    print(f"{name}: {best:.2f}s", flush=True)
    return best


def main():
    spark = get_spark("opt-docs", cpus=16, shuffle_partitions=16)
    docs, n_docs = bench.replicated_docs(spark, "/root/testdata/sf0.1", REPL)
    docs = docs.cache()
    docs.count()
    print(f"n_docs={n_docs}")
    dl = doc_lengths(docs)

    def w(df, path):
        shutil.rmtree(path, ignore_errors=True)
        df.write.mode("overwrite").parquet(path)

    timed("write_64files", lambda: w(dl, "/tmp/opt_docs_64"))
    timed("write_coalesce16", lambda: w(dl.coalesce(16), "/tmp/opt_docs_16"))
    timed("write_coalesce8", lambda: w(dl.coalesce(8), "/tmp/opt_docs_8"))
    spark.stop()


if __name__ == "__main__":
    main()
