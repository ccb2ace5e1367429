"""r6 scratch: seek microbench (bench shape, 639 seeks) on a 640k index."""
from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from grenad_spark.index.build import IndexHandle
from grenad_spark.operators.seek import seek_gte_postings
from grenad_spark.session import get_spark

IDX = sys.argv[1] if len(sys.argv) > 1 else "/tmp/opt_idx_large"
N_SEEKS = 639


def main():
    spark = get_spark(
        "opt-seek", cpus=16, shuffle_partitions=16,
        extra_conf={"spark.sql.adaptive.enabled": "false"},
    )
    idx = IndexHandle(IDX)
    dfm = idx.df_map(spark)
    terms = sorted(dfm)
    doc_space = idx.manifest["max_doc"] + 1
    keys = [(i, terms[i % len(terms)], (i * 9973) % doc_space) for i in range(N_SEEKS)]
    res = seek_gte_postings(spark, idx, keys).collect()  # warm
    print("hits:", len(res))
    best = float("inf")
    for _ in range(3):
        t0 = time.time()
        n = len(seek_gte_postings(spark, idx, keys).collect())
        best = min(best, time.time() - t0)
    print(f"seek_batch_639: {best:.3f}s ({N_SEEKS/best:.0f} seeks/s, {n} hits)")
    t0 = time.time()
    seek_gte_postings(spark, idx, keys[:1]).collect()
    print(f"seek_single: {time.time()-t0:.3f}s")
    spark.stop()


if __name__ == "__main__":
    main()


def pieces():
    import time as _t

    from pyspark.sql import functions as F

    spark = get_spark(
        "opt-seek2", cpus=16, shuffle_partitions=16,
        extra_conf={"spark.sql.adaptive.enabled": "false"},
    )
    idx = IndexHandle(IDX)
    dfm = idx.df_map(spark)
    terms = sorted(dfm)
    doc_space = idx.manifest["max_doc"] + 1
    keys = [(i, terms[i % len(terms)], (i * 9973) % doc_space) for i in range(N_SEEKS)]
    seg = idx.segments(spark).filter(F.col("term").isin(sorted({t for _, t, _ in keys})))
    kdf = spark.createDataFrame(keys, "seek_id int, term string, target long")

    def job1():
        return (
            seg.select("term", "shard", "block_id", "first_doc", "last_doc")
            .join(F.broadcast(kdf), "term")
            .filter(F.col("last_doc") >= F.col("target"))
            .groupBy("seek_id")
            .agg(F.min_by(F.struct("term", "shard", "block_id", "target"), F.col("first_doc")).alias("w"))
            .select("seek_id", "w.*")
            .collect()
        )

    job1()
    for name, fn in [
        ("createDataFrame_639", lambda: spark.createDataFrame(keys, "seek_id int, term string, target long")),
        ("job1_winners", job1),
    ]:
        best = float("inf")
        for _ in range(3):
            t0 = _t.time(); fn(); best = min(best, _t.time() - t0)
        print(f"{name}: {best*1000:.0f}ms")
    w = job1()
    want = sorted({(r["term"], int(r["shard"]), int(r["block_id"])) for r in w})
    keyset = [f"{t}\x00{s}\x00{b}" for (t, s, b) in want]
    def job2():
        return (
            idx.segments(spark)
            .filter(F.col("term").isin(sorted({t for t, _, _ in want})))
            .filter(F.concat_ws("\x00", "term", "shard", "block_id").isin(keyset))
            .select("term", "shard", "block_id", "payload")
            .collect()
        )
    job2()
    best = float("inf")
    for _ in range(3):
        t0 = _t.time(); job2(); best = min(best, _t.time() - t0)
    print(f"job2_fetch: {best*1000:.0f}ms ({len(job2())} rows)")
    spark.stop()


if __name__ == "__main__" and len(sys.argv) > 2 and sys.argv[2] == "pieces":
    pieces()
