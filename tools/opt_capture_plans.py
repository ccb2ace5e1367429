"""Capture explain('formatted') for the serving and build query paths.

Usage:
    python tools/opt_capture_plans.py <repo_root> <suffix> <out_dir>
        [--cpus N] [--shuffle-partitions N] [--index-root DIR]
        [--build REPL] [--only NAME ...]

Run once with a checkout of the base commit (suffix 'before') and once with
the current tree (suffix 'after'); the indexes under --index-root are shared.
They are the ones bench.py builds (bench_idx_h_large, bench_idx_pairprox,
bench_idx_fielded); --build REPL builds any missing one from sf0.1
replicated REPL (h_large) and REPL/4 (pairprox, fielded) times, the
pair-proximity index as bench.py builds it, so a capture does not need a
full bench run. A capture whose index is absent is skipped with a line
saying so.

--shuffle-partitions defaults to --cpus. Pass a larger value (the default
session uses max(cpus, 32)) to see whether a kernel exchange is sized by the
planner or by the session's shuffle width.

A serving call that fits one kernel group would be served on the driver (a
bare LocalTableScan), so every serving capture is taken with the
driver-local gate (search._serve_local) off, as the tests force it: the
capture shows the call's Spark plan (block attach, kernel dispatch, top-k)
whatever the index size.
"""
from __future__ import annotations

import argparse
import functools
import os
import sys

SF_DIR = "/root/testdata/sf0.1"


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("repo")
    ap.add_argument("suffix")
    ap.add_argument("out")
    ap.add_argument("--cpus", type=int, default=16)
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    ap.add_argument("--index-root", default="/tmp")
    ap.add_argument("--build", type=int, default=None, metavar="REPL")
    ap.add_argument("--only", nargs="*", default=None)
    args = ap.parse_args()
    sys.path.insert(0, args.repo)

    from grenad_spark.session import get_spark

    os.makedirs(args.out, exist_ok=True)
    spark = get_spark(
        f"plans-{args.suffix}", cpus=args.cpus,
        shuffle_partitions=args.shuffle_partitions or args.cpus,
        extra_conf={"spark.sql.adaptive.enabled": "false"},
    )

    def dump(name: str, make_df) -> None:
        if args.only is not None and name not in args.only:
            return
        df = make_df()
        txt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(args.out, f"{name}_{args.suffix}.txt")
        with open(path, "w") as fh:
            fh.write(txt)
        print(f"wrote {path} ({len(txt)} bytes)")

    from grenad_spark.index.build import IndexHandle, build_index, build_segments, tokens_with_dl
    from grenad_spark.operators.seek import seek_gte_postings
    from grenad_spark.query.bm25 import REFERENCE_QUERIES
    from grenad_spark.query.phrase import (
        search_topk_phrase,
        search_topk_phrase_shared,
        search_topk_proximity,
    )
    from grenad_spark.query import search
    from grenad_spark.query.search import search_topk, search_topk_shared

    def spark_plan(make_df, **patches):
        """make_df with the driver-local gate off, and each of `patches`
        set on the search module meanwhile: the call's Spark plan."""

        def run():
            patches["_serve_local"] = lambda *a: False
            saved = {name: getattr(search, name) for name in patches}
            for name, value in patches.items():
                setattr(search, name, value)
            try:
                return make_df()
            finally:
                for name, value in saved.items():
                    setattr(search, name, value)

        return run

    sys.path.append(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import bench

    def path(name: str) -> str | None:
        p = os.path.join(args.index_root, name)
        return p if os.path.exists(os.path.join(p, "manifest.json")) else None

    if args.build:
        from grenad_spark.corpus import fielded_docs
        from grenad_spark.index.pairprox import build_pair_proximity
        from grenad_spark.index.positions import build_positions

        for name, repl in (
            ("bench_idx_h_large", args.build),
            ("bench_idx_pairprox", max(1, args.build // 4)),
            ("bench_idx_fielded", max(1, args.build // 4)),
        ):
            if path(name) is not None:
                continue
            out = os.path.join(args.index_root, name)
            docs, _ = bench.replicated_docs(spark, SF_DIR, repl)
            if name == "bench_idx_pairprox":
                parts = bench.PLAN_PARTITIONS
                build_index(spark, docs, out, overwrite=True, partitions=parts,
                            docs_per_shard=5000)
                build_positions(spark, docs, out, partitions=parts)
                build_pair_proximity(spark, docs, out, partitions=parts)
                continue
            build_index(spark, docs, out, overwrite=True, docs_per_shard=5000)
            fielded = name == "bench_idx_fielded"
            build_positions(
                spark, fielded_docs(docs) if fielded else docs, out,
                **({"fields": ["title", "body"]} if fielded else {}),
            )

    def skipped(index: str, *names: str) -> None:
        for name in names:
            print(f"skipped {name}: no {index} under {args.index_root}")

    if path("bench_idx_h_large"):
        idx = IndexHandle(path("bench_idx_h_large"))
        q1 = REFERENCE_QUERIES[2:3]
        dump("bm25_wand_single", spark_plan(lambda: search_topk(spark, idx, q1, k=10, mode="wand")))
        dump("bm25_wand_batch12", spark_plan(lambda: search_topk(spark, idx, REFERENCE_QUERIES, k=10, mode="wand")))
        dump("bm25_exhaustive_batch12", spark_plan(
            lambda: search_topk(spark, idx, REFERENCE_QUERIES, k=10, mode="exhaustive")
        ))
        dump("bm25_shared_batch12", spark_plan(lambda: search_topk_shared(spark, idx, REFERENCE_QUERIES, k=10)))
        # every query term's df is under SPARSE_DF_MAX at this size, so pass 1
        # would keep every block and the call would plan the single pass:
        # treat every term as dense to capture the two-pass plan
        dump("bm25_wand_pruned_batch12", spark_plan(
            lambda: search_topk(spark, idx, REFERENCE_QUERIES, k=10, mode="wand_pruned"),
            survivor_blocks=functools.partial(search.survivor_blocks, sparse_df_max=0),
        ))

        def seek():
            terms = sorted(idx.df_map(spark))
            doc_space = idx.manifest["max_doc"] + 1
            keys = [(i, terms[i % len(terms)], (i * 9973) % doc_space) for i in range(639)]
            return seek_gte_postings(spark, idx, keys)

        dump("seek_gte_batch639", seek)

        phrase_qs = [
            (1, "merge sort"), (2, "the fast"), (3, "key value stream"),
            (4, "dup"), (5, "data batch data"), (6, "hash join"),
            (7, "sort table scan"), (8, "group query row"), (9, "stream batch"),
            (10, "window small"), (11, "customer line"), (12, "slow customer line"),
        ]
        dump("phrase_batch12", spark_plan(lambda: search_topk_phrase(spark, idx, phrase_qs, k=10)))
        dump("phrase_shared_batch12", spark_plan(lambda: search_topk_phrase_shared(spark, idx, phrase_qs, k=10)))
    else:
        skipped(
            "bench_idx_h_large", "bm25_wand_single", "bm25_wand_batch12",
            "bm25_exhaustive_batch12", "bm25_shared_batch12", "bm25_wand_pruned_batch12",
            "seek_gte_batch639", "phrase_batch12", "phrase_shared_batch12",
        )

    if path("bench_idx_pairprox"):
        from grenad_spark.index.pairprox import search_topk_proximity_db

        pidx = IndexHandle(path("bench_idx_pairprox"))
        prox_qs = [
            (1, "merge sort"), (2, "the join"), (3, "key value stream"),
            (4, "dup spark"), (5, "data stream"), (6, "hash join"),
            (7, "group query row"), (8, "window the batch"),
        ]
        dump("proximity_positions_batch8", spark_plan(lambda: search_topk_proximity(spark, pidx, prox_qs, k=10)))
        dump("proximity_pairdb_batch8", spark_plan(lambda: search_topk_proximity_db(spark, pidx, prox_qs, k=10)))
    else:
        skipped("bench_idx_pairprox", "proximity_positions_batch8", "proximity_pairdb_batch8")

    if path("bench_idx_fielded"):
        from grenad_spark.query.ranked import search_topk_ranked

        fidx = IndexHandle(path("bench_idx_fielded"))
        ranked_qs = [
            (1, "data stream"), (2, "merge sort"), (3, "the fast join"),
            (4, "spark window"), (5, "big table"), (6, "key value"),
            (7, "hash join order"), (8, "filter column row"),
        ]
        dump("ranked_batch8", spark_plan(lambda: search_topk_ranked(spark, fidx, ranked_qs, k=10)))
    else:
        skipped("bench_idx_fielded", "ranked_batch8")

    # build-side plans (pre-write pipelines)
    from grenad_spark.index.pairprox import pair_stream

    def encode():
        docs, n_docs = bench.replicated_docs(spark, SF_DIR, 8)
        return build_segments(tokens_with_dl(docs), n_docs, 32, 64)

    dump("build_segments_encode", encode)
    dump("pair_stream_agg", lambda: pair_stream(bench.replicated_docs(spark, SF_DIR, 8)[0]))
    spark.stop()


if __name__ == "__main__":
    main()
