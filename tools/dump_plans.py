"""Dump annotated physical plans of the engine's key pipelines to PLANS.md.

The point of each annotation is the scale property the plan must exhibit
(pushdown, pruning, single-shuffle, broadcast) — re-run after plan-shaping
changes: python tools/dump_plans.py [TESTDATA_DIR]

TESTDATA_DIR is the sf0.001 test-data directory (default: the one
TESTDATA.md lists); PLANS.md is written at the root of the checkout this
script belongs to.
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))


def plan_str(df) -> str:
    p = df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    # strip exprIds (#123) for stable diffs
    return re.sub(r"#\d+L?", "#_", p)


def main() -> None:
    from grenad_spark.corpus import load_documents
    from grenad_spark.entrypoints import build_or_get_index
    from grenad_spark.index.build import build_segments, tokens_with_dl
    from grenad_spark.query.bm25 import REFERENCE_QUERIES
    from grenad_spark.query.search import _query_blocks_from_pairs, _tokenize_queries
    from grenad_spark.session import get_spark

    spark = get_spark("plans", cpus=8, shuffle_partitions=8)
    sf = "/root/testdata/sf0.001"
    if len(sys.argv) > 1:
        sf = sys.argv[1]
    docs = load_documents(spark, sf)
    sections: list[tuple[str, str, str]] = []

    seg = build_segments(tokens_with_dl(docs.select("doc_id", "text")), 500, 4, 8)
    sections.append(
        (
            "Index build: token stream → sharded encode",
            "Must show: ReadSchema limited to doc_id,text (html/binary pruned); "
            "ONE Exchange hashpartitioning(term, shard) feeding the sort + "
            "ArrowEvalPython/MapInPandas; partial_count map-side agg before the "
            "first exchange (grenad merge-on-spill for free).",
            plan_str(seg),
        )
    )

    idx = build_or_get_index(spark, sf)
    blocks, _ = _query_blocks_from_pairs(
        spark, idx, _tokenize_queries(REFERENCE_QUERIES[:2])
    )
    sections.append(
        (
            "Query: pruned segment scan + broadcast term joins",
            "Must show: PushedFilters with term IN (...) reaching the parquet "
            "scan (index-footer descent done by storage) and BroadcastHashJoin "
            "for term_dict and query terms (never a shuffle join on the "
            "vocabulary side).",
            plan_str(blocks),
        )
    )

    from grenad_spark.query.search import search_topk, search_topk_shared

    sections.append(
        (
            "Serving: single-query end-to-end (wand)",
            "Must show: exactly ONE Exchange hashpartitioning(query_id, qshard) "
            "into the scoring FlatMapGroupsInPandas (explicit right-sized "
            "repartition satisfies the clustering requirement — no second "
            "exchange) and TakeOrderedAndProject instead of a window for the "
            "final top-k (no second shuffle).",
            plan_str(search_topk(spark, idx, REFERENCE_QUERIES[:1], k=10, mode="wand")),
        )
    )

    sections.append(
        (
            "Serving: decode-once-score-many batch",
            "Must show: the pruned segment scan feeds the scoring UDF with NO "
            "query-id join anywhere before the exchange — every distinct block "
            "row ships once regardless of batch size (shuffle ∝ index slice, "
            "not queries × slice); query terms+idf ride in via the UDF closure.",
            plan_str(search_topk_shared(spark, idx, REFERENCE_QUERIES, k=10)),
        )
    )

    from grenad_spark.query.search import _tokenize_queries, survivor_blocks

    # sparse_df_max=0 forces every term onto the DENSE branch so the dump
    # pins the payload-free ReadSchema; in production low-df terms take a
    # second, payload-carrying scan branch (bounded by sparse_df_max
    # postings/term) so their exact positions can prune at pass 1
    surv = survivor_blocks(
        spark, idx, _tokenize_queries(REFERENCE_QUERIES[:2]), 10, sparse_df_max=0
    )
    sections.append(
        (
            "Serving: pass-1 metadata prune (dense branch — payload never read)",
            "Must show: the segment scan's ReadSchema WITHOUT the payload "
            "column — pass 1 ships ~30 B metadata rows into the prune UDF for "
            "dense terms; payload bytes stay on disk until pass 2's survivor "
            "join. (Sparse low-df terms take a separate scan branch carrying "
            "their small payloads, bounded by sparse_df_max postings/term.)",
            plan_str(surv),
        )
    )
    sections.append(
        (
            "Serving: two-pass pruned end-to-end (wand_pruned)",
            "Must show: TWO segment scans — metadata-only (plus sparse-term "
            "payloads) into the prune UDF, full into the survivor join — with "
            "the survivor side EXPLICITLY broadcast so only surviving payload "
            "rows cross the single scoring exchange (shuffle ∝ survivors, not "
            "all query-term blocks).",
            plan_str(
                search_topk(spark, idx, REFERENCE_QUERIES[:2], k=10, mode="wand_pruned")
            ),
        )
    )

    from grenad_spark.query.search import _symspell_candidates

    deletes = idx.term_deletes(spark)
    if deletes is not None:
        sections.append(
            (
                "Fuzzy max_edits=2: SymSpell deletion-table expansion",
                "Must show: ONE parquet source only (term_deletes — term_dict "
                "is never scanned), PushedFilters with delvar IN (...) reaching "
                "that scan (file pruning on the delvar-range layout), a "
                "BroadcastHashJoin against the driver-tiny query deletion "
                "neighborhood, and the exact levenshtein filter applied to "
                "candidates only.",
                plan_str(_symspell_candidates(spark, deletes, [(1, "sprak")], 2)),
            )
        )

    from grenad_spark.index.positions import build_positions
    from grenad_spark.query.bm25 import PHRASE_QUERIES
    from grenad_spark.query.phrase import search_topk_phrase

    if not idx.has_positions():
        build_positions(spark, docs, idx.path)
    sections.append(
        (
            "Serving: exact-phrase over the positional index",
            "Must show: PushedFilters with term IN (...) on the positions "
            "scan; ReadSchema pruned to term/shard/n/first_doc/header/"
            "positions (first_doc orders blocks inside the kernel — "
            "multi-file scans scramble row order); BroadcastHashJoin for "
            "the query terms; ONE Exchange into the phrase kernel; "
            "WindowGroupLimit partial top-k before the final rank exchange.",
            plan_str(search_topk_phrase(spark, idx, PHRASE_QUERIES, k=10)),
        )
    )
    sections.append(
        (
            "Serving: phrase with shard-intersection pre-pass (prune_shards)",
            "Must show: a SECOND metadata-only pass over positions "
            "(term+shard columns, payload columns absent from its ReadSchema) "
            "whose surviving (query, shard) pairs are EXPLICITLY broadcast "
            "into the payload scan — the head term's position payloads for "
            "shards the rare term never touches stay out of the exchange.",
            plan_str(
                search_topk_phrase(spark, idx, PHRASE_QUERIES, k=10, prune_shards=True)
            ),
        )
    )

    from grenad_spark.query.phrase import search_topk_mixed, search_topk_phrase_shared

    sections.append(
        (
            "Serving: shared-decode phrase batch",
            "Must show: the positions scan feeds the kernel with NO query "
            "column or query join anywhere before the exchange (queries and "
            "idfs ride the closure) — each distinct block of the batch's "
            "term union ships once; one Exchange hashpartitioning(qshard).",
            plan_str(search_topk_phrase_shared(spark, idx, PHRASE_QUERIES, k=10)),
        )
    )
    sections.append(
        (
            "Serving: mixed query strings (free terms + quoted phrases)",
            "Must show: ONE positional scan serving both the phrase "
            "constraints and the free-term BM25 (block headers are full "
            "posting blocks — no second scan against segments); the same "
            "pruned-scan + broadcast + single-exchange shape as phrase.",
            plan_str(
                search_topk_mixed(
                    spark, idx, [(1, 'dup "merge sort"'), (2, "spark window")], k=10
                )
            ),
        )
    )

    from grenad_spark.entrypoints import build_or_get_fielded_index
    from grenad_spark.query.phrase import search_topk_mixed_prefix
    from grenad_spark.query.ranked import search_topk_ranked

    fidx = build_or_get_fielded_index(spark, sf)
    sections.append(
        (
            "Serving: composed ranking pipeline (words→typo→proximity→attribute→exactness→relevance)",
            "Must show: ONE positions scan with a pushed In(term) filter over "
            "the (typo-expanded) derivation set; no term_dict scan (idf from "
            "the driver df-map); ONE Exchange into the rule kernel computing "
            "every tier; the lexicographic rank window after. Field ids ride "
            "the positions' high bits — no extra column, no extra scan.",
            plan_str(search_topk_ranked(spark, fidx, [(1, "spark window")], k=10)),
        )
    )
    sections.append(
        (
            "Serving: mixed query with last-word-prefix expansion",
            "Must show: the SAME single-positional-scan shape as mixed — the "
            "prefix expansion only widens the In(term) list (expansion "
            "resolved by one a-priori pruned term_dict range scan, not part "
            "of this per-query plan).",
            plan_str(
                search_topk_mixed_prefix(
                    spark, idx, [(1, 'dup "merge sort" spar')], k=10
                )
            ),
        )
    )

    from grenad_spark.operators.dedup import minhash_lsh_pairs

    sections.append(
        (
            "Dedup: MinHash+LSH candidate join",
            "Must show: single aggregate over shingles with h min() partial "
            "aggs (no row explosion per hash); the band-bucket self-join keyed "
            "on (band, bucket).",
            plan_str(minhash_lsh_pairs(docs, 0.5)),
        )
    )

    with open(ROOT / "PLANS.md", "w") as fh:
        fh.write(
            "# PLANS — annotated physical plans of the core pipelines\n\n"
            "Generated by tools/dump_plans.py (exprIds normalized). Each\n"
            "annotation states the scale property the plan must exhibit.\n"
        )
        for title, note, plan in sections:
            fh.write(f"\n## {title}\n\n{note}\n\n```\n{plan}\n```\n")
    print(f"wrote {ROOT / 'PLANS.md'}")


if __name__ == "__main__":
    main()
