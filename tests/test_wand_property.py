"""Property-based rank-identity: batched block-max pruning must equal the
exhaustive scorer on ARBITRARY posting sets (Hypothesis),
exercising multi-block lists, θ ties, gaps, singleton terms — the
qc-style replacement for grenad's quickcheck seeks (SURVEY §5).

Runs the pandas UDF functions directly (no Spark session) — the functions
are pure, so this covers the scoring/skipping logic at fuzz speed.
"""

import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from grenad_spark.functions.varbyte import encode_posting_blocks
from grenad_spark.query.search import _make_exhaustive, _make_wand_batched


@st.composite
def query_group(draw):
    """One (query, shard) group: 1-4 terms, each with a random posting list
    over a small doc space (forcing collisions and ties)."""
    n_terms = draw(st.integers(1, 4))
    doc_space = draw(st.integers(5, 400))
    avgdl = float(draw(st.integers(5, 80)))
    # small block sizes force MANY blocks per list: exercises the multi-block
    # θ seed (rare terms with fewer than k docs per block), range-boundary
    # pruning, and the dense/sparse extraction branches
    block_size = draw(st.sampled_from([4, 16, 128]))
    rows = []
    for ti in range(n_terms):
        n_docs = draw(st.integers(1, min(doc_space, 150)))
        docs = sorted(draw(st.sets(st.integers(0, doc_space - 1), min_size=n_docs, max_size=n_docs)))
        docs = np.array(docs, dtype=np.int64)
        # constant-ish tf/dl pools force exact score ties
        tfs = np.array([draw(st.sampled_from([1, 1, 2, 5]))for _ in docs], dtype=np.int64)
        dls = np.array([draw(st.sampled_from([10, 10, 40]))for _ in docs], dtype=np.int64)
        idf = float(draw(st.floats(0.05, 3.0, allow_nan=False)))
        for bid, (n, first, last, max_tf, min_dl, min_tf, max_dl, sum_tf, payload) in enumerate(
            encode_posting_blocks(docs, tfs, dls, block_size)
        ):
            rows.append(
                {
                    "query_id": 1,
                    "shard": 0,
                    "block_id": bid,
                    "term": f"t{ti}",
                    "idf": idf,
                    "n": n,
                    "first_doc": first,
                    "last_doc": last,
                    "max_tf": max_tf,
                    "min_dl": min_dl,
                    "min_tf": min_tf,
                    "max_dl": max_dl,
                    "payload": payload,
                }
            )
    return pd.DataFrame(rows), avgdl


def _norm(df):
    return sorted(map(tuple, df[["query_id", "doc_id", "score"]].values.tolist()))


@given(query_group(), st.integers(1, 15))
@settings(max_examples=200, deadline=None)
def test_wand_modes_equal_exhaustive(qg, k):
    pdf, avgdl = qg
    ex = _norm(_make_exhaustive(avgdl, k)(pdf.copy()))
    # default: small fuzz lists all take the sparse pseudo-block path;
    # sparse_postings_max=0 forces the block-granular (dense) path — both
    # must stay rank-identical to exhaustive
    wb = _norm(_make_wand_batched(avgdl, k)(pdf.copy()))
    wd = _norm(_make_wand_batched(avgdl, k, sparse_postings_max=0)(pdf.copy()))
    # scores are floats computed along different code paths -> compare with
    # rounding (the engine rounds to 4 decimals before ranking anyway)
    def r(rows):
        return [(q, d, round(s, 9)) for q, d, s in rows]

    assert r(wb) == r(ex)
    assert r(wd) == r(ex)


@given(query_group(), st.integers(1, 15), st.integers(0, 15))
@settings(max_examples=200, deadline=None)
def test_metadata_prune_preserves_topk(qg, k, dense_bits):
    """The pass-1 pruner must never drop a block the exact top-k depends on:
    scoring only its surviving blocks with the batched WAND must equal the
    exhaustive scorer over ALL blocks — on arbitrary posting sets, including
    θ ties at block boundaries, and for every dense/sparse term split
    (dense terms are metadata-only: payload withheld from the pruner;
    sparse terms carry payloads and prune at exact posting positions)."""
    from grenad_spark.query.search import _make_meta_prune

    pdf, avgdl = qg
    meta = pdf.copy()
    # term ti is DENSE iff bit i of dense_bits is set — fuzz all splits
    meta["payload"] = [
        None if (dense_bits >> int(t[1:])) & 1 else p
        for t, p in zip(meta["term"], meta["payload"])
    ]
    surv = _make_meta_prune(avgdl, k)(meta)
    keep = pdf.merge(surv, on=["query_id", "term", "shard", "block_id"])
    ex = _norm(_make_exhaustive(avgdl, k)(pdf.copy()))
    pruned = _norm(_make_wand_batched(avgdl, k)(keep))

    def r(rows):
        return [(q, d, round(s, 9)) for q, d, s in rows]

    assert r(pruned) == r(ex)


def test_cross_term_theta_hand_case():
    """Hand-checkable cross-term θ: two terms with aligned dense blocks —
    the guaranteed intersection per range carries both terms' lbs, so θ must
    reach lb_A + lb_B (the per-term bound alone would stop at max(lb))."""
    import numpy as np

    from grenad_spark.query.search import _cross_term_theta

    def mk(lb):
        first = np.arange(8) * 100
        return {
            "first": first,
            "last": first + 99,
            "ub": np.full(8, lb * 2.0),
            "lb": np.full(8, lb),
            "nb": np.full(8, 90),  # 90 docs in a 100-id span → dense
        }

    a, b = mk(1.0), mk(0.5)
    # per range of 2 blocks (W=200): C_A = C_B = 180 → |A∩B| ≥ 160 ≥ k
    got = _cross_term_theta([a, b], 10)
    assert abs(got - 1.5) < 1e-9, got
    # sparse blocks (few, term-wide) contribute nothing but never break it
    sparse = {
        "first": np.array([5]), "last": np.array([5]),
        "ub": np.array([3.0]), "lb": np.array([3.0]), "nb": np.array([1]),
    }
    got2 = _cross_term_theta([a, b, sparse], 10)
    assert got2 >= got - 1e-9
    # fewer than k guaranteed docs → no bound
    tiny = {k2: v[:1] for k2, v in mk(1.0).items()}
    tiny["nb"] = np.array([3])
    assert _cross_term_theta([tiny], 10) == -1.0


def test_cross_term_theta_prunes_heterogeneous_corpus(spark, docs_small, tmp_path):
    """End-to-end: on a topical-vs-boilerplate corpus with multi-term
    queries (no rare term), the per-term θ keeps every block; the cross-term
    bound must prune strictly more — with results still exact."""
    from pyspark.sql import functions as F

    import grenad_spark.query.search as S
    from grenad_spark.index.build import build_index
    from grenad_spark.query.search import (
        _query_blocks_from_pairs,
        _tokenize_queries,
        search_topk,
        survivor_blocks,
    )

    # fully controlled regime (natural text's max_tf outliers otherwise let
    # the per-term bound do all the work or none): topical chunks carry the
    # pool terms at tf=6 in short docs (high block lb l); boilerplate chunks
    # carry them at tf=1 in long docs (low block ub u), with l/u ≈ 2.7 — so
    # per-term θ (= l) cannot beat a boilerplate range's 6-term UB (= 6u),
    # but the cross-term θ proves all 6 terms co-occur (density 1.0) and
    # 6l > 6u prunes it
    pool = ["data", "stream", "batch", "big", "table", "join"]
    topical = " ".join(["data stream batch big table join"] * 6)
    boiler = "data stream batch big table join " + " ".join(["pad"] * 400)
    docs = spark.range(8000).select(
        F.col("id").alias("doc_id"),
        F.when(
            (F.col("id") / 500).cast("long") % 2 == 0,
            F.concat(F.lit(topical + " u"), F.col("id").cast("string")),
        ).otherwise(F.lit(boiler)).alias("text"),
    )
    out = str(tmp_path / "hetero")
    idx = build_index(spark, docs, out, docs_per_shard=500, n_shards=16)
    qs = [(i, " ".join(pool[(i + j) % len(pool)] for j in range(6))) for i in range(8)]
    pairs = _tokenize_queries(qs)
    counts = {}
    for flag in (False, True):
        S.CROSS_TERM_THETA = flag
        try:
            # sparse_df_max=0: every term takes the DENSE metadata path (at
            # this test's corpus size all dfs sit under the serving default,
            # and sparse blocks always ship — the bound under test is the
            # dense cross-term one)
            counts[flag] = survivor_blocks(
                spark, idx, pairs, 10, sparse_df_max=0
            ).count()
        finally:
            S.CROSS_TERM_THETA = True
    total = _query_blocks_from_pairs(spark, idx, pairs)[0].count()
    assert counts[False] == total, (counts, total)  # per-term θ: no pruning
    assert counts[True] < counts[False], counts      # cross-term θ: pruning
    a = sorted(map(tuple, search_topk(spark, idx, qs, k=10, mode="wand_pruned").collect()))
    b = sorted(map(tuple, search_topk(spark, idx, qs, k=10, mode="exhaustive").collect()))
    assert a == b and len(a) > 0
