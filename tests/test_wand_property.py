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
    sparse terms carry payloads and prune at exact posting positions). The
    pass-1 kernel sees distinct block rows; the query's terms and their idf
    come from the driver."""
    from grenad_spark.query.search import _make_meta_prune_shared

    pdf, avgdl = qg
    meta = pdf.drop(columns=["query_id", "idf"])
    # term ti is DENSE iff bit i of dense_bits is set — fuzz all splits
    meta["payload"] = [
        None if (dense_bits >> int(t[1:])) & 1 else p
        for t, p in zip(meta["term"], meta["payload"])
    ]
    idfs = dict(zip(pdf["term"], pdf["idf"]))
    surv = _make_meta_prune_shared({1: sorted(idfs)}, idfs, avgdl, k)(meta)
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


def _term_rows(term, docs, tfs, dls, idf, block_size):
    return [
        {
            "term": term, "idf": idf, "n": n, "first_doc": first, "last_doc": last,
            "max_tf": max_tf, "min_dl": min_dl, "payload": payload,
        }
        for n, first, last, max_tf, min_dl, _mtf, _mdl, _stf, payload in encode_posting_blocks(
            docs, tfs, dls, block_size
        )
    ]


@st.composite
def query_slice(draw):
    """One doc-disjoint slice holding 2-5 queries over a shared pool of 2-5
    terms, so the same block rows appear under several query_ids, with the
    first query a one-term query. With `head`, one pool term holds more
    postings than SPARSE_GROUP_POSTINGS, so the default threshold puts its
    queries on the block-max branch and the others on the sparse one. Rows
    come in two scrambled orders. Returns (rows, reordered rows, avgdl,
    term -> (docs, tfs, dls, idf), the queries' term lists)."""
    from grenad_spark.query.search import SPARSE_GROUP_POSTINGS

    n_terms = draw(st.integers(2, 5))
    doc_space = draw(st.integers(5, 400))
    avgdl = float(draw(st.integers(5, 80)))
    block_size = draw(st.sampled_from([4, 16, 128]))
    rng = np.random.default_rng(draw(st.integers(0, 2**32 - 1)))
    pool = []
    for ti in range(n_terms):
        n_docs = draw(st.integers(1, min(doc_space, 150)))
        pool.append((f"t{ti}", rng.choice(doc_space, size=n_docs, replace=False)))
    if draw(st.booleans()):
        n_head = SPARSE_GROUP_POSTINGS + draw(st.integers(1, 200))
        pool.append(("head", rng.choice(n_head + 300, size=n_head, replace=False)))
    postings, by_term = {}, {}
    for term, docs in pool:
        docs = np.sort(docs).astype(np.int64)
        tfs = rng.choice([1, 1, 2, 5], size=docs.size).astype(np.int64)
        dls = rng.choice([10, 10, 40], size=docs.size).astype(np.int64)
        idf = float(draw(st.floats(0.05, 3.0, allow_nan=False)))
        postings[term] = (docs, tfs, dls, idf)
        by_term[term] = _term_rows(term, docs, tfs, dls, idf, block_size)
    names = [t for t, _ in pool]
    queries = [[draw(st.sampled_from(names))]]
    for _ in range(draw(st.integers(1, 4))):
        queries.append(draw(st.lists(st.sampled_from(names), min_size=1, max_size=4, unique=True)))
    rows = [
        {"query_id": qid, "shard": 0, **r}
        for qid, terms in enumerate(queries, start=1)
        for t in terms
        for r in by_term[t]
    ]
    pdf = pd.DataFrame(rows)
    a = pdf.iloc[rng.permutation(len(pdf))].reset_index(drop=True)
    b = pdf.iloc[rng.permutation(len(pdf))].reset_index(drop=True)
    return a, b, avgdl, postings, queries


def _rows(df):
    return list(map(tuple, df[["query_id", "doc_id", "score"]].values.tolist()))


def _reference_topk(postings, queries, avgdl, k):
    """Each query's top-k from the raw postings: per doc, BM25 summed over
    the query's terms in name order, rounded, ranked by (-score, doc_id)."""
    from grenad_spark.query.bm25 import SCORE_DECIMALS
    from grenad_spark.query.kernels import tfpart

    out = []
    for qid, terms in enumerate(queries, start=1):
        acc: dict[int, float] = {}
        for t in sorted(terms):
            docs, tfs, dls, idf = postings[t]
            s = idf * tfpart(tfs.astype(np.float64), dls.astype(np.float64), avgdl)
            for d, v in zip(docs.tolist(), s.tolist()):
                acc[d] = acc.get(d, 0.0) + v
        docs = np.array(list(acc), dtype=np.int64)
        scores = np.round(np.array(list(acc.values())), SCORE_DECIMALS)
        order = np.lexsort((docs, -scores))[:k]
        out += [(qid, int(d), float(s)) for d, s in zip(docs[order], scores[order])]
    return out


@given(query_slice(), st.integers(1, 15), st.sampled_from([0, None, 2**62]))
@settings(max_examples=100, deadline=None)
def test_batch_kernel_equals_one_query_calls(qs, k, sparse_max):
    """One call over a multi-query slice equals the one-query calls, the
    exhaustive kernel and a reference top-k of the raw postings, and gives
    the same float bits on another row order: sparse_postings_max 0 puts
    every query on the block-max branch, 2**62 every query on the sparse
    branch, the default splits them when the slice holds the head term."""
    from grenad_spark.query.search import SPARSE_GROUP_POSTINGS

    pdf, reordered, avgdl, postings, queries = qs
    fn = _make_wand_batched(
        avgdl, k, sparse_postings_max=SPARSE_GROUP_POSTINGS if sparse_max is None else sparse_max
    )
    batch = fn(pdf.copy())
    assert batch["query_id"].dtype == np.int64
    singles = [fn(g.copy()) for _, g in pdf.groupby("query_id", sort=True)]
    assert _rows(batch) == _rows(pd.concat(singles, ignore_index=True))
    assert _rows(batch) == _rows(_make_exhaustive(avgdl, k)(pdf.copy()))
    assert _rows(batch) == _reference_topk(postings, queries, avgdl, k)
    again = fn(reordered.copy())
    assert [(q, d, s.hex()) for q, d, s in _rows(again)] == [
        (q, d, s.hex()) for q, d, s in _rows(batch)
    ]
