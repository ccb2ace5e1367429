"""Field-aware positions + attribute rule + composed ranking pipeline tests.

Brute-force oracles over a random word-salad corpus with an explicit
title/body field split (mirrors tests/test_phrase.py's strategy)."""

import math

import numpy as np
import pytest

VOCAB = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta"]
STRIDE = 1 << 16


def _mk_fielded_corpus(rng, n_docs):
    """[(doc_id, title_tokens, body_tokens)] — short titles, longer bodies."""
    rows = []
    for i in range(n_docs):
        tl = rng.integers(1, 4)
        bl = rng.integers(3, 25)
        rows.append(
            (
                i,
                [str(rng.choice(VOCAB)) for _ in range(tl)],
                [str(rng.choice(VOCAB)) for _ in range(bl)],
            )
        )
    return rows


@pytest.fixture(scope="module")
def fielded_index(spark, tmp_path_factory):
    from grenad_spark.index.build import build_index
    from grenad_spark.index.positions import build_positions

    rng = np.random.default_rng(41)
    rows = _mk_fielded_corpus(rng, 300)
    docs = spark.createDataFrame(
        [(d, " ".join(t), " ".join(b), " ".join(t) + " " + " ".join(b))
         for d, t, b in rows],
        "doc_id long, title string, body string, text string",
    )
    out = str(tmp_path_factory.mktemp("fidx") / "index")
    idx = build_index(spark, docs.select("doc_id", "text"), out, n_shards=3,
                      block_size=16)
    build_positions(spark, docs, out, fields=["title", "body"], block_size=16)
    from grenad_spark.index.build import IndexHandle

    return IndexHandle(out), rows


def _corpus_stats(rows):
    toks = {d: t + b for d, t, b in rows}
    n = len(rows)
    avgdl = sum(len(v) for v in toks.values()) / n
    df = {}
    for v in toks.values():
        for w in set(v):
            df[w] = df.get(w, 0) + 1
    return toks, n, avgdl, df


def _bm25(toks, n, avgdl, df, doc_toks, terms):
    s = 0.0
    for w in terms:
        tf = doc_toks.count(w)
        if tf == 0:
            continue
        idf = math.log(1 + (n - df[w] + 0.5) / (df[w] + 0.5))
        s += idf * tf * 2.2 / (tf + 1.2 * (1 - 0.75 + 0.75 * len(doc_toks) / avgdl))
    return round(s, 4)


def test_fielded_positions_reject_unfielded_serving(spark, index_small):
    from grenad_spark.query.ranked import search_topk_attr_rule

    with pytest.raises(ValueError, match="position_fields"):
        search_topk_attr_rule(spark, index_small, [(1, "the fast")], k=5)


def test_attr_rule_bruteforce(spark, fielded_index):
    from grenad_spark.query.ranked import search_topk_attr_rule

    idx, rows = fielded_index
    toks, n, avgdl, df = _corpus_stats(rows)
    queries = [(1, "alpha beta"), (2, "gamma"), (3, "zeta eta theta")]
    got = search_topk_attr_rule(spark, idx, queries, k=10**6).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r.query_id, {})[r.doc_id] = (r.attr, r.score)
    for qid, q in queries:
        terms = q.split()
        expect = {}
        for d, t, b in rows:
            dt = t + b
            if not all(w in dt for w in terms):
                continue
            attr = sum(0 if w in t else 1 for w in terms)
            expect[d] = (attr, _bm25(toks, n, avgdl, df, dt, terms))
        assert by_q.get(qid, {}) == expect, (qid, q)


def test_ranked_pipeline_bruteforce(spark, fielded_index):
    """Every rule statistic (words/typos/proximity/attribute/exactness/score)
    against a from-scratch Python oracle, incl. a typo'd query."""
    from grenad_spark.query.ranked import search_topk_ranked

    idx, rows = fielded_index
    toks, n, avgdl, df = _corpus_stats(rows)
    queries = [(1, "alpha beta"), (2, "gama delta"), (3, "zeta")]
    got = search_topk_ranked(spark, idx, queries, k=10**6).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r.query_id, {})[r.doc_id] = (
            r.words, r.typos, r.proximity, r.attribute, r.exactness, r.score
        )

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    vocab = sorted(df)
    for qid, q in queries:
        slots = q.split()
        derivs = {s: {t: lev(t, s) for t in vocab if lev(t, s) <= 1} for s in slots}
        all_terms = sorted({t for dv in derivs.values() for t in dv})
        expect = {}
        for d, t, b in rows:
            dt = t + b
            # encoded positions
            pos = {}
            for i, w in enumerate(t):
                pos.setdefault(w, []).append(i)
            for i, w in enumerate(b):
                pos.setdefault(w, []).append(STRIDE + i)
            matched_slots = [
                s for s in slots if any(tt in pos for tt in derivs[s])
            ]
            if not matched_slots:
                continue
            words = len(matched_slots)
            typos = sum(
                min(dist for tt, dist in derivs[s].items() if tt in pos)
                for s in matched_slots
            )
            attr = sum(
                min(p // STRIDE for tt in derivs[s] if tt in pos for p in pos[tt])
                for s in matched_slots
            )
            exact = sum(1 for s in slots if s in pos)
            prox = 0
            for i in range(len(slots) - 1):
                sa, sb = slots[i], slots[i + 1]
                if sa not in [s for s in matched_slots] or sb not in matched_slots:
                    continue
                cands = [
                    abs(pa - pb)
                    for ta, da in derivs[sa].items() if ta in pos
                    for tb, db in derivs[sb].items() if tb in pos
                    for pa in pos[ta]
                    for pb in pos[tb]
                    if not (ta == tb and pa == pb)
                ]
                if cands:
                    prox += min(cands)
            score = _bm25(toks, n, avgdl, df, dt, [t for t in all_terms if t in pos])
            expect[d] = (words, typos, prox, attr, exact, score)
        assert by_q.get(qid, {}) == expect, (qid, q)


def test_ranked_exact_match_dominates(spark, fielded_index):
    """A doc matching all slots exactly with zero typos must rank at or
    above any doc with the same words count but >0 typos."""
    from grenad_spark.query.ranked import search_topk_ranked

    idx, _rows = fielded_index
    got = search_topk_ranked(spark, idx, [(1, "alpha beta")], k=50).collect()
    seen_typo = False
    for r in got:  # rows arrive rank-ordered per query
        if r.words == 2:
            if r.typos > 0:
                seen_typo = True
            else:
                assert not seen_typo, "0-typo doc ranked below a typo'd doc"


def test_ranked_oov_queries_empty(spark, fielded_index):
    """A query with no in-vocabulary derivation returns no rows (ranked);
    a conjunctive attr query with one OOV term can never match."""
    from grenad_spark.query.ranked import search_topk_attr_rule, search_topk_ranked

    idx, _rows = fielded_index
    assert search_topk_ranked(spark, idx, [(1, "qqqqqqqq")], k=5).count() == 0
    assert search_topk_attr_rule(spark, idx, [(1, "alpha qqqqqqqq")], k=5).count() == 0


def test_ranked_plan_shape(spark, fielded_index, monkeypatch):
    """The composed pipeline keeps the house serving-plan shape: the
    positions scan carries a pushed In(term) filter over the expansion set,
    scans ONLY the positions table, and has exactly one shuffle exchange
    into the kernel (plus the top-k window's). A one-group call is served
    on the driver, so the driver-local gate is turned off here."""
    import grenad_spark.query.search as S
    from grenad_spark.query.ranked import search_topk_ranked

    monkeypatch.setattr(S, "_serve_local", lambda *a: False)
    idx, _rows = fielded_index
    df = search_topk_ranked(spark, idx, [(1, "alpha beta")], k=10)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [In(term" in plan, plan
    import re as _re

    scans = _re.findall(r"Location:.*", plan)
    assert scans and all("positions" in s for s in scans), scans
    # term_dict is served from the driver df-map, never scanned per query
    assert "term_dict" not in plan, plan


def test_fielded_positions_through_compaction(spark, tmp_path):
    """Compacting generations that all carry the SAME field configuration
    must propagate position_fields (attr serving keeps working, results
    identical to a direct fielded build); generations with MISMATCHED field
    configs degrade to no-positions rather than serving inconsistent
    position semantics."""
    from grenad_spark.index.build import build_index
    from grenad_spark.index.compact import compact_indexes
    from grenad_spark.index.positions import build_positions
    from grenad_spark.query.ranked import search_topk_attr_rule

    rng = np.random.default_rng(53)
    rows = _mk_fielded_corpus(rng, 150)
    all_rows = [
        (d, " ".join(t), " ".join(b), " ".join(t) + " " + " ".join(b))
        for d, t, b in rows
    ]
    schema = "doc_id long, title string, body string, text string"
    gens = []
    for i in range(2):
        part = [r for r in all_rows if r[0] % 2 == i]
        docs = spark.createDataFrame(part, schema)
        g = str(tmp_path / f"gen{i}")
        build_index(spark, docs.select("doc_id", "text"), g, n_shards=3)
        build_positions(spark, docs, g, fields=["title", "body"])
        gens.append(g)
    merged = compact_indexes(spark, gens, str(tmp_path / "merged"))
    assert merged.manifest.get("position_fields") == ["title", "body"]
    assert merged.has_positions()

    direct_dir = str(tmp_path / "direct")
    docs_all = spark.createDataFrame(all_rows, schema)
    build_index(
        spark, docs_all.select("doc_id", "text"), direct_dir,
        n_shards=merged.n_shards,
    )
    build_positions(spark, docs_all, direct_dir, fields=["title", "body"])
    from grenad_spark.index.build import IndexHandle

    direct = IndexHandle(direct_dir)  # fresh handle: manifest has the fields
    qs = [(1, "alpha beta"), (2, "gamma")]
    a = sorted(map(tuple, search_topk_attr_rule(spark, merged, qs, k=10**6).collect()))
    b = sorted(map(tuple, search_topk_attr_rule(spark, direct, qs, k=10**6).collect()))
    assert a == b and len(a) > 0

    # mismatched configs (fielded + unfielded) => positions dropped
    g2 = str(tmp_path / "gen2")
    docs2 = spark.createDataFrame(all_rows[:20], schema)
    build_index(spark, docs2.select("doc_id", "text"), g2, n_shards=3)
    build_positions(spark, docs2.select("doc_id", "text"), g2)  # unfielded
    mixed = compact_indexes(spark, [gens[0], g2], str(tmp_path / "mixedcfg"))
    assert not mixed.has_positions()
    assert mixed.manifest.get("position_fields") is None


def test_field_overflow_rejected(spark, tmp_path):
    from grenad_spark.index.build import build_index
    from grenad_spark.index.positions import build_positions

    big = " ".join("w" + str(i % 7) for i in range(70000))
    docs = spark.createDataFrame(
        [(0, "tiny title", big, "tiny title " + big)],
        "doc_id long, title string, body string, text string",
    )
    out = str(tmp_path / "ovf")
    build_index(spark, docs.select("doc_id", "text"), out, n_shards=1)
    with pytest.raises(Exception, match="exceeds"):
        build_positions(spark, docs, out, fields=["title", "body"])


# ---------------------------------------------------------------------------
# Hypothesis kernel fuzz — no Spark: build FIELDED position blocks directly,
# SHUFFLE the block rows (regression class of the r4 multi-file row-order
# bug), run _make_ranked_kernel as a plain function vs a brute-force oracle
# over every rule statistic.
# ---------------------------------------------------------------------------

import pandas as _pd
from hypothesis import given as _given, settings as _settings
from hypothesis import strategies as _st

_KVOCAB = ["ab", "cd", "ef", "gh"]
_KDERIV = _KVOCAB + [w + "x" for w in _KVOCAB]  # wx is 1 edit from w only


def _klev(a, b):
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


@_st.composite
def _ranked_case(draw):
    n_docs = draw(_st.integers(2, 18))
    corpus = {}
    for doc_id in range(n_docs):
        title = [draw(_st.sampled_from(_KVOCAB))
                 for _ in range(draw(_st.integers(1, 3)))]
        body = [draw(_st.sampled_from(_KVOCAB))
                for _ in range(draw(_st.integers(1, 8)))]
        corpus[doc_id] = (title, body)
    m = draw(_st.integers(1, 3))
    slots = draw(
        _st.lists(_st.sampled_from(_KDERIV), min_size=m, max_size=m, unique=True)
    )
    block_size = draw(_st.integers(1, 3))
    seed = draw(_st.integers(0, 2**31 - 1))
    return corpus, slots, block_size, seed


def _ranked_kernel_input(corpus, terms, block_size, idfs, seed, qid=1):
    """Kernel pandas input (shuffled rows) over FIELDED encoded positions."""
    from grenad_spark.index.positions import encode_position_blocks

    rows = []
    for t in sorted(terms):
        docs, tfs, dls, poss = [], [], [], []
        for doc_id in sorted(corpus):
            title, body = corpus[doc_id]
            p = [i for i, w in enumerate(title) if w == t] + [
                STRIDE + i for i, w in enumerate(body) if w == t
            ]
            if p:
                docs.append(doc_id)
                tfs.append(len(p))
                dls.append(len(title) + len(body))
                poss.extend(p)
        if not docs:
            continue
        for n, first, last, header, ppay in encode_position_blocks(
            np.array(docs), np.array(tfs), np.array(dls), np.array(poss),
            block_size,
        ):
            rows.append((qid, 0, t, idfs[t], n, first, header, ppay))
    pdf = _pd.DataFrame(
        rows,
        columns=["query_id", "shard", "term", "idf", "n", "first_doc",
                 "header", "positions"],
    )
    return pdf.sample(frac=1.0, random_state=seed).reset_index(drop=True)


@_given(_ranked_case())
@_settings(max_examples=120, deadline=None)
def test_ranked_kernel_fuzz(case):
    from grenad_spark.query.ranked import _make_ranked_kernel

    corpus, slots, block_size, seed = case
    toks = {d: t + b for d, (t, b) in corpus.items()}
    n = len(corpus)
    avgdl = sum(len(v) for v in toks.values()) / n
    df = {}
    for v in toks.values():
        for w in set(v):
            df[w] = df.get(w, 0) + 1
    derivs = {
        s: {t: _klev(t, s) for t in sorted(df) if _klev(t, s) <= 1}
        for s in slots
    }
    present_terms = sorted({t for dv in derivs.values() for t in dv})
    idfs = {
        t: math.log(1 + (n - df[t] + 0.5) / (df[t] + 0.5)) for t in present_terms
    }
    slot_meta = {}
    for t in present_terms:
        tl = [(i, derivs[s][t]) for i, s in enumerate(slots) if t in derivs[s]]
        if tl:
            slot_meta.setdefault(1, {})[t] = tl
    pdf = _ranked_kernel_input(corpus, present_terms, block_size, idfs, seed)

    # brute force over every rule statistic (mirrors the module-level test)
    expect = {}
    for d, (title, body) in corpus.items():
        pos = {}
        for i, w in enumerate(title):
            pos.setdefault(w, []).append(i)
        for i, w in enumerate(body):
            pos.setdefault(w, []).append(STRIDE + i)
        matched = [s for s in slots if any(t in pos for t in derivs[s])]
        if not matched:
            continue
        words = len(matched)
        typos = sum(
            min(dist for t, dist in derivs[s].items() if t in pos)
            for s in matched
        )
        attr = sum(
            min(p // STRIDE for t in derivs[s] if t in pos for p in pos[t])
            for s in matched
        )
        exact = sum(1 for s in slots if s in pos)
        prox = 0
        for i in range(len(slots) - 1):
            sa, sb = slots[i], slots[i + 1]
            if sa not in matched or sb not in matched:
                continue
            cands = [
                abs(pa - pb)
                for ta in derivs[sa] if ta in pos
                for tb in derivs[sb] if tb in pos
                for pa in pos[ta]
                for pb in pos[tb]
                if not (ta == tb and pa == pb)
            ]
            if cands:
                prox += min(cands)
        score = round(
            sum(
                idfs[t] * toks[d].count(t) * 2.2
                / (toks[d].count(t) + 1.2 * (1 - 0.75 + 0.75 * len(toks[d]) / avgdl))
                for t in present_terms if t in pos
            ),
            4,
        )
        expect[d] = (words, typos, prox, attr, exact, score)

    if pdf.empty or not slot_meta:
        assert not expect
        return
    out = _make_ranked_kernel({1: slots}, slot_meta, avgdl, "none")(pdf)
    got = {
        int(r.doc_id): (
            int(r.words), int(r.typos), int(r.proximity), int(r.attribute),
            int(r.exactness), round(float(r.score), 4),
        )
        for r in out.itertuples()
    }
    assert got == expect


def test_ranking_score_head(spark, fielded_index):
    """showRankingScore: the added column must be in [0,1], reproduce the
    documented fold from the row's own rule statistics, and keep the exact
    ranked top-k row set."""
    from decimal import ROUND_HALF_UP, Decimal

    from grenad_spark.query.ranked import (
        _RS_BASE,
        search_topk_ranked,
        search_topk_ranking_score,
    )

    queries = [(1, "alpha beta"), (2, "gamma"), (3, "zeta eps delta")]
    base = search_topk_ranked(spark, fielded_index[0], queries, k=8).collect()
    out = search_topk_ranking_score(spark, fielded_index[0], queries, k=8).collect()
    assert {(r.query_id, r.doc_id) for r in out} == {
        (r.query_id, r.doc_id) for r in base
    }
    n_of = {1: 2, 2: 1, 3: 3}
    mx = {}
    for r in out:
        mx[r.query_id] = max(mx.get(r.query_id, 0.0), r.score)
    b = _RS_BASE
    wsum = b**5 + b**4 + b**3 + b**2 + b + 1.0
    for r in out:
        assert 0.0 <= r.ranking_score <= 1.0
        n = n_of[r.query_id]
        val = (
            b**5 * (r.words / n)
            + b**4 * (1 - r.typos / (1.0 * n))
            + b**3 / (1 + r.proximity)
            + b**2 * (1 - r.attribute / max(1.0 * n, 1.0))
            + b * (r.exactness / n)
            + (r.score / mx[r.query_id] if mx[r.query_id] > 0 else 0.0)
        ) / wsum
        exp = float(Decimal(repr(val)).quantize(Decimal("0.000001"), ROUND_HALF_UP))
        assert abs(r.ranking_score - exp) < 2e-6, (r, exp)


def _fold(r, n, mx, b, max_edits=1, n_fields=2):
    wsum = b**5 + b**4 + b**3 + b**2 + b + 1.0
    return (
        b**5 * (r.words / n)
        + b**4 * (1 - r.typos / (max_edits * n))
        + b**3 / (1 + r.proximity)
        + b**2 * (1 - r.attribute / max((n_fields - 1.0) * n, 1.0))
        + b * (r.exactness / n)
        + (r.score / mx if mx > 0 else 0.0)
    ) / wsum


def test_custom_rules_matches_python_rerank(spark, fielded_index):
    """rankingRules permutation (typo first, a custom n_toks:asc attribute
    rule spliced mid-pipeline) must equal re-sorting the FULL default
    statistics under the permuted key."""
    from grenad_spark.query.ranked import search_topk_custom_rules, search_topk_ranked

    idx, rows = fielded_index
    queries = [(1, "alpha beta"), (2, "gama delta"), (3, "zeta eps")]
    full = search_topk_ranked(spark, idx, queries, k=10**6).collect()
    ntoks = {d: len(t) + len(b) for d, t, b in rows}
    docs = spark.createDataFrame(
        [(d, len(t) + len(b)) for d, t, b in rows], "doc_id long, n_toks long"
    )
    rules = ["typo", "exactness", "n_toks:asc", "words", "relevance"]
    k = 7
    got = search_topk_custom_rules(spark, idx, queries, rules, docs=docs, k=k).collect()
    assert all(r.n_toks == ntoks[r.doc_id] for r in got)

    def key(r):
        return (r.typos, -r.exactness, ntoks[r.doc_id], -r.words, -r.score, r.doc_id)

    for qid in {q for q, _ in queries}:
        exp = [r.doc_id for r in sorted(
            (r for r in full if r.query_id == qid), key=key)][:k]
        gq = [r.doc_id for r in sorted(
            (r for r in got if r.query_id == qid), key=key)]
        assert gq == exp, qid


def test_custom_rules_validation(spark, fielded_index):
    import pytest as _pytest

    from grenad_spark.query.ranked import search_topk_custom_rules

    idx, _rows = fielded_index
    with _pytest.raises(ValueError, match="unknown ranking rule"):
        search_topk_custom_rules(spark, idx, [(1, "alpha")], ["wordz"], k=3)
    with _pytest.raises(ValueError, match="need docs"):
        search_topk_custom_rules(spark, idx, [(1, "alpha")], ["n_toks:asc"], k=3)
    with _pytest.raises(ValueError, match="asc"):
        search_topk_custom_rules(spark, idx, [(1, "alpha")], ["n_toks:up"], k=3)


def test_score_details_components(spark, fielded_index):
    """showRankingScoreDetails: every component in [0,1], the base-10 fold
    of the components reproduces ranking_score, and the row set equals the
    showRankingScore page."""
    from grenad_spark.query.ranked import (
        _RS_BASE,
        search_topk_ranking_score,
        search_topk_score_details,
    )

    queries = [(1, "alpha beta"), (2, "gama delta")]
    idx = fielded_index[0]
    det = search_topk_score_details(spark, idx, queries, k=8).collect()
    rs = search_topk_ranking_score(spark, idx, queries, k=8).collect()
    assert {(r.query_id, r.doc_id, r.ranking_score) for r in det} == {
        (r.query_id, r.doc_id, r.ranking_score) for r in rs
    }
    b = _RS_BASE
    wsum = b**5 + b**4 + b**3 + b**2 + b + 1.0
    comps = ["words_score", "typo_score", "proximity_score", "attribute_score",
             "exactness_score", "relevance_score"]
    for r in det:
        vals = [getattr(r, c) for c in comps]
        assert all(0.0 <= v <= 1.0 for v in vals), r
        fold = sum(b ** (5 - i) * v for i, v in enumerate(vals)) / wsum
        # components are rounded to 6dp AFTER the fold, so allow their
        # propagated rounding error
        assert abs(fold - r.ranking_score) < 3e-6, r


def test_score_threshold_backfills_from_full_match_set(spark, fielded_index):
    """rankingScoreThreshold: equals python-folding the FULL match set with
    the query-global max BM25, filtering, then default-pipeline ranking."""
    from decimal import ROUND_HALF_UP, Decimal

    from grenad_spark.query.ranked import _RS_BASE, search_topk_ranked, search_topk_score_threshold

    idx, _rows = fielded_index
    queries = [(1, "alpha beta"), (2, "gama delta")]
    n_of = {1: 2, 2: 2}
    full = search_topk_ranked(spark, idx, queries, k=10**6).collect()
    mx = {}
    for r in full:
        mx[r.query_id] = max(mx.get(r.query_id, 0.0), r.score)
    scored = [
        (r, float(Decimal(repr(_fold(r, n_of[r.query_id], mx[r.query_id], _RS_BASE)))
                  .quantize(Decimal("0.000001"), ROUND_HALF_UP)))
        for r in full
    ]
    # a median-ish threshold so both keep and drop paths execute
    all_scores = sorted(s for _, s in scored)
    thr = all_scores[len(all_scores) // 2]
    k = 6
    got = search_topk_score_threshold(spark, idx, queries, threshold=thr, k=k).collect()
    for qid in n_of:
        keep = [r for r, s in scored if r.query_id == qid and s >= thr]
        keep.sort(key=lambda r: (-r.words, r.typos, r.proximity, r.attribute,
                                 -r.exactness, -r.score, r.doc_id))
        exp = [r.doc_id for r in keep[:k]]
        gq = sorted((r for r in got if r.query_id == qid),
                    key=lambda r: (-r.words, r.typos, r.proximity, r.attribute,
                                   -r.exactness, -r.score, r.doc_id))
        assert [r.doc_id for r in gq] == exp, qid
        assert all(r.ranking_score >= thr for r in gq)


def _default_key(r):
    return (-r.words, r.typos, r.proximity, r.attribute, -r.exactness,
            -r.score, r.doc_id)


def test_ranked_filtered_composes(spark, fielded_index):
    """filter + full pipeline == python-filtering the full ranked stats then
    re-ranking under the default order (page backfills)."""
    from grenad_spark.query.ranked import search_topk_ranked, search_topk_ranked_filtered

    idx, rows = fielded_index
    queries = [(1, "alpha beta"), (2, "gama delta")]
    full = search_topk_ranked(spark, idx, queries, k=10**6).collect()
    nt = {d: len(t) + len(b) for d, t, b in rows}
    docs = spark.createDataFrame(
        [(d, nt[d]) for d, _, _ in rows], "doc_id long, nt long"
    )
    k = 6
    got = search_topk_ranked_filtered(
        spark, idx, docs, queries, "nt >= 12", k=k
    ).collect()
    for qid in (1, 2):
        keep = sorted(
            (r for r in full if r.query_id == qid and nt[r.doc_id] >= 12),
            key=_default_key,
        )
        exp = [r.doc_id for r in keep[:k]]
        gq = [r.doc_id for r in sorted(
            (r for r in got if r.query_id == qid), key=_default_key)]
        assert gq == exp, qid
        assert all(nt[d] >= 12 for d in gq)


def test_ranked_distinct_composes(spark, fielded_index):
    """distinct + full pipeline == rank-1 per (query, value) under the
    default order, then global top-k under the same order."""
    from grenad_spark.query.ranked import search_topk_ranked, search_topk_ranked_distinct

    idx, rows = fielded_index
    queries = [(1, "alpha beta"), (2, "gama delta")]
    full = search_topk_ranked(spark, idx, queries, k=10**6).collect()
    grp = {d: str(d % 4) for d, _, _ in rows}
    docs = spark.createDataFrame(
        [(d, grp[d]) for d, _, _ in rows], "doc_id long, grp string"
    )
    k = 3
    got = search_topk_ranked_distinct(spark, idx, docs, queries, "grp", k=k).collect()
    for qid in (1, 2):
        best: dict[str, object] = {}
        for r in sorted((r for r in full if r.query_id == qid), key=_default_key):
            best.setdefault(grp[r.doc_id], r)
        exp = [r.doc_id for r in sorted(best.values(), key=_default_key)[:k]]
        gq = sorted((r for r in got if r.query_id == qid), key=_default_key)
        assert [r.doc_id for r in gq] == exp, qid
        assert all(r.value == grp[r.doc_id] for r in gq)
        assert len({r.value for r in gq}) == len(gq)  # one hit per value
