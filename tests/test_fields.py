"""attributesToSearchOn + exactness whole-field tier (query/fields.py)
against brute-force oracles over a word-salad title/body corpus."""

import math

import numpy as np
import pytest

VOCAB = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta"]


def _mk_corpus(rng, n_docs):
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
    # plant exact-title docs: one plain, one with a DUPLICATE token (the
    # chain must check the i-th token at in-field position i, not the
    # distinct-term set)
    rows.append((n_docs, ["zeta", "alpha", "zeta"], ["beta", "gamma"]))
    rows.append((n_docs + 1, ["zeta", "alpha"], ["zeta", "alpha", "beta"]))
    return rows


@pytest.fixture(scope="module")
def fields_index(spark, tmp_path_factory):
    from grenad_spark.index.build import IndexHandle, build_index
    from grenad_spark.index.positions import build_positions
    from grenad_spark.query.fields import build_field_word_counts

    rng = np.random.default_rng(43)
    rows = _mk_corpus(rng, 250)
    docs = spark.createDataFrame(
        [(d, " ".join(t), " ".join(b), " ".join(t) + " " + " ".join(b))
         for d, t, b in rows],
        "doc_id long, title string, body string, text string",
    )
    out = str(tmp_path_factory.mktemp("flds") / "index")
    build_index(spark, docs.select("doc_id", "text"), out, n_shards=3,
                block_size=16)
    build_positions(spark, docs, out, fields=["title", "body"], block_size=16)
    build_field_word_counts(spark, docs, out, fields=["title", "body"])
    return IndexHandle(out), rows


def _stats(rows):
    toks = {d: t + b for d, t, b in rows}
    n = len(rows)
    avgdl = sum(len(v) for v in toks.values()) / n
    df = {}
    for v in toks.values():
        for w in set(v):
            df[w] = df.get(w, 0) + 1
    return toks, n, avgdl, df


def _score(n, avgdl, df, dl, tf_by_term):
    s = 0.0
    for w, tf in tf_by_term.items():
        if tf == 0:
            continue
        idf = math.log(1 + (n - df[w] + 0.5) / (df[w] + 0.5))
        s += idf * tf * 2.2 / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
    return round(s, 4)


def test_search_on_title_bruteforce(spark, fields_index):
    from grenad_spark.query.fields import search_topk_search_on

    idx, rows = fields_index
    toks, n, avgdl, df = _stats(rows)
    queries = [(1, "alpha beta"), (2, "zeta"), (3, "gamma delta eps")]
    got = {}
    for r in search_topk_search_on(spark, idx, queries, ["title"], k=8).collect():
        got.setdefault(r.query_id, []).append((r.doc_id, r.score))
    for qid, q in queries:
        terms = sorted(set(q.split()))
        exp = []
        for d, t, b in rows:
            tf = {w: t.count(w) for w in terms}  # title-only tf
            if sum(tf.values()) == 0:
                continue
            exp.append((d, _score(n, avgdl, df, len(t) + len(b), tf)))
        exp.sort(key=lambda x: (-x[1], x[0]))
        assert got.get(qid, []) == exp[:8], f"query {qid}"


def test_search_on_body_vs_title_disjoint(spark, fields_index):
    """A term occurring ONLY in bodies yields no title-restricted hits for
    docs lacking it in the title — cross-check title+body = unrestricted."""
    from grenad_spark.query.bm25 import REFERENCE_QUERIES  # noqa: F401
    from grenad_spark.query.fields import search_topk_search_on
    from grenad_spark.query.search import search_topk

    idx, rows = fields_index
    queries = [(1, "alpha"), (2, "theta eta")]
    both = search_topk_search_on(spark, idx, queries, ["title", "body"], k=10)
    plain = search_topk(spark, idx, queries, k=10, mode="exhaustive")
    assert sorted(map(tuple, both.collect())) == sorted(map(tuple, plain.collect()))


def test_search_on_all_fields_scores_like_search_topk(spark, fields_index):
    """attributesToSearchOn over every field is plain BM25: the search_on
    kernel sums a doc's term parts with the one per-doc accumulate
    (kernels.doc_sums), so on the same query blocks in the same term order
    its unrounded scores carry the same bits as the BM25 kernel's, 3-5
    term sums included, and the ranked rows are the same."""
    import pandas as pd

    import grenad_spark.query.fields as FL
    import grenad_spark.query.search as S

    idx, _rows = fields_index
    queries = [
        (1, "alpha beta gamma delta"), (2, "eps zeta eta theta alpha"),
        (3, "beta gamma delta"), (4, "theta eta"),
    ]
    pairs = S._tokenize_queries(queries)
    avgdl, codec = float(idx.avgdl), idx.payload_codec
    qt = pd.DataFrame(
        S._idf_rows(spark, idx, pairs), columns=["query_id", "term", "idf"]
    )

    def scores(table, fn):
        # each query's block rows in its own term order, as one kernel group
        terms = sorted(set(qt["term"]))
        cols = [c for c in (S._POS_COLS if table == "positions" else S._SCORE_COLS) if c != "idf"]
        pdf = qt.merge(S._local_blocks(idx, table, terms, cols), on="term")
        out = S._apply_groups(pdf, ["query_id"], fn)
        return sorted(map(tuple, out[["query_id", "doc_id", "score"]].itertuples(index=False)))

    fields = FL._allowed_fids(idx, ["title", "body"])
    got = scores("positions", FL._make_search_on_kernel(fields, avgdl, codec))
    want = scores("segments", S._make_exhaustive_with_termcount(avgdl, codec))
    assert len(got) > 200 and got == want
    ranked = FL.search_topk_search_on(spark, idx, queries, ["title", "body"], k=20)
    plain = S.search_topk(spark, idx, queries, k=20, mode="exhaustive")
    assert [tuple(r) for r in ranked.collect()] == [tuple(r) for r in plain.collect()]


def test_field_word_counts_table(spark, fields_index):
    from grenad_spark.query.fields import field_word_counts_path

    idx, rows = fields_index
    wc = {
        (r.doc_id, r.fid): r.wc
        for r in spark.read.parquet(field_word_counts_path(idx.path)).collect()
    }
    for d, t, b in rows:
        assert wc[(d, 0)] == len(t)
        assert wc[(d, 1)] == len(b)


def test_exact_field_tier(spark, fields_index):
    from grenad_spark.query.fields import search_topk_exact_field

    idx, rows = fields_index
    n_planted = len(rows) - 2
    queries = [
        (1, "zeta alpha zeta"),   # whole title of doc n_planted (dup token)
        (2, "zeta alpha"),        # whole title of doc n_planted+1 (and any
                                  # random 2-token title equal to it)
        (3, "alpha beta gamma delta eps zeta eta theta"),  # never a title
    ]
    out = search_topk_exact_field(spark, idx, queries, field="title", k=10)
    got = {}
    for r in out.collect():
        got.setdefault(r.query_id, []).append((r.doc_id, r.exact))
    # exact docs = docs whose title token list == query token list
    for qid, q in queries:
        qtoks = q.split()
        expect_exact = {d for d, t, b in rows if t == qtoks}
        got_exact = {d for d, e in got.get(qid, []) if e == 1}
        # top-k may truncate the exact set only if > k exacts (not here)
        assert got_exact == expect_exact, f"query {qid}"
        # exact docs rank before every non-exact hit
        ranks = got.get(qid, [])
        seen_nonexact = False
        for d, e in ranks:
            if e == 0:
                seen_nonexact = True
            else:
                assert not seen_nonexact, f"exact doc after non-exact in {qid}"
    assert got[1] and n_planted in {d for d, _ in got[1]}


def test_exact_field_prefix_is_not_exact(spark, fields_index):
    """A query that is a strict PREFIX of a title (chain holds, word count
    differs) must not get the exact tier — the word-count side of the AND."""
    from grenad_spark.query.fields import search_topk_exact_field

    idx, rows = fields_index
    out = search_topk_exact_field(spark, idx, [(1, "zeta alpha")], field="title", k=10)
    exact_docs = {r.doc_id for r in out.collect() if r.exact == 1}
    planted_dup = len(rows) - 2  # title "zeta alpha zeta" — prefix match only
    assert planted_dup not in exact_docs


def test_exact_tiers_ladder(spark, fields_index):
    """tier 2 ⟺ query == whole title; tier 1 ⟺ query is a strict PREFIX of
    the title's token list; exact docs sort above starts-with above rest."""
    from grenad_spark.query.fields import search_topk_exact_tiers

    idx, rows = fields_index
    planted_dup = len(rows) - 2   # title: zeta alpha zeta
    queries = [
        (1, "zeta alpha"),        # whole 2-token titles => 2; dup title => 1
        (2, "zeta alpha zeta"),   # whole dup title => 2
        (3, "theta theta theta theta"),  # never starts a title
    ]
    got = {}
    for r in search_topk_exact_tiers(spark, idx, queries, field="title", k=10).collect():
        got.setdefault(r.query_id, []).append((r.doc_id, r.tier))
    for qid, q in queries:
        qtoks = q.split()
        for d, tier in got.get(qid, []):
            t = next(tt for dd, tt, bb in rows if dd == d)
            if tier == 2:
                assert t == qtoks, (qid, d)
            elif tier == 1:
                assert t[: len(qtoks)] == qtoks and len(t) > len(qtoks), (qid, d)
            else:
                assert t[: len(qtoks)] != qtoks or len(t) < len(qtoks)
        tiers = [tier for _, tier in got.get(qid, [])]
        assert tiers == sorted(tiers, reverse=True), f"tier order {qid}"
    assert (planted_dup, 1) in got[1]
    assert (planted_dup, 2) in got[2]


def test_proximity_by_attribute_bruteforce(spark, fields_index):
    """byAttribute proximity: slot cost 1 iff the adjacent query pair
    co-occurs in ONE field (same-term pairs need two occurrences there),
    else 8; conjunctive match set; (proximity ASC, BM25 DESC, doc ASC)."""
    from grenad_spark.query.fields import search_topk_proximity_attr

    idx, rows = fields_index
    toks, n, avgdl, df = _stats(rows)
    fields = {d: (t, b) for d, t, b in rows}
    queries = [
        (1, "zeta alpha"),
        (2, "beta gamma delta"),
        (3, "zeta zeta"),      # same-term pair
        (4, "eps"),            # single term -> proximity 0
    ]
    out = search_topk_proximity_attr(spark, idx, queries, k=10)
    got = {}
    for r in out.collect():
        got.setdefault(r.query_id, []).append((r.doc_id, r.proximity, r.score))

    def slot_cost(d, a, b):
        for f in fields[d]:
            if a == b:
                if f.count(a) >= 2:
                    return 1
            elif a in f and b in f:
                return 1
        return 8

    import re
    for qid, q in queries:
        qt = q.split()
        uniq = sorted(set(qt))
        exp = []
        for d, ts in toks.items():
            if not all(w in ts for w in uniq):
                continue
            prox = sum(slot_cost(d, qt[i], qt[i + 1]) for i in range(len(qt) - 1))
            sc = _score(n, avgdl, df, len(ts), {w: ts.count(w) for w in uniq})
            exp.append((d, prox, sc))
        exp.sort(key=lambda x: (x[1], -x[2], x[0]))
        assert got.get(qid, []) == exp[:10], qid
    # non-vacuity: q1 must rank some cost-1 doc above a cost-8 doc
    proxes = {p for _, p, _ in got[1]}
    assert 1 in proxes or 8 in proxes


def test_typo_disable_attrs_bruteforce(spark, fields_index):
    """disableOnAttributes=["body"]: a typo-derived term covers its slot
    (and contributes tf) only via TITLE occurrences; exact words count
    everywhere with full tf."""
    from grenad_spark.query.fields import search_topk_typo_disable_attrs
    from grenad_spark.query.search import TypoSettings, _levenshtein

    idx, rows = fields_index
    toks, n, avgdl, df = _stats(rows)
    titles = {d: t for d, t, _b in rows}
    st = TypoSettings(one_typo=3, two_typos=6)
    queries = [(1, "alpka"), (2, "zeta bEta"), (3, "gamma")]
    out = search_topk_typo_disable_attrs(
        spark, idx, queries, st, disable_on=("body",), k=10
    )
    got = {}
    for r in out.collect():
        got.setdefault(r.query_id, []).append(
            (r.doc_id, r.hit_terms, r.typos, r.score)
        )
    vocab = sorted(df)
    for qid, q in queries:
        words = list(dict.fromkeys(q.lower().split()))
        exp = {}
        for d, ts in toks.items():
            slot_min, score = {}, 0.0
            for w in words:
                budget = st.budget(w)
                for t in vocab:
                    lev = _levenshtein(t, w)
                    if lev > budget:
                        continue
                    tf_full = ts.count(t)
                    tf_title = titles[d].count(t)
                    covers = tf_full > 0 if lev == 0 else tf_title > 0
                    if covers:
                        slot_min[w] = min(slot_min.get(w, 99), lev)
            if not slot_min:
                continue
            # score: each expansion term once per query
            seen_terms = set()
            for w in words:
                budget = st.budget(w)
                for t in vocab:
                    if _levenshtein(t, w) > budget or t in seen_terms:
                        continue
                    seen_terms.add(t)
                    tf = ts.count(t) if t in words else titles[d].count(t)
                    if tf > 0:
                        idf = math.log(1 + (n - df[t] + 0.5) / (df[t] + 0.5))
                        score += idf * tf * 2.2 / (
                            tf + 1.2 * (1 - 0.75 + 0.75 * len(ts) / avgdl)
                        )
            exp[d] = (len(slot_min), sum(slot_min.values()), round(score, 4))
        want = sorted(
            ((d, h, ty, sc) for d, (h, ty, sc) in exp.items()),
            key=lambda x: (-x[1], x[2], -x[3], x[0]),
        )[:10]
        assert got.get(qid, []) == want, qid


def test_field_paths_large_vocab_fallback(spark, fields_index, monkeypatch):
    """Force the >IDF_MAP_MAX_TERMS lookup (df_map() -> None): the fields
    family, matches, geo, the attribute rule and the ranked pipeline take
    their idf from IndexHandle.term_dfs's term_dict lookup and must return
    the rows of the df-map plan, OOV and conjunctive queries included."""
    from grenad_spark.index.build import IndexHandle
    from grenad_spark.query import fields as FL, geo as G, matches as M, ranked as R
    from grenad_spark.query.search import TypoSettings

    idx, rows = fields_index
    docs = spark.createDataFrame([(r[0],) for r in rows], "doc_id long")
    qs = [(1, "alpha beta"), (2, "zeta alpha"), (3, "gamma nosuchword"), (4, "eps")]
    typos = [(1, "alpka"), (2, "zeta bEta"), (3, "gamma")]

    def run_all():
        calls = {
            "search_on": lambda: FL.search_topk_search_on(spark, idx, qs, ["title"], k=50),
            "exact_field": lambda: FL.search_topk_exact_field(spark, idx, qs, k=50),
            "exact_tiers": lambda: FL.search_topk_exact_tiers(spark, idx, qs, k=50),
            "proximity_attr": lambda: FL.search_topk_proximity_attr(spark, idx, qs, k=50),
            "typo_disable_attrs": lambda: FL.search_topk_typo_disable_attrs(
                spark, idx, typos, TypoSettings(one_typo=3, two_typos=6), k=50
            ),
            "matches": lambda: M.search_topk_matches(spark, idx, qs, k=5),
            "geo_radius": lambda: G.geo_radius_topk(
                spark, idx, docs, qs, (0.0, 0.0), 9000.0, k=50
            ),
            "geo_sort": lambda: G.geo_sort_topk(spark, idx, docs, qs, (10.0, 20.0), k=50),
            "attr_rule": lambda: R.search_topk_attr_rule(spark, idx, qs, k=50),
            "ranked": lambda: R.search_topk_ranked(spark, idx, typos, k=50),
        }
        return {name: sorted(map(tuple, fn().collect())) for name, fn in calls.items()}

    baseline = run_all()
    assert all(baseline.values()), baseline
    monkeypatch.setattr(IndexHandle, "IDF_MAP_MAX_TERMS", 0)
    monkeypatch.delattr(idx, "_df_map", raising=False)  # bust the handle cache
    assert idx.df_map(spark) is None
    try:
        assert run_all() == baseline
    finally:
        monkeypatch.delattr(idx, "_df_map", raising=False)  # don't leak None
