"""Filter-DSL parser, word derivations (split/ngram-concat), crop, /similar."""

import numpy as np
import pytest

from grenad_spark.query.filter_expr import FilterSyntaxError, parse_filter

# ---------------------------------------------------------------------------
# filter-expression parser (Meilisearch filter grammar -> ANSI SQL)
# ---------------------------------------------------------------------------

PARSE_CASES = [
    ("lang = en", "lang = 'en'"),
    ("lang != en", "lang <> 'en'"),
    ("n_chars >= 250", "n_chars >= 250"),
    ("n_chars 100 TO 400", "n_chars BETWEEN 100 AND 400"),
    ("lang IN [en, 'fr', \"de\"]", "lang IN ('en', 'fr', 'de')"),
    ("source NOT IN [a, b]", "(NOT source IN ('a', 'b'))"),
    ("lang EXISTS", "lang IS NOT NULL"),
    ("lang NOT EXISTS", "lang IS NULL"),
    ("lang IS NULL", "lang IS NULL"),
    ("lang IS NOT NULL", "lang IS NOT NULL"),
    ("text IS EMPTY", "text = ''"),
    ("text IS NOT EMPTY", "text <> ''"),
    ("tag IN []", "FALSE"),
    ("a = 1 AND b = 2 OR c = 3", "((a = 1 AND b = 2) OR c = 3)"),
    ("a = 1 AND (b = 2 OR c = 3)", "(a = 1 AND (b = 2 OR c = 3))"),
    ("NOT a = 1", "(NOT a = 1)"),
    ("NOT (a = 1 OR b = 2)", "(NOT (a = 1 OR b = 2))"),
    ("name = \"it's\"", "name = 'it''s'"),
    ("score = -1.5", "score = -1.5"),
]


@pytest.mark.parametrize("src,sql", PARSE_CASES)
def test_parse_filter(src, sql):
    assert parse_filter(src) == sql


BAD_CASES = [
    "lang ==",          # dangling operator
    "lang",             # bare attribute
    "lang IN (a)",      # parens instead of brackets
    "AND lang = en",    # keyword where attribute expected
    "n 1 TO",           # unterminated range
    "a = 1 b = 2",      # missing connective
    "(a = 1",           # unbalanced paren
    "a IS BOGUS",       # IS must take NULL/EMPTY
    "a NOT BOGUS x",    # NOT must take IN/EXISTS
]


@pytest.mark.parametrize("src", BAD_CASES)
def test_parse_filter_rejects(src):
    with pytest.raises(FilterSyntaxError):
        parse_filter(src)


FILTER_ROWS = [
    (1, "en", "src1", 100, "hello"),
    (2, "fr", "src2", 250, ""),
    (3, "de", "src1", 400, "x"),
    (4, None, "src3", 50, "y"),
    (5, "en", None, 999, None),
]
FILTER_EXPRS = [
    "lang = en",
    "lang != en",
    "n_chars 100 TO 400",
    "lang IN [en, fr]",
    "lang NOT IN [en]",
    "lang EXISTS",
    "lang NOT EXISTS",
    "text IS EMPTY",
    "text IS NOT EMPTY",
    "(lang = en OR n_chars > 300) AND source = src1",
    "NOT (lang IN [fr, de] OR n_chars < 200)",
]


@pytest.mark.parametrize("expr", FILTER_EXPRS)
def test_filter_spark_duckdb_agree(spark, expr):
    """The ONE compiled SQL string selects identical row sets in Spark and
    DuckDB — the property the oracle gate relies on."""
    import duckdb
    import pandas as pd
    from pyspark.sql import functions as F

    schema = "id int, lang string, source string, n_chars int, text string"
    sdf = spark.createDataFrame(FILTER_ROWS, schema)
    sql = parse_filter(expr)
    got_spark = sorted(r.id for r in sdf.filter(F.expr(sql)).select("id").collect())
    con = duckdb.connect()
    con.register(
        "t",
        pd.DataFrame(
            FILTER_ROWS, columns=["id", "lang", "source", "n_chars", "text"]
        ),
    )
    got_duck = sorted(r[0] for r in con.execute(f"SELECT id FROM t WHERE {sql}").fetchall())
    assert got_spark == got_duck, (expr, sql)


# ---------------------------------------------------------------------------
# derivation helpers
# ---------------------------------------------------------------------------

def test_ngram_candidates():
    from grenad_spark.query.derivations import ngram_candidates

    assert ngram_candidates(["a", "b", "c"]) == ["a", "b", "c", "ab", "bc", "abc"]
    assert ngram_candidates(["x"]) == ["x"]
    assert ngram_candidates(["a", "a"]) == ["a", "aa"]
    assert ngram_candidates([]) == []
    assert ngram_candidates(["a", "b", "c", "d"], max_ngram=2) == [
        "a", "b", "c", "d", "ab", "bc", "cd",
    ]


def test_word_splits_helper():
    from grenad_spark.query.derivations import word_splits

    vocab = {"alpha", "beta", "al", "phabeta"}
    assert word_splits("alphabeta", vocab) == [("al", "phabeta"), ("alpha", "beta")]
    assert word_splits("alpha", vocab) == []          # no in-vocab halving
    assert word_splits("abc", vocab) == []            # too short for 2+2
    assert word_splits("albeta", {"al", "beta"}) == [("al", "beta")]


# ---------------------------------------------------------------------------
# end-to-end derivations on a synthetic positional corpus
# ---------------------------------------------------------------------------

VOCAB = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta"]


@pytest.fixture(scope="module")
def deriv_index(spark, tmp_path_factory):
    from grenad_spark.index.build import build_index
    from grenad_spark.index.positions import build_positions

    rng = np.random.default_rng(11)
    rows = []
    for i in range(300):
        dl = rng.integers(3, 25)
        rows.append((i, " ".join(rng.choice(VOCAB) for _ in range(dl))))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = str(tmp_path_factory.mktemp("didx") / "index")
    idx = build_index(spark, docs, out, n_shards=3, block_size=16)
    build_positions(spark, docs, out, block_size=16)
    return idx, rows


def test_word_splits_equals_phrase_for_pure_compound(spark, deriv_index):
    """'alphabeta' has exactly one in-vocab split (alpha|beta) and is OOV
    itself, so the derivation must reproduce search_topk_phrase('alpha
    beta') row for row, score for score — including the degenerate repeated
    split 'betabeta' (distinct-term scoring)."""
    from grenad_spark.query.derivations import search_topk_word_splits
    from grenad_spark.query.phrase import search_topk_phrase

    idx, _ = deriv_index
    for compound, phrase in [("alphabeta", "alpha beta"), ("betabeta", "beta beta")]:
        got = sorted(
            (r.doc_id, r.score)
            for r in search_topk_word_splits(spark, idx, [(1, compound)], k=10**6).collect()
        )
        want = sorted(
            (r.doc_id, r.score)
            for r in search_topk_phrase(spark, idx, [(1, phrase)], k=10**6).collect()
        )
        assert got == want and got, compound


def test_word_splits_mixed_word_and_split(spark, deriv_index):
    """'alphabeta gamma' match set = docs with gamma OR the adjacency; docs
    with both get the SUM of both parts."""
    from grenad_spark.query.derivations import search_topk_word_splits

    idx, rows = deriv_index
    got = {
        r.doc_id: r.score
        for r in search_topk_word_splits(
            spark, idx, [(1, "alphabeta gamma")], k=10**6
        ).collect()
    }
    adj = set()
    has_gamma = set()
    for doc_id, text in rows:
        toks = text.split()
        if "gamma" in toks:
            has_gamma.add(doc_id)
        if any(toks[i : i + 2] == ["alpha", "beta"] for i in range(len(toks) - 1)):
            adj.add(doc_id)
    assert set(got) == adj | has_gamma
    only_gamma = has_gamma - adj
    both = has_gamma & adj
    if only_gamma and both:
        assert max(got[d] for d in only_gamma) > 0
        # a doc with both parts outranks the same doc under either part alone
        assert all(got[d] > 0 for d in both)


def test_word_splits_large_vocab_fallback(spark, deriv_index, monkeypatch):
    """df_map -> None (the 10^9-term path): the vocab probe and idf from
    IndexHandle.term_dfs's term_dict lookup must give the same answer."""
    from grenad_spark.index.build import IndexHandle
    from grenad_spark.query.derivations import search_topk_word_splits

    idx, _ = deriv_index
    q = [(1, "alphabeta gamma")]
    want = sorted(
        (r.doc_id, r.score)
        for r in search_topk_word_splits(spark, idx, q, k=10**6).collect()
    )
    monkeypatch.setattr(IndexHandle, "IDF_MAP_MAX_TERMS", 0)
    idx2 = IndexHandle(idx.path)
    assert idx2.df_map(spark) is None
    got = sorted(
        (r.doc_id, r.score)
        for r in search_topk_word_splits(spark, idx2, q, k=10**6).collect()
    )
    assert got == want and got


def test_ngram_concat_equals_plain_search_on_merged_term(spark, deriv_index):
    """'alp ha' (both halves OOV) must equal plain search for 'alpha' —
    the bigram candidate is the only live derivation. Trigram: 'al ph a'
    merges to 'alpha' too (al/ph/a, alph, lpha... all OOV)."""
    from grenad_spark.query.derivations import search_topk_ngram_concat
    from grenad_spark.query.search import search_topk

    idx, _ = deriv_index
    want = sorted(
        (r.doc_id, r.score)
        for r in search_topk(spark, idx, [(1, "alpha")], k=10**6).collect()
    )
    for q in ["alp ha", "al ph a"]:
        got = sorted(
            (r.doc_id, r.score)
            for r in search_topk_ngram_concat(spark, idx, [(1, q)], k=10**6).collect()
        )
        assert got == want and got, q


# ---------------------------------------------------------------------------
# crop window arithmetic
# ---------------------------------------------------------------------------

def test_crop_windows(spark, tmp_path_factory):
    from grenad_spark.index.build import build_index
    from grenad_spark.query.search import search_topk_crop

    words = [f"w{i}" for i in range(20)]
    rows = [
        (0, "target " + " ".join(words)),          # match at the very start
        (1, " ".join(words) + " target"),           # match at the very end
        (2, " ".join(words[:8]) + " target " + " ".join(words[8:])),  # middle
        (3, "short target doc"),                    # doc shorter than window
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = str(tmp_path_factory.mktemp("cidx") / "index")
    idx = build_index(spark, docs, out, n_shards=1)
    got = {
        r.doc_id: r.cropped
        for r in search_topk_crop(
            spark, idx, docs, [(1, "target")], k=10, crop_length=5, crop_marker="…"
        ).collect()
    }
    assert got[0] == "target w0 w1 w2 w3…"
    assert got[1] == "…w16 w17 w18 w19 target"
    # middle: m=9, lo=max(1,9-2)=7, hi=min(21,11)=11 -> toks 7..11
    assert got[2] == "…w6 w7 target w8 w9…"
    assert got[3] == "short target doc"  # shorter than window: no markers


# ---------------------------------------------------------------------------
# /similar endpoint
# ---------------------------------------------------------------------------

def test_similar_documents_bruteforce(spark):
    from grenad_spark.operators.ann import similar_documents

    rng = np.random.default_rng(5)
    vecs = rng.normal(size=(40, 8)).astype("float32")
    rows = [(i, vecs[i].tolist(), int(i % 4)) for i in range(40)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    flt = "label IN [0, 1] AND vec_id != 5"
    got = similar_documents(emb, [2, 9], k=3, filter_expr=flt).collect()
    by_t = {}
    for r in got:
        by_t.setdefault(r.target_id, []).append((r.vec_id, r.cos))

    def brute(t):
        v = vecs[t].astype("float64")
        out = []
        for i in range(40):
            if i == t or i % 4 not in (0, 1) or i == 5:
                continue
            w = vecs[i].astype("float64")
            c = round(float(v @ w / (np.linalg.norm(v) * np.linalg.norm(w))), 6)
            out.append((i, c))
        out.sort(key=lambda x: (-x[1], x[0]))
        return out[:3]

    for t in (2, 9):
        assert [(v, c) for v, c in by_t[t]] == brute(t)
