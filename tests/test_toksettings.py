"""Custom tokenizer settings (functions/toksettings.py) — the three
compiled dialects (Python / Spark JVM / DuckDB) must tokenize identically,
and a build under the settings must carry the custom key stream."""

import duckdb
import pytest
from pyspark.sql import functions as F

from grenad_spark.functions.toksettings import TokenizerSettings

TS = TokenizerSettings(
    separator_tokens=("-big-",),
    non_separator_tokens=("-",),
    dictionary=("c++",),
)

CASES = [
    "The fast merge-sort table",
    "c++ stream and key+order",
    "small-big-hash dup",
    "abc++ new c++x merge-sort-big-x",   # dict-vs-run, dict-then-rest edges
    "c++",
    "-big--big-",                        # separators only -> no tokens
    "",
]


def test_three_dialects_agree(spark):
    py = [TS.py_tokens(c) for c in CASES]
    df = spark.createDataFrame([(c,) for c in CASES], "text string")
    sp = [list(r.t) for r in df.select(TS.tokens_col("text").alias("t")).collect()]
    con = duckdb.connect()
    dk = [
        list(con.execute("select " + TS.sql_tokens_expr("'" + c + "'")).fetchone()[0])
        for c in CASES
    ]
    assert py == sp == dk


def test_dialects_agree_on_corpus(spark, docs_small):
    """Row-for-row equality of the (doc_id, term) stream over the real
    corpus with injected punctuation — the Java-regex-vs-RE2 cross-check."""
    expr = (
        "replace(replace(replace(replace(text, 'merge sort', 'merge-sort'), "
        "'value stream', 'c++ stream'), 'small hash', 'small-big-hash'), "
        "'key order', 'key+order')"
    )
    docs = docs_small.withColumn("text", F.expr(expr))
    sp = sorted(
        (r.doc_id, r.term)
        for r in docs.select(
            "doc_id", F.explode(TS.tokens_col("text")).alias("term")
        ).collect()
    )
    con = duckdb.connect()
    con.register("raw_docs", docs_small.select("doc_id", "text").toPandas())
    dk = sorted(
        con.execute(
            "SELECT doc_id, unnest("
            + TS.sql_tokens_expr(expr)
            + ") AS term FROM raw_docs"
        ).fetchall()
    )
    assert sp == dk
    terms = {t for _, t in sp}
    assert "merge-sort" in terms and "c++" in terms  # settings non-vacuous
    assert "-big-" not in " ".join(terms)


def test_validation_rejects():
    with pytest.raises(ValueError):
        TokenizerSettings(non_separator_tokens=("ab",))   # not a single char
    with pytest.raises(ValueError):
        TokenizerSettings(non_separator_tokens=("a",))    # already a word char
    with pytest.raises(ValueError):
        TokenizerSettings(separator_tokens=("",))
    with pytest.raises(ValueError):
        TokenizerSettings(dictionary=("",))
    with pytest.raises(ValueError):
        TokenizerSettings(dictionary=("don't",))          # quote unsupported


def test_build_under_settings(spark, docs_small, tmp_path):
    """build_index(tokenizer=...) swaps BOTH tokenize stages: the custom
    terms exist in the dictionary, dl/avgdl reflect the custom stream, and
    the manifest carries the settings tag. Typo expansion reaches terms
    holding settings characters outside [a-z0-9]."""
    from grenad_spark.index.build import build_index
    from grenad_spark.query.search import expand_fuzzy_queries

    docs = docs_small.withColumn(
        "text", F.expr("replace(text, 'merge sort', 'merge-sort')")
    )
    idx = build_index(
        spark, docs, str(tmp_path / "idx"), n_shards=2, tokenizer=TS
    )
    terms = {r.term for r in idx.term_dict(spark).select("term").collect()}
    assert "merge-sort" in terms
    assert "merge" in terms  # still occurs outside the rewritten bigram
    assert idx.manifest.get("tokenizer_tag") == TS.tag()
    assert (1, "merge-sort") in expand_fuzzy_queries(spark, idx, [(1, "mergesort")], 1)
    # dl parity: engine docs table vs the python tokenizer
    eng = {r.doc_id: r.dl for r in idx.docs(spark).collect()}
    for r in docs.select("doc_id", "text").limit(50).collect():
        assert eng[r.doc_id] == len(TS.py_tokens(r.text)), r.doc_id


# ---------------------------------------------------------------------------
# Hypothesis cross-engine fuzz: Python `re` and DuckDB's RE2 must agree on
# every generated (settings, text) pair — the leftmost-first-alternation
# assumption the module rests on, exercised far beyond the hand cases.
# ---------------------------------------------------------------------------

from hypothesis import given, settings as hsettings
from hypothesis import strategies as st

_CHARS = "ab1 -+._|"
_texts = st.text(alphabet=_CHARS, max_size=40)
_words = st.text(alphabet="ab1-+.", min_size=1, max_size=5)


@st.composite
def _tok_settings(draw):
    nonsep = draw(st.sets(st.sampled_from(["-", "+", ".", "_", "|"]), max_size=3))
    seps = draw(st.sets(_words, max_size=2))
    dic = draw(st.sets(_words, max_size=2))
    return TokenizerSettings(
        separator_tokens=tuple(sorted(seps)),
        non_separator_tokens=tuple(sorted(nonsep)),
        dictionary=tuple(sorted(dic)),
    )


@hsettings(max_examples=200, deadline=None)
@given(_tok_settings(), _texts)
def test_py_vs_duckdb_fuzz(ts, text):
    import duckdb

    py = ts.py_tokens(text)
    lit = "'" + text.replace("'", "''") + "'"
    dk = list(
        duckdb.connect().execute("select " + ts.sql_tokens_expr(lit)).fetchone()[0]
    )
    assert py == dk, (ts, text)
