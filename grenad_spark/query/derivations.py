"""Word-level query derivations — Meilisearch's split-word and ngram-concat
candidates.

Meilisearch's query-term pipeline (milli's query tree / word derivations;
described in the public "words" ranking-rule docs and the
charabia+milli tokenizer→derivation flow) derives, for every query word,
candidates beyond typo expansion:

  * SPLIT WORDS — "mergesort" also matches documents containing
    "merge sort" ADJACENTLY, when both halves are dictionary words
    (milli: `split_best_frequency`, which picks splits by pair frequency;
    here EVERY in-vocabulary split derives, each as a 2-token phrase).
  * NGRAM CONCAT — adjacent query words merge into one candidate word:
    "val ue" also matches documents containing the single token "value"
    (milli builds ngrams up to 3 in `create_query_tree`).

Semantics here (documented, oracle-identical on both engines):

  concat:  the candidate set is the original tokens PLUS every adjacent
           2..max_ngram concatenation; all candidates score as ordinary
           BM25 disjuncts. Out-of-vocabulary candidates contribute nothing
           (no posting blocks on the Spark side; no tdt rows in the
           oracle) — no vocabulary pre-check is needed, the join IS the
           check, on both engines identically.
  splits:  score(q, d) = [BM25 over the query's distinct in-vocab tokens
           matched in d]  +  Σ over derived splits (a, b) of
           [BM25(a) + BM25(b) if d contains "a b" adjacently else 0]
           (distinct terms per split — a degenerate a==b split scores a
           once, matching the phrase kernel's decode-each-term-once rule).
           Both parts are FULL match sets (no early top-k) summed per
           (query, doc), then rounded and windowed — a doc reachable only
           through the split still ranks.

Scale: concat is pure driver-side rewrite — the In(term) pruned scan just
widens by ≤ (max_ngram-1)·|tokens| candidate keys, zero extra jobs. Splits
add one phrase-kernel pass over the derived pairs' POSITION blocks (work ∝
the halves' postings, the same exchange shape as search_topk_phrase) and
reuse the standard-postings exhaustive scorer for the word part; the two
parts meet in one group-sum on (query_id, doc_id) — shuffle ∝ matches,
never corpus. The vocabulary probe for split halves is
IndexHandle.term_dfs of the candidate halves (≤ |token|·|tokens| keys —
bounded by query length, not corpus).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from grenad_spark.functions.tokenize import TOKEN_SPLIT_RE

MIN_SPLIT_PART = 2  # shortest half a split may produce
MAX_NGRAM = 3  # milli's ngram cap

# sub-query-id encoding for split derivations: qid * _DERIV_STRIDE + slot
# (slot 0 = the word part, 1.. = splits). Bounded by int32 for qid < 2^31 /
# stride; contract qids are tiny.
_DERIV_STRIDE = 1000


def _raw_tokens(q: str) -> list[str]:
    """Ordered, NON-deduplicated normalized tokens (adjacency needs order;
    _tokenize_queries dedups and must not be used here)."""
    return [t for t in re.split(TOKEN_SPLIT_RE, q.lower()) if t]


def ngram_candidates(tokens: list[str], max_ngram: int = MAX_NGRAM) -> list[str]:
    """Original tokens plus every adjacent 2..max_ngram concatenation, in
    first-appearance order, deduplicated."""
    out: list[str] = []
    seen: set[str] = set()
    for t in tokens:
        if t not in seen:
            seen.add(t)
            out.append(t)
    for n in range(2, max_ngram + 1):
        for i in range(len(tokens) - n + 1):
            m = "".join(tokens[i : i + n])
            if m not in seen:
                seen.add(m)
                out.append(m)
    return out


def word_splits(token: str, vocab, min_part: int = MIN_SPLIT_PART) -> list[tuple[str, str]]:
    """Every (a, b) with a+b == token, len(a) >= min_part, len(b) >= min_part
    and both halves in `vocab` (a set or mapping supporting `in`)."""
    out = []
    for i in range(min_part, len(token) - min_part + 1):
        a, b = token[:i], token[i:]
        if a in vocab and b in vocab:
            out.append((a, b))
    return out


def search_topk_ngram_concat(
    spark: SparkSession,
    index,
    queries: list[tuple[int, str]],
    k: int = 10,
    max_ngram: int = MAX_NGRAM,
    mode: str = "wand",
) -> DataFrame:
    """Top-k BM25 with ngram-concat derivation: adjacent query words also
    try their concatenation as a candidate term ("val ue" → "value").
    Driver-side rewrite only; OOV candidates die in the pruned scan.
    (query_id, doc_id, score)."""
    from grenad_spark.query.search import _OUT_SCHEMA, _empty_result, _search_from_pairs

    pairs: list[tuple[int, str]] = []
    for qid, q in queries:
        pairs.extend((qid, t) for t in ngram_candidates(_raw_tokens(q), max_ngram))
    if not pairs:
        return _empty_result(spark, _OUT_SCHEMA)
    return _search_from_pairs(spark, index, pairs, k, mode)


def sql_ngram_concat_topk(
    queries: list[tuple[int, str]], k: int = 10, max_ngram: int = MAX_NGRAM
) -> str:
    """DuckDB oracle for search_topk_ngram_concat: the SAME candidate list
    (computed by the same Python) as a VALUES relation; the tdt join drops
    OOV candidates exactly like the pruned scan does."""
    from grenad_spark.functions.tokenize import sql_term_doc_tf
    from grenad_spark.query.bm25 import _CORPUS_CTES, _SCORING_TAIL

    rows = []
    for qid, q in queries:
        rows.extend(
            f"({int(qid)}, '{t}')" for t in ngram_candidates(_raw_tokens(q), max_ngram)
        )
    if not rows:
        return (
            "SELECT NULL::INT AS query_id, NULL::BIGINT AS doc_id, "
            "NULL::DOUBLE AS score WHERE false"
        )
    return f"""
WITH {_CORPUS_CTES.format(tdt=sql_term_doc_tf('documents'))},
qt AS (SELECT * FROM (VALUES {", ".join(rows)}) AS v(query_id, term)),
{_SCORING_TAIL.format(k=k).lstrip()}
"""


def _split_derivations(
    spark: SparkSession, index, queries: list[tuple[int, str]]
) -> tuple[list[tuple[int, str]], dict[int, list[str]]]:
    """(word_pairs, chains): word_pairs = (qid, token) for the word part;
    chains = {subqid: [a, b]} for each derived split, subqid encoding the
    owning query and slot."""
    vocab_cands: set[str] = set()
    toks_by_qid: dict[int, list[str]] = {}
    for qid, q in queries:
        toks = _raw_tokens(q)
        toks_by_qid[qid] = toks
        for t in toks:
            for i in range(MIN_SPLIT_PART, len(t) - MIN_SPLIT_PART + 1):
                vocab_cands.add(t[:i])
                vocab_cands.add(t[i:])
    vocab = index.term_dfs(spark, vocab_cands)

    word_pairs: list[tuple[int, str]] = []
    chains: dict[int, list[str]] = {}
    for qid, toks in toks_by_qid.items():
        seen_t: set[str] = set()
        seen_sp: set[tuple[str, str]] = set()
        slot = 1
        for t in toks:
            if t not in seen_t:
                seen_t.add(t)
                word_pairs.append((qid, t))
            for a, b in word_splits(t, vocab):
                if (a, b) in seen_sp:
                    continue
                seen_sp.add((a, b))
                chains[qid * _DERIV_STRIDE + slot] = [a, b]
                slot += 1
    return word_pairs, chains


def search_topk_word_splits(
    spark: SparkSession,
    index,
    queries: list[tuple[int, str]],
    k: int = 10,
) -> DataFrame:
    """Top-k BM25 with split-word derivation: each query word whose two
    in-vocabulary halves appear ADJACENTLY in a document contributes
    BM25(half1)+BM25(half2) to that document, on top of the ordinary
    word-part score. Requires the positional tables (build_positions) for
    the adjacency check. (query_id, doc_id, score)."""
    from grenad_spark.query.phrase import _make_phrase_kernel
    from grenad_spark.query.phrase import _OUT_SCHEMA as _PHRASE_OUT
    from grenad_spark.query.search import (
        _OUT_AND_SCHEMA,
        _OUT_SCHEMA,
        _empty_result,
        _make_exhaustive_with_termcount,
        _n_queries,
        _rank_topk,
        _scoring_pairs,
        _serve_kernel,
    )

    word_pairs, chains = _split_derivations(spark, index, queries)
    word_pairs = _scoring_pairs(spark, index, word_pairs)
    if not word_pairs and not chains:
        return _empty_result(spark, _OUT_SCHEMA)
    parts: list[DataFrame] = []

    if word_pairs:
        word_scores = _serve_kernel(
            spark, index, word_pairs,
            _make_exhaustive_with_termcount(float(index.avgdl), index.payload_codec),
            _OUT_AND_SCHEMA,
        ).select("query_id", "doc_id", "score")
        parts.append(word_scores)

    if chains:
        ppairs = [(subqid, t) for subqid, toks in chains.items() for t in set(toks)]
        split_scores = (
            _serve_kernel(
                spark, index, ppairs,
                _make_phrase_kernel(chains, float(index.avgdl), index.payload_codec),
                _PHRASE_OUT, table="positions",
            )
            # fold the derivation slot back onto its owning query
            .withColumn(
                "query_id",
                (F.col("query_id") / _DERIV_STRIDE).cast("int"),
            )
            .select("query_id", "doc_id", "score")
        )
        parts.append(split_scores)

    all_scores = parts[0]
    for p in parts[1:]:
        all_scores = all_scores.unionByName(p)
    # one exchange serves both the (query_id, doc_id) part-sum and the
    # per-query window: hash(query_id) clusters every finer key too, so
    # Catalyst inserts no second shuffle (rows here are ∝ matches)
    summed = (
        all_scores.repartition("query_id")
        .groupBy("query_id", "doc_id")
        .agg(F.sum("score").alias("score"))
    )
    return _rank_topk(summed, _n_queries(queries), int(k))


def sql_word_splits_topk(queries: list[tuple[int, str]], k: int = 10) -> str:
    """DuckDB oracle for search_topk_word_splits. Split candidates are ALL
    (a, b) halvings (no driver vocab check — the vocab CTE filters them in
    SQL, so the oracle derives splits from the DATA exactly like the engine
    derives them from the index). Adjacency = substring match on the
    space-padded normalized token stream; split score = BM25 over the
    split's DISTINCT terms (the kernel decodes each term once)."""
    from grenad_spark.functions.tokenize import sql_term_doc_tf
    from grenad_spark.query.bm25 import B, K1, SCORE_DECIMALS, _CORPUS_CTES

    word_rows: list[str] = []
    split_rows: list[str] = []
    for qid, q in queries:
        toks = _raw_tokens(q)
        seen_t: set[str] = set()
        seen_sp: set[tuple[str, str]] = set()
        sid = 0
        for t in toks:
            if t not in seen_t:
                seen_t.add(t)
                word_rows.append(f"({int(qid)}, '{t}')")
            for i in range(MIN_SPLIT_PART, len(t) - MIN_SPLIT_PART + 1):
                a, b = t[:i], t[i:]
                if (a, b) in seen_sp:
                    continue
                seen_sp.add((a, b))
                split_rows.append(f"({int(qid)}, {sid}, '{a}', '{b}')")
                sid += 1
    if not word_rows:
        return (
            "SELECT NULL::INT AS query_id, NULL::BIGINT AS doc_id, "
            "NULL::DOUBLE AS score WHERE false"
        )
    split_block = ""
    split_union = ""
    if split_rows:
        split_block = f""",
spc AS (SELECT * FROM (VALUES {", ".join(split_rows)}) AS v(query_id, sid, a, b)),
sp AS (
  SELECT spc.* FROM spc
  JOIN vocab va ON va.term = spc.a
  JOIN vocab vb ON vb.term = spc.b
),
toks AS (
  SELECT doc_id,
         ' ' || array_to_string(list_filter(regexp_split_to_array(lower(text), '{TOKEN_SPLIT_RE}'), x -> x <> ''), ' ') || ' ' AS padded
  FROM documents
),
spmatch AS (
  SELECT sp.query_id, sp.sid, sp.a, sp.b, toks.doc_id
  FROM toks JOIN sp
    ON position((' ' || sp.a || ' ' || sp.b || ' ') IN toks.padded) > 0
),
spterm AS (
  SELECT DISTINCT query_id, sid, doc_id, a AS term FROM spmatch
  UNION
  SELECT DISTINCT query_id, sid, doc_id, b AS term FROM spmatch
),
spscored AS (
  SELECT st.query_id, st.doc_id,
         sum(
           ln(1 + (cs.n_docs - ts.df + 0.5) / (ts.df + 0.5))
           * (tdt.tf * ({K1} + 1)) / (tdt.tf + {K1} * (1 - {B} + {B} * dl.dl / cs.avgdl))
         ) AS score
  FROM spterm st
  JOIN tdt ON tdt.term = st.term AND tdt.doc_id = st.doc_id
  JOIN ts ON ts.term = st.term
  JOIN dl ON dl.doc_id = st.doc_id
  CROSS JOIN cs
  GROUP BY st.query_id, st.doc_id
)"""
        split_union = "\n  UNION ALL\n  SELECT query_id, doc_id, score FROM spscored"
    return f"""
WITH {_CORPUS_CTES.format(tdt=sql_term_doc_tf('documents'))},
qt AS (SELECT * FROM (VALUES {", ".join(word_rows)}) AS v(query_id, term)),
wscored AS (
  SELECT qt.query_id, tdt.doc_id,
         sum(
           ln(1 + (cs.n_docs - ts.df + 0.5) / (ts.df + 0.5))
           * (tdt.tf * ({K1} + 1)) / (tdt.tf + {K1} * (1 - {B} + {B} * dl.dl / cs.avgdl))
         ) AS score
  FROM tdt
  JOIN qt ON tdt.term = qt.term
  JOIN ts ON tdt.term = ts.term
  JOIN dl ON tdt.doc_id = dl.doc_id
  CROSS JOIN cs
  GROUP BY qt.query_id, tdt.doc_id
){split_block},
allparts AS (
  SELECT query_id, doc_id, score FROM wscored{split_union}
),
summed AS (
  SELECT query_id, doc_id, round(sum(score), {SCORE_DECIMALS}) AS score
  FROM allparts GROUP BY query_id, doc_id
)
SELECT query_id, doc_id, score FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rn
  FROM summed
) WHERE rn <= {int(k)}
"""
