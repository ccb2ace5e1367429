"""Phrase search — exact token-adjacency top-k over the positional index.

Semantics (the Meilisearch "phrase query" / double-quoted search, served in
the reference stack from grenad word-position databases): a document matches
the phrase t_0 t_1 ... t_{m-1} iff some position p has t_i at p+i for every
i. Matching docs are ranked by ordinary BM25 over the phrase's DISTINCT
terms (conjunctive-and-then-score, like the AND path, plus adjacency).

Plan shape = the house single-exchange serving plan: pruned positions scan
(In(term, ...) pushed to parquet), broadcast of the driver-computed
(query_id, term, idf) rows, ONE hash exchange into a per-(query_id, shard)
Arrow kernel, then the global top-k window. Shards are doc-disjoint, so
per-shard phrase matching is exact and the union is the global match set —
identical scaling story to ordinary top-k: candidates ∝ posting sizes of the
phrase terms, never ∝ corpus.

Kernel internals are fully vectorized: each term's blocks decode in one
varbyte pass; the offset-chain intersection packs (doc, pos - i) into one
int64 key per occurrence (doc * 2^POS_BITS + adjusted position) and chains
np.intersect1d — m-1 sorted-set intersections per (query, shard), no per-doc
Python. Duplicate terms in a phrase ("buffalo buffalo") cost nothing extra:
each OFFSET contributes its own adjusted key set from the same decoded
arrays.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from grenad_spark.functions.literals import isin, prefix_ranges
from grenad_spark.functions.tokenize import TOKEN_SPLIT_RE
from grenad_spark.query.kernels import (
    PROX_INF,
    conjunctive_docs,
    decode_positions,
    empty_frame,
    matched_bm25,
    pair_min_dist,
    phrase_docs,
)
from grenad_spark.query.search import (
    _POS_COLS,
    _PROXIMITY_ORDER,
    _driver_idf,
    _empty_result,
    _packed_in,
    _rank_topk,
    _scoring_pairs,
    _serve_kernel,
)

_OUT_SCHEMA = "query_id int, doc_id long, score double"


def _tokenize_phrases(queries: list[tuple[int, str]]) -> dict[int, list[str]]:
    """query_id -> ORDERED token list (duplicates and order preserved —
    adjacency is positional, unlike the bag-of-words paths)."""
    import re

    out: dict[int, list[str]] = {}
    for qid, q in queries:
        toks = [t for t in re.split(TOKEN_SPLIT_RE, q.lower()) if t]
        out[qid] = toks
    return out


def _phrase_pairs(spark: SparkSession, index, phrases: dict[int, list[str]]) -> list[tuple[int, str]]:
    """(query_id, term) over each phrase's distinct terms in sorted order,
    by the conjunctive rule: a phrase with an out-of-vocabulary term can
    never match and drops."""
    pairs = [(q, t) for q, toks in phrases.items() for t in sorted(set(toks))]
    return _scoring_pairs(spark, index, pairs, required=pairs)


def _make_phrase_kernel(
    phrases: dict[int, list[str]] | dict[int, list[tuple[int, str]]],
    avgdl: float,
    codec: str,
):
    """applyInPandas kernel over one (query_id, shard) group of position
    blocks (term, idf, n, header, positions). Each phrase is either a token
    list (offsets = 0..n-1, plain adjacency) or an explicit (offset, term)
    CHAIN — gaps in the offsets are single-token wildcards, the stop-word
    semantics of search_topk_phrase_stopwords."""
    chains: dict[int, list[tuple[int, str]]] = {
        qid: list(enumerate(v)) if v and isinstance(v[0], str) else list(v)
        for qid, v in phrases.items()
    }

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        qid = int(pdf["query_id"].iloc[0])
        chain = chains[qid]
        decoded, idfs = decode_positions(pdf, codec)
        # a phrase term absent from this shard => no match here
        matched = phrase_docs(decoded, chain)
        if matched.size == 0:
            return empty_frame(_OUT_SCHEMA)
        # BM25 over distinct phrase terms, restricted to matched docs
        terms = list(dict.fromkeys(t for _, t in chain))
        scores = matched_bm25(decoded, idfs, terms, matched, avgdl)
        return pd.DataFrame({"query_id": qid, "doc_id": matched, "score": scores})

    return fn


def phrase_match_pairs(
    spark: SparkSession, index, pairs: list[tuple[int, str]]
) -> DataFrame:
    """(query_id, doc_id) UNRANKED adjacency match sets for a BATCH of
    (query_id, phrase) pairs — one pruned positions scan + one kernel pass
    for the whole batch. Phrases with an OOV term (driver df-map probe)
    match nothing and never reach the scan. What facet restrictions,
    downstream filters and negative-phrase exclusions consume."""
    phrases = _tokenize_phrases(pairs)
    qt = _phrase_pairs(spark, index, phrases)
    if not qt:
        return _empty_result(spark, "query_id int, doc_id long")
    return _serve_kernel(
        spark, index, qt,
        _make_phrase_kernel(phrases, float(index.avgdl), index.payload_codec),
        _OUT_SCHEMA, table="positions",
    ).select("query_id", "doc_id")


def phrase_matches(
    spark: SparkSession, index, phrase: str
) -> DataFrame:
    """(doc_id) of every doc containing `phrase` token-adjacently — the
    single-phrase head over phrase_match_pairs. Work ∝ the phrase terms'
    posting sizes."""
    return phrase_match_pairs(spark, index, [(1, phrase)]).select("doc_id")


def search_topk_phrase(
    spark: SparkSession,
    index,
    queries: list[tuple[int, str]],
    k: int = 10,
    prune_shards: bool = False,
) -> DataFrame:
    """Top-k BM25 over docs containing each query as an EXACT phrase.
    (query_id, doc_id, score); queries whose tokens include an
    out-of-vocabulary term return no rows (a phrase can't match).

    prune_shards (default off — same economics as the two-pass WAND prune:
    the metadata pre-pass is one extra fixed-cost job, a local wall-clock
    pessimization against a page-cached exchange, and the lever to pull when
    the exchange is a real network): a phrase can only match in shards where EVERY
    term has at least one block, so a metadata-only pre-pass (term+shard
    columns, payloads stay on disk) intersects the per-term shard sets and
    the payload scan ships only surviving (query, shard) groups. Shards are
    doc-range disjoint, so at web scale a head term ('the') lives in ~every
    shard while the phrase's rare term lives in few — the intersection is
    the rare term's shard set, and the head term's payload bytes for all
    other shards never enter the exchange. Exactness: the kernel already
    returns empty for any group missing a term; pruning removes exactly
    those groups."""
    phrases = _tokenize_phrases(queries)
    avgdl = float(index.avgdl)
    codec = index.payload_codec
    pairs = _phrase_pairs(spark, index, phrases)
    if not pairs:
        return _empty_result(spark, _OUT_SCHEMA)

    def shard_prune(blocks: DataFrame) -> DataFrame | None:
        # the prepass of the Spark branch: None when no group survives
        terms_by_q: dict[int, set] = {}
        for q, t in pairs:
            terms_by_q.setdefault(q, set()).add(t)
        tsm = index.term_shards(spark)
        surv: list[tuple[int, int]] | None = None
        attach_noop = False
        if tsm is not None:
            # driver-held {term → shard set} map (the df_map pattern): the
            # per-query survivor set is a pure set intersection — NO census
            # job at all (the distributed census + collect cost ~0.4 s per
            # batch). Candidate groups are the union; when intersection ==
            # union for every query, pruning is a no-op and the attach is
            # skipped outright (the uniform-corpus case).
            surv = []
            attach_noop = True
            for qid, toks in sorted(terms_by_q.items()):
                sets = [tsm.get(t, set()) for t in toks]
                inter = set.intersection(*sets) if sets else set()
                surv.extend((qid, s) for s in sorted(inter))
                if attach_noop and len(inter) != len(set().union(*sets)):
                    attach_noop = False
        elif len(terms_by_q) * int(index.n_shards) <= 200_000:
            # no driver map (web-scale vocabulary): candidate-group census
            # in ONE metadata job (no .distinct() pre-pass — countDistinct's
            # partial agg already dedups map-side), collected so the attach
            # can still adapt to what pruning found
            grows = (
                blocks.select("query_id", "shard", "term")
                .groupBy("query_id", "shard")
                .agg(F.countDistinct("term").alias("ct"))
                .collect()
            )
            surv = [
                (int(r["query_id"]), int(r["shard"]))
                for r in grows
                if int(r["ct"]) == len(terms_by_q[int(r["query_id"])])
            ]
            attach_noop = len(surv) == len(grows)
        if surv is not None:
            if not surv:
                return None
            # attach_noop: every candidate group survives — serve unpruned
            if not attach_noop:
                # survivor (query, shard) pairs come back as ONE packed-key
                # SQL IN literal (hashed InSet, O(1)/row; a literal MAP here
                # measured 4× slower — map literals re-evaluate per row), or
                # as a broadcast of the same pairs above the literal cap or
                # outside the key's bit ranges (_packed_in). The shard-only
                # IN conjunct is added when it shrinks the shard set: that
                # one reaches the parquet scan as a pushed filter and skips
                # files/row groups on localized corpora.
                blocks = _packed_in(spark, blocks, surv, ["query_id", "shard"], [31, 20])
                all_shards = sorted({s for _, s in surv})
                if len(all_shards) < int(index.n_shards):
                    blocks = blocks.filter(isin("shard", all_shards))
        else:
            nt = spark.createDataFrame(
                [(q, len(ts)) for q, ts in sorted(terms_by_q.items())],
                "query_id int, nt int",
            )
            survivors = (
                blocks.select("query_id", "shard", "term")
                .groupBy("query_id", "shard")
                .agg(F.countDistinct("term").alias("ct"))
                .join(F.broadcast(nt), "query_id")
                .filter(F.col("ct") == F.col("nt"))
                .select("query_id", "shard")
            )
            blocks = blocks.join(F.broadcast(survivors), ["query_id", "shard"])
        return blocks

    return _serve_kernel(
        spark, index, pairs, _make_phrase_kernel(phrases, avgdl, codec), _OUT_SCHEMA, k,
        table="positions", prepass=shard_prune if prune_shards else None,
    )


# ---------------------------------------------------------------------------
# stop words inside phrases — Meilisearch keeps quoted phrases working when
# the index has stop words configured: edge stop words are ignored, interior
# ones occupy exactly one token position without constraining which token
# ---------------------------------------------------------------------------

# contract query set: edge stops, interior-stop wildcards, multi-stop,
# all-stop (matches nothing), OOV survivor (matches nothing)
PHRASE_STOP_WORDS: set[str] = {"a", "the"}
STOP_PHRASE_QUERIES: list[tuple[int, str]] = [
    (1, "the fast merge"),
    (2, "merge the sort"),
    (3, "value a row"),
    (4, "the a fast"),
    (5, "a the a"),
    (6, "sort the zzzunknown"),
]


def _stopword_chain(
    toks: list[str], stop_words: set[str]
) -> list[tuple[int, str]] | None:
    """(offset, term) chain for a phrase under stop words: leading/trailing
    stop words drop (offsets rebase to the first kept token), interior stop
    words keep their position as a single-token WILDCARD (the offset gap).
    None when no token survives — an all-stop phrase matches nothing."""
    lo, hi = 0, len(toks)
    while lo < hi and toks[lo] in stop_words:
        lo += 1
    while hi > lo and toks[hi - 1] in stop_words:
        hi -= 1
    chain = [
        (i - lo, t) for i, t in enumerate(toks[:hi]) if i >= lo and t not in stop_words
    ]
    return chain or None


def search_topk_phrase_stopwords(
    spark: SparkSession,
    index,
    queries: list[tuple[int, str]],
    stop_words: set[str],
    k: int = 10,
) -> DataFrame:
    """Exact-phrase BM25 with index-configured STOP WORDS: `"the fast
    join"` with 'the' stopped matches docs where some token precedes is
    irrelevant — it matches `fast join` adjacently; `"merge the sort"`
    matches `merge <any one token> sort`. Same plan as search_topk_phrase
    (pruned In(term) positions scan over the NON-STOP terms only — stop
    words never even reach the scan, the index-side reason Meilisearch
    recommends stop lists — one exchange into the offset-chain kernel);
    BM25 ranks over the surviving distinct terms."""
    phrases = _tokenize_phrases(queries)
    chains: dict[int, list[tuple[int, str]]] = {}
    for qid, toks in phrases.items():
        ch = _stopword_chain(toks, stop_words)
        if ch is not None:
            chains[qid] = ch
    # an OOV surviving term => the phrase cannot match
    pairs = _phrase_pairs(spark, index, {q: [t for _, t in ch] for q, ch in chains.items()})
    if not pairs:
        return _empty_result(spark, _OUT_SCHEMA)
    return _serve_kernel(
        spark, index, pairs,
        _make_phrase_kernel(chains, float(index.avgdl), index.payload_codec),
        _OUT_SCHEMA, k, table="positions",
    )


def sql_phrase_stopwords_topk(
    queries: list[tuple[int, str]],
    stop_words: set[str],
    k: int = 10,
    table: str = "documents",
) -> str:
    """DuckDB oracle for search_topk_phrase_stopwords: the chain becomes a
    regex over the normalized token stream — literal tokens at kept offsets,
    `[a-z0-9]+` at interior stop offsets (exactly one token), edges trimmed;
    BM25 over the surviving distinct terms."""
    import re

    from grenad_spark.functions.tokenize import TOKEN_SPLIT_RE, sql_term_doc_tf
    from grenad_spark.query.bm25 import B, K1, SCORE_DECIMALS

    rows, term_rows = [], []
    for qid, q in queries:
        toks = [t for t in re.split(TOKEN_SPLIT_RE, q.lower()) if t]
        ch = _stopword_chain(toks, stop_words)
        if ch is None:
            continue
        offs = dict(ch)
        span = max(offs) + 1
        pat = " ".join(offs.get(i, "[a-z0-9]+") for i in range(span))
        rows.append(f"({qid}, ' {pat} ')")
        term_rows.extend(f"({qid}, '{t}')" for t in sorted({t for _, t in ch}))
    if not rows:
        return (
            "SELECT NULL::INT AS query_id, NULL::BIGINT AS doc_id, "
            "NULL::DOUBLE AS score WHERE false"
        )
    return f"""
WITH tdt AS ({sql_term_doc_tf(table)}),
toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '{TOKEN_SPLIT_RE}'), x -> x <> '') AS t
  FROM {table}
),
dl AS (SELECT doc_id, len(t) AS dl FROM toks),
cs AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl)::DOUBLE AS avgdl FROM dl),
ts AS (SELECT term, count(*)::DOUBLE AS df FROM tdt GROUP BY term),
q AS (SELECT * FROM (VALUES {", ".join(rows)}) AS v(query_id, pat)),
qt AS (SELECT * FROM (VALUES {", ".join(term_rows)}) AS v(query_id, term)),
match AS (
  SELECT q.query_id, toks.doc_id
  FROM toks CROSS JOIN q
  WHERE regexp_matches(' ' || array_to_string(toks.t, ' ') || ' ', q.pat)
),
scored AS (
  SELECT m.query_id, m.doc_id,
         round(sum(
           ln(1 + (cs.n_docs - ts.df + 0.5) / (ts.df + 0.5))
           * (tdt.tf * ({K1} + 1)) / (tdt.tf + {K1} * (1 - {B} + {B} * dl.dl / cs.avgdl))
         ), {SCORE_DECIMALS}) AS score
  FROM match m
  JOIN qt ON qt.query_id = m.query_id
  JOIN tdt ON tdt.term = qt.term AND tdt.doc_id = m.doc_id
  JOIN ts ON ts.term = qt.term
  JOIN dl ON dl.doc_id = m.doc_id
  CROSS JOIN cs
  GROUP BY m.query_id, m.doc_id
)
SELECT query_id, doc_id, score FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rn
  FROM scored
) WHERE rn <= {k}
"""


# ---------------------------------------------------------------------------
# snippets — Meilisearch-style crop/highlight of the first phrase occurrence
# ---------------------------------------------------------------------------

def phrase_snippets(
    spark: SparkSession,
    index,
    docs: DataFrame,
    queries: list[tuple[int, str]],
    k: int = 10,
    context: int = 2,
) -> DataFrame:
    """(query_id, doc_id, score, snippet): top-k phrase matches with a crop
    of `context` tokens around the FIRST occurrence (Meilisearch's crop /
    _formatted response, reference-stack serving built on the same
    word-position data). Post-processing on k·|queries| rows only: the
    top-k side broadcasts into the documents join; snippet extraction is
    pure JVM exprs over the normalized token stream (identical on the
    DuckDB oracle side — no raw-text offset mismatches)."""
    import re

    from grenad_spark.functions.tokenize import tokens_col

    topk = search_topk_phrase(spark, index, queries, k=k)
    norm = [
        (qid, " ".join(t for t in re.split(TOKEN_SPLIT_RE, q.lower()) if t))
        for qid, q in queries
    ]
    qdf = spark.createDataFrame(
        [(qid, p, len(p.split())) for qid, p in norm if p],
        "query_id int, phrase string, plen int",
    )
    j = (
        F.broadcast(topk.join(F.broadcast(qdf), "query_id"))
        .join(docs.select("doc_id", "text"), "doc_id")
        .withColumn("toks", tokens_col("text"))
        .withColumn("joined", F.concat(F.lit(" "), F.array_join(F.col("toks"), " "), F.lit(" ")))
        .withColumn("pos", F.expr("locate(concat(' ', phrase, ' '), joined)"))
        # token index (1-based) of the match = spaces in joined[1..pos]
        .withColumn("prefix", F.expr("substring(joined, 1, pos)"))
        .withColumn(
            "t0", F.length("prefix") - F.length(F.regexp_replace("prefix", " ", ""))
        )
        .withColumn("lo", F.greatest(F.lit(1), F.col("t0") - context))
        .withColumn(
            "hi",
            F.least(F.size("toks"), F.col("t0") + F.col("plen") - 1 + context),
        )
        .withColumn(
            "snippet",
            F.array_join(
                F.expr("slice(toks, lo, hi - lo + 1)"), " "
            ),
        )
    )
    return j.select("query_id", "doc_id", "score", "snippet")


def sql_phrase_snippets(
    queries: list[tuple[int, str]] | None = None, k: int = 10, context: int = 2
) -> str:
    """DuckDB oracle for phrase_snippets — same normalized-token crop."""
    import re

    from grenad_spark.query.bm25 import PHRASE_QUERIES, bm25_phrase_oracle_sql

    queries = queries if queries is not None else PHRASE_QUERIES
    norm = [
        (qid, " ".join(t for t in re.split(TOKEN_SPLIT_RE, q.lower()) if t))
        for qid, q in queries
    ]
    rows = ", ".join(
        f"({qid}, '{p}', {len(p.split())})" for qid, p in norm if p
    )
    return f"""
WITH topk AS ({bm25_phrase_oracle_sql(queries, k)}),
qn AS (SELECT * FROM (VALUES {rows}) AS v(query_id, phrase, plen)),
tk AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '{TOKEN_SPLIT_RE}'), x -> x <> '') AS toks
  FROM documents
),
j AS (
  SELECT t.query_id, t.doc_id, t.score, qn.plen, tk.toks,
         ' ' || array_to_string(tk.toks, ' ') || ' ' AS joined,
         ' ' || qn.phrase || ' ' AS needle
  FROM topk t JOIN qn USING (query_id) JOIN tk USING (doc_id)
),
loc AS (
  SELECT *, instr(joined, needle) AS pos FROM j
),
tpos AS (
  SELECT *,
         length(substring(joined, 1, pos)) -
         length(replace(substring(joined, 1, pos), ' ', '')) AS t0
  FROM loc
)
SELECT query_id, doc_id, score,
       array_to_string(
         list_slice(toks, greatest(1, t0 - {context}),
                    least(len(toks), t0 + plen - 1 + {context})), ' ') AS snippet
FROM tpos
"""


# ---------------------------------------------------------------------------
# proximity ranking — the Meilisearch "proximity" rule over the same
# positional blocks: docs containing ALL query terms rank by the sum over
# ADJACENT query-term pairs of the minimal position distance (adjacent
# phrase = m-1 pairs of distance 1 → proximity m-1... a doc carrying the
# terms as an exact phrase scores proximity = m-1), ties by BM25 then doc.
# ---------------------------------------------------------------------------

_PROX_OUT_SCHEMA = "query_id int, doc_id long, proximity long, score double"


def _make_proximity_kernel(phrases: dict[int, list[str]], avgdl: float, codec: str):
    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        qid = int(pdf["query_id"].iloc[0])
        toks = phrases[qid]
        decoded, idfs = decode_positions(pdf, codec)
        uniq_terms = list(dict.fromkeys(toks))
        matched = conjunctive_docs(decoded, uniq_terms)
        if matched.size == 0:
            return empty_frame(_PROX_OUT_SCHEMA)
        prox = np.zeros(matched.size, dtype=np.int64)
        for i in range(len(toks) - 1):
            ta, tb = toks[i], toks[i + 1]
            docs_a, mind = pair_min_dist(decoded[ta], decoded[tb], ta == tb)
            sel = np.searchsorted(docs_a, matched)  # matched ⊆ docs_a
            prox += mind[sel]
        # equal-adjacent-term pairs need two occurrences: INF ⇒ no valid
        # reading of the query in that doc ⇒ drop it (mirrors the oracle's
        # inner join on a.pos <> b.pos pairs)
        keep = prox < PROX_INF
        matched, prox = matched[keep], prox[keep]
        if matched.size == 0:
            return empty_frame(_PROX_OUT_SCHEMA)
        scores = matched_bm25(decoded, idfs, uniq_terms, matched, avgdl)
        return pd.DataFrame(
            {"query_id": qid, "doc_id": matched, "proximity": prox, "score": scores}
        )

    return fn


def search_topk_proximity(
    spark: SparkSession,
    index,
    queries: list[tuple[int, str]],
    k: int = 10,
) -> DataFrame:
    """Proximity-ranked conjunctive top-k over the positional index:
    (query_id, doc_id, proximity, score), ranked proximity ASC, score DESC,
    doc_id ASC. proximity = Σ over adjacent query-term pairs of the minimal
    |position distance| in the doc (an exact-phrase doc scores m-1). Same
    plan shape and scaling story as search_topk_phrase."""
    phrases = _tokenize_phrases(queries)
    pairs = _phrase_pairs(spark, index, phrases)
    if not pairs:
        return _empty_result(spark, _PROX_OUT_SCHEMA)
    return _serve_kernel(
        spark, index, pairs,
        _make_proximity_kernel(phrases, float(index.avgdl), index.payload_codec),
        _PROX_OUT_SCHEMA, k, _PROXIMITY_ORDER, ["query_id", "doc_id", "proximity", "score"],
        table="positions",
    )


def sql_proximity_topk(
    queries: list[tuple[int, str]], k: int = 10
) -> str:
    """DuckDB oracle for search_topk_proximity: per adjacent term pair, the
    min |position distance| via a doc-keyed self-join of the position CTE
    (a.pos <> b.pos when the pair repeats a term); proximity = pair sums;
    rank proximity ASC, BM25 DESC, doc ASC."""
    import re

    from grenad_spark.query.bm25 import B, K1, SCORE_DECIMALS
    from grenad_spark.functions.tokenize import sql_term_doc_tf

    parsed = [
        (qid, [t for t in re.split(TOKEN_SPLIT_RE, q.lower()) if t])
        for qid, q in queries
    ]
    parsed = [(qid, toks) for qid, toks in parsed if toks]
    ctes, unions, qt_rows = [], [], []
    for qid, toks in parsed:
        for t in sorted(set(toks)):
            qt_rows.append(f"({qid}, '{t}')")
        if len(toks) == 1:
            ctes.append(
                f"m{qid} AS (SELECT doc_id, 0::BIGINT AS proximity FROM pos "
                f"WHERE term = '{toks[0]}' GROUP BY doc_id)"
            )
        else:
            sums, joins = [], []
            for i in range(len(toks) - 1):
                ta, tb = toks[i], toks[i + 1]
                self_pair = " AND a.pos <> b.pos" if ta == tb else ""
                ctes.append(
                    f"p{qid}_{i} AS (SELECT a.doc_id, min(abs(b.pos - a.pos))::BIGINT AS d "
                    f"FROM pos a JOIN pos b ON b.doc_id = a.doc_id "
                    f"WHERE a.term = '{ta}' AND b.term = '{tb}'{self_pair} "
                    f"GROUP BY a.doc_id)"
                )
                sums.append(f"p{qid}_{i}.d")
                if i > 0:
                    joins.append(f"JOIN p{qid}_{i} USING (doc_id)")
            ctes.append(
                f"m{qid} AS (SELECT p{qid}_0.doc_id, ({' + '.join(sums)})::BIGINT AS proximity "
                f"FROM p{qid}_0 {' '.join(joins)})"
            )
        unions.append(f"SELECT {qid} AS query_id, doc_id, proximity FROM m{qid}")
    return f"""
WITH tdt AS ({sql_term_doc_tf('documents')}),
toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '{TOKEN_SPLIT_RE}'), x -> x <> '') AS t
  FROM documents
),
pos AS (SELECT doc_id, unnest(t) AS term, generate_subscripts(t, 1) AS pos FROM toks),
dl AS (SELECT doc_id, len(t) AS dl FROM toks),
cs AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl)::DOUBLE AS avgdl FROM dl),
ts AS (SELECT term, count(*)::DOUBLE AS df FROM tdt GROUP BY term),
{',' .join(ctes)},
allm AS ({' UNION ALL '.join(unions)}),
qt AS (SELECT * FROM (VALUES {', '.join(qt_rows)}) AS v(query_id, term)),
scored AS (
  SELECT am.query_id, am.doc_id, am.proximity,
         round(sum(
           ln(1 + (cs.n_docs - ts.df + 0.5) / (ts.df + 0.5))
           * (tdt.tf * ({K1} + 1)) / (tdt.tf + {K1} * (1 - {B} + {B} * dl.dl / cs.avgdl))
         ), {SCORE_DECIMALS}) AS score
  FROM allm am
  JOIN qt ON qt.query_id = am.query_id
  JOIN tdt ON tdt.term = qt.term AND tdt.doc_id = am.doc_id
  JOIN ts ON ts.term = qt.term
  JOIN dl ON dl.doc_id = am.doc_id
  CROSS JOIN cs
  GROUP BY am.query_id, am.doc_id, am.proximity
)
SELECT query_id, doc_id, proximity, score FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY proximity ASC, score DESC, doc_id ASC) AS rn
  FROM scored
) WHERE rn <= {k}
"""


# ---------------------------------------------------------------------------
# fresh phrase — query-time generation merge for the positional index
# ---------------------------------------------------------------------------

def search_topk_phrase_fresh(
    spark: SparkSession,
    index_paths_or_handles: list,
    queries: list[tuple[int, str]],
    k: int = 10,
    live_dir: str | None = None,
) -> DataFrame:
    """Exact-phrase top-k over the LOGICAL corpus of unmerged generation
    indexes (base + crawl deltas), newest generation per doc winning —
    search_topk_fresh's LSM read path for the positional table. Dataflow:
    per-generation In(term)-pruned positions scan → vectorized occurrence
    decode (per-gen codec) → doc-level tombstone filter via the live map →
    RELATIONAL adjacency match (an m-way equi-join on (doc_id, pos − i),
    Catalyst-planned — at web scale each join side is one term's live
    occurrences, already pruned to the phrase terms) → BM25 over distinct
    phrase terms with LIVE corpus stats. live_dir as in search_topk_fresh
    (persisted map, retry-once, inline fallback)."""
    from grenad_spark.index.build import IndexHandle
    from grenad_spark.index.positions import (
        _make_decode_positions_partition,
        _POS_DECODED_SCHEMA,
    )
    from grenad_spark.query.bm25 import score_expr
    from grenad_spark.query.search import _resolve_live

    handles = [
        h if isinstance(h, IndexHandle) else IndexHandle(h)
        for h in index_paths_or_handles
    ]
    paths = [
        h if not isinstance(h, IndexHandle) else h.path
        for h in index_paths_or_handles
    ]
    phrases = _tokenize_phrases(queries)
    phrases = {q: t for q, t in phrases.items() if t}
    if not phrases:
        return _empty_result(spark, _OUT_SCHEMA)
    terms = sorted({t for toks in phrases.values() for t in toks})
    codecs = [h.payload_codec for h in handles]

    pos_union = None
    for i, h in enumerate(handles):
        s = (
            h.positions(spark)
            .filter(isin("term", terms))
            .select("term", "n", "header", "positions")
            .withColumn("gen", F.lit(i))
        )
        pos_union = s if pos_union is None else pos_union.unionByName(s)

    resolved = _resolve_live(spark, handles, paths, live_dir)
    if resolved is None:
        return _empty_result(spark, _OUT_SCHEMA)
    live, n_docs, avgdl = resolved

    decoded = pos_union.mapInPandas(
        _make_decode_positions_partition(codecs), _POS_DECODED_SCHEMA
    )
    livetoks = (
        decoded.join(live, "doc_id")
        .filter(F.col("gen") == F.col("live_gen"))
        .select("term", "doc_id", "dl", "pos")
    )

    # adjacency match per query: occurrences of t_0 at p surviving an
    # equi-join chain against t_i at p + i. OOV terms need no special case —
    # their join side is empty and the query yields no rows.
    matches = None
    for qid, toks in phrases.items():
        m = livetoks.filter(F.col("term") == toks[0]).select("doc_id", "pos")
        for i, t in enumerate(toks[1:], 1):
            m = m.join(
                livetoks.filter(F.col("term") == t).select(
                    "doc_id", (F.col("pos") - i).alias("pos")
                ),
                ["doc_id", "pos"],
            )
        mq = m.select(F.lit(qid).cast("int").alias("query_id"), "doc_id").distinct()
        matches = mq if matches is None else matches.unionByName(mq)

    tdt = livetoks.groupBy("term", "doc_id").agg(
        F.count("*").cast("int").alias("tf"), F.first("dl").alias("dl")
    )
    ts = tdt.groupBy("term").agg(F.count("*").cast("double").alias("df"))
    qt_rows = sorted(
        {(qid, t) for qid, toks in phrases.items() for t in set(toks)}
    )
    qt = spark.createDataFrame(qt_rows, "query_id int, term string")
    per_term = (
        tdt.join(F.broadcast(qt), "term")
        .join(F.broadcast(ts), "term")
        .join(matches, ["query_id", "doc_id"])
        .select(
            "query_id",
            "doc_id",
            score_expr(
                F.col("tf").cast("double"), F.col("df"),
                F.col("dl").cast("double"), n_docs, avgdl,
            ).alias("s"),
        )
    )
    scored = per_term.groupBy("query_id", "doc_id").agg(F.sum("s").alias("score"))
    return _rank_topk(scored, len(phrases), int(k))


# ---------------------------------------------------------------------------
# mixed queries — free terms + quoted phrases (the Meilisearch query string:
# `dup "merge sort"` = phrase CONSTRAINT + relevance over ALL terms)
# ---------------------------------------------------------------------------

def parse_mixed_query(q: str) -> tuple[list[list[str]], list[str]]:
    """(phrases, free_terms): double-quoted segments become phrase token
    lists (hard constraints); the rest tokenizes to free terms."""
    import re

    phrases = [
        [t for t in re.split(TOKEN_SPLIT_RE, p.lower()) if t]
        for p in re.findall(r'"([^"]*)"', q)
    ]
    phrases = [p for p in phrases if p]
    rest = re.sub(r'"[^"]*"', " ", q)
    free = [t for t in re.split(TOKEN_SPLIT_RE, rest.lower()) if t]
    return phrases, free


def _make_mixed_kernel(parsed: dict[int, tuple], avgdl: float, codec: str):
    """parsed: qid -> (phrases, free_terms). Matched docs = docs containing
    EVERY phrase (offset-chain per phrase, intersected); a query with no
    phrases matches any doc holding ≥1 query term (plain disjunctive BM25).
    Score = Σ over ALL distinct query terms present in the doc."""

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        qid = int(pdf["query_id"].iloc[0])
        phrases_q, free_q = parsed[qid]
        decoded, idfs = decode_positions(pdf, codec)
        matched = None
        for toks in phrases_q:
            pm = phrase_docs(decoded, list(enumerate(toks)))
            matched = pm if matched is None else np.intersect1d(
                matched, pm, assume_unique=True
            )
            if matched.size == 0:
                return empty_frame(_OUT_SCHEMA)
        all_terms = sorted(
            {t for toks in phrases_q for t in toks} | set(free_q)
        )
        present = [t for t in all_terms if t in decoded]
        if not present:
            return empty_frame(_OUT_SCHEMA)
        if matched is None:
            # no phrase constraint: disjunctive — union of term doc sets
            matched = np.unique(np.concatenate([decoded[t][0] for t in present]))
        # free terms may be absent from a doc
        scores = matched_bm25(decoded, idfs, present, matched, avgdl)
        return pd.DataFrame({"query_id": qid, "doc_id": matched, "score": scores})

    return fn


def _mixed_per_shard(
    spark: SparkSession, index, queries: list[tuple[int, str]], k: int | None = None
) -> DataFrame | None:
    """Shared plan of the mixed family: parse, OOV-phrase drop, idf pairs,
    and the per-(query, shard) mixed kernel through the serving dispatch.
    Returns the top-k (query_id, doc_id, score) rows of each query (k None:
    every match, unranked), or None when nothing can match."""
    parsed = {qid: parse_mixed_query(q) for qid, q in queries}
    parsed = {
        qid: pf for qid, pf in parsed.items() if pf[0] or pf[1]
    }
    pairs = _mixed_pairs(spark, index, parsed)
    if not pairs:
        return None
    return _serve_kernel(
        spark, index, pairs,
        _make_mixed_kernel(parsed, float(index.avgdl), index.payload_codec), _OUT_SCHEMA, k,
        table="positions",
    )


def _mixed_pairs(
    spark: SparkSession, index, parsed: dict[int, tuple[list[list[str]], list[str]]]
) -> list[tuple[int, str]]:
    """(query_id, term) over each mixed query's phrase and free terms in
    sorted order: an OOV phrase term drops the whole query (it can never
    match), an OOV free term only itself (it does not contribute)."""
    pairs, phrase_pairs = [], []
    for qid, (phrases_q, free_q) in parsed.items():
        terms_q = {t for toks in phrases_q for t in toks} | set(free_q)
        pairs.extend((qid, t) for t in sorted(terms_q))
        phrase_pairs.extend((qid, t) for toks in phrases_q for t in toks)
    return _scoring_pairs(spark, index, pairs, required=phrase_pairs)


def search_topk_mixed(
    spark: SparkSession,
    index,
    queries: list[tuple[int, str]],
    k: int = 10,
) -> DataFrame:
    """Top-k for mixed query strings — free terms + double-quoted phrases.
    Quoted phrases are hard constraints (every phrase must appear, token-
    adjacent); relevance is BM25 over ALL distinct query terms present in
    the doc. A query with no quotes degrades to plain disjunctive BM25;
    a query whose phrase contains an out-of-vocabulary term returns no
    rows. Served entirely from the positional table (its block headers are
    full posting blocks, so free-term scoring needs no second scan)."""
    top = _mixed_per_shard(spark, index, queries, k)
    return _empty_result(spark, _OUT_SCHEMA) if top is None else top


def mixed_matches(spark: SparkSession, index, query: str) -> DataFrame:
    """(doc_id) of every doc matching the mixed query — the UNRANKED match
    set (no window, no sort): what a facet restriction consumes. Phrases
    constrain (all must appear token-adjacently); a phrase-free query
    matches any doc holding >=1 query term."""
    per_shard = _mixed_per_shard(spark, index, [(1, query)])
    if per_shard is None:
        return _empty_result(spark, "doc_id long")
    return per_shard.select("doc_id")


def sql_mixed_topk(queries: list[tuple[int, str]], k: int = 10) -> str:
    """DuckDB oracle for search_topk_mixed: per query, a match CTE ANDing
    one space-join LIKE per quoted phrase (absent for phrase-free queries),
    then BM25 over all distinct query terms restricted to matching docs."""
    from grenad_spark.query.bm25 import B, K1, SCORE_DECIMALS
    from grenad_spark.functions.tokenize import sql_term_doc_tf

    branches = []
    for qid, q in queries:
        phrases_q, free_q = parse_mixed_query(q)
        all_terms = sorted({t for toks in phrases_q for t in toks} | set(free_q))
        if not all_terms:
            continue
        terms_vals = ", ".join(f"('{t}')" for t in all_terms)
        if phrases_q:
            conds = " AND ".join(
                "' ' || array_to_string(tk.t, ' ') || ' ' LIKE '% "
                + " ".join(toks) + " %'"
                for toks in phrases_q
            )
            match = f"SELECT tk.doc_id FROM tk WHERE {conds}"
        else:
            match = (
                "SELECT DISTINCT tdt.doc_id FROM tdt "
                f"WHERE tdt.term IN (SELECT term FROM (VALUES {terms_vals}) v(term))"
            )
        branches.append(f"""
  SELECT {qid} AS query_id, m.doc_id,
         round(sum(
           ln(1 + (cs.n_docs - ts.df + 0.5) / (ts.df + 0.5))
           * (tdt.tf * ({K1} + 1)) / (tdt.tf + {K1} * (1 - {B} + {B} * dl.dl / cs.avgdl))
         ), {SCORE_DECIMALS}) AS score
  FROM ({match}) m
  JOIN tdt ON tdt.doc_id = m.doc_id
       AND tdt.term IN (SELECT term FROM (VALUES {terms_vals}) v(term))
  JOIN ts ON ts.term = tdt.term
  JOIN dl ON dl.doc_id = m.doc_id
  CROSS JOIN cs
  GROUP BY m.doc_id""")
    return f"""
WITH tdt AS ({sql_term_doc_tf('documents')}),
tk AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '{TOKEN_SPLIT_RE}'), x -> x <> '') AS t
  FROM documents
),
dl AS (SELECT doc_id, len(t) AS dl FROM tk),
cs AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl)::DOUBLE AS avgdl FROM dl),
ts AS (SELECT term, count(*)::DOUBLE AS df FROM tdt GROUP BY term),
scored AS ({' UNION ALL '.join(branches)})
SELECT query_id, doc_id, score FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rn
  FROM scored
) WHERE rn <= {k}
"""


# ---------------------------------------------------------------------------
# mixed queries with FINAL-WORD-PREFIX semantics — Meilisearch treats the
# last word of the query string as a prefix (the user is still typing)
# unless the query ends inside/at a quote; prefix expansions score as
# ordinary disjuncts alongside the other free terms.
# ---------------------------------------------------------------------------

def parse_mixed_query_prefix(
    q: str,
) -> tuple[list[list[str]], list[str], str | None]:
    """(phrases, free_terms, last_prefix): like parse_mixed_query, but when
    the query string does NOT end with a closing quote, its final free term
    is split out as a PREFIX to expand against the term dictionary
    (Meilisearch's last-word-is-a-prefix rule; a trailing quoted phrase
    disables it, as typing is 'complete' at a quote)."""
    phrases, free = parse_mixed_query(q)
    qs = q.rstrip()
    if qs and not qs.endswith('"') and free:
        return phrases, free[:-1], free[-1]
    return phrases, free, None


def _prefix_term_dfs(
    spark: SparkSession,
    index,
    prefixes: set[str],
    max_expansions: int | None = None,
) -> dict[str, dict[str, int]]:
    """prefix -> {term: df} via ONE pruned term_dict range scan (each prefix
    p becomes the key range [p, successor(p)) — the PrefixIter shape, so a
    range-partitioned dictionary prunes partitions). The collect is bounded
    by the expansion count (capped per prefix by max_expansions, top-df
    first, like Meilisearch's precomputed prefix databases)."""
    if not prefixes:
        return {}
    rows = (
        index.term_dict(spark)
        .filter(prefix_ranges(prefixes))
        .select("term", "df")
        .collect()
    )
    out: dict[str, dict[str, int]] = {p: {} for p in prefixes}
    for r in rows:
        for p in prefixes:
            if r["term"].startswith(p):
                out[p][r["term"]] = int(r["df"])
    if max_expansions is not None:
        for p, dfs in out.items():
            keep = sorted(dfs.items(), key=lambda kv: (-kv[1], kv[0]))[:max_expansions]
            out[p] = dict(keep)
    return out


def search_topk_mixed_prefix(
    spark: SparkSession,
    index,
    queries: list[tuple[int, str]],
    k: int = 10,
    max_expansions: int | None = None,
    max_edits: int = 0,
) -> DataFrame:
    """search_topk_mixed + Meilisearch's final-word-prefix rule: the last
    free term of each query expands against the term dictionary and the
    expansions rank as disjuncts; quoted phrases remain hard constraints.
    Same single-exchange positional plan as search_topk_mixed — the prefix
    only widens the In(term, ...) pruned scan by the expansion set.

    max_edits > 0 additionally applies TYPO TOLERANCE to the non-final free
    terms (Meilisearch applies typos inside mixed queries but disables them
    inside quoted phrases and serves the still-being-typed final word by
    prefix alone — both mirrored here): each such term expands via
    expand_fuzzy_queries, expansions scoring as disjuncts."""
    parsed0 = {qid: parse_mixed_query_prefix(q) for qid, q in queries}
    parsed0 = {
        qid: pfl for qid, pfl in parsed0.items() if pfl[0] or pfl[1] or pfl[2]
    }
    if not parsed0:
        return _empty_result(spark, _OUT_SCHEMA)
    expansions = _prefix_term_dfs(
        spark, index, {p for _, _, p in parsed0.values() if p}, max_expansions
    )
    fuzzy_exp: dict[int, list[str]] = {}
    if max_edits > 0:
        from grenad_spark.query.search import expand_fuzzy_queries

        fq = [
            (qid, " ".join(free_q))
            for qid, (_, free_q, _) in parsed0.items()
            if free_q
        ]
        if fq:
            for qid, term in expand_fuzzy_queries(spark, index, fq, max_edits):
                fuzzy_exp.setdefault(qid, []).append(term)
    parsed: dict[int, tuple[list[list[str]], list[str]]] = {}
    for qid, (phrases_q, free_q, prefix) in parsed0.items():
        exp = sorted(expansions.get(prefix, {})) if prefix else []
        all_free = list(dict.fromkeys(free_q + sorted(fuzzy_exp.get(qid, [])) + exp))
        parsed[qid] = (phrases_q, all_free)
    pairs = _mixed_pairs(spark, index, parsed)
    if not pairs:
        return _empty_result(spark, _OUT_SCHEMA)
    return _serve_kernel(
        spark, index, pairs,
        _make_mixed_kernel(parsed, float(index.avgdl), index.payload_codec), _OUT_SCHEMA, k,
        table="positions",
    )


def sql_mixed_prefix_topk(queries: list[tuple[int, str]], k: int = 10) -> str:
    """DuckDB oracle for search_topk_mixed_prefix: per query, the term set
    is the exact free/phrase terms UNION every vocabulary term with the
    final-word prefix (LIKE 'p%'); phrases constrain via the space-join
    LIKE; BM25 over all matching terms present."""
    from grenad_spark.query.bm25 import B, K1, SCORE_DECIMALS
    from grenad_spark.functions.tokenize import sql_term_doc_tf

    branches = []
    for qid, q in queries:
        phrases_q, free_q, prefix = parse_mixed_query_prefix(q)
        exact_terms = sorted({t for toks in phrases_q for t in toks} | set(free_q))
        if not exact_terms and not prefix:
            continue
        parts = []
        if exact_terms:
            vals = ", ".join(f"('{t}')" for t in exact_terms)
            parts.append(f"SELECT term FROM (VALUES {vals}) v(term)")
        if prefix:
            parts.append(f"SELECT term FROM vocab WHERE term LIKE '{prefix}%'")
        term_set = " UNION ".join(parts)
        if phrases_q:
            conds = " AND ".join(
                "' ' || array_to_string(tk.t, ' ') || ' ' LIKE '% "
                + " ".join(toks) + " %'"
                for toks in phrases_q
            )
            match = f"SELECT tk.doc_id FROM tk WHERE {conds}"
        else:
            match = (
                f"SELECT DISTINCT tdt.doc_id FROM tdt WHERE tdt.term IN ({term_set})"
            )
        branches.append(f"""
  SELECT {qid} AS query_id, m.doc_id,
         round(sum(
           ln(1 + (cs.n_docs - ts.df + 0.5) / (ts.df + 0.5))
           * (tdt.tf * ({K1} + 1)) / (tdt.tf + {K1} * (1 - {B} + {B} * dl.dl / cs.avgdl))
         ), {SCORE_DECIMALS}) AS score
  FROM ({match}) m
  JOIN tdt ON tdt.doc_id = m.doc_id AND tdt.term IN ({term_set})
  JOIN ts ON ts.term = tdt.term
  JOIN dl ON dl.doc_id = m.doc_id
  CROSS JOIN cs
  GROUP BY m.doc_id""")
    return f"""
WITH tdt AS ({sql_term_doc_tf('documents')}),
tk AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '{TOKEN_SPLIT_RE}'), x -> x <> '') AS t
  FROM documents
),
dl AS (SELECT doc_id, len(t) AS dl FROM tk),
cs AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl)::DOUBLE AS avgdl FROM dl),
ts AS (SELECT term, count(*)::DOUBLE AS df FROM tdt GROUP BY term),
vocab AS (SELECT DISTINCT term FROM tdt),
scored AS ({' UNION ALL '.join(branches)})
SELECT query_id, doc_id, score FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rn
  FROM scored
) WHERE rn <= {k}
"""


def sql_mixed_fuzzy_topk(
    queries: list[tuple[int, str]], k: int = 10, max_edits: int = 1
) -> str:
    """DuckDB oracle for search_topk_mixed_prefix(max_edits>0): per query,
    the scoring term set = phrase terms (literal — typos disabled inside
    quotes) UNION levenshtein-<=max_edits expansions of the non-final free
    terms UNION the final-word prefix LIKE expansion."""
    from grenad_spark.query.bm25 import B, K1, SCORE_DECIMALS
    from grenad_spark.functions.tokenize import sql_term_doc_tf

    branches = []
    for qid, q in queries:
        phrases_q, free_q, prefix = parse_mixed_query_prefix(q)
        phrase_terms = sorted({t for toks in phrases_q for t in toks})
        if not phrase_terms and not free_q and not prefix:
            continue
        parts = []
        if phrase_terms:
            vals = ", ".join(f"('{t}')" for t in phrase_terms)
            parts.append(f"SELECT term FROM (VALUES {vals}) v(term)")
        if free_q:
            fvals = ", ".join(f"('{t}')" for t in sorted(set(free_q)))
            parts.append(
                f"SELECT v.term FROM vocab v JOIN (VALUES {fvals}) f(q) "
                f"ON abs(length(v.term) - length(f.q)) <= {max_edits} "
                f"AND levenshtein(v.term, f.q) <= {max_edits}"
            )
        if prefix:
            parts.append(f"SELECT term FROM vocab WHERE term LIKE '{prefix}%'")
        term_set = " UNION ".join(parts)
        if phrases_q:
            conds = " AND ".join(
                "' ' || array_to_string(tk.t, ' ') || ' ' LIKE '% "
                + " ".join(toks) + " %'"
                for toks in phrases_q
            )
            match = f"SELECT tk.doc_id FROM tk WHERE {conds}"
        else:
            match = (
                f"SELECT DISTINCT tdt.doc_id FROM tdt WHERE tdt.term IN ({term_set})"
            )
        branches.append(f"""
  SELECT {qid} AS query_id, m.doc_id,
         round(sum(
           ln(1 + (cs.n_docs - ts.df + 0.5) / (ts.df + 0.5))
           * (tdt.tf * ({K1} + 1)) / (tdt.tf + {K1} * (1 - {B} + {B} * dl.dl / cs.avgdl))
         ), {SCORE_DECIMALS}) AS score
  FROM ({match}) m
  JOIN tdt ON tdt.doc_id = m.doc_id AND tdt.term IN ({term_set})
  JOIN ts ON ts.term = tdt.term
  JOIN dl ON dl.doc_id = m.doc_id
  CROSS JOIN cs
  GROUP BY m.doc_id""")
    return f"""
WITH tdt AS ({sql_term_doc_tf('documents')}),
tk AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '{TOKEN_SPLIT_RE}'), x -> x <> '') AS t
  FROM documents
),
dl AS (SELECT doc_id, len(t) AS dl FROM tk),
cs AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl)::DOUBLE AS avgdl FROM dl),
ts AS (SELECT term, count(*)::DOUBLE AS df FROM tdt GROUP BY term),
vocab AS (SELECT DISTINCT term FROM tdt),
scored AS ({' UNION ALL '.join(branches)})
SELECT query_id, doc_id, score FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rn
  FROM scored
) WHERE rn <= {k}
"""


# ---------------------------------------------------------------------------
# shared-decode phrase batch — each distinct position block ships ONCE per
# batch regardless of how many phrase queries reference its term (the
# production batch-serving shape, mirroring search_topk_shared)
# ---------------------------------------------------------------------------

def _make_phrase_shared_kernel(
    phrases: dict[int, list[str]], idfs: dict[str, float], avgdl: float, codec: str
):
    """Kernel over one partition of position blocks for the UNION of all
    phrase terms (no query column anywhere before the exchange — queries
    and idfs ride in via this closure). The partition may hold several
    shards: doc ranges are disjoint across shards, so sorting a term's
    blocks by first_doc yields a globally doc-sorted stream across the
    whole partition — one decode and one intersection chain per
    term/query, no per-shard split."""

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        decoded, _ = decode_positions(pdf, codec)
        outs = []
        for qid, toks in phrases.items():
            matched = phrase_docs(decoded, list(enumerate(toks)))
            if matched.size:
                terms = list(dict.fromkeys(toks))
                scores = matched_bm25(decoded, idfs, terms, matched, avgdl)
                outs.append(
                    pd.DataFrame({"query_id": qid, "doc_id": matched, "score": scores})
                )
        if not outs:
            return empty_frame(_OUT_SCHEMA)
        return pd.concat(outs, ignore_index=True)

    return fn


def search_topk_phrase_shared(
    spark: SparkSession,
    index,
    queries: list[tuple[int, str]],
    k: int = 10,
) -> DataFrame:
    """Decode-once-score-many phrase batch: the positions scan carries NO
    query join — each distinct block of the batch's term union crosses the
    exchange exactly once (shuffle ∝ index slice, not queries × slice), and
    every phrase query is evaluated inside the kernel against the decoded
    shard; idf comes from IndexHandle.term_dfs at any vocabulary size. A
    batch whose posting volume fits one kernel group (search._serve_local)
    reads its position blocks with pyarrow and runs the same kernel on the
    driver: no Spark job."""
    phrases = {
        q: t for q, t in _tokenize_phrases(queries).items() if t
    }
    if not phrases:
        return _empty_result(spark, _OUT_SCHEMA)
    dfs = index.term_dfs(spark, {t for toks in phrases.values() for t in toks})
    n_docs = float(index.n_docs)
    avgdl = float(index.avgdl)
    codec = index.payload_codec
    phrases = {
        qid: toks
        for qid, toks in phrases.items()
        if all(t in dfs for t in toks)  # OOV phrase term: can never match
    }
    if not phrases:
        return _empty_result(spark, _OUT_SCHEMA)
    terms = sorted({t for toks in phrases.values() for t in toks})
    idfs = {t: _driver_idf(n_docs, dfs[t]) for t in terms}
    kernel = _make_phrase_shared_kernel(phrases, idfs, avgdl, codec)
    pairs = [(q, t) for q, toks in phrases.items() for t in set(toks)]
    # work-sized groups of consecutive doc-disjoint shards, like the shared
    # posting path; the kernel sorts each term's blocks by first_doc, so
    # any union of them (a whole partition) is exact
    return _serve_kernel(
        spark, index, pairs, kernel, _OUT_SCHEMA, k, table="positions",
        columns=["term", "n", "first_doc", "header", "positions"], groups="terms",
    )
