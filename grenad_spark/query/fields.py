"""Field-scoped serving: attributesToSearchOn + the exactness whole-field
tier (the `field_id_word_count_docids` analog).

Meilisearch exposes two field-level query features beyond attribute RANKING:

* `attributesToSearchOn` — restrict MATCHING to a subset of searchable
  attributes. A document matches only through occurrences in the allowed
  fields; everything else about the index is untouched.
* the exactness rule's top tier, ExactAttribute — a document whose whole
  attribute IS the query ranks above all other matches. Meilisearch decides
  "whole attribute" with its `field_id_word_count_docids` grenad database
  (fid, word_count) -> docids: the query must start at in-field position 0
  AND the field's word count must equal the query length.

Both are served here over the SAME field-aware positions table that powers
the attribute rule (index/positions.py: fid packed in the high FIELD_BITS of
each position), plus one new slim build artifact:

  field_word_counts/   parquet (doc_id, fid, wc) — the word-count DB
  transposed to doc-major (Spark joins by doc_id; the roaring-bitmap-per-
  (fid,wc) layout is a point-lookup shape, not a join shape).

Scoring choices (documented, oracle-matched):
* search_on: tf is restricted to allowed-field occurrences; df / dl / avgdl
  stay INDEX-GLOBAL. Meilisearch's ranking rules are frequency-free, so it
  has no per-attribute collection statistics either — restricting matching
  but not normalization is the faithful translation.
* exact_field: candidates are ordinary disjunctive BM25 matches; the tier
  key `exact` (1 iff query == whole field) sorts first, then score, doc_id.

Plan shape = the house single-exchange kernel: pruned In(term) positions
scan, broadcast (query_id, term, idf), ONE hash exchange into a per-
(query_id, shard) Arrow kernel, global top-k window. The word-count join
touches only matched docs (posting-sized left side); at cluster scale it
co-partitions on doc_id with the index's shard hash.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from grenad_spark.functions.tokenize import TOKEN_SPLIT_RE, sql_term_doc_tf, tokens_col
from grenad_spark.index.positions import FIELD_BITS, POS_BITS
from grenad_spark.query.bm25 import B, K1, SCORE_DECIMALS, sql_queries_values
from grenad_spark.query.kernels import (
    bm25,
    conjunctive_docs,
    decode_positions,
    disjunctive_bm25,
    doc_sums,
    empty_frame,
    matched_bm25,
    member_mask,
)
from grenad_spark.query.ranked import _require_fielded
from grenad_spark.query.search import (
    _BM25_ORDER,
    _PROXIMITY_ORDER,
    _TYPO_COLS,
    _TYPO_ORDER,
    _empty_result,
    _n_queries,
    _rank_topk,
    _scoring_pairs,
    _serve_kernel,
    _tokenize_queries,
)

SEARCH_ON_QUERIES: list[tuple[int, str]] = [
    (1, "merge sort"),
    (2, "the spark"),
    (3, "data stream"),
    (4, "key value row"),
]

# exactness tier: queries 1-2 are literal whole-title strings of one doc in
# the sf0.001 / sf0.01 corpora; query 3 repeats a term (slot order matters);
# query 4 never matches a whole 5-token title (n=2 < TITLE_TOKENS)
EXACT_FIELD_QUERIES: list[tuple[int, str]] = [
    (1, "the fast key order sort"),
    (2, "key agg row scan slow"),
    (3, "window merge spark merge batch"),
    (4, "merge sort"),
]

_SEARCH_ON_SCHEMA = "query_id int, doc_id long, score double"
_EXACT_SCHEMA = "query_id int, doc_id long, chain int, score double"
# rank orders of the exactness tiers, (column, ascending) pairs
_EXACT_ORDER = [("exact", False), *_BM25_ORDER]
_TIER_ORDER = [("tier", False), *_BM25_ORDER]


def _allowed_fids(index, fields: list[str]) -> list[int]:
    have = _require_fielded(index)
    missing = [f for f in fields if f not in have]
    if missing:
        raise ValueError(f"unknown searchable attributes {missing}; index has {have}")
    return [have.index(f) for f in fields]


# ---------------------------------------------------------------------------
# attributesToSearchOn
# ---------------------------------------------------------------------------

def _make_search_on_kernel(allowed: list[int], avgdl: float, codec: str):
    allowed_arr = np.asarray(sorted(allowed), dtype=np.int64)

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        qid = int(pdf["query_id"].iloc[0])
        decoded, idfs = decode_positions(pdf, codec)
        docs_parts, score_parts = [], []
        for term, (d, tf, dl, pos, occ) in decoded.items():
            if d.size == 0:
                continue
            mask = np.isin(pos >> np.int64(FIELD_BITS), allowed_arr)
            # per-doc count of allowed-field occurrences (restricted tf)
            cnt = np.add.reduceat(mask.astype(np.int64), occ)
            sel = cnt > 0
            if not sel.any():
                continue
            docs_parts.append(d[sel])
            score_parts.append(bm25(idfs[term], cnt[sel], dl[sel], avgdl))
        if not docs_parts:
            return empty_frame(_SEARCH_ON_SCHEMA)
        docs, scores, _ = doc_sums(np.concatenate(docs_parts), np.concatenate(score_parts))
        return pd.DataFrame({"query_id": qid, "doc_id": docs, "score": scores})

    return fn


def search_topk_search_on(
    spark: SparkSession,
    index,
    queries: list[tuple[int, str]],
    fields: list[str],
    k: int = 10,
) -> DataFrame:
    """BM25 top-k with matching restricted to `fields`
    (attributesToSearchOn): a doc matches a query term only through
    occurrences whose fid is in the allowed set; tf counts those occurrences
    only, while df/dl/avgdl remain index-global (see module docstring)."""
    allowed = _allowed_fids(index, fields)
    pairs = _scoring_pairs(spark, index, _tokenize_queries(queries))
    if not pairs:
        return _empty_result(spark, _SEARCH_ON_SCHEMA)
    return _serve_kernel(
        spark, index, pairs,
        _make_search_on_kernel(allowed, float(index.avgdl), index.payload_codec),
        _SEARCH_ON_SCHEMA, k, table="positions",
    )


def sql_search_on_topk(
    queries: list[tuple[int, str]] | None = None,
    fields: tuple[str, ...] = ("title",),
    k: int = 10,
    title_tokens: int = 5,
) -> str:
    """DuckDB oracle over the deterministic title/body split (title = first
    `title_tokens` tokens): restricted tf from the field slice, global
    df/dl/avgdl from the full text."""
    queries = queries if queries is not None else SEARCH_ON_QUERIES
    preds = []
    for f in fields:
        if f == "title":
            preds.append(f"gs <= {title_tokens}")
        elif f == "body":
            preds.append(f"gs > {title_tokens}")
        else:
            raise ValueError(f"oracle knows title/body only, got {f}")
    pred = " OR ".join(preds)
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
tff AS (
  SELECT doc_id, term, count(*)::INT AS tf
  FROM (SELECT doc_id, unnest(t) AS term, generate_subscripts(t, 1) AS gs FROM tk)
  WHERE ({pred}) AND term <> ''
  GROUP BY 1, 2
),
qt AS (
  SELECT DISTINCT query_id, term FROM (
    SELECT query_id, unnest(regexp_split_to_array(lower(query), '{TOKEN_SPLIT_RE}')) AS term
    FROM {sql_queries_values(queries)}
  ) WHERE term <> ''
),
scored AS (
  SELECT qt.query_id, tff.doc_id,
         round(sum(
           ln(1 + (cs.n_docs - ts.df + 0.5) / (ts.df + 0.5))
           * (tff.tf * ({K1} + 1)) / (tff.tf + {K1} * (1 - {B} + {B} * dl.dl / cs.avgdl))
         ), {SCORE_DECIMALS}) AS score
  FROM tff
  JOIN qt ON tff.term = qt.term
  JOIN ts ON tff.term = ts.term
  JOIN dl ON tff.doc_id = dl.doc_id
  CROSS JOIN cs
  GROUP BY qt.query_id, tff.doc_id
)
SELECT query_id, doc_id, score FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rn
  FROM scored
) WHERE rn <= {k}
"""


# ---------------------------------------------------------------------------
# field word counts (field_id_word_count_docids analog) + exactness tier
# ---------------------------------------------------------------------------

def field_word_counts_path(index_dir: str) -> str:
    return os.path.join(index_dir, "field_word_counts")


def build_field_word_counts(
    spark: SparkSession, fielded: DataFrame, index_dir: str, fields: list[str]
) -> None:
    """Write the (doc_id, fid, wc) table beside the index — Meilisearch's
    `field_id_word_count_docids` re-expressed doc-major (reference stores
    (fid, word_count) -> roaring bitmap in a grenad file; a join engine wants
    it keyed by doc_id). One narrow projection, no shuffle beyond the write.
    Resume: _SUCCESS short-circuits (the positions-build discipline)."""
    out = field_word_counts_path(index_dir)
    if os.path.exists(os.path.join(out, "_SUCCESS")):
        return
    wc = fielded.select(
        "doc_id",
        F.array(*[F.size(tokens_col(f)) for f in fields]).alias("_wcs"),
    ).select("doc_id", F.posexplode("_wcs").alias("fid", "wc"))
    wc.write.mode("overwrite").parquet(out)


def _make_exact_kernel(
    qterms: dict[int, list[str]], fid: int, avgdl: float, codec: str
):
    base = np.int64(fid) << np.int64(FIELD_BITS)

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        qid = int(pdf["query_id"].iloc[0])
        toks = qterms[qid]
        decoded, idfs = decode_positions(pdf, codec)
        # disjunctive BM25 over distinct matched terms
        docs, scores, _ = disjunctive_bm25(decoded, idfs, avgdl)
        agg = pd.DataFrame({"doc_id": docs, "score": scores})
        # chain: token i of the query occurs at in-field position i of `fid`
        # (packed occurrence keys are globally sorted: docs ascend, positions
        # ascend per doc — the phrase-kernel discipline)
        chain = np.ones(docs.size, dtype=bool) if all(t in decoded for t in toks) else None
        if chain is not None:
            for i, t in enumerate(toks):
                d, tf, dl, pos, occ = decoded[t]
                packed = (np.repeat(d, tf) << np.int64(POS_BITS)) | pos
                want = (docs << np.int64(POS_BITS)) | (base + np.int64(i))
                sel = np.searchsorted(packed, want)
                np.clip(sel, 0, max(packed.size - 1, 0), out=sel)
                chain &= packed.size > 0
                if packed.size:
                    chain &= packed[sel] == want
                if not chain.any():
                    chain = None
                    break
        agg.insert(0, "query_id", qid)
        agg["chain"] = (
            chain.astype(np.int32) if chain is not None else np.int32(0)
        )
        return agg[["query_id", "doc_id", "chain", "score"]]

    return fn


def _exact_matches(spark: SparkSession, index, queries: list[tuple[int, str]], field: str):
    """(rows, pairs) of the exactness tiers over `field`, or None when no
    query term is in the vocabulary: rows are the exact kernel's disjunctive
    matches (query_id, doc_id, chain, score) with the field's word count
    `wc` and the query's token count `n_terms` joined on."""
    import re

    fid = _allowed_fids(index, [field])[0]
    # ORDERED tokens WITH duplicates: chain position i is the i-th query
    # token, and the word-count tier compares against the full token count
    # (_tokenize_queries dedups — right for BM25 slots, wrong here)
    qterms: dict[int, list[str]] = {
        qid: [t for t in re.split(TOKEN_SPLIT_RE, q.lower()) if t]
        for qid, q in queries
    }
    qterms = {qid: ts for qid, ts in qterms.items() if ts}
    pairs = _scoring_pairs(spark, index, _tokenize_queries(queries))
    if not pairs:
        return None
    per_shard = _serve_kernel(
        spark, index, pairs,
        _make_exact_kernel(qterms, fid, float(index.avgdl), index.payload_codec),
        _EXACT_SCHEMA, table="positions",
    )
    wc = (
        spark.read.parquet(field_word_counts_path(index.path))
        .filter(F.col("fid") == int(fid))
        .select("doc_id", "wc")
    )
    qn = spark.createDataFrame(
        [(qid, len(ts)) for qid, ts in qterms.items()], "query_id int, n_terms int"
    )
    return per_shard.join(wc, "doc_id", "left").join(F.broadcast(qn), "query_id"), pairs


def search_topk_exact_field(
    spark: SparkSession,
    index,
    queries: list[tuple[int, str]],
    field: str = "title",
    k: int = 10,
) -> DataFrame:
    """Exactness whole-field tier: disjunctive BM25 matches ranked by
    (exact DESC, score DESC, doc_id ASC), where exact = 1 iff the query is
    the ENTIRE `field` of the doc — query tokens occupy in-field positions
    0..n-1 (positions kernel) AND the field's word count equals n (the
    field_word_counts table). Output (query_id, doc_id, exact, score)."""
    got = _exact_matches(spark, index, queries, field)
    if got is None:
        return _empty_result(spark, "query_id int, doc_id long, exact int, score double")
    rows, pairs = got
    exact = rows.withColumn(
        "exact",
        F.coalesce(
            ((F.col("chain") == 1) & (F.col("wc") == F.col("n_terms"))).cast("int"),
            F.lit(0),
        ),
    )
    return _rank_topk(
        exact, _n_queries(pairs), int(k), _EXACT_ORDER,
        ["query_id", "doc_id", "exact", "score"],
    )


def sql_exact_field_topk(
    queries: list[tuple[int, str]] | None = None,
    k: int = 10,
    title_tokens: int = 5,
) -> str:
    """DuckDB oracle: exact = 1 iff the space-joined first-`title_tokens`
    token slice equals the normalized query string (token arrays over
    [a-z0-9]+ make string equality exactly token-list equality)."""
    import re

    queries = queries if queries is not None else EXACT_FIELD_QUERIES
    norm = [
        (qid, " ".join(t for t in re.split(TOKEN_SPLIT_RE, q.lower()) if t))
        for qid, q in queries
    ]
    rows = ", ".join(f"({qid}, '{p}')" for qid, p in norm if p)
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
q AS (SELECT * FROM (VALUES {rows}) AS v(query_id, qnorm)),
qt AS (SELECT DISTINCT query_id, unnest(string_split(qnorm, ' ')) AS term FROM q),
ex AS (
  SELECT q.query_id, tk.doc_id,
         CASE WHEN array_to_string(list_slice(tk.t, 1, {title_tokens}), ' ') = q.qnorm
              THEN 1 ELSE 0 END AS exact
  FROM tk CROSS JOIN q
),
scored AS (
  SELECT qt.query_id, tdt.doc_id,
         round(sum(
           ln(1 + (cs.n_docs - ts.df + 0.5) / (ts.df + 0.5))
           * (tdt.tf * ({K1} + 1)) / (tdt.tf + {K1} * (1 - {B} + {B} * dl.dl / cs.avgdl))
         ), {SCORE_DECIMALS}) AS score
  FROM tdt
  JOIN qt ON tdt.term = qt.term
  JOIN ts ON tdt.term = ts.term
  JOIN dl ON tdt.doc_id = dl.doc_id
  CROSS JOIN cs
  GROUP BY qt.query_id, tdt.doc_id
)
SELECT query_id, doc_id, exact, score FROM (
  SELECT s.query_id, s.doc_id, e.exact, s.score,
         row_number() OVER (PARTITION BY s.query_id
           ORDER BY e.exact DESC, s.score DESC, s.doc_id ASC) AS rn
  FROM scored s JOIN ex e ON e.query_id = s.query_id AND e.doc_id = s.doc_id
) WHERE rn <= {k}
"""


# ---------------------------------------------------------------------------
# full exactness tier ladder: ExactAttribute > MatchesStart > other matches
# ---------------------------------------------------------------------------

# tier-1 probes are PREFIXES of corpus titles (first 3 tokens of doc 0 at
# sf0.001 / sf0.01), tier-2 probe is a whole title, the last never starts one
EXACT_TIERS_QUERIES: list[tuple[int, str]] = [
    (1, "the fast key"),
    (2, "key agg row"),
    (3, "window merge spark merge batch"),
    (4, "merge sort"),
]


def search_topk_exact_tiers(
    spark: SparkSession,
    index,
    queries: list[tuple[int, str]],
    field: str = "title",
    k: int = 10,
) -> DataFrame:
    """Meilisearch's exactness rule tier ladder over one attribute:
    tier 2 = ExactAttribute (query IS the whole field: position chain AND
    word count), tier 1 = MatchesStart (query tokens occupy in-field
    positions 0..n-1 — the chain alone), tier 0 = any other match. Ranked
    (tier DESC, BM25 DESC, doc_id ASC); output (query_id, doc_id, tier,
    score). Same kernel and word-count DB as search_topk_exact_field."""
    got = _exact_matches(spark, index, queries, field)
    if got is None:
        return _empty_result(spark, "query_id int, doc_id long, tier int, score double")
    rows, pairs = got
    tiers = rows.withColumn(
        "tier",
        F.coalesce(
            F.col("chain") * (F.lit(1) + (F.col("wc") == F.col("n_terms")).cast("int")),
            F.col("chain"),
            F.lit(0),
        ),
    )
    return _rank_topk(
        tiers, _n_queries(pairs), int(k), _TIER_ORDER,
        ["query_id", "doc_id", "tier", "score"],
    )


def sql_exact_tiers_topk(
    queries: list[tuple[int, str]] | None = None,
    k: int = 10,
    title_tokens: int = 5,
) -> str:
    """DuckDB oracle: tier 2 ⟺ title slice == query AND title word count ==
    n; tier 1 ⟺ the first n title tokens == query tokens; else 0."""
    import re

    queries = queries if queries is not None else EXACT_TIERS_QUERIES
    norm = [
        (qid, " ".join(t for t in re.split(TOKEN_SPLIT_RE, q.lower()) if t))
        for qid, q in queries
    ]
    rows = ", ".join(
        f"({qid}, '{p}', {len(p.split())})" for qid, p in norm if p
    )
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
q AS (SELECT * FROM (VALUES {rows}) AS v(query_id, qnorm, n)),
qt AS (SELECT DISTINCT query_id, unnest(string_split(qnorm, ' ')) AS term FROM q),
ex AS (
  SELECT q.query_id, tk.doc_id,
         CASE
           WHEN q.n <= {title_tokens}
                AND array_to_string(list_slice(tk.t, 1, q.n), ' ') = q.qnorm
           THEN CASE WHEN len(list_slice(tk.t, 1, {title_tokens})) = q.n
                     THEN 2 ELSE 1 END
           ELSE 0
         END AS tier
  FROM tk CROSS JOIN q
),
scored AS (
  SELECT qt.query_id, tdt.doc_id,
         round(sum(
           ln(1 + (cs.n_docs - ts.df + 0.5) / (ts.df + 0.5))
           * (tdt.tf * ({K1} + 1)) / (tdt.tf + {K1} * (1 - {B} + {B} * dl.dl / cs.avgdl))
         ), {SCORE_DECIMALS}) AS score
  FROM tdt
  JOIN qt ON tdt.term = qt.term
  JOIN ts ON tdt.term = ts.term
  JOIN dl ON tdt.doc_id = dl.doc_id
  CROSS JOIN cs
  GROUP BY qt.query_id, tdt.doc_id
)
SELECT query_id, doc_id, tier, score FROM (
  SELECT s.query_id, s.doc_id, e.tier, s.score,
         row_number() OVER (PARTITION BY s.query_id
           ORDER BY e.tier DESC, s.score DESC, s.doc_id ASC) AS rn
  FROM scored s JOIN ex e ON e.query_id = s.query_id AND e.doc_id = s.doc_id
) WHERE rn <= {k}
"""


# ---------------------------------------------------------------------------
# proximityPrecision = byAttribute (Meilisearch v1.6 index setting):
# proximity is tracked at ATTRIBUTE granularity — an adjacent query-word
# pair costs 1 when both words occur in the SAME field of the doc, else
# the absent cost 8 (milli's ByAttribute precision writes proximity-1
# pairs for same-attribute co-occurrence instead of word distances; the
# trade is cheaper indexing/serving for coarser ranking).
# ---------------------------------------------------------------------------

_PROX_ATTR_SCHEMA = "query_id int, doc_id long, proximity long, score double"
_PROX_ABSENT = 8


def _make_prox_attr_kernel(qtoks: dict[int, list[str]], avgdl: float, codec: str):
    from grenad_spark.index.positions import MAX_FIELDS

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        qid = int(pdf["query_id"].iloc[0])
        toks = qtoks[qid]
        uniq = sorted(set(toks))
        decoded, idfs = decode_positions(pdf, codec)
        matched = conjunctive_docs(decoded, uniq)
        if matched.size == 0:
            return empty_frame(_PROX_ATTR_SCHEMA)
        # per term: unique (doc, fid) keys, and the >=2-occurrences subset
        # (a same-term pair needs two occurrences in one field)
        keys: dict[str, np.ndarray] = {}
        keys2: dict[str, np.ndarray] = {}
        for t in uniq:
            d, tf, _dl, pos, _occ = decoded[t]
            kd = np.repeat(d, tf) * np.int64(MAX_FIELDS) + (
                pos >> np.int64(FIELD_BITS)
            )
            uk, cnt = np.unique(kd, return_counts=True)
            keys[t] = uk
            keys2[t] = uk[cnt >= 2]
        prox = np.zeros(matched.size, dtype=np.int64)
        for i in range(len(toks) - 1):
            a, b = toks[i], toks[i + 1]
            if a == b:
                shared = keys2[a]
            else:
                shared = np.intersect1d(keys[a], keys[b], assume_unique=True)
            docs_ok = np.unique(shared // np.int64(MAX_FIELDS))
            hit, _ = member_mask(docs_ok, matched)
            prox += np.where(hit, 1, _PROX_ABSENT)
        scores = matched_bm25(decoded, idfs, uniq, matched, avgdl)
        return pd.DataFrame(
            {"query_id": qid, "doc_id": matched, "proximity": prox, "score": scores}
        )

    return fn


def search_topk_proximity_attr(
    spark: SparkSession,
    index,
    queries: list[tuple[int, str]],
    k: int = 10,
) -> DataFrame:
    """proximityPrecision=byAttribute serving: conjunctive matches ranked
    (proximity ASC, BM25 DESC, doc ASC) where proximity sums, over adjacent
    query-word pairs in raw order (multiplicity preserved), cost 1 when the
    pair co-occurs in one field and 8 otherwise. Same plan shape as the
    byWord proximity rule — one pruned positions scan, one exchange into
    the kernel — but the kernel only compares (doc, fid) SETS, never
    position arrays: the cheaper precision Meilisearch trades down to."""
    import re

    _require_fielded(index)
    qtoks: dict[int, list[str]] = {}
    for qid, q in queries:
        toks = [t for t in re.split(TOKEN_SPLIT_RE, q.lower()) if t]
        if toks:
            qtoks[int(qid)] = toks
    pairs = [(qid, t) for qid, toks in sorted(qtoks.items()) for t in sorted(set(toks))]
    pairs = _scoring_pairs(spark, index, pairs, required=pairs)
    if not pairs:
        return _empty_result(spark, _PROX_ATTR_SCHEMA)
    return _serve_kernel(
        spark, index, pairs,
        _make_prox_attr_kernel(qtoks, float(index.avgdl), index.payload_codec),
        _PROX_ATTR_SCHEMA, k, _PROXIMITY_ORDER, ["query_id", "doc_id", "proximity", "score"],
        table="positions",
    )


def sql_proximity_attr_topk(
    queries: list[tuple[int, str]],
    k: int = 10,
    title_tokens: int = 5,
) -> str:
    """DuckDB oracle for search_topk_proximity_attr over the deterministic
    title/body split: per-field term presence (count >= 2 for same-term
    pairs) decides each slot's 1-or-8 cost; BM25 over distinct terms."""
    import re

    qt_rows, slot_rows = [], []
    for qid, q in queries:
        toks = [t for t in re.split(TOKEN_SPLIT_RE, q.lower()) if t]
        if not toks:
            continue
        qt_rows += [f"({qid}, '{t}')" for t in sorted(set(toks))]
        for i in range(len(toks) - 1):
            slot_rows.append(f"({qid}, {i}, '{toks[i]}', '{toks[i + 1]}')")
    if not qt_rows:
        return (
            "SELECT NULL::INT AS query_id, NULL::BIGINT AS doc_id, "
            "NULL::BIGINT AS proximity, NULL::DOUBLE AS score WHERE false"
        )
    slots_cte = (
        f"(VALUES {', '.join(slot_rows)}) AS s(query_id, slot, a, b)"
        if slot_rows
        else "(SELECT NULL::INT AS query_id, NULL::INT AS slot, "
             "NULL::VARCHAR AS a, NULL::VARCHAR AS b WHERE false) s"
    )
    return f"""
WITH tdt AS ({sql_term_doc_tf('documents')}),
toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '{TOKEN_SPLIT_RE}'), x -> x <> '') AS t
  FROM documents
),
dl AS (SELECT doc_id, len(t) AS dl FROM toks),
cs AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl)::DOUBLE AS avgdl FROM dl),
ts AS (SELECT term, count(*)::DOUBLE AS df FROM tdt GROUP BY term),
qt AS (SELECT DISTINCT * FROM (VALUES {', '.join(qt_rows)}) AS q(query_id, term)),
qn AS (SELECT query_id, count(*) AS n FROM qt GROUP BY query_id),
tokf AS (
  SELECT doc_id, 0 AS fid, unnest(list_slice(t, 1, {title_tokens})) AS term FROM toks
  UNION ALL
  SELECT doc_id, 1 AS fid, unnest(list_slice(t, {title_tokens} + 1, len(t))) AS term FROM toks
),
tcnt AS (SELECT doc_id, fid, term, count(*)::INT AS occ FROM tokf GROUP BY doc_id, fid, term),
cand AS (
  SELECT qt.query_id, tdt.doc_id
  FROM tdt JOIN qt ON tdt.term = qt.term
  GROUP BY qt.query_id, tdt.doc_id
  HAVING count(DISTINCT tdt.term) = any_value((SELECT n FROM qn WHERE qn.query_id = qt.query_id))
),
slots AS (SELECT * FROM {slots_cte}),
slotcost AS (
  SELECT s.query_id, s.slot, c.doc_id,
         CASE WHEN EXISTS (
           SELECT 1 FROM tcnt x JOIN tcnt y
             ON x.doc_id = y.doc_id AND x.fid = y.fid
           WHERE x.doc_id = c.doc_id AND x.term = s.a AND y.term = s.b
             AND (s.a <> s.b OR x.occ >= 2)
         ) THEN 1 ELSE {_PROX_ABSENT} END AS cost
  FROM slots s JOIN cand c ON c.query_id = s.query_id
),
prox AS (
  SELECT query_id, doc_id, coalesce(sum(cost), 0)::BIGINT AS proximity
  FROM slotcost GROUP BY query_id, doc_id
),
scored AS (
  SELECT c.query_id, c.doc_id,
         round(sum(
           ln(1 + (cs.n_docs - ts.df + 0.5) / (ts.df + 0.5))
           * (tdt.tf * ({K1} + 1)) / (tdt.tf + {K1} * (1 - {B} + {B} * dl.dl / cs.avgdl))
         ), {SCORE_DECIMALS}) AS score
  FROM cand c
  JOIN qt ON qt.query_id = c.query_id
  JOIN tdt ON tdt.term = qt.term AND tdt.doc_id = c.doc_id
  JOIN ts ON ts.term = qt.term
  JOIN dl ON dl.doc_id = c.doc_id
  CROSS JOIN cs
  GROUP BY c.query_id, c.doc_id
)
SELECT query_id, doc_id, proximity, score FROM (
  SELECT sc.query_id, sc.doc_id,
         coalesce(p.proximity, 0) AS proximity, sc.score,
         row_number() OVER (
           PARTITION BY sc.query_id
           ORDER BY coalesce(p.proximity, 0) ASC, sc.score DESC, sc.doc_id ASC
         ) AS rn
  FROM scored sc
  LEFT JOIN prox p ON p.query_id = sc.query_id AND p.doc_id = sc.doc_id
) WHERE rn <= {k}
"""


# ---------------------------------------------------------------------------
# typoTolerance.disableOnAttributes — typo-derived matches don't count
# inside the disabled attributes (Meilisearch: "disable typo tolerance on
# the specified attributes"); EXACT word matches count everywhere. The
# missing piece of the typoTolerance settings object beside
# minWordSizeForTypos + disableOnWords (search.TypoSettings).
# ---------------------------------------------------------------------------

_TYPO_ATTR_SCHEMA = (
    "query_id int, doc_id long, hit_terms int, typos long, score double"
)


def _make_typo_attr_kernel(
    qslots: dict[int, list[str]],
    slot_meta: dict[int, dict[str, list[tuple[int, int]]]],
    allowed: list[int],
    avgdl: float,
    codec: str,
):
    allowed_arr = np.asarray(sorted(allowed), dtype=np.int64)

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        qid = int(pdf["query_id"].iloc[0])
        meta = slot_meta.get(qid, {})
        decoded, idfs = decode_positions(pdf, codec)
        # per (term, doc): tf_full and tf restricted to allowed fids
        all_docs = np.unique(
            np.concatenate([d for d, *_ in decoded.values()])
        )
        n_slots = len(qslots[qid])
        INF = np.int64(1) << np.int64(40)
        slot_min = np.full((all_docs.size, n_slots), INF, dtype=np.int64)
        scores = np.zeros(all_docs.size, dtype=np.float64)
        for term, (d, tf, dl, pos, occ) in decoded.items():
            if term not in meta or d.size == 0:
                continue
            mask = np.isin(pos >> np.int64(FIELD_BITS), allowed_arr)
            tf_allowed = np.add.reduceat(mask.astype(np.int64), occ)
            sel = np.searchsorted(all_docs, d)
            exact_somewhere = any(dd == 0 for _s, dd in meta[term])
            tf_used = tf.astype(np.float64) if exact_somewhere else (
                tf_allowed.astype(np.float64)
            )
            pos_tf = tf_used > 0
            scores[sel[pos_tf]] += bm25(idfs[term], tf_used[pos_tf], dl[pos_tf], avgdl)
            for slot, dist in meta[term]:
                if dist == 0:
                    cover = np.ones(d.size, dtype=bool)
                else:
                    cover = tf_allowed > 0
                if not cover.any():
                    continue
                idx = sel[cover]
                slot_min[idx, slot] = np.minimum(
                    slot_min[idx, slot], np.int64(dist)
                )
        covered = slot_min < INF
        hit = covered.sum(axis=1).astype(np.int64)
        keep = hit > 0
        if not keep.any():
            return empty_frame(_TYPO_ATTR_SCHEMA)
        typos = np.where(covered, slot_min, 0).sum(axis=1)
        return pd.DataFrame(
            {
                "query_id": qid,
                "doc_id": all_docs[keep],
                "hit_terms": hit[keep].astype("int32"),
                "typos": typos[keep],
                "score": scores[keep],
            }
        )

    return fn


def search_topk_typo_disable_attrs(
    spark: SparkSession,
    index,
    queries: list[tuple[int, str]],
    settings=None,
    disable_on: tuple[str, ...] = ("body",),
    k: int = 10,
) -> DataFrame:
    """typoTolerance.disableOnAttributes serving over the fielded index:
    per-word budgets as in search_topk_typo_settings, but a DERIVED
    (distance >= 1) expansion term only covers its slot — and only
    contributes tf to BM25 — through occurrences OUTSIDE the disabled
    attributes; exact words count everywhere with full tf. Ranking is the
    same rule pipeline (hit_terms DESC, typos ASC, BM25 DESC, doc ASC).

    Scale: one In(term)-pruned POSITIONS scan (the fid rides the packed
    position, no extra column), one exchange into the kernel — identical
    plan shape to every positional kernel; the fid mask is a per-occurrence
    compare, zero extra jobs over the plain typo path."""
    from grenad_spark.query.search import TypoSettings, typo_slot_expansion

    fields = _require_fielded(index)
    bad = [f for f in disable_on if f not in fields]
    if bad:
        raise ValueError(f"unknown attributes {bad}; index has {fields}")
    allowed = [i for i, f in enumerate(fields) if f not in set(disable_on)]
    settings = settings or TypoSettings()
    qslots, slot_meta, pairs = typo_slot_expansion(spark, index, queries, settings)
    if not pairs:
        return _empty_result(spark, _TYPO_ATTR_SCHEMA)
    return _serve_kernel(
        spark, index, pairs,
        _make_typo_attr_kernel(
            qslots, slot_meta, allowed, float(index.avgdl), index.payload_codec
        ),
        _TYPO_ATTR_SCHEMA, k, _TYPO_ORDER, _TYPO_COLS, table="positions",
    )


def sql_typo_disable_attrs_topk(
    queries: list[tuple[int, str]],
    settings=None,
    k: int = 10,
    title_tokens: int = 5,
) -> str:
    """DuckDB oracle for search_topk_typo_disable_attrs with
    disable_on=("body",): derived matches must occur in the TITLE slice
    (first `title_tokens` tokens); exact matches count anywhere with full
    tf; derived terms score with title-restricted tf."""
    import re

    from grenad_spark.query.search import TypoSettings

    settings = settings or TypoSettings()
    rows = []
    for qid, q in queries:
        for qterm in dict.fromkeys(
            t for t in re.split(TOKEN_SPLIT_RE, q.lower()) if t
        ):
            rows.append(f"({int(qid)}, '{qterm}', {settings.budget(qterm)})")
    vals = ", ".join(rows)
    return f"""
WITH tdt AS ({sql_term_doc_tf('documents')}),
toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '{TOKEN_SPLIT_RE}'), x -> x <> '') AS t
  FROM documents
),
dl AS (SELECT doc_id, len(t) AS dl FROM toks),
cs AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl)::DOUBLE AS avgdl FROM dl),
ts AS (SELECT term, count(*)::DOUBLE AS df FROM tdt GROUP BY term),
vocab AS (SELECT DISTINCT term FROM tdt),
tda AS (  -- allowed-fid (title) term counts
  SELECT doc_id, term, count(*)::INT AS tf
  FROM (SELECT doc_id, unnest(list_slice(t, 1, {title_tokens})) AS term FROM toks)
  GROUP BY doc_id, term
),
rawq AS (SELECT * FROM (VALUES {vals}) AS v(query_id, qterm, budget)),
qx AS (
  SELECT r.query_id, r.qterm, v.term, levenshtein(v.term, r.qterm)::BIGINT AS lev
  FROM rawq r JOIN vocab v
    ON abs(length(v.term) - length(r.qterm)) <= r.budget
   AND levenshtein(v.term, r.qterm) <= r.budget
),
-- a term is EXACT for a query when it equals one of its words
qexact AS (SELECT DISTINCT query_id, term FROM qx WHERE lev = 0),
-- slot coverage rows: exact via tdt (anywhere), derived via tda (title)
cover AS (
  SELECT qx.query_id, tdt.doc_id, qx.qterm, qx.lev
  FROM qx JOIN tdt ON tdt.term = qx.term WHERE qx.lev = 0
  UNION ALL
  SELECT qx.query_id, tda.doc_id, qx.qterm, qx.lev
  FROM qx JOIN tda ON tda.term = qx.term WHERE qx.lev > 0
),
slotm AS (
  SELECT query_id, doc_id, qterm, min(lev) AS typos
  FROM cover GROUP BY 1, 2, 3
),
agg2 AS (
  SELECT query_id, doc_id, count(*)::INT AS hit_terms, sum(typos)::BIGINT AS typos
  FROM slotm GROUP BY 1, 2
),
-- scoring tf: full tf for exact terms, title tf for derived-only terms
qterms AS (SELECT DISTINCT query_id, term FROM qx),
stf AS (
  SELECT q.query_id, tdt.doc_id, q.term, tdt.tf
  FROM qterms q JOIN qexact e ON e.query_id = q.query_id AND e.term = q.term
  JOIN tdt ON tdt.term = q.term
  UNION ALL
  SELECT q.query_id, tda.doc_id, q.term, tda.tf
  FROM qterms q
  LEFT JOIN qexact e ON e.query_id = q.query_id AND e.term = q.term
  JOIN tda ON tda.term = q.term
  WHERE e.term IS NULL
),
scored AS (
  SELECT s.query_id, s.doc_id,
         round(sum(
           ln(1 + (cs.n_docs - ts.df + 0.5) / (ts.df + 0.5))
           * (s.tf * ({K1} + 1)) / (s.tf + {K1} * (1 - {B} + {B} * dl.dl / cs.avgdl))
         ), {SCORE_DECIMALS}) AS score
  FROM stf s
  JOIN ts ON ts.term = s.term
  JOIN dl ON dl.doc_id = s.doc_id
  CROSS JOIN cs
  GROUP BY s.query_id, s.doc_id
)
SELECT query_id, doc_id, hit_terms, typos, score FROM (
  SELECT a.query_id, a.doc_id, a.hit_terms, a.typos, sc.score,
         row_number() OVER (PARTITION BY a.query_id
           ORDER BY a.hit_terms DESC, a.typos ASC, sc.score DESC, a.doc_id ASC) AS rn
  FROM agg2 a JOIN scored sc ON sc.query_id = a.query_id AND sc.doc_id = a.doc_id
) WHERE rn <= {k}
"""
