"""Attribute-aware + fully-composed Meilisearch ranking over FIELD-AWARE
positions.

Meilisearch's default ranking is the ordered rule pipeline
    words -> typo -> proximity -> attribute -> exactness -> sort/relevance
(each rule only breaks ties left by the previous one). Rounds 1-4 built the
rules individually (words/typo in query/search.py, proximity in
query/phrase.py, sort/distinct in query/search.py); this module adds the two
field-dependent rules (attribute, exactness at the derivation level) and the
single composed entry point `search_topk_ranked` that serves the WHOLE
pipeline in one kernel pass.

Data: the positional index built with `build_positions(..., fields=[...])`
(index/positions.py tokens_with_pos_fields) packs the field id into the high
FIELD_BITS of each position — the analog of Meilisearch's fid-keyed
word-position databases (fid_word_position_docids), which are themselves
grenad files. The attribute of an occurrence is pos >> FIELD_BITS; the
attribute rank of a matched term in a doc is the minimum fid over its
occurrences (= fid of its first occurrence, positions being ascending).

Rule semantics served here (documented choices, each oracle-matched):
  words      = # query-term slots matched by >=1 derivation (DESC)
  typos      = sum over matched slots of min edit distance among the doc's
               matched derivations of that slot (ASC)
  proximity  = sum over ADJACENT slot pairs (both matched) of the min
               |encoded-position distance| over any derivation pair; pairs
               with no finite distance contribute 0 (ASC). Cross-field
               occurrences are FIELD_STRIDE apart, so same-field closeness
               dominates — the Meilisearch behavior of scoring proximity
               within attributes.
  attribute  = sum over matched slots of min fid among matched derivations
               (ASC)
  exactness  = # slots whose EXACT query term (0-edit derivation) appears in
               the doc (DESC)
  relevance  = BM25 over all distinct matched derivation terms (DESC), then
               doc_id ASC.

Plan shape = the house single-exchange serving plan (see query/phrase.py):
pruned In(term) positions scan, broadcast (query_id, term, idf) rows, ONE
hash exchange into a per-(query_id, shard) Arrow kernel, global top-k
window. Shards are doc-disjoint, so every per-doc rule statistic is complete
within its shard and the union is exact. Work is ~ the expansion terms'
posting sizes — never ~ corpus — and the typo expansion is
expand_fuzzy_queries (no vocabulary scan).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from grenad_spark.functions.tokenize import TOKEN_SPLIT_RE, sql_term_doc_tf
from grenad_spark.index.positions import FIELD_BITS, FIELD_STRIDE
from grenad_spark.query.bm25 import B, K1, SCORE_DECIMALS, sql_queries_values
from grenad_spark.query.kernels import (
    PROX_INF,
    conjunctive_docs,
    decode_positions,
    empty_frame,
    matched_bm25,
    member_mask,
    pair_min_dist,
)
from grenad_spark.query.search import (
    _BM25_ORDER,
    _empty_result,
    _n_queries,
    _query_slots,
    _rank_topk,
    _scoring_pairs,
    _serve_kernel,
    _slot_meta,
    _tokenize_queries,
    expand_fuzzy_queries,
)

# conjunctive attribute-ranked query set (terms that do/don't land in the
# 5-token title field discriminate the attr rank)
ATTR_QUERIES: list[tuple[int, str]] = [
    (1, "dup spark"),
    (2, "merge sort"),
    (3, "the fast join"),
    (4, "data stream"),
]

# composed-pipeline query set: exact multi-term, typo'd terms, head terms
# (NO repeated terms — `words` slots are keyed by distinct query term)
RANKED_QUERIES: list[tuple[int, str]] = [
    (1, "spark window"),
    (2, "mrege sort"),
    (3, "dup strem"),
    (4, "the fast join"),
    (5, "data batch"),
]

_ATTR_OUT_SCHEMA = "query_id int, doc_id long, attr long, score double"
# the attribute rule's rank order, (column, ascending) pairs
_ATTR_ORDER = [("attr", True), *_BM25_ORDER]
_RANKED_OUT_SCHEMA = (
    "query_id int, doc_id long, words int, typos long, proximity long, "
    "attribute long, exactness int, score double"
)


def _require_fielded(index) -> list[str]:
    fields = index.manifest.get("position_fields")
    if not fields:
        raise ValueError(
            "attribute-aware serving needs FIELD-AWARE positions: rebuild "
            "with build_positions(..., fields=[...]) (manifest has no "
            "position_fields)"
        )
    return fields


# ---------------------------------------------------------------------------
# attribute rule — conjunctive matches ranked by summed best-field ids
# ---------------------------------------------------------------------------

def _make_attr_kernel(qterms: dict[int, list[str]], avgdl: float, codec: str):
    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        qid = int(pdf["query_id"].iloc[0])
        terms = qterms[qid]
        decoded, idfs = decode_positions(pdf, codec)
        matched = conjunctive_docs(decoded, terms)
        if matched.size == 0:
            return empty_frame(_ATTR_OUT_SCHEMA)
        attr = np.zeros(matched.size, dtype=np.int64)
        for t in terms:
            d, _tf, _dl, pos, occ = decoded[t]
            # positions ascend per doc and fid is the high bits, so the first
            # occurrence's fid IS the minimum fid for the (doc, term) pair
            attr += (pos[occ] >> np.int64(FIELD_BITS))[np.searchsorted(d, matched)]
        scores = matched_bm25(decoded, idfs, terms, matched, avgdl)
        return pd.DataFrame(
            {"query_id": qid, "doc_id": matched, "attr": attr, "score": scores}
        )

    return fn


def search_topk_attr_rule(
    spark: SparkSession,
    index,
    queries: list[tuple[int, str]],
    k: int = 10,
) -> DataFrame:
    """The Meilisearch ATTRIBUTE ranking rule: conjunctive matches ranked by
    the sum over query terms of the best (lowest) field id containing the
    term — docs matching in earlier attributes (title before body) rank
    first; BM25 then doc_id break ties. (query_id, doc_id, attr, score)."""
    _require_fielded(index)
    qt = _tokenize_queries(queries)
    qterms = _query_slots(queries)
    # conjunctive: a query with an OOV term can never match
    pairs = _scoring_pairs(spark, index, qt, required=qt)
    if not pairs:
        return _empty_result(spark, _ATTR_OUT_SCHEMA)
    return _serve_kernel(
        spark, index, pairs,
        _make_attr_kernel(qterms, float(index.avgdl), index.payload_codec),
        _ATTR_OUT_SCHEMA, k, _ATTR_ORDER, ["query_id", "doc_id", "attr", "score"],
        table="positions",
    )


# ---------------------------------------------------------------------------
# the composed pipeline — ONE kernel computing every rule statistic
# ---------------------------------------------------------------------------

def _make_ranked_kernel(
    qslots: dict[int, list[str]],
    slot_meta: dict[int, dict[str, list[tuple[int, int]]]],
    avgdl: float,
    codec: str,
):
    """slot_meta: qid -> {derivation term -> [(slot, edit distance)]} (one
    derivation may credit several slots, like the typo-ranked kernel)."""

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        qid = int(pdf["query_id"].iloc[0])
        slots = qslots[qid]
        meta = slot_meta[qid]
        m = len(slots)
        decoded, idfs = decode_positions(pdf, codec)
        # per-slot doc sets with min-typo / min-fid aggregation over the
        # slot's matched derivations
        slot_docs: dict[int, np.ndarray] = {}
        slot_typo: dict[int, np.ndarray] = {}
        slot_fid: dict[int, np.ndarray] = {}
        for slot in range(m):
            dcat, tcat, fcat = [], [], []
            for term, (d, tf, dl, pos, occ) in decoded.items():
                for s2, dist in meta.get(term, ()):
                    if s2 != slot:
                        continue
                    dcat.append(d)
                    tcat.append(np.full(d.size, dist, dtype=np.int64))
                    fcat.append(pos[occ] >> np.int64(FIELD_BITS))
            if not dcat:
                continue
            dc = np.concatenate(dcat)
            u, inv = np.unique(dc, return_inverse=True)
            tmin = np.full(u.size, np.iinfo(np.int64).max, dtype=np.int64)
            np.minimum.at(tmin, inv, np.concatenate(tcat))
            fmin = np.full(u.size, np.iinfo(np.int64).max, dtype=np.int64)
            np.minimum.at(fmin, inv, np.concatenate(fcat))
            slot_docs[slot] = u
            slot_typo[slot] = tmin
            slot_fid[slot] = fmin
        if not slot_docs:
            return empty_frame(_RANKED_OUT_SCHEMA)
        all_docs = np.unique(np.concatenate(list(slot_docs.values())))
        words = np.zeros(all_docs.size, dtype=np.int64)
        typos = np.zeros(all_docs.size, dtype=np.int64)
        attr = np.zeros(all_docs.size, dtype=np.int64)
        member: dict[int, np.ndarray] = {}
        for slot, u in slot_docs.items():
            hit, sel = member_mask(u, all_docs)
            member[slot] = hit
            words += hit
            typos[hit] += slot_typo[slot][sel[hit]]
            attr[hit] += slot_fid[slot][sel[hit]]
        # exactness: the 0-edit derivation (the query term itself) present
        exact = np.zeros(all_docs.size, dtype=np.int64)
        for qterm in slots:
            if qterm in decoded:
                hit, _ = member_mask(decoded[qterm][0], all_docs)
                exact += hit
        # proximity over adjacent slot pairs, min over derivation combos
        prox = np.zeros(all_docs.size, dtype=np.int64)
        for i in range(m - 1):
            if i not in member or (i + 1) not in member:
                continue
            da = [t for t in decoded if any(s == i for s, _ in meta.get(t, ()))]
            db = [t for t in decoded if any(s == i + 1 for s, _ in meta.get(t, ()))]
            cat_d, cat_m = [], []
            for ta in da:
                for tb in db:
                    docs_a, mind = pair_min_dist(decoded[ta], decoded[tb], ta == tb)
                    cat_d.append(docs_a)
                    cat_m.append(mind)
            dc = np.concatenate(cat_d)
            u, inv = np.unique(dc, return_inverse=True)
            mm = np.full(u.size, PROX_INF, dtype=np.int64)
            np.minimum.at(mm, inv, np.concatenate(cat_m))
            hit, sel = member_mask(u, all_docs)
            ok = hit & (mm[sel] < PROX_INF) & member[i] & member[i + 1]
            prox[ok] += mm[sel][ok]
        # relevance: BM25 over all distinct matched derivation terms
        score = matched_bm25(decoded, idfs, list(decoded), all_docs, avgdl)
        return pd.DataFrame(
            {
                "query_id": qid,
                "doc_id": all_docs,
                "words": words.astype(np.int32),
                "typos": typos,
                "proximity": prox,
                "attribute": attr,
                "exactness": exact.astype(np.int32),
                "score": score,
            }
        )

    return fn


def _ranked_rows(
    spark: SparkSession,
    index,
    queries: list[tuple[int, str]],
    max_edits: int = 1,
    k: int | None = None,
) -> DataFrame:
    """Every rule statistic for every matching (query, doc) pair: the
    composed kernel over the derivation terms' position blocks (one pruned
    positions scan, one exchange; a local relation when the call is served
    on the driver), ranked into the top k rows of each query under the
    default rule order (k None: unranked, score not rounded yet)."""
    _require_fielded(index)
    pairs0 = expand_fuzzy_queries(spark, index, queries, max_edits)
    if not pairs0:
        return _empty_result(spark, _RANKED_OUT_SCHEMA)
    qslots = _query_slots(queries)
    slot_meta = _slot_meta(qslots, pairs0, lambda _w: max_edits)
    pairs = [(qid, t) for qid, per_q in slot_meta.items() for t in sorted(per_q)]
    if not pairs:
        return _empty_result(spark, _RANKED_OUT_SCHEMA)
    return _serve_kernel(
        spark, index, pairs,
        _make_ranked_kernel(qslots, slot_meta, float(index.avgdl), index.payload_codec),
        _RANKED_OUT_SCHEMA, k, _RANKED_ORDER, _RANKED_OUT_COLS,
        table="positions",
    )


def _ranked_stats(
    spark: SparkSession,
    index,
    queries: list[tuple[int, str]],
    max_edits: int = 1,
) -> DataFrame:
    """_ranked_rows with its score rounded to SCORE_DECIMALS: the
    filtered, distinct, custom-order and threshold pages rank over it."""
    rows = _ranked_rows(spark, index, queries, max_edits)
    return rows.withColumn("score", F.round("score", SCORE_DECIMALS))


def search_topk_ranked(
    spark: SparkSession,
    index,
    queries: list[tuple[int, str]],
    k: int = 10,
    max_edits: int = 1,
) -> DataFrame:
    """The COMPOSED Meilisearch default ranking in one entry point:
    words DESC -> typos ASC -> proximity ASC -> attribute ASC ->
    exactness DESC -> BM25 DESC -> doc_id ASC, with <=max_edits typo
    expansion (expand_fuzzy_queries, no vocabulary scan).
    Requires FIELD-AWARE positions (build_positions fields=[...]).
    Returns every rule's statistic so consumers (and the oracle) can verify
    each tier: (query_id, doc_id, words, typos, proximity, attribute,
    exactness, score). A call served on the driver ranks there too, in the
    same order, and returns a local relation (no Spark job)."""
    return _ranked_rows(spark, index, queries, max_edits, k)


# the default rule order: (stats column, ascending) pairs
_RANKED_ORDER = [
    ("words", False), ("typos", True), ("proximity", True), ("attribute", True),
    ("exactness", False), *_BM25_ORDER,
]
_RANKED_OUT_COLS = [
    "query_id", "doc_id", "words", "typos", "proximity", "attribute",
    "exactness", "score",
]


def search_topk_ranked_filtered(
    spark: SparkSession,
    index,
    docs: DataFrame,
    queries: list[tuple[int, str]],
    filter_sql: str,
    k: int = 10,
    max_edits: int = 1,
) -> DataFrame:
    """The everyday Meilisearch request shape: `filter:` + the FULL default
    ranking pipeline. The filter side is a pruned documents scan (only
    doc_id + filter columns read) semi-joined on doc_id BEFORE the window,
    so dropped docs never enter the top-k; the ranked kernel is unchanged
    (same one exchange). Returns every rule statistic like
    search_topk_ranked."""
    stats = _ranked_stats(spark, index, queries, max_edits)
    allowed = docs.filter(F.expr(filter_sql)).select("doc_id")
    return _rank_topk(
        stats.join(allowed, "doc_id"), _n_queries(queries), int(k),
        _RANKED_ORDER, _RANKED_OUT_COLS,
    )


def search_topk_ranked_distinct(
    spark: SparkSession,
    index,
    docs: DataFrame,
    queries: list[tuple[int, str]],
    distinct_attr: str,
    k: int = 10,
    max_edits: int = 1,
) -> DataFrame:
    """The `distinct` attribute composed with the FULL default pipeline
    (Meilisearch applies distinct to every search): only the best-ranked
    hit per (query, attribute value) survives — rank-1 within the value
    under the pipeline order, then the global top-k window under the same
    order. The attribute joins by doc_id on the kernel's candidate output.
    Output adds the deduped attribute as `value`."""
    stats = _ranked_stats(spark, index, queries, max_edits)
    attrs = docs.select(
        "doc_id", F.col(distinct_attr).cast("string").alias("value")
    )
    wv = Window.partitionBy("query_id", "value").orderBy(
        *[F.asc(c) if a else F.desc(c) for c, a in _RANKED_ORDER]
    )
    best = (
        stats.join(attrs, "doc_id")
        .withColumn("vr", F.row_number().over(wv))
        .filter(F.col("vr") == 1)
    )
    return _rank_topk(
        best, _n_queries(queries), int(k), _RANKED_ORDER, [*_RANKED_OUT_COLS, "value"]
    )


_SQL_DEFAULT_ORDER = (
    "words DESC, typos ASC, proximity ASC, attribute ASC, exactness DESC, "
    "score DESC, doc_id ASC"
)


def sql_ranked_filtered_topk(
    queries: list[tuple[int, str]] | None = None,
    filter_sql: str = "true",
    k: int = 10,
    max_edits: int = 1,
    title_tokens: int = 5,
    docs_table: str = "documents",
) -> str:
    inner = sql_ranked_topk(queries, k=10**9, max_edits=max_edits,
                            title_tokens=title_tokens)
    cols = ", ".join(f"c.{c}" for c in _RANKED_OUT_COLS)
    qorder = ", ".join(f"c.{t}" for t in _SQL_DEFAULT_ORDER.split(", "))
    return f"""
WITH ranked_all AS ({inner}),
allowed AS (SELECT doc_id FROM {docs_table} WHERE {filter_sql})
SELECT {", ".join(_RANKED_OUT_COLS)} FROM (
  SELECT {cols}, row_number() OVER (PARTITION BY c.query_id
    ORDER BY {qorder}) AS rn
  FROM ranked_all c JOIN allowed a ON a.doc_id = c.doc_id
) WHERE rn <= {k}
"""


def sql_ranked_distinct_topk(
    queries: list[tuple[int, str]] | None = None,
    distinct_attr: str = "lang",
    k: int = 10,
    max_edits: int = 1,
    title_tokens: int = 5,
    docs_table: str = "documents",
) -> str:
    inner = sql_ranked_topk(queries, k=10**9, max_edits=max_edits,
                            title_tokens=title_tokens)
    cols = ", ".join(f"c.{c}" for c in _RANKED_OUT_COLS)
    qorder = ", ".join(f"c.{t}" for t in _SQL_DEFAULT_ORDER.split(", "))
    return f"""
WITH ranked_all AS ({inner}),
dedup AS (
  SELECT {cols}, CAST(d.{distinct_attr} AS VARCHAR) AS value,
         row_number() OVER (
           PARTITION BY c.query_id, CAST(d.{distinct_attr} AS VARCHAR)
           ORDER BY {qorder}) AS vr
  FROM ranked_all c JOIN {docs_table} d ON d.doc_id = c.doc_id
)
SELECT {", ".join(_RANKED_OUT_COLS)}, value FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
    ORDER BY {_SQL_DEFAULT_ORDER}) AS rn
  FROM dedup WHERE vr = 1
) WHERE rn <= {k}
"""


# ---------------------------------------------------------------------------
# custom ranking-rule order — the Meilisearch `rankingRules` setting
# ---------------------------------------------------------------------------

# builtin rule name -> (stats column, sort direction of a BETTER hit)
RANKING_RULES: dict[str, tuple[str, str]] = {
    "words": ("words", "desc"),
    "typo": ("typos", "asc"),
    "proximity": ("proximity", "asc"),
    "attribute": ("attribute", "asc"),
    "exactness": ("exactness", "desc"),
    "relevance": ("score", "desc"),  # the BM25 tier (Meilisearch's "sort"-less tail)
}

DEFAULT_RULES = ["words", "typo", "proximity", "attribute", "exactness", "relevance"]


def _parse_rules(rules: list[str]) -> list[tuple[str, str, bool]]:
    """[(column, direction, is_custom_attribute)] — a rule is either a
    builtin name from RANKING_RULES or a Meilisearch custom rule
    '<document attribute>:asc|desc' inserted anywhere in the pipeline."""
    parsed: list[tuple[str, str, bool]] = []
    for r in rules:
        if r in RANKING_RULES:
            col, direction = RANKING_RULES[r]
            parsed.append((col, direction, False))
        elif ":" in r:
            attr, _, direction = r.rpartition(":")
            if direction not in ("asc", "desc") or not attr:
                raise ValueError(f"custom ranking rule must be 'attr:asc|desc', got {r!r}")
            parsed.append((attr, direction, True))
        else:
            raise ValueError(
                f"unknown ranking rule {r!r} (builtins: {sorted(RANKING_RULES)})"
            )
    return parsed


def search_topk_custom_rules(
    spark: SparkSession,
    index,
    queries: list[tuple[int, str]],
    rules: list[str],
    docs: DataFrame | None = None,
    k: int = 10,
    max_edits: int = 1,
) -> DataFrame:
    """Meilisearch's `rankingRules` setting: the SAME one-pass kernel
    statistics ranked under a USER-SUPPLIED rule order — any permutation /
    subset of the builtins plus custom document-attribute rules
    ('n_chars:asc'), which Meilisearch lets users splice anywhere in the
    pipeline. Custom attribute rules need `docs`; the attribute joins in by
    doc_id AFTER the kernel (work ∝ candidate set, the sortable-attributes
    plan shape). doc_id ASC is always the final tiebreak. Returns the six
    statistics plus every custom attribute used, so each tier is
    oracle-checkable."""
    parsed = _parse_rules(rules)
    per_shard = _ranked_stats(spark, index, queries, max_edits)
    custom_cols = list(dict.fromkeys(c for c, _, is_c in parsed if is_c))
    if custom_cols:
        if docs is None:
            raise ValueError(f"custom attribute rules {custom_cols} need docs")
        per_shard = per_shard.join(
            docs.select("doc_id", *custom_cols), "doc_id"
        )
    order = [(c, d == "asc") for c, d, _ in parsed] + [("doc_id", True)]
    return _rank_topk(
        per_shard, _n_queries(queries), int(k), order, [*_RANKED_OUT_COLS, *custom_cols]
    )


# ---------------------------------------------------------------------------
# DuckDB oracles — fielded positions recomputed from the raw corpus with the
# same title/body split (corpus.fielded_docs) and the same pos encoding
# ---------------------------------------------------------------------------

_CORPUS_CTES = f"""
tdt AS ({{tdt}}),
tk AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '{TOKEN_SPLIT_RE}'), x -> x <> '') AS t
  FROM documents
),
dl AS (SELECT doc_id, len(t) AS dl FROM tk),
cs AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl)::DOUBLE AS avgdl FROM dl),
ts AS (SELECT term, count(*)::DOUBLE AS df FROM tdt GROUP BY term),
vocab AS (SELECT DISTINCT term FROM tdt),
fpos AS (
  SELECT doc_id, term,
         CASE WHEN gs <= {{title_tokens}}
              THEN gs - 1
              ELSE {FIELD_STRIDE} + (gs - 1 - {{title_tokens}})
         END AS pos
  FROM (SELECT doc_id, unnest(t) AS term, generate_subscripts(t, 1) AS gs FROM tk)
),
fidm AS (
  SELECT doc_id, term, min(pos // {FIELD_STRIDE})::BIGINT AS fid
  FROM fpos GROUP BY 1, 2
)
"""


def sql_attr_rule_topk(
    queries: list[tuple[int, str]] | None = None,
    k: int = 10,
    title_tokens: int = 5,
) -> str:
    """DuckDB oracle for search_topk_attr_rule over the deterministic
    title/body field split (title = first `title_tokens` tokens)."""
    queries = queries if queries is not None else ATTR_QUERIES
    return f"""
WITH {_CORPUS_CTES.format(tdt=sql_term_doc_tf('documents'), title_tokens=title_tokens).strip()},
qt AS (
  SELECT DISTINCT query_id, term FROM (
    SELECT query_id, unnest(regexp_split_to_array(lower(query), '{TOKEN_SPLIT_RE}')) AS term
    FROM {sql_queries_values(queries)}
  ) WHERE term <> ''
),
qn AS (SELECT query_id, count(*)::INT AS n_terms FROM qt GROUP BY query_id),
scored AS (
  SELECT qt.query_id, tdt.doc_id,
         round(sum(
           ln(1 + (cs.n_docs - ts.df + 0.5) / (ts.df + 0.5))
           * (tdt.tf * ({K1} + 1)) / (tdt.tf + {K1} * (1 - {B} + {B} * dl.dl / cs.avgdl))
         ), {SCORE_DECIMALS}) AS score,
         count(DISTINCT tdt.term)::INT AS hit_terms,
         sum(f.fid)::BIGINT AS attr
  FROM tdt
  JOIN qt ON tdt.term = qt.term
  JOIN ts ON tdt.term = ts.term
  JOIN dl ON tdt.doc_id = dl.doc_id
  JOIN fidm f ON f.doc_id = tdt.doc_id AND f.term = tdt.term
  CROSS JOIN cs
  GROUP BY qt.query_id, tdt.doc_id
)
SELECT query_id, doc_id, attr, score FROM (
  SELECT s.query_id, s.doc_id, s.attr, s.score,
         row_number() OVER (PARTITION BY s.query_id
           ORDER BY s.attr ASC, s.score DESC, s.doc_id ASC) AS rn
  FROM scored s JOIN qn ON s.query_id = qn.query_id AND s.hit_terms = qn.n_terms
) WHERE rn <= {k}
"""


def sql_ranked_topk(
    queries: list[tuple[int, str]] | None = None,
    k: int = 10,
    max_edits: int = 1,
    title_tokens: int = 5,
) -> str:
    """DuckDB oracle for search_topk_ranked — every rule statistic computed
    from first principles (levenshtein expansion, fielded positions,
    adjacent-slot min distances) and ranked lexicographically."""
    import re

    queries = queries if queries is not None else RANKED_QUERIES
    # adjacent slot pairs in original token order, baked as literals
    pair_rows = []
    for qid, q in queries:
        toks = [t for t in re.split(TOKEN_SPLIT_RE, q.lower()) if t]
        assert len(set(toks)) == len(toks), (
            f"ranked oracle requires distinct query terms, got {q!r}"
        )
        for i in range(len(toks) - 1):
            pair_rows.append(f"({qid}, {i}, '{toks[i]}', '{toks[i + 1]}')")
    pairs_cte = (
        "pairs AS (SELECT * FROM (VALUES "
        + ", ".join(pair_rows)
        + ") AS v(query_id, pidx, qa, qb))"
        if pair_rows
        else "pairs AS (SELECT NULL::INT AS query_id, NULL::INT AS pidx, "
        "NULL::VARCHAR AS qa, NULL::VARCHAR AS qb WHERE false)"
    )
    return f"""
WITH {_CORPUS_CTES.format(tdt=sql_term_doc_tf('documents'), title_tokens=title_tokens).strip()},
rawq AS (
  SELECT DISTINCT query_id, unnest(regexp_split_to_array(lower(query), '{TOKEN_SPLIT_RE}')) AS qterm
  FROM {sql_queries_values(queries)}
),
qx AS (
  SELECT r.query_id, r.qterm, v.term, levenshtein(v.term, r.qterm)::BIGINT AS lev
  FROM rawq r JOIN vocab v
    ON r.qterm <> ''
   AND abs(length(v.term) - length(r.qterm)) <= {max_edits}
   AND levenshtein(v.term, r.qterm) <= {max_edits}
),
slotm AS (
  SELECT qx.query_id, f.doc_id, qx.qterm,
         min(qx.lev) AS typos, min(f.fid) AS fid,
         max(CASE WHEN qx.lev = 0 THEN 1 ELSE 0 END) AS exact
  FROM fidm f JOIN qx ON f.term = qx.term
  GROUP BY 1, 2, 3
),
agg AS (
  SELECT query_id, doc_id, count(*)::INT AS words, sum(typos)::BIGINT AS typos,
         sum(fid)::BIGINT AS attribute, sum(exact)::INT AS exactness
  FROM slotm GROUP BY 1, 2
),
{pairs_cte},
prox_pair AS (
  SELECT p.query_id, p.pidx, pa.doc_id, min(abs(pb.pos - pa.pos))::BIGINT AS d
  FROM pairs p
  JOIN qx xa ON xa.query_id = p.query_id AND xa.qterm = p.qa
  JOIN qx xb ON xb.query_id = p.query_id AND xb.qterm = p.qb
  JOIN fpos pa ON pa.term = xa.term
  JOIN fpos pb ON pb.term = xb.term AND pb.doc_id = pa.doc_id
  WHERE NOT (xa.term = xb.term AND pa.pos = pb.pos)
  GROUP BY 1, 2, 3
),
proxa AS (
  SELECT query_id, doc_id, sum(d)::BIGINT AS proximity FROM prox_pair GROUP BY 1, 2
),
qt AS (SELECT DISTINCT query_id, term FROM qx),
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
,
cand AS (
  SELECT a.query_id, a.doc_id, a.words, a.typos,
         coalesce(px.proximity, 0)::BIGINT AS proximity,
         a.attribute, a.exactness, s.score
  FROM agg a
  JOIN scored s ON s.query_id = a.query_id AND s.doc_id = a.doc_id
  LEFT JOIN proxa px ON px.query_id = a.query_id AND px.doc_id = a.doc_id
)
SELECT query_id, doc_id, words, typos, proximity, attribute, exactness, score FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
           ORDER BY words DESC, typos ASC, proximity ASC,
                    attribute ASC, exactness DESC, score DESC, doc_id ASC) AS rn
  FROM cand
) WHERE rn <= {k}
"""


def sql_custom_rules_topk(
    queries: list[tuple[int, str]] | None = None,
    rules: list[str] | None = None,
    k: int = 10,
    max_edits: int = 1,
    title_tokens: int = 5,
    docs_table: str = "documents",
) -> str:
    """DuckDB oracle for search_topk_custom_rules: the ranked oracle's
    candidate set re-windowed under the user rule order (custom document
    attributes joined from the documents table)."""
    parsed = _parse_rules(rules if rules is not None else DEFAULT_RULES)
    custom_cols = list(dict.fromkeys(c for c, _, is_c in parsed if is_c))
    inner = sql_ranked_topk(
        queries, k=10**9, max_edits=max_edits, title_tokens=title_tokens
    )
    join = (
        f" JOIN {docs_table} d ON d.doc_id = c.doc_id" if custom_cols else ""
    )
    extra = "".join(f", d.{c}" for c in custom_cols)
    order = ", ".join(
        f"{'d' if is_c else 'c'}.{c} {d.upper()}" for c, d, is_c in parsed
    ) + ", c.doc_id ASC"
    out_cols = (
        "query_id, doc_id, words, typos, proximity, attribute, exactness, score"
        + "".join(f", {c}" for c in custom_cols)
    )
    return f"""
WITH ranked_all AS ({inner})
SELECT {out_cols} FROM (
  SELECT c.query_id, c.doc_id, c.words, c.typos, c.proximity, c.attribute,
         c.exactness, c.score{extra},
         row_number() OVER (PARTITION BY c.query_id ORDER BY {order}) AS rn
  FROM ranked_all c{join}
) WHERE rn <= {k}
"""


# ---------------------------------------------------------------------------
# showRankingScore — a normalized [0,1] global score over the rule statistics
# ---------------------------------------------------------------------------

# weight base for folding the rule tiers into one number (higher tiers
# dominate): words > typo > proximity > attribute > exactness > relevance
_RS_BASE = 10.0
_RS_DECIMALS = 6


# the six per-rule normalized components, in pipeline order; ranking_score
# folds them with weights base^5..base^0
_RS_COMPONENTS = [
    "words_score", "typo_score", "proximity_score", "attribute_score",
    "exactness_score", "relevance_score",
]


def _with_score_components(
    df: DataFrame,
    qn: DataFrame,
    n_fields: int,
    max_edits: int,
) -> DataFrame:
    """Adds the six normalized rule components + their base-10 weighted fold
    `ranking_score` to a stats DataFrame. `relevance_score` normalizes by the
    query's max BM25 over whatever candidate set `df` holds (a top-k page or
    the full match set — the caller picks the Meilisearch semantics)."""
    wmax = Window.partitionBy("query_id")
    b = _RS_BASE
    wsum = b**5 + b**4 + b**3 + b**2 + b + 1.0
    attr_den = F.greatest(
        F.lit(float(max(1, n_fields - 1))) * F.col("n"), F.lit(1.0)
    )
    out = (
        df.join(F.broadcast(qn), "query_id")
        .withColumn("mx", F.max("score").over(wmax))
        .withColumn("words_score", F.col("words") / F.col("n"))
        .withColumn(
            "typo_score",
            F.lit(1.0) - F.col("typos") / (F.lit(float(max_edits)) * F.col("n")),
        )
        .withColumn("proximity_score", F.lit(1.0) / (F.lit(1.0) + F.col("proximity")))
        .withColumn("attribute_score", F.lit(1.0) - F.col("attribute") / attr_den)
        .withColumn("exactness_score", F.col("exactness") / F.col("n"))
        .withColumn(
            "relevance_score",
            F.when(F.col("mx") > 0, F.col("score") / F.col("mx")).otherwise(F.lit(0.0)),
        )
    )
    fold = sum(
        F.lit(b ** (5 - i)) * F.col(c) for i, c in enumerate(_RS_COMPONENTS)
    )
    out = out.withColumn("ranking_score", F.round(fold / F.lit(wsum), _RS_DECIMALS))
    for c in _RS_COMPONENTS:
        out = out.withColumn(c, F.round(c, _RS_DECIMALS))
    return out


def _qn_df(spark: SparkSession, queries: list[tuple[int, str]]) -> DataFrame:
    return spark.createDataFrame(
        [(qid, len(ts)) for qid, ts in _query_slots(queries).items()],
        "query_id int, n int",
    )


def search_topk_ranking_score(
    spark: SparkSession,
    index,
    queries: list[tuple[int, str]],
    k: int = 10,
    max_edits: int = 1,
) -> DataFrame:
    """The composed ranked top-k plus a `ranking_score` column in [0,1]
    (Meilisearch's showRankingScore): each rule statistic normalizes to
    [0,1] and the six normalized scores fold with geometrically decreasing
    weights (base 10), so higher tiers dominate the value the way they
    dominate the order. Normalizations (documented, oracle-matched):
      words/n, 1 - typos/(max_edits*n), 1/(1+proximity),
      1 - attribute/((n_fields-1)*n), exactness/n, score/max_topk_score
    with n = the query's slot count and max over the returned top-k set."""
    fields = _require_fielded(index)
    top = search_topk_ranked(spark, index, queries, k=k, max_edits=max_edits)
    return _with_score_components(
        top, _qn_df(spark, queries), len(fields), max_edits
    ).select(
        "query_id", "doc_id", "words", "typos", "proximity", "attribute",
        "exactness", "score", "ranking_score",
    )


def search_topk_score_details(
    spark: SparkSession,
    index,
    queries: list[tuple[int, str]],
    k: int = 10,
    max_edits: int = 1,
) -> DataFrame:
    """Meilisearch's showRankingScoreDetails: the top-k page with the
    PER-RULE normalized score breakdown (words_score .. relevance_score,
    each in [0,1], pipeline order) alongside the folded ranking_score —
    the same arithmetic as search_topk_ranking_score, unfolded so a
    consumer can see which tier separated two hits."""
    fields = _require_fielded(index)
    top = search_topk_ranked(spark, index, queries, k=k, max_edits=max_edits)
    return _with_score_components(
        top, _qn_df(spark, queries), len(fields), max_edits
    ).select("query_id", "doc_id", *_RS_COMPONENTS, "ranking_score", "score")


def search_topk_score_threshold(
    spark: SparkSession,
    index,
    queries: list[tuple[int, str]],
    threshold: float,
    k: int = 10,
    max_edits: int = 1,
) -> DataFrame:
    """Meilisearch's rankingScoreThreshold (v1.13): hits whose normalized
    ranking_score falls below `threshold` are dropped BEFORE pagination, so
    the page backfills with the next-best qualifying hits. The threshold
    applies to the score computed over the FULL match set (relevance
    normalizes by the query's global max BM25, not the page max), then the
    default rule pipeline orders the survivors."""
    fields = _require_fielded(index)
    stats = _ranked_stats(spark, index, queries, max_edits)
    scored = _with_score_components(
        stats, _qn_df(spark, queries), len(fields), max_edits
    ).filter(F.col("ranking_score") >= float(threshold))
    return _rank_topk(
        scored, _n_queries(queries), int(k), _RANKED_ORDER,
        [*_RANKED_OUT_COLS, "ranking_score"],
    )


def sql_ranking_score_topk(
    queries: list[tuple[int, str]] | None = None,
    k: int = 10,
    max_edits: int = 1,
    title_tokens: int = 5,
    n_fields: int = 2,
) -> str:
    """DuckDB oracle: the ranked oracle as a subquery plus the identical
    normalization arithmetic."""
    queries = queries if queries is not None else RANKED_QUERIES
    slots = _query_slots(queries)
    nrows = ", ".join(f"({qid}, {len(ts)})" for qid, ts in slots.items())
    b = _RS_BASE
    wsum = b**5 + b**4 + b**3 + b**2 + b + 1.0
    attr_den = float(max(1, n_fields - 1))
    inner = sql_ranked_topk(queries, k=k, max_edits=max_edits,
                            title_tokens=title_tokens)
    return f"""
WITH ranked AS ({inner}),
qn AS (SELECT * FROM (VALUES {nrows}) AS v(query_id, n))
SELECT r.query_id, r.doc_id, r.words, r.typos, r.proximity, r.attribute,
       r.exactness, r.score,
       round((
           {b**5} * (r.words / qn.n)
         + {b**4} * (1 - r.typos / ({float(max_edits)} * qn.n))
         + {b**3} / (1 + r.proximity)
         + {b**2} * (1 - r.attribute / greatest({attr_den} * qn.n, 1))
         + {b} * (r.exactness / qn.n)
         + CASE WHEN mx > 0 THEN r.score / mx ELSE 0 END
       ) / {wsum}, {_RS_DECIMALS}) AS ranking_score
FROM (SELECT *, max(score) OVER (PARTITION BY query_id) AS mx FROM ranked) r
JOIN qn ON qn.query_id = r.query_id
"""


def _sql_component_exprs(max_edits: int, attr_den: float) -> dict[str, str]:
    """SQL text of each normalized component over a row aliased r (+ qn.n,
    r.mx) — MUST mirror _with_score_components exactly."""
    return {
        "words_score": "(r.words / qn.n)",
        "typo_score": f"(1 - r.typos / ({float(max_edits)} * qn.n))",
        "proximity_score": "(1.0 / (1 + r.proximity))",
        "attribute_score": f"(1 - r.attribute / greatest({attr_den} * qn.n, 1))",
        "exactness_score": "(r.exactness / qn.n)",
        "relevance_score": "(CASE WHEN mx > 0 THEN r.score / mx ELSE 0 END)",
    }


def sql_score_details_topk(
    queries: list[tuple[int, str]] | None = None,
    k: int = 10,
    max_edits: int = 1,
    title_tokens: int = 5,
    n_fields: int = 2,
) -> str:
    """DuckDB oracle for search_topk_score_details — per-rule normalized
    components + the folded ranking_score over the top-k page."""
    queries = queries if queries is not None else RANKED_QUERIES
    slots = _query_slots(queries)
    nrows = ", ".join(f"({qid}, {len(ts)})" for qid, ts in slots.items())
    b = _RS_BASE
    wsum = b**5 + b**4 + b**3 + b**2 + b + 1.0
    comps = _sql_component_exprs(max_edits, float(max(1, n_fields - 1)))
    comp_cols = ",\n       ".join(
        f"round({expr}, {_RS_DECIMALS}) AS {name}" for name, expr in comps.items()
    )
    fold = " + ".join(
        f"{b ** (5 - i)} * {comps[c]}" for i, c in enumerate(_RS_COMPONENTS)
    )
    inner = sql_ranked_topk(queries, k=k, max_edits=max_edits,
                            title_tokens=title_tokens)
    return f"""
WITH ranked AS ({inner}),
qn AS (SELECT * FROM (VALUES {nrows}) AS v(query_id, n))
SELECT r.query_id, r.doc_id,
       {comp_cols},
       round(({fold}) / {wsum}, {_RS_DECIMALS}) AS ranking_score,
       r.score
FROM (SELECT *, max(score) OVER (PARTITION BY query_id) AS mx FROM ranked) r
JOIN qn ON qn.query_id = r.query_id
"""


def sql_score_threshold_topk(
    queries: list[tuple[int, str]] | None = None,
    threshold: float = 0.5,
    k: int = 10,
    max_edits: int = 1,
    title_tokens: int = 5,
    n_fields: int = 2,
) -> str:
    """DuckDB oracle for search_topk_score_threshold — ranking_score over
    the FULL match set (global max BM25 normalization), threshold filter,
    then the default pipeline window."""
    queries = queries if queries is not None else RANKED_QUERIES
    slots = _query_slots(queries)
    nrows = ", ".join(f"({qid}, {len(ts)})" for qid, ts in slots.items())
    b = _RS_BASE
    wsum = b**5 + b**4 + b**3 + b**2 + b + 1.0
    comps = _sql_component_exprs(max_edits, float(max(1, n_fields - 1)))
    fold = " + ".join(
        f"{b ** (5 - i)} * {comps[c]}" for i, c in enumerate(_RS_COMPONENTS)
    )
    inner = sql_ranked_topk(queries, k=10**9, max_edits=max_edits,
                            title_tokens=title_tokens)
    return f"""
WITH ranked_all AS ({inner}),
qn AS (SELECT * FROM (VALUES {nrows}) AS v(query_id, n)),
rs AS (
  SELECT r.query_id, r.doc_id, r.words, r.typos, r.proximity, r.attribute,
         r.exactness, r.score,
         round(({fold}) / {wsum}, {_RS_DECIMALS}) AS ranking_score
  FROM (SELECT *, max(score) OVER (PARTITION BY query_id) AS mx
        FROM ranked_all) r
  JOIN qn ON qn.query_id = r.query_id
)
SELECT query_id, doc_id, words, typos, proximity, attribute, exactness, score,
       ranking_score
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
    ORDER BY words DESC, typos ASC, proximity ASC, attribute ASC,
             exactness DESC, score DESC, doc_id ASC) AS rn
  FROM rs WHERE ranking_score >= {float(threshold)}
) WHERE rn <= {k}
"""
