"""Index-backed BM25 search: exhaustive and block-max WAND paths.

Both paths answer top-k from the persisted segment table (never from raw
documents); both are shard-parallel:

  segments.filter(term ∈ query_terms)        [parquet min/max pruning — the
                                              index-footer descent of
                                              src/reader/reader_cursor.rs:291-331
                                              done by the storage layer]
    → per (query_id, shard) group            [each shard = complete sub-index
                                              for its doc range]
    → score inside an Arrow-batched UDF      [exhaustive: vectorized decode +
                                              bincount; wand: block-max
                                              cursor skipping, the
                                              BlockCursor::move_on_key_gte
                                              analog of src/block.rs:214-255]
    → per-shard top-k → global top-k         [ORDER BY score LIMIT k on k·S
                                              rows, driver-tiny]

Scale: the shuffle after the pruned scan carries only query-term block rows
(compressed); per-group memory is bounded by docs_per_shard. idf is resolved on the
driver (IndexHandle.term_dfs) and rides in as a literal map of the attach.
"""

from __future__ import annotations

import functools
import math

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType, _parse_datatype_string
from pyspark.sql.window import Window

from grenad_spark.functions.literals import isin, prefix_ranges, sql_lit
from grenad_spark.functions.tokenize import TOKEN_SPLIT_RE
from grenad_spark.index.build import MAX_DELETES, IndexHandle
from grenad_spark.query.bm25 import SCORE_DECIMALS
from grenad_spark.query.kernels import (
    bm25,
    decode_blocks,
    decode_postings,
    disjunctive_bm25,
    doc_sums,
    empty_frame,
    spans,
    tfpart,
    topk_rows,
)


PRUNE_EPS = 10.0 ** -SCORE_DECIMALS  # rounded-tie slack for WAND prune gates


def _driver_idf(n_docs: float, df: float) -> float:
    """BM25 idf computed driver-side — must stay formula-identical to the
    Spark/SQL expressions (the oracle equivalence tests pin all three)."""
    return math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


# Scoring-group sizing target: postings per (qshard) group. The vectorized
# kernels decode ~1M postings in tens of ms, while every extra group pays a
# fixed Arrow→pandas→Python round trip (~15-20 ms measured); sizing groups
# by WORK instead of core count makes the plan scale-adaptive (guide §2):
# a single 1.5M-posting query runs in 1-2 groups (sweep: 16 groups = 373 ms,
# 1 group = 249 ms locally), a 64-query zipf batch or a cluster-sized index
# still saturates parallelism because the estimate grows with Σ df.
TARGET_GROUP_POSTINGS = 1_000_000


def _qshard_params(
    spark: SparkSession, index: IndexHandle, est_postings: int | None = None
) -> tuple[int, int]:
    """(g, n_qshards): how many consecutive doc-disjoint build shards merge
    into one scoring group. Default (no estimate) sizes groups to the
    session's core count; with an estimated posting volume (_est_postings:
    Σ df over the batch's query-term pairs) groups are sized to
    TARGET_GROUP_POSTINGS each, capped at the core count: fewer Python
    round trips for small batches, unchanged parallelism for large ones."""
    par = max(1, spark.sparkContext.defaultParallelism)
    n_shards = max(1, index.n_shards)
    if est_postings is not None:
        desired = -(-max(1, int(est_postings)) // TARGET_GROUP_POSTINGS)
        par = max(1, min(par, desired))
    g = max(1, -(-n_shards // par))
    return g, -(-n_shards // g)


def _tokenize_queries(queries: list[tuple[int, str]]) -> list[tuple[int, str]]:
    import re

    out = []
    for qid, q in queries:
        seen = set()
        for t in re.split(TOKEN_SPLIT_RE, q.lower()):
            if t and t not in seen:
                seen.add(t)
                out.append((qid, t))
    return out


def expand_prefix_queries(
    spark: SparkSession,
    index: IndexHandle,
    queries: list[tuple[int, str]],
    max_expansions: int | None = None,
) -> list[tuple[int, str]]:
    """Expand trailing-`*` terms against the term dictionary — the PrefixIter
    query path (reference src/reader/prefix_iter.rs:8-94, used by Meilisearch
    for prefix/typo search). `spar*` becomes every dictionary term in
    [spar, spas) via one pruned term_dict scan; expanded terms then score as
    ordinary disjuncts. At web scale a 1-char prefix can expand to millions
    of terms — max_expansions caps each prefix to its highest-df expansions
    (what Meilisearch's prefix databases precompute); the contract queries
    run uncapped because the test vocabulary is small.
    """
    import re

    exact: list[tuple[int, str]] = []
    prefixes: list[tuple[int, str]] = []
    for qid, q in queries:
        for raw in q.lower().split():
            if raw.endswith("*"):
                p = re.sub(TOKEN_SPLIT_RE, "", raw[:-1])
                if p:
                    prefixes.append((qid, p))
            else:
                t = re.sub(TOKEN_SPLIT_RE, "", raw)
                if t:
                    exact.append((qid, t))
    pairs = set(exact)
    if prefixes:
        cond = prefix_ranges(p for _, p in prefixes)
        matched_df = index.term_dict(spark).filter(cond).select("term", "df")
        if max_expansions is not None:
            # per-prefix top-df cap. A term joins EVERY prefix it matches
            # (overlapping prefixes like `s*` and `sp*` each rank their own
            # full candidate range — a CASE-style single label would starve
            # one of them); rank within each prefix by (df desc, term asc)
            pdf = spark.createDataFrame(
                sorted({p for _, p in prefixes}), "string"
            ).withColumnRenamed("value", "prefix")
            w = Window.partitionBy("prefix").orderBy(F.desc("df"), F.asc("term"))
            kept_rows = (
                matched_df.join(
                    F.broadcast(pdf), F.col("term").startswith(F.col("prefix"))
                )
                .withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") <= max_expansions)
                .select("prefix", "term")
                .collect()
            )
            kept: dict[str, set[str]] = {}
            for r in kept_rows:
                kept.setdefault(r["prefix"], set()).add(r["term"])
            for qid, p in prefixes:
                for t in kept.get(p, ()):
                    pairs.add((qid, t))
            return sorted(pairs)
        matched = [r["term"] for r in matched_df.select("term").collect()]
        for qid, p in prefixes:
            for t in matched:
                if t.startswith(p):
                    pairs.add((qid, t))
    return sorted(pairs)


def expand_fuzzy_queries(
    spark: SparkSession,
    index: IndexHandle,
    queries: list[tuple[int, str]],
    max_edits: int = 1,
) -> list[tuple[int, str]]:
    """Typo-tolerant expansion: each query term matches every dictionary term
    within `max_edits` Levenshtein distance (the feature Meilisearch builds
    on grenad's sorted-term files). Expansions score as ordinary disjuncts.

    Candidates come from one of two sources, both exact:
      - max_edits == 1 with a driver-held vocabulary (df_map) on an index
        built with the default tokenizer: generate the 1-edit neighborhood
        over the tokenizer alphabet and test it against the dict — zero
        Spark jobs.
      - otherwise the SymSpell (delvar, term) deletion table
        (index.term_deletes — persisted at build, derived from term_dict for
        indexes built before it): if lev(q, t) ≤ d then some ≤d-char deletion
        of q equals some ≤d-char deletion of t (each edit costs at most one
        deletion per side), so the candidates are an equi-join of the
        query's driver-tiny deletion neighborhood against the table —
        delvar IN (…) pruned, no vocabulary scan — followed by an exact
        levenshtein filter. The table holds deletions up to MAX_DELETES, so
        that is the largest budget served (Meilisearch's typo budget tops
        out at 2 as well)."""
    if max_edits > MAX_DELETES:
        raise ValueError(
            f"max_edits={max_edits} exceeds the deletion table depth {MAX_DELETES}"
        )
    qt = _tokenize_queries(queries)
    if not qt:
        return []
    # the neighborhood is generated over [a-z0-9]: exact only when the
    # vocabulary came from the default tokenizer (a custom TokenizerSettings
    # vocabulary can hold `-`, `+`, …)
    if max_edits == 1 and "tokenizer_tag" not in index.manifest:
        dfm = index.df_map(spark)
        if dfm is not None:
            return sorted(
                {
                    (q, v)
                    for q, t in qt
                    for v in _edit1_neighborhood(t)
                    if v in dfm
                }
            )
    cand = _symspell_candidates(spark, index.term_deletes(spark), qt, max_edits)
    return sorted((r["query_id"], r["term"]) for r in cand.collect())


def _deletes_upto(t: str, d: int) -> set[str]:
    """All strings reachable from t by deleting ≤ d characters (incl. t).
    |result| ≤ 1 + L + L(L−1)/2 at d=2 — driver-tiny per query term."""
    out = {t}
    frontier = {t}
    for _ in range(d):
        nxt = set()
        for s in frontier:
            for i in range(len(s)):
                nxt.add(s[:i] + s[i + 1 :])
        frontier = nxt - out
        out |= nxt
    return out


def _symspell_candidates(
    spark: SparkSession,
    deletes: DataFrame,
    qt: list[tuple[int, str]],
    max_edits: int,
) -> DataFrame:
    """(query_id, term) fuzzy candidates via the persisted deletion table.
    Exposed pre-collect so tests can assert the plan shape: one delvar-IN-
    pruned scan of term_deletes + a broadcast join — term_dict never scanned.
    The deletion-intersection candidate set is a SUPERSET of the true ≤
    max_edits matches (SymSpell guarantee), made exact by the levenshtein
    filter on candidates only."""
    qdel = sorted(
        {
            (q, t, v)
            for q, t in qt
            for v in _deletes_upto(t, max_edits)
        }
    )
    qdf = spark.createDataFrame(qdel, "query_id int, qterm string, delvar string")
    # the explicit isin reaches the parquet scan as In(delvar, …)/InSet —
    # file/row-group pruning on the delvar-range-partitioned table; the
    # broadcast join alone would not push its keys into the scan
    vset = sorted({v for _, _, v in qdel})
    band = (F.abs(F.length("term") - F.length("qterm")) <= max_edits) & (
        F.levenshtein("term", "qterm") <= max_edits
    )
    return (
        deletes.filter(isin("delvar", vset))
        .join(F.broadcast(qdf), "delvar")
        .select("query_id", "qterm", "term")
        .distinct()
        .filter(band)
        .select("query_id", "term")
        .distinct()
    )


_EDIT_ALPHABET = "abcdefghijklmnopqrstuvwxyz0123456789"


def _edit1_neighborhood(t: str) -> set[str]:
    """All nonempty strings within Levenshtein distance ≤ 1 of t over the
    default tokenizer alphabet — |t|·37 + (|t|+1)·36 + 1 strings, driver-tiny
    per query term."""
    out = {t}
    for i in range(len(t)):
        d = t[:i] + t[i + 1 :]
        if d:
            out.add(d)  # deletion
        for c in _EDIT_ALPHABET:
            out.add(t[:i] + c + t[i + 1 :])  # substitution
    for i in range(len(t) + 1):
        for c in _EDIT_ALPHABET:
            out.add(t[:i] + c + t[i:])  # insertion
    return out


def search_topk_fuzzy(
    spark: SparkSession,
    index: IndexHandle,
    queries: list[tuple[int, str]],
    k: int = 10,
    mode: str = "wand",
    max_edits: int = 1,
) -> DataFrame:
    """Top-k BM25 with Levenshtein-≤max_edits term expansion."""
    pairs = expand_fuzzy_queries(spark, index, queries, max_edits)
    return _search_from_pairs(spark, index, pairs, k, mode)


def conjunctive_matches(
    spark: SparkSession,
    index: IndexHandle,
    queries: list[tuple[int, str]],
) -> DataFrame:
    """The FULL conjunctive match set (query_id, doc_id, score), unranked:
    docs containing EVERY query term with their BM25 scores (rounded). The
    building block under AND search and the attribute-ranked /
    distinct-attribute serving variants."""
    pairs = _tokenize_queries(queries)
    n_terms = {}
    for qid, _ in pairs:
        n_terms[qid] = n_terms.get(qid, 0) + 1
    nt = spark.createDataFrame(list(n_terms.items()), "query_id int, n_terms int")
    per_shard = _serve_kernel(
        spark, index, pairs,
        _make_exhaustive_with_termcount(float(index.avgdl), index.payload_codec),
        _OUT_AND_SCHEMA,
    )
    return (
        per_shard.join(F.broadcast(nt), "query_id")
        .filter(F.col("hit_terms") == F.col("n_terms"))
        .withColumn("score", F.round("score", SCORE_DECIMALS))
        .select("query_id", "doc_id", "score")
    )


def search_conjunctive(
    spark: SparkSession,
    index: IndexHandle,
    queries: list[tuple[int, str]],
    k: int = 10,
) -> DataFrame:
    """AND semantics: only docs containing EVERY query term rank (the
    posting-list intersection of SURVEY §2.7; relationally a semi-join chain,
    here one aggregate with a term-count filter)."""
    matches = conjunctive_matches(spark, index, queries)
    return _rank_topk(matches, _n_queries(queries), int(k))


def search_topk_words(
    spark: SparkSession,
    index: IndexHandle,
    queries: list[tuple[int, str]],
    k: int = 10,
) -> DataFrame:
    """The Meilisearch WORDS ranking rule (its first-priority rule): docs
    matching MORE distinct query terms rank first; BM25 then doc_id break
    ties. (query_id, doc_id, hit_terms, score). Same plan as the AND path —
    the per-shard kernel already counts matched terms — minus the
    all-terms-required filter."""
    pairs = _tokenize_queries(queries)
    return _serve_kernel(
        spark, index, pairs,
        _make_exhaustive_with_termcount(float(index.avgdl), index.payload_codec),
        _OUT_AND_SCHEMA, k,
        [("hit_terms", False), *_BM25_ORDER], ["query_id", "doc_id", "hit_terms", "score"],
    )


def search_topk_sorted(
    spark: SparkSession,
    index: IndexHandle,
    docs: DataFrame,
    queries: list[tuple[int, str]],
    sort_col: str,
    k: int = 10,
    ascending: bool = False,
) -> DataFrame:
    """Meilisearch SORTABLE-ATTRIBUTE serving: conjunctive matches ranked by
    a document attribute (sort_col) instead of relevance; BM25 score rides
    along, doc_id breaks ties. (query_id, doc_id, <sort_col>, score).

    Scale: the attribute join is doc_id-keyed against the documents table
    (co-partitionable; AQE broadcasts the match side when a rare query makes
    it small); ranking is the standard per-query window. Meilisearch serves
    this from its facet_id_f64_docids grenad database — here the attribute
    lives in the documents table and the match set comes from the index."""
    matches = conjunctive_matches(spark, index, queries)
    j = matches.join(docs.select("doc_id", sort_col), "doc_id")
    return _rank_topk(
        j, _n_queries(queries), int(k),
        [(sort_col, ascending), ("doc_id", True)], ["query_id", "doc_id", sort_col, "score"],
    )


def search_topk_distinct_attr(
    spark: SparkSession,
    index: IndexHandle,
    docs: DataFrame,
    queries: list[tuple[int, str]],
    distinct_col: str,
    k: int = 10,
) -> DataFrame:
    """Meilisearch DISTINCT-ATTRIBUTE serving: at most ONE result per
    distinct_col value — the best-scoring doc of each group — then the
    global top-k by score. (query_id, doc_id, <distinct_col>, score).
    Two windows: rank-1 per (query, attribute-value), then the per-query
    top-k; both partition-pruned by query_id."""
    matches = conjunctive_matches(spark, index, queries)
    j = matches.join(docs.select("doc_id", distinct_col), "doc_id")
    w_grp = Window.partitionBy("query_id", distinct_col).orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    best = j.withColumn("grn", F.row_number().over(w_grp)).filter(F.col("grn") == 1)
    return _rank_topk(
        best, _n_queries(queries), int(k),
        cols=["query_id", "doc_id", distinct_col, "score"],
    )


_OUT_AND_SCHEMA = "query_id int, doc_id long, score double, hit_terms int"


def _make_exhaustive_with_termcount(avgdl: float, codec: str = "none"):
    """Like the exhaustive scorer but emits per-doc matched-term counts and
    does NOT truncate to k (the AND filter happens before ranking)."""

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        decoded, idfs = decode_postings(pdf, codec)
        docs, scores, hits = disjunctive_bm25(decoded, idfs, avgdl)
        return pd.DataFrame(
            {"query_id": int(pdf["query_id"].iloc[0]), "doc_id": docs,
             "score": scores, "hit_terms": hits}
        )

    return fn


DEFAULT_MAX_EXPANSIONS = 128  # Meilisearch-style serving cap: a 1-char
# prefix against a web vocabulary expands to millions of terms — serving
# defaults to the top-df 128 per prefix; pass None for exhaustive expansion


def search_topk_prefix(
    spark: SparkSession,
    index: IndexHandle,
    queries: list[tuple[int, str]],
    k: int = 10,
    mode: str = "wand",
    max_expansions: int | None = DEFAULT_MAX_EXPANSIONS,
) -> DataFrame:
    """Top-k BM25 where query terms may end in `*` (prefix expansion).
    max_expansions caps each prefix to its highest-df expansions (None =
    uncapped, exact — what the contract query runs on the small vocab)."""
    pairs = expand_prefix_queries(spark, index, queries, max_expansions)
    return _search_from_pairs(spark, index, pairs, k, mode)


# most distinct keys one packed-key IN literal carries (_packed_in); the
# survivor attaches collect pass 1 only when their block bound fits it
PACKED_IN_CAP = 2048


def _packed_in(
    spark: SparkSession,
    df: DataFrame,
    rows: list[tuple[int, ...]],
    cols: list[str],
    bits: list[int],
) -> DataFrame:
    """Restrict df to the collected key tuples `rows` over `cols`.

    Small sets pack each tuple into one BIGINT — component i in bits[i]
    bits, the last lowest — and come back as ONE SQL IN literal (hashed
    InSet, no broadcast build, no join). The literal is analysis-bound: a
    33k-element IN built 33k literal tree nodes before the InSet conversion
    and doubled a batch (measured), so above PACKED_IN_CAP distinct keys, or when a
    component falls outside its bit range (keys would alias), the join side
    is a broadcast DataFrame built from the SAME collected rows: the pass
    that produced them never runs twice."""
    rows = sorted({tuple(int(v) for v in r) for r in rows})
    in_range = all(0 <= v < (1 << b) for r in rows for v, b in zip(r, bits))
    if in_range and len(rows) <= PACKED_IN_CAP:
        keys = []  # ascending: tuple order is packed-key order in range
        for r in rows:
            key = 0
            for v, b in zip(r, bits):
                key = (key << b) | v
            keys.append(key)
        shift = sum(bits)
        parts = []
        for c, b in zip(cols, bits):
            shift -= b
            parts.append(f"shiftleft(CAST({c} AS BIGINT), {shift})" if shift else c)
        return df.filter(F.expr(f"{' + '.join(parts)} IN ({','.join(map(str, keys))})"))
    kdf = spark.createDataFrame(rows, ", ".join(f"{c} int" for c in cols))
    return df.join(F.broadcast(kdf), cols)


def _est_blocks(spark: SparkSession, index: IndexHandle, terms: list[str]) -> int:
    """Upper bound on the block rows of `terms` (one entry per occurrence).
    Blocks are chunked per (term, shard), so a term of df postings spread
    over S ≤ min(n_shards, df) shards holds at most ceil(df / block_size)
    + S − 1 blocks, and never more than df."""
    dfs = index.term_dfs(spark, terms)
    bs = int(index.manifest.get("block_size") or 128)
    n_shards = max(1, int(index.n_shards))
    total = 0
    for t in terms:
        df = dfs.get(t, 0)
        if df:
            total += min(df, -(-df // bs) + min(n_shards, df) - 1)
    return total


def _attach_query_terms(seg: DataFrame, rows: list[tuple[int, str, float]]) -> DataFrame:
    """Fan block rows out per query and attach idf WITHOUT a join.

    rows = driver-resolved (query_id, term, idf). Builds two literal-map
    expressions — term → array<query_id> and term → idf — and applies them
    as a map lookup + explode. Equivalent to the inner broadcast join on
    term (NULL lookups are dropped by explode), but stays inside one
    whole-stage-codegen stage: no broadcast exchange, no relation build,
    no extra job. Each map is one SQL string parsed by one F.expr call
    (sql_lit), so planning cost does not grow with the batch; literal
    size is bounded by the batch's distinct query terms."""
    qids: dict[str, list[int]] = {}
    idfs: dict[str, float] = {}
    for q, t, i in rows:
        qids.setdefault(t, []).append(int(q))
        idfs[t] = float(i)
    return seg.withColumn(
        "query_id", F.expr(f"explode({sql_lit(qids)}[term])")
    ).withColumn("idf", F.expr(f"{sql_lit(idfs)}[term]"))


def _query_blocks_from_pairs(
    spark: SparkSession,
    index: IndexHandle,
    qt: list[tuple[int, str]],
    columns: list[str] | None = None,
    table: str = "segments",
) -> tuple[DataFrame, DataFrame]:
    """Pruned (query_id × matching block rows) of the index table `table`
    (segments or positions) with idf attached, for (query_id, term) pairs.

    idf is computed on the driver (_idf_rows over IndexHandle.term_dfs, at
    any vocabulary size: out-of-vocabulary pairs drop) and ships INSIDE the
    attach — no term_dict scan or join in the plan. columns restricts the
    scan (parquet column pruning keeps unread columns on disk). Returns
    (blocks, qterms); qterms is None on the literal-map attach, the
    (empty) broadcast side when no pair is in the vocabulary."""
    seg = getattr(index, table)(spark).filter(isin("term", sorted({t for _, t in qt})))
    if columns is not None:
        seg = seg.select(*columns)
    rows = _idf_rows(spark, index, qt)
    if rows:
        # (query_id, idf) attach via LITERAL MAP expressions instead of a
        # broadcast hash join: building + shipping even a one-row
        # broadcast relation costs ~0.2 s per job (measured — it was the
        # single largest piece of single-query latency), while a literal
        # map lookup + explode is pure whole-stage-codegen work on the
        # already-pruned scan. Terms absent from the map yield NULL →
        # explode drops the row, exactly like the inner join it replaces.
        return _attach_query_terms(seg, rows), None
    qterms = spark.createDataFrame(rows, "query_id int, term string, idf double")
    return seg.join(F.broadcast(qterms), "term"), qterms


def _scoring_pairs(
    spark: SparkSession,
    index: IndexHandle,
    pairs: list[tuple[int, str]],
    required: list[tuple[int, str]] = (),
) -> list[tuple[int, str]]:
    """The (query_id, term) pairs of `pairs` that can match, in order. An
    out-of-vocabulary term drops (the disjunctive rule), and so does every
    pair of a query with an out-of-vocabulary `required` pair: pass `pairs`
    itself for the conjunctive rule (a query with an OOV term can never
    match)."""
    dfs = index.term_dfs(spark, {t for _, t in [*pairs, *required]})
    dead = {q for q, t in required if t not in dfs}
    return [(q, t) for q, t in pairs if t in dfs and q not in dead]


_OUT_SCHEMA = "query_id int, doc_id long, score double"
_OUT_COLS = ["query_id", "doc_id", "score"]
# rank orders within a query, (column, ascending) pairs for _rank_topk and
# _rank_local: BM25, then the rule tiers that sort ahead of it
_BM25_ORDER = [("score", False), ("doc_id", True)]
_TYPO_ORDER = [("hit_terms", False), ("typos", True), *_BM25_ORDER]
_PROXIMITY_ORDER = [("proximity", True), *_BM25_ORDER]


def search_topk(
    spark: SparkSession,
    index: IndexHandle,
    queries: list[tuple[int, str]],
    k: int = 10,
    mode: str = "exhaustive",
) -> DataFrame:
    """Top-k BM25 over the index. mode: 'exhaustive' | 'wand'.

    Both modes return identical results (asserted in tests/test_search.py);
    wand skips decoding blocks whose upper bound can't reach the running
    top-k threshold.
    """
    return _search_from_pairs(spark, index, _tokenize_queries(queries), k, mode)


def _range_survivors(
    rterms: list[dict], theta: float
) -> tuple[np.ndarray, np.ndarray]:
    """(sur_starts, sur_ends): block-boundary-aligned doc ranges whose summed
    covering-block upper bounds can reach θ − PRUNE_EPS. THE shared range
    machinery of both pruning tiers (in-UDF phase 2 and the pass-1 metadata
    pruner) — the off-by-one-prone searchsorted idioms the exactness proof
    rests on live exactly once. Each rterm needs sorted doc-disjoint
    (first, last, ub) arrays; sparse terms pass exact unit pseudo-blocks.

    >= (not >) against θ − PRUNE_EPS: a pruned doc with UB == θ could
    otherwise tie the kth ROUNDED score and deserve the slot by doc_id —
    ties must stay exact (final ranking rounds to SCORE_DECIMALS)."""
    bounds = np.unique(
        np.concatenate([t["first"] for t in rterms] + [t["last"] + 1 for t in rterms])
    )
    if bounds.size < 2:  # unreachable for nonempty blocks (last+1 > first)
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
    rstarts = bounds[:-1]
    range_ub = np.zeros(rstarts.size)
    for t in rterms:
        # block covering each range start (blocks are doc-disjoint, sorted):
        # idx of first block with last >= start
        bi = np.searchsorted(t["last"], rstarts)
        valid = bi < t["first"].size
        bi_c = np.minimum(bi, t["first"].size - 1)
        covers = valid & (t["first"][bi_c] <= rstarts)
        range_ub[covers] += t["ub"][bi_c[covers]]
    survive = range_ub >= theta - PRUNE_EPS
    return rstarts[survive], bounds[1:][survive]


def _overlap_mask(t: dict, sur_starts: np.ndarray, sur_ends: np.ndarray) -> np.ndarray:
    """Per-block bool mask: does any surviving range overlap the block?"""
    if sur_starts.size == 0:
        return np.zeros(t["first"].size, dtype=bool)
    i = np.searchsorted(sur_ends, t["first"], side="right")
    return (i < sur_starts.size) & (
        sur_starts[np.minimum(i, sur_starts.size - 1)] <= t["last"]
    )


def _est_postings(spark: SparkSession, index: IndexHandle, pairs: list[tuple]) -> int:
    """Σ df over the batch's (query, term, ...) pairs — the posting volume
    the scoring exchange will carry (each pair ships its term's blocks once
    per referencing query)."""
    dfs = index.term_dfs(spark, {p[1] for p in pairs})
    return sum(dfs.get(p[1], 0) for p in pairs)


def _group_params(
    spark: SparkSession,
    index: IndexHandle,
    n_queries: int,
    est_postings: int | None = None,
) -> tuple[int, int, int]:
    """(g, n_groups, n_qshards) for the scoring shuffle.

    QUERY-SIDE SHARD COALESCING: build-side shards are sized for skew-bounded
    encode groups (docs_per_shard), which can be far more groups than query
    cores. Consecutive shards are doc-range DISJOINT and ascending, so
    merging g of them per scoring group preserves exactness (the group is
    still one valid posting-list slice), widens WAND's pruning scope, and
    cuts per-group Python overhead by g×. n_groups right-sizes the explicit
    shuffle INTO the groups: the serving job's data is query-terms-only block
    rows (KBs-MBs), so a session-wide exchange (32 partitions on 4 cores)
    is pure task-scheduling overhead."""
    g, n_qshards = _qshard_params(spark, index, est_postings)
    n_groups = max(1, min(
        max(1, spark.sparkContext.defaultParallelism), n_queries * n_qshards
    ))
    return g, n_groups, n_qshards


def _batch_groups(spark: SparkSession, index: IndexHandle, pairs: list[tuple]) -> tuple[int, int]:
    """(g, n_part) for a kernel exchange over the block rows of `pairs`
    ((query_id, term, ...) tuples): the coalescing factor and partition
    count of _group_params under the batch's posting volume. The one
    sizing rule of every serving kernel; n_part == 1 means the narrow
    coalesce(1) in _grouped_apply, so a batch that fits one work-sized
    group plans no exchange at all."""
    g, n_groups, n_qshards = _group_params(
        spark, index, len({p[0] for p in pairs}), _est_postings(spark, index, pairs)
    )
    return g, min(n_groups, n_qshards)


def _n_queries(pairs: list[tuple]) -> int:
    """Distinct query_ids of (query_id, ...) tuples: the n_queries of
    _rank_topk."""
    return len({p[0] for p in pairs})


def _rank_topk(
    df: DataFrame,
    n_queries: int,
    kk: int,
    order: list[tuple[str, bool]] = _BM25_ORDER,
    cols: list[str] = _OUT_COLS,
) -> DataFrame:
    """The top-k of every serving path: keep the kk first rows of each
    query under `order` ((column, ascending) pairs, as _rank_local takes)
    and project `cols`, with a `score` column among them rounded to
    SCORE_DECIMALS first (rounding is idempotent: an input scored already
    rounded keeps its values). n_queries bounds the distinct query_ids of
    `df`; a single query plans ORDER BY + LIMIT, which compiles to
    TakeOrderedAndProject — no window exchange, the candidate rows reduce
    in the same job. A batch ranks in one row_number window per query."""
    if "score" in cols:
        df = df.withColumn("score", F.round("score", SCORE_DECIMALS))
    sort = [F.asc(c) if a else F.desc(c) for c, a in order]
    if n_queries == 1:
        return df.orderBy(*sort).limit(kk).select(*cols)
    w = Window.partitionBy("query_id").orderBy(*sort)
    return (
        df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= kk)
        .select(*cols)
    )


def _serve_local(spark: SparkSession, index: IndexHandle, pairs: list[tuple]) -> bool:
    """Run a kernel call on the driver instead of in a Spark job?

    Yes when the batch's posting volume (Σ df) fits one
    TARGET_GROUP_POSTINGS group: _batch_groups then plans one
    single-threaded task over the same rows, so the driver does the same
    work minus the job. No threshold of its own, and a 1-shard index or a
    1-core session whose batch is bigger than one group still scores in an
    executor task."""
    return _est_postings(spark, index, pairs) <= TARGET_GROUP_POSTINGS


def _idf_rows(
    spark: SparkSession, index: IndexHandle, pairs: list[tuple[int, str]]
) -> list[tuple[int, str, float]]:
    """(query_id, term, idf) for each (query_id, term) pair, idf from
    IndexHandle.term_dfs; terms absent from the vocabulary score nothing
    and drop. The one resolution rule of the Spark and driver-local
    plans."""
    dfs = index.term_dfs(spark, {t for _, t in pairs})
    n_docs = float(index.n_docs)
    return [(q, t, _driver_idf(n_docs, dfs[t])) for q, t in pairs if t in dfs]


def _local_blocks(
    index: IndexHandle, table: str, terms: list[str], columns: list[str]
) -> pd.DataFrame:
    """The `columns` (term among them) of the `term IN terms` block rows of
    the index table `table` (segments or positions), read on the driver.
    Only the row groups whose footer [min, max] term range holds a query
    term are read (IndexHandle.row_groups; a group without term statistics
    always is); the rows read are then filtered exactly. A read that
    selects no group is the table's empty schema. The rows convert to
    pandas on one thread: at the size the driver serves (Σ df ≤
    TARGET_GROUP_POSTINGS) the thread hand-off costs more than it saves."""
    want = sorted(terms)
    schema, files = index.row_groups(table, want)
    parts = [
        pq.ParquetFile(path, metadata=md).read_row_groups(groups, columns)
        for path, md, groups in files
    ]
    tbl = pa.concat_tables(parts or [schema.empty_table()]).select(columns)
    tbl = tbl.filter(pc.is_in(tbl["term"], value_set=pa.array(want, pa.string())))
    return tbl.to_pandas(use_threads=False)


@functools.lru_cache(maxsize=None)
def _struct_type(schema: str, cols: tuple[str, ...] | None = None) -> StructType:
    """The DDL string `schema` parsed once per process (projected on `cols`
    when given): createDataFrame parses a DDL string in the JVM on every
    call, a handful of py4j round trips per local relation."""
    st = _parse_datatype_string(schema)
    return st if cols is None else StructType([st[c] for c in cols])


@functools.lru_cache(maxsize=None)
def _arrow_schema(schema: str, cols: tuple[str, ...] | None = None) -> pa.Schema:
    return to_arrow_schema(_struct_type(schema, cols))


def _local_relation(
    spark: SparkSession, rows: pd.DataFrame | None, schema: str, cols: list[str] | None = None
) -> DataFrame:
    """A DataFrame over driver-held rows (None: no rows) with the columns
    of `schema`, or its `cols` in that order, built from an Arrow table so
    it plans a LocalTableScan and collecting it runs no Spark job.
    createDataFrame of an empty list or an empty pandas frame goes through
    an RDD instead, and its collect runs one."""
    cols = None if cols is None else tuple(cols)
    arrow = _arrow_schema(schema, cols)
    if rows is None:
        tbl = arrow.empty_table()
    else:
        tbl = pa.Table.from_pandas(rows, schema=arrow, preserve_index=False)
    return spark.createDataFrame(tbl, _struct_type(schema, cols))


def _empty_result(spark: SparkSession, schema: str) -> DataFrame:
    """The no-rows result of a call: a local relation, no Spark job."""
    return _local_relation(spark, None, schema)


def _rank_local(
    spark: SparkSession,
    out: pd.DataFrame,
    kk: int,
    order: list[tuple[str, bool]],
    cols: list[str],
    schema: str,
) -> DataFrame:
    """_rank_topk on the driver: round the score, order each query's rows
    by `order` ((column, ascending) pairs) after query_id — the row order
    the one-partition Spark plan collects — and keep kk rows per query, as
    a local relation of the `cols` of `schema`. One stable lexsort over
    (query_id, order keys; a descending key negated: every rank column is
    numeric) and a per-query head mask."""
    out = out.assign(score=out["score"].round(SCORE_DECIMALS))
    keys = [out[c].to_numpy() if a else -out[c].to_numpy() for c, a in order]
    qid = out["query_id"].to_numpy()
    idx = np.lexsort([*keys[::-1], qid])
    q = qid[idx]
    starts = np.flatnonzero(np.concatenate(([True], q[1:] != q[:-1])))
    rank = np.arange(q.size) - np.repeat(starts, np.diff(np.append(starts, q.size)))
    return _local_relation(spark, out.take(idx[rank < kk]), schema, cols)


def _apply_groups(pdf: pd.DataFrame, keys: list[str], fn, slice_groups: bool = True):
    """Call `fn` once per distinct `keys` combination of `pdf` (stable
    lexsort + boundary scan; the whole frame in one call when slice_groups
    is False) and concatenate the outputs. None when nothing came out. The
    per-group body of _grouped_apply and of the driver branch of
    _serve_kernel."""
    if not len(pdf):
        return None
    if not slice_groups:
        out = fn(pdf)
        return out if out is not None and len(out) else None
    arrs = [pdf[c].to_numpy() for c in keys]
    order = np.lexsort(arrs[::-1])
    pdf = pdf.take(order)
    arrs = [a[order] for a in arrs]
    change = np.zeros(len(pdf) - 1, dtype=bool)
    for a in arrs:
        change |= a[1:] != a[:-1]
    starts = np.concatenate(([0], np.flatnonzero(change) + 1, [len(pdf)]))
    outs = []
    for i in range(starts.size - 1):
        out = fn(pdf.iloc[int(starts[i]) : int(starts[i + 1])])
        if out is not None and len(out):
            outs.append(out)
    if not outs:
        return None
    return pd.concat(outs, ignore_index=True) if len(outs) > 1 else outs[0]


def _grouped_apply(
    df: DataFrame,
    keys: list[str],
    fn,
    out_schema: str,
    n_part: int,
    slice_groups: bool = True,
) -> DataFrame:
    """Call `fn` once per distinct `keys` group of `df` (the grouped-map
    semantics of Spark's applyInPandas) on the map protocol, mapInPandas.
    Every serving kernel's Spark branch (_serve_kernel) and the pass-1
    prune kernels dispatch through here.

    n_part comes from _batch_groups: the exchange is sized by the data it
    carries, never by the session's shuffle width (a session default
    scheduled 32 Python tasks on 4 cores for ~60 block rows).

    Spark's grouped-map Arrow protocol cost ~125 ms/job more than the map
    protocol on identical data (identity applyInPandas 430 ms vs identity
    mapInPandas 305 ms). This helper keeps the per-group semantics:
    hash-repartition on the keys (coalesce(1) when one group: no
    exchange), concatenate each partition's Arrow batches, slice per
    distinct key combination and call `fn` once per slice, on the same
    (columns incl. keys, multiset of rows) every applyInPandas group saw.

    slice_groups=False hands `fn` the whole concatenated partition in one
    call: for kernels that score every query of an arbitrary doc-disjoint
    slice of the index (qshards are doc-range disjoint, so a partition
    holding several of them is a coarser qshard) — one Python call per
    partition and a wider pruning scope.

    Memory: a task holds its whole partition instead of one group at a time;
    inputs here are query-term block rows whose volume per partition is
    bounded by (batch posting volume) / n_part — the same sizing rule
    (_qshard_params) that bounded per-group memory before."""
    part = df.coalesce(1) if n_part == 1 else df.repartition(n_part, *keys)

    def mfn(batches):
        pdfs = [p for p in batches]
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True) if len(pdfs) > 1 else pdfs[0]
        out = _apply_groups(pdf, keys, fn, slice_groups)
        if out is not None:
            yield out

    return part.mapInPandas(mfn, out_schema)


# block columns (after idf is attached) the BM25 kernels read: exhaustive
# scoring needs no block bounds, only first_doc to tell apart the blocks of
# a term (rows fanned out per query repeat a block); the typo kernels read
# only the payloads, the positional kernels position blocks
_SCORE_COLS = ["term", "idf", "n", "first_doc", "last_doc", "max_tf", "min_dl", "payload"]
_EXHAUSTIVE_COLS = ["term", "idf", "n", "first_doc", "payload"]
_PAYLOAD_COLS = ["term", "idf", "n", "payload"]
_POS_COLS = ["term", "idf", "n", "first_doc", "header", "positions"]


def _serve_kernel(
    spark: SparkSession,
    index: IndexHandle,
    pairs: list[tuple[int, str]],
    fn,
    out_schema: str,
    k: int | None = None,
    order: list[tuple[str, bool]] = _BM25_ORDER,
    cols: list[str] = _OUT_COLS,
    table: str = "segments",
    columns: list[str] | None = None,
    groups: str = "query_shard",
    prepass=None,
) -> DataFrame:
    """The one serving dispatch: kernel `fn` over the `columns` of the
    `table` block rows of the (query_id, term) `pairs` (default columns:
    _SCORE_COLS of segments, _POS_COLS of positions), then the top `k` rows
    of each query under `order`, projected on `cols` (k None: the kernel's
    rows, unranked). A ranked call runs on the driver when its posting
    volume fits one kernel group (_serve_local), else in a Spark job; both
    give the same rows. An unranked call always plans the Spark kernel:
    its output (up to the batch's matched docs) is joined or windowed in
    Spark afterwards, and handing that Spark a driver-built local relation
    measured slower than the one-task kernel job (search_topk_page over
    ~875k postings on 4 cores: 1.74 s against 0.77 s).

    `groups` is the kernel's input grouping, one per Spark plan shape:
    - "query_shard": one call per (query_id, shard DIV g) group;
    - "qshard": partitions of shard DIV g groups, one call per partition
      covering all its queries (the BM25 batch kernel);
    - "terms": partitions of the batch's term-union blocks, no query
      column, one call each (the shared-decode kernels; queries and idf
      ride in `fn`).
    g and the partition count come from the one volume rule, _batch_groups
    over `pairs`. Shards are doc-range disjoint and ascending and kernels
    re-sort blocks by first_doc, so a merged group is still one valid
    posting-list slice. Under the gate g = n_shards: the driver calls `fn`
    once per query_id ("qshard" and "terms": once).

    Driver: the block rows are read with pyarrow (_local_blocks), idf is
    attached from IndexHandle.term_dfs (a "qshard" kernel takes the
    (query_id, term, idf) triples as its `queries` arrays: no per-query
    fan-out of rows), and _rank_local ranks into a local relation: no Spark job. Spark: the block
    attach (_query_blocks_from_pairs, or the term-union scan), then
    `prepass` (blocks -> blocks, or None when the call has no rows: the
    Spark-only pass-1, shard and span prunes, which only shrink an exchange
    the driver does not have), the exchange into _grouped_apply, and
    _rank_topk."""
    if columns is None:
        columns = _SCORE_COLS if table == "segments" else _POS_COLS
    terms = sorted(index.term_dfs(spark, {t for _, t in pairs}))
    if k is not None and _serve_local(spark, index, pairs):
        out = None
        if terms:
            pdf = _local_blocks(index, table, terms, [c for c in columns if c != "idf"])
            qt = _idf_rows(spark, index, pairs)
            if groups == "qshard":  # the BM25 batch kernel takes the queries as arrays
                fn = functools.partial(fn, queries=tuple(np.array(c) for c in zip(*qt)))
            elif groups == "query_shard":
                pdf = pd.DataFrame(qt, columns=["query_id", "term", "idf"]).merge(pdf, on="term")
            out = _apply_groups(pdf, ["query_id"], fn, groups == "query_shard")
        if out is None:
            out = empty_frame(out_schema)
        return _rank_local(spark, out, int(k), order, cols, out_schema)

    g, n_part = _batch_groups(spark, index, pairs)
    if groups == "terms":
        blocks = getattr(index, table)(spark).filter(isin("term", terms))
    else:
        blocks, _ = _query_blocks_from_pairs(spark, index, pairs, table=table)
    if prepass is not None:
        blocks = prepass(blocks)
        if blocks is None:
            return _local_relation(spark, None, out_schema, None if k is None else cols)
    group = (F.col("shard") / g).cast("int")
    if groups == "query_shard":
        sel = blocks.select("query_id", group.alias("shard"), *columns)
        out = _grouped_apply(sel, ["query_id", "shard"], fn, out_schema, n_part)
    else:
        qcol = [] if groups == "terms" else ["query_id"]
        sel = blocks.select(*qcol, group.alias("qshard"), *columns)
        out = _grouped_apply(sel, ["qshard"], fn, out_schema, n_part, slice_groups=False)
    if k is None:
        return out
    return _rank_topk(out, _n_queries(pairs), int(k), order, cols)


def _search_from_pairs(
    spark: SparkSession,
    index: IndexHandle,
    pairs: list[tuple[int, str]],
    k: int = 10,
    mode: str = "exhaustive",
    prepass=None,
) -> DataFrame:
    if mode == "wand_pruned":
        return _search_pruned(spark, index, pairs, k)
    kernels = {
        "exhaustive": (_make_exhaustive, _EXHAUSTIVE_COLS),
        "wand": (_make_wand_batched, _SCORE_COLS),
    }
    if mode not in kernels:
        raise ValueError(f"unknown mode {mode!r}")
    make, columns = kernels[mode]
    fn = make(float(index.avgdl), int(k), index.payload_codec)
    return _serve_kernel(
        spark, index, pairs, fn, _OUT_SCHEMA, int(k), columns=columns, groups="qshard",
        prepass=prepass,
    )


# metadata prune pass: every block column EXCEPT payload (parquet column
# pruning keeps the payload bytes on disk for pass 1)
_META_COLS = [
    "term", "shard", "block_id", "n", "first_doc", "last_doc",
    "max_tf", "min_dl", "min_tf", "max_dl",
]
_SURVIVOR_SCHEMA = "query_id int, term string, shard int, block_id int"


def _has_block_bounds(spark: SparkSession, index: IndexHandle) -> bool:
    """Does the index carry the v2 block metadata (min_tf, max_dl) pass 1
    bounds from? Pre-v2 indexes serve the single-pass plans."""
    return "min_tf" in index.segments(spark).columns


def _search_pruned(
    spark: SparkSession,
    index: IndexHandle,
    pairs: list[tuple[int, str]],
    k: int = 10,
) -> DataFrame:
    """TWO-PASS serving: prune blocks from METADATA before any payload
    crosses the shuffle (the top r2 scale item — BASELINE.md measured that
    payload shuffle duplication dominates serving at scale).

    Pass 1 ships only block metadata (~30 B/block vs KB payloads), each
    distinct block once, into qshard partitions, computes a metadata-only θ
    lower bound per query and the surviving block set (see
    _make_meta_prune_shared). Pass 2 joins the survivors back against the
    segment table — AQE broadcasts the survivor list when pruning bites,
    so ONLY surviving payloads cross the exchange
    into the scoring UDF (which is the standard batched block-max WAND and
    re-derives its own tighter decoded θ on the surviving subset). Shuffled
    payload bytes become ∝ survivors instead of ∝ all query-term blocks —
    grenad's seek-never-reads-non-matching-blocks contract
    (src/reader/reader_cursor.rs:184-209) applied to the exchange.

    Exactness: θ_meta ≤ true kth score, so dropped blocks lie only in ranges
    whose total upper bound is below θ_meta − PRUNE_EPS — their docs can't
    enter the top-k even on a rounded tie, and a doc partially decoded from
    a surviving block that straddles a dead range scores ≤ its full score
    < θ_meta − PRUNE_EPS, so it can't displace anything either (same
    argument as the in-UDF range mask, asserted in tests/test_wand_property
    and the bm25_topk_wand_pruned contract gate).

    Pass 1 is the Spark branch's prepass of the wand call: a call served on
    the driver has no exchange for it to shrink, and the batched WAND
    kernel derives its own θ and skips the blocks that cannot reach it;
    both plans are exact, so the rows are the same. A batch whose query
    terms are all sparse (survivor_blocks: pass 1 would keep every block)
    and pre-v2 indexes (no min_tf/max_dl block metadata) serve the
    single-pass plan too."""

    def pass1(blocks: DataFrame) -> DataFrame | None:
        if not _has_block_bounds(spark, index):
            return blocks
        surv = survivor_blocks(spark, index, pairs, int(k))
        return _survivor_attach(spark, index, pairs, blocks, surv)

    return _search_from_pairs(spark, index, pairs, k, "wand", prepass=pass1)


def _survivor_attach(
    spark: SparkSession,
    index: IndexHandle,
    pairs: list[tuple[int, str]],
    blocks: DataFrame,
    survivors: DataFrame,
) -> DataFrame | None:
    """`blocks` restricted to the pass-1 survivors (None: none survive).

    A SUPERSET of the survivors is always exact — the scoring kernel
    re-derives its own θ and extra blocks only add correctly-scored
    candidates. When the block bound says the survivors fit the IN literal,
    pass 1 runs ONCE as a collect and comes back as a packed-key IN
    (_packed_in); the packed key drops the term (query_id·2⁴⁰ + shard·2²⁰ +
    block_id), so a colliding block of another query term ships too — the
    harmless-superset case. Otherwise the lazy broadcast join keeps pass 1
    inside the broadcast build (one run, zero extra jobs) — AQE alone would
    cost stage barriers (~0.5 s/batch measured). When pass 1 keeps every
    block (_keeps_every_block) `blocks` come back as they are."""
    if _keeps_every_block(survivors):
        return blocks
    est_blocks = _est_blocks(spark, index, [t for _, t in set(pairs)])
    if est_blocks is not None and est_blocks <= PACKED_IN_CAP:
        srows = survivors.select("query_id", "shard", "block_id").collect()
        if not srows:
            return None
        return _packed_in(
            spark, blocks, srows, ["query_id", "shard", "block_id"], [23, 20, 20]
        )
    return blocks.join(F.broadcast(survivors), ["query_id", "term", "shard", "block_id"])


# a query term is SPARSE when its whole posting list is comparable in size
# to the metadata stream — its payloads ride INTO pass 1 (still tiny) and get
# decoded there, turning its block-span upper bound into EXACT per-posting
# positions. Without this, a rare term's block spans nearly the entire doc
# range (164 postings spread over a shard) and its UB resurrects every range
# it covers — measured 100% survivors on the zipf bench. With it, ranges
# between rare postings carry zero rare mass and die: dense blocks survive
# only around actual rare-doc positions (the MaxScore essential-list
# economics, computed in one metadata pass).
SPARSE_DF_MAX = 65536


def survivor_blocks(
    spark: SparkSession,
    index: IndexHandle,
    pairs: list[tuple[int, str]],
    k: int,
    sparse_df_max: int = SPARSE_DF_MAX,
) -> DataFrame:
    """Pass-1 survivor set: (query_id, term, shard, block_id) of every block
    whose payload must cross the shuffle for an exact top-k. Public so the
    bench can report |survivors| / |query-term blocks| — the shuffled-bytes
    pruning ratio the two-pass plan exists for.

    DISTINCT-BLOCK pass 1: the query structure (terms per query, idf per
    term) is resolved on the driver from IndexHandle.term_dfs, and each
    block's metadata ships ONCE — a per-query fan-out would multiply the
    exchange by the number of referencing queries (64× for the zipf batch's
    common terms); _make_meta_prune_shared rebuilds the per-query views.
    Low-df (sparse, df ≤ sparse_df_max) query terms contribute their
    PAYLOADS too; high-df (dense) terms ship metadata only.

    A query with no dense term keeps every block (its θ comes from dense
    block metadata), so when no in-vocabulary query term has df >
    sparse_df_max — every term of an index under sparse_df_max docs — pass
    1 cannot prune. The result is then the lazy scan of every query-term
    block key, built with no job and marked so the two-pass callers serve
    their single-pass plan instead (_keeps_every_block)."""
    dfs = index.term_dfs(spark, {t for _, t in pairs})
    if not dfs:
        return _empty_result(spark, _SURVIVOR_SCHEMA)
    sparse_terms = sorted(t for t, df in dfs.items() if df <= sparse_df_max)
    dense_terms = sorted(t for t, df in dfs.items() if df > sparse_df_max)
    if not dense_terms:
        every, _ = _query_blocks_from_pairs(
            spark, index, sorted(set(pairs)), columns=["term", "shard", "block_id"]
        )
        every = every.select("query_id", "term", "shard", "block_id")
        every._keeps_every_block = True
        return every
    terms_by_q: dict[int, list[str]] = {}
    for q, t in pairs:
        if t in dfs:
            terms_by_q.setdefault(q, []).append(t)
    n_docs = float(index.n_docs)
    idfs = {t: _driver_idf(n_docs, df) for t, df in dfs.items()}
    seg = index.segments(spark)
    meta = (
        seg.filter(isin("term", dense_terms))
        .select(*_META_COLS)
        .withColumn("payload", F.lit(None).cast("binary"))
    )
    if sparse_terms:
        ms = seg.filter(isin("term", sparse_terms)).select(*_META_COLS, "payload")
        meta = meta.unionByName(ms)
    g, n_part = _batch_groups(spark, index, pairs)
    fn = _make_meta_prune_shared(terms_by_q, idfs, float(index.avgdl), int(k), index.payload_codec)
    return _grouped_apply(
        meta.select((F.col("shard") / g).cast("int").alias("qshard"), *_META_COLS, "payload"),
        ["qshard"],
        fn,
        _SURVIVOR_SCHEMA,
        n_part,
        slice_groups=False,
    )


def _keeps_every_block(survivors: DataFrame) -> bool:
    """True when survivor_blocks decided from the query terms' dfs that
    pass 1 keeps every query-term block: a two-pass plan would only add its
    cost."""
    return getattr(survivors, "_keeps_every_block", False)


def search_topk_auto(
    spark: SparkSession,
    index: IndexHandle,
    queries: list[tuple[int, str]],
    k: int = 10,
    prune_ratio_max: float = 0.5,
) -> DataFrame:
    """Serving entry that PICKS the plan per batch instead of asking the
    caller to know their corpus: run pass 1 (metadata-sized), measure
    |survivors| / |query-term blocks|, then either finish the two-pass plan
    with the already-computed survivor set (pruning bit — shuffle ∝
    survivors) or fall back to single-pass WAND (it didn't — a second
    metadata pass would only add cost). Pass-1 work is REUSED by pass 2 via
    an eager localCheckpoint (one materialization, nothing left cached);
    the denominator comes from term_dict's per-term n_blocks — a
    vocabulary-pruned lookup of |query terms| rows, not a metadata rescan.

    Pass 1 is the Spark branch's prepass of the wand call: a call served on
    the driver has no exchange for it to shrink, and serves the
    single-pass plan there with no job (same rows — both plans are exact).
    So does a batch whose query terms are all sparse (survivor_blocks says
    so from the query terms' dfs, with no job), and a pre-v2 index."""
    pairs = _tokenize_queries(queries)

    def pass1(blocks: DataFrame) -> DataFrame | None:
        if not _has_block_bounds(spark, index):
            return blocks
        surv = survivor_blocks(spark, index, pairs, int(k))
        if _keeps_every_block(surv):
            return blocks
        surv = surv.localCheckpoint()
        n_surv = surv.count()
        terms = sorted({t for _, t in pairs})
        nb = {
            r["term"]: int(r["n_blocks"])
            for r in index.term_dict(spark)
            .filter(isin("term", terms))
            .select("term", "n_blocks")
            .collect()
        }
        total = sum(nb.get(t, 0) for _, t in pairs)
        if total > 0 and n_surv <= prune_ratio_max * total:
            return _survivor_attach(spark, index, pairs, blocks, surv)
        return blocks

    return _search_from_pairs(spark, index, pairs, k, "wand", prepass=pass1)


def _make_meta_prune_shared(
    terms_by_q: dict[int, list[str]],
    idfs: dict[str, float],
    avgdl: float,
    k: int,
    codec: str = "none",
):
    """Pass-1 kernel: surviving (query_id, term, shard, block_id) of every
    query of `terms_by_q` over one partition of DISTINCT block rows (no
    per-query fan-out: the exchange ships each block's metadata ONCE, ≈
    |blocks| rows instead of |queries| × |blocks| — 64× less on the zipf
    batch, where two common terms appear in every query). Input is block
    METADATA for dense terms; sparse (low-df) terms also carry their
    payloads (tiny by the sparse_df_max bound). Rows are ordered by (term
    name, first_doc) with factorize and lexsort, as in _bm25_slice, and
    each term's entry (incl. the sparse decode) is built once and shared by
    every query that uses the term; the per-query θ/range/emit math is
    _prune_query_entries.

    θ is the max of valid lower bounds on a query's kth-best FULL score:
    - θ_meta (dense terms): each block guarantees every one of its docs
      scores at least lb = idf · tfpart(min_tf, max_dl) from that term alone
      (tfpart is increasing in tf, decreasing in dl — the dual of the
      block-max UPPER bound). Accumulate a term's blocks in descending-lb
      order until they hold ≥ k docs (distinct within a term); the last
      accepted lb bounds the kth-best score from below.
    - θ_seed (sparse terms): decode the sparse payloads and aggregate each
      doc's EXACT sparse-term contribution; the kth-largest partial score is
      ≤ the kth-best full score whenever ≥ k docs exist.
    - the cross-term bound (_cross_term_theta).

    Range analysis (as in _block_max, block boundaries → covering-block UB
    sums), with the sparse refinement: a decoded sparse posting contributes
    its EXACT score at exactly its own doc position (a unit-width
    pseudo-block) instead of a block-span UB — so ranges between sparse
    postings carry zero sparse mass and die when the dense UBs alone can't
    reach θ. A dense block survives iff it overlaps a surviving range;
    sparse blocks always ship (they are the small side). θ = −1 (no bound
    available) keeps everything — never lossy."""
    # snapshot the A/B toggle at PLAN time (driver): a closure variable is
    # pickled by value and travels with the plan, where workers importing
    # the module would read its default
    cross_term = CROSS_TERM_THETA

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = empty_frame(_SURVIVOR_SCHEMA)
        if len(pdf) == 0:
            return empty
        codes, names = pd.factorize(pdf["term"].to_numpy(), sort=True)
        order = np.lexsort((pdf["first_doc"].to_numpy(), codes))
        first_np, last_np, ns_np, shard_np, bid_np, pay_np = (
            pdf[c].to_numpy()[order]
            for c in ("first_doc", "last_doc", "n", "shard", "block_id", "payload")
        )
        max_tf, min_dl, min_tf, max_dl = (
            pdf[c].to_numpy()[order].astype(np.float64)
            for c in ("max_tf", "min_dl", "min_tf", "max_dl")
        )
        starts = np.searchsorted(codes[order], np.arange(len(names) + 1))
        entries: dict[str, dict] = {}
        for term, s, e in zip(names, starts[:-1], starts[1:]):
            idf = float(idfs[term])
            entry = {
                "term": term,
                "shard": shard_np[s:e],
                "bid": bid_np[s:e],
            }
            if pay_np[s] is not None:
                d, tf, dl = decode_blocks(pay_np[s:e], ns_np[s:e], codec)
                c = bm25(idf, tf, dl, avgdl)
                entry["first"] = d
                entry["last"] = d
                entry["ub"] = c
                entry["lb"] = c
                entry["nb"] = np.ones(d.size, dtype=np.int64)
                entry["sparse"] = True
            else:
                lb = idf * tfpart(min_tf[s:e], max_dl[s:e], avgdl)
                entry["first"] = first_np[s:e]
                entry["last"] = last_np[s:e]
                entry["ub"] = idf * tfpart(max_tf[s:e], min_dl[s:e], avgdl)
                entry["lb"] = lb
                entry["nb"] = ns_np[s:e]
                entry["sparse"] = False
                entry["theta_cand"] = _dense_theta_cand(lb, ns_np[s:e], k)
            entries[term] = entry
        outs = []
        for qid, qterms in sorted(terms_by_q.items()):
            terms = []
            sparse_terms = []
            for t in sorted(set(qterms)):
                ent = entries.get(t)
                if ent is None:
                    continue
                (sparse_terms if ent["sparse"] else terms).append(ent)
            if not terms and not sparse_terms:
                continue
            out = _prune_query_entries(
                qid, terms, sparse_terms, k, empty, cross_term
            )
            if len(out):
                outs.append(out)
        return pd.concat(outs, ignore_index=True) if outs else empty

    return fn


N_COARSE_RANGES = 32  # coarse ranges per qshard group for the cross-term θ
# A/B toggle (bench + tests): disable to measure what the per-term/sparse
# bounds alone prune — the r3 pruner's behavior
CROSS_TERM_THETA = True


def _cross_term_theta(rterms: list[dict], k: int) -> float:
    """CROSS-TERM θ lower bound from block metadata (the reference-spirit
    extension of the per-term bound: src/block.rs:214-255's block-max pivot
    math across ALL query terms at once).

    The per-term θ only ever proves "k docs score ≥ lb from ONE term" — on
    queries whose score mass is spread across terms it under-bounds by the
    other terms' guaranteed contributions. Pure block metadata cannot sum
    lbs per doc (a doc in term A's block need not appear in term B's), but
    COUNTING can: over a coarse doc range R of integer width W,

      c_t(R) = Σ n_b over blocks of t FULLY contained in R   (exact count)
      l_t(R) = min lb_b over those blocks                    (per-doc floor)

    and for the terms sorted by l desc, at least
      inter_p = max(0, Σ_{i≤p} c_i − (p−1)·W)
    distinct docs lie in ALL of the first p terms' postings within R
    (inclusion–exclusion over ≤ W integer doc ids), each scoring
    ≥ S_p = Σ_{i≤p} l_i. The nested family inter_1 ⊇ inter_2 ⊇ … yields
    disjoint count levels (inter_p − inter_{p+1} docs at value S_p); ranges
    are disjoint, so accumulating levels value-descending until ≥ k docs
    bounds the kth-best FULL score from below. Sparse terms participate with
    exact unit pseudo-blocks (their c is an exact count, l the exact score).

    Coarse (not block-boundary) ranges on purpose: fully-contained blocks
    contribute exact counts with zero span slack, where block-aligned ranges
    would pay (span − width) slack per term and the bound would collapse on
    misaligned block grids. Never lossy: returns −1 when fewer than k docs
    are guaranteed; the caller maxes this with the other θ sources."""
    if not rterms:
        return -1.0
    lo = min((int(t["first"][0]) for t in rterms if t["first"].size), default=0)
    hi = max((int(t["last"][-1]) for t in rterms if t["last"].size), default=-1)
    if hi <= lo:
        return -1.0
    # range granularity adapts to the densest term's block count: a range
    # needs to span ≥ ~2 blocks for full containment to count anything (a
    # term whose blocks are wider than the ranges contributes C = 0 — safe
    # but useless)
    n_ranges = max(1, min(N_COARSE_RANGES, max(t["first"].size for t in rterms) // 2))
    bounds = np.unique(np.linspace(lo, hi + 1, n_ranges + 1).astype(np.int64))
    starts, ends = bounds[:-1], bounds[1:]
    widths = (ends - starts).astype(np.float64)
    nR = starts.size
    T = len(rterms)
    L = np.zeros((T, nR))
    C = np.zeros((T, nR))
    for ti, t in enumerate(rterms):
        # blocks fully inside [s, e): contiguous run (blocks sorted, disjoint)
        i0 = np.searchsorted(t["first"], starts, side="left")
        i1 = np.searchsorted(t["last"], ends - 1, side="right")
        csum = np.concatenate(([0], np.cumsum(t["nb"])))
        for ri in range(nR):
            a, b = int(i0[ri]), int(i1[ri])
            if b > a:
                C[ti, ri] = csum[b] - csum[a]
                L[ti, ri] = float(t["lb"][a:b].min())
    order = np.argsort(-L, axis=0)
    Ls = np.take_along_axis(L, order, axis=0)
    Cs = np.take_along_axis(C, order, axis=0)
    S = np.cumsum(Ls, axis=0)
    CS = np.cumsum(Cs, axis=0)
    p_minus_1 = np.arange(T, dtype=np.float64)[:, None]
    inter = np.maximum(0.0, CS - p_minus_1 * widths[None, :])
    disj = inter - np.vstack([inter[1:], np.zeros((1, nR))])
    vals = S.ravel()
    cnts = disj.ravel()
    m = (cnts > 0) & (vals > 0)
    if not m.any():
        return -1.0
    vals, cnts = vals[m], cnts[m]
    o = np.argsort(-vals, kind="stable")
    cum = np.cumsum(cnts[o])
    idx = int(np.searchsorted(cum, k))
    if idx >= vals.size:
        return -1.0
    return float(vals[o][idx])


def _prune_query_entries(
    qid: int,
    terms: list[dict],
    sparse_terms: list[dict],
    k: int,
    empty: pd.DataFrame,
    cross_term: bool = True,
) -> pd.DataFrame:
    """Prune one query given its per-term entries (dense entries carry
    block-granular first/last/ub/lb/nb + the per-term θ candidate; sparse
    entries are exact decoded pseudo-blocks): the per-query θ/range/emit
    math of _make_meta_prune_shared."""
    theta = max([-1.0] + [float(t["theta_cand"]) for t in terms])
    if sparse_terms:
        sd = np.concatenate([t["first"] for t in sparse_terms])
        if sd.size:
            uniq, inv = np.unique(sd, return_inverse=True)
            agg = np.zeros(uniq.size)
            np.add.at(agg, inv, np.concatenate([t["ub"] for t in sparse_terms]))
            if uniq.size >= k:
                theta = max(
                    theta, float(np.partition(agg, uniq.size - k)[uniq.size - k])
                )
    # third independent bound: cross-term counting over coarse ranges —
    # fires on queries whose score mass is SPREAD across terms (the per-term
    # and sparse-seed bounds both under-count those); max of valid lower
    # bounds is a valid lower bound
    if cross_term and len(terms) + len(sparse_terms) > 1:
        theta = max(theta, _cross_term_theta(terms + sparse_terms, k))

    def emit(mask_per_term):
        frames = []
        all_terms = terms + sparse_terms
        all_masks = list(mask_per_term) + [
            np.ones(t["shard"].size, dtype=bool) for t in sparse_terms
        ]
        for t, m in zip(all_terms, all_masks):
            if m.any():
                frames.append(
                    pd.DataFrame(
                        {
                            "query_id": qid,
                            "term": t["term"],
                            "shard": t["shard"][m],
                            "block_id": t["bid"][m],
                        }
                    )
                )
        return pd.concat(frames, ignore_index=True) if frames else empty

    if theta < 0 or not terms:
        return emit([np.ones(t["shard"].size, dtype=bool) for t in terms])

    # both dense blocks and sparse pseudo-blocks contribute range mass;
    # only dense blocks need the overlap mask (sparse always ship)
    sur_starts, sur_ends = _range_survivors(terms + sparse_terms, theta)
    return emit([_overlap_mask(t, sur_starts, sur_ends) for t in terms])


def _dense_theta_cand(lb: np.ndarray, ns: np.ndarray, k: int) -> float:
    """Per-term θ candidate: accumulate blocks in descending-lb order until
    they hold ≥ k docs; the last accepted lb bounds the kth-best score."""
    order = np.argsort(-lb, kind="stable")
    c = np.cumsum(ns[order])
    if c.size and c[-1] >= k:
        j = int(np.searchsorted(c, k))
        return float(lb[order][j])
    return -1.0


def _resolve_live(
    spark: SparkSession, handles: list, paths: list, live_dir: str | None
) -> tuple[DataFrame, float, float] | None:
    """(doc_id → live_gen map, live n_docs, live avgdl) for a generation
    list — from the persisted live map when live_dir is given (retry-once +
    inline-derivation fallback on the documented unreadable windows), else
    derived inline from the membership tables. None ⇒ the live corpus is
    empty (serve an empty result)."""
    live = None
    n_docs = avgdl = 0.0
    if live_dir is not None:
        from grenad_spark.index.live import read_live_map

        try:
            from pyspark.errors import AnalysisException
        except ImportError:  # pragma: no cover - very old pyspark
            from pyspark.sql.utils import AnalysisException

        for attempt in range(2):
            try:
                live, n_docs, avgdl = read_live_map(spark, live_dir, paths)
                break
            except (ValueError, FileNotFoundError, OSError, AnalysisException) as exc:
                # unreadable-map window: the live map is REWRITTEN in place
                # (directory overwrite — seconds, not an atomic rename), so a
                # concurrent reader can see a missing dir (AnalysisException
                # from the parquet reader), a missing/partial live_docs
                # (_SUCCESS guard in read_live_map), or a stale generation
                # set (ValueError). Retry once, then fall back to the inline
                # derivation below, which is always correct for THIS caller's
                # generation list (just pays the membership aggregate).
                if attempt == 0:
                    import time as _time

                    _time.sleep(0.05)
                    continue
                import warnings

                warnings.warn(
                    f"live map at {live_dir} unreadable ({exc}); serving this "
                    f"batch via inline membership derivation",
                    RuntimeWarning,
                    stacklevel=2,
                )
        if live is not None and n_docs == 0:
            return None
    if live is None:
        docs_union = None
        for i, h in enumerate(handles):
            d = h.docs(spark).withColumn("gen", F.lit(i))
            docs_union = d if docs_union is None else docs_union.unionByName(d)
        live = docs_union.groupBy("doc_id").agg(F.max("gen").alias("live_gen"))
        live_docs = (
            docs_union.join(live, "doc_id")
            .filter(F.col("gen") == F.col("live_gen"))
            .select("doc_id", "dl")
        )
        st = live_docs.agg(
            F.count("*").cast("double").alias("n"), F.avg("dl").alias("a")
        ).first()
        # all generations empty / every doc tombstoned: avg(dl) is NULL —
        # return empty like the other search paths
        # (test_out_of_vocabulary_edges contract)
        if not st["n"] or st["a"] is None:
            return None
        n_docs, avgdl = float(st["n"]), float(st["a"])
    return live, n_docs, avgdl


def search_topk_fresh(
    spark: SparkSession,
    index_paths_or_handles: list,
    queries: list[tuple[int, str]],
    k: int = 10,
    live_dir: str | None = None,
) -> DataFrame:
    """QUERY-TIME GENERATION MERGE — grenad's MergerIter at read time.

    Searches the LOGICAL corpus across unmerged generation indexes (a base
    build plus crawl deltas): the newest generation containing a doc wins,
    exactly as compaction would decide, but WITHOUT waiting for compaction —
    the LSM read path that keeps results fresh while the crawler runs.

    Dataflow (pruned to query terms throughout): per-generation pruned block
    scan → vectorized decode (per-generation codec) → doc-level tombstone
    filter (doc → newest generation) → BM25 over the merged postings with
    LIVE corpus stats (n_docs/avgdl over live docs, df per query term over
    live postings). At web scale the decode touches only query-term blocks
    of ≤25 generations; the live map is doc-keyed and co-partitionable (AQE
    broadcasts it when the delta is small).

    live_dir — the PERSISTED live map written at delta-build time
    (index/live.py). With it, the serving plan never touches the membership
    tables: no corpus-sized groupBy and no stats action per query batch.
    Without it (None), both are derived inline — correct, but a
    corpus-membership-sized aggregate per call.

    A live map that is momentarily unreadable (mid-swap rename window,
    compaction in flight, stale generation set after a delta build before
    its _refresh completes) is retried once and then served via the inline
    derivation with a warning — a concurrent reader never fails outright on
    a map that is merely behind (index/live.py documents the windows)."""
    from grenad_spark.index.build import IndexHandle
    from grenad_spark.index.compact import _DECODED_SCHEMA, _make_decode_partition
    from grenad_spark.query.bm25 import score_expr

    handles = [
        h if isinstance(h, IndexHandle) else IndexHandle(h)
        for h in index_paths_or_handles
    ]
    paths = [
        h if not isinstance(h, IndexHandle) else h.path
        for h in index_paths_or_handles
    ]
    pairs = _tokenize_queries(queries)
    terms = sorted({t for _, t in pairs})
    codecs = [h.payload_codec for h in handles]

    seg_union = None
    for i, h in enumerate(handles):
        s = (
            h.segments(spark)
            .filter(isin("term", terms))
            .select("term", "shard", "block_id", "n", "payload")
            .withColumn("gen", F.lit(i))
        )
        seg_union = s if seg_union is None else seg_union.unionByName(s)

    resolved = _resolve_live(spark, handles, paths, live_dir)
    if resolved is None:
        return _empty_result(spark, _OUT_SCHEMA)
    live, n_docs, avgdl = resolved

    decoded = seg_union.mapInPandas(_make_decode_partition(codecs), _DECODED_SCHEMA)
    tdt = (
        decoded.join(live, "doc_id")
        .filter(F.col("gen") == F.col("live_gen"))
        .select("term", "doc_id", "tf", "dl")
    )
    # df per query term over the LIVE corpus — BM25 only ever needs df for
    # the query terms, so the stats job is pruned-scan sized
    ts = tdt.groupBy("term").agg(F.count("*").cast("double").alias("df"))
    qt = spark.createDataFrame(pairs, "query_id int, term string")
    per_term = (
        tdt.join(F.broadcast(qt), "term")
        .join(F.broadcast(ts), "term")
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
    return _rank_topk(scored, _n_queries(pairs), int(k))


def search_topk_shared(
    spark: SparkSession,
    index: IndexHandle,
    queries: list[tuple[int, str]],
    k: int = 10,
    prune: bool = False,
) -> DataFrame:
    """DECODE-ONCE, SCORE-MANY batch serving. The per-query paths join
    query_ids onto block rows, so a block of a term Q queries share ships Q
    times; this path ships every distinct (term, qshard) block exactly ONCE
    (shuffle ∝ index slice, not Q × slice), and the BM25 batch kernel
    (_bm25_slice, every term sparse) joins the driver's (query_id, term,
    idf) triples to the rows in-kernel and scores every query of a
    partition from one decode. Results are identical to mode='exhaustive'
    (asserted in tests/test_search.py).

    prune=True composes the pass-1 metadata pruner on top: shuffle becomes
    ∝ the UNION over queries of surviving blocks (each block still ships at
    most once). Exact by the same argument as wand_pruned: a block pruned
    for query q only held docs whose full q-score is below q's θ − ε, so the
    partial scores those docs may get from blocks other queries kept can
    never enter q's top-k even on a rounded tie. Requires v2 block metadata;
    serves unpruned otherwise, and when every query term is sparse (pass 1
    would keep every block — survivor_blocks).

    A call that fits one kernel group (_serve_local) runs on the driver with
    no Spark job and no pass 1 (there is no exchange to shrink). idf comes
    from IndexHandle.term_dfs at any vocabulary size."""
    pairs = _tokenize_queries(queries)
    kk = int(k)
    qinfo = _idf_rows(spark, index, pairs)
    terms = sorted({t for _, t, _ in qinfo})
    if not terms:
        return _empty_result(spark, _OUT_SCHEMA)
    fn = functools.partial(
        _make_exhaustive(float(index.avgdl), kk, index.payload_codec),
        queries=tuple(np.array(c) for c in zip(*qinfo)),
    )

    def pass1(seg: DataFrame) -> DataFrame | None:
        if not prune or not _has_block_bounds(spark, index):
            return seg
        surv_df = survivor_blocks(spark, index, pairs, kk)
        if _keeps_every_block(surv_df):
            return seg
        # a SUPERSET of the survivors is exact here (every shipped block is
        # scored exhaustively for all queries sharing its term), so the
        # packed key can drop both query_id and term — (shard, block_id)
        # collisions just ship the harmless extra block once. Pass 1 runs
        # exactly ONCE either way: the collect, or the lazy broadcast build.
        if _est_blocks(spark, index, terms) <= PACKED_IN_CAP:
            srows = surv_df.select("shard", "block_id").collect()
            if not srows:
                return None
            return _packed_in(spark, seg, srows, ["shard", "block_id"], [20, 20])
        surv = F.broadcast(surv_df.select("term", "shard", "block_id").distinct())
        return seg.join(surv, ["term", "shard", "block_id"])

    return _serve_kernel(
        spark, index, pairs, fn, _OUT_SCHEMA, kk,
        columns=["term", "n", "payload"], groups="terms", prepass=pass1,
    )


def _make_exhaustive(avgdl: float, k: int, codec: str = "none"):
    """_make_wand_batched with every term sparse: no block-max pruning."""
    return _make_wand_batched(avgdl, k, codec, sparse_postings_max=2**62)


# in-UDF sparse threshold: a term whose postings WITHIN the group total at
# most this many decodes upfront and prunes at exact posting positions (unit
# pseudo-blocks). Without it, a rare term's block span covers most of the
# group's doc range and its UB resurrects every range it touches — block-
# granular pruning then structurally can't fire on exactly the zipfian
# queries it exists for (measured: ~100% of ranges survived). A query with
# every term this sparse skips block-max.
SPARSE_GROUP_POSTINGS = 4096


def _make_wand_batched(
    avgdl: float, k: int, codec: str = "none",
    sparse_postings_max: int = SPARSE_GROUP_POSTINGS,
):
    """The BM25 top-k kernel: _bm25_slice over all queries of a doc-disjoint
    slice of (query_id, term, idf, n, first_doc, last_doc, max_tf, min_dl,
    payload) rows in one call; only a query with a term of more than
    sparse_postings_max postings in the slice runs block-max pruning."""
    return functools.partial(
        _bm25_slice, avgdl=avgdl, k=k, codec=codec, sparse_max=sparse_postings_max
    )


def _bm25_slice(
    pdf: pd.DataFrame, avgdl: float, k: int, codec: str, sparse_max: int, queries=None
) -> pd.DataFrame:
    """Top-k rows of every query over one slice's block rows (term, n,
    payload[, first_doc, last_doc, max_tf, min_dl]); `queries` = (query ids,
    terms, idfs) arrays, None for the rows' own. Terms are coded in name
    order, the order every per-doc sum adds them in. Rows of one (term,
    first_doc) are one block (each row, without first_doc), decoded at most
    once into a store of (doc id, BM25 without idf) in (term, first_doc)
    order. A query whose terms hold at most sparse_max postings each in the
    slice sums them per doc (doc_sums), any other runs _block_max."""
    codes, names = pd.factorize(pdf["term"].to_numpy(), sort=True)
    qids, qterms, qidfs = queries or (pdf["query_id"].to_numpy(), None, pdf["idf"].to_numpy())
    qcodes = codes if qterms is None else pd.Index(names).get_indexer(qterms)
    ok = qcodes >= 0
    # the distinct (query, term) pairs, by query id, then term name
    key, at = np.unique(qids[ok].astype(np.int64) * len(names) + qcodes[ok], return_index=True)
    if not key.size:
        return empty_frame(_OUT_SCHEMA)
    qids, qcodes, qidfs = key // len(names), key % len(names), qidfs[ok][at].astype(np.float64)

    first = pdf["first_doc"].to_numpy() if "first_doc" in pdf else np.arange(len(pdf))
    order = np.lexsort((first, codes))
    c, f = codes[order], first[order]
    rows = order[np.concatenate(([True], (c[1:] != c[:-1]) | (f[1:] != f[:-1])))]
    ns = pdf["n"].to_numpy()[rows].astype(np.int64)
    payloads = pdf["payload"].to_numpy()[rows]
    tblock = np.searchsorted(codes[rows], np.arange(len(names) + 1))  # term -> blocks
    boff = np.concatenate(([0], np.cumsum(ns)))  # block -> store range
    tpost, tlen = boff[tblock], np.diff(boff[tblock])  # term -> store range
    store_d, store_p = np.empty(boff[-1], dtype=np.int64), np.empty(boff[-1])
    held = np.zeros(rows.size, dtype=bool)

    def fetch(bidx):
        """Store positions of distinct blocks bidx (one decode of unheld ones)."""
        miss = bidx[~held[bidx]]
        if miss.size:
            d, tf, dl = decode_blocks(payloads[miss], ns[miss], codec)
            at = spans(boff[miss], ns[miss])
            store_d[at] = d
            store_p[at] = tfpart(tf.astype(np.float64), dl.astype(np.float64), avgdl)
            held[miss] = True
        return spans(boff[bidx], ns[bidx])

    def decode(t, bidx):
        """(docs, BM25) of the blocks bidx of a _block_max term."""
        if "decoded" in t:
            return t["decoded"][0][bidx], t["decoded"][1][bidx]
        at = fetch(t["bix"][bidx])
        return store_d[at], t["idf"] * store_p[at]

    starts = np.flatnonzero(np.concatenate(([True], qids[1:] != qids[:-1])))
    ends = np.append(starts[1:], qids.size)
    dense = np.maximum.reduceat(tlen[qcodes], starts) > sparse_max
    # the sparse queries' postings, gathered in (query, term) order
    plen = np.where(np.repeat(dense, ends - starts), 0, tlen[qcodes])
    used = np.unique(qcodes[plen > 0])
    at = spans(tpost[qcodes], plen)
    fetch(spans(tblock[used], np.diff(tblock)[used]))
    d_all, s_all = store_d[at], np.repeat(qidfs, plen) * store_p[at]
    pbound = np.append(0, np.cumsum(plen))
    if dense.any():
        first, last, max_tf, min_dl = (
            pdf[c].to_numpy()[rows] for c in ("first_doc", "last_doc", "max_tf", "min_dl")
        )
        ub_part = tfpart(max_tf.astype(np.float64), min_dl.astype(np.float64), avgdl)
    cands = []
    for q, a, e, is_dense in zip(qids[starts], starts, ends, dense):
        if not is_dense:
            sl = slice(pbound[a], pbound[e])
            cands.append((q, *doc_sums(d_all[sl], s_all[sl])[:2]))
            continue
        terms = []
        for c, idf in zip(qcodes[a:e], qidfs[a:e]):
            b = np.arange(tblock[c], tblock[c + 1])
            terms.append({"idf": idf, "bix": b, "first": first[b], "last": last[b],
                          "ns": ns[b], "ub": idf * ub_part[b]})
        hit = _block_max(terms, k, sparse_max, decode)
        if hit is not None:
            cands.append((q, *hit))
    return topk_rows(cands, k) if cands else empty_frame(_OUT_SCHEMA)


def _block_max(terms: list[dict], k: int, sparse_max: int, decode):
    """(docs, scores) of one query's top-k contenders, or None: the
    block-max math of grenad's pull-based seek loop (per-term cursors
    pivoting doc by doc) with NO per-doc Python, over `terms` (each query
    term's idf and block arrays bix, first, last, ns, ub); decode(t, bidx)
    gives (docs, BM25) of the blocks bidx of term t.

      0. SPARSE terms (≤ sparse_max postings in the group) of a multi-term
         query decode upfront — cheap by the bound — and turn into exact
         unit-width pseudo-blocks (first=last=doc, ub=exact contribution),
         so ranges BETWEEN their postings carry zero mass from them.
      1. θ₀: decode the single best block of the highest-impact term, compute
         those docs' EXACT scores (decoding just the blocks of other terms
         that contain them), take the kth best.
      2. Split the shard's doc space at every block boundary; for each
         resulting range, UB(range) = Σ_terms block_ub of the overlapping
         block. Ranges with UB ≤ θ₀ cannot contain a top-k doc — skip.
      3. Decode only blocks overlapping surviving ranges, mask decoded docs
         to surviving ranges (exactness at θ ties), scatter-add.

    On adversarially uniform corpora nothing prunes and this degrades to the
    exhaustive scorer plus metadata work; on zipfian corpora the rare terms'
    exact positions kill every head-term-only range, exactly like block-max
    WAND over essential lists.
    """
    # --- phase 0: sparse terms -> exact unit pseudo-blocks
    if len(terms) > 1:
        for t in terms:
            if int(t["ns"].sum()) <= sparse_max:
                d, s = decode(t, np.arange(t["first"].size))
                t.update(first=d, last=d, ns=np.ones(d.size, dtype=np.int64), ub=s, decoded=(d, s))

    # --- phase 1: θ₀ from the best blocks of the highest-impact terms.
    # Take blocks in descending-UB order until the seed holds ≥ k DISTINCT
    # docs, CONTINUING into the next-best term when one term's postings
    # run out: a rare term (the highest-impact one on zipfian corpora)
    # often has fewer than k docs in a group, which would otherwise leave
    # θ = -1 and disable pruning exactly where it matters most.
    seed_parts = []
    n_seed = 0
    for t in sorted(terms, key=lambda t: -float(t["ub"].max())):
        ub_order = np.argsort(-t["ub"], kind="stable")
        acc_docs = np.cumsum(t["ns"][ub_order])
        nb = int(np.searchsorted(acc_docs, max(1, k - n_seed))) + 1
        d, _ = decode(t, np.sort(ub_order[:nb]))
        seed_parts.append(d)
        n_seed = np.unique(np.concatenate(seed_parts)).size
        if n_seed >= k:
            break
    seed_docs = np.unique(np.concatenate(seed_parts))
    seed_scores = np.zeros(seed_docs.size)
    for t in terms:
        # blocks of t containing any seed doc
        bi = np.unique(np.searchsorted(t["last"], seed_docs))
        bi = bi[bi < t["first"].size]
        d, s = decode(t, bi)
        if d.size == 0:  # seed docs all past this term's last block
            continue
        pos = np.searchsorted(d, seed_docs)
        hit = (pos < d.size) & (d[np.minimum(pos, d.size - 1)] == seed_docs)
        seed_scores[hit] += s[pos[hit]]
    if seed_docs.size >= k:
        theta = float(np.partition(seed_scores, seed_docs.size - k)[seed_docs.size - k])
    else:
        theta = -1.0

    # --- phase 2: range UBs on block-boundary-aligned doc ranges
    # (shared machinery with the pass-1 metadata pruner — see
    # _range_survivors for the θ-tie/PRUNE_EPS reasoning)
    sur_starts, sur_ends = _range_survivors(terms, theta)

    # --- phase 3: decode surviving blocks, mask, score (doc_sums)
    doc_parts, score_parts = [], []
    for t in terms:
        # a block survives if any surviving range overlaps it
        d, s = decode(t, np.flatnonzero(_overlap_mask(t, sur_starts, sur_ends)))
        if d.size == 0:
            continue
        # mask decoded docs to surviving ranges (exactness at θ ties)
        ridx = np.searchsorted(sur_starts, d, side="right") - 1
        ok = (ridx >= 0) & (d < sur_ends[np.maximum(ridx, 0)])
        if ok.any():
            doc_parts.append(d[ok])
            score_parts.append(s[ok])
    if not doc_parts:
        return None
    docs, scores, _ = doc_sums(np.concatenate(doc_parts), np.concatenate(score_parts))
    # θ-filter before the ranking sort: every true top-k doc scores
    # ≥ θ (θ is a lower bound on the kth score), so keeping
    # score > θ - PRUNE_EPS (rounded-tie slack) is lossless and cuts
    # the lexsort to the contender set
    keep = scores > theta - PRUNE_EPS
    if np.count_nonzero(keep) >= k:
        docs, scores = docs[keep], scores[keep]
    return docs, scores


# ---------------------------------------------------------------------------
# typo-ranked fuzzy search — the Meilisearch rule pipeline words → typo →
# relevance applied to typo-tolerant queries: docs covering more query-term
# slots rank first, then fewer total typos (Σ per covered slot of the min
# edit distance among the doc's matched derivations), then BM25, then doc.
# ---------------------------------------------------------------------------

_OUT_TYPO_SCHEMA = "query_id int, doc_id long, hit_terms int, typos long, score double"
_TYPO_COLS = ["query_id", "doc_id", "hit_terms", "typos", "score"]


def _levenshtein(a: str, b: str) -> int:
    """Plain DP edit distance (driver-side only, expansion-set sized)."""
    if a == b:
        return 0
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def _query_slots(queries: list[tuple[int, str]]) -> dict[int, list[str]]:
    """qid -> the query's distinct words in order: its typo slots."""
    qslots: dict[int, list[str]] = {}
    for qid, qterm in _tokenize_queries(queries):
        qslots.setdefault(qid, []).append(qterm)
    return qslots


def _slot_meta(
    qslots: dict[int, list[str]], pairs: list[tuple[int, str]], budget
) -> dict[int, dict[str, list[tuple[int, int]]]]:
    """qid -> {expansion term -> [(slot, edit distance)]} of (qid, term)
    pairs: a term covers slot i iff lev(term, word_i) <= budget(word_i);
    a term that covers no slot is left out."""
    slot_meta: dict[int, dict[str, list[tuple[int, int]]]] = {}
    for qid, term in pairs:
        tl = []
        for slot, qterm in enumerate(qslots[qid]):
            d = _levenshtein(term, qterm)
            if d <= budget(qterm):
                tl.append((slot, d))
        if tl:
            slot_meta.setdefault(qid, {})[term] = tl
    return slot_meta


def _make_typo_ranked_kernel(
    slot_meta: dict[int, dict[str, list[tuple[int, int]]]],
    avgdl: float,
    codec: str,
):
    """slot_meta: qid -> {expansion term -> [(qterm slot, edit distance)]}.
    One expansion term may serve SEVERAL query slots (each within
    max_edits) — the oracle credits every slot, so the kernel must too."""

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        qid = int(pdf["query_id"].iloc[0])
        meta = slot_meta[qid]
        decoded, idfs = decode_postings(pdf, codec)
        cov_docs, cov_slots, cov_typos = [], [], []
        for term, (d, _tf, _dl) in decoded.items():
            for slot, typo in meta[term]:
                cov_docs.append(d)
                cov_slots.append(np.full(d.size, slot, dtype=np.int64))
                cov_typos.append(np.full(d.size, typo, dtype=np.int64))
        if not cov_docs:
            return empty_frame(_OUT_TYPO_SCHEMA)
        n_slots = 1 + max(s for tl in meta.values() for s, _ in tl)
        packed = np.concatenate(cov_docs) * np.int64(n_slots) + np.concatenate(cov_slots)
        tarr = np.concatenate(cov_typos)
        uniq, inv = np.unique(packed, return_inverse=True)
        mintypo = np.full(uniq.size, np.iinfo(np.int64).max, dtype=np.int64)
        np.minimum.at(mintypo, inv, tarr)
        docs_u = uniq // np.int64(n_slots)
        du, dinv = np.unique(docs_u, return_inverse=True)
        hits = np.zeros(du.size, dtype=np.int64)
        np.add.at(hits, dinv, 1)
        tsum = np.zeros(du.size, dtype=np.int64)
        np.add.at(tsum, dinv, mintypo)
        # BM25 over the distinct expansion terms, aggregated per doc; its
        # docs == du: both are the docs matching >= 1 expansion term
        _, sagg, _ = disjunctive_bm25(decoded, idfs, avgdl)
        return pd.DataFrame(
            {
                "query_id": qid,
                "doc_id": du,
                "hit_terms": hits.astype(np.int32),
                "typos": tsum,
                "score": sagg,
            }
        )

    return fn


def search_topk_fuzzy_ranked(
    spark: SparkSession,
    index: IndexHandle,
    queries: list[tuple[int, str]],
    k: int = 10,
    max_edits: int = 1,
) -> DataFrame:
    """Typo-tolerant search ranked by the Meilisearch rule pipeline:
    (covered query-term slots DESC, total typos ASC, BM25 DESC, doc_id ASC).
    (query_id, doc_id, hit_terms, typos, score). Expansion reuses the
    typo expansion (expand_fuzzy_queries); slot+distance metadata
    is driver-computed over the expansion set and rides the kernel closure
    (block rows never duplicate per slot)."""
    pairs = expand_fuzzy_queries(spark, index, queries, max_edits)
    if not pairs:
        return _empty_result(spark, _OUT_TYPO_SCHEMA)
    slot_meta = _slot_meta(_query_slots(queries), pairs, lambda _w: max_edits)
    pairs = [(q, t) for q, t in pairs if t in slot_meta.get(q, {})]
    if not pairs:
        return _empty_result(spark, _OUT_TYPO_SCHEMA)
    return _serve_kernel(
        spark, index, pairs,
        _make_typo_ranked_kernel(slot_meta, float(index.avgdl), index.payload_codec),
        _OUT_TYPO_SCHEMA, k, _TYPO_ORDER, _TYPO_COLS, columns=_PAYLOAD_COLS,
    )


def search_topk_page(
    spark: SparkSession,
    index: IndexHandle,
    queries: list[tuple[int, str]],
    offset: int = 0,
    limit: int = 10,
) -> DataFrame:
    """Paginated search with EXHAUSTIVE total hits (the Meilisearch
    page/hitsPerPage mode, which switches totalHits from an estimate to an
    exact count): (query_id, doc_id, score, rank, total_hits) for ranks
    offset+1 .. offset+limit, rank = (score DESC, doc_id ASC) position,
    total_hits = full disjunctive match-set size.

    Plan: the untruncated per-shard scorer (the AND path's kernel) feeds ONE
    window pass that yields both the rank and the exact count — no second
    scan. The sort carries the full match set, the price Meilisearch also
    pays in this mode (its default estimatedTotalHits mode is the ordinary
    top-k path, search_topk with k = offset + limit)."""
    pairs = _tokenize_queries(queries)
    if not pairs:
        return _empty_result(
            spark, "query_id int, doc_id long, score double, rank int, total_hits long"
        )
    per_shard = _serve_kernel(
        spark, index, pairs,
        _make_exhaustive_with_termcount(float(index.avgdl), index.payload_codec),
        _OUT_AND_SCHEMA,
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    cw = Window.partitionBy("query_id")
    return (
        per_shard.withColumn("score", F.round("score", SCORE_DECIMALS))
        .withColumn("rank", F.row_number().over(w))
        .withColumn("total_hits", F.count("*").over(cw).cast("long"))
        .filter((F.col("rank") > int(offset)) & (F.col("rank") <= int(offset) + int(limit)))
        .select("query_id", "doc_id", "score", "rank", "total_hits")
    )


def placeholder_page(
    spark: SparkSession,
    docs: DataFrame,
    filter_sql: str | None,
    sort: list[tuple[str, bool]],
    offset: int = 0,
    limit: int = 20,
) -> DataFrame:
    """Meilisearch PLACEHOLDER search (empty `q`): browse the index under
    filter + sort + exhaustive pagination — no relevance, no index scan.
    sort = [(column, ascending), ...]; doc_id ASC is the final tiebreak.
    Returns (doc_id, rank, total_hits) — rank is 1-based over the full
    sorted match set, total_hits the exact filtered count.

    Scale: the filter is a pushed-down predicate on the documents scan
    (only doc_id + filter/sort columns read). The page is produced by a
    DISTRIBUTED top-(offset+limit) (TakeOrderedAndProject — per-partition
    heaps, no global sort), then one window over those ≤ offset+limit rows;
    total_hits is one column-pruned count agg joined as a literal-sized
    side. A deep page costs O(offset+limit), never a full sort — the same
    reason Meilisearch caps maxTotalHits."""
    base = docs
    if filter_sql:
        base = base.filter(F.expr(filter_sql))
    order = [F.asc(c) if a else F.desc(c) for c, a in sort] + [F.asc("doc_id")]
    cols = ["doc_id"] + [c for c, _ in sort]
    top = base.select(*cols).orderBy(*order).limit(int(offset) + int(limit))
    total = base.select(F.count("*").cast("long").alias("total_hits"))
    w = Window.orderBy(*order)
    return (
        top.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") > int(offset))
        .crossJoin(F.broadcast(total))
        .select("doc_id", "rank", "total_hits")
    )


def sql_placeholder_page(
    filter_sql: str | None,
    sort: list[tuple[str, bool]],
    offset: int = 0,
    limit: int = 20,
) -> str:
    """DuckDB oracle for placeholder_page (same compiled filter string)."""
    order = ", ".join(
        [f"{c} {'ASC' if a else 'DESC'}" for c, a in sort] + ["doc_id ASC"]
    )
    where = f"WHERE {filter_sql}" if filter_sql else ""
    return f"""
WITH f AS (SELECT * FROM documents {where}),
r AS (SELECT doc_id, row_number() OVER (ORDER BY {order}) AS rank FROM f),
t AS (SELECT count(*)::BIGINT AS total_hits FROM f)
SELECT r.doc_id, r.rank::INT AS rank, t.total_hits
FROM r CROSS JOIN t
WHERE r.rank > {int(offset)} AND r.rank <= {int(offset) + int(limit)}
"""


class TypoSettings:
    """Meilisearch typoTolerance settings: a query word shorter than
    `one_typo` chars gets NO typo tolerance, `one_typo`..`two_typos`-1 chars
    one typo, >= `two_typos` chars two; words in `disable_on_words` are
    always exact-only. Meilisearch defaults are 5 / 9 / empty."""

    def __init__(
        self,
        one_typo: int = 5,
        two_typos: int = 9,
        disable_on_words: set[str] | None = None,
    ):
        self.one_typo = int(one_typo)
        self.two_typos = int(two_typos)
        self.disable_on_words = {w.lower() for w in (disable_on_words or set())}

    def budget(self, qterm: str) -> int:
        if qterm in self.disable_on_words or len(qterm) < self.one_typo:
            return 0
        return 1 if len(qterm) < self.two_typos else 2


def typo_slot_expansion(
    spark: SparkSession,
    index: IndexHandle,
    queries: list[tuple[int, str]],
    settings: "TypoSettings",
) -> tuple[dict, dict, list]:
    """Shared expansion stage of the typoTolerance serving paths:
    (qslots, slot_meta, pairs) where qslots = qid -> ordered deduped query
    words, slot_meta = qid -> term -> [(slot, distance)], pairs = the
    (qid, term) scan list. Exact words probe IndexHandle.term_dfs; 1- and
    2-edit words expand
    through expand_fuzzy_queries (the driver neighborhood test or the
    SymSpell deletion table) — no bucket scans the vocabulary."""
    qslots = _query_slots(queries)
    if not qslots:
        return {}, {}, []
    by_budget: dict[int, dict[int, list[str]]] = {0: {}, 1: {}, 2: {}}
    for qid, slots in qslots.items():
        for qterm in dict.fromkeys(slots):
            by_budget[settings.budget(qterm)].setdefault(qid, []).append(qterm)
    pairs: list[tuple[int, str]] = []
    if by_budget[0]:
        present = index.term_dfs(spark, {t for ts in by_budget[0].values() for t in ts})
        pairs.extend(
            (qid, t)
            for qid, ts in by_budget[0].items()
            for t in ts
            if t in present
        )
    for budget in (1, 2):
        if by_budget[budget]:
            sub = [(qid, " ".join(ts)) for qid, ts in sorted(by_budget[budget].items())]
            pairs.extend(expand_fuzzy_queries(spark, index, sub, budget))
    pairs = sorted(set(pairs))
    if not pairs:
        return qslots, {}, []
    # slot metadata under PER-SLOT budgets
    slot_meta = _slot_meta(qslots, pairs, settings.budget)
    pairs = [(q, t) for q, t in pairs if t in slot_meta.get(q, {})]
    return qslots, slot_meta, pairs


def search_topk_typo_settings(
    spark: SparkSession,
    index: IndexHandle,
    queries: list[tuple[int, str]],
    settings: TypoSettings | None = None,
    k: int = 10,
) -> DataFrame:
    """Typo-tolerant ranked search under PER-WORD typo budgets (Meilisearch
    typoTolerance.minWordSizeForTypos + disableOnWords): each query word's
    edit budget comes from settings.budget(word); ranking is the same rule
    pipeline as search_topk_fuzzy_ranked (slots DESC, typos ASC, BM25 DESC,
    doc ASC). (query_id, doc_id, hit_terms, typos, score).

    Expansion runs per budget bucket (typo_slot_expansion) — exact terms as
    an In(term)-pruned dictionary probe, 1- and 2-edit terms via
    expand_fuzzy_queries — so no bucket ever scans the vocabulary."""
    settings = settings or TypoSettings()
    qslots, slot_meta, pairs = typo_slot_expansion(spark, index, queries, settings)
    if not pairs:
        return _empty_result(spark, _OUT_TYPO_SCHEMA)
    return _serve_kernel(
        spark, index, pairs,
        _make_typo_ranked_kernel(slot_meta, float(index.avgdl), index.payload_codec),
        _OUT_TYPO_SCHEMA, k, _TYPO_ORDER, _TYPO_COLS, columns=_PAYLOAD_COLS,
    )


def search_topk_filtered(
    spark: SparkSession,
    index: IndexHandle,
    docs: DataFrame,
    queries: list[tuple[int, str]],
    filter_sql: str,
    k: int = 10,
) -> DataFrame:
    """Meilisearch FILTERABLE-ATTRIBUTES serving: disjunctive BM25 top-k
    restricted to docs satisfying a boolean filter over document attributes
    (`filter: n_chars >= 1200 AND lang IN (...)`). The filter side is a
    pruned documents scan (predicate pushdown, only doc_id + filter columns
    read) semi-joined on doc_id BEFORE ranking — AQE broadcasts whichever
    side a selective filter/rare query makes small. Meilisearch serves hot
    filters from precomputed facet-docids grenad DBs; the facet side tables
    (operators/facets.py) are the equivalent precomputation here.
    (query_id, doc_id, score)."""
    pairs = _tokenize_queries(queries)
    if not pairs:
        return _empty_result(spark, "query_id int, doc_id long, score double")
    per_shard = _serve_kernel(
        spark, index, pairs,
        _make_exhaustive_with_termcount(float(index.avgdl), index.payload_codec),
        _OUT_AND_SCHEMA,
    )
    allowed = docs.filter(F.expr(filter_sql)).select("doc_id")
    j = per_shard.join(allowed, "doc_id")
    return _rank_topk(j, _n_queries(pairs), int(k))


# ---------------------------------------------------------------------------
# synonyms + stop words — the everyday Meilisearch query-rewrite features
# (configured per index; Meilisearch applies both BEFORE its ranking rules)
# ---------------------------------------------------------------------------

def search_topk_synonyms(
    spark: SparkSession,
    index: IndexHandle,
    queries: list[tuple[int, str]],
    synonyms: dict[str, list[str]],
    k: int = 10,
    mode: str = "wand",
) -> DataFrame:
    """Synonym expansion (Meilisearch single-word synonyms): each query term
    rewrites to itself plus its configured synonyms; expansions score as
    ordinary disjuncts through the standard serving kernel. The rewrite is a
    driver-side dict lookup — zero extra jobs, the In(term) pruned scan just
    widens by the synonym set. Synonyms absent from the vocabulary
    contribute nothing (no posting blocks), exactly like OOV query terms."""
    pairs: list[tuple[int, str]] = []
    seen: set[tuple[int, str]] = set()
    for qid, term in _tokenize_queries(queries):
        for t in [term, *synonyms.get(term, [])]:
            if (qid, t) not in seen:
                seen.add((qid, t))
                pairs.append((qid, t))
    if not pairs:
        return _empty_result(spark, "query_id int, doc_id long, score double")
    return _search_from_pairs(spark, index, pairs, k, mode)


def sql_synonyms_topk(
    queries: list[tuple[int, str]],
    synonyms: dict[str, list[str]],
    k: int = 10,
) -> str:
    """DuckDB oracle for search_topk_synonyms: the rewrite map as a VALUES
    relation joined to the raw query terms (identity edges included)."""
    from grenad_spark.functions.tokenize import sql_term_doc_tf
    from grenad_spark.query.bm25 import B, K1, SCORE_DECIMALS, sql_queries_values

    qterms = sorted({t for _, t in _tokenize_queries(queries)})
    edges = sorted(
        {(t, t) for t in qterms}
        | {(t, s) for t in qterms for s in synonyms.get(t, [])}
    )
    syn_vals = ", ".join(f"('{a}', '{b}')" for a, b in edges)
    return f"""
WITH tdt AS ({sql_term_doc_tf('documents')}),
dl AS (
  SELECT doc_id,
         len(list_filter(regexp_split_to_array(lower(text), '{TOKEN_SPLIT_RE}'), x -> x <> '')) AS dl
  FROM documents
),
cs AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl)::DOUBLE AS avgdl FROM dl),
ts AS (SELECT term, count(*)::DOUBLE AS df FROM tdt GROUP BY term),
rawq AS (
  SELECT DISTINCT query_id, unnest(regexp_split_to_array(lower(query), '{TOKEN_SPLIT_RE}')) AS qterm
  FROM {sql_queries_values(queries)}
),
syn AS (SELECT * FROM (VALUES {syn_vals}) AS s(qterm, term)),
qt AS (
  SELECT DISTINCT r.query_id, s.term
  FROM rawq r JOIN syn s ON s.qterm = r.qterm
  WHERE r.qterm <> ''
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
SELECT query_id, doc_id, score FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rn
  FROM scored
) WHERE rn <= {k}
"""


def search_topk_stopwords(
    spark: SparkSession,
    index: IndexHandle,
    queries: list[tuple[int, str]],
    stop_words: set[str],
    k: int = 10,
) -> DataFrame:
    """Stop-word removal with the WORDS-rule interaction: stop words drop
    from the query BEFORE slot counting, so `the fast join` ranks docs by
    coverage of {fast, join} only (a doc with both outranks a doc with one
    plus 'the'). Delegates to the words-rule kernel over the filtered
    queries; a query of only stop words returns no rows (Meilisearch keeps
    placeholder search for the fully-empty query; a contentless query here
    is defined to match nothing). (query_id, doc_id, hit_terms, score)."""
    import re

    filtered: list[tuple[int, str]] = []
    for qid, q in queries:
        toks = [
            t
            for t in re.split(TOKEN_SPLIT_RE, q.lower())
            if t and t not in stop_words
        ]
        if toks:
            filtered.append((qid, " ".join(toks)))
    if not filtered:
        return _empty_result(
            spark, "query_id int, doc_id long, hit_terms int, score double"
        )
    return search_topk_words(spark, index, filtered, k=k)


def sql_stopwords_topk(
    queries: list[tuple[int, str]],
    stop_words: set[str],
    k: int = 10,
) -> str:
    """DuckDB oracle for search_topk_stopwords: the words-rule oracle with
    the stop set filtered out of the query-term relation."""
    from grenad_spark.query.bm25 import bm25_words_oracle_sql

    stop_vals = ", ".join(f"('{s}')" for s in sorted(stop_words))
    base = bm25_words_oracle_sql(queries, k)
    # the qt clause sits on its own line ("\n  ) WHERE ..."); the tdt CTE
    # contains the same text inline, which this anchored needle skips
    needle = "\n  ) WHERE term <> ''"
    if base.count(needle) != 1:  # guard the splice against oracle refactors
        raise RuntimeError("words-oracle qt clause not found exactly once")
    return base.replace(
        needle,
        "\n  ) WHERE term <> '' "
        f"AND term NOT IN (SELECT s FROM (VALUES {stop_vals}) v(s))",
    )


# ---------------------------------------------------------------------------
# negative keywords — Meilisearch v1.8 query syntax: a word prefixed with
# `-` EXCLUDES every document containing it (docs.meilisearch.com "negative
# keywords"; grenad serves the exclusion set from the same word-docids DBs)
# ---------------------------------------------------------------------------

def parse_negative_query(q: str) -> tuple[list[str], list[str]]:
    """Split a raw query string into (positive_terms, negative_terms).
    A whitespace-token starting with `-` contributes its words to the
    negative set; everything else is positive. Both sides normalize through
    TOKEN_SPLIT_RE, so `-Slow!` excludes the term 'slow'."""
    import re

    pos: list[str] = []
    neg: list[str] = []
    for tok in q.split():
        is_neg = tok.startswith("-")
        for t in re.split(TOKEN_SPLIT_RE, tok.lstrip("-").lower()):
            if t:
                (neg if is_neg else pos).append(t)
    return pos, neg


def search_topk_negative(
    spark: SparkSession,
    index: IndexHandle,
    queries: list[tuple[int, str]],
    k: int = 10,
) -> DataFrame:
    """Meilisearch NEGATIVE-KEYWORD serving: disjunctive BM25 top-k over the
    positive terms, minus every doc containing ANY `-`-prefixed term. The
    exclusion left-anti joins BEFORE the per-query window, so an excluded
    doc is replaced by the next-best — never a short result page.

    Scale: both sides ride the In(term)-pruned segments scan; the negative
    side decodes only its own posting blocks (work ∝ excluded-term posting
    size) and the anti-join keys on (query_id, doc_id) — co-partitioned
    with the scoring shuffle, no extra exchange shape. A query with only
    negative terms matches nothing (Meilisearch placeholder search is the
    documents scan, not an index query). (query_id, doc_id, score)."""
    pos_pairs: list[tuple[int, str]] = []
    neg_pairs: list[tuple[int, str]] = []
    seen: set[tuple[int, str, bool]] = set()
    for qid, q in queries:
        pos, neg = parse_negative_query(q)
        for t in pos:
            if (qid, t, False) not in seen:
                seen.add((qid, t, False))
                pos_pairs.append((qid, t))
        for t in neg:
            if (qid, t, True) not in seen:
                seen.add((qid, t, True))
                neg_pairs.append((qid, t))
    if not pos_pairs:
        return _empty_result(spark, "query_id int, doc_id long, score double")
    kernel = _make_exhaustive_with_termcount(float(index.avgdl), index.payload_codec)
    per_shard = _serve_kernel(spark, index, pos_pairs, kernel, _OUT_AND_SCHEMA)
    if neg_pairs:
        excluded = _serve_kernel(
            spark, index, neg_pairs, kernel, _OUT_AND_SCHEMA
        ).select("query_id", "doc_id")
        per_shard = per_shard.join(excluded, ["query_id", "doc_id"], "left_anti")
    return _rank_topk(per_shard, _n_queries(pos_pairs), int(k))


def sql_negative_topk(queries: list[tuple[int, str]], k: int = 10) -> str:
    """DuckDB oracle for search_topk_negative: the positive/negative term
    split baked as VALUES relations; exclusion via NOT EXISTS before the
    per-query ranking window."""
    from grenad_spark.functions.tokenize import sql_term_doc_tf
    from grenad_spark.query.bm25 import B, K1, SCORE_DECIMALS

    pos_rows, neg_rows = [], []
    for qid, q in queries:
        pos, neg = parse_negative_query(q)
        pos_rows += [f"({qid}, '{t}')" for t in sorted(set(pos))]
        neg_rows += [f"({qid}, '{t}')" for t in sorted(set(neg))]
    if not pos_rows:
        return "SELECT NULL::INT query_id, NULL::BIGINT doc_id, NULL::DOUBLE score WHERE false"
    neg_cte = (
        f"(VALUES {', '.join(neg_rows)}) AS n(query_id, term)"
        if neg_rows
        else "(SELECT NULL::INT AS query_id, NULL::VARCHAR AS term WHERE false) n"
    )
    return f"""
WITH tdt AS ({sql_term_doc_tf('documents')}),
dl AS (
  SELECT doc_id,
         len(list_filter(regexp_split_to_array(lower(text), '{TOKEN_SPLIT_RE}'), x -> x <> '')) AS dl
  FROM documents
),
cs AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl)::DOUBLE AS avgdl FROM dl),
ts AS (SELECT term, count(*)::DOUBLE AS df FROM tdt GROUP BY term),
qt AS (SELECT * FROM (VALUES {', '.join(pos_rows)}) AS p(query_id, term)),
nq AS (SELECT * FROM {neg_cte}),
excluded AS (
  SELECT DISTINCT nq.query_id, tdt.doc_id FROM tdt JOIN nq ON tdt.term = nq.term
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
SELECT query_id, doc_id, score FROM (
  SELECT s.*, row_number() OVER (PARTITION BY s.query_id ORDER BY s.score DESC, s.doc_id ASC) AS rn
  FROM scored s
  WHERE NOT EXISTS (
    SELECT 1 FROM excluded e WHERE e.query_id = s.query_id AND e.doc_id = s.doc_id
  )
) WHERE rn <= {k}
"""


def parse_negative_phrases(q: str) -> tuple[str, list[str]]:
    """Extract `-"..."` segments (Meilisearch v1.8 negative PHRASES) from a
    raw query string. Returns (remaining query, phrase strings); the
    remainder still carries plain words and `-word` exclusions for
    parse_negative_query."""
    import re

    phrases = [m.group(1) for m in re.finditer(r'-"([^"]*)"', q)]
    rest = re.sub(r'-"[^"]*"', " ", q)
    return rest, [p for p in phrases if p.strip()]


def search_topk_negative_phrases(
    spark: SparkSession,
    index: IndexHandle,
    queries: list[tuple[int, str]],
    k: int = 10,
) -> DataFrame:
    """Negative keywords AND negative phrases: disjunctive BM25 over the
    positive terms minus docs containing any `-word` term OR matching any
    `-"..."` phrase token-adjacently. Both exclusion sets anti-join BEFORE
    the per-query window, so excluded docs are replaced by next-best.

    Scale: the word sides ride In(term)-pruned segment scans; the phrase
    side is ONE batched In(term)-pruned positions scan + kernel pass
    (phrase.phrase_match_pairs) — work ∝ the excluded phrases' posting
    sizes, and the union'd exclusion keys on (query_id, doc_id),
    co-partitioned with the scoring shuffle."""
    from grenad_spark.query.phrase import phrase_match_pairs

    pos_pairs: list[tuple[int, str]] = []
    neg_pairs: list[tuple[int, str]] = []
    ph_pairs: list[tuple[int, str]] = []
    seen: set = set()
    for qid, q in queries:
        rest, phrases = parse_negative_phrases(q)
        pos, neg = parse_negative_query(rest)
        for t in pos:
            if (qid, t, "p") not in seen:
                seen.add((qid, t, "p"))
                pos_pairs.append((qid, t))
        for t in neg:
            if (qid, t, "n") not in seen:
                seen.add((qid, t, "n"))
                neg_pairs.append((qid, t))
        for p in sorted(set(phrases)):
            ph_pairs.append((qid, p))
    if not pos_pairs:
        return _empty_result(spark, "query_id int, doc_id long, score double")
    kernel = _make_exhaustive_with_termcount(float(index.avgdl), index.payload_codec)
    per_shard = _serve_kernel(spark, index, pos_pairs, kernel, _OUT_AND_SCHEMA)
    exclusions: list[DataFrame] = []
    if neg_pairs:
        exclusions.append(
            _serve_kernel(spark, index, neg_pairs, kernel, _OUT_AND_SCHEMA)
            .select("query_id", "doc_id")
        )
    if ph_pairs:
        # phrase ids collide across queries only if the same qid repeats a
        # phrase — deduped above; the batch carries (qid, phrase) directly
        exclusions.append(phrase_match_pairs(spark, index, ph_pairs))
    for exc in exclusions:
        per_shard = per_shard.join(exc, ["query_id", "doc_id"], "left_anti")
    return _rank_topk(per_shard, _n_queries(pos_pairs), int(k))


def sql_negative_phrases_topk(queries: list[tuple[int, str]], k: int = 10) -> str:
    """DuckDB oracle for search_topk_negative_phrases: word exclusions as a
    VALUES relation, phrase exclusions as substring containment over the
    space-joined normalized token stream (' t1 t2 ' contains ' p1 p2 '),
    both NOT EXISTS before the ranking window."""
    from grenad_spark.functions.tokenize import TOKEN_SPLIT_RE as TSR
    from grenad_spark.functions.tokenize import sql_term_doc_tf
    from grenad_spark.query.bm25 import B, K1, SCORE_DECIMALS

    import re

    pos_rows, neg_rows, ph_rows = [], [], []
    for qid, q in queries:
        rest, phrases = parse_negative_phrases(q)
        pos, neg = parse_negative_query(rest)
        pos_rows += [f"({qid}, '{t}')" for t in sorted(set(pos))]
        neg_rows += [f"({qid}, '{t}')" for t in sorted(set(neg))]
        for p in sorted(set(phrases)):
            toks = [t for t in re.split(TSR, p.lower()) if t]
            if toks:
                ph_rows.append(f"({qid}, ' {' '.join(toks)} ')")
    if not pos_rows:
        return "SELECT NULL::INT query_id, NULL::BIGINT doc_id, NULL::DOUBLE score WHERE false"
    neg_cte = (
        f"(VALUES {', '.join(neg_rows)}) AS n(query_id, term)"
        if neg_rows
        else "(SELECT NULL::INT AS query_id, NULL::VARCHAR AS term WHERE false) n"
    )
    ph_cte = (
        f"(VALUES {', '.join(ph_rows)}) AS p(query_id, pat)"
        if ph_rows
        else "(SELECT NULL::INT AS query_id, NULL::VARCHAR AS pat WHERE false) p"
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
qt AS (SELECT * FROM (VALUES {', '.join(pos_rows)}) AS p(query_id, term)),
nq AS (SELECT * FROM {neg_cte}),
pq AS (SELECT * FROM {ph_cte}),
excluded AS (
  SELECT DISTINCT nq.query_id, tdt.doc_id FROM tdt JOIN nq ON tdt.term = nq.term
  UNION
  SELECT pq.query_id, toks.doc_id
  FROM toks CROSS JOIN pq
  WHERE contains(' ' || array_to_string(toks.t, ' ') || ' ', pq.pat)
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
SELECT query_id, doc_id, score FROM (
  SELECT s.*, row_number() OVER (PARTITION BY s.query_id ORDER BY s.score DESC, s.doc_id ASC) AS rn
  FROM scored s
  WHERE NOT EXISTS (
    SELECT 1 FROM excluded e WHERE e.query_id = s.query_id AND e.doc_id = s.doc_id
  )
) WHERE rn <= {k}
"""


# ---------------------------------------------------------------------------
# matchingStrategy=last — Meilisearch's default word-dropping semantics:
# words are removed from the END of the query until a doc matches, so docs
# are bucketed by the LONGEST PREFIX of query words they contain entirely
# (a doc matching words {0,2} of a 3-word query sits in the prefix-1
# bucket — the gap at word 1 stops the prefix even though word 2 matched).
# Our words rule (search_topk_words) is matchingStrategy=frequency-ish
# (any-subset coverage count); this is the `last` strategy counterpart.
# ---------------------------------------------------------------------------

_TERM_MATCH_SCHEMA = "query_id int, doc_id long, term string, s double"


def _make_term_match_rows(avgdl: float, codec: str = "none"):
    """Per-shard decode that emits one row per (doc, matched term) with the
    term's full BM25 contribution — the building block when a consumer needs
    WHICH terms matched, not just how many."""

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        qid = int(pdf["query_id"].iloc[0])
        decoded, idfs = decode_postings(pdf, codec)
        return pd.concat(
            [
                pd.DataFrame(
                    {"query_id": qid, "doc_id": d, "term": t,
                     "s": bm25(idfs[t], tf, dl, avgdl)}
                )
                for t, (d, tf, dl) in decoded.items()
            ],
            ignore_index=True,
        )

    return fn


def search_topk_matching_last(
    spark: SparkSession,
    index: IndexHandle,
    queries: list[tuple[int, str]],
    k: int = 10,
) -> DataFrame:
    """matchingStrategy=last serving: rank by longest matched query-word
    PREFIX desc, then disjunctive BM25 over all matched terms, then doc_id.
    Docs not containing the first query word never match (prefix 0).

    Plan: one pruned-scan + kernel pass emits (doc, term, score-part) rows;
    a broadcast (query, term → slot) map attaches word positions; two
    same-keyed aggregations (slot set, score sum) reuse one (query_id,
    doc_id) partitioning. The sorted-distinct-slot prefix length is
    size(filter(transform(slots, (x,i) -> x = i))) — for a sorted distinct
    int array, arr[i] = i exactly on the leading gap-free run.
    (query_id, doc_id, matched_prefix, score)."""
    import re

    slot_rows: list[tuple[int, str, int]] = []
    pairs: list[tuple[int, str]] = []
    seen: set[tuple[int, str]] = set()
    for qid, q in queries:
        toks = [t for t in re.split(TOKEN_SPLIT_RE, q.lower()) if t]
        for slot, t in enumerate(toks):
            slot_rows.append((qid, t, slot))
            if (qid, t) not in seen:
                seen.add((qid, t))
                pairs.append((qid, t))
    return _matched_prefix_topk(spark, index, pairs, slot_rows, k)


def _matched_prefix_topk(
    spark: SparkSession,
    index: IndexHandle,
    pairs: list[tuple[int, str]],
    slot_rows: list[tuple[int, str, int]],
    k: int,
) -> DataFrame:
    """Shared word-dropping-strategy tail: given distinct (query, term)
    pairs and a (query, term → slot) drop-ORDER map (slot 0 = dropped
    last), rank docs by longest gap-free leading slot run, BM25, doc_id."""
    if not pairs:
        return _empty_result(
            spark, "query_id int, doc_id long, matched_prefix int, score double"
        )
    matches = _serve_kernel(
        spark, index, pairs,
        _make_term_match_rows(float(index.avgdl), index.payload_codec),
        _TERM_MATCH_SCHEMA,
    )
    slot_df = spark.createDataFrame(slot_rows, "query_id int, term string, slot int")
    scores = matches.groupBy("query_id", "doc_id").agg(F.sum("s").alias("score"))
    slots = (
        matches.join(F.broadcast(slot_df), ["query_id", "term"])
        .groupBy("query_id", "doc_id")
        .agg(F.array_sort(F.collect_set("slot")).alias("slots"))
        .withColumn(
            "matched_prefix",
            F.expr("size(filter(transform(slots, (x, i) -> x = i), b -> b))"),
        )
    )
    j = slots.filter(F.col("matched_prefix") >= 1).join(
        scores, ["query_id", "doc_id"]
    )
    return _rank_topk(
        j, _n_queries(pairs), int(k),
        [("matched_prefix", False), *_BM25_ORDER],
        ["query_id", "doc_id", "matched_prefix", "score"],
    )


def search_topk_matching_frequency(
    spark: SparkSession,
    index: IndexHandle,
    queries: list[tuple[int, str]],
    k: int = 10,
) -> DataFrame:
    """matchingStrategy=frequency (Meilisearch v1.8): words are dropped
    MOST-FREQUENT-FIRST (highest df), so docs are bucketed by the longest
    leading run of the rarity ordering they cover entirely — the same
    gap-free-run machinery as `last` with slots assigned by (df ASC, term
    ASC) rank instead of query position. An OOV term (df 0) is the rarest,
    sits at slot 0, and is never dropped: its query matches nothing —
    Meilisearch's dropping likewise never removes it.

    Scale: slot assignment needs df ONLY for the query's own terms
    (IndexHandle.term_dfs: bounded by query word count, never by
    vocabulary). (query_id, doc_id, matched_prefix, score)."""
    pairs = _tokenize_queries(queries)
    if not pairs:
        return _empty_result(
            spark, "query_id int, doc_id long, matched_prefix int, score double"
        )
    dfs = index.term_dfs(spark, {t for _, t in pairs})
    by_query: dict[int, list[str]] = {}
    for qid, t in pairs:
        by_query.setdefault(qid, []).append(t)
    slot_rows: list[tuple[int, str, int]] = []
    for qid, ts in by_query.items():
        for slot, t in enumerate(sorted(ts, key=lambda t: (dfs.get(t, 0), t))):
            slot_rows.append((qid, t, slot))
    return _matched_prefix_topk(spark, index, pairs, slot_rows, k)


def sql_matching_last_topk(queries: list[tuple[int, str]], k: int = 10) -> str:
    """DuckDB oracle for search_topk_matching_last: the (query, slot, term)
    word list as a VALUES relation; matched_prefix = the smallest uncovered
    slot (or the word count when every slot is covered)."""
    import re

    from grenad_spark.functions.tokenize import sql_term_doc_tf
    from grenad_spark.query.bm25 import B, K1, SCORE_DECIMALS

    tok_rows = []
    for qid, q in queries:
        toks = [t for t in re.split(TOKEN_SPLIT_RE, q.lower()) if t]
        tok_rows += [f"({qid}, {i}, '{t}')" for i, t in enumerate(toks)]
    if not tok_rows:
        return (
            "SELECT NULL::INT query_id, NULL::BIGINT doc_id, "
            "NULL::INT matched_prefix, NULL::DOUBLE score WHERE false"
        )
    return f"""
WITH tdt AS ({sql_term_doc_tf('documents')}),
dl AS (
  SELECT doc_id,
         len(list_filter(regexp_split_to_array(lower(text), '{TOKEN_SPLIT_RE}'), x -> x <> '')) AS dl
  FROM documents
),
cs AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl)::DOUBLE AS avgdl FROM dl),
ts AS (SELECT term, count(*)::DOUBLE AS df FROM tdt GROUP BY term),
qtok AS (SELECT * FROM (VALUES {', '.join(tok_rows)}) AS v(query_id, slot, term)),
qt AS (SELECT DISTINCT query_id, term FROM qtok),
matched AS (
  SELECT DISTINCT q.query_id, tdt.doc_id, q.slot
  FROM tdt JOIN qtok q ON tdt.term = q.term
),
slots AS (SELECT DISTINCT query_id, slot FROM qtok),
cov AS (
  SELECT s.query_id, d.doc_id, s.slot, (m.slot IS NOT NULL) AS hit
  FROM slots s
  JOIN (SELECT DISTINCT query_id, doc_id FROM matched) d ON d.query_id = s.query_id
  LEFT JOIN matched m
    ON m.query_id = s.query_id AND m.doc_id = d.doc_id AND m.slot = s.slot
),
lp AS (
  SELECT query_id, doc_id,
         coalesce(min(CASE WHEN NOT hit THEN slot END), count(*))::INT AS matched_prefix
  FROM cov GROUP BY 1, 2
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
SELECT query_id, doc_id, matched_prefix, score FROM (
  SELECT l.query_id, l.doc_id, l.matched_prefix, s.score,
         row_number() OVER (PARTITION BY l.query_id
           ORDER BY l.matched_prefix DESC, s.score DESC, l.doc_id ASC) AS rn
  FROM lp l JOIN scored s ON s.query_id = l.query_id AND s.doc_id = l.doc_id
  WHERE l.matched_prefix >= 1
) WHERE rn <= {k}
"""


def sql_matching_frequency_topk(queries: list[tuple[int, str]], k: int = 10) -> str:
    """DuckDB oracle for search_topk_matching_frequency: slots assigned by
    (df ASC, term ASC) rank inside each query (df 0 for OOV terms —
    LEFT JOIN against ts), then the same smallest-uncovered-slot bucket
    logic as the `last` oracle."""
    import re

    from grenad_spark.functions.tokenize import sql_term_doc_tf
    from grenad_spark.query.bm25 import B, K1, SCORE_DECIMALS

    qt_rows = []
    for qid, q in queries:
        toks = {t for t in re.split(TOKEN_SPLIT_RE, q.lower()) if t}
        qt_rows += [f"({qid}, '{t}')" for t in sorted(toks)]
    if not qt_rows:
        return (
            "SELECT NULL::INT query_id, NULL::BIGINT doc_id, "
            "NULL::INT matched_prefix, NULL::DOUBLE score WHERE false"
        )
    return f"""
WITH tdt AS ({sql_term_doc_tf('documents')}),
dl AS (
  SELECT doc_id,
         len(list_filter(regexp_split_to_array(lower(text), '{TOKEN_SPLIT_RE}'), x -> x <> '')) AS dl
  FROM documents
),
cs AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl)::DOUBLE AS avgdl FROM dl),
ts AS (SELECT term, count(*)::DOUBLE AS df FROM tdt GROUP BY term),
qt AS (SELECT * FROM (VALUES {', '.join(qt_rows)}) AS v(query_id, term)),
qtok AS (
  SELECT query_id, term,
         (row_number() OVER (
            PARTITION BY query_id
            ORDER BY coalesce(ts.df, 0) ASC, qt.term ASC) - 1)::INT AS slot
  FROM qt LEFT JOIN ts USING (term)
),
matched AS (
  SELECT DISTINCT q.query_id, tdt.doc_id, q.slot
  FROM tdt JOIN qtok q ON tdt.term = q.term
),
slots AS (SELECT DISTINCT query_id, slot FROM qtok),
cov AS (
  SELECT s.query_id, d.doc_id, s.slot, (m.slot IS NOT NULL) AS hit
  FROM slots s
  JOIN (SELECT DISTINCT query_id, doc_id FROM matched) d ON d.query_id = s.query_id
  LEFT JOIN matched m
    ON m.query_id = s.query_id AND m.doc_id = d.doc_id AND m.slot = s.slot
),
lp AS (
  SELECT query_id, doc_id,
         coalesce(min(CASE WHEN NOT hit THEN slot END), count(*))::INT AS matched_prefix
  FROM cov GROUP BY 1, 2
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
SELECT query_id, doc_id, matched_prefix, score FROM (
  SELECT l.query_id, l.doc_id, l.matched_prefix, s.score,
         row_number() OVER (PARTITION BY l.query_id
           ORDER BY l.matched_prefix DESC, s.score DESC, l.doc_id ASC) AS rn
  FROM lp l JOIN scored s ON s.query_id = l.query_id AND s.doc_id = l.doc_id
  WHERE l.matched_prefix >= 1
) WHERE rn <= {k}
"""


# ---------------------------------------------------------------------------
# highlighting — Meilisearch attributesToHighlight / _formatted: matched
# words wrapped in highlightPreTag/PostTag. Like phrase_snippets, the
# transform runs over the NORMALIZED token stream (tokens_col), so both
# engines wrap exactly the tokenizer's matches — no raw-text regex-engine
# parity risks (Java regex vs RE2 \b / case-folding differences).
# ---------------------------------------------------------------------------

def search_topk_highlight(
    spark: SparkSession,
    index: IndexHandle,
    docs: DataFrame,
    queries: list[tuple[int, str]],
    k: int = 10,
    pre_tag: str = "<em>",
    post_tag: str = "</em>",
) -> DataFrame:
    """Top-k BM25 with `_formatted`: the normalized text with every token
    equal to a query term wrapped in pre/post tags.

    Post-processing on k·|queries| rows only — the ranked page (with its
    per-query term array) broadcasts into the documents join and the wrap
    is one JVM transform over the token array; the 100 TB docs side is
    touched once, by doc_id join key. (query_id, doc_id, score,
    formatted)."""
    from grenad_spark.functions.tokenize import tokens_col

    topk = search_topk(spark, index, queries, k=k)
    qrows = []
    for qid, q in queries:
        ts = sorted({t for _, t in _tokenize_queries([(qid, q)])})
        if ts:
            qrows.append((qid, ts))
    if not qrows:
        return _empty_result(
            spark, "query_id int, doc_id long, score double, formatted string"
        )
    qdf = spark.createDataFrame(qrows, "query_id int, qterms array<string>")
    pre, post = F.lit(pre_tag), F.lit(post_tag)
    j = (
        F.broadcast(topk.join(F.broadcast(qdf), "query_id"))
        .join(docs.select("doc_id", "text"), "doc_id")
        .withColumn("toks", tokens_col("text"))
        .withColumn(
            "formatted",
            F.array_join(
                F.transform(
                    F.col("toks"),
                    lambda t: F.when(
                        F.array_contains(F.col("qterms"), t),
                        F.concat(pre, t, post),
                    ).otherwise(t),
                ),
                " ",
            ),
        )
    )
    return j.select("query_id", "doc_id", "score", "formatted")


def sql_highlight_topk(
    queries: list[tuple[int, str]],
    k: int = 10,
    pre_tag: str = "<em>",
    post_tag: str = "</em>",
) -> str:
    """DuckDB oracle for search_topk_highlight — same normalized-token wrap
    (list_transform + list_contains over the tokenized text)."""
    from grenad_spark.query.bm25 import bm25_oracle_sql

    qrows = []
    for qid, q in queries:
        ts = sorted({t for _, t in _tokenize_queries([(qid, q)])})
        if ts:
            lit = "[" + ", ".join(f"'{t}'" for t in ts) + "]"
            qrows.append(f"({qid}, {lit})")
    return f"""
WITH topk AS ({bm25_oracle_sql(queries, k)}),
qn AS (SELECT * FROM (VALUES {', '.join(qrows)}) AS v(query_id, qterms)),
tk AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '{TOKEN_SPLIT_RE}'), x -> x <> '') AS toks
  FROM documents
)
SELECT t.query_id, t.doc_id, t.score,
       array_to_string(
         list_transform(tk.toks,
           x -> CASE WHEN list_contains(qn.qterms, x)
                     THEN '{pre_tag}' || x || '{post_tag}' ELSE x END),
         ' ') AS formatted
FROM topk t JOIN qn USING (query_id) JOIN tk USING (doc_id)
"""


def search_topk_crop(
    spark: SparkSession,
    index: IndexHandle,
    docs: DataFrame,
    queries: list[tuple[int, str]],
    k: int = 10,
    crop_length: int = 10,
    crop_marker: str = "…",
) -> DataFrame:
    """Top-k BM25 with `_formatted` CROPPING (Meilisearch attributesToCrop /
    cropLength / cropMarker): each hit's text reduced to a window of
    `crop_length` tokens centered on the FIRST occurrence of any query
    term, with `crop_marker` abutting whichever ends were trimmed.

    Window rule (both engines, over the normalized token stream): m = first
    1-based index of any query term; lo = max(1, m - (L-1)//2);
    hi = min(n, lo + L - 1); lo = max(1, hi - L + 1) — full-length windows
    clamped at both edges, like Meilisearch's crop around the best window.

    Post-processing on k·|queries| rows only: the ranked page broadcasts
    into the documents join (one doc_id-keyed touch of the 100 TB side)
    and the window arithmetic is pure JVM array exprs — no UDF, no extra
    shuffle. (query_id, doc_id, score, cropped)."""
    from grenad_spark.functions.tokenize import tokens_col

    topk = search_topk(spark, index, queries, k=k)
    qrows = []
    for qid, q in queries:
        ts = sorted({t for _, t in _tokenize_queries([(qid, q)])})
        if ts:
            qrows.append((qid, ts))
    if not qrows:
        return _empty_result(
            spark, "query_id int, doc_id long, score double, cropped string"
        )
    qdf = spark.createDataFrame(qrows, "query_id int, qterms array<string>")
    half = (int(crop_length) - 1) // 2
    mk = crop_marker.replace("'", "''")
    j = (
        F.broadcast(topk.join(F.broadcast(qdf), "query_id"))
        .join(docs.select("doc_id", "text"), "doc_id")
        .withColumn("toks", tokens_col("text"))
        .withColumn("n", F.size("toks"))
        # first 1-based token index matching ANY query term (array_position
        # returns 0 for absent terms — filtered out before the min)
        .withColumn(
            "m",
            F.expr(
                "array_min(filter(transform(qterms,"
                " t -> array_position(toks, t)), p -> p > 0))"
            ).cast("int"),
        )
        .withColumn("lo0", F.greatest(F.lit(1), F.col("m") - half))
        .withColumn("hi", F.least(F.col("n"), F.col("lo0") + crop_length - 1))
        .withColumn("lo", F.greatest(F.lit(1), F.col("hi") - crop_length + 1))
        .withColumn(
            "cropped",
            F.concat(
                F.expr(f"CASE WHEN lo > 1 THEN '{mk}' ELSE '' END"),
                F.array_join(F.expr("slice(toks, lo, hi - lo + 1)"), " "),
                F.expr(f"CASE WHEN hi < n THEN '{mk}' ELSE '' END"),
            ),
        )
    )
    return j.select("query_id", "doc_id", "score", "cropped")


def sql_crop_topk(
    queries: list[tuple[int, str]],
    k: int = 10,
    crop_length: int = 10,
    crop_marker: str = "…",
) -> str:
    """DuckDB oracle for search_topk_crop — identical window arithmetic
    over the same normalized token stream (list_position / list_slice are
    1-based with 0-for-absent, exactly like Spark's array functions)."""
    from grenad_spark.query.bm25 import bm25_oracle_sql

    qrows = []
    for qid, q in queries:
        ts = sorted({t for _, t in _tokenize_queries([(qid, q)])})
        if ts:
            lit = "[" + ", ".join(f"'{t}'" for t in ts) + "]"
            qrows.append(f"({qid}, {lit})")
    half = (int(crop_length) - 1) // 2
    mk = crop_marker.replace("'", "''")
    return f"""
WITH topk AS ({bm25_oracle_sql(queries, k)}),
qn AS (SELECT * FROM (VALUES {', '.join(qrows)}) AS v(query_id, qterms)),
tk AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '{TOKEN_SPLIT_RE}'), x -> x <> '') AS toks
  FROM documents
),
win AS (
  SELECT t.query_id, t.doc_id, t.score, tk.toks, len(tk.toks) AS n,
         list_min(list_filter(list_transform(qn.qterms,
           x -> list_position(tk.toks, x)), p -> p > 0)) AS m
  FROM topk t JOIN qn USING (query_id) JOIN tk USING (doc_id)
),
win2 AS (
  SELECT *, least(n, greatest(1, m - {half}) + {crop_length} - 1) AS hi
  FROM win
),
win3 AS (SELECT *, greatest(1, hi - {crop_length} + 1) AS lo FROM win2)
SELECT query_id, doc_id, score,
       (CASE WHEN lo > 1 THEN '{mk}' ELSE '' END)
       || array_to_string(list_slice(toks, lo, hi), ' ')
       || (CASE WHEN hi < n THEN '{mk}' ELSE '' END) AS cropped
FROM win3
"""
