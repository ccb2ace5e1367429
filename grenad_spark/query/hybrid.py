"""Hybrid (keyword ⊕ vector) search and federated multi-index search.

Meilisearch v1.3+ serves `hybrid` queries: the same request carries a text
query and an embedding, each side produces candidates, and hits rank by

    score = (1 - semanticRatio) * keyword_norm + semanticRatio * semantic_norm

This module re-expresses that Spark-first over the existing engine pieces:
the keyword side is the house disjunctive-BM25 kernel (one pruned In(term)
scan + one exchange — query/search.py), the semantic side is cosine over the
`embeddings` table (operators/ann.py's JVM-expression cosine). Candidates =
keyword matches ∪ semantic top-K (Meilisearch also merges the two sides'
candidate lists). Normalizations (documented, oracle-matched):

    keyword_norm  = bm25 / max(bm25 over the query's keyword matches)
    semantic_norm = (cos + 1) / 2        (maps [-1, 1] onto [0, 1])

missing side → that side contributes 0 (a pure-semantic candidate has no
keyword score; a doc without an embedding row has no semantic score).

Rounding parity note: both engines round the SAME IEEE double (the arithmetic
chain is identical op-for-op), so cross-engine agreement holds even at
decimal .5 boundaries, which (cos+1)/2 hits whenever cos's 6th digit is odd —
the boundary double is never exactly the decimal half, so both engines'
round() resolves it by magnitude, identically. python's round() (banker's)
does NOT match at these boundaries; test oracles must use decimal HALF_UP
(tests/test_hybrid.py _r6).

Scale: the semantic top-K here is the brute-force baseline (one full pass
over embeddings per query batch — exact, the correctness gate); at cluster
scale swap `_semantic_topk` for the IVF route in operators/ann.py
(`ivf_topk`), which probes only the nearest centroid partitions. The
candidate-side cosine join touches candidate rows only.

Federated search (Meilisearch v1.10 `/multi-search` federation): one query
fans out to several INDEXES (each with its own collection statistics) and
the hit lists merge into a single ranking. Here each index is a physical
grenad_spark index over a partition of the corpus; per-index BM25 uses that
index's own df/avgdl (exactly what separate indexes mean), and the merged
order is (score DESC, doc_id ASC) — doc_ids are unique across a partitioned
corpus. Per-index top-k before the merge is lossless: a global top-k member
is necessarily in its own index's top-k.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from grenad_spark.functions.tokenize import TOKEN_SPLIT_RE, sql_term_doc_tf
from grenad_spark.operators.ann import _cos as _cosine
from grenad_spark.query.bm25 import B, K1, SCORE_DECIMALS, sql_queries_values
from grenad_spark.query.search import _empty_result, _n_queries, _rank_topk, search_topk

SEMANTIC_RATIO = 0.5
HYBRID_DECIMALS = 6

# (query_id, text, qvec_id): the query embedding is the embeddings row with
# vec_id = qvec_id (a real vector from the same space, the ann convention)
HYBRID_QUERIES: list[tuple[int, str, int]] = [
    (1, "merge sort", 3),
    (2, "data stream batch", 17),
    (3, "spark window", 42),
    (4, "xyzzy notaword", 5),  # keyword side empty -> pure semantic ranking
]

FED_QUERIES: list[tuple[int, str]] = [
    (1, "merge sort"),
    (2, "the spark stream"),
    (3, "key value"),
]


def _scored_kw(spark, index, queries: list[tuple[int, str]]):
    """(query_id, doc_id, kw) — ALL disjunctive matches, bm25 rounded."""
    from grenad_spark.query.geo import _scored_matches

    m = _scored_matches(spark, index, queries)
    if m is None:
        return None
    return m.select(
        "query_id", "doc_id", F.round("score", SCORE_DECIMALS).alias("kw")
    )


def hybrid_topk(
    spark: SparkSession,
    index,
    embeddings: DataFrame,
    queries: list[tuple[int, str, int]],
    ratio: float = SEMANTIC_RATIO,
    k: int = 10,
) -> DataFrame:
    """Hybrid top-k (query_id, doc_id, score): see module docstring.
    `embeddings` carries (vec_id, embedding) with vec_id keyed like doc_id."""
    emb = embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    qv = (
        spark.createDataFrame(
            [(qid, vid) for qid, _, vid in queries], "query_id int, qvec_id long"
        )
        .join(emb.withColumnRenamed("vec_id", "qvec_id"), "qvec_id")
        .select("query_id", F.col("v").alias("qv"))
    )
    # semantic top-K: ONE pass over embeddings per query batch (brute-force
    # exact baseline; IVF at cluster scale — module docstring)
    cos_all = emb.crossJoin(F.broadcast(qv)).select(
        "query_id",
        F.col("vec_id").alias("doc_id"),
        F.round(_cosine(F.col("qv"), F.col("v")), HYBRID_DECIMALS).alias("cos"),
    )
    sem_top = _rank_topk(
        cos_all, _n_queries(queries), int(k), [("cos", False), ("doc_id", True)],
        ["query_id", "doc_id"],
    )
    kw = _scored_kw(spark, index, [(qid, q) for qid, q, _ in queries])
    if kw is None:
        kw = _empty_result(spark, "query_id int, doc_id long, kw double")
    max_kw = kw.groupBy("query_id").agg(F.max("kw").alias("mx"))
    cand = kw.select("query_id", "doc_id").union(sem_top).distinct()
    # candidate-side cosine: join only candidate rows against embeddings
    cand_cos = (
        cand.join(emb, cand.doc_id == emb.vec_id, "left")
        .join(F.broadcast(qv), "query_id")
        .select(
            "query_id",
            "doc_id",
            F.round(_cosine(F.col("qv"), F.col("v")), HYBRID_DECIMALS).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        cand_cos.join(kw, ["query_id", "doc_id"], "left")
        .join(F.broadcast(max_kw), "query_id", "left")
        .withColumn(
            "score",
            F.round(
                F.lit(1.0 - ratio) * F.coalesce(F.col("kw") / F.col("mx"), F.lit(0.0))
                + F.lit(ratio)
                * F.coalesce((F.col("cos") + 1.0) / 2.0, F.lit(0.0)),
                HYBRID_DECIMALS,
            ),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= int(k))
        .select("query_id", "doc_id", "score")
    )


def sql_hybrid_topk(
    queries: list[tuple[int, str, int]] | None = None,
    ratio: float = SEMANTIC_RATIO,
    k: int = 10,
) -> str:
    queries = queries if queries is not None else HYBRID_QUERIES
    qrows = ", ".join(f"({qid}, {vid})" for qid, _, vid in queries)
    kwq = [(qid, q) for qid, q, _ in queries]
    return f"""
WITH tdt AS ({sql_term_doc_tf('documents')}),
dl AS (
  SELECT doc_id,
         len(list_filter(regexp_split_to_array(lower(text), '{TOKEN_SPLIT_RE}'), x -> x <> '')) AS dl
  FROM documents
),
cs AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl)::DOUBLE AS avgdl FROM dl),
ts AS (SELECT term, count(*)::DOUBLE AS df FROM tdt GROUP BY term),
qt AS (
  SELECT DISTINCT query_id, term FROM (
    SELECT query_id, unnest(regexp_split_to_array(lower(query), '{TOKEN_SPLIT_RE}')) AS term
    FROM {sql_queries_values(kwq)}
  ) WHERE term <> ''
),
kw AS (
  SELECT qt.query_id, tdt.doc_id,
         round(sum(
           ln(1 + (cs.n_docs - ts.df + 0.5) / (ts.df + 0.5))
           * (tdt.tf * ({K1} + 1)) / (tdt.tf + {K1} * (1 - {B} + {B} * dl.dl / cs.avgdl))
         ), {SCORE_DECIMALS}) AS kw
  FROM tdt
  JOIN qt ON tdt.term = qt.term
  JOIN ts ON tdt.term = ts.term
  JOIN dl ON tdt.doc_id = dl.doc_id
  CROSS JOIN cs
  GROUP BY qt.query_id, tdt.doc_id
),
emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
qv AS (
  SELECT j.query_id, e.v AS qv
  FROM (VALUES {qrows}) AS j(query_id, qvec_id)
  JOIN emb e ON e.vec_id = j.qvec_id
),
cosall AS (
  SELECT q.query_id, e.vec_id AS doc_id,
         round(list_cosine_similarity(q.qv, e.v), {HYBRID_DECIMALS}) AS cos
  FROM emb e CROSS JOIN qv q
),
semtop AS (
  SELECT query_id, doc_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, doc_id ASC) AS rn
    FROM cosall
  ) WHERE rn <= {k}
),
mx AS (SELECT query_id, max(kw) AS mx FROM kw GROUP BY query_id),
cand AS (
  SELECT query_id, doc_id FROM kw
  UNION
  SELECT query_id, doc_id FROM semtop
),
final AS (
  SELECT c.query_id, c.doc_id,
         round(
           (1 - {ratio}) * coalesce(k2.kw / m.mx, 0)
           + {ratio} * coalesce((ca.cos + 1) / 2, 0),
         {HYBRID_DECIMALS}) AS score
  FROM cand c
  LEFT JOIN kw k2 ON k2.query_id = c.query_id AND k2.doc_id = c.doc_id
  LEFT JOIN mx m ON m.query_id = c.query_id
  LEFT JOIN cosall ca ON ca.query_id = c.query_id AND ca.doc_id = c.doc_id
)
SELECT query_id, doc_id, score FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rn
  FROM final
) WHERE rn <= {k}
"""


# ---------------------------------------------------------------------------
# federated multi-index search
# ---------------------------------------------------------------------------

def federated_topk(
    spark: SparkSession,
    indexes: list[tuple[str, object]],
    queries: list[tuple[int, str]],
    k: int = 10,
) -> DataFrame:
    """Search every (name, index) with its OWN collection statistics, merge
    into one ranking (score DESC, doc_id ASC); output
    (query_id, index_name, doc_id, score). Per-index top-k feeds the merge —
    lossless, and each index's serving plan is the standard pruned one."""
    parts = []
    for name, idx in indexes:
        parts.append(
            search_topk(spark, idx, queries, k=k, mode="exhaustive").withColumn(
                "index_name", F.lit(name)
            )
        )
    hits = parts[0]
    for p in parts[1:]:
        hits = hits.unionByName(p)
    return _rank_topk(
        hits, _n_queries(queries), int(k), cols=["query_id", "index_name", "doc_id", "score"]
    )


def sql_federated_topk(
    splits: list[tuple[str, str]],
    queries: list[tuple[int, str]] | None = None,
    k: int = 10,
) -> str:
    """DuckDB oracle: one BM25 CTE chain per (name, WHERE-predicate) split —
    per-split df/avgdl/n_docs, merged ranking."""
    queries = queries if queries is not None else FED_QUERIES
    arms = []
    for i, (name, pred) in enumerate(splits):
        tbl = f"(SELECT * FROM documents WHERE {pred})"
        arms.append(
            f"""
tdt{i} AS ({sql_term_doc_tf(tbl)}),
dl{i} AS (
  SELECT doc_id,
         len(list_filter(regexp_split_to_array(lower(text), '{TOKEN_SPLIT_RE}'), x -> x <> '')) AS dl
  FROM {tbl}
),
cs{i} AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl)::DOUBLE AS avgdl FROM dl{i}),
ts{i} AS (SELECT term, count(*)::DOUBLE AS df FROM tdt{i} GROUP BY term),
scored{i} AS (
  SELECT qt.query_id, '{name}' AS index_name, tdt{i}.doc_id,
         round(sum(
           ln(1 + (cs{i}.n_docs - ts{i}.df + 0.5) / (ts{i}.df + 0.5))
           * (tdt{i}.tf * ({K1} + 1)) / (tdt{i}.tf + {K1} * (1 - {B} + {B} * dl{i}.dl / cs{i}.avgdl))
         ), {SCORE_DECIMALS}) AS score
  FROM tdt{i}
  JOIN qt ON tdt{i}.term = qt.term
  JOIN ts{i} ON tdt{i}.term = ts{i}.term
  JOIN dl{i} ON tdt{i}.doc_id = dl{i}.doc_id
  CROSS JOIN cs{i}
  GROUP BY qt.query_id, tdt{i}.doc_id
)"""
        )
    union = " UNION ALL ".join(
        f"SELECT * FROM scored{i}" for i in range(len(splits))
    )
    return f"""
WITH qt AS (
  SELECT DISTINCT query_id, term FROM (
    SELECT query_id, unnest(regexp_split_to_array(lower(query), '{TOKEN_SPLIT_RE}')) AS term
    FROM {sql_queries_values(queries)}
  ) WHERE term <> ''
),
{','.join(arms)}
SELECT query_id, index_name, doc_id, score FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rn
  FROM ({union})
) WHERE rn <= {k}
"""
