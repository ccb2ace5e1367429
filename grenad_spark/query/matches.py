"""showMatchesPosition: per-hit occurrence positions of the matched terms.

Meilisearch's `showMatchesPosition: true` returns, for every hit, the
locations of each matched query term inside the document
(`_matchesPosition: {word: [{start, length}, ...]}`). Its byte offsets come
from re-tokenizing the stored document at serving time; the INDEX-side
source of truth is the word-position database — and that is what this
module serves: the token index (0-based position in the token stream) of
every occurrence of every matched query term in every top-k hit, straight
from the positional index with no re-tokenization. Byte offsets are a
display-layer concern (see query/phrase.py's snippet/highlight machinery,
which crops the raw text); token positions are the engine-layer answer.

Output shape is FLAT — one row per (query, hit, term, occurrence) — so the
driver's value-hash contract covers every position (array columns hash
engine-specifically).

Plan: (1) the standard top-k serving plan produces the hit list (k·|queries|
rows — collected driver-side, the expansion-sized collect the house style
allows); (2) ONE pruned In(term) positions scan, block-range-filtered to
each query's [min_doc, max_doc] hit span, decodes only blocks that can
contain a hit; the kernel emits the occurrence rows. Work ∝ postings of the
query terms within the hit span — never ∝ corpus."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from grenad_spark.functions.tokenize import TOKEN_SPLIT_RE, sql_term_doc_tf
from grenad_spark.query.bm25 import B, K1, SCORE_DECIMALS, sql_queries_values
from grenad_spark.query.kernels import decode_positions, empty_frame
from grenad_spark.query.search import (
    _empty_result,
    _scoring_pairs,
    _serve_kernel,
    _tokenize_queries,
)

MATCHES_QUERIES: list[tuple[int, str]] = [
    (1, "merge sort"),
    (2, "the spark stream"),
    (3, "window"),
]

_OUT_SCHEMA = "query_id int, doc_id long, term string, pos long, score double"


def _make_matches_kernel(hits: dict[int, dict[int, float]], codec: str):
    """hits: query_id -> {doc_id: score} (the collected top-k)."""

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        qid = int(pdf["query_id"].iloc[0])
        want = hits.get(qid)
        if not want:
            return empty_frame(_OUT_SCHEMA)
        wdocs = np.fromiter(want.keys(), dtype=np.int64)
        wdocs.sort()
        decoded, _ = decode_positions(pdf, codec)
        out = []
        for term, (d, tf, dl, pos, occ) in decoded.items():
            if d.size == 0:
                continue
            sel = np.minimum(np.searchsorted(wdocs, d), wdocs.size - 1)
            hit = wdocs[sel] == d
            if not hit.any():
                continue
            # expand per-occurrence rows for the hit docs only
            reps = np.where(hit, tf, 0)
            doc_rep = np.repeat(d, reps)
            mask = np.repeat(hit, tf)
            out.append(
                pd.DataFrame(
                    {
                        "query_id": qid,
                        "doc_id": doc_rep,
                        "term": term,
                        "pos": pos[mask],
                        "score": [want[int(x)] for x in doc_rep],
                    }
                )
            )
        return pd.concat(out, ignore_index=True) if out else empty_frame(_OUT_SCHEMA)

    return fn


def search_topk_matches(
    spark: SparkSession,
    index,
    queries: list[tuple[int, str]],
    k: int = 10,
) -> DataFrame:
    """(query_id, doc_id, term, pos, score): every occurrence position of
    every matched query term inside the BM25 top-k hits. pos is the 0-based
    token index (fid-packed when the index is fielded — callers unpack with
    FIELD_BITS)."""
    from grenad_spark.query.search import search_topk

    top = search_topk(spark, index, queries, k=k, mode="exhaustive").collect()
    hits: dict[int, dict[int, float]] = {}
    for r in top:
        hits.setdefault(r.query_id, {})[r.doc_id] = r.score
    pairs = _scoring_pairs(
        spark, index, [(q, t) for q, t in _tokenize_queries(queries) if q in hits]
    )
    if not pairs:
        return _empty_result(spark, _OUT_SCHEMA)

    def span_prune(blocks: DataFrame) -> DataFrame:
        # block-range prune: a block can contain a hit only if its doc range
        # overlaps the query's hit span (hits are k docs; spans are tight)
        spans = spark.createDataFrame(
            [(qid, int(min(ds)), int(max(ds))) for qid, ds in hits.items()],
            "query_id int, lo long, hi long",
        )
        return blocks.join(F.broadcast(spans), "query_id").filter(
            (F.col("first_doc") <= F.col("hi")) & (F.col("last_doc") >= F.col("lo"))
        )

    return _serve_kernel(
        spark, index, pairs, _make_matches_kernel(hits, index.payload_codec), _OUT_SCHEMA,
        table="positions", prepass=span_prune,
    )


def sql_matches_topk(
    queries: list[tuple[int, str]] | None = None, k: int = 10
) -> str:
    """DuckDB oracle: BM25 top-k, then token positions via a lateral
    range-unnest over the token array."""
    queries = queries if queries is not None else MATCHES_QUERIES
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
qt AS (
  SELECT DISTINCT query_id, term FROM (
    SELECT query_id, unnest(regexp_split_to_array(lower(query), '{TOKEN_SPLIT_RE}')) AS term
    FROM {sql_queries_values(queries)}
  ) WHERE term <> ''
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
),
topk AS (
  SELECT query_id, doc_id, score FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rn
    FROM scored
  ) WHERE rn <= {k}
),
tokpos AS (
  SELECT tk.doc_id, tk.t[p] AS term, p - 1 AS pos
  FROM tk, unnest(range(1, len(tk.t) + 1)) AS u(p)
)
SELECT s.query_id, s.doc_id, tp.term, tp.pos, s.score
FROM topk s
JOIN qt ON qt.query_id = s.query_id
JOIN tokpos tp ON tp.doc_id = s.doc_id AND tp.term = qt.term
"""
