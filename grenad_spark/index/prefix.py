"""Materialized prefix postings — Meilisearch's word_prefix_docids DB.

Meilisearch precomputes, with grenad writers/mergers, one merged posting
list per short word PREFIX (word_prefix_docids / word_prefix_pair tables)
so that last-word-prefix queries read ONE list instead of fanning out over
every dictionary word with that prefix. This module is that build stage
re-expressed Spark-first:

  prefix stream  = token stream with each term replaced by its prefixes
                   (lengths 1..max_len), tf summed per (prefix, doc)
  segments       = the SAME (key, shard)-shuffled block encode as the main
                   index (build_segments — grenad's Sorter/Writer pipeline;
                   duplicate (prefix, doc) rows from different source terms
                   merge in the encoder's run-length pass, exactly grenad's
                   group-adjacent-equal-keys merge, src/sorter.rs:541-561)
  prefix_dict    = per-prefix footer stats (df/cf/blocks), the idf source

Only prefixes covering >= min_terms distinct dictionary words are
materialized (Meilisearch similarly thresholds its prefix DBs): a prefix
covering one word IS that word's posting list. The serving path falls back
to on-the-fly expansion + aggregation for unmaterialized prefixes with
IDENTICAL semantics (tested equal), so the threshold is purely a
space/speed knob.

Scoring semantics (Meilisearch words-rule analog): the prefix acts as ONE
query word — tf(doc) = total occurrences of any word with the prefix,
df = number of docs containing any such word; BM25 over those.

Scale: selection runs on the vocabulary (term_dict), not the corpus; the
prefix stream shuffle keys on (prefix, shard), so a hot 1-char prefix
spreads over the doc-range shards instead of one reducer; serving reads
are In(prefix)-pruned segment scans like every other posting read. At
10^12 docs the 1-char lists are the skew monsters — they are exactly what
this stage exists for: block metadata keeps per-block decode bounded and
the shard spread keeps the kernel groups at docs_per_shard.
"""

from __future__ import annotations

import json
import os
import time

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from grenad_spark.functions.literals import isin, sql_lit
from grenad_spark.index.build import (
    IndexHandle,
    _done,
    build_segments,
    term_dict_from_segments,
    tokens_with_dl,
)
from grenad_spark.query.bm25 import B, K1, SCORE_DECIMALS
from grenad_spark.query.search import _empty_result, _n_queries, _rank_topk

DEFAULT_MAX_LEN = 2
DEFAULT_MIN_TERMS = 2


def _prefixes_col(max_len: int):
    return F.expr(
        f"transform(sequence(1, least(length(term), {int(max_len)})), "
        "i -> substring(term, 1, i))"
    )


def build_prefix_postings(
    spark: SparkSession,
    docs: DataFrame,
    index_dir: str,
    *,
    max_len: int = DEFAULT_MAX_LEN,
    min_terms: int = DEFAULT_MIN_TERMS,
    partitions: int | None = None,
    compression: str = "zstd",
    block_size: int | None = None,
) -> None:
    """Add (or resume) the prefix_postings tables beside an existing index.
    Shard geometry, payload codec, and block size come from the manifest so
    prefix blocks line up with the main postings blocks. Separate stage
    like positions: only prefix serving pays for it."""
    out_path = os.path.join(index_dir, "prefix_postings")
    dict_path = os.path.join(index_dir, "prefix_dict")
    mpath = os.path.join(index_dir, "manifest.json")
    if _done(out_path) and _done(dict_path):
        with open(mpath) as fh:
            manifest = json.load(fh)
        if not manifest.get("prefix_postings"):
            manifest["prefix_postings"] = {
                "max_len": int(max_len), "min_terms": int(min_terms)
            }
            tmp = mpath + ".tmp"
            with open(tmp, "w") as fh:
                json.dump(manifest, fh, indent=1)
            os.replace(tmp, mpath)
        return
    with open(mpath) as fh:
        manifest = json.load(fh)
    n_shards = int(manifest["n_shards"])
    doc_space = int(manifest["max_doc"]) + 1
    payload_codec = manifest.get("payload_codec", "none")
    partitions = partitions or spark.sparkContext.defaultParallelism
    t0 = time.time()

    # selection on the VOCABULARY (term_dict is corpus-independent-sized):
    # prefixes covering >= min_terms distinct words
    td = spark.read.parquet(os.path.join(index_dir, "term_dict"))
    selected = (
        td.select(F.explode(_prefixes_col(max_len)).alias("prefix"))
        .groupBy("prefix")
        .agg(F.count("*").cast("int").alias("n_terms"))
        .filter(F.col("n_terms") >= int(min_terms))
        .select("prefix")
    )

    stream = (
        tokens_with_dl(docs)
        .withColumn("prefix", F.explode(_prefixes_col(max_len)))
        .join(F.broadcast(selected), "prefix")
        .select(F.col("prefix").alias("term"), "doc_id", "dl", "tf")
    )
    segments = build_segments(
        stream, doc_space, n_shards,
        partitions=partitions, payload_codec=payload_codec,
        block_size=block_size,
    )
    # persist before the range write: repartitionByRange samples its child —
    # unpersisted, the whole prefix-explode pipeline would run twice; the
    # dict agg shares the persisted rows and runs concurrently with the write
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target
    from pyspark.storagelevel import StorageLevel

    segments = segments.persist(StorageLevel.MEMORY_AND_DISK)

    def _write_blocks():
        (
            segments.repartitionByRange(
                max(1, partitions // 4), "term", "shard", "block_id"
            )
            .sortWithinPartitions("term", "shard", "block_id")
            .write.mode("overwrite").option("compression", compression)
            .parquet(out_path)
        )

    def _write_dict():
        (
            term_dict_from_segments(segments)
            .withColumnRenamed("term", "prefix")
            .coalesce(1)
            .write.mode("overwrite").option("compression", compression)
            .parquet(dict_path)
        )

    with ThreadPoolExecutor(max_workers=2) as pool:
        futs = [
            pool.submit(inheritable_thread_target(spark)(w))
            for w in (_write_blocks, _write_dict)
        ]
        for fut in futs:
            fut.result()
    segments.unpersist()
    manifest.setdefault("stage_seconds", {})["prefix_postings"] = round(
        time.time() - t0, 3
    )
    manifest["prefix_postings"] = {
        "max_len": int(max_len), "min_terms": int(min_terms)
    }
    tmp = mpath + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(manifest, fh, indent=1)
    os.replace(tmp, mpath)


# ---------------------------------------------------------------------------
# serving — the prefix-as-one-word BM25 page
# ---------------------------------------------------------------------------

_PREF_ROWS_SCHEMA = "query_id int, prefix string, doc_id long, tf int, dl int"


def _make_decode_pref_rows(codec: str):
    """mapInPandas kernel: joined block rows → (query_id, prefix, doc_id,
    tf, dl). Every block restarts at an absolute doc id (functions/varbyte.py
    layout), so a whole batch of blocks, in any order, decodes in one call;
    each posting takes its block's query_id and prefix."""
    from grenad_spark.functions.varbyte import (
        decode_block_rows,
        decompress_payloads,
    )

    def fn(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            n = pdf["n"].to_numpy()
            d, tf, dl = decode_block_rows(
                decompress_payloads(list(pdf["payload"]), codec), n
            )
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(pdf["query_id"].to_numpy(), n),
                    "prefix": np.repeat(pdf["prefix"].to_numpy(), n),
                    "doc_id": d,
                    "tf": tf.astype(np.int32),
                    "dl": dl.astype(np.int32),
                }
            )

    return fn


def prefix_doc_rows(
    spark: SparkSession,
    index: IndexHandle,
    pairs: list[tuple[int, str]],
) -> DataFrame:
    """(query_id, prefix, doc_id, tf, dl) for each (query_id, prefix) pair:
    tf = total occurrences of any word with the prefix. Materialized
    prefixes read their single merged In(prefix)-pruned list; the rest fall
    back to dictionary expansion over the main segments — both paths emit
    identical rows (asserted equal in tests). The shared building block of
    prefix-as-one-word serving (search_topk_prefix_db) and the last-word-
    prefix proximity page (pairprox.search_topk_proximity_db_prefix)."""
    codec = index.payload_codec
    have: set[str] = set()
    pdict = index.prefix_dict(spark)
    if pdict is not None:
        prefs = sorted({p for _, p in pairs})
        have = {
            r["prefix"]
            for r in pdict.filter(isin("prefix", prefs)).select("prefix").collect()
        }
    mat = [(q, p) for q, p in pairs if p in have]
    miss = [(q, p) for q, p in pairs if p not in have]
    parts = []
    if mat:
        qdf = spark.createDataFrame(mat, "query_id int, prefix string")
        blocks = (
            index.prefix_segments(spark)
            .filter(isin("term", sorted({p for _, p in mat})))
            .join(F.broadcast(qdf), F.col("term") == F.col("prefix"))
            .select("query_id", "prefix", "n", "payload")
        )
        parts.append(blocks)
    if miss:
        qdf = spark.createDataFrame(miss, "query_id int, prefix string")
        # coarse OR-of-startswith pushes to parquet as StringStartsWith and
        # prunes the range-partitioned-by-term files; the broadcast join
        # alone would leave both scans full (only IsNotNull pushed)
        coarse = F.expr(
            " OR ".join(
                f"startswith(term, {sql_lit(p)})" for p in sorted({p for _, p in miss})
            )
        )
        td = index.term_dict(spark).select("term").filter(coarse)
        expand = td.join(
            F.broadcast(qdf), F.expr("startswith(term, prefix)")
        ).select("query_id", "prefix", "term")
        blocks = (
            index.segments(spark)
            .filter(coarse)
            .join(expand.hint("broadcast"), "term")
            .select("query_id", "prefix", "n", "payload")
        )
        parts.append(blocks)
    allb = parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1])
    # no exchange into the decode: its rows re-aggregate per
    # (query_id, prefix, doc_id) below
    rows = allb.mapInPandas(_make_decode_pref_rows(codec), _PREF_ROWS_SCHEMA)
    return rows.groupBy("query_id", "prefix", "doc_id").agg(
        F.sum("tf").cast("double").alias("tf"), F.first("dl").alias("dl")
    )


def prefix_score_col(index: IndexHandle):
    """Raw (unrounded) prefix-as-one-word BM25 column over prefix_doc_rows
    output extended with a per-(query, prefix) df column."""
    avgdl = float(index.avgdl)
    n_docs = float(index.n_docs)
    return (
        F.log(F.lit(1.0) + (F.lit(n_docs) - F.col("df") + 0.5) / (F.col("df") + 0.5))
        * (F.col("tf") * (K1 + 1))
        / (F.col("tf") + K1 * (1 - B + B * F.col("dl") / F.lit(avgdl)))
    )


def search_topk_prefix_db(
    spark: SparkSession,
    index: IndexHandle,
    queries: list[tuple[int, str]],
    k: int = 10,
) -> DataFrame:
    """Top-k BM25 where each query string is ONE prefix scored as one word
    (tf summed over matching words per doc, df = docs with any such word).
    Materialized prefixes read ONE merged posting list (the point of the
    stage); unmaterialized ones expand against the dictionary — identical
    rows either way (prefix_doc_rows). (query_id, doc_id, score)."""
    pairs = sorted({(int(q), p.lower().strip()) for q, p in queries if p.strip()})
    if not pairs:
        return _empty_result(spark, "query_id int, doc_id long, score double")
    agg = prefix_doc_rows(spark, index, pairs)
    wdf = Window.partitionBy("query_id", "prefix")
    scored = (
        agg.withColumn("df", F.count("*").over(wdf).cast("double"))
        .withColumn("s", prefix_score_col(index))
        .groupBy("query_id", "doc_id")
        .agg(F.sum("s").alias("score"))
    )
    return _rank_topk(scored, _n_queries(pairs), int(k))


def sql_prefix_db_topk(queries: list[tuple[int, str]], k: int = 10) -> str:
    """DuckDB oracle for search_topk_prefix_db: prefix-as-one-word BM25
    (starts_with expansion, tf summed per doc, df counted after merge)."""
    from grenad_spark.functions.tokenize import TOKEN_SPLIT_RE, sql_term_doc_tf

    pairs = sorted({(int(q), p.lower().strip()) for q, p in queries if p.strip()})
    if not pairs:
        return "SELECT NULL::INT query_id, NULL::BIGINT doc_id, NULL::DOUBLE score WHERE false"
    rows = ", ".join(f"({q}, '{p}')" for q, p in pairs)
    return f"""
WITH tdt AS ({sql_term_doc_tf('documents')}),
dl AS (
  SELECT doc_id,
         len(list_filter(regexp_split_to_array(lower(text), '{TOKEN_SPLIT_RE}'), x -> x <> '')) AS dl
  FROM documents
),
cs AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl)::DOUBLE AS avgdl FROM dl),
qp AS (SELECT * FROM (VALUES {rows}) AS v(query_id, prefix)),
pd AS (
  SELECT qp.query_id, qp.prefix, tdt.doc_id, sum(tdt.tf)::DOUBLE AS tf
  FROM tdt JOIN qp ON starts_with(tdt.term, qp.prefix)
  GROUP BY 1, 2, 3
),
pdf AS (SELECT query_id, prefix, count(*)::DOUBLE AS df FROM pd GROUP BY 1, 2),
scored AS (
  SELECT p.query_id, p.doc_id,
         round(sum(
           ln(1 + (cs.n_docs - f.df + 0.5) / (f.df + 0.5))
           * (p.tf * ({K1} + 1)) / (p.tf + {K1} * (1 - {B} + {B} * dl.dl / cs.avgdl))
         ), {SCORE_DECIMALS}) AS score
  FROM pd p
  JOIN pdf f ON f.query_id = p.query_id AND f.prefix = p.prefix
  JOIN dl ON dl.doc_id = p.doc_id
  CROSS JOIN cs
  GROUP BY 1, 2
)
SELECT query_id, doc_id, score FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rn
  FROM scored
) WHERE rn <= {k}
"""
