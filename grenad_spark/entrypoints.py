"""Registry of driver-contract queries + DuckDB oracles.

Each query is a (spark, sf_dir) -> DataFrame callable mirroring one operator
from SURVEY.md §2; its oracle is ANSI SQL DuckDB runs over the same parquet
views. Column names are aliased identically on both sides (driver hashes
values after sorting columns by name).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from grenad_spark import corpus
from grenad_spark.functions.tokenize import (
    TOKEN_SPLIT_RE,
    sql_term_doc_tf,
    term_doc_tf,
    tokens_col,
)
from grenad_spark.index import stats as istats
from grenad_spark.query import bm25

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn
    return deco


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return corpus.load_documents(spark, sf_dir)


# ---------------------------------------------------------------------------
# Index-build stream: tokenizer + (term, doc_id, tf) — Sorter input
# (reference src/sorter.rs:478-498: arbitrary-order inserts; here the token
# stream before the range shuffle).
# ---------------------------------------------------------------------------

@register("term_doc_tf", f"SELECT term, doc_id, tf FROM ({sql_term_doc_tf('documents')})")
def q_term_doc_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    return term_doc_tf(_docs(spark, sf_dir)).select("term", "doc_id", "tf")


@register(
    "term_stats",
    f"SELECT term, count(*)::BIGINT AS df, sum(tf)::BIGINT AS cf "
    f"FROM ({sql_term_doc_tf('documents')}) GROUP BY term",
)
def q_term_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return istats.term_stats(term_doc_tf(_docs(spark, sf_dir)))


@register(
    "doc_lengths",
    "SELECT doc_id, len(list_filter(regexp_split_to_array(lower(text), "
    f"'{TOKEN_SPLIT_RE}'), x -> x <> ''))::INT AS dl FROM documents",
)
def q_doc_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    return istats.doc_lengths(_docs(spark, sf_dir)).select(
        "doc_id", F.col("dl").cast("int").alias("dl")
    )


@register(
    "corpus_stats",
    "SELECT count(*)::BIGINT AS n_docs, round(avg(dl), 6) AS avgdl FROM ("
    "SELECT len(list_filter(regexp_split_to_array(lower(text), "
    f"'{TOKEN_SPLIT_RE}'), x -> x <> '')) AS dl FROM documents)",
)
def q_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    dl = istats.doc_lengths(_docs(spark, sf_dir))
    return dl.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.round(F.avg("dl"), 6).alias("avgdl"),
    )


# ---------------------------------------------------------------------------
# Posting lists as ordered arrays — Writer::insert ordering invariant
# (reference src/block_writer.rs:109 asserts strictly-increasing keys; our
# postings are doc_id-ascending per term, serialized to a string for the
# cross-engine hash).
# ---------------------------------------------------------------------------

@register(
    "postings",
    "SELECT term, string_agg(doc_id::VARCHAR || ':' || tf::VARCHAR, ',' ORDER BY doc_id) "
    f"AS posting FROM ({sql_term_doc_tf('documents')}) GROUP BY term",
)
def q_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    tdt = term_doc_tf(_docs(spark, sf_dir))
    return tdt.groupBy("term").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("doc_id", "tf"))),
                lambda s: F.concat_ws(":", s["doc_id"].cast("string"), s["tf"].cast("string")),
            ),
            ",",
        ).alias("posting")
    )


# ---------------------------------------------------------------------------
# Reader/cursor analogs (reference src/reader/reader_cursor.rs,
# prefix_iter.rs, range_iter.rs) — point/seek/prefix/range over the sorted
# term dictionary. Catalyst turns these into pruned scans; at scale the
# range-partitioned segment layout makes them partition-pruned.
# ---------------------------------------------------------------------------

@register(
    "point_lookup",
    f"SELECT term, doc_id, tf FROM ({sql_term_doc_tf('documents')}) WHERE term = 'spark'",
)
def q_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # move_on_key_equal_to (src/reader/reader_cursor.rs:211-219)
    tdt = term_doc_tf(_docs(spark, sf_dir))
    return tdt.filter(F.col("term") == "spark").select("term", "doc_id", "tf")


@register(
    "seek_gte",
    "SELECT term, df FROM (SELECT term, count(*)::BIGINT AS df FROM ("
    + sql_term_doc_tf("documents")
    + ") GROUP BY term) WHERE term >= 'v' ORDER BY term LIMIT 1",
)
def q_seek_gte(spark: SparkSession, sf_dir: str) -> DataFrame:
    # move_on_key_greater_than_or_equal_to (src/reader/reader_cursor.rs:184-209)
    ts = istats.term_stats(term_doc_tf(_docs(spark, sf_dir)))
    return ts.filter(F.col("term") >= "v").orderBy("term").limit(1).select("term", "df")


@register(
    "seek_lte",
    "SELECT term, df FROM (SELECT term, count(*)::BIGINT AS df FROM ("
    + sql_term_doc_tf("documents")
    + ") GROUP BY term) WHERE term <= 'candle' ORDER BY term DESC LIMIT 1",
)
def q_seek_lte(spark: SparkSession, sf_dir: str) -> DataFrame:
    # move_on_key_lower_than_or_equal_to (src/reader/reader_cursor.rs:167-182)
    ts = istats.term_stats(term_doc_tf(_docs(spark, sf_dir)))
    return ts.filter(F.col("term") <= "candle").orderBy(F.desc("term")).limit(1).select("term", "df")


@register(
    "prefix_scan",
    "SELECT term, df, cf FROM (SELECT term, count(*)::BIGINT AS df, sum(tf)::BIGINT AS cf "
    f"FROM ({sql_term_doc_tf('documents')}) GROUP BY term) WHERE term LIKE 's%'",
)
def q_prefix_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    # PrefixIter (src/reader/prefix_iter.rs:8-94): startswith ⇒ range
    # [p, successor(p)) so a range-partitioned dictionary prunes partitions.
    ts = istats.term_stats(term_doc_tf(_docs(spark, sf_dir)))
    return ts.filter(F.col("term").startswith("s"))


@register(
    "range_scan",
    "SELECT term, df, cf FROM (SELECT term, count(*)::BIGINT AS df, sum(tf)::BIGINT AS cf "
    f"FROM ({sql_term_doc_tf('documents')}) GROUP BY term) "
    "WHERE term >= 'm' AND term < 'sp'",
)
def q_range_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    # RangeIter with Included/Excluded bounds (src/reader/range_iter.rs:8-106)
    ts = istats.term_stats(term_doc_tf(_docs(spark, sf_dir)))
    return ts.filter((F.col("term") >= "m") & (F.col("term") < "sp"))


@register(
    "first_last_key",
    "SELECT min(term) AS first_term, max(term) AS last_term, count(*)::BIGINT AS n_terms "
    f"FROM (SELECT DISTINCT term FROM ({sql_term_doc_tf('documents')}))",
)
def q_first_last_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    # move_on_first / move_on_last (src/reader/reader_cursor.rs:91-129) +
    # Reader::len (src/reader/mod.rs:62-105)
    tdt = term_doc_tf(_docs(spark, sf_dir)).select("term").distinct()
    return tdt.agg(
        F.min("term").alias("first_term"),
        F.max("term").alias("last_term"),
        F.count("*").cast("long").alias("n_terms"),
    )


# ---------------------------------------------------------------------------
# Flagship: BM25 top-k (exhaustive path; rank-identical to the WAND path,
# asserted in tests/test_wand.py).
# ---------------------------------------------------------------------------

@register("bm25_topk", bm25.bm25_oracle_sql())
def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bm25.bm25_topk(spark, _docs(spark, sf_dir))


# ---------------------------------------------------------------------------
# Index-backed search: the full build pipeline (shard → encode → segment
# parquet → pruned scan → decode/WAND) gated by the SAME BM25 oracle — this
# checks the entire Sorter/Writer/Merger/Reader chain end to end.
# ---------------------------------------------------------------------------

_INDEX_CACHE: dict[str, object] = {}


def build_or_get_index(spark: SparkSession, sf_dir: str):
    from grenad_spark.index.build import CURRENT_FORMAT_VERSION, build_index

    key = sf_dir.rstrip("/").replace("/", "_")
    if key not in _INDEX_CACHE:
        # format version in the path: a /tmp index left by an OLDER engine
        # would otherwise resume (checkpoint _SUCCESS markers) with the old
        # segment schema and silently disable newer serving paths
        _INDEX_CACHE[key] = build_index(
            spark,
            _docs(spark, sf_dir),
            f"/tmp/grenad_index_v{CURRENT_FORMAT_VERSION}{key}",
            n_shards=4,
            overwrite=True,
        )
    return _INDEX_CACHE[key]


@register("bm25_topk_indexed", bm25.bm25_oracle_sql())
def q_bm25_topk_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from grenad_spark.query.search import search_topk

    idx = build_or_get_index(spark, sf_dir)
    return search_topk(spark, idx, bm25.REFERENCE_QUERIES, k=10, mode="exhaustive")


@register("bm25_topk_wand", bm25.bm25_oracle_sql())
def q_bm25_topk_wand(spark: SparkSession, sf_dir: str) -> DataFrame:
    from grenad_spark.query.search import search_topk

    idx = build_or_get_index(spark, sf_dir)
    return search_topk(spark, idx, bm25.REFERENCE_QUERIES, k=10, mode="wand")


@register("bm25_topk_wand_pruned", bm25.bm25_oracle_sql())
def q_bm25_topk_wand_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO-PASS metadata-pruned serving (query/search.py _search_pruned):
    pass 1 ships block metadata only and computes a θ lower bound + surviving
    block set; pass 2 shuffles ONLY surviving payloads into the scoring UDF.
    Gated by the same BM25 oracle — pruning must be invisible in the values."""
    from grenad_spark.query.search import search_topk

    idx = build_or_get_index(spark, sf_dir)
    return search_topk(spark, idx, bm25.REFERENCE_QUERIES, k=10, mode="wand_pruned")


@register("bm25_topk_shared", bm25.bm25_oracle_sql())
def q_bm25_topk_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode-once-score-many batch serving path (each distinct block ships
    through the shuffle exactly once), gated by the same BM25 oracle."""
    from grenad_spark.query.search import search_topk_shared

    idx = build_or_get_index(spark, sf_dir)
    return search_topk_shared(spark, idx, bm25.REFERENCE_QUERIES, k=10)


@register("bm25_topk_shared_pruned", bm25.bm25_oracle_sql())
def q_bm25_topk_shared_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared-decode batch serving COMPOSED with the pass-1 metadata pruner
    (shuffle ∝ union of surviving blocks, each shipped once) — the
    exactness argument in search_topk_shared's docstring, driver-checked
    against the same BM25 oracle."""
    from grenad_spark.query.search import search_topk_shared

    idx = build_or_get_index(spark, sf_dir)
    return search_topk_shared(spark, idx, bm25.REFERENCE_QUERIES, k=10, prune=True)


# ---------------------------------------------------------------------------
# Relational glue the engine gets from Catalyst (joins, multi-agg, date
# filters) — exercised TPC-H-style so the oracle gate covers them.
# ---------------------------------------------------------------------------


@register(
    "pricing_summary",
    """
SELECT l_returnflag, l_linestatus,
       sum(l_quantity)::BIGINT AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(avg(l_quantity), 6) AS avg_qty,
       count(*)::BIGINT AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
""",
)
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").cast("long").alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.count("*").cast("long").alias("count_order"),
        )
    )


@register(
    "top_revenue_orders",
    """
SELECT o_orderkey, c_custkey, round(revenue, 2) AS revenue FROM (
  SELECT o.o_orderkey, c.c_custkey,
         sum(l.l_extendedprice * (1 - l.l_discount)) AS revenue,
         row_number() OVER (ORDER BY sum(l.l_extendedprice * (1 - l.l_discount)) DESC, o.o_orderkey ASC) AS rn
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY o.o_orderkey, c.c_custkey
) WHERE rn <= 20
""",
)
def q_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    rev = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey", "c_custkey")
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
    )
    w = Window.orderBy(F.desc("revenue"), F.asc("o_orderkey"))
    return (
        rev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
        .select("o_orderkey", "c_custkey", F.round("revenue", 2).alias("revenue"))
    )


@register(
    "events_cube",
    """
SELECT coalesce(event_type, '<all>') AS event_type,
       coalesce(strftime(ts, '%Y-%m-%d'), '<all>') AS day,
       count(*)::BIGINT AS n, round(sum(value), 4) AS v
FROM events GROUP BY CUBE (event_type, strftime(ts, '%Y-%m-%d'))
""",
)
def q_events_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE aggregation (absent in the reference, SURVEY §2.8; Catalyst
    expands it to grouping sets in one pass)."""
    ev = _events(spark, sf_dir).withColumn(
        "day", F.date_format(F.col("ts"), "yyyy-MM-dd")
    )
    return (
        ev.cube("event_type", "day")
        .agg(F.count("*").cast("long").alias("n"), F.round(F.sum("value"), 4).alias("v"))
        .select(
            F.coalesce("event_type", F.lit("<all>")).alias("event_type"),
            F.coalesce("day", F.lit("<all>")).alias("day"),
            "n",
            "v",
        )
    )


@register(
    "events_pivot",
    """
SELECT user_bucket,
       coalesce(round(sum(value) FILTER (event_type = 'click'), 4), 0.0) AS click,
       coalesce(round(sum(value) FILTER (event_type = 'view'), 4), 0.0) AS view,
       coalesce(round(sum(value) FILTER (event_type = 'purchase'), 4), 0.0) AS purchase
FROM (SELECT user_id % 10 AS user_bucket, event_type, value FROM events)
GROUP BY user_bucket
""",
)
def q_events_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).withColumn("user_bucket", F.col("user_id") % 10)
    piv = (
        ev.groupBy("user_bucket")
        .pivot("event_type", ["click", "view", "purchase"])
        .agg(F.round(F.sum("value"), 4))
    )
    return piv.select(
        "user_bucket",
        *[F.coalesce(F.col(c), F.lit(0.0)).alias(c) for c in ["click", "view", "purchase"]],
    )


# ---------------------------------------------------------------------------
# Corpus canonicalization + extractor invariant (BASELINE.json input_hint:
# byte-identical extracted text per url). The Spark side round-trips
# text -> html bytes -> extract_text; the oracle hashes the source text —
# equality proves the extractor is byte-identical.
# ---------------------------------------------------------------------------


@register(
    "extract_text_invariant",
    "SELECT 'https://' || source || '/doc/' || doc_id AS url, md5(text) AS text_md5 "
    "FROM documents",
)
def q_extract_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    cc = corpus.to_cc_shape(_docs(spark, sf_dir))
    ex = corpus.extract_text(cc)
    return ex.select("url", F.md5("extracted_text").alias("text_md5"))


# ---------------------------------------------------------------------------
# KV merge functions (grenad MergeFunction surface, SURVEY §2.3) exercised on
# lineitem as the KV stream: key=l_orderkey, seq=l_linenumber.
# ---------------------------------------------------------------------------

from grenad_spark.operators import merge as kvmerge  # noqa: E402


def _lineitem_kv(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return li.select(
        F.col("l_orderkey").alias("key"),
        F.col("l_quantity").cast("long").alias("value"),
        F.lit(0).alias("source_id"),
        F.col("l_linenumber").cast("long").alias("seq"),
    )


@register(
    "kv_merge_concat",
    # seq (l_linenumber) is non-unique in the synthetic data; the engine's
    # _ordered_values sorts by (source_id, seq, value), so the oracle
    # tie-breaks identically
    "SELECT l_orderkey AS key, string_agg(l_quantity::BIGINT::VARCHAR, ',' "
    "ORDER BY l_linenumber, l_quantity::BIGINT::VARCHAR) AS value FROM lineitem GROUP BY l_orderkey",
)
def q_kv_merge_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    kv = _lineitem_kv(spark, sf_dir).withColumn("value", F.col("value").cast("string"))
    return kvmerge.merge_concat(kv, sep=",")


@register(
    "kv_merge_keep_first",
    "SELECT key, value FROM (SELECT l_orderkey AS key, l_quantity::BIGINT AS value, "
    "row_number() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_quantity) AS rn "
    "FROM lineitem) WHERE rn = 1",
)
def q_kv_merge_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    return kvmerge.merge_keep_first(_lineitem_kv(spark, sf_dir))


@register(
    "kv_merge_keep_last",
    "SELECT key, value FROM (SELECT l_orderkey AS key, l_quantity::BIGINT AS value, "
    "row_number() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber DESC, l_quantity DESC) AS rn "
    "FROM lineitem) WHERE rn = 1",
)
def q_kv_merge_keep_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    return kvmerge.merge_keep_last(_lineitem_kv(spark, sf_dir))


@register(
    "kv_merge_sum_u32",
    "SELECT l_orderkey AS key, (sum(l_quantity::BIGINT) % 4294967296)::BIGINT AS value "
    "FROM lineitem GROUP BY l_orderkey",
)
def q_kv_merge_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    return kvmerge.merge_wrapping_sum_u32(_lineitem_kv(spark, sf_dir))


# ---------------------------------------------------------------------------
# Event-stream relational ops (window/sessionization/top-k per group)
# ---------------------------------------------------------------------------

from grenad_spark.operators import events as ev  # noqa: E402


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


@register("events_hourly_rollup", ev.SQL_HOURLY_ROLLUP)
def q_events_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ev.hourly_rollup(_events(spark, sf_dir))


@register("events_sessionize", ev.sql_sessionize())
def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ev.sessionize(_events(spark, sf_dir))


@register("events_topk_per_type", ev.sql_topk_per_type(3))
def q_events_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ev.topk_per_type(_events(spark, sf_dir), 3)


# ---------------------------------------------------------------------------
# Multimodal plumbing (rows-only: binary payload ops aren't SQL-expressible)
# ---------------------------------------------------------------------------


# The synthetic payload is 96 UTF-8 hex chars (3 chained md5 digests), so the
# byte histogram (bincount of byte>>4 over 16 bins, L1-normalized) is nonzero
# only at bin 3 (digits '0'-'9', 0x30-0x39) and bin 6 ('a'-'f', 0x61-0x66) —
# which DuckDB reproduces exactly by counting digit chars in the hex string.
# Features are emitted as 16 scalar double columns (rounded to 6) because the
# driver's canonicalizer sorts rows and cannot hash an array column.
_MEDIA_FEATURES_ORACLE = (
    "WITH h AS (SELECT doc_id, CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN "
    "'audio' ELSE 'video' END AS media_type, md5(text) || md5('p2:' || text) || "
    "md5('p3:' || text) AS hex FROM documents), "
    "d AS (SELECT doc_id, media_type, "
    "length(regexp_replace(hex, '[^0-9]', '', 'g'))::DOUBLE AS nd FROM h) "
    "SELECT doc_id, media_type, "
    + ", ".join(
        (
            "round(nd / 96.0, 6) AS f3" if i == 3
            else "round((96.0 - nd) / 96.0, 6) AS f6" if i == 6
            else f"0.0::DOUBLE AS f{i}"
        )
        for i in range(16)
    )
    + " FROM d"
)


@register("media_features", _MEDIA_FEATURES_ORACLE)
def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from grenad_spark.operators import multimodal

    media = multimodal.synthesize_media(_docs(spark, sf_dir))
    feats = multimodal.extract_features(media)
    return feats.select(
        "doc_id",
        "media_type",
        *[F.round(F.col("features")[i], 6).alias(f"f{i}") for i in range(16)],
    )


@register(
    "media_metadata",
    "SELECT doc_id, CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' "
    "ELSE 'video' END AS media_type, (doc_id % 64 + 16)::INT AS width, "
    "(doc_id % 48 + 16)::INT AS height, 96::INT AS n_bytes FROM documents",
)
def q_media_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    from grenad_spark.operators import multimodal

    return multimodal.synthesize_media(_docs(spark, sf_dir)).select(
        "doc_id", "media_type", "width", "height", "n_bytes"
    )


# media_resize: the stub resizer tiles the payload bytes to the target size.
# The synthetic payload is an ASCII hex string, so tiling bytes == tiling the
# string: DuckDB reproduces the exact output bytes via repeat()+substr() and
# the md5 of those bytes gates the operator end to end.
_RESIZE_W, _RESIZE_H = 24, 16
_MEDIA_RESIZE_ORACLE = f"""
WITH h AS (
  SELECT doc_id,
         md5(text) || md5('p2:' || text) || md5('p3:' || text) AS hex
  FROM documents
  WHERE doc_id % 3 = 0  -- media_type = 'image'
)
SELECT doc_id, {_RESIZE_W}::INT AS width, {_RESIZE_H}::INT AS height,
       md5(substr(repeat(hex, {(_RESIZE_W * _RESIZE_H) // 96 + 1}), 1, {_RESIZE_W * _RESIZE_H})) AS payload_md5
FROM h
"""


@register("media_resize", _MEDIA_RESIZE_ORACLE)
def q_media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from grenad_spark.operators import multimodal

    media = multimodal.synthesize_media(_docs(spark, sf_dir))
    out = multimodal.resize_images(media, _RESIZE_W, _RESIZE_H)
    return out.select("doc_id", "width", "height", F.md5("payload").alias("payload_md5"))


# media_frames: fixed 64-byte frame slicing, every 2nd frame kept; the
# 96-byte payload yields exactly frame 0 = the first 64 hex chars.
_MEDIA_FRAMES_ORACLE = """
SELECT doc_id, 0::INT AS frame_idx,
       md5(substr(md5(text) || md5('p2:' || text) || md5('p3:' || text), 1, 64)) AS frame_md5
FROM documents WHERE doc_id % 3 = 2  -- media_type = 'video'
"""


@register("media_frames", _MEDIA_FRAMES_ORACLE)
def q_media_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    from grenad_spark.operators import multimodal

    media = multimodal.synthesize_media(_docs(spark, sf_dir))
    out = multimodal.sample_frames(media, every_n=2)
    return out.select("doc_id", "frame_idx", F.md5("frame").alias("frame_md5"))


# ---------------------------------------------------------------------------
# Training-data pipeline: dedup family
# ---------------------------------------------------------------------------

from grenad_spark.operators import ann, dedup  # noqa: E402
from grenad_spark.functions import textstats  # noqa: E402


def _emb_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embeddings with a dim guard: the registered SQL oracles embed
    EMB_DIM-dim hyperplane/centroid literals at import time, so a table with
    a different dim would silently hash-mismatch (or worse, zip_with would
    null-pad). Fail loudly instead. Every oracle-gated query whose SQL bakes
    dim-dependent literals (LSH planes, IVF centroids, embedding-dedup
    bands) must load embeddings through this."""
    from grenad_spark.corpus import load_embeddings

    emb = load_embeddings(spark, sf_dir)
    d = ann.infer_dim(emb)
    if d != ann.EMB_DIM:
        raise ValueError(
            f"embeddings table at {sf_dir} has dim {d}, but the registered "
            f"SQL oracles were built for dim {ann.EMB_DIM} — re-register with "
            f"ann.sql_*(dim={d})"
        )
    return emb


@register("dedup_exact_groups", dedup.SQL_EXACT_DEDUP)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_dedup_groups(_docs(spark, sf_dir))


@register("dedup_exact_keep_first", dedup.SQL_EXACT_KEEP_FIRST)
def q_dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_dedup_keep_first(_docs(spark, sf_dir))


@register("dedup_ngram_jaccard", dedup.sql_ngram_jaccard(0.8))
def q_dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.ngram_jaccard_pairs(_docs(spark, sf_dir), 0.8)


@register("dedup_minhash_lsh", dedup.sql_minhash_lsh(0.5))
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_lsh_pairs(_docs(spark, sf_dir), 0.5)


@register("dedup_minhash_clusters", dedup.sql_dup_clusters(0.5))
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS (connected components over the MinHash pair graph)
    — what a keep-one-per-cluster dedup actually consumes. Spark side:
    iterative min-label propagation (rounds = graph diameter, each one
    co-partitioned join + min-agg); oracle: recursive-CTE transitive closure
    over the identical pair set."""
    return dedup.dup_clusters(dedup.minhash_lsh_pairs(_docs(spark, sf_dir), 0.5))


@register("dedup_simhash", dedup.sql_simhash())
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash(_docs(spark, sf_dir))


@register("dedup_embedding_cosine", dedup.sql_embedding_dups(0.45))
def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    # 0.45 chosen to yield a nonzero pair set on the synthetic embeddings
    # (max pairwise cosine there is ~0.51); oracle bakes EMB_DIM LSH-band
    # literals, hence the dim guard
    return dedup.embedding_dup_pairs(_emb_checked(spark, sf_dir), 0.45)


from grenad_spark.operators import curation  # noqa: E402


@register("curation_pipeline", curation.sql_curate())
def q_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed training-data curation (lang filter + quality threshold +
    near-dup removal) as one declarative plan — the end-to-end query a 100 TB
    pre-training corpus runs, oracle-gated as a whole."""
    return curation.curate(_docs(spark, sf_dir))


@register("curation_pipeline_clustered", curation.sql_curate(cluster_dedup=True))
def q_curation_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation with keep-one-per-CLUSTER near-dup removal (connected
    components over the pair graph) — pair-local removal under-removes on
    transitive chains; this is the production corpus-dedup semantics."""
    return curation.curate(_docs(spark, sf_dir), cluster_dedup=True)


@register("dedup_prefix_groups", dedup.sql_prefix_dedup(8))
def q_dedup_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.prefix_dedup_groups(_docs(spark, sf_dir), 8)


# ---------------------------------------------------------------------------
# Corpus scrubbing: PII redaction + benchmark decontamination
# ---------------------------------------------------------------------------

from grenad_spark.operators import scrub  # noqa: E402

# deterministic synthetic PII appended per doc (the corpus itself has none,
# so redaction must do real, checkable work)
_PII_SUFFIX_SQL = (
    "' contact user' || doc_id || '@example.com visit "
    "https://eval.example/run?id=' || doc_id || ' call 55512340000'"
)

_REDACT_ORACLE = f"""
WITH pii AS (SELECT doc_id, text || {_PII_SUFFIX_SQL} AS text FROM documents),
red AS (SELECT doc_id, {scrub.sql_redact_expr('text')} AS rt FROM pii)
SELECT doc_id, md5(rt) AS text_md5,
       ((len(rt) - len(replace(rt, '<email>', ''))) / len('<email>')
        + (len(rt) - len(replace(rt, '<url>', ''))) / len('<url>')
        + (len(rt) - len(replace(rt, '<number>', ''))) / len('<number>'))::DOUBLE
         AS n_redactions
FROM red
"""


@register("text_redact_pii", _REDACT_ORACLE)
def q_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (emails/URLs/long digit runs → typed placeholders) over
    a corpus with deterministic synthetic PII — byte-exact redacted text
    gated by md5, plus the per-doc redaction count."""
    docs = _docs(spark, sf_dir)
    pii = docs.select(
        "doc_id",
        F.concat(
            "text",
            F.lit(" contact user"), F.col("doc_id").cast("string"),
            F.lit("@example.com visit https://eval.example/run?id="),
            F.col("doc_id").cast("string"),
            F.lit(" call 55512340000"),
        ).alias("text"),
    )
    out = scrub.redact_pii(pii)
    return out.select(
        "doc_id",
        F.md5("text").alias("text_md5"),
        F.col("n_redactions").cast("double").alias("n_redactions"),
    )


_DECONTAM_ORACLE = f"""
WITH bsh AS (
  SELECT DISTINCT shingle FROM (
    {dedup.sql_shingles(5, "(SELECT doc_id, text FROM documents WHERE doc_id % 97 = 0)")}
  )
),
csh AS ({dedup.sql_shingles(5)}),
bad AS (SELECT DISTINCT doc_id FROM csh JOIN bsh USING (shingle))
SELECT doc_id FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM bad)
"""


@register("decontaminate_docs", _DECONTAM_ORACLE)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: docs sharing any word 5-gram with the
    (synthetic) eval set are excluded from training — the standard test-set
    leakage guard. Eval shingles broadcast; the corpus side is one scan +
    semi-join."""
    docs = _docs(spark, sf_dir)
    benchmark = docs.filter(F.col("doc_id") % 97 == 0)
    return scrub.decontaminate(docs, benchmark, n=5)


# ---------------------------------------------------------------------------
# Similarity search (ANN)
# ---------------------------------------------------------------------------

@register("ann_bruteforce_topk", ann.sql_brute_force_topk())
def q_ann_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    from grenad_spark.corpus import load_embeddings

    return ann.brute_force_topk(load_embeddings(spark, sf_dir))


@register("ann_lsh_topk", ann.sql_lsh_topk())
def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fully oracle-gated: md5-derived INTEGER hyperplanes + quantized
    vectors make every LSH sign bit exact cross-engine (see operators/ann.py);
    recall vs brute force additionally asserted in tests/test_dedup_ann.py."""
    return ann.lsh_topk(_emb_checked(spark, sf_dir))


@register("ann_ivf_topk", ann.sql_ivf_topk())
def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fully oracle-gated: md5-rank-selected deterministic centroids (baked
    at EMB_DIM — dim-guarded like the other literal-carrying oracles)."""
    return ann.ivf_topk(_emb_checked(spark, sf_dir))


@register("ann_ivf_kmeans_topk", ann.sql_ivf_kmeans_topk())
def q_ann_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with a REAL Lloyd quantizer — k-means in integer-quantized space
    (element sums are exact in any order, so centroids are bit-identical
    across engines), fully oracle-gated including both Lloyd iterations."""
    return ann.ivf_kmeans_topk(_emb_checked(spark, sf_dir))


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------

@register("text_token_count", textstats.SQL_TOKEN_COUNT)
def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.token_count(_docs(spark, sf_dir))


@register("text_quality_score", textstats.sql_quality_score())
def q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.quality_score(_docs(spark, sf_dir))


@register("text_lang_id", textstats.sql_lang_id())
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.lang_id(_docs(spark, sf_dir))


@register("text_fingerprint", textstats.SQL_FINGERPRINT)
def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.fingerprint(_docs(spark, sf_dir))


@register("text_repetition", textstats.sql_repetition_stats())
def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-family n-gram repetition filter (Rae et al. 2021 table A1,
    token-adapted): top-2/3-gram dominance and duplicate-5-gram mass per
    doc plus the keep verdict — one tagged-n-gram explode, one partial-agg
    shuffle ∝ n-grams, one pivot; zero UDFs."""
    return textstats.repetition_stats(_docs(spark, sf_dir))


# ---------------------------------------------------------------------------
# Facets — Meilisearch facet distribution (grenad facet databases).
# ---------------------------------------------------------------------------

from grenad_spark.operators import facets as _facets  # noqa: E402

_FACET_COLS = ["lang", "source"]


@register("facet_counts", _facets.sql_facet_counts(_FACET_COLS))
def q_facet_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _facets.facet_counts(_docs(spark, sf_dir), _FACET_COLS)


@register(
    "facet_counts_search",
    _facets.sql_facet_counts_for_term(_FACET_COLS, "dup"),
)
def q_facet_counts_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Search-restricted facet distribution: the match set is decoded from
    the INDEX's posting blocks (pruned one-term scan), then joined to the
    documents table — work ∝ posting size, never ∝ corpus."""
    idx = build_or_get_index(spark, sf_dir)
    return _facets.facet_counts_for_term(
        spark, idx, _docs(spark, sf_dir), "dup", _FACET_COLS
    )


@register("facet_numeric_buckets", _facets.sql_facet_numeric_buckets("n_chars", 500))
def q_facet_numeric_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _facets.facet_numeric_buckets(_docs(spark, sf_dir), "n_chars", 500)


@register(
    "facet_counts_phrase",
    _facets.sql_facet_counts_for_phrase(_FACET_COLS, "merge sort"),
)
def q_facet_counts_phrase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Facets of a PHRASE search: the match set comes from the positional
    layer (exact adjacency), then one doc_id join into the unpivot+count."""
    from grenad_spark.index.positions import build_positions

    idx = build_or_get_index(spark, sf_dir)
    if not idx.has_positions():
        build_positions(spark, _docs(spark, sf_dir), idx.path)
    return _facets.facet_counts_for_phrase(
        spark, idx, _docs(spark, sf_dir), "merge sort", _FACET_COLS
    )


from grenad_spark.query.phrase import sql_phrase_snippets as _sql_phrase_snippets  # noqa: E402


# Reader::len at the whole-index level (src/reader/mod.rs:62-105): the
# persisted index's structural totals must equal what the block-segmentation
# arithmetic predicts from the raw corpus — vocabulary size, posting count,
# and ceil(df_shard / block_size) summed over (term, shard) groups with the
# build's integer-DIV shard function. A strong roundtrip gate: any drift in
# sharding or block splitting shows up here as a count mismatch.
_INDEX_STATS_ORACLE = f"""
WITH tdt AS ({sql_term_doc_tf('documents')}),
ds AS (SELECT max(doc_id) + 1 AS space FROM documents),
per AS (
  SELECT term, CAST((doc_id * 4) // space AS INT) AS shard,
         count(*)::BIGINT AS df_shard
  FROM tdt CROSS JOIN ds GROUP BY 1, 2
)
SELECT count(DISTINCT term)::BIGINT AS n_terms,
       sum(df_shard)::BIGINT AS n_postings,
       sum(CAST(ceil(df_shard / 128.0) AS BIGINT))::BIGINT AS n_blocks
FROM per
"""


@register("index_stats", _INDEX_STATS_ORACLE)
def q_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = build_or_get_index(spark, sf_dir)
    seg = idx.segments(spark)
    return seg.agg(
        F.countDistinct("term").cast("long").alias("n_terms"),
        F.sum("n").cast("long").alias("n_postings"),
        F.count("*").cast("long").alias("n_blocks"),
    )


@register(
    "bm25_topk_sorted_attr",
    bm25.bm25_sorted_oracle_sql(bm25.AND_QUERIES, "n_chars"),
)
def q_bm25_sorted_attr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sortable-attribute serving (Meilisearch sort rule): conjunctive
    matches ranked by a document attribute (n_chars DESC) instead of
    relevance; served from Meilisearch's facet_id_f64_docids grenad DB in
    the reference stack, here from the documents table joined doc-keyed."""
    from grenad_spark.query.search import search_topk_sorted

    idx = build_or_get_index(spark, sf_dir)
    return search_topk_sorted(
        spark, idx, _docs(spark, sf_dir), bm25.AND_QUERIES, "n_chars", k=10
    )


@register(
    "bm25_topk_distinct_attr",
    bm25.bm25_distinct_attr_oracle_sql(bm25.AND_QUERIES, "lang"),
)
def q_bm25_distinct_attr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-attribute serving (Meilisearch distinctAttribute): at most
    one result per attribute value (best score wins), then global top-k."""
    from grenad_spark.query.search import search_topk_distinct_attr

    idx = build_or_get_index(spark, sf_dir)
    return search_topk_distinct_attr(
        spark, idx, _docs(spark, sf_dir), bm25.AND_QUERIES, "lang", k=10
    )


from grenad_spark.query.phrase import sql_mixed_topk as _sql_mixed  # noqa: E402
from grenad_spark.query.phrase import sql_proximity_topk as _sql_prox  # noqa: E402

# mixed query strings — the Meilisearch query language: double-quoted
# phrases are hard constraints, free terms rank; includes a two-phrase
# query, a phrase-free (plain disjunctive) query, and an OOV phrase
_MIXED_QUERIES = [
    (1, 'dup "merge sort"'),
    (2, '"the fast" stream'),
    (3, '"key value" "data batch"'),
    (4, "spark window"),
    (5, '"zzznope phrase" dup'),
]


@register(
    "bm25_topk_page",
    bm25.bm25_page_oracle_sql(bm25.REFERENCE_QUERIES, offset=10, limit=10),
)
def q_bm25_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pagination with exhaustive totalHits (Meilisearch page/hitsPerPage
    mode): the SECOND page (ranks 11-20) of every reference query plus the
    exact disjunctive match-set size, from one untruncated scoring pass."""
    from grenad_spark.query.search import search_topk_page

    idx = build_or_get_index(spark, sf_dir)
    return search_topk_page(
        spark, idx, bm25.REFERENCE_QUERIES, offset=10, limit=10
    )


from grenad_spark.query.search import TypoSettings as _TypoSettings  # noqa: E402

_TYPO_SETTINGS_KW = {"disable_on_words": {"wandow"}}


@register(
    "bm25_topk_typo_settings",
    bm25.bm25_typo_settings_oracle_sql(
        bm25.TYPO_SETTINGS_QUERIES, _TypoSettings(**_TYPO_SETTINGS_KW)
    ),
)
def q_bm25_typo_settings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Meilisearch typoTolerance settings: per-word edit budgets from
    minWordSizeForTypos (5/9) + disableOnWords, expansion bucketed into an
    exact dictionary probe and expand_fuzzy_queries, ranked by the rule
    pipeline (slots DESC, typos ASC, BM25 DESC, doc ASC)."""
    from grenad_spark.query.search import TypoSettings, search_topk_typo_settings

    idx = build_or_get_index(spark, sf_dir)
    return search_topk_typo_settings(
        spark, idx, bm25.TYPO_SETTINGS_QUERIES,
        TypoSettings(**_TYPO_SETTINGS_KW), k=10,
    )


@register("bm25_topk_fuzzy_ranked", bm25.bm25_fuzzy_ranked_oracle_sql())
def q_bm25_fuzzy_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typo-tolerant search under the Meilisearch rule pipeline: covered
    query-term slots DESC, total typos ASC, BM25 DESC, doc ASC."""
    from grenad_spark.query.search import search_topk_fuzzy_ranked

    idx = build_or_get_index(spark, sf_dir)
    return search_topk_fuzzy_ranked(spark, idx, bm25.FUZZY_QUERIES, k=10)


@register("bm25_topk_words", bm25.bm25_words_oracle_sql())
def q_bm25_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Meilisearch WORDS ranking rule (first-priority rule): more
    matched distinct terms ranks first, BM25 then doc_id break ties."""
    from grenad_spark.query.search import search_topk_words

    idx = build_or_get_index(spark, sf_dir)
    return search_topk_words(spark, idx, bm25.REFERENCE_QUERIES, k=10)


@register("bm25_topk_phrase_shared", bm25.bm25_phrase_oracle_sql())
def q_bm25_phrase_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode-once phrase batch (each distinct position block crosses the
    exchange once per batch) — gated by the SAME phrase oracle: batching
    must be invisible in the values."""
    from grenad_spark.index.positions import build_positions
    from grenad_spark.query.phrase import search_topk_phrase_shared

    idx = build_or_get_index(spark, sf_dir)
    if not idx.has_positions():
        build_positions(spark, _docs(spark, sf_dir), idx.path)
    return search_topk_phrase_shared(spark, idx, bm25.PHRASE_QUERIES, k=10)


@register("bm25_topk_mixed", _sql_mixed(_MIXED_QUERIES))
def q_bm25_mixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixed query strings (free terms + quoted phrase constraints) served
    from the positional table alone — its block headers are full posting
    blocks, so free-term BM25 needs no second scan."""
    from grenad_spark.index.positions import build_positions
    from grenad_spark.query.phrase import search_topk_mixed

    idx = build_or_get_index(spark, sf_dir)
    if not idx.has_positions():
        build_positions(spark, _docs(spark, sf_dir), idx.path)
    return search_topk_mixed(spark, idx, _MIXED_QUERIES, k=10)


# Meilisearch filterable attributes: BM25 restricted by a boolean filter
# over document attributes (IN-list + numeric comparison — the everyday
# `filter:` parameter)
_FILTER_SQL = "n_chars >= 250 AND lang IN ('en', 'de')"


@register(
    "bm25_topk_filtered",
    bm25.bm25_filtered_oracle_sql(bm25.REFERENCE_QUERIES, _FILTER_SQL),
)
def q_bm25_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filterable-attributes serving: disjunctive BM25 top-k over docs
    passing an attribute filter (pruned documents scan semi-joined on
    doc_id before ranking)."""
    from grenad_spark.query.search import search_topk_filtered

    idx = build_or_get_index(spark, sf_dir)
    return search_topk_filtered(
        spark, idx, _docs(spark, sf_dir), bm25.REFERENCE_QUERIES, _FILTER_SQL, k=10
    )


@register(
    "facet_counts_mixed",
    _facets.sql_facet_counts_for_mixed(_FACET_COLS, 'dup "merge sort"'),
)
def q_facet_counts_mixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Facets of a MIXED search: the unranked match set of the full query
    language (phrase constraints + free terms) feeds the unpivot+count."""
    from grenad_spark.index.positions import build_positions

    idx = build_or_get_index(spark, sf_dir)
    if not idx.has_positions():
        build_positions(spark, _docs(spark, sf_dir), idx.path)
    return _facets.facet_counts_for_mixed(
        spark, idx, _docs(spark, sf_dir), 'dup "merge sort"', _FACET_COLS
    )


@register(
    "facet_value_search",
    _facets.sql_facet_value_search("source", "src1", term="dup", max_values=8),
)
def q_facet_value_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Meilisearch POST /facet-search: facet VALUES of one field that
    prefix-match the facetQuery, counted over a term search's match set
    (posting-block decode), ordered (cnt DESC, value ASC) and limited —
    the limit is deterministic because that ordering is total."""
    idx = build_or_get_index(spark, sf_dir)
    return _facets.facet_value_search(
        spark, idx, _docs(spark, sf_dir), "source", "src1", term="dup", max_values=8
    )


# synonyms + stop words — index-configured query rewrites applied before
# ranking (everyday Meilisearch settings). The synonym map points at other
# vocabulary terms (plus one deliberately-OOV synonym that must be a no-op);
# the stop set interacts with the WORDS rule (slots count AFTER the drop).
_SYNONYMS = {
    "sort": ["order"],
    "stream": ["batch"],
    "row": ["line"],
    "fast": ["quick"],  # OOV synonym: contributes nothing
}
_SYN_QUERIES = [
    (1, "sort"),
    (2, "fast stream"),
    (3, "dup row"),
    (4, "merge order"),  # 'order' has no synonyms; plain disjunct
]
_STOP_WORDS = {"the", "a"}
_STOP_QUERIES = [
    (1, "the fast join"),
    (2, "a big data"),
    (3, "the a"),        # all stop words => no rows
    (4, "dup the spark"),
]

from grenad_spark.query.search import (  # noqa: E402
    sql_stopwords_topk as _sql_stop,
    sql_synonyms_topk as _sql_syn,
)


@register("bm25_topk_synonyms", _sql_syn(_SYN_QUERIES, _SYNONYMS))
def q_bm25_synonyms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synonym rewrite: each query term plus its configured synonyms score
    as disjuncts (driver-side rewrite, In(term) scan widens only)."""
    from grenad_spark.query.search import search_topk_synonyms

    idx = build_or_get_index(spark, sf_dir)
    return search_topk_synonyms(spark, idx, _SYN_QUERIES, _SYNONYMS, k=10)


@register("bm25_topk_stopwords", _sql_stop(_STOP_QUERIES, _STOP_WORDS))
def q_bm25_stopwords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stop-word drop with words-rule interaction: coverage slots count
    only the surviving terms; an all-stop query matches nothing."""
    from grenad_spark.query.search import search_topk_stopwords

    idx = build_or_get_index(spark, sf_dir)
    return search_topk_stopwords(spark, idx, _STOP_QUERIES, _STOP_WORDS, k=10)


# negative keywords (Meilisearch v1.8 `-word` syntax) — the exclusion set
# anti-joins BEFORE ranking so excluded docs are replaced by next-best; a
# query of only negatives matches nothing
_NEG_QUERIES = [
    (1, "spark -slow"),
    (2, "merge sort -dup"),
    (3, "join"),                  # no negatives — control
    (4, "data -batch -stream"),   # multiple exclusions
    (5, "-dup"),                  # only negative => no rows
]

# matchingStrategy=last — rank buckets by longest matched query-word PREFIX
_MATCH_LAST_QUERIES = [
    (1, "spark window"),
    (2, "merge sort table"),
    (3, "dup zzzmissing stream"),  # OOV gap at word 1 caps the prefix at 1
    (4, "the fast join"),
]

from grenad_spark.query.search import (  # noqa: E402
    sql_matching_frequency_topk as _sql_mfreq,
    sql_matching_last_topk as _sql_mlast,
    sql_negative_topk as _sql_neg,
)


@register("bm25_topk_negative", _sql_neg(_NEG_QUERIES))
def q_bm25_negative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Negative keywords: disjunctive BM25 over positive terms minus docs
    containing any `-`-prefixed term (both sides In(term)-pruned scans)."""
    from grenad_spark.query.search import search_topk_negative

    idx = build_or_get_index(spark, sf_dir)
    return search_topk_negative(spark, idx, _NEG_QUERIES, k=10)


# negative PHRASES (Meilisearch v1.8 `-"..."` syntax) — adjacency-matched
# exclusion sets composed with word exclusions; OOV phrases exclude nothing
_NEGP_QUERIES = [
    (1, 'spark -"merge sort"'),
    (2, 'data -"the fast" -batch'),   # phrase + word exclusion composed
    (3, 'join -"zzz missing"'),       # OOV phrase excludes nothing
    (4, 'stream -"data data"'),       # repeated-term adjacency
    (5, '-"merge sort"'),             # only negative => no rows
]

from grenad_spark.query.search import (  # noqa: E402
    sql_negative_phrases_topk as _sql_negp,
)


@register("bm25_topk_negative_phrase", _sql_negp(_NEGP_QUERIES))
def q_bm25_negative_phrase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Negative phrases: disjunctive BM25 over positive terms minus docs
    containing any `-word` OR matching any `-"..."` phrase adjacently —
    the phrase exclusions ride ONE batched pruned positions scan
    (phrase_match_pairs)."""
    from grenad_spark.index.positions import build_positions
    from grenad_spark.query.search import search_topk_negative_phrases

    idx = build_or_get_index(spark, sf_dir)
    if not idx.has_positions():
        build_positions(spark, _docs(spark, sf_dir), idx.path)
    return search_topk_negative_phrases(spark, idx, _NEGP_QUERIES, k=10)


@register("bm25_topk_matching_last", _sql_mlast(_MATCH_LAST_QUERIES))
def q_bm25_matching_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """matchingStrategy=last: docs bucketed by longest matched query-word
    prefix (drop-from-the-end semantics), BM25 then doc_id inside buckets."""
    from grenad_spark.query.search import search_topk_matching_last

    idx = build_or_get_index(spark, sf_dir)
    return search_topk_matching_last(spark, idx, _MATCH_LAST_QUERIES, k=10)


# matchingStrategy=frequency — drop MOST-FREQUENT word first, so bucket
# order follows the rarity ranking, not query order
_MATCH_FREQ_QUERIES = [
    (1, "the spark window"),       # 'the' (max df) dropped first
    (2, "merge sort table"),
    (3, "dup zzzmissing stream"),  # OOV is rarest → never dropped → no rows
    (4, "data fast join"),
]


@register("bm25_topk_matching_frequency", _sql_mfreq(_MATCH_FREQ_QUERIES))
def q_bm25_matching_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """matchingStrategy=frequency: docs bucketed by longest covered run of
    the (df ASC, term ASC) rarity ordering — highest-df words drop first."""
    from grenad_spark.query.search import search_topk_matching_frequency

    idx = build_or_get_index(spark, sf_dir)
    return search_topk_matching_frequency(spark, idx, _MATCH_FREQ_QUERIES, k=10)


# geosearch — Meilisearch `_geoRadius` / `_geoBoundingBox` filters and the
# `_geoPoint` sort over deterministic doc-derived coordinates (query/geo.py;
# a real deployment maps its own lat/lng columns)
_GEO_QUERIES = [(1, "spark window"), (2, "merge sort"), (3, "dup")]
_GEO_CENTER = (10.0, 20.0)
_GEO_RADIUS_KM = 5000.0
_GEO_TOP_LEFT = (50.0, -100.0)
_GEO_BOTTOM_RIGHT = (-50.0, 100.0)

from grenad_spark.query.geo import (  # noqa: E402
    sql_geo_bbox_topk as _sql_geo_bbox,
    sql_geo_radius_topk as _sql_geo_radius,
    sql_geo_sort_topk as _sql_geo_sort,
)


@register(
    "bm25_topk_geo_radius",
    _sql_geo_radius(_GEO_QUERIES, _GEO_CENTER, _GEO_RADIUS_KM),
)
def q_bm25_geo_radius(spark: SparkSession, sf_dir: str) -> DataFrame:
    """_geoRadius filter: BM25 top-k over docs within a haversine radius
    (geo side is a pruned doc scan semi-joined before ranking)."""
    from grenad_spark.query.geo import geo_radius_topk

    idx = build_or_get_index(spark, sf_dir)
    return geo_radius_topk(
        spark, idx, _docs(spark, sf_dir), _GEO_QUERIES, _GEO_CENTER,
        _GEO_RADIUS_KM, k=10,
    )


@register(
    "bm25_topk_geo_bbox",
    _sql_geo_bbox(_GEO_QUERIES, _GEO_TOP_LEFT, _GEO_BOTTOM_RIGHT),
)
def q_bm25_geo_bbox(spark: SparkSession, sf_dir: str) -> DataFrame:
    """_geoBoundingBox filter: pure lat/lng comparisons, no trig."""
    from grenad_spark.query.geo import geo_bbox_topk

    idx = build_or_get_index(spark, sf_dir)
    return geo_bbox_topk(
        spark, idx, _docs(spark, sf_dir), _GEO_QUERIES, _GEO_TOP_LEFT,
        _GEO_BOTTOM_RIGHT, k=10,
    )


@register("bm25_topk_geo_sort", _sql_geo_sort(_GEO_QUERIES, _GEO_CENTER))
def q_bm25_geo_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """_geoPoint sort: conjunctive matches ranked by haversine distance
    ascending (the geo counterpart of sortable attributes)."""
    from grenad_spark.query.geo import geo_sort_topk

    idx = build_or_get_index(spark, sf_dir)
    return geo_sort_topk(
        spark, idx, _docs(spark, sf_dir), _GEO_QUERIES, _GEO_CENTER, k=10
    )


# mixed query strings with Meilisearch's FINAL-WORD-PREFIX rule: the last
# word expands against the dictionary unless the query ends at a quote
_MIXED_PREFIX_QUERIES = [
    (1, "dup spar"),            # prefix 'spar' -> spark
    (2, '"merge sort" ta'),     # phrase constraint + prefix 'ta'
    (3, "win"),                 # bare prefix
    (4, '"key value" str'),     # phrase + prefix 'str'
    (5, 'batch "the fast"'),    # ends with quote => NO prefix semantics
]

from grenad_spark.query.phrase import sql_mixed_prefix_topk as _sql_mixed_prefix  # noqa: E402


@register("bm25_topk_mixed_prefix", _sql_mixed_prefix(_MIXED_PREFIX_QUERIES))
def q_bm25_mixed_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixed queries with last-word-as-prefix expansion (the as-you-type
    Meilisearch search shape): expansions come from ONE pruned term_dict
    range scan and rank as disjuncts; quoted phrases stay hard constraints."""
    from grenad_spark.index.positions import build_positions
    from grenad_spark.query.phrase import search_topk_mixed_prefix

    idx = build_or_get_index(spark, sf_dir)
    if not idx.has_positions():
        build_positions(spark, _docs(spark, sf_dir), idx.path)
    return search_topk_mixed_prefix(spark, idx, _MIXED_PREFIX_QUERIES, k=10)


# typo tolerance INSIDE mixed queries (quotes stay literal, final word stays
# prefix-only — the Meilisearch interplay): typo'd free terms alongside
# phrase constraints and a prefix
_MIXED_FUZZY_QUERIES = [
    (1, 'spakr "merge sort"'),   # typo'd free term + trailing phrase
    (2, 'dupp wind'),            # typo'd free term + prefix 'wind'
    (3, '"key value" strem ba'), # phrase + typo'd free + prefix
    (4, "vektor scan"),          # typo + prefix that is also an exact term
]

from grenad_spark.query.phrase import sql_mixed_fuzzy_topk as _sql_mixed_fuzzy  # noqa: E402


@register("bm25_topk_mixed_fuzzy", _sql_mixed_fuzzy(_MIXED_FUZZY_QUERIES, max_edits=1))
def q_bm25_mixed_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixed queries with typo tolerance on the non-final free terms
    (expand_fuzzy_queries), prefix on the final word, literal
    phrases — the full Meilisearch query-string interplay."""
    from grenad_spark.index.positions import build_positions
    from grenad_spark.query.phrase import search_topk_mixed_prefix

    idx = build_or_get_index(spark, sf_dir)
    if not idx.has_positions():
        build_positions(spark, _docs(spark, sf_dir), idx.path)
    return search_topk_mixed_prefix(
        spark, idx, _MIXED_FUZZY_QUERIES, k=10, max_edits=1
    )


@register("bm25_topk_proximity", _sql_prox(bm25.PROX_QUERIES))
def q_bm25_proximity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Proximity-ranked conjunctive search (the Meilisearch proximity rule)
    over the positional index: rank by summed adjacent-pair min position
    distance, ties by BM25 then doc_id."""
    from grenad_spark.index.positions import build_positions
    from grenad_spark.query.phrase import search_topk_proximity

    idx = build_or_get_index(spark, sf_dir)
    if not idx.has_positions():
        build_positions(spark, _docs(spark, sf_dir), idx.path)
    return search_topk_proximity(spark, idx, bm25.PROX_QUERIES, k=10)


from grenad_spark.index.pairprox import sql_proximity_db_topk as _sql_prox_db  # noqa: E402


@register("bm25_topk_proximity_db", _sql_prox_db(bm25.PROX_DB_QUERIES))
def q_bm25_proximity_db(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Proximity rule served from the MATERIALIZED pair DB (the Meilisearch
    word_pair_proximity_docids analog, index/pairprox.py): capped per-pair
    costs (absent pair = 8) summed over adjacent query slots, BM25 ties.
    Reads pair posting lists — never the positional blocks."""
    from grenad_spark.index.pairprox import (
        build_pair_proximity,
        search_topk_proximity_db,
    )

    idx = build_or_get_index(spark, sf_dir)
    if not idx.has_pair_proximity():
        build_pair_proximity(spark, _docs(spark, sf_dir), idx.path)
    return search_topk_proximity_db(spark, idx, bm25.PROX_DB_QUERIES, k=10)


# as-you-type proximity: the last query word is a PREFIX; mix of
# materialized (word, prefix) keys ("so" covers sort+slow, "s" covers 6
# words) and expansion fallbacks ("jo" -> join only, below min_terms)
_PROX_PREFIX_QUERIES = [
    (1, "merge so*"),
    (2, "hash jo*"),
    (3, "the fast ta*"),
    (4, "s*"),
    (5, "value st*"),
]

from grenad_spark.index.pairprox import (  # noqa: E402
    sql_proximity_db_prefix_topk as _sql_prox_db_prefix,
)


@register(
    "bm25_topk_proximity_prefix", _sql_prox_db_prefix(_PROX_PREFIX_QUERIES)
)
def q_bm25_proximity_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-word-prefix proximity page served from the materialized
    word_prefix_pair_proximity DB (Meilisearch's as-you-type tables):
    conjunctive full terms + any-prefix-word match, proximity = full-pair
    slots + the (last word, prefix) slot, score = full BM25 + prefix-as-
    one-word part. Unmaterialized prefixes fall back to min-over-expansion
    of the full-word pair DB (identical by distributivity of min)."""
    from grenad_spark.index.pairprox import (
        build_pair_proximity,
        build_prefix_pair_proximity,
        search_topk_proximity_db_prefix,
    )
    from grenad_spark.index.prefix import build_prefix_postings

    idx = build_or_get_index(spark, sf_dir)
    if not idx.has_pair_proximity():
        build_pair_proximity(spark, _docs(spark, sf_dir), idx.path)
    if not idx.has_prefix_postings():
        build_prefix_postings(spark, _docs(spark, sf_dir), idx.path)
    if not idx.has_prefix_pair_proximity():
        build_prefix_pair_proximity(spark, _docs(spark, sf_dir), idx.path)
    return search_topk_proximity_db_prefix(
        spark, idx, _PROX_PREFIX_QUERIES, k=10
    )


@register("bm25_topk_phrase_snippets", _sql_phrase_snippets())
def q_phrase_snippets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phrase top-k with a cropped snippet around the first occurrence
    (Meilisearch crop/_formatted). Post-processing on k·|queries| rows;
    snippet math runs on the normalized token stream on BOTH engines."""
    from grenad_spark.index.positions import build_positions
    from grenad_spark.query.phrase import phrase_snippets

    idx = build_or_get_index(spark, sf_dir)
    if not idx.has_positions():
        build_positions(spark, _docs(spark, sf_dir), idx.path)
    return phrase_snippets(spark, idx, _docs(spark, sf_dir), bm25.PHRASE_QUERIES, k=10)


# highlighting — attributesToHighlight/_formatted over the plain BM25 page
_HIGHLIGHT_QUERIES = [(1, "spark window"), (2, "merge sort"), (3, "dup stream")]

from grenad_spark.query.search import sql_highlight_topk as _sql_highlight  # noqa: E402


@register("bm25_topk_highlight", _sql_highlight(_HIGHLIGHT_QUERIES))
def q_bm25_highlight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """_formatted: matched tokens wrapped in <em> tags (Meilisearch
    attributesToHighlight). Post-processing on k·|queries| rows; the wrap
    runs on the normalized token stream on BOTH engines."""
    from grenad_spark.query.search import search_topk_highlight

    idx = build_or_get_index(spark, sf_dir)
    return search_topk_highlight(
        spark, idx, _docs(spark, sf_dir), _HIGHLIGHT_QUERIES, k=10
    )


_BM25_WITH_DOCS_ORACLE = bm25.bm25_oracle_sql().replace(
    "SELECT query_id, doc_id, score FROM (",
    "SELECT query_id, doc_id, score, lang, n_chars FROM (",
).replace(
    ") WHERE rn <= 10",
    ") r JOIN documents d USING (doc_id) WHERE rn <= 10",
)


@register("bm25_topk_with_docs", _BM25_WITH_DOCS_ORACLE)
def q_bm25_with_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k re-joined to doc metadata (SURVEY §2.9: topk ⋈ documents) —
    the k·|queries| row side broadcasts into the documents scan."""
    from grenad_spark.query.search import search_topk

    idx = build_or_get_index(spark, sf_dir)
    topk = search_topk(spark, idx, bm25.REFERENCE_QUERIES, k=10, mode="wand")
    docs = _docs(spark, sf_dir).select("doc_id", "lang", "n_chars")
    return docs.join(F.broadcast(topk), "doc_id").select(
        "query_id", "doc_id", "score", "lang", "n_chars"
    )


@register("bm25_topk_prefix", bm25.bm25_prefix_oracle_sql())
def q_bm25_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PrefixIter-backed query expansion (src/reader/prefix_iter.rs:8-94):
    `sp*` expands against the term dictionary, then standard BM25."""
    from grenad_spark.query.search import search_topk_prefix

    idx = build_or_get_index(spark, sf_dir)
    # max_expansions=None: the oracle expands exhaustively; serving defaults
    # to a finite per-prefix cap (query/search.py DEFAULT_MAX_EXPANSIONS)
    return search_topk_prefix(
        spark, idx, bm25.PREFIX_QUERIES, k=10, mode="wand", max_expansions=None
    )


# materialized prefix postings (word_prefix_docids): "dup" is longer than
# the built max_len=2, so it exercises the expansion fallback in the same
# page as materialized 1- and 2-char prefixes
_PREFIX_DB_QUERIES = [(1, "sp"), (2, "me"), (3, "d"), (4, "dup"), (5, "zzq")]

from grenad_spark.index.prefix import sql_prefix_db_topk as _sql_prefix_db  # noqa: E402


@register("bm25_topk_prefix_db", _sql_prefix_db(_PREFIX_DB_QUERIES))
def q_bm25_prefix_db(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-as-one-word BM25 over MATERIALIZED prefix postings (the
    Meilisearch word_prefix_docids build stage re-expressed as one extra
    grouped encode over the token stream); one In(prefix)-pruned list per
    query instead of dictionary fan-out."""
    from grenad_spark.index.prefix import (
        build_prefix_postings,
        search_topk_prefix_db,
    )

    idx = build_or_get_index(spark, sf_dir)
    if not idx.has_prefix_postings():
        build_prefix_postings(spark, _docs(spark, sf_dir), idx.path)
    return search_topk_prefix_db(spark, idx, _PREFIX_DB_QUERIES, k=10)


@register("bm25_topk_fuzzy", bm25.bm25_fuzzy_oracle_sql())
def q_bm25_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typo-tolerant search: Levenshtein-≤1 expansion against the term
    dictionary (the Meilisearch feature grenad's sorted files serve)."""
    from grenad_spark.query.search import search_topk_fuzzy

    idx = build_or_get_index(spark, sf_dir)
    return search_topk_fuzzy(spark, idx, bm25.FUZZY_QUERIES, k=10, mode="wand")


@register(
    "bm25_topk_fuzzy2",
    bm25.bm25_fuzzy_oracle_sql(queries=bm25.FUZZY2_QUERIES, max_edits=2),
)
def q_bm25_fuzzy2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-typo search (max_edits=2) via the persisted SymSpell deletion
    table: candidates = delvar-equi-join of the query's deletion neighborhood
    against term_deletes (index/build.py write_term_deletes), exact
    levenshtein filter after — NO vocabulary scan (the r3 SCALE.md known
    limit, closed). Oracle: brute levenshtein ≤ 2 sweep in DuckDB."""
    from grenad_spark.query.search import search_topk_fuzzy

    idx = build_or_get_index(spark, sf_dir)
    return search_topk_fuzzy(spark, idx, bm25.FUZZY2_QUERIES, k=10, mode="wand", max_edits=2)


@register("bm25_topk_and", bm25.bm25_and_oracle_sql())
def q_bm25_and(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive (AND) search — posting-list intersection (SURVEY §2.7)."""
    from grenad_spark.query.search import search_conjunctive

    idx = build_or_get_index(spark, sf_dir)
    return search_conjunctive(spark, idx, bm25.AND_QUERIES, k=10)


@register("bm25_topk_phrase", bm25.bm25_phrase_oracle_sql())
def q_bm25_phrase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-phrase search over the positional index (index/positions.py —
    the Meilisearch word-position-database layer on grenad): token-adjacency
    match via offset-chain position intersection, BM25 over the phrase's
    distinct terms. The oracle checks adjacency with the space-join LIKE
    trick (exact for [a-z0-9] tokens)."""
    from grenad_spark.index.positions import build_positions
    from grenad_spark.query.phrase import search_topk_phrase

    idx = build_or_get_index(spark, sf_dir)
    if not idx.has_positions():
        build_positions(spark, _docs(spark, sf_dir), idx.path)
    return search_topk_phrase(spark, idx, bm25.PHRASE_QUERIES, k=10)


_FRESH_LOGICAL_CORPUS = (
    "(SELECT doc_id, CASE WHEN doc_id % 3 = 0 THEN text || ' zz refresh' "
    "ELSE text END AS text FROM documents)"
)


@register("bm25_fresh_generations", bm25.bm25_oracle_sql(table=_FRESH_LOGICAL_CORPUS))
def q_bm25_fresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUERY-TIME generation merge (grenad MergerIter at read time): a base
    index plus an unmerged re-crawl delta must answer queries over the
    LOGICAL corpus (newest generation per doc wins) without compaction. The
    oracle is plain BM25 over the logical corpus expression."""
    from grenad_spark.index.build import build_index
    from grenad_spark.query.search import search_topk_fresh

    key = sf_dir.rstrip("/").replace("/", "_")
    fkey = f"fresh{key}"
    if fkey not in _INDEX_CACHE:
        from grenad_spark.index.live import write_live_map

        docs = _docs(spark, sf_dir)
        base = f"/tmp/grenad_fresh{key}_gen0"
        delta = f"/tmp/grenad_fresh{key}_gen1"
        build_index(spark, docs.select("doc_id", "text"), base, n_shards=2, overwrite=True)
        recrawl = docs.filter(F.col("doc_id") % 3 == 0).select(
            "doc_id", F.concat("text", F.lit(" zz refresh")).alias("text")
        )
        build_index(spark, recrawl, delta, n_shards=2, overwrite=True)
        # live map persisted at DELTA-BUILD time (index/live.py): the
        # per-query plan below joins a ready doc→newest-gen table instead of
        # re-aggregating every generation's membership per batch
        live_dir = f"/tmp/grenad_fresh{key}_live"
        write_live_map(spark, [base, delta], live_dir)
        _INDEX_CACHE[fkey] = ([base, delta], live_dir)
    gens, live_dir = _INDEX_CACHE[fkey]
    return search_topk_fresh(
        spark, gens, bm25.REFERENCE_QUERIES, k=10, live_dir=live_dir
    )


# ---------------------------------------------------------------------------
# Field-aware serving fixture (round 5): the SAME corpus indexed with
# field-aware positions over the deterministic title/body split
# (corpus.fielded_docs — title = first TITLE_TOKENS tokens). BM25 stats are
# identical to the plain corpus (the fields partition the token stream);
# only positions carry the fid, which the attribute/exactness rules consume.
# ---------------------------------------------------------------------------


def build_or_get_fielded_index(spark: SparkSession, sf_dir: str):
    from grenad_spark.corpus import fielded_docs
    from grenad_spark.index.build import (
        CURRENT_FORMAT_VERSION,
        IndexHandle,
        build_index,
    )
    from grenad_spark.index.positions import build_positions

    key = sf_dir.rstrip("/").replace("/", "_")
    fkey = f"fielded{key}"
    if fkey not in _INDEX_CACHE:
        docs = _docs(spark, sf_dir)
        path = f"/tmp/grenad_fielded_v{CURRENT_FORMAT_VERSION}{key}"
        build_index(
            spark, docs.select("doc_id", "text"), path, n_shards=4, overwrite=True
        )
        fd = fielded_docs(docs)
        build_positions(spark, fd, path, fields=["title", "body"])
        # the (doc_id, fid, wc) word-count DB (field_id_word_count_docids
        # analog) rides beside the positions — exactness whole-field tier
        from grenad_spark.query.fields import build_field_word_counts

        build_field_word_counts(spark, fd, path, fields=["title", "body"])
        # fresh handle so the manifest reflects position_fields
        _INDEX_CACHE[fkey] = IndexHandle(path)
    return _INDEX_CACHE[fkey]


from grenad_spark.query import ranked as _ranked  # noqa: E402


@register(
    "bm25_topk_attr_rule",
    _ranked.sql_attr_rule_topk(_ranked.ATTR_QUERIES, title_tokens=corpus.TITLE_TOKENS),
)
def q_bm25_attr_rule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Meilisearch ATTRIBUTE ranking rule over fid-keyed positions
    (the fid_word_position_docids analog): conjunctive matches ranked by
    summed best-field ids (title hits before body hits)."""
    idx = build_or_get_fielded_index(spark, sf_dir)
    return _ranked.search_topk_attr_rule(spark, idx, _ranked.ATTR_QUERIES, k=10)


@register(
    "bm25_topk_ranked",
    _ranked.sql_ranked_topk(_ranked.RANKED_QUERIES, title_tokens=corpus.TITLE_TOKENS),
)
def q_bm25_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED Meilisearch default ranking pipeline in one entry point:
    words -> typo -> proximity -> attribute -> exactness -> relevance,
    lexicographically, with 1-edit typo expansion — every rule statistic in
    the output so the oracle verifies each tier."""
    idx = build_or_get_fielded_index(spark, sf_dir)
    return _ranked.search_topk_ranked(spark, idx, _ranked.RANKED_QUERIES, k=10)


from grenad_spark.query import fields as _fields  # noqa: E402


@register(
    "bm25_topk_search_on",
    _fields.sql_search_on_topk(
        _fields.SEARCH_ON_QUERIES, fields=("title",), title_tokens=corpus.TITLE_TOKENS
    ),
)
def q_bm25_search_on(spark: SparkSession, sf_dir: str) -> DataFrame:
    """attributesToSearchOn=["title"]: matching restricted to title-field
    occurrences of the fid-keyed positions (tf counts those only);
    df/dl/avgdl stay index-global — Meilisearch restricts matching, not
    collection statistics (its rules are frequency-free)."""
    idx = build_or_get_fielded_index(spark, sf_dir)
    return _fields.search_topk_search_on(
        spark, idx, _fields.SEARCH_ON_QUERIES, fields=["title"], k=10
    )


@register(
    "bm25_topk_exact_field",
    _fields.sql_exact_field_topk(
        _fields.EXACT_FIELD_QUERIES, title_tokens=corpus.TITLE_TOKENS
    ),
)
def q_bm25_exact_field(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactness whole-field tier (Meilisearch ExactAttribute): docs whose
    ENTIRE title is the query rank first — query tokens at in-field
    positions 0..n-1 (positions kernel) AND title word count == n via the
    field_word_counts table (the field_id_word_count_docids analog)."""
    idx = build_or_get_fielded_index(spark, sf_dir)
    return _fields.search_topk_exact_field(
        spark, idx, _fields.EXACT_FIELD_QUERIES, field="title", k=10
    )


@register(
    "bm25_topk_typo_disable_attrs",
    _fields.sql_typo_disable_attrs_topk(
        bm25.TYPO_SETTINGS_QUERIES,
        _TypoSettings(**_TYPO_SETTINGS_KW),
        title_tokens=corpus.TITLE_TOKENS,
    ),
)
def q_bm25_typo_disable_attrs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """typoTolerance.disableOnAttributes=["body"]: typo-DERIVED matches
    only count (and only contribute tf) through title occurrences; exact
    words count everywhere — the last piece of the typoTolerance settings
    object beside minWordSizeForTypos + disableOnWords."""
    idx = build_or_get_fielded_index(spark, sf_dir)
    return _fields.search_topk_typo_disable_attrs(
        spark, idx, bm25.TYPO_SETTINGS_QUERIES,
        _TypoSettings(**_TYPO_SETTINGS_KW), disable_on=("body",), k=10,
    )


# proximityPrecision=byAttribute: within-title pairs cost 1, cross-field
# and absent pairs cost 8; a same-term pair needs 2 occurrences in a field
_PROX_ATTR_QUERIES = [
    (1, "merge sort"),
    (2, "the fast table"),
    (3, "spark window stream"),
    (4, "data data"),
    (5, "join"),              # single term: proximity 0 for every match
]


@register(
    "bm25_topk_proximity_attr",
    _fields.sql_proximity_attr_topk(
        _PROX_ATTR_QUERIES, title_tokens=corpus.TITLE_TOKENS
    ),
)
def q_bm25_proximity_attr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """proximityPrecision=byAttribute (Meilisearch v1.6): adjacent query
    pairs cost 1 when co-occurring in one FIELD, else 8 — the kernel
    compares (doc, fid) sets, never position arrays (the cheaper precision
    Meilisearch trades down to at indexing time)."""
    idx = build_or_get_fielded_index(spark, sf_dir)
    return _fields.search_topk_proximity_attr(
        spark, idx, _PROX_ATTR_QUERIES, k=10
    )


@register(
    "bm25_topk_exact_tiers",
    _fields.sql_exact_tiers_topk(
        _fields.EXACT_TIERS_QUERIES, title_tokens=corpus.TITLE_TOKENS
    ),
)
def q_bm25_exact_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full exactness tier ladder (Meilisearch exactness rule):
    ExactAttribute (2) > MatchesStart (1) > other matches (0) over the title
    field — the position chain alone is MatchesStart, chain + word-count
    equality is ExactAttribute."""
    idx = build_or_get_fielded_index(spark, sf_dir)
    return _fields.search_topk_exact_tiers(
        spark, idx, _fields.EXACT_TIERS_QUERIES, field="title", k=10
    )


@register(
    "bm25_topk_ranking_score",
    _ranked.sql_ranking_score_topk(
        _ranked.RANKED_QUERIES, title_tokens=corpus.TITLE_TOKENS, n_fields=2
    ),
)
def q_bm25_ranking_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """showRankingScore: the composed ranked top-k plus a normalized [0,1]
    global score folding the six rule tiers with geometrically decreasing
    weights (query/ranked.py search_topk_ranking_score)."""
    idx = build_or_get_fielded_index(spark, sf_dir)
    return _ranked.search_topk_ranking_score(
        spark, idx, _ranked.RANKED_QUERIES, k=10
    )


from grenad_spark.query import matches as _matches  # noqa: E402


@register("bm25_topk_matches", _matches.sql_matches_topk(_matches.MATCHES_QUERIES))
def q_bm25_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """showMatchesPosition: every occurrence position (token index from the
    positional index — no re-tokenization) of every matched query term
    inside the BM25 top-k hits, one flat row per occurrence."""
    from grenad_spark.index.positions import build_positions

    idx = build_or_get_index(spark, sf_dir)
    if not idx.has_positions():
        build_positions(spark, _docs(spark, sf_dir), idx.path)
    return _matches.search_topk_matches(spark, idx, _matches.MATCHES_QUERIES, k=10)


from grenad_spark.query import hybrid as _hybrid  # noqa: E402


@register("hybrid_topk", _hybrid.sql_hybrid_topk(_hybrid.HYBRID_QUERIES))
def q_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid keyword⊕vector search (Meilisearch semanticRatio): candidates
    = BM25 matches ∪ semantic top-k, score = (1-ratio)·kw_norm +
    ratio·sem_norm. Keyword side is the house pruned-scan kernel; the
    semantic side is the brute-force exact baseline (IVF at cluster scale —
    query/hybrid.py docstring)."""
    from grenad_spark.corpus import load_embeddings

    idx = build_or_get_index(spark, sf_dir)
    return _hybrid.hybrid_topk(
        spark, idx, load_embeddings(spark, sf_dir), _hybrid.HYBRID_QUERIES, k=10
    )


# federated split: 'en' vs the rest — two REAL indexes with their own
# collection statistics (df/avgdl/n_docs), the thing federation means
_FED_SPLITS = [("en", "lang = 'en'"), ("rest", "lang <> 'en'")]


def build_or_get_split_indexes(spark: SparkSession, sf_dir: str):
    from grenad_spark.index.build import CURRENT_FORMAT_VERSION, build_index

    key = sf_dir.rstrip("/").replace("/", "_")
    fkey = f"fed{key}"
    if fkey not in _INDEX_CACHE:
        docs = _docs(spark, sf_dir)
        built = []
        for name, _ in _FED_SPLITS:
            flt = (
                docs.filter(F.col("lang") == "en")
                if name == "en"
                else docs.filter(F.col("lang") != "en")
            )
            built.append(
                (
                    name,
                    build_index(
                        spark,
                        flt.select("doc_id", "text"),
                        f"/tmp/grenad_fed_{name}_v{CURRENT_FORMAT_VERSION}{key}",
                        n_shards=2,
                        overwrite=True,
                    ),
                )
            )
        _INDEX_CACHE[fkey] = built
    return _INDEX_CACHE[fkey]


@register(
    "federated_topk", _hybrid.sql_federated_topk(_FED_SPLITS, _hybrid.FED_QUERIES)
)
def q_federated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Federated multi-index search (Meilisearch /multi-search federation):
    one query over two physical indexes (lang='en' / rest), each scored with
    its OWN df/avgdl/n_docs, hit lists merged into one ranking."""
    idxs = build_or_get_split_indexes(spark, sf_dir)
    return _hybrid.federated_topk(spark, idxs, _hybrid.FED_QUERIES, k=10)


# phrase set for the fresh/LSM read path: ordinary corpus phrases plus one
# ("zz refresh") that exists ONLY in the re-crawled generation's text — it
# must surface the refreshed docs and nothing else
_PHRASE_FRESH_QUERIES = [
    (1, "merge sort"),
    (2, "zz refresh"),
    (3, "dup"),
]


@register(
    "bm25_phrase_fresh",
    bm25.bm25_phrase_oracle_sql(_PHRASE_FRESH_QUERIES, table=_FRESH_LOGICAL_CORPUS),
)
def q_bm25_phrase_fresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-time generation merge for PHRASE search: base + re-crawl delta
    positions answer exact-phrase queries over the logical corpus without
    compaction (relational adjacency join over live occurrences). Reuses the
    fresh fixture's generations + live map, adding positions tables."""
    from grenad_spark.index.positions import build_positions
    from grenad_spark.query.phrase import search_topk_phrase_fresh

    key = sf_dir.rstrip("/").replace("/", "_")
    fkey = f"fresh{key}"
    if fkey not in _INDEX_CACHE:
        q_bm25_fresh(spark, sf_dir)  # builds generations + live map
    gens, live_dir = _INDEX_CACHE[fkey]
    docs = _docs(spark, sf_dir)
    from grenad_spark.index.build import IndexHandle

    for p in gens:
        if not IndexHandle(p).has_positions():
            if p.endswith("gen0"):
                build_positions(spark, docs.select("doc_id", "text"), p)
            else:
                recrawl = docs.filter(F.col("doc_id") % 3 == 0).select(
                    "doc_id", F.concat("text", F.lit(" zz refresh")).alias("text")
                )
                build_positions(spark, recrawl, p)
    return search_topk_phrase_fresh(
        spark, gens, _PHRASE_FRESH_QUERIES, k=10, live_dir=live_dir
    )


@register(
    "term_dict",
    "SELECT term, count(*)::BIGINT AS df, sum(tf)::BIGINT AS cf "
    f"FROM ({sql_term_doc_tf('documents')}) GROUP BY term",
)
def q_term_dict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """term_dict read back from the persisted index must equal the direct
    aggregation — validates the encode→segment→aggregate roundtrip."""
    idx = build_or_get_index(spark, sf_dir)
    return idx.term_dict(spark).select("term", "df", "cf")


_N_SEEK_KEYS = 100

_SEEK_BATCH_ORACLE = f"""
WITH tdt AS ({sql_term_doc_tf('documents')}),
vocab AS (SELECT list_sort(list(DISTINCT term)) AS ts FROM tdt),
md AS (SELECT max(doc_id) AS m FROM documents),
keys AS (
  SELECT s.i::INT AS seek_id,
         vocab.ts[(s.i % len(vocab.ts))::INT + 1] AS term,
         (s.i * 9973) % (md.m + 1) AS target
  FROM generate_series(0, {_N_SEEK_KEYS - 1}) s(i), vocab, md
)
SELECT seek_id, term, doc_id, tf FROM (
  SELECT k.seek_id, k.term, p.doc_id, p.tf,
         row_number() OVER (PARTITION BY k.seek_id ORDER BY p.doc_id) AS rn
  FROM keys k JOIN tdt p ON p.term = k.term AND p.doc_id >= k.target
) WHERE rn = 1
"""


@register("seek_gte_batch", _SEEK_BATCH_ORACLE)
def q_seek_gte_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched posting-level gte-seeks through the persisted block index —
    the benches/index-levels.rs:7-46 shape (multi-level descent: pruned
    block-index scan, then in-block binary search), oracle-gated against a
    direct first-posting-≥-target lookup."""
    from grenad_spark.operators.seek import seek_gte_postings

    idx = build_or_get_index(spark, sf_dir)
    dfm = idx.df_map(spark)
    if dfm:  # vocabulary-gated driver map; fall back to a distributed pull
        terms = sorted(dfm)
    else:  # pragma: no cover - >2M-term vocab
        terms = [r["term"] for r in idx.term_dict(spark).select("term").orderBy("term").collect()]
    doc_space = idx.manifest["max_doc"] + 1
    keys = [
        (i, terms[i % len(terms)], (i * 9973) % doc_space)
        for i in range(_N_SEEK_KEYS)
    ]
    return seek_gte_postings(spark, idx, keys)


@register(
    "term_dict_compacted_deletes",
    "SELECT term, count(*)::BIGINT AS df, sum(tf)::BIGINT AS cf "
    f"FROM ({sql_term_doc_tf('documents')}) WHERE doc_id % 7 <> 0 GROUP BY term",
)
def q_term_dict_compacted_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deletion semantics oracle-gated: compacting with an authoritative
    live-doc set that excludes every 7th doc must equal the direct
    aggregation over the surviving docs (grenad: deletion = write a new file
    without the key, src/lib.rs:9-10)."""
    from grenad_spark.index.build import build_index
    from grenad_spark.index.compact import compact_indexes

    key = sf_dir.rstrip("/").replace("/", "_")
    ckey = f"compactdel{key}"
    if ckey not in _INDEX_CACHE:
        docs = _docs(spark, sf_dir)
        out = f"/tmp/grenad_compactdel{key}"
        gens = []
        for i in range(2):
            p = f"{out}_gen{i}"
            build_index(
                spark,
                docs.filter(F.col("doc_id") % 2 == i).select("doc_id", "text"),
                p,
                n_shards=2,
                overwrite=True,
            )
            gens.append(p)
        keep = docs.filter(F.col("doc_id") % 7 != 0).select("doc_id")
        _INDEX_CACHE[ckey] = compact_indexes(spark, gens, out + "_merged", docs=keep)
    return _INDEX_CACHE[ckey].term_dict(spark).select("term", "df", "cf")


@register(
    "term_dict_compacted",
    "SELECT term, count(*)::BIGINT AS df, sum(tf)::BIGINT AS cf "
    f"FROM ({sql_term_doc_tf('documents')}) GROUP BY term",
)
def q_term_dict_compacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full Merger path oracle-gated: the corpus split into two generation
    indexes, compacted (decode → doc tombstones → re-encode), must aggregate
    to the same term statistics as one direct pass."""
    from grenad_spark.index.build import build_index
    from grenad_spark.index.compact import compact_indexes

    key = sf_dir.rstrip("/").replace("/", "_")
    out = f"/tmp/grenad_compact{key}"
    if f"compact{key}" not in _INDEX_CACHE:
        docs = _docs(spark, sf_dir)
        gens = []
        for i in range(2):
            p = f"{out}_gen{i}"
            build_index(
                spark,
                docs.filter(F.col("doc_id") % 2 == i).select("doc_id", "text"),
                p,
                n_shards=2,
                overwrite=True,
            )
            gens.append(p)
        _INDEX_CACHE[f"compact{key}"] = compact_indexes(
            spark, gens, out + "_merged", docs=docs
        )
    return _INDEX_CACHE[f"compact{key}"].term_dict(spark).select("term", "df", "cf")


# ---------------------------------------------------------------------------
# Round-5 session-3 serving surfaces: custom rankingRules order, ranking
# score details / threshold, facetStats, capped facet distribution
# (sortFacetValuesBy + maxValuesPerFacet), the documents endpoint, and stop
# words inside phrases.
# ---------------------------------------------------------------------------

from grenad_spark.operators.documents import (  # noqa: E402
    fetch_documents as _fetch_documents,
    sql_fetch_documents as _sql_fetch_documents,
)
from grenad_spark.query.phrase import (  # noqa: E402
    PHRASE_STOP_WORDS,
    STOP_PHRASE_QUERIES,
    search_topk_phrase_stopwords as _search_phrase_stop,
    sql_phrase_stopwords_topk as _sql_phrase_stop,
)

# a Meilisearch rankingRules permutation: typo outranks words, the custom
# document-attribute rule n_chars:asc spliced mid-pipeline (shorter docs
# win before proximity gets a say)
CUSTOM_RULES = [
    "typo", "words", "exactness", "n_chars:asc", "proximity", "attribute",
    "relevance",
]


@register(
    "bm25_topk_custom_rules",
    _ranked.sql_custom_rules_topk(
        _ranked.RANKED_QUERIES, CUSTOM_RULES, title_tokens=corpus.TITLE_TOKENS
    ),
)
def q_bm25_custom_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The rankingRules SETTING: the same one-pass rule statistics ranked
    under a user-supplied order — typo before words, exactness third, and
    the custom attribute rule n_chars:asc spliced in the middle
    (query/ranked.py search_topk_custom_rules)."""
    idx = build_or_get_fielded_index(spark, sf_dir)
    return _ranked.search_topk_custom_rules(
        spark, idx, _ranked.RANKED_QUERIES, CUSTOM_RULES,
        docs=_docs(spark, sf_dir), k=10,
    )


@register(
    "bm25_topk_score_details",
    _ranked.sql_score_details_topk(
        _ranked.RANKED_QUERIES, title_tokens=corpus.TITLE_TOKENS, n_fields=2
    ),
)
def q_bm25_score_details(spark: SparkSession, sf_dir: str) -> DataFrame:
    """showRankingScoreDetails: the per-rule normalized score breakdown
    (words_score .. relevance_score) alongside the folded ranking_score for
    every hit of the composed ranked page."""
    idx = build_or_get_fielded_index(spark, sf_dir)
    return _ranked.search_topk_score_details(
        spark, idx, _ranked.RANKED_QUERIES, k=10
    )


_SCORE_THRESHOLD = 0.9


@register(
    "bm25_topk_score_threshold",
    _ranked.sql_score_threshold_topk(
        _ranked.RANKED_QUERIES, threshold=_SCORE_THRESHOLD,
        title_tokens=corpus.TITLE_TOKENS, n_fields=2,
    ),
)
def q_bm25_score_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rankingScoreThreshold (Meilisearch v1.13): hits scoring under the
    threshold drop BEFORE pagination (ranking_score over the FULL match
    set, global-max BM25 normalization), survivors rank under the default
    pipeline."""
    idx = build_or_get_fielded_index(spark, sf_dir)
    return _ranked.search_topk_score_threshold(
        spark, idx, _ranked.RANKED_QUERIES, threshold=_SCORE_THRESHOLD, k=10
    )


@register(
    "facet_stats_search",
    _facets.sql_facet_stats(["n_chars", "doc_id"], term="dup"),
)
def q_facet_stats_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """facetStats: min/max/count of numeric facets over the docs matching a
    search term — the match set comes from the In(term)-pruned posting-block
    decode, the stats from one unpivot + aggregate."""
    idx = build_or_get_index(spark, sf_dir)
    return _facets.facet_stats(
        spark, idx, _docs(spark, sf_dir), ["n_chars", "doc_id"], term="dup"
    )


@register(
    "facet_counts_capped",
    _facets.sql_facet_distribution_capped(
        ["lang", "source"], max_values_per_facet=4, sort_by="count"
    ),
)
def q_facet_counts_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """maxValuesPerFacet + sortFacetValuesBy=count: the facet distribution
    truncated to the 4 most frequent values per facet ((cnt DESC, value ASC)
    is a total order, so the cap is deterministic)."""
    return _facets.facet_distribution_capped(
        _docs(spark, sf_dir), ["lang", "source"], max_values_per_facet=4,
        sort_by="count",
    )


@register(
    "facet_counts_capped_alpha",
    _facets.sql_facet_distribution_capped(
        ["lang", "source"], max_values_per_facet=3, sort_by="alpha"
    ),
)
def q_facet_counts_capped_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sortFacetValuesBy=alpha: the lexicographically first 3 values per
    facet, with their counts."""
    return _facets.facet_distribution_capped(
        _docs(spark, sf_dir), ["lang", "source"], max_values_per_facet=3,
        sort_by="alpha",
    )


_DOCS_FETCH_ARGS = dict(
    fields=["lang", "n_chars"],
    filter_expr="lang = 'en' AND n_chars >= 200",
    after=50,
    limit=20,
)


@register("documents_fetch", _sql_fetch_documents(**_DOCS_FETCH_ARGS))
def q_documents_fetch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GET /documents: a filtered, field-projected KEYSET page (doc_id >
    after, first 20) — the cursor-walk shape of grenad's sorted-key readers
    applied to the documents store; the doc_id predicate reaches the
    parquet scan."""
    return _fetch_documents(_docs(spark, sf_dir), **_DOCS_FETCH_ARGS)


_RANKED_FILTER = "n_chars >= 150 AND lang <> 'de'"


@register(
    "bm25_topk_ranked_filtered",
    _ranked.sql_ranked_filtered_topk(
        _ranked.RANKED_QUERIES, _RANKED_FILTER, title_tokens=corpus.TITLE_TOKENS
    ),
)
def q_bm25_ranked_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The everyday Meilisearch request: `filter:` + the FULL default
    pipeline — the attribute filter semi-joins the ranked kernel's
    candidates BEFORE the window, so the page backfills."""
    idx = build_or_get_fielded_index(spark, sf_dir)
    return _ranked.search_topk_ranked_filtered(
        spark, idx, _docs(spark, sf_dir), _ranked.RANKED_QUERIES,
        _RANKED_FILTER, k=10,
    )


@register(
    "bm25_topk_ranked_distinct",
    _ranked.sql_ranked_distinct_topk(
        _ranked.RANKED_QUERIES, "lang", title_tokens=corpus.TITLE_TOKENS
    ),
)
def q_bm25_ranked_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distinct attribute composed with the FULL default pipeline:
    best-ranked hit per (query, lang) under the pipeline order, then the
    global top-k under the same order."""
    idx = build_or_get_fielded_index(spark, sf_dir)
    return _ranked.search_topk_ranked_distinct(
        spark, idx, _docs(spark, sf_dir), _ranked.RANKED_QUERIES, "lang", k=10
    )


@register(
    "bm25_topk_phrase_stopwords",
    _sql_phrase_stop(STOP_PHRASE_QUERIES, PHRASE_STOP_WORDS),
)
def q_bm25_phrase_stopwords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stop words inside phrases: edge stop words drop from the quoted
    phrase, interior ones become single-token WILDCARDS in the offset
    chain ('merge the sort' = merge <any token> sort); stop terms never
    reach the positions scan. All-stop and OOV-survivor phrases match
    nothing."""
    from grenad_spark.index.positions import build_positions

    idx = build_or_get_index(spark, sf_dir)
    if not idx.has_positions():
        build_positions(spark, _docs(spark, sf_dir), idx.path)
    return _search_phrase_stop(
        spark, idx, STOP_PHRASE_QUERIES, PHRASE_STOP_WORDS, k=10
    )


# ---------------------------------------------------------------------------
# Round-5 session-4: Meilisearch filter DSL, word derivations (split/ngram),
# crop formatting, and the /similar endpoint
# ---------------------------------------------------------------------------

from grenad_spark.query import derivations as _deriv  # noqa: E402
from grenad_spark.query.filter_expr import parse_filter as _parse_filter  # noqa: E402

# One compiled artifact: the Meilisearch filter STRING below parses to ANSI
# SQL that Spark executes via F.expr AND DuckDB runs verbatim in the oracle
# — the parser itself is what this query gates.
_FILTER_EXPR_STR = (
    "(lang = en OR lang IN ['fr', 'de']) AND n_chars 150 TO 520 "
    "AND source NOT IN [src2] AND text IS NOT EMPTY AND lang EXISTS"
)


@register(
    "bm25_topk_filter_expr",
    bm25.bm25_filtered_oracle_sql(
        bm25.REFERENCE_QUERIES, _parse_filter(_FILTER_EXPR_STR)
    ),
)
def q_bm25_filter_expr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Meilisearch `filter` parameter as a STRING in its own grammar
    (comparisons, TO ranges, IN lists, EXISTS/IS EMPTY, AND/OR/NOT),
    compiled by query/filter_expr.py to one SQL predicate both engines run
    — the filterable-attributes serving path (gated bm25_topk_filtered)
    with the real public API surface in front."""
    from grenad_spark.query.search import search_topk_filtered

    idx = build_or_get_index(spark, sf_dir)
    return search_topk_filtered(
        spark, idx, _docs(spark, sf_dir), bm25.REFERENCE_QUERIES,
        _parse_filter(_FILTER_EXPR_STR), k=10,
    )


# split-word derivation: OOV compounds match their in-vocabulary halves
# ADJACENTLY ("mergesort" ~ "merge sort") — milli's split_best_frequency
_SPLIT_QUERIES = [
    (1, "mergesort"),
    (2, "hashjoin table"),
    (3, "bigdata stream"),
    (4, "sparkwindow"),
    (5, "valuestream dup"),
]


@register("bm25_topk_word_splits", _deriv.sql_word_splits_topk(_SPLIT_QUERIES))
def q_bm25_word_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-word derivation: the word-part exhaustive scorer plus one
    phrase-kernel pass over each derived (a, b) chain's position blocks,
    summed per (query, doc) — a doc reachable ONLY through the split still
    ranks (all five queries here lead with an OOV compound)."""
    from grenad_spark.index.positions import build_positions

    idx = build_or_get_index(spark, sf_dir)
    if not idx.has_positions():
        build_positions(spark, _docs(spark, sf_dir), idx.path)
    return _deriv.search_topk_word_splits(spark, idx, _SPLIT_QUERIES, k=10)


# ngram-concat derivation: adjacent query words also try their concatenation
# ("val ue" ~ "value") — milli's create_query_tree ngrams (cap 3)
_CONCAT_QUERIES = [
    (1, "val ue stream"),
    (2, "mer ge sort"),
    (3, "da ta table"),
    (4, "spark win dow"),
    (5, "cust omer order"),
]


@register("bm25_topk_ngram_concat", _deriv.sql_ngram_concat_topk(_CONCAT_QUERIES))
def q_bm25_ngram_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ngram-concat derivation: pure driver-side candidate rewrite feeding
    the standard disjunct kernel (the synonyms shape); OOV concatenations
    die in the pruned In(term) scan on both engines identically."""
    idx = build_or_get_index(spark, sf_dir)
    return _deriv.search_topk_ngram_concat(spark, idx, _CONCAT_QUERIES, k=10)


# crop: attributesToCrop/cropLength/cropMarker over the plain BM25 page
_CROP_QUERIES = [(1, "spark window"), (2, "merge sort"), (3, "customer value")]

from grenad_spark.query.search import sql_crop_topk as _sql_crop  # noqa: E402


@register("bm25_topk_crop", _sql_crop(_CROP_QUERIES, crop_length=8))
def q_bm25_crop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cropLength-token window centered on the first matched term, with
    cropMarker on trimmed ends — k·|queries|-row post-processing over the
    gated BM25 page (same shape as highlight)."""
    from grenad_spark.query.search import search_topk_crop

    idx = build_or_get_index(spark, sf_dir)
    return search_topk_crop(
        spark, idx, _docs(spark, sf_dir), _CROP_QUERIES, k=10, crop_length=8
    )


# /similar endpoint: nearest other documents by embedding cosine, with a
# Meilisearch filter string over candidate attributes
_SIMILAR_TARGETS = [3, 17, 42]
_SIMILAR_FILTER = "label IN [0, 1, 2, 3, 4, 5, 6] AND vec_id != 7"


@register(
    "similar_docs",
    ann.sql_similar_documents(_SIMILAR_TARGETS, 10, _SIMILAR_FILTER),
)
def q_similar_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Meilisearch /similar: per target id, the 10 nearest other vectors by
    cosine, candidates restricted by a filter-DSL string (compiled once,
    run by both engines)."""
    from grenad_spark.corpus import load_embeddings

    return ann.similar_documents(
        load_embeddings(spark, sf_dir), _SIMILAR_TARGETS, 10, _SIMILAR_FILTER
    )


# placeholder search (empty `q`): browse under filter + sort + exhaustive
# pagination — the everyday Meilisearch "list my documents" request. The
# filter is the compiled filter-DSL artifact; the page is a distributed
# top-(offset+limit), never a global sort.
_PLACEHOLDER_FILTER = _parse_filter("lang IN [en, fr] AND n_chars >= 200")
_PLACEHOLDER_SORT = [("n_chars", False), ("lang", True)]

from grenad_spark.query.search import (  # noqa: E402
    sql_placeholder_page as _sql_placeholder,
)


@register(
    "placeholder_search",
    _sql_placeholder(_PLACEHOLDER_FILTER, _PLACEHOLDER_SORT, offset=25, limit=20),
)
def q_placeholder_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Placeholder search: page 25..45 of the filtered corpus sorted by
    n_chars DESC, lang ASC, doc_id ASC, with the exact total."""
    from grenad_spark.query.search import placeholder_page

    return placeholder_page(
        spark, _docs(spark, sf_dir), _PLACEHOLDER_FILTER, _PLACEHOLDER_SORT,
        offset=25, limit=20,
    )


# ---------------------------------------------------------------------------
# Round-5 session-4: tokenizer settings (separatorTokens /
# nonSeparatorTokens / dictionary — Meilisearch v1.4 index settings).
# The corpus is pure [a-z ], so the query runs over a DERIVED corpus: one
# replace() chain (identical string in Spark SQL and DuckDB) deterministically
# injects the punctuation the settings act on. Engine side: a full index
# REBUILD under the custom tokenizer (settings are build-time in
# Meilisearch too — changing them reindexes every document).
# ---------------------------------------------------------------------------

from grenad_spark.functions.toksettings import (  # noqa: E402
    TokenizerSettings,
    bm25_custom_tokenizer_oracle_sql,
)

_TOK_SETTINGS = TokenizerSettings(
    separator_tokens=("-big-",),       # alnum-bearing: splits THROUGH `-`
    non_separator_tokens=("-",),       # hyphen joins words: merge-sort
    dictionary=("c++",),               # survives although + still separates
)
# evaluated verbatim by BOTH engines (replace() is literal in each)
_TOK_CORPUS_EXPR = (
    "replace(replace(replace(replace(text, "
    "'merge sort', 'merge-sort'), "
    "'value stream', 'c++ stream'), "
    "'small hash', 'small-big-hash'), "
    "'key order', 'key+order')"
)
_TOK_QUERIES = [
    (1, "merge-sort table"),    # hyphenated term matches only joined docs
    (2, "c++ stream"),          # dictionary word
    (3, "merge sort"),          # plain words still match un-rewritten docs
    (4, "key+order spark"),     # + separates: -> key, order, spark
    (5, "small-big-hash dup"),  # separator token splits the query too
]


@register(
    "bm25_topk_tokenizer",
    bm25_custom_tokenizer_oracle_sql(
        _TOK_SETTINGS, _TOK_QUERIES, k=10,
        table=f"(SELECT doc_id, {_TOK_CORPUS_EXPR} AS text FROM documents) tdocs",
    ),
)
def q_bm25_tokenizer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k under custom tokenizer settings over the derived
    punctuation-bearing corpus. The index is REBUILT with the settings'
    tokens_col (both tokenizing stages swapped, manifest tagged); query
    strings tokenize driver-side with the same compiled pattern, then ride
    the ordinary pruned WAND path — tokenizer settings change the key
    stream fed to the Sorter analog, nothing downstream."""
    from grenad_spark.index.build import CURRENT_FORMAT_VERSION, build_index
    from grenad_spark.query.search import _search_from_pairs

    key = sf_dir.rstrip("/").replace("/", "_")
    tag = _TOK_SETTINGS.tag()
    cache_key = f"tok_{tag}_{key}"
    if cache_key not in _INDEX_CACHE:
        docs = _docs(spark, sf_dir).withColumn("text", F.expr(_TOK_CORPUS_EXPR))
        _INDEX_CACHE[cache_key] = build_index(
            spark, docs,
            f"/tmp/grenad_index_v{CURRENT_FORMAT_VERSION}_tok{tag}{key}",
            n_shards=4, overwrite=True, tokenizer=_TOK_SETTINGS,
        )
    idx = _INDEX_CACHE[cache_key]
    pairs, seen = [], set()
    for qid, q in _TOK_QUERIES:
        for t in _TOK_SETTINGS.py_tokens(q):
            if (qid, t) not in seen:
                seen.add((qid, t))
                pairs.append((qid, t))
    return _search_from_pairs(spark, idx, pairs, 10, "wand")


# ---------------------------------------------------------------------------
# Registry ordering. The driver hash-gates a PREFIX of the registry (the
# first 50 queries), so insertion order decides which queries get hard
# CORRECTNESS rows each round.
#
# ROTATION POLICY (round 5+): the window is a rotating schedule, not a fixed
# set. Every round, queries that have held driver-green rows for >=2
# consecutive rounds are demotion candidates; overflow queries that have
# never had a driver row (or not in the last 2 rounds) are promoted in their
# place, highest-engine-risk first. Every registered query must land a hard
# driver row at least every other round. New queries enter the gate window
# on their debut round. The full registry stays judge-checkable every round
# via tools/check_contract.py regardless of window position. Exception: a
# debut whose ONLY novel surface is a projection/normalization head over an
# already-gated kernel may start in overflow (documented at its entry) so
# the window slots go to queries exercising new engine paths.
#
# Round-5 rotation: the entire round-4 phrase/rule/facet/media family
# (never driver-gated) is promoted; demoted in exchange are 4-round-stable
# queries whose engine paths remain covered by gated supersets —
# bm25_topk_indexed/wand/shared (the wand_pruned / shared_pruned / with_docs
# compositions stay), kv_merge_* (pure groupBy-agg re-expressions),
# events_* + pricing/top_revenue (relational glue on built-in operators),
# dedup_exact*/prefix/simhash (hash-groupBy projections), extract_text,
# seek_gte (seek_gte_batch supersedes), decontaminate_docs.
# ---------------------------------------------------------------------------

_DRIVER_GATE_ORDER = [
    # build stream + stats (Sorter input, partial+final agg; postings
    # demoted mid-round-5 — its varbyte encode path is exercised by
    # term_dict and every gated bm25_* decode — for the geo_radius debut)
    # reader/cursor family (point/seek, batched block descent; prefix_scan/
    # range_scan/first_last_key demoted — pure JVM filters/aggs over
    # term_stats, the real cursor machinery is seek_gte_batch's block
    # descent and the gated bm25_topk_prefix expansion)
    "seek_gte_batch",
    # BM25 serving paths (pruned/composed modes + expansion + LSM read path;
    # with_docs demoted mid-round-5 — a doc_id-keyed join over the gated
    # wand path — to make room for the bm25_topk_negative debut)
    # (bm25_topk_fuzzy demoted mid-round-5 — the 1-edit expansion
    # also drives the gated bm25_topk_fuzzy_ranked — for the geo_bbox debut)
    # (bm25_topk_fuzzy2 demoted mid-round-5 after 2 driver-green rounds —
    # the SymSpell deletion-table path now gates through
    # bm25_topk_typo_settings' budget-2 bucket — for that query's debut)
    # (bm25_topk_prefix demoted mid-round-5 after 3 driver-green rounds —
    # the dictionary-expansion path stays gated through
    # bm25_topk_prefix_db's unmaterialized-prefix fallback leg — for the
    # bm25_topk_page debut)
    # (bm25_topk_wand_pruned demoted session-4 after 2 driver-green rounds —
    # shared_pruned gates the SAME two-pass cross-term-θ pruner through its
    # batched superset — for the bm25_topk_filter_expr debut)
    "bm25_topk_shared_pruned",
    # (bm25_topk_and demoted mid-round-5 — conjunctive_matches also feeds
    # the gated bm25_topk_geo_sort — for the matching_frequency debut)
    # (bm25_topk_phrase demoted mid-round-5 — phrase_shared passes the
    # IDENTICAL oracle through a superset plan, and phrase_fresh/mixed keep
    # the kernel gated — for the bm25_topk_proximity_db debut)
    "bm25_fresh_generations",
    "bm25_phrase_fresh",
    # round-4 positional/rule/serving family — promoted (r4 VERDICT #1)
    "bm25_topk_proximity", "bm25_topk_mixed",
    "bm25_topk_phrase_shared", "bm25_topk_words", "bm25_topk_fuzzy_ranked",
    "bm25_topk_sorted_attr", "bm25_topk_distinct_attr", "index_stats",
    "facet_counts_search", "facet_counts_phrase",
    # round-5 additions (debut round => gate window; names are appended here
    # by the round-5 feature commits as each query registers)
    "bm25_topk_ranked", "bm25_topk_attr_rule", "bm25_topk_mixed_prefix",
    "bm25_topk_mixed_fuzzy", "bm25_topk_synonyms", "bm25_topk_stopwords",
    "bm25_topk_filtered", "facet_counts_mixed",
    "bm25_topk_negative", "bm25_topk_matching_last",
    "bm25_topk_matching_frequency", "bm25_topk_prefix_db",
    "bm25_topk_geo_radius", "bm25_topk_geo_bbox", "bm25_topk_geo_sort",
    "facet_value_search", "bm25_topk_proximity_db", "bm25_topk_typo_settings",
    "bm25_topk_page",
    # (term_doc_tf + term_stats demoted mid-round-5 after 4 driver-green
    # rounds — the identical token/agg stream feeds every gated bm25 build —
    # for the search_on + exact_field debuts)
    "bm25_topk_search_on", "bm25_topk_exact_field",
    # (doc_lengths + corpus_stats demoted mid-round-5 after 4 driver-green
    # rounds — both are pure aggregations whose outputs parameterize every
    # gated bm25 score — for the hybrid + federated debuts)
    "hybrid_topk", "federated_topk",
    # (point_lookup demoted mid-round-5 after 4 driver-green rounds — the
    # pruned-scan machinery it gates is exercised by seek_gte_batch and
    # every bm25 In(term) scan — for the matches debut; events_sessionize's
    # window-family twin events_topk_per_type had already rotated out r4 —
    # ranking_score rides on the gated ranked kernel, so it debuts in
    # overflow where its only novel surface (the scoring head) still gets
    # judge-run checks)
    "bm25_topk_matches",
    # round-5 session-3 debuts: custom rule order (supersedes sorted_attr's
    # attribute join — that query stays gated), full-match-set threshold
    # (exercises the unranked stats path no other query gates), facetStats
    # (posting-decode match set + a NEW agg head), keyset documents page,
    # and the stop-word wildcard phrase chain (a new kernel semantics)
    "bm25_topk_custom_rules", "bm25_topk_score_threshold",
    "facet_stats_search", "documents_fetch", "bm25_topk_phrase_stopwords",
    # index roundtrip + full Merger/compaction chains (term_dict_compacted
    # demoted mid-round-5 — the deletes variant is the same chain plus
    # tombstones — for the geo_sort debut; term_dict itself demoted for the
    # session-3 debuts — the compacted_deletes chain is the superset)
    "term_dict_compacted_deletes",
    # scrub + media plumbing — promoted (r4 VERDICT #1; media_resize
    # demoted mid-round-5 — frames+features cover the same mapInPandas
    # decode plumbing — for the bm25_topk_prefix_db debut; media_metadata
    # demoted mid-round-5 — a pure JVM projection over the binary column,
    # the decode plumbing lives in the still-gated features/frames — for
    # the facet_value_search debut)
    "text_redact_pii", "media_features",
    "media_frames",
    # dedup/ANN engine kernels (banded/iterative paths stay gated;
    # minhash_lsh demoted mid-round-5 — clusters is its superset, the
    # banding kernel feeds the gated connected-components chain — to make
    # room for the bm25_topk_matching_last debut; ngram_jaccard +
    # embedding_cosine + curation_clustered + ann_lsh demoted for the
    # session-3 debuts after 2+ driver-green rounds: the banded candidate
    # generation they share stays gated through dedup_minhash_clusters and
    # ann_ivf_kmeans, and the curation composition is glue over gated parts)
    # (dedup_minhash_clusters + ann_ivf_kmeans_topk demoted session-4 after
    # 2+ driver-green rounds — the banding/assignment kernels stay
    # judge-checked in overflow — for the word_splits + similar_docs debuts)
    # round-5 session-4 debuts: the Meilisearch filter-DSL parser (a NEW
    # compile path in front of the gated filtered semi-join), split-word
    # derivation (exhaustive word part + per-split phrase chains summed —
    # a new kernel composition), and the /similar endpoint (cosine ranking
    # over a filter-DSL-restricted candidate set)
    "bm25_topk_filter_expr", "bm25_topk_word_splits", "similar_docs",
]

_OVERFLOW_ORDER = [
    # round-5 debuts riding on gated kernels (ranking_score = normalization
    # head over the gated ranked kernel; exact_tiers = the gated exact_field
    # kernel with the chain exposed as its own tier; score_details = the
    # ranking_score fold unfolded into its components; the capped facet
    # distributions = a row_number window over the long-green facet_counts
    # aggregate)
    "bm25_topk_ranking_score", "bm25_topk_exact_tiers",
    "bm25_topk_score_details", "facet_counts_capped",
    "facet_counts_capped_alpha",
    # filter/distinct composed with the full pipeline: the ranked kernel is
    # gated (bm25_topk_ranked), the filter semi-join shape is gated
    # (bm25_topk_filtered), the per-value dedup window is gated
    # (bm25_topk_distinct_attr) — the debut here is their composition
    "bm25_topk_ranked_filtered", "bm25_topk_ranked_distinct",
    # session-4 debut bm25_topk_proximity_prefix: the gate window is full
    # and no remaining entry has the 2 driver-green rounds the rotation
    # policy demands for demotion — it debuts in overflow (judge-run
    # checked) and is FIRST in line for promotion next round
    "bm25_topk_proximity_prefix",
    # session-4 debut bm25_topk_tokenizer: same full-window situation as
    # proximity_prefix — debuts in overflow (judge-run checked), second in
    # line for promotion next round. A NEW engine path (custom token stream
    # through both build tokenize stages), not a kernel-riding head
    "bm25_topk_tokenizer",
    # session-4 debut bm25_topk_negative_phrase: composition of the gated
    # negative anti-join shape with the gated phrase kernel (batched via
    # phrase_match_pairs) — kernel-riding composition, overflow debut
    "bm25_topk_negative_phrase",
    # session-4 debut bm25_topk_proximity_attr (proximityPrecision=
    # byAttribute): a NEW kernel ((doc, fid)-set comparison) — third in
    # line for promotion next round
    "bm25_topk_proximity_attr",
    # session-4 debut bm25_topk_typo_disable_attrs: fid-masked tf for
    # typo-DERIVED terms only (new kernel over the gated expansion stage)
    "bm25_topk_typo_disable_attrs",
    # session-4 kernel-riding debuts (documented exception: ngram_concat is
    # a driver-side candidate rewrite feeding the gated disjunct kernel —
    # the synonyms shape; crop is k·|queries|-row post-processing over the
    # gated BM25 page — the highlight shape)
    "bm25_topk_ngram_concat", "bm25_topk_crop",
    # session-4 demotions (2+ driver-green rounds; wand_pruned's θ pruner
    # stays gated via shared_pruned) — first in line for re-promotion
    "bm25_topk_wand_pruned", "dedup_minhash_clusters", "ann_ivf_kmeans_topk",
    # session-3 demotions (2+ driver-green rounds, paths covered by gated
    # supersets — see the gate-list notes) — first in line for re-promotion
    "term_dict", "dedup_ngram_jaccard", "dedup_embedding_cosine",
    "curation_pipeline_clustered", "ann_lsh_topk",
    # 4-round-stable demotions (see rotation note above) — first in line for
    # re-promotion next round
    "term_doc_tf", "term_stats", "doc_lengths", "corpus_stats",
    "point_lookup",
    "bm25_topk_indexed", "bm25_topk_wand", "bm25_topk_shared",
    "bm25_topk_with_docs", "dedup_minhash_lsh", "postings",
    "bm25_topk_fuzzy", "term_dict_compacted", "bm25_topk_and",
    "media_resize", "media_metadata", "bm25_topk_phrase", "bm25_topk_fuzzy2",
    "bm25_topk_prefix",
    "kv_merge_concat", "kv_merge_keep_first", "kv_merge_keep_last",
    "kv_merge_sum_u32",
    "pricing_summary", "top_revenue_orders", "events_cube",
    "events_hourly_rollup", "events_sessionize", "events_topk_per_type",
    "extract_text_invariant", "seek_gte", "prefix_scan", "range_scan",
    "first_last_key",
    "dedup_exact_groups", "dedup_exact_keep_first", "dedup_prefix_groups",
    "dedup_simhash", "decontaminate_docs",
    # long-standing overflow (subsets / re-rankings / pure JVM projections);
    # phrase_snippets is k·|queries|-row post-processing over the GATED
    # phrase kernel
    # bm25_topk_highlight: same k·|queries|-row post-processing shape
    "bm25_topk_phrase_snippets", "bm25_topk_highlight",
    "events_pivot", "seek_lte",
    "bm25_topk", "curation_pipeline", "ann_bruteforce_topk", "ann_ivf_topk",
    "text_token_count", "text_quality_score", "text_lang_id",
    "text_fingerprint",
    # session-4 debut text_repetition (Gopher repetition filters): pure
    # built-in-expr projection/agg family like its text_* siblings
    "text_repetition",
    # session-4 debut placeholder_search: composition of the gated filter
    # semi-join + pagination shapes over the documents table (browse mode)
    "placeholder_search",
    "facet_counts", "facet_numeric_buckets",
]


def _reorder_registry() -> None:
    full = _DRIVER_GATE_ORDER + _OVERFLOW_ORDER
    missing = [n for n in full if n not in QUERIES]
    extra = [n for n in QUERIES if n not in full]
    # fail at import, not at driver time: a query registered but absent from
    # the explicit order (or vice versa) is a silent gate-coverage change.
    # A hard raise, not assert — python -O would strip an assert and the
    # rebuild below would then silently DROP the unlisted query
    if missing or extra:
        raise RuntimeError(
            f"registry/order mismatch: missing from registry {missing}, "
            f"registered but not ordered {extra}"
        )
    ordered = {n: QUERIES[n] for n in full}
    QUERIES.clear()
    QUERIES.update(ordered)
    o = {n: ORACLES[n] for n in full if n in ORACLES}
    ORACLES.clear()
    ORACLES.update(o)


_reorder_registry()
