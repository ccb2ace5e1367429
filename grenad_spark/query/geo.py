"""Geosearch — the Meilisearch `_geo` serving surfaces re-expressed on the
index + documents tables:

  `_geoRadius(lat, lng, r)`      filter  -> geo_radius_topk
  `_geoBoundingBox([a,b],[c,d])` filter  -> geo_bbox_topk
  `_geoPoint(lat, lng):asc`      sort    -> geo_sort_topk

Meilisearch stores document coordinates in a grenad `_geo` field and serves
radius/bbox filters from an RTree over them (meilisearch geosearch docs;
the filter composes with search exactly like filterable attributes). Here
the documents table is the coordinate store and the filter is a pruned
doc-side scan semi-joined before ranking — the same shape as
search_topk_filtered, so AQE broadcasts whichever side a selective
radius/rare query makes small.

The synthetic corpus carries no coordinates, so `with_geo` derives a
deterministic (lat, lng) per doc_id — pure int64 modular arithmetic then
one IEEE division, reproduced verbatim in the DuckDB oracles (GEO_SQL_*).
A real deployment maps its own lat/lng columns instead.

Distance is great-circle haversine (R = 6371.0 km), computed with built-in
JVM expressions — no UDF anywhere on the path. Distances and filter
boundaries are continuous in the synthetic coordinates, so the
round-to-4-decimals on output (and the radius compare) sit far from any
doc's value at the tested scales.

Scale: the geo side reads (doc_id, lat, lng) only (column pruning); the
semi-join keys on doc_id against the match set — broadcastable when the
filter is selective. A 100 TB corpus would pre-bucket by geohash cell and
pushdown cell ranges (the RTree analog: partition pruning on a geohash
prefix column); the filter expression below stays unchanged on top.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from grenad_spark.query.bm25 import SCORE_DECIMALS
from grenad_spark.query.search import (
    _OUT_AND_SCHEMA,
    _make_exhaustive_with_termcount,
    _n_queries,
    _rank_topk,
    _serve_kernel,
    _tokenize_queries,
    conjunctive_matches,
)

EARTH_RADIUS_KM = 6371.0

# deterministic synthetic coordinates: lat in [-60, 60), lng in [-180, 180)
# (modulo-first keeps the int64 product small at any doc_id scale; the
# explicit DOUBLE cast keeps both engines in IEEE float arithmetic — a bare
# `/ 100.0` literal parses as DECIMAL division in Spark SQL)
_LAT_EXPR = "-60.0 + CAST((doc_id % 12000) * 7919 % 12000 AS DOUBLE) / 100.0"
_LNG_EXPR = "-180.0 + CAST((doc_id % 36000) * 104729 % 36000 AS DOUBLE) / 100.0"


def with_geo(docs: DataFrame) -> DataFrame:
    """docs + deterministic (lat, lng) derived from doc_id."""
    return docs.withColumn("lat", F.expr(_LAT_EXPR)).withColumn(
        "lng", F.expr(_LNG_EXPR)
    )


def _haversine_km(lat_col, lng_col, lat0: float, lng0: float):
    """Great-circle distance (km) from (lat0, lng0), built-in exprs only."""
    dphi = F.radians(lat_col - F.lit(lat0))
    dlmb = F.radians(lng_col - F.lit(lng0))
    a = (
        F.sin(dphi / 2) ** 2
        + F.cos(F.radians(F.lit(lat0))) * F.cos(F.radians(lat_col))
        * F.sin(dlmb / 2) ** 2
    )
    return F.lit(2.0 * EARTH_RADIUS_KM) * F.asin(F.sqrt(a))


def _scored_matches(spark, index, queries):
    """Disjunctive full per-shard score set (query_id, doc_id, score) —
    exclusion/sort happens BEFORE top-k, exactly like the filtered path."""
    pairs = _tokenize_queries(queries)
    if not pairs:
        return None
    return _serve_kernel(
        spark, index, pairs,
        _make_exhaustive_with_termcount(float(index.avgdl), index.payload_codec),
        _OUT_AND_SCHEMA,
    )


def geo_radius_topk(
    spark: SparkSession,
    index,
    docs: DataFrame,
    queries: list[tuple[int, str]],
    center: tuple[float, float],
    radius_km: float,
    k: int = 10,
) -> DataFrame:
    """BM25 top-k restricted to `_geoRadius(center, radius_km)`; the
    haversine distance rides along rounded. (query_id, doc_id, dist_km,
    score)."""
    per_shard = _scored_matches(spark, index, queries)
    if per_shard is None:
        return spark.createDataFrame(
            [], "query_id int, doc_id long, dist_km double, score double"
        )
    geo = with_geo(docs).select(
        "doc_id",
        F.round(
            _haversine_km(F.col("lat"), F.col("lng"), center[0], center[1]), 4
        ).alias("dist_km"),
    ).filter(F.col("dist_km") <= float(radius_km))
    return _rank_topk(
        per_shard.join(geo, "doc_id"), _n_queries(queries), int(k),
        cols=["query_id", "doc_id", "dist_km", "score"],
    )


def geo_bbox_topk(
    spark: SparkSession,
    index,
    docs: DataFrame,
    queries: list[tuple[int, str]],
    top_left: tuple[float, float],
    bottom_right: tuple[float, float],
    k: int = 10,
) -> DataFrame:
    """BM25 top-k restricted to `_geoBoundingBox([top_left],
    [bottom_right])` — pure comparisons, no trig. (query_id, doc_id,
    score)."""
    per_shard = _scored_matches(spark, index, queries)
    if per_shard is None:
        return spark.createDataFrame(
            [], "query_id int, doc_id long, score double"
        )
    lat_hi, lng_lo = top_left
    lat_lo, lng_hi = bottom_right
    geo = with_geo(docs).select("doc_id", "lat", "lng").filter(
        (F.col("lat") <= float(lat_hi)) & (F.col("lat") >= float(lat_lo))
        & (F.col("lng") >= float(lng_lo)) & (F.col("lng") <= float(lng_hi))
    ).select("doc_id")
    return _rank_topk(per_shard.join(geo, "doc_id"), _n_queries(queries), int(k))


def geo_sort_topk(
    spark: SparkSession,
    index,
    docs: DataFrame,
    queries: list[tuple[int, str]],
    point: tuple[float, float],
    k: int = 10,
    ascending: bool = True,
) -> DataFrame:
    """`_geoPoint(point):asc|desc` sort: conjunctive matches ranked by
    haversine distance from `point` (BM25 rides along, doc_id breaks ties)
    — the geo counterpart of search_topk_sorted. (query_id, doc_id,
    dist_km, score)."""
    matches = conjunctive_matches(spark, index, queries)
    geo = with_geo(docs).select(
        "doc_id",
        F.round(
            _haversine_km(F.col("lat"), F.col("lng"), point[0], point[1]), 4
        ).alias("dist_km"),
    )
    return _rank_topk(
        matches.join(geo, "doc_id"), _n_queries(queries), int(k),
        [("dist_km", ascending), ("doc_id", True)],
        ["query_id", "doc_id", "dist_km", "score"],
    )


# ---------------------------------------------------------------------------
# DuckDB oracles — the same derived coordinates and haversine, verbatim
# ---------------------------------------------------------------------------

_GEO_SQL_CTE = f"""
geo AS (
  SELECT doc_id,
         {_LAT_EXPR} AS lat,
         {_LNG_EXPR} AS lng
  FROM documents
)
"""


def _sql_haversine(lat0: float, lng0: float) -> str:
    return (
        f"2.0 * {EARTH_RADIUS_KM} * asin(sqrt("
        f"pow(sin(radians(lat - ({lat0})) / 2), 2) + "
        f"cos(radians({lat0})) * cos(radians(lat)) * "
        f"pow(sin(radians(lng - ({lng0})) / 2), 2)))"
    )


def _sql_scored(queries: list[tuple[int, str]]) -> str:
    """The standard disjunctive-BM25 scored CTE body (shared)."""
    from grenad_spark.functions.tokenize import TOKEN_SPLIT_RE, sql_term_doc_tf
    from grenad_spark.query.bm25 import B, K1, sql_queries_values

    return f"""
tdt AS ({sql_term_doc_tf('documents')}),
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
)"""


def sql_geo_radius_topk(
    queries: list[tuple[int, str]],
    center: tuple[float, float],
    radius_km: float,
    k: int = 10,
) -> str:
    return f"""
WITH {_sql_scored(queries)},
{_GEO_SQL_CTE.strip()},
gd AS (
  SELECT doc_id, round({_sql_haversine(center[0], center[1])}, 4) AS dist_km
  FROM geo
)
SELECT query_id, doc_id, dist_km, score FROM (
  SELECT s.query_id, s.doc_id, g.dist_km, s.score,
         row_number() OVER (PARTITION BY s.query_id ORDER BY s.score DESC, s.doc_id ASC) AS rn
  FROM scored s JOIN gd g ON g.doc_id = s.doc_id
  WHERE g.dist_km <= {radius_km}
) WHERE rn <= {k}
"""


def sql_geo_bbox_topk(
    queries: list[tuple[int, str]],
    top_left: tuple[float, float],
    bottom_right: tuple[float, float],
    k: int = 10,
) -> str:
    lat_hi, lng_lo = top_left
    lat_lo, lng_hi = bottom_right
    return f"""
WITH {_sql_scored(queries)},
{_GEO_SQL_CTE.strip()}
SELECT query_id, doc_id, score FROM (
  SELECT s.query_id, s.doc_id, s.score,
         row_number() OVER (PARTITION BY s.query_id ORDER BY s.score DESC, s.doc_id ASC) AS rn
  FROM scored s JOIN geo g ON g.doc_id = s.doc_id
  WHERE g.lat <= {lat_hi} AND g.lat >= {lat_lo}
    AND g.lng >= {lng_lo} AND g.lng <= {lng_hi}
) WHERE rn <= {k}
"""


def sql_geo_sort_topk(
    queries: list[tuple[int, str]],
    point: tuple[float, float],
    k: int = 10,
    ascending: bool = True,
) -> str:
    from grenad_spark.functions.tokenize import TOKEN_SPLIT_RE
    from grenad_spark.query.bm25 import sql_queries_values

    order = "ASC" if ascending else "DESC"
    return f"""
WITH {_sql_scored(queries)},
{_GEO_SQL_CTE.strip()},
gd AS (
  SELECT doc_id, round({_sql_haversine(point[0], point[1])}, 4) AS dist_km
  FROM geo
),
qn AS (
  SELECT query_id, count(*)::INT AS n_terms FROM (
    SELECT DISTINCT query_id, term FROM (
      SELECT query_id, unnest(regexp_split_to_array(lower(query), '{TOKEN_SPLIT_RE}')) AS term
      FROM {sql_queries_values(queries)}
    ) WHERE term <> ''
  ) GROUP BY query_id
),
hits AS (
  SELECT qt.query_id, tdt.doc_id, count(DISTINCT tdt.term)::INT AS ht
  FROM tdt JOIN qt ON tdt.term = qt.term GROUP BY 1, 2
)
SELECT query_id, doc_id, dist_km, score FROM (
  SELECT s.query_id, s.doc_id, g.dist_km, s.score,
         row_number() OVER (PARTITION BY s.query_id ORDER BY g.dist_km {order}, s.doc_id ASC) AS rn
  FROM scored s
  JOIN gd g ON g.doc_id = s.doc_id
  JOIN hits h ON h.query_id = s.query_id AND h.doc_id = s.doc_id
  JOIN qn ON qn.query_id = s.query_id AND h.ht = qn.n_terms
) WHERE rn <= {k}
"""
