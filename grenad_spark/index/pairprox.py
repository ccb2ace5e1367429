"""Materialized pair-proximity postings — Meilisearch's word_pair_proximity_docids.

Meilisearch extracts, per document, every ordered pair of words whose token
positions are within a small window (its extract_word_pair_proximity_docids
stage), and stores (proximity, w1, w2) → docids as grenad KV files so the
proximity ranking rule reads PAIR posting lists instead of re-deriving
distances from word positions at query time. The absent-pair cost is one
more than the window (a pair the DB doesn't hold ranks as "far").

Spark-first re-expression:

  pair stream = per-doc window pairs from ONE higher-order-function
                projection over the token array (transform + slice, all
                JVM-side — no self-join, no extra shuffle):
                every (token[i], token[i+d]) for d = 1..MAX_PAIR_DIST
  key         = canonical unordered pair "min_term max_term" (distance is
                symmetric |pos_b - pos_a|, so one key serves both query
                orders; tokens never contain spaces, so ' ' is a safe
                separator)
  value       = per-doc MIN distance (1..MAX_PAIR_DIST), carried through the
                SAME build_segments encode as the main postings with the
                distance riding the tf field — block stats, codecs, In(key)
                pruning and the vectorized decode all come for free
  pair_dict   = per-pair footer stats (term_dict_from_segments)

Serving (search_topk_proximity_db) ranks the conjunctive match set by
    proximity(doc) = Σ over adjacent query-pair slots of
                     (stored distance, or ABSENT_COST when the pair is not
                      in the DB for that doc)
— the capped Meilisearch proximity semantics. This differs from
query-time search_topk_proximity (exact uncapped distances from the
positional index) exactly the way the reference's materialized rule differs
from a full positional scan: the cap is what makes the DB bounded.

Scale story (the reason Meilisearch materializes this): query-time
proximity decodes the FULL position blocks of every query term — O(total
occurrences). Pair serving reads the posting lists of the query's adjacent
pairs only — O(pair postings), usually orders of magnitude smaller, with
the same In(key)-pruned scan shape as ordinary term lookup. The build pays
≤ MAX_PAIR_DIST× the token stream once: the pair stream is generated by a
JVM projection, min-reduced map-side by the partial agg, then flows through
the one-(key,shard)-shuffle segment encode. At 10^12 docs the hot pairs
("of the") are the skew monsters; they shard by doc range like every other
posting list here, so no reducer sees more than docs_per_shard of any pair.
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

from grenad_spark.functions.literals import isin, sql_expr
from grenad_spark.functions.tokenize import tokens_col
from grenad_spark.index.build import (
    IndexHandle,
    _done,
    build_segments,
    term_dict_from_segments,
)
from grenad_spark.query.search import _PROXIMITY_ORDER, _empty_result, _n_queries, _rank_topk

# Meilisearch stores pairs up to proximity 7 and ranks a missing pair as 8
# (one beyond the window) — same constants here.
MAX_PAIR_DIST = 7
ABSENT_COST = MAX_PAIR_DIST + 1
PAIR_SEP = " "


def pair_stream(docs: DataFrame) -> DataFrame:
    """(term, doc_id, dl, tf) pair stream for build_segments: term is the
    canonical 'a b' pair key, tf carries the per-doc MIN token distance
    (1..MAX_PAIR_DIST). One JVM projection (transform over the token array
    with an index-offset slice) generates the window pairs — no self-join —
    and the per-(pair, doc) min-reduce happens IN the same projection:
    array_sort orders the pair structs by (t1, t2, d), so each (t1, t2)
    run's FIRST element carries the min distance and a boundary filter
    keeps exactly it. Duplicate pairs only exist within one document, so
    this per-doc reduction is the global aggregation — the groupBy full
    shuffle it replaces was pure overhead (guide §2.4; plan goes
    2 exchanges → 1 for the pair build)."""
    toks = docs.select("doc_id", tokens_col("text").alias("toks"))
    pairs = toks.select(
        "doc_id",
        F.size("toks").alias("dl"),
        F.expr(
            "array_sort(flatten(transform(toks, (w, i) -> "
            f"transform(slice(toks, i + 2, {MAX_PAIR_DIST}), "
            "(v, j) -> struct("
            "CASE WHEN w <= v THEN w ELSE v END AS t1, "
            "CASE WHEN w <= v THEN v ELSE w END AS t2, "
            "j + 1 AS d)))))"
        ).alias("ps"),
    )
    return (
        pairs.select(
            "doc_id",
            "dl",
            F.explode(
                F.expr(
                    "filter(ps, (p, i) -> i = 0 OR ps[i-1].t1 != p.t1 "
                    "OR ps[i-1].t2 != p.t2)"
                )
            ).alias("p"),
        )
        .select(
            F.concat_ws(PAIR_SEP, "p.t1", "p.t2").alias("term"),
            "doc_id",
            "dl",
            F.col("p.d").cast("int").alias("tf"),
        )
    )


def build_pair_proximity(
    spark: SparkSession,
    docs: DataFrame,
    index_dir: str,
    *,
    partitions: int | None = None,
    compression: str = "zstd",
    block_size: int | None = None,
) -> None:
    """Add (or resume) the pair_proximity tables beside an existing index.
    Shard geometry and payload codec come from the manifest so pair blocks
    line up with the main postings blocks. Separate stage like positions /
    prefix_postings: only proximity serving pays for it."""
    out_path = os.path.join(index_dir, "pair_proximity")
    dict_path = os.path.join(index_dir, "pair_dict")
    mpath = os.path.join(index_dir, "manifest.json")
    if _done(out_path) and _done(dict_path):
        with open(mpath) as fh:
            manifest = json.load(fh)
        if not manifest.get("pair_proximity"):
            manifest["pair_proximity"] = {"max_dist": MAX_PAIR_DIST}
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
    segments = build_segments(
        pair_stream(docs), doc_space, n_shards,
        partitions=partitions, payload_codec=payload_codec,
        block_size=block_size,
    )
    # Materialize block rows before the range write — repartitionByRange
    # SAMPLES its child to pick boundaries, which would re-run the whole
    # pair-explode→shuffle→encode pipeline a second time (measured: the
    # unpersisted write doubled this stage, 41 s vs ~21 s at 160k docs).
    # Same discipline as build_index's segments stage. The pair_dict agg
    # reads the SAME persisted rows and is independent of the range write,
    # so both jobs run from a small thread pool (guide-§2.6 tail back-fill).
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
            .withColumnRenamed("term", "pair")
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
    manifest.setdefault("stage_seconds", {})["pair_proximity"] = round(
        time.time() - t0, 3
    )
    manifest["pair_proximity"] = {"max_dist": MAX_PAIR_DIST}
    tmp = mpath + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(manifest, fh, indent=1)
    os.replace(tmp, mpath)


# ---------------------------------------------------------------------------
# serving — the proximity rule over the materialized pair DB
# ---------------------------------------------------------------------------

_PAIR_ROWS_SCHEMA = "pair string, doc_id long, dist int"


def _make_decode_pair_rows(codec: str):
    """mapInPandas kernel: pair posting block rows → (pair, doc_id, dist).
    Each block decodes independently (absolute-restart discipline), so no
    ordering requirement; the stored tf field IS the min distance."""
    from grenad_spark.functions.varbyte import (
        decode_block_rows,
        decompress_payloads,
    )

    def fn(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            for pair, g in pdf.groupby("term", sort=False):
                d, tf, _dl = decode_block_rows(
                    decompress_payloads(list(g["payload"]), codec),
                    g["n"].to_numpy(),
                )
                yield pd.DataFrame(
                    {"pair": pair, "doc_id": d, "dist": tf.astype(np.int32)}
                )

    return fn


def _query_pair_slots(
    queries: list[tuple[int, str]],
) -> tuple[dict[int, list[str]], list[tuple[int, str, int]]]:
    """Tokenize and derive the adjacent-pair slots of each query.
    Returns (toks per query, [(query_id, pair_key, multiplicity)]). A pair
    repeated in one query ('a b a b' → 'a b' twice) keeps its multiplicity:
    each slot contributes its cost to the sum independently."""
    import re

    from grenad_spark.functions.tokenize import TOKEN_SPLIT_RE

    toks_by_q: dict[int, list[str]] = {}
    for qid, q in queries:
        toks = [t for t in re.split(TOKEN_SPLIT_RE, q.lower()) if t]
        if toks:
            toks_by_q[int(qid)] = toks
    slots: dict[tuple[int, str], int] = {}
    for qid, toks in toks_by_q.items():
        for i in range(len(toks) - 1):
            a, b = sorted((toks[i], toks[i + 1]))
            key = (qid, f"{a}{PAIR_SEP}{b}")
            slots[key] = slots.get(key, 0) + 1
    return toks_by_q, [(q, p, m) for (q, p), m in sorted(slots.items())]


def search_topk_proximity_db(
    spark: SparkSession,
    index: IndexHandle,
    queries: list[tuple[int, str]],
    k: int = 10,
) -> DataFrame:
    """Proximity-ranked conjunctive top-k served from the MATERIALIZED pair
    DB: (query_id, doc_id, proximity, score), ranked proximity ASC, score
    DESC, doc_id ASC, where proximity = Σ over adjacent query-term pairs of
    the stored min distance (ABSENT_COST for pairs beyond MAX_PAIR_DIST or
    with no qualifying co-occurrence — the capped Meilisearch rule).

    Plan: the conjunctive match set + BM25 scores come from the ordinary
    postings path (one exchange); pair costs come from an In(pair)-pruned
    scan of pair_proximity — proximity = 8·Σmult − Σ mult·(8 − dist) needs
    only the PRESENT pair rows, so the pair leg joins one doc-keyed discount
    aggregate, never |slots| × |matches| expanded rows."""
    from grenad_spark.query.search import conjunctive_matches

    toks_by_q, slots = _query_pair_slots(queries)
    if not toks_by_q:
        return spark.createDataFrame(
            [], "query_id int, doc_id long, proximity long, score double"
        )
    matched = conjunctive_matches(
        spark, index, [(q, " ".join(t)) for q, t in sorted(toks_by_q.items())]
    )
    base8 = {q: 0 for q in toks_by_q}
    for q, _p, m in slots:
        base8[q] += ABSENT_COST * m
    # base/slot relations are driver-literal and tiny — attach them via
    # literal-map expressions instead of broadcast hash joins (each
    # broadcast relation build costs ~0.2 s/job; see search.py
    # _attach_query_terms for the measurement)
    base_map = sql_expr(dict(sorted(base8.items())), "map<int, bigint>")
    if slots:
        by_pair: dict[str, list[tuple[int, int]]] = {}
        for q, p, m in slots:
            by_pair.setdefault(p, []).append((q, m))
        slot_map = sql_expr(
            dict(sorted(by_pair.items())),
            "map<string, array<struct<query_id: int, mult: int>>>",
        )
        pair_keys = sorted(by_pair)
        blocks = (
            index.pair_segments(spark)
            .filter(isin("term", pair_keys))
            .select("term", "n", "payload")
        )
        dists = blocks.mapInPandas(
            _make_decode_pair_rows(index.payload_codec), _PAIR_ROWS_SCHEMA
        )
        disc = (
            dists.withColumn("qm", F.explode(slot_map[F.col("pair")]))
            .groupBy(F.col("qm.query_id").alias("query_id"), "doc_id")
            .agg(
                F.sum(
                    F.col("qm.mult").cast("long") * (ABSENT_COST - F.col("dist"))
                ).alias("disc")
            )
        )
        costed = (
            matched.join(disc, ["query_id", "doc_id"], "left")
            .select(
                "query_id",
                "doc_id",
                (
                    base_map[F.col("query_id")]
                    - F.coalesce(F.col("disc"), F.lit(0))
                ).alias("proximity"),
                "score",
            )
        )
    else:
        costed = matched.select(
            "query_id", "doc_id",
            base_map[F.col("query_id")].alias("proximity"), "score",
        )
    return _rank_topk(
        costed, _n_queries(queries), int(k), _PROXIMITY_ORDER,
        ["query_id", "doc_id", "proximity", "score"],
    )


def sql_proximity_db_topk(queries: list[tuple[int, str]], k: int = 10) -> str:
    """DuckDB oracle for search_topk_proximity_db: conjunctive term match,
    per adjacent-pair min |position distance| via a doc-keyed self-join,
    cost = least(coalesce(min_dist, 8), 8) per slot (the cap makes a
    beyond-window pair equal an absent one), BM25 tie-break."""
    import re

    from grenad_spark.functions.tokenize import TOKEN_SPLIT_RE, sql_term_doc_tf
    from grenad_spark.query.bm25 import B, K1, SCORE_DECIMALS

    parsed = [
        (int(qid), [t for t in re.split(TOKEN_SPLIT_RE, q.lower()) if t])
        for qid, q in queries
    ]
    parsed = [(qid, toks) for qid, toks in parsed if toks]
    ctes, unions, qt_rows = [], [], []
    for qid, toks in parsed:
        uniq = sorted(set(toks))
        for t in uniq:
            qt_rows.append(f"({qid}, '{t}')")
        in_list = ", ".join(f"'{t}'" for t in uniq)
        ctes.append(
            f"c{qid} AS (SELECT doc_id FROM tdt WHERE term IN ({in_list}) "
            f"GROUP BY doc_id HAVING count(DISTINCT term) = {len(uniq)})"
        )
        costs, joins = [], []
        for i in range(len(toks) - 1):
            ta, tb = toks[i], toks[i + 1]
            self_pair = " AND a.pos <> b.pos" if ta == tb else ""
            ctes.append(
                f"p{qid}_{i} AS (SELECT a.doc_id, min(abs(b.pos - a.pos))::BIGINT AS d "
                f"FROM pos a JOIN pos b ON b.doc_id = a.doc_id "
                f"WHERE a.term = '{ta}' AND b.term = '{tb}'{self_pair} "
                f"GROUP BY a.doc_id)"
            )
            costs.append(f"least(coalesce(p{qid}_{i}.d, {ABSENT_COST}), {ABSENT_COST})")
            joins.append(f"LEFT JOIN p{qid}_{i} ON p{qid}_{i}.doc_id = c{qid}.doc_id")
        prox = " + ".join(costs) if costs else "0"
        ctes.append(
            f"m{qid} AS (SELECT c{qid}.doc_id, ({prox})::BIGINT AS proximity "
            f"FROM c{qid} {' '.join(joins)})"
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
# word_prefix_pair_proximity_docids — last-word-prefix proximity
# ---------------------------------------------------------------------------
#
# Meilisearch ALSO materializes pair proximity against word PREFIXES
# (word_prefix_pair_proximity_docids / prefix_word_pair_proximity_docids):
# the as-you-type case — "merge so|" — ranks by the distance between
# "merge" and ANY word starting with "so", and reading one (word, prefix)
# list beats fanning out over every dictionary expansion. Distances here
# are symmetric (|pos difference|), so ONE unordered orientation serves
# both Meilisearch tables; the key is always `word SEP prefix` and lives in
# its own table (no ambiguity with full-word pairs).
#
# dist(doc, w, p) = min over occurrences o_w of w and o_t of any term t
# with prefix p, o_w != o_t, of |pos(o_t) - pos(o_w)|, capped at
# MAX_PAIR_DIST (absent beyond). The fallback (min over expansions t of
# the full-word pair (w, t)) is the same quantity by distributivity of
# min — tested equal.

PREFIX_PAIR_MAX_LEN = 2
PREFIX_PAIR_MIN_TERMS = 2


def prefix_pair_stream(
    docs: DataFrame, selected: DataFrame, max_len: int = PREFIX_PAIR_MAX_LEN
) -> DataFrame:
    """(term='word SEP prefix', doc_id, dl, tf=min distance) stream for
    build_segments. The SAME one-projection window-pair generation as
    pair_stream, emitted in BOTH orientations (each side pairs with the
    other side's prefixes), prefix-exploded (lengths 1..max_len) and
    semi-joined against the broadcast selected-prefix set BEFORE the
    min-reduce — expansion ≤ 2·max_len·MAX_PAIR_DIST per token, collapsed
    map-side by the partial agg (Meilisearch pays the same in its
    extract_word_prefix_pair stage)."""
    toks = docs.select("doc_id", tokens_col("text").alias("toks"))
    pairs = toks.select(
        "doc_id",
        F.size("toks").alias("dl"),
        F.explode(
            F.expr(
                "flatten(transform(toks, (w, i) -> "
                f"flatten(transform(slice(toks, i + 2, {MAX_PAIR_DIST}), "
                "(v, j) -> array("
                "struct(w AS wd, v AS ot, j + 1 AS d), "
                "struct(v AS wd, w AS ot, j + 1 AS d))))))"
            )
        ).alias("p"),
    ).select(
        "doc_id", "dl", F.col("p.wd").alias("wd"), F.col("p.d").alias("d"),
        F.explode(
            F.expr(
                f"transform(sequence(1, least(length(p.ot), {int(max_len)})), "
                "i -> substring(p.ot, 1, i))"
            )
        ).alias("prefix"),
    ).join(F.broadcast(selected), "prefix")
    return (
        pairs.groupBy(
            F.concat_ws(PAIR_SEP, "wd", "prefix").alias("term"), "doc_id", "dl"
        )
        .agg(F.min("d").cast("int").alias("tf"))
    )


def build_prefix_pair_proximity(
    spark: SparkSession,
    docs: DataFrame,
    index_dir: str,
    *,
    max_len: int = PREFIX_PAIR_MAX_LEN,
    min_terms: int = PREFIX_PAIR_MIN_TERMS,
    partitions: int | None = None,
    compression: str = "zstd",
    block_size: int | None = None,
) -> None:
    """Add (or resume) the prefix_pair_proximity tables beside an existing
    index. Prefix selection mirrors index/prefix.py (vocabulary-sized:
    prefixes of length 1..max_len covering >= min_terms dictionary words);
    the stream flows through the same one-shuffle sorted block encode."""
    out_path = os.path.join(index_dir, "prefix_pair_proximity")
    dict_path = os.path.join(index_dir, "prefix_pair_dict")
    mpath = os.path.join(index_dir, "manifest.json")
    meta = {
        "max_dist": MAX_PAIR_DIST, "max_len": int(max_len),
        "min_terms": int(min_terms),
    }
    if _done(out_path) and _done(dict_path):
        with open(mpath) as fh:
            manifest = json.load(fh)
        if not manifest.get("prefix_pair_proximity"):
            manifest["prefix_pair_proximity"] = meta
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
    td = spark.read.parquet(os.path.join(index_dir, "term_dict"))
    selected = (
        td.select(
            F.explode(
                F.expr(
                    f"transform(sequence(1, least(length(term), {int(max_len)})), "
                    "i -> substring(term, 1, i))"
                )
            ).alias("prefix")
        )
        .groupBy("prefix")
        .agg(F.count("*").cast("int").alias("n_terms"))
        .filter(F.col("n_terms") >= int(min_terms))
        .select("prefix")
    )
    segments = build_segments(
        prefix_pair_stream(docs, selected, max_len), doc_space, n_shards,
        partitions=partitions, payload_codec=payload_codec,
        block_size=block_size,
    )
    # persist before the range write: repartitionByRange samples its child —
    # unpersisted, the whole prefix-pair pipeline would run twice; the dict
    # agg shares the persisted rows and runs concurrently with the write
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
            .withColumnRenamed("term", "pair")
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
    manifest.setdefault("stage_seconds", {})["prefix_pair_proximity"] = round(
        time.time() - t0, 3
    )
    manifest["prefix_pair_proximity"] = meta
    tmp = mpath + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(manifest, fh, indent=1)
    os.replace(tmp, mpath)


def _parse_prefix_queries(
    queries: list[tuple[int, str]],
) -> dict[int, tuple[list[str], str]]:
    """{qid: (full_tokens, prefix)} for queries whose RAW string ends in
    `*` (the as-you-type marker — the tokenizer itself strips it). Queries
    without the marker or with an empty prefix are skipped."""
    import re

    from grenad_spark.functions.tokenize import TOKEN_SPLIT_RE

    out: dict[int, tuple[list[str], str]] = {}
    for qid, q in queries:
        if not q.rstrip().endswith("*"):
            continue
        toks = [t for t in re.split(TOKEN_SPLIT_RE, q.lower()) if t]
        if not toks:
            continue
        out[int(qid)] = (toks[:-1], toks[-1])
    return out


def search_topk_proximity_db_prefix(
    spark: SparkSession,
    index: IndexHandle,
    queries: list[tuple[int, str]],
    k: int = 10,
) -> DataFrame:
    """As-you-type proximity page: queries end in `p*`; docs must contain
    every full term AND at least one word with the prefix; ranked by
    proximity = Σ adjacent full-pair costs + the (last word, prefix) slot
    cost, then BM25 (full terms + prefix-as-ONE-word part), then doc.

    The prefix slot reads the materialized prefix_pair_proximity list when
    the key exists (ONE In(key)-pruned list — the point of the stage) and
    falls back to min-over-expansions of the full-word pair DB otherwise —
    the same quantity by distributivity of min (tested equal).
    (query_id, doc_id, proximity, score)."""
    from grenad_spark.index.prefix import prefix_doc_rows, prefix_score_col
    from grenad_spark.query.bm25 import SCORE_DECIMALS
    from grenad_spark.query.search import conjunctive_matches

    parsed = _parse_prefix_queries(queries)
    out_schema = "query_id int, doc_id long, proximity long, score double"
    if not parsed:
        return _empty_result(spark, out_schema)

    # ---- score side: prefix-as-one-word rows (df over ALL docs with the
    # prefix — collection statistics are never match-set-restricted)
    pr_pairs = sorted({(qid, p) for qid, (_f, p) in parsed.items()})
    pr_rows = prefix_doc_rows(spark, index, pr_pairs)
    wdf = Window.partitionBy("query_id", "prefix")
    pr_scored = (
        pr_rows.withColumn("df", F.count("*").over(wdf).cast("double"))
        .withColumn("s_p", prefix_score_col(index))
        .select("query_id", "doc_id", "s_p")
    )
    with_full = {q: f for q, (f, _p) in parsed.items() if f}
    parts = []
    if with_full:
        conj = conjunctive_matches(
            spark, index,
            [(q, " ".join(f)) for q, f in sorted(with_full.items())],
        )
        parts.append(
            conj.join(pr_scored, ["query_id", "doc_id"]).select(
                "query_id", "doc_id",
                F.round(F.col("score") + F.col("s_p"), SCORE_DECIMALS).alias("score"),
            )
        )
    only_p = sorted(set(parsed) - set(with_full))
    if only_p:
        parts.append(
            pr_scored.filter(isin("query_id", only_p)).select(
                "query_id", "doc_id",
                F.round(F.col("s_p"), SCORE_DECIMALS).alias("score"),
            )
        )
    matched = parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1])

    # ---- proximity side: slot relation (qid, slot, keys...) with one
    # dist per (slot, doc) = min over that slot's candidate keys
    # regular slots: adjacent full-word pairs (multiplicity preserved)
    reg_slots: list[tuple[int, int, str, int]] = []  # (qid, slot, key, mult)
    pfx_slots: list[tuple[int, int, str, str]] = []  # (qid, slot, word, prefix)
    base8: dict[int, int] = {}
    for qid, (full, p) in sorted(parsed.items()):
        slot = 0
        agg: dict[str, int] = {}
        for i in range(len(full) - 1):
            a, b = sorted((full[i], full[i + 1]))
            key = f"{a}{PAIR_SEP}{b}"
            agg[key] = agg.get(key, 0) + 1
        for key, m in sorted(agg.items()):
            reg_slots.append((qid, slot, key, m))
            slot += 1
        if full:
            pfx_slots.append((qid, slot, full[-1], p))
            slot += 1
        base8[qid] = ABSENT_COST * (
            sum(m for q2, _s, _k, m in reg_slots if q2 == qid)
            + (1 if full else 0)
        )
    dist_parts: list[DataFrame] = []
    if reg_slots:
        keys = sorted({k for _q, _s, k, _m in reg_slots})
        rows = (
            index.pair_segments(spark)
            .filter(isin("term", keys))
            .select("term", "n", "payload")
            .mapInPandas(_make_decode_pair_rows(index.payload_codec), _PAIR_ROWS_SCHEMA)
        )
        sdf = F.broadcast(
            spark.createDataFrame(
                reg_slots, "query_id int, slot int, pair string, mult int"
            )
        )
        dist_parts.append(
            rows.join(sdf, "pair").select(
                "query_id", "slot", "doc_id", "mult", F.col("dist").alias("d")
            )
        )
    if pfx_slots:
        ppd = index.prefix_pair_dict(spark)
        have: set[tuple[str, str]] = set()
        if ppd is not None:
            want = sorted({f"{w}{PAIR_SEP}{p}" for _q, _s, w, p in pfx_slots})
            got = {
                r["pair"]
                for r in ppd.filter(isin("pair", want)).select("pair").collect()
            }
            have = {
                (w, p) for _q, _s, w, p in pfx_slots if f"{w}{PAIR_SEP}{p}" in got
            }
        mat = [(q, s, w, p) for q, s, w, p in pfx_slots if (w, p) in have]
        miss = [(q, s, w, p) for q, s, w, p in pfx_slots if (w, p) not in have]
        if mat:
            keys = sorted({f"{w}{PAIR_SEP}{p}" for _q, _s, w, p in mat})
            rows = (
                index.prefix_pair_segments(spark)
                .filter(isin("term", keys))
                .select("term", "n", "payload")
                .mapInPandas(
                    _make_decode_pair_rows(index.payload_codec), _PAIR_ROWS_SCHEMA
                )
            )
            sdf = F.broadcast(
                spark.createDataFrame(
                    [(q, s, f"{w}{PAIR_SEP}{p}", 1) for q, s, w, p in mat],
                    "query_id int, slot int, pair string, mult int",
                )
            )
            dist_parts.append(
                rows.join(sdf, "pair").select(
                    "query_id", "slot", "doc_id", "mult", F.col("dist").alias("d")
                )
            )
        if miss:
            # expansion fallback: every full-word pair key (w, t) for
            # dictionary terms t with the prefix; min per (slot, doc)
            exp_rows: list[tuple[int, int, str, int]] = []
            for q, s, w, p in miss:
                terms = [
                    r["term"]
                    for r in index.term_dict(spark)
                    .filter(F.col("term").startswith(p))
                    .select("term")
                    .collect()
                ]
                for t in terms:
                    a, b = sorted((w, t))
                    exp_rows.append((q, s, f"{a}{PAIR_SEP}{b}", 1))
            if exp_rows:
                keys = sorted({k for _q, _s, k, _m in exp_rows})
                rows = (
                    index.pair_segments(spark)
                    .filter(isin("term", keys))
                    .select("term", "n", "payload")
                    .mapInPandas(
                        _make_decode_pair_rows(index.payload_codec),
                        _PAIR_ROWS_SCHEMA,
                    )
                )
                sdf = F.broadcast(
                    spark.createDataFrame(
                        exp_rows, "query_id int, slot int, pair string, mult int"
                    )
                )
                dist_parts.append(
                    rows.join(sdf, "pair")
                    .groupBy("query_id", "slot", "doc_id", "mult")
                    .agg(F.min("dist").alias("d"))
                )
    if dist_parts:
        dists = dist_parts[0]
        for dp in dist_parts[1:]:
            dists = dists.unionByName(dp)
        disc = (
            dists.groupBy("query_id", "doc_id")
            .agg(
                F.sum(
                    F.col("mult").cast("long") * (ABSENT_COST - F.col("d"))
                ).alias("disc")
            )
        )
    else:
        disc = _empty_result(spark, "query_id int, doc_id long, disc long")
    base_df = F.broadcast(
        spark.createDataFrame(sorted(base8.items()), "query_id int, base long")
    )
    costed = (
        matched.join(disc, ["query_id", "doc_id"], "left")
        .join(base_df, "query_id")
        .select(
            "query_id", "doc_id",
            (F.col("base") - F.coalesce(F.col("disc"), F.lit(0))).alias("proximity"),
            "score",
        )
    )
    return _rank_topk(
        costed, _n_queries(queries), int(k), _PROXIMITY_ORDER,
        ["query_id", "doc_id", "proximity", "score"],
    )


def sql_proximity_db_prefix_topk(queries: list[tuple[int, str]], k: int = 10) -> str:
    """DuckDB oracle for search_topk_proximity_db_prefix: conjunctive full
    terms + EXISTS-prefix-word match, per-slot min |position distance|
    (the prefix slot matches any token with the prefix, same-occurrence
    excluded), capped absent cost, score = round(round(full BM25 sum) +
    prefix-as-one-word part) — the engine's exact rounding composition."""
    from grenad_spark.functions.tokenize import TOKEN_SPLIT_RE, sql_term_doc_tf
    from grenad_spark.query.bm25 import B, K1, SCORE_DECIMALS

    parsed = _parse_prefix_queries(queries)
    if not parsed:
        return (
            "SELECT NULL::INT AS query_id, NULL::BIGINT AS doc_id, "
            "NULL::BIGINT AS proximity, NULL::DOUBLE AS score WHERE false"
        )
    ctes, unions = [], []
    for qid, (full, p) in sorted(parsed.items()):
        uniq = sorted(set(full))
        # prefix-as-one-word rows over ALL docs (collection stats)
        ctes.append(
            f"ppx{qid} AS (SELECT doc_id, sum(tf)::DOUBLE AS tf FROM tdt "
            f"WHERE starts_with(term, '{p}') GROUP BY doc_id)"
        )
        ctes.append(
            f"pdf{qid} AS (SELECT count(*)::DOUBLE AS df FROM ppx{qid})"
        )
        if uniq:
            in_list = ", ".join(f"'{t}'" for t in uniq)
            ctes.append(
                f"c{qid} AS (SELECT doc_id FROM tdt WHERE term IN ({in_list}) "
                f"GROUP BY doc_id HAVING count(DISTINCT term) = {len(uniq)})"
            )
            ctes.append(
                f"w{qid} AS (SELECT c.doc_id, round(sum("
                f"ln(1 + (cs.n_docs - ts.df + 0.5) / (ts.df + 0.5)) "
                f"* (tdt.tf * ({K1} + 1)) / (tdt.tf + {K1} * (1 - {B} + {B} * dl.dl / cs.avgdl))"
                f"), {SCORE_DECIMALS}) AS wsc "
                f"FROM c{qid} c JOIN tdt ON tdt.doc_id = c.doc_id AND tdt.term IN ({in_list}) "
                f"JOIN ts ON ts.term = tdt.term JOIN dl ON dl.doc_id = c.doc_id CROSS JOIN cs "
                f"GROUP BY c.doc_id)"
            )
            match_src = f"w{qid} JOIN ppx{qid} USING (doc_id)"
            wsc_expr = "wsc"
        else:
            match_src = f"ppx{qid}"
            wsc_expr = "0"
        costs, joins = [], []
        for i in range(len(full) - 1):
            ta, tb = full[i], full[i + 1]
            self_pair = " AND a.pos <> b.pos" if ta == tb else ""
            ctes.append(
                f"p{qid}_{i} AS (SELECT a.doc_id, min(abs(b.pos - a.pos))::BIGINT AS d "
                f"FROM pos a JOIN pos b ON b.doc_id = a.doc_id "
                f"WHERE a.term = '{ta}' AND b.term = '{tb}'{self_pair} "
                f"GROUP BY a.doc_id)"
            )
            costs.append(f"least(coalesce(p{qid}_{i}.d, {ABSENT_COST}), {ABSENT_COST})")
            joins.append(f"LEFT JOIN p{qid}_{i} USING (doc_id)")
        if full:
            ctes.append(
                f"pp{qid} AS (SELECT a.doc_id, min(abs(b.pos - a.pos))::BIGINT AS d "
                f"FROM pos a JOIN pos b ON b.doc_id = a.doc_id "
                f"WHERE a.term = '{full[-1]}' AND starts_with(b.term, '{p}') "
                f"AND b.pos <> a.pos GROUP BY a.doc_id)"
            )
            costs.append(f"least(coalesce(pp{qid}.d, {ABSENT_COST}), {ABSENT_COST})")
            joins.append(f"LEFT JOIN pp{qid} USING (doc_id)")
        prox = " + ".join(costs) if costs else "0"
        unions.append(
            f"SELECT {qid} AS query_id, doc_id, ({prox})::BIGINT AS proximity, "
            f"round({wsc_expr} + "
            f"ln(1 + (cs.n_docs - pdf{qid}.df + 0.5) / (pdf{qid}.df + 0.5)) "
            f"* (ppx{qid}.tf * ({K1} + 1)) / (ppx{qid}.tf + {K1} * (1 - {B} + {B} * dl.dl / cs.avgdl))"
            f", {SCORE_DECIMALS}) AS score "
            f"FROM {match_src} {' '.join(joins)} "
            f"JOIN dl USING (doc_id) CROSS JOIN cs CROSS JOIN pdf{qid}"
        )
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
{','.join(ctes)},
allm AS ({' UNION ALL '.join(unions)})
SELECT query_id, doc_id, proximity, score FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY proximity ASC, score DESC, doc_id ASC) AS rn
  FROM allm
) WHERE rn <= {int(k)}
"""
