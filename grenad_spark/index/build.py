"""Index build — grenad's Sorter/Writer pipeline as a Spark job.

Pipeline (reference trace src/sorter.rs:478-498 insert → :509-574 write_chunk
→ :576-634 merge_chunks → src/writer.rs:164-297 Writer):

  documents (doc_id, text)                     [scan: all other cols pruned]
    → tokenize to raw (term, doc_id, dl)       [explode, no pre-agg]
    → shard = doc_id * n_shards // n_docs      [global doc-range sharding]
    → repartition(term, shard) + local sort    [Sorter::insert + spill-sort]
    → mapInPandas run-length merge + encode    [Sorter::write_chunk: adjacent
                                                equal keys merge, delta+varbyte
                                                blocks with block-max metadata;
                                                shards are doc-disjoint so
                                                (shard, block_id) is already
                                                the global merge order]
    → repartitionByRange(term) + sortWithin    [Writer's sorted immutable run]
    → parquet segments + term_dict + manifest.json

Why doc-range sharding (not hash salting): one mechanism solves three
problems —
1. skew: a head term ("the" at web scale) splits into n_shards bounded
   groups, each ≤ docs_per_shard postings (grenad dump_threshold,
   src/sorter.rs:17-19);
2. distributed query: every shard holds a complete sub-index for its doc
   range, so block-max WAND runs shard-parallel with exact local top-k;
3. mergeability: shard outputs are doc-disjoint, so the final merge never
   decodes payloads — it only renumbers block rows (~1/128 of postings).

Doc lengths (dl) are embedded per posting, so query UDFs score BM25 with no
norms join — the posting stream is self-contained.

Checkpoint-resume: stages are skipped when their output exists (parquet
_SUCCESS). A killed build resumes from the last completed stage; the manifest
records per-file lineage + build metrics (north_rule).
"""

from __future__ import annotations

import json
import os
import time
from collections import OrderedDict
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pandas as pd

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from grenad_spark.functions import native
from grenad_spark.functions.literals import isin
from grenad_spark.functions.tokenize import term_doc_tf, tokens_col

SEGMENT_SCHEMA = (
    "term string, shard int, block_id int, n int, first_doc long, last_doc long, "
    "max_tf int, min_dl int, min_tf int, max_dl int, sum_tf long, payload binary"
)

# grenad dump_threshold analog: bounds postings per applyInPandas group
# (2M postings ≈ 48 MB decoded). Local tests use small corpora; bench lowers
# it to force multi-shard paths.
DEFAULT_DOCS_PER_SHARD = 2_000_000

# Row-group target (parquet.block.size: bytes of the writer's in-memory
# estimate) of the term-sorted block tables, segments and positions. Each
# row group is one of grenad's blocks: its footer min/max term range is the
# index block IndexHandle.row_groups holds, and a driver read opens only the
# groups whose range holds a query term. Picked by a sweep of one-query read
# time against index bytes on 2k- and 20k-doc zipfian indexes (4 cores):
# 512 KiB reads in 2.8 / 3.3 ms what one group read in 6.0 / 31.8 ms, for
# +3.9% / +4.7% index bytes; 256 KiB reads 0.7 ms faster at 2k docs but
# grows that index 6.1%.
ROW_GROUP_BYTES = 512 * 1024

# Footers (with their per-group term ranges) an IndexHandle keeps, for the
# files used last; every other file keeps only its [min, max] term range.
# A range-partitioned segments file covers a slice of the vocabulary, so a
# point read touches one or two of them (a positions file, a set of hash
# runs, covers all of it). The bound keeps driver memory flat however many
# files a table has.
FOOTERS_HELD = 64


def _ranges_holding(terms, lo, hi, stats):
    """Mask of the [lo, hi] ranges (object arrays of str) that hold one
    of the sorted `terms`; a range without statistics (stats False)
    always holds."""
    j = np.searchsorted(terms, lo)
    holds = j < len(terms)
    holds[holds] = terms[j[holds]] <= hi[holds]
    return ~stats | holds


def _done(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def write_term_sorted(df: DataFrame, path: str, compression: str | None = None) -> None:
    """Write a term-sorted block table (segments, positions) to `path` in
    row groups of ROW_GROUP_BYTES; Spark's default, 128 MB, makes one
    group of a whole file, and a one-term read then decodes all of it."""
    w = df.write.mode("overwrite").option("parquet.block.size", ROW_GROUP_BYTES)
    if compression is not None:
        w = w.option("compression", compression)
    w.parquet(path)


def write_vocab_table(df: DataFrame, path: str, compression: str = "zstd") -> None:
    """Write a vocabulary table (term_dict, term_deletes) to `path` with the
    build's codec (grenad compresses every block of its sorted files) in
    parquet v2 data pages. v2 lets the writer prefix-code a sorted string
    key whose dictionary does not pay (DELTA_BYTE_ARRAY: each delvar stores
    only what it does not share with the one before) and keeps
    RLE_DICTIONARY on a repeating one (term of term_deletes). Readers need
    nothing new: Spark, pyarrow and DuckDB read v2 pages."""
    (
        df.write.mode("overwrite")
        .option("compression", compression)
        .option("parquet.writer.version", "v2")
        .parquet(path)
    )


def parquet_rows(path: str) -> int:
    """Rows of the parquet table at `path`, summed from its file footers
    (no Spark job)."""
    import pyarrow.parquet as pq

    return sum(
        pq.read_metadata(os.path.join(path, f)).num_rows
        for f in os.listdir(path)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    )


# Live build progress — the Sorter::estimated_dumped_memory_usage analog
# (reference src/sorter.rs:460-468: callers poll how much the sorter would
# dump). Spark accumulators update as encode tasks COMPLETE, so a monitor
# thread can poll LAST_BUILD_PROGRESS[...]​.value mid-build for dumped bytes/
# postings so far. Standard accumulator caveat: task RETRIES double-count
# (at-least-once), which is fine for a progress estimate; the manifest
# records the authoritative totals recomputed from the written table.
LAST_BUILD_PROGRESS: dict = {}


def _make_encode_stream(
    payload_codec: str = "none",
    block_size: int | None = None,
    acc_bytes=None,
    acc_postings=None,
):
    def fn(batches):
        return _encode_partition_stream(
            batches, payload_codec, block_size, acc_bytes, acc_postings
        )
    return fn


def _partition_rows(batches) -> "pd.DataFrame | None":
    """One shuffle partition as one frame (None when it holds no rows)."""
    pdfs = list(batches)
    if not pdfs:
        return None
    pdf = pd.concat(pdfs, ignore_index=True) if len(pdfs) > 1 else pdfs[0]
    return pdf if len(pdf) else None


def _doc_runs(pdf: "pd.DataFrame"):
    """Merge a sorted (term, shard, doc_id[, tf]) partition into postings.

    Returns (first, group_start, tf): the row index of each (term, shard,
    doc) run's first row, True where that run opens a new (term, shard)
    group, and the run's tf — its length for a raw occurrence stream, or
    the sum of an input tf column (compaction feeds pre-aggregated rows).
    One boundary mask, NOT np.unique: unique re-sorts what the upstream
    sortWithinPartitions already ordered. A doc-order drop inside a group
    cannot slip through: it leaves a smaller doc after a larger one, which
    encode_blocks' key-order check rejects."""
    import numpy as np

    terms = pdf["term"].to_numpy()
    shards = pdf["shard"].to_numpy()
    doc = pdf["doc_id"].to_numpy()
    new_group = np.ones(len(pdf), dtype=bool)
    new_group[1:] = (terms[1:] != terms[:-1]) | (shards[1:] != shards[:-1])
    run = new_group.copy()
    run[1:] |= doc[1:] != doc[:-1]
    first = np.flatnonzero(run)
    if "tf" in pdf.columns:
        tf = np.add.reduceat(pdf["tf"].to_numpy(), first)
    else:
        tf = np.diff(np.append(first, len(pdf)))
    return first, new_group[first], tf


def _encode_partition_stream(
    batches,
    payload_codec: str = "none",
    block_size: int | None = None,
    acc_bytes=None,
    acc_postings=None,
) -> "pd.DataFrame":
    """Sorter::write_chunk analog, partition-at-a-time.

    Input: Arrow batches of one shuffle partition of the RAW token stream
    (term, shard, doc_id, dl) — one row per token OCCURRENCE, pre-sorted by
    (term, shard, doc_id) — or of pre-aggregated rows with a tf column.
    Duplicate (term, doc) rows are adjacent after the sort, so tf is a run
    length — exactly grenad's group-adjacent-equal-keys merge during
    write_chunk (src/sorter.rs:541-561). The whole partition then encodes
    in ONE vectorized encode_blocks call: Python touches the partition, not
    each (term, shard) group or row, so a zipfian vocabulary of 1-3-posting
    groups costs no per-group call. block_id is local to (term, shard):
    shards are doc-range disjoint and ascending, so (shard, block_id) is
    already the global doc order — no cross-group renumbering pass.

    Memory: the partition frame (the concat of its batches) plus O(1)
    NumPy columns per row or posting — the same partition-sized bound as
    the frame itself.
    """
    from grenad_spark.functions.varbyte import BLOCK_SIZE, encode_blocks

    pdf = _partition_rows(batches)
    if pdf is None:
        return
    first, group_start, tf = _doc_runs(pdf)
    blocks = encode_blocks(
        pdf["doc_id"].to_numpy()[first], tf, pdf["dl"].to_numpy()[first],
        group_start, block_size or BLOCK_SIZE, payload_codec=payload_codec,
    )
    row = first[blocks.pop("start")]
    out = pd.DataFrame(
        {
            "term": pdf["term"].to_numpy()[row],
            "shard": pdf["shard"].to_numpy()[row],
            **blocks,
        }
    )
    if acc_bytes is not None:
        acc_bytes.add(int(sum(map(len, out["payload"]))))
        acc_postings.add(int(out["n"].sum()))
    yield out


def tokens_with_dl(docs: DataFrame, tokens_fn=None) -> DataFrame:
    """(term, doc_id, dl, tf) aggregated token stream — one row per
    (term, doc) with its term frequency.

    tf is computed INSIDE one JVM projection (array_sort + run-length over
    the per-doc token array), not with a groupBy: duplicate (term, doc) rows
    only ever exist within a single document, so the per-doc reduction IS
    the global aggregation and the groupBy's full shuffle of the aggregated
    stream is pure overhead (guide §2.4 — measured 8.9 → 7.9 s for the whole
    segments pipeline at 640k docs; plan goes 2 exchanges → 1). The encoder
    still accepts raw streams (tf column optional) for callers like
    compaction.

    The token array is materialized in a projection BELOW the explode so the
    regex split runs once per document; putting size(split(...)) in the same
    select as the explode would re-evaluate it once per exploded row (a ~50×
    regex blow-up measured at sf0.1×16).
    """
    tk = tokens_fn or tokens_col
    toks = docs.select("doc_id", tk("text").alias("toks"))
    srt = toks.select(
        "doc_id", F.size("toks").alias("dl"), F.array_sort("toks").alias("ts")
    )
    # st[j] = 1-based index of each run start in the sorted token array;
    # tf of run j = next run's start − this run's start.
    # transform(a, (x, i) -> i + 1) is 1..size(a), and empty for an empty or
    # punctuation-only document, where sequence(1, 0) would be [1, 0] and
    # index out of bounds
    stage = srt.select(
        "doc_id",
        "dl",
        "ts",
        F.expr(
            "filter(transform(ts, (x, i) -> i + 1),"
            " i -> i = 1 OR ts[i-1] != ts[i-2])"
        ).alias("st"),
    )
    pairs = stage.select(
        "doc_id",
        "dl",
        F.explode(
            F.expr(
                "transform(transform(st, (x, i) -> i + 1), j -> struct("
                "ts[st[j-1]-1] AS term, "
                "CAST((CASE WHEN j = size(st) THEN size(ts)+1 ELSE st[j] END)"
                " - st[j-1] AS INT) AS tf))"
            )
        ).alias("p"),
    )
    return pairs.select(
        F.col("p.term").alias("term"), "doc_id", "dl", F.col("p.tf").alias("tf")
    )


def build_segments(
    token_stream: DataFrame,
    n_docs: int,
    n_shards: int,
    partitions: int | None = None,
    payload_codec: str = "none",
    block_size: int | None = None,
    track_progress: bool = False,
) -> DataFrame:
    """(term, doc_id, dl) raw token stream -> segment block rows.

    ONE hash shuffle on (term, shard) + partition-local sort + streaming
    run-length-merge encode. Partition memory is bounded by rows/partitions
    (config), group memory by docs_per_shard — grenad's dump_threshold twice
    over. No window/renumber pass: (shard, block_id) is globally doc-ordered
    because shards are doc-range disjoint (the src/merger.rs:51-57
    deterministic merge order by construction).
    """
    # integer floor division (BIGINT DIV): double division would lose
    # precision past 2^53 (~10^12 docs × 5e5 shards at the SCALE.md design
    # point) and silently shift shard boundaries
    sharded = token_stream.withColumn(
        "shard",
        F.expr(
            f"CAST((doc_id * CAST({int(n_shards)} AS BIGINT)) DIV "
            f"CAST({int(n_docs)} AS BIGINT) AS INT)"
        ),
    )
    if partitions is None:
        partitions = sharded.sparkSession.sparkContext.defaultParallelism
    acc_b = acc_p = None
    if track_progress:
        sc = sharded.sparkSession.sparkContext
        acc_b = sc.accumulator(0)
        acc_p = sc.accumulator(0)
        LAST_BUILD_PROGRESS["encoded_payload_bytes"] = acc_b
        LAST_BUILD_PROGRESS["encoded_postings"] = acc_p
    return (
        sharded.repartition(partitions, "term", "shard")
        .sortWithinPartitions("term", "shard", "doc_id")
        .mapInPandas(
            _make_encode_stream(payload_codec, block_size, acc_b, acc_p),
            SEGMENT_SCHEMA,
        )
    )


def term_dict_from_segments(segments: DataFrame) -> DataFrame:
    """(term, df, cf, n_blocks, max_tf) — grenad's index footer as a table."""
    return segments.groupBy("term").agg(
        F.sum("n").cast("long").alias("df"),
        F.sum("sum_tf").cast("long").alias("cf"),
        F.count("*").cast("int").alias("n_blocks"),
        F.max("max_tf").cast("int").alias("max_tf"),
    )


def build_index(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    *,
    partitions: int | None = None,
    docs_per_shard: int = DEFAULT_DOCS_PER_SHARD,
    n_shards: int | None = None,
    overwrite: bool = False,
    compression: str = "zstd",
    payload_codec: str = "none",
    payload_codec_level: int | None = None,
    block_size: int | None = None,
    tokenizer=None,
) -> "IndexHandle":
    """Run the full build; resumable per-stage. docs needs (doc_id, text).
    tokenizer = optional functions/toksettings.TokenizerSettings: its
    tokens_col replaces the default tokenizer in BOTH tokenizing stages
    (doc lengths + segment stream) and its tag is recorded in the manifest
    so a resume can never silently mix token streams.
    block_size = postings per block (grenad WriterBuilder::block_size analog;
    default BLOCK_SIZE=128). payload_codec_level = grenad
    WriterBuilder::compression_level (src/writer.rs:46-52): honored for
    zlib/zstd/lz4, ignored for snappy/none (see functions/varbyte.py);
    recorded in the manifest as the "name:level" codec string so compaction
    and readers inherit it."""
    from grenad_spark.functions.varbyte import split_codec

    if payload_codec_level is not None:
        if ":" in payload_codec:
            raise ValueError(
                "pass the level either inside payload_codec ('zstd:19') or "
                "via payload_codec_level, not both"
            )
        payload_codec = f"{payload_codec}:{payload_codec_level}"
    split_codec(payload_codec)  # fail fast on the driver, not inside a UDF
    t0 = time.time()
    # AQE off for the build: every partitioning here is explicit (repartition
    # on (term, shard), range write), so adaptive re-planning only inserts
    # query-stage materialization barriers — measured +8.5s fixed overhead at
    # 16 cores on a 640k-doc build. Restored on exit for query workloads,
    # where AQE (skew joins, coalescing) genuinely helps.
    aqe_before = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        return _build_index_inner(
            spark, docs, out_dir, t0,
            partitions=partitions, docs_per_shard=docs_per_shard,
            n_shards=n_shards, overwrite=overwrite, compression=compression,
            payload_codec=payload_codec, block_size=block_size,
            tokenizer=tokenizer,
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe_before)


def _build_index_inner(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    t0: float,
    *,
    partitions: int | None,
    docs_per_shard: int,
    n_shards: int | None,
    overwrite: bool,
    compression: str,
    payload_codec: str,
    block_size: int | None = None,
    tokenizer=None,
) -> "IndexHandle":
    tokens_fn = tokenizer.tokens_col if tokenizer is not None else None
    if overwrite and os.path.exists(out_dir):
        import shutil

        shutil.rmtree(out_dir)
    os.makedirs(out_dir, exist_ok=True)
    seg_path = os.path.join(out_dir, "segments")
    dict_path = os.path.join(out_dir, "term_dict")
    stats_path = os.path.join(out_dir, "corpus_stats")
    docs_path = os.path.join(out_dir, "docs")
    manifest_path = os.path.join(out_dir, "manifest.json")
    # fully-built index: the manifest is the LAST artifact written, so its
    # presence (plus EVERY stage's _SUCCESS, the typo table included)
    # means resume has nothing to do — return the handle without launching a
    # single Spark job. An index missing the typo table (built before
    # term_deletes existed) falls through to the per-stage guards below and
    # gets upgraded in place. The bigram typo table older builds wrote is
    # ignored.
    if os.path.exists(manifest_path) and all(
        _done(p)
        for p in (
            docs_path, stats_path, seg_path, dict_path,
            os.path.join(out_dir, "term_deletes"),
        )
    ):
        return IndexHandle(out_dir)
    partitions = partitions or spark.sparkContext.defaultParallelism
    docs = docs.select("doc_id", "text")
    # Pre-shuffle parallelism guard: a narrow input (single parquet file,
    # small cached table) would run the tokenize+explode map side on 1-2
    # tasks. At cluster scale the scan has thousands of splits and this is a
    # no-op; locally it redistributes before the heavy map work.
    if docs.rdd.getNumPartitions() < max(2, partitions // 2):
        docs = docs.repartition(partitions)

    stage_secs: dict[str, float] = {}

    # stage 1: doc membership table (doc_id, dl) — BM25 norms + the
    # "which docs does this generation contain" record that compaction's
    # newest-generation-wins tombstone semantics require. The ONLY stage that
    # tokenizes besides the segment build itself.
    #
    # OVERLAP (guide §2.6): the segments stage below only depends on the
    # STATS (n_docs/avgdl/max_doc for shard geometry), not on the docs
    # parquet — so tokenize once into a small cached (doc_id, dl) table,
    # grab the stats from it directly, and let the docs + corpus_stats
    # WRITES run from a background thread while the segments pipeline
    # already tokenizes: the 2-3 s docs write hides behind the segment
    # stage's map work. Per-stage _SUCCESS guards keep resume semantics —
    # a crash mid-overlap just re-runs the unfinished stage.
    docs_write_fut = None
    dl_cached = None
    if _done(docs_path) and not _done(stats_path):
        # resume path: docs written, stats missing — derive stats from the
        # parquet instead of re-tokenizing
        ts = time.time()
        spark.read.parquet(docs_path).select(
            F.count("*").cast("long").alias("n_docs"),
            F.avg("dl").alias("avgdl"),
            F.max("doc_id").cast("long").alias("max_doc"),
        ).coalesce(1).write.mode("overwrite").parquet(stats_path)
        stage_secs["corpus_stats"] = time.time() - ts
    if not _done(docs_path):
        ts = time.time()
        from pyspark.storagelevel import StorageLevel

        from grenad_spark.index.stats import doc_lengths

        dl_cached = doc_lengths(docs, tokens_fn=tokens_fn).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        st = dl_cached.select(
            F.count("*").cast("long").alias("n_docs"),
            F.avg("dl").alias("avgdl"),
            F.max("doc_id").cast("long").alias("max_doc"),
        ).first()
        stage_secs["docs_stats"] = time.time() - ts

        def _write_docs_and_stats():
            if not _done(docs_path):
                # no repartition (an exchange to few partitions made this
                # stage serialize on 8 writer tasks), but a narrow coalesce
                # to partitions//4 files: 4x fewer files for every reader
                # that re-scans the docs table (guide §6)
                dl_cached.coalesce(
                    max(1, partitions // 4)
                ).write.mode("overwrite").parquet(docs_path)
            if not _done(stats_path):
                spark.createDataFrame(
                    [(int(st["n_docs"]), float(st["avgdl"]), int(st["max_doc"]))],
                    "n_docs long, avgdl double, max_doc long",
                ).coalesce(1).write.mode("overwrite").parquet(stats_path)

        _docs_pool = ThreadPoolExecutor(max_workers=1)
        docs_write_fut = _docs_pool.submit(
            inheritable_thread_target(spark)(_write_docs_and_stats)
        )
        stage_secs["docs"] = 0.0  # overlapped; settled when the future joins
    else:
        st = spark.read.parquet(stats_path).first()
    n_docs, avgdl, max_doc = st["n_docs"], st["avgdl"], st["max_doc"]
    if n_shards is None:
        # docs_per_shard is a MEMORY bound (grenad dump_threshold), not a
        # layout target: a mid-size corpus would otherwise get 1-2 giant
        # shards and serving parallelism collapses (measured 15.3 s vs 1.4 s
        # for the same 12-query batch at 2 vs 128 shards). Floor the count
        # at the session's core count — shards are doc-disjoint so more of
        # them is always correct, groups only get SMALLER, and the query
        # side coalesces consecutive shards back to ~core-count groups.
        by_mem = -(-(max_doc + 1) // docs_per_shard)
        par_floor = min(
            spark.sparkContext.defaultParallelism, max(1, (max_doc + 1) // 64)
        )
        n_shards = max(1, by_mem, par_floor)
    doc_space = max_doc + 1

    # stage 3b: SymSpell-style deletion-variant table — (delvar, term) for
    # every variant reachable by deleting ≤ MAX_DELETES chars, the one typo
    # index. Serves fuzzy expansion WITHOUT any vocabulary scan: if
    # lev(q, t) ≤ d then deleting ≤ d chars from each reaches a common
    # string (each edit contributes at most one deletion per side), so
    # candidates = delvar-equi-join of the two sides' deletion neighborhoods,
    # then an exact levenshtein filter. The query side's neighborhood is
    # driver-tiny; this table is the vocabulary side, precomputed once.
    deletes_path = os.path.join(out_dir, "term_deletes")

    def _vocab_writes(vocab) -> list:
        """The writes of the vocabulary tables not yet done, each from the
        one (term, df, cf, n_blocks, max_tf) frame `vocab`: the typo table
        neither waits for nor re-reads term_dict."""
        out = []
        if not _done(dict_path):
            out.append(lambda: write_vocab_table(
                vocab.repartitionByRange(max(1, partitions // 8), "term")
                .sortWithinPartitions("term"),
                dict_path,
                compression,
            ))
        if not _done(deletes_path):
            out.append(lambda: write_term_deletes(
                vocab, deletes_path, max(1, partitions // 8), compression
            ))
        return out

    # authoritative dumped-bytes/postings totals for the manifest (the live
    # accumulators in LAST_BUILD_PROGRESS show the same numbers mid-build; a
    # resumed build's accumulators would be partial, so the manifest
    # recomputes from the block-row table — one column-pruned agg)
    def _enc_agg(seg_df):
        return seg_df.agg(
            F.sum("n").cast("long").alias("p"),
            F.sum(F.length("payload")).cast("long").alias("b"),
        ).first()

    enc = None
    try:
        # stage 2: segments (the wide shuffle + encode)
        if not _done(seg_path):
            ts = time.time()
            segments = build_segments(
                tokens_with_dl(docs, tokens_fn=tokens_fn), doc_space, n_shards,
                partitions, payload_codec, block_size, track_progress=True,
            )
            # Materialize block rows before the range write:
            # repartitionByRange SAMPLES its child to pick boundaries, which
            # would re-run the whole tokenize→shuffle→encode pipeline a second
            # time. Block rows are ~1/100 of the token stream (varbyte-packed),
            # so caching them costs far less than the recompute; on a real
            # cluster this is a staging write. MEMORY_AND_DISK: spill, don't
            # recompute.
            from pyspark.storagelevel import StorageLevel

            segments = segments.persist(StorageLevel.MEMORY_AND_DISK)
            # one count materializes the cache (the expensive pipeline runs
            # exactly once); every downstream job below reads the cached
            # rows
            segments.count()
            stage_secs["segments_encode"] = time.time() - ts
            ts = time.time()

            # The range write, the two vocabulary tables and the manifest
            # accounting agg are mutually independent consumers of the
            # cached block rows — run them concurrently so the
            # vocabulary-sized jobs hide behind the segment write's tail
            # (driver threads submitting jobs; FIFO scheduling back-fills).
            # The vocabulary is aggregated once and held, and term_dict and
            # term_deletes are both written from it.
            def _seg_write():
                # storage codec = grenad's per-block compression_type
                # (src/compression.rs:9-28) at the parquet layer; posting
                # payloads are additionally varbyte-packed inside the blocks.
                # partitions//4 output files, not `partitions`: block rows
                # are ~1/100 of the token stream, and every serving query
                # pays a per-file open/footer cost on the pruned scan
                # (measured ~3 ms × 64 files = most of a single query's
                # 226 ms scan time at sf0.1×128; 16 larger files cut it ~4×).
                # The same ratio holds at cluster scale: scan partitions are
                # sized by bytes, so fewer-but-larger segment files only
                # reduce footer overhead.
                write_term_sorted(
                    segments.repartitionByRange(
                        max(1, partitions // 4), "term", "shard", "block_id"
                    ).sortWithinPartitions("term", "shard", "block_id"),
                    seg_path,
                    compression,
                )

            vocab = term_dict_from_segments(segments).persist(
                StorageLevel.MEMORY_AND_DISK
            )
            # each job runs under the caller's job description and group:
            # a pool thread starts with no Spark local properties
            jobs = [_seg_write, *_vocab_writes(vocab), lambda: _enc_agg(segments)]
            try:
                with ThreadPoolExecutor(max_workers=len(jobs)) as pool:
                    futs = [pool.submit(inheritable_thread_target(spark)(j)) for j in jobs]
                    for f in futs[:-1]:
                        f.result()
                    enc = futs[-1].result()
            finally:
                vocab.unpersist()
                segments.unpersist()
            stage_secs["segments_finalize"] = time.time() - ts
    finally:
        if docs_write_fut is not None:
            # join the overlapped docs/stats writes on every path, so a
            # failed segments stage leaves no writer thread or cached table
            # behind; the recorded time is only the non-hidden tail (usually
            # ~0 — the write finished while the segments pipeline ran)
            ts = time.time()
            _docs_pool.shutdown(wait=True)
            dl_cached.unpersist()
            stage_secs["docs"] = round(time.time() - ts, 3)
    if docs_write_fut is not None:
        docs_write_fut.result()  # raise a failed docs/stats write
    # stage 3 (resume path): the vocabulary tables not yet written when
    # stage 2 was already complete, from the written term_dict or, without
    # one, from the written segments
    if not (_done(dict_path) and _done(deletes_path)):
        ts = time.time()
        vocab = (
            spark.read.parquet(dict_path) if _done(dict_path)
            else term_dict_from_segments(spark.read.parquet(seg_path))
        )
        for w in _vocab_writes(vocab):
            w()
        stage_secs["term_vocab"] = time.time() - ts

    # stage 4: manifest — per-file lineage + metrics (north_rule); the
    # grenad metadata footer (src/metadata.rs:105-115) of this index.
    if not os.path.exists(manifest_path):
        # vocabulary size: summed from term_dict's file footers, no Spark
        # job — lets df_map() gate on the manifest with no count job per
        # handle
        n_terms = parquet_rows(dict_path)
        files = [
            {"file": f, "bytes": os.path.getsize(os.path.join(seg_path, f))}
            for f in sorted(os.listdir(seg_path))
            if f.endswith(".parquet")
        ]
        if enc is None:
            # a resumed build: from the written block rows (a read of a
            # parquet directory costs a schema job, so only here)
            enc = _enc_agg(spark.read.parquet(seg_path))
        manifest = {
            "format_version": CURRENT_FORMAT_VERSION,
            "built_at_unix": int(t0),
            "n_docs": int(n_docs),
            "avgdl": float(avgdl),
            "max_doc": int(max_doc),
            "n_terms": int(n_terms),
            "n_shards": int(n_shards),
            "docs_per_shard": docs_per_shard,
            "payload_codec": payload_codec,
            "block_size": block_size,
            "partitions": partitions,
            "stage_seconds": {k: round(v, 3) for k, v in stage_secs.items()},
            "build_seconds": round(time.time() - t0, 3),
            "encoded_postings": int(enc["p"] or 0),
            "encoded_payload_bytes": int(enc["b"] or 0),
            "segment_files": files,
        }
        if tokenizer is not None:
            manifest["tokenizer_tag"] = tokenizer.tag()
        with open(manifest_path, "w") as fh:
            json.dump(manifest, fh, indent=1)
    return IndexHandle(out_dir)


# deletion-variant depth of the persisted SymSpell table (supports fuzzy
# expansion up to max_edits == MAX_DELETES without a vocabulary scan)
MAX_DELETES = 2


def term_delete_rows(vocab: DataFrame) -> DataFrame:
    """(term, delvar) SymSpell deletion rows of a (term, …) vocabulary: every
    string reachable from a term by deleting ≤ MAX_DELETES characters
    (including the term itself at 0 deletions), distinct. 100% JVM-side and
    row-local: each term's variants are built as arrays (two transform +
    substring passes), de-duplicated with array_distinct and exploded.
    Every duplicate (term, delvar) pair comes from one term's own row, so
    this is the global distinct with no exchange. ~1 + L + L(L-1)/2 rows
    per term of length L (≈40 rows at L=8)."""

    def deletions(s: str) -> str:
        # one deletion at each position i ∈ [1, L] (SQL substring is 1-based)
        return (
            f"transform(sequence(1, length({s})), i -> "
            f"concat(substring({s}, 1, i - 1), substring({s}, i + 1)))"
        )

    d1 = vocab.select("term", F.expr(deletions("term")).alias("d1"))
    # two deletions: delete again from each non-empty 1-deletion variant (a
    # one-character term still emits "" at one deletion)
    return d1.select(
        "term",
        F.explode(
            F.expr(
                "array_distinct(concat(array(term), d1, flatten(transform("
                f"filter(d1, x -> length(x) > 0), x -> {deletions('x')}))))"
            )
        ).alias("delvar"),
    )


def write_term_deletes(
    vocab: DataFrame, out_path: str, partitions: int, compression: str = "zstd"
) -> None:
    """Persist term_delete_rows of a (term, …) vocabulary, range-partitioned
    on delvar so the query side's delvar IN (…) prunes files, and sorted on
    (delvar, term) so write_vocab_table prefix-codes delvar."""
    write_vocab_table(
        term_delete_rows(vocab)
        .repartitionByRange(partitions, "delvar")
        .sortWithinPartitions("delvar", "term"),
        out_path,
        compression,
    )


# Manifest format versions this engine can open (the src/metadata.rs:39-91
# version-dispatch analog; grenad 0.5 reads 0.4 files, src/writer.rs:373-413):
#   0 — pre-codec manifests: no payload_codec key (implied "none")
#   1 — payload_codec recorded explicitly
#   2 — current: segment blocks carry min_tf/max_dl lower-bound metadata
#       (pre-shuffle pruning); v0/v1 indexes open fine, serving just skips
#       the metadata prune pass for them
SUPPORTED_FORMAT_VERSIONS = (0, 1, 2)
CURRENT_FORMAT_VERSION = 2


class IndexHandle:
    """Open index: lazy accessors over the persisted tables (Reader::new
    analog, src/reader/mod.rs:22-26 — the manifest is the metadata footer)."""

    def __init__(self, path: str):
        self.path = path
        self._dfs: dict[str, DataFrame] = {}
        self._term_files: dict[str, tuple] = {}
        self._footers: OrderedDict[str, tuple] = OrderedDict()
        self._df_memo: dict[str, int | None] = {}
        with open(os.path.join(path, "manifest.json")) as fh:
            self.manifest = json.load(fh)
        self.format_version: int = int(self.manifest.get("format_version", 0))
        if self.format_version not in SUPPORTED_FORMAT_VERSIONS:
            from grenad_spark.errors import InvalidFormatVersion

            raise InvalidFormatVersion(
                f"index at {path} has format_version {self.format_version}; "
                f"this engine reads {SUPPORTED_FORMAT_VERSIONS}"
            )
        self.n_docs: int = self.manifest["n_docs"]
        self.avgdl: float = self.manifest["avgdl"]
        self.n_shards: int = self.manifest["n_shards"]
        if self.format_version == 0:
            # v0 predates payload codecs: payloads are always raw varbyte
            self.payload_codec: str = "none"
        else:
            self.payload_codec = self.manifest.get("payload_codec", "none")
        # load (and on a cold cache compile) the native codec now: one-group
        # calls decode on the driver, and gcc must not run inside one
        native.lib()

    def _table(self, spark: SparkSession, name: str) -> DataFrame:
        # memoized per (session, table): reusing the DataFrame keeps the
        # resolved file index (listing + schema) across queries — repeated
        # single-query serving otherwise re-lists the segment files each time
        key = f"{id(spark)}:{name}"
        if key not in self._dfs:
            self._dfs[key] = spark.read.parquet(os.path.join(self.path, name))
        return self._dfs[key]

    def segments(self, spark: SparkSession) -> DataFrame:
        return self._table(spark, "segments")

    def row_groups(self, name: str, terms: list[str]) -> tuple:
        """(arrow schema, [(file, footer, groups)]) of the table `name`
        (segments, positions): every file with a row group whose footer
        [min, max] term range holds one of the sorted `terms`, and those
        groups. This is grenad's index block; it lets a driver read open
        only the groups that can hold a query term. The first call reads
        every footer once and keeps one [min, max] range per file. A
        file's footer and per-group ranges stay held only for the
        FOOTERS_HELD files used last, and are read again when a term
        falls in the range of a file no longer held. A file or group
        without term statistics always holds."""
        if name not in self._term_files:
            d = os.path.join(self.path, name)
            schema, paths, lo, hi, stats = None, [], [], [], []
            for f in sorted(os.listdir(d)):
                if f.startswith(("_", ".")):
                    continue
                path = os.path.join(d, f)
                md, glo, ghi, gstats = self._footer(path)
                if schema is None:
                    schema = md.schema.to_arrow_schema()
                if md.num_row_groups:
                    # a file's range: its groups' lowest min and highest
                    # max, or none if a group lacks statistics
                    paths.append(path)
                    stats.append(gstats.all())
                    lo.append(glo.min() if stats[-1] else "")
                    hi.append(ghi.max() if stats[-1] else "")
            self._term_files[name] = (
                schema,
                paths,
                np.array(lo, dtype=object),
                np.array(hi, dtype=object),
                np.array(stats, dtype=bool),
            )
        schema, paths, lo, hi, stats = self._term_files[name]
        want = np.array(terms, dtype=object)
        files = []
        for i in np.flatnonzero(_ranges_holding(want, lo, hi, stats)):
            md, glo, ghi, gstats = self._footer(paths[i])
            groups = np.flatnonzero(_ranges_holding(want, glo, ghi, gstats))
            if groups.size:
                files.append((paths[i], md, groups.tolist()))
        return schema, files

    def _footer(self, path: str) -> tuple:
        """(footer, min terms, max terms, has statistics) of the parquet
        file at `path`, one array entry per row group; held for the
        FOOTERS_HELD files used last."""
        held = self._footers.pop(path, None)
        if held is None:
            import pyarrow.parquet as pq

            md = pq.read_metadata(path)
            col = md.schema.names.index("term")
            st = [md.row_group(i).column(col).statistics for i in range(md.num_row_groups)]
            stats = np.array([s is not None and s.has_min_max for s in st], dtype=bool)
            held = (
                md,
                np.array([s.min if ok else "" for s, ok in zip(st, stats)], dtype=object),
                np.array([s.max if ok else "" for s, ok in zip(st, stats)], dtype=object),
                stats,
            )
        self._footers[path] = held
        if len(self._footers) > FOOTERS_HELD:
            self._footers.popitem(last=False)
        return held

    def term_dict(self, spark: SparkSession) -> DataFrame:
        return self._table(spark, "term_dict")

    def docs(self, spark: SparkSession) -> DataFrame:
        """(doc_id, dl) membership/norms table."""
        return self._table(spark, "docs")

    def positions(self, spark: SparkSession) -> DataFrame:
        """(term, shard, block_id, n, first_doc, last_doc, header, positions)
        positional blocks (index/positions.py — the Meilisearch
        word-position-database layer). Raises if the table was never built;
        call build_positions(spark, docs, index_dir) to add it."""
        p = os.path.join(self.path, "positions")
        if not _done(p):
            raise FileNotFoundError(
                f"index at {self.path} has no positions table — "
                f"build_positions() adds it (needs the original docs)"
            )
        return self._table(spark, "positions")

    def has_positions(self) -> bool:
        return _done(os.path.join(self.path, "positions"))

    def prefix_segments(self, spark: SparkSession) -> DataFrame:
        """Materialized prefix posting blocks (index/prefix.py — the
        Meilisearch word_prefix_docids analog; same SEGMENT_SCHEMA with the
        prefix in the term column). Raises if the stage never ran."""
        p = os.path.join(self.path, "prefix_postings")
        if not _done(p):
            raise FileNotFoundError(
                f"index at {self.path} has no prefix_postings table — "
                f"build_prefix_postings() adds it (needs the original docs)"
            )
        return self._table(spark, "prefix_postings")

    def prefix_dict(self, spark: SparkSession) -> DataFrame | None:
        """(prefix, df, cf, n_blocks, max_tf) footer stats of the
        materialized prefixes; None when the stage never ran (serving then
        expands every prefix against term_dict — correct, just fan-out)."""
        p = os.path.join(self.path, "prefix_dict")
        if _done(p):
            return self._table(spark, "prefix_dict")
        return None

    def has_prefix_postings(self) -> bool:
        return _done(os.path.join(self.path, "prefix_postings")) and _done(
            os.path.join(self.path, "prefix_dict")
        )

    def pair_segments(self, spark: SparkSession) -> DataFrame:
        """Materialized pair-proximity posting blocks (index/pairprox.py —
        the Meilisearch word_pair_proximity_docids analog; SEGMENT_SCHEMA
        with the canonical 'a b' pair in the term column and the min token
        distance riding tf). Raises if the stage never ran."""
        p = os.path.join(self.path, "pair_proximity")
        if not _done(p):
            raise FileNotFoundError(
                f"index at {self.path} has no pair_proximity table — "
                f"build_pair_proximity() adds it (needs the original docs)"
            )
        return self._table(spark, "pair_proximity")

    def pair_dict(self, spark: SparkSession) -> DataFrame | None:
        """(pair, df, cf, n_blocks, max_tf) footer stats of the materialized
        pairs; None when the stage never ran."""
        p = os.path.join(self.path, "pair_dict")
        if _done(p):
            return self._table(spark, "pair_dict")
        return None

    def has_pair_proximity(self) -> bool:
        return _done(os.path.join(self.path, "pair_proximity")) and _done(
            os.path.join(self.path, "pair_dict")
        )

    def prefix_pair_segments(self, spark: SparkSession) -> DataFrame:
        """Materialized (word, prefix) pair-proximity blocks (index/
        pairprox.py — the Meilisearch word_prefix_pair_proximity_docids
        analog; SEGMENT_SCHEMA with 'word prefix' in the term column and
        the min token distance riding tf). Raises if the stage never ran."""
        p = os.path.join(self.path, "prefix_pair_proximity")
        if not _done(p):
            raise FileNotFoundError(
                f"index at {self.path} has no prefix_pair_proximity table — "
                f"build_prefix_pair_proximity() adds it (needs the original docs)"
            )
        return self._table(spark, "prefix_pair_proximity")

    def prefix_pair_dict(self, spark: SparkSession) -> DataFrame | None:
        """(pair, df, cf, n_blocks, max_tf) footer stats of the materialized
        (word, prefix) pairs; None when the stage never ran (the prefix
        slot then expands against term_dict + the full-word pair DB)."""
        p = os.path.join(self.path, "prefix_pair_dict")
        if _done(p):
            return self._table(spark, "prefix_pair_dict")
        return None

    def has_prefix_pair_proximity(self) -> bool:
        return _done(os.path.join(self.path, "prefix_pair_proximity")) and _done(
            os.path.join(self.path, "prefix_pair_dict")
        )

    def term_deletes(self, spark: SparkSession) -> DataFrame:
        """(delvar, term) SymSpell deletion table, the typo index (fuzzy
        expansion via delvar equi-join — no vocabulary scan). Indexes built
        before this table existed derive the same rows from term_dict on the
        fly — correct, but a full-vocab explode per use; a resume
        build_index persists it."""
        if _done(os.path.join(self.path, "term_deletes")):
            return self._table(spark, "term_deletes")
        return term_delete_rows(self.term_dict(spark))

    # ---- user-facing search API (what a reference user calls after the
    # switch; thin delegates to query/search.py so the handle is the one
    # object to hold) ------------------------------------------------------

    def search(self, spark: SparkSession, queries, k: int = 10, mode: str = "wand") -> DataFrame:
        """Top-k BM25. mode: 'wand' (single-pass serving) | 'wand_pruned'
        (two-pass metadata prune — shuffle ∝ surviving blocks; best when
        pruning bites, e.g. zipfian corpora) | 'exhaustive' (the oracle
        kernel: scores every posting)."""
        from grenad_spark.query.search import search_topk

        return search_topk(spark, self, queries, k=k, mode=mode)

    def search_batch(self, spark: SparkSession, queries, k: int = 10) -> DataFrame:
        """Decode-once-score-many batch serving (best for query batches)."""
        from grenad_spark.query.search import search_topk_shared

        return search_topk_shared(spark, self, queries, k=k)

    def search_auto(self, spark: SparkSession, queries, k: int = 10) -> DataFrame:
        """Gate-per-batch serving: measures the pass-1 survivor ratio and
        picks two-pass pruned vs single-pass WAND (query/search.py
        search_topk_auto)."""
        from grenad_spark.query.search import search_topk_auto

        return search_topk_auto(spark, self, queries, k=k)

    def search_prefix(self, spark: SparkSession, queries, k: int = 10, max_expansions: int | None = None) -> DataFrame:
        """Prefix search. Default None = exhaustive expansion (exact — the
        original public-handle behavior; existing callers keep identical
        top-k). Serving tiers facing web vocabularies should pass an explicit
        cap (e.g. query/search.py DEFAULT_MAX_EXPANSIONS=128, the
        Meilisearch-style top-df cap) — a 1-char prefix can expand to
        millions of terms otherwise."""
        from grenad_spark.query.search import search_topk_prefix

        return search_topk_prefix(spark, self, queries, k=k, max_expansions=max_expansions)

    def search_prefix_db(self, spark: SparkSession, queries, k: int = 10) -> DataFrame:
        """Prefix-as-one-word BM25 over the materialized prefix postings
        (index/prefix.py); unmaterialized prefixes fall back to dictionary
        expansion with identical semantics."""
        from grenad_spark.index.prefix import search_topk_prefix_db

        return search_topk_prefix_db(spark, self, queries, k=k)

    def search_fuzzy(self, spark: SparkSession, queries, k: int = 10, max_edits: int = 1) -> DataFrame:
        from grenad_spark.query.search import search_topk_fuzzy

        return search_topk_fuzzy(spark, self, queries, k=k, max_edits=max_edits)

    def search_fuzzy_ranked(
        self, spark: SparkSession, queries, k: int = 10, max_edits: int = 1
    ) -> DataFrame:
        """Typo-tolerant search under the words → typo → relevance rule
        pipeline (covered slots DESC, total typos ASC, BM25, doc)."""
        from grenad_spark.query.search import search_topk_fuzzy_ranked

        return search_topk_fuzzy_ranked(spark, self, queries, k=k, max_edits=max_edits)

    def search_words(self, spark: SparkSession, queries, k: int = 10) -> DataFrame:
        """The words ranking rule: more matched distinct terms first."""
        from grenad_spark.query.search import search_topk_words

        return search_topk_words(spark, self, queries, k=k)

    def search_and(self, spark: SparkSession, queries, k: int = 10) -> DataFrame:
        from grenad_spark.query.search import search_conjunctive

        return search_conjunctive(spark, self, queries, k=k)

    def search_phrase(self, spark: SparkSession, queries, k: int = 10) -> DataFrame:
        """Exact-phrase top-k (token adjacency) over the positional index;
        requires build_positions() to have run for this index."""
        from grenad_spark.query.phrase import search_topk_phrase

        return search_topk_phrase(spark, self, queries, k=k)

    def search_phrase_batch(self, spark: SparkSession, queries, k: int = 10) -> DataFrame:
        """Decode-once phrase batch (each distinct position block ships once
        per batch — best for phrase query batches)."""
        from grenad_spark.query.phrase import search_topk_phrase_shared

        return search_topk_phrase_shared(spark, self, queries, k=k)

    def search_mixed(self, spark: SparkSession, queries, k: int = 10) -> DataFrame:
        """Mixed query strings: free terms + double-quoted phrase
        constraints (the Meilisearch query language)."""
        from grenad_spark.query.phrase import search_topk_mixed

        return search_topk_mixed(spark, self, queries, k=k)

    def search_proximity(self, spark: SparkSession, queries, k: int = 10) -> DataFrame:
        """Proximity-ranked conjunctive top-k (Meilisearch proximity rule)
        over the positional index: summed adjacent-pair min position
        distance ASC, then BM25 DESC, then doc_id."""
        from grenad_spark.query.phrase import search_topk_proximity

        return search_topk_proximity(spark, self, queries, k=k)

    def search_sorted(
        self, spark: SparkSession, docs: DataFrame, queries, sort_col: str,
        k: int = 10, ascending: bool = False,
    ) -> DataFrame:
        """Sortable-attribute serving: conjunctive matches ranked by a
        document attribute (Meilisearch sort rule)."""
        from grenad_spark.query.search import search_topk_sorted

        return search_topk_sorted(
            spark, self, docs, queries, sort_col, k=k, ascending=ascending
        )

    def search_distinct(
        self, spark: SparkSession, docs: DataFrame, queries, distinct_col: str,
        k: int = 10,
    ) -> DataFrame:
        """Distinct-attribute serving: one best result per attribute value
        (Meilisearch distinctAttribute)."""
        from grenad_spark.query.search import search_topk_distinct_attr

        return search_topk_distinct_attr(spark, self, docs, queries, distinct_col, k=k)

    def seek_gte(self, spark: SparkSession, keys) -> DataFrame:
        """Batched posting-level gte-seeks [(seek_id, term, target_doc)]."""
        from grenad_spark.operators.seek import seek_gte_postings

        return seek_gte_postings(spark, self, keys)

    # serving-path df lookup: a driver-held {term: df} map loaded ONCE per
    # handle kills the per-query term_dict scan+broadcast job (~0.1 s/query).
    # Gated by vocabulary size — beyond IDF_MAP_MAX_TERMS (a 10^9-term web
    # vocabulary) term_dfs looks the batch's terms up instead.
    IDF_MAP_MAX_TERMS = 2_000_000

    def df_map(self, spark: SparkSession) -> dict | None:
        if not hasattr(self, "_df_map"):
            n_terms = self.manifest.get("n_terms")
            if n_terms is None:
                n_terms = self.term_dict(spark).count()
            if n_terms <= self.IDF_MAP_MAX_TERMS:
                # read on the driver, like every block read that fits it:
                # no Spark job, and no cold JVM decoder on the first call
                import pyarrow.parquet as pq

                t = pq.read_table(
                    os.path.join(self.path, "term_dict"), columns=["term", "df"]
                )
                self._df_map = dict(zip(t["term"].to_pylist(), t["df"].to_pylist()))
            else:
                self._df_map = None
        return self._df_map

    def term_dfs(self, spark: SparkSession, terms) -> dict[str, int]:
        """{term: df} of the in-vocabulary terms among `terms`: the one df
        question of every serving path, at any vocabulary size. From the
        held df map when there is one; else from ONE pruned term_dict
        lookup of the terms not asked before (the point lookup of grenad's
        ReaderCursor::move_on_key_equal_to). The index is immutable, so the
        answers, absent terms included, are remembered; the memo starts
        over once it holds more than IDF_MAP_MAX_TERMS terms."""
        dfs = self.df_map(spark)
        if dfs is None:
            dfs = self._df_memo
            miss = set(terms) - dfs.keys()
            if miss and len(dfs) > self.IDF_MAP_MAX_TERMS:
                dfs.clear()
                miss = set(terms)
            if miss:
                rows = self.term_dict(spark).filter(isin("term", sorted(miss)))
                found = {r["term"]: int(r["df"]) for r in rows.select("term", "df").collect()}
                dfs.update((t, found.get(t)) for t in miss)
        return {t: dfs[t] for t in terms if dfs.get(t) is not None}

    # term → shard-set presence map (the df_map pattern one level deeper):
    # lets shard-level pruning (phrase prune_shards) run as pure driver set
    # intersection instead of a census job per batch. Entry count is
    # Σ_terms |shards(term)| ≤ n_terms × n_shards — gated so web-scale
    # vocabularies fall back to the distributed census.
    TERM_SHARDS_MAX_ENTRIES = 8_000_000

    def term_shards(self, spark: SparkSession) -> dict | None:
        if not hasattr(self, "_term_shards"):
            n_terms = self.manifest.get("n_terms")
            if n_terms is None:
                n_terms = self.term_dict(spark).count()
            if (
                n_terms <= self.IDF_MAP_MAX_TERMS
                and n_terms * max(1, int(self.n_shards))
                <= self.TERM_SHARDS_MAX_ENTRIES
            ):
                rows = (
                    self.segments(spark)
                    .select("term", "shard")
                    .distinct()
                    .collect()
                )
                m: dict[str, set] = {}
                for r in rows:
                    m.setdefault(r["term"], set()).add(int(r["shard"]))
                self._term_shards = m
            else:
                self._term_shards = None
        return self._term_shards
