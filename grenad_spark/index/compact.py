"""Segment-generation compaction — grenad's Merger over existing files.

Reference: Sorter::merge_chunks (src/sorter.rs:576-634) re-merges up to
max_nb_chunks (25, src/sorter.rs:21) spill files into one; MergerIter
(src/merger.rs:126-196) yields one merge call per key with values in
source-index order — keep-newest per doc is our MergeFunction (re-crawl
replaces a page). Crucially grenad's merge STREAMS untouched runs — it never
decodes a block no other source interleaves with — which is the copy-through
fast path below.

Dataflow (all shuffles bounded):

  docs tables (per gen)                        [membership record: doc -> gen]
    → shard ownership map                      [per OUTPUT shard: which gens
                                                have docs there + deletions]
    → split segment rows:
      COPY-THROUGH: blocks in output shards owned by exactly ONE generation,
        with no deleted docs, from a generation whose shard geometry matches
        the output (same n_shards) OR is an integer multiple of it (m:1
        coarsening — shard' = shard DIV m is exact, block ids renumber from
        a metadata-only running sum) and whose codec matches — pass through
        byte-identical payloads, never decoded (grenad's streamed untouched
        run)
      DIRTY: everything else →
        mapInPandas vectorized decode          [per-GEN codec — generations
                                                may use different payload
                                                codecs (src/compression.rs)]
        → join live map (doc → newest gen)     [doc-level tombstones: newest
                                                generation containing a doc
                                                wins; terms the newer crawl
                                                dropped disappear]
        → build_segments(...)                  [the standard sharded encode]

If an authoritative `docs` DataFrame is passed, any doc absent from it is
DELETED (grenad: deletion = write a new file without the key, src/lib.rs:9-10)
— its shards are excluded from copy-through and its postings are filtered on
the decode path.

Copy-through safety: within a (term, shard) group all blocks must stay
doc-range disjoint and block_id-ordered (WAND cursors binary-search block
boundaries). An exclusively-owned shard's blocks come from ONE generation
whose shard function equals the output's, so shard ids, block ids, and doc
order are already correct — no renumbering pass.
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from grenad_spark.errors import MergeError
from grenad_spark.functions.varbyte import decode_block_rows, decompress_payloads
from grenad_spark.index.build import (
    CURRENT_FORMAT_VERSION,
    SEGMENT_SCHEMA,
    IndexHandle,
    build_segments,
    parquet_rows,
    term_dict_from_segments,
    write_term_deletes,
    write_term_sorted,
    write_vocab_table,
)

MAX_GENERATIONS = 25  # grenad max_nb_chunks default (src/sorter.rs:21)

_DECODED_SCHEMA = "term string, doc_id long, tf int, dl int, gen int"

_SEGMENT_COLS = [
    "term", "shard", "block_id", "n", "first_doc", "last_doc",
    "max_tf", "min_dl", "min_tf", "max_dl", "sum_tf", "payload",
]


_POSITION_COLS = [
    "term", "shard", "block_id", "n", "first_doc", "last_doc",
    "header", "positions",
]


def _split_copy_dirty(union, owners, copy_gens, merge_factor, cols):
    """The copy-through split, shared by the segments and positions tables.

    union must carry (gen, out_shard) beside `cols`. Returns
    (copied_df | None, dirty_marked_df, marked_df, copy_cond): copied rows
    pass through byte-identical (renumbered arithmetically for m:1 geometry
    merges — metadata-only, payloads never decoded); everything else is
    dirty and takes the decode path."""
    marked = union.join(F.broadcast(owners), "out_shard", "left")
    same_geom = [i for i in copy_gens if merge_factor[i] == 1]
    multi_geom = [i for i in copy_gens if merge_factor[i] > 1]
    if copy_gens:
        copy_cond = (
            F.col("owner_gen").isNotNull()
            & (F.col("gen") == F.col("owner_gen"))
            & F.col("gen").isin(copy_gens)
        )
        parts = []
        if same_geom:
            parts.append(
                marked.filter(copy_cond & F.col("gen").isin(same_geom)).select(*cols)
            )
        if multi_geom:
            # GEOMETRY-AWARE RENUMBER (the m > 1 case): gen shards m·k …
            # m·k+m−1 merge into output shard k with doc ranges disjoint and
            # ascending, so the only work is block-ID arithmetic —
            # block_id' = block_id + Σ n_blocks(term, earlier sibling shard).
            # Offsets come from a METADATA-only aggregate (count per
            # (gen, term, shard) + a running sum over the tiny counts table);
            # payloads are never decoded and never re-encoded. The offset
            # join is hinted broadcast: the counts table is
            # vocabulary × shards rows of three ints.
            from pyspark.sql.window import Window

            cm = marked.filter(copy_cond & F.col("gen").isin(multi_geom))
            cnt = cm.groupBy("gen", "term", "out_shard", "shard").agg(
                F.count("*").alias("nb")
            )
            w = Window.partitionBy("gen", "term", "out_shard").orderBy("shard")
            off = cnt.select(
                "gen", "term", "shard",
                (F.sum("nb").over(w) - F.col("nb")).cast("int").alias("off"),
            )
            renum = cm.join(F.broadcast(off), ["gen", "term", "shard"]).select(
                "term",
                F.col("out_shard").alias("shard"),
                (F.col("block_id") + F.col("off")).cast("int").alias("block_id"),
                *[c for c in cols if c not in ("term", "shard", "block_id")],
            ).select(*cols)
            parts.append(renum)
        copied = parts[0]
        for p in parts[1:]:
            copied = copied.unionByName(p)
    else:
        copy_cond = F.lit(False)
        # no copy-eligible generation: don't even reference the v2-only
        # columns (an all-pre-v2 input has no min_tf/max_dl to select)
        copied = None
    dirty_marked = marked.filter(~F.coalesce(copy_cond, F.lit(False)))
    return copied, dirty_marked, marked, copy_cond


def _make_decode_partition(codecs: list[str]):
    def fn(batches):
        return _decode_partition(batches, codecs)
    return fn


def _decode_partition(batches: Iterator[pd.DataFrame], codecs: list[str]) -> Iterator[pd.DataFrame]:
    """Vectorized block decode: one varbyte pass per generation present in
    the batch, each decompressed with ITS OWN codec (a zlib payload parsed
    as raw varbyte would yield garbage postings silently). Every block
    restarts at an absolute doc id (functions/varbyte.py layout), so the
    blocks decode in any order; each posting takes its block's term."""
    for pdf in batches:
        for gen, g in pdf.groupby("gen", sort=False):
            n = g["n"].to_numpy()
            d, tf, dl = decode_block_rows(
                decompress_payloads(list(g["payload"]), codecs[int(gen)]), n
            )
            if not d.size:
                continue
            yield pd.DataFrame(
                {
                    "term": np.repeat(g["term"].to_numpy(), n),
                    "doc_id": d,
                    "tf": tf.astype(np.int32),
                    "dl": dl.astype(np.int32),
                    "gen": np.full(d.size, gen, dtype=np.int32),
                }
            )


def compact_indexes(
    spark: SparkSession,
    index_paths: list[str],
    out_dir: str,
    partitions: int | None = None,
    docs: DataFrame | None = None,
    payload_codec: str | None = None,
    n_shards: int | None = None,
) -> IndexHandle:
    """Merge N generation indexes (oldest→newest, newest-wins per doc).

    docs, if given, is the authoritative live-doc set: any doc_id absent from
    it is deleted from the compacted index. payload_codec defaults to the
    newest generation's codec. n_shards sets the OUTPUT shard geometry
    (default: the max over generations); a generation whose shard count is an
    integer MULTIPLE of the output's is still copy-eligible — its blocks
    renumber arithmetically (geometry-aware copy-through, below) instead of
    taking the decode path.
    """
    if not 1 <= len(index_paths) <= MAX_GENERATIONS:
        raise MergeError(
            f"{len(index_paths)} generations; merge accepts 1..{MAX_GENERATIONS} "
            f"(grenad max_nb_chunks, src/sorter.rs:21)"
        )
    handles = [IndexHandle(p) for p in index_paths]
    codecs = [h.payload_codec for h in handles]
    out_codec = payload_codec if payload_codec is not None else codecs[-1]
    partitions = partitions or spark.sparkContext.defaultParallelism
    doc_space = max(h.manifest["max_doc"] for h in handles) + 1
    if n_shards is None:
        n_shards = max(h.n_shards for h in handles)

    def shard_of(col: str):
        # same integer floor division as build_segments — boundaries must agree
        return F.expr(
            f"CAST(({col} * CAST({int(n_shards)} AS BIGINT)) DIV "
            f"CAST({int(doc_space)} AS BIGINT) AS INT)"
        )

    # GEOMETRY-AWARE shard mapping: generation i's shard function is
    # doc*(m·n_shards) DIV doc_space when its shard count is m·n_shards over
    # the same doc space, and floor(floor(x/a)/b) == floor(x/(ab)) makes
    # out_shard = gen_shard DIV m EXACT — gen shards merge m:1 into output
    # shards with doc ranges still disjoint and ascending. m == 1 is the
    # verbatim case; m is None (not an integer multiple / different doc
    # space) → no algebraic mapping → the decode path.
    merge_factor = {
        i: h.n_shards // n_shards
        for i, h in enumerate(handles)
        if h.manifest["max_doc"] + 1 == doc_space and h.n_shards % n_shards == 0
    }

    seg_union = None
    docs_union = None
    for i, h in enumerate(handles):
        m = merge_factor.get(i)
        out_shard = (
            F.expr(f"CAST(shard DIV {int(m)} AS INT)")
            if m
            else F.lit(None).cast("int")
        )
        s = (
            h.segments(spark)
            .withColumn("gen", F.lit(i))
            .withColumn("out_shard", out_shard)
        )
        d = h.docs(spark).withColumn("gen", F.lit(i))
        # allowMissingColumns: pre-v2 generations lack min_tf/max_dl — they
        # union in with nulls, are format-gated OUT of copy-through below,
        # and the dirty decode path never reads those columns, so mixing
        # format versions in one compaction is safe (grenad 0.5 reads 0.4
        # chunks the same way, src/writer.rs:373-413)
        seg_union = s if seg_union is None else seg_union.unionByName(s, allowMissingColumns=True)
        docs_union = d if docs_union is None else docs_union.unionByName(d)

    # authoritative deletions: docs present in some generation but absent
    # from the override set
    if docs is not None:
        auth = docs.select("doc_id")
        deleted_shards = (
            docs_union.join(auth, "doc_id", "left_anti")
            .select(shard_of("doc_id").alias("shard"))
            .distinct()
        )
        docs_live_in = docs_union.join(auth, "doc_id", "left_semi")
    else:
        deleted_shards = None
        docs_live_in = docs_union

    # doc-level tombstones: newest generation containing each doc wins
    live = docs_live_in.groupBy("doc_id").agg(F.max("gen").alias("live_gen"))
    live_docs = (
        docs_live_in.join(live, "doc_id")
        .filter(F.col("gen") == F.col("live_gen"))
        .select("doc_id", "dl")
    )

    # ---- copy-through split -------------------------------------------------
    # A generation is copy-eligible if its shard function maps algebraically
    # onto the output's (merge_factor above: same geometry at m == 1, m:1
    # coarsening otherwise) and its payload codec matches the output codec.
    copy_gens = [
        i
        for i, h in enumerate(handles)
        if i in merge_factor
        and codecs[i] == out_codec
        # pre-v2 segments lack the min_tf/max_dl lower-bound columns — they
        # must take the decode path so the compacted output is uniformly v2
        and h.format_version >= 2
    ]
    # shard ownership over ALL generations' membership tables, in OUTPUT
    # shard space: an output shard is exclusive iff exactly one generation
    # has docs in it
    owners = (
        docs_union.select(shard_of("doc_id").alias("out_shard"), "gen")
        .distinct()
        .groupBy("out_shard")
        .agg(F.count("*").alias("n_gens"), F.min("gen").alias("owner_gen"))
        .filter(F.col("n_gens") == 1)
        .select("out_shard", "owner_gen")
    )
    if deleted_shards is not None:
        owners = owners.join(
            deleted_shards.withColumnRenamed("shard", "out_shard"),
            "out_shard",
            "left_anti",
        )

    copied, dirty_marked, marked, copy_cond = _split_copy_dirty(
        seg_union, owners, copy_gens, merge_factor, _SEGMENT_COLS
    )
    dirty = dirty_marked.select("term", "gen", "shard", "block_id", "n", "payload")
    # ONE accounting job (payload pruned out of the aggregate scan) instead
    # of two separate counts re-running the ownership join
    counts = {
        bool(r["c"]): r["count"]
        for r in marked.groupBy(
            F.coalesce(copy_cond, F.lit(False)).alias("c")
        ).count().collect()
    }
    copied_blocks = counts.get(True, 0)
    dirty_blocks = counts.get(False, 0)

    if dirty_blocks == 0 and copied is not None:
        # nothing to decode: the whole compaction is copy-through/renumber —
        # don't even schedule the decode UDF subplan (a 2×-reshard of a
        # clean index is pure metadata work end to end)
        segments = copied
    else:
        # ---- dirty path: decode (per-gen codec) → tombstone filter → re-encode
        decoded = dirty.mapInPandas(_make_decode_partition(codecs), _DECODED_SCHEMA)
        # doc-keyed equi-join; AQE picks broadcast when the live map is small —
        # at web scale both sides shuffle-partition on doc_id (co-partitionable)
        tdt = (
            decoded.join(live, "doc_id")
            .filter(F.col("gen") == F.col("live_gen"))
            .select("term", "doc_id", "tf", "dl")
        )
        rebuilt = build_segments(tdt, doc_space, n_shards, partitions, payload_codec=out_codec)

        segments = rebuilt.unionByName(copied) if copied is not None else rebuilt
        # persist before the range write: repartitionByRange samples its
        # child — unpersisted, the decode→join→re-encode pipeline runs twice
        from pyspark.storagelevel import StorageLevel

        segments = segments.persist(StorageLevel.MEMORY_AND_DISK)
    os.makedirs(out_dir, exist_ok=True)
    seg_path = os.path.join(out_dir, "segments")
    write_term_sorted(
        segments.repartitionByRange(partitions, "term", "shard", "block_id")
        .sortWithinPartitions("term", "shard", "block_id"),
        seg_path,
    )
    segments.unpersist()
    segments = spark.read.parquet(seg_path)
    dict_path = os.path.join(out_dir, "term_dict")
    write_vocab_table(term_dict_from_segments(segments), dict_path)
    n_terms = parquet_rows(dict_path)
    # the SymSpell deletion table — a compacted index serves typo expansion
    # from the persisted table, same as a fresh build
    write_term_deletes(
        spark.read.parquet(dict_path),
        os.path.join(out_dir, "term_deletes"), max(1, partitions // 8),
    )
    live_docs.repartition(max(1, partitions // 8)).write.mode("overwrite").parquet(
        os.path.join(out_dir, "docs")
    )
    st = spark.read.parquet(os.path.join(out_dir, "docs")).agg(
        F.count("*").cast("long").alias("n_docs"), F.avg("dl").alias("avgdl")
    ).first()

    # positions sibling table: if EVERY generation carries one, the compacted
    # index does too — a pure LSM merge of the generations' position blocks
    # (no re-tokenization) through the SAME copy-through split as segments:
    # exclusively-owned clean shards pass through byte-identical (renumbered
    # for m:1 geometry merges), only dirty shards decode → newest-gen-wins →
    # re-encode. Mixed availability degrades to "no positions" (phrase
    # serving would be silently wrong for the gap generations otherwise).
    # FIELD-AWARE positions merge transparently (the fid rides inside the
    # pos value, which decode/re-encode preserve) — but only when every
    # generation used the SAME field configuration: mixing fielded and
    # unfielded (or differently-fielded) generations would make position
    # values semantically inconsistent across the logical corpus, so that
    # also degrades to "no positions".
    field_cfgs = {tuple(h.manifest.get("position_fields") or ()) for h in handles}
    pos_fields = list(next(iter(field_cfgs))) if len(field_cfgs) == 1 else None
    has_pos = all(h.has_positions() for h in handles) and len(field_cfgs) == 1
    if not has_pos:
        # a REUSED output dir (e.g. the streaming scratch dir) may hold a
        # positions table from an earlier, crashed compaction of a DIFFERENT
        # generation set — has_positions() only checks _SUCCESS, so leaving
        # it would make the compacted index silently serve position blocks
        # inconsistent with its segments
        import shutil

        shutil.rmtree(os.path.join(out_dir, "positions"), ignore_errors=True)
    if has_pos:
        from grenad_spark.index.positions import (
            POSITIONS_SCHEMA,
            _encode_positions_stream,
            _make_decode_positions_partition,
            _POS_DECODED_SCHEMA,
        )

        pos_union = None
        for i, h in enumerate(handles):
            m = merge_factor.get(i)
            p_out_shard = (
                F.expr(f"CAST(shard DIV {int(m)} AS INT)")
                if m
                else F.lit(None).cast("int")
            )
            s = (
                h.positions(spark)
                .withColumn("gen", F.lit(i))
                .withColumn("out_shard", p_out_shard)
            )
            pos_union = s if pos_union is None else pos_union.unionByName(s)
        pcopied, pdirty_m, _pm, _pc = _split_copy_dirty(
            pos_union, owners, copy_gens, merge_factor, _POSITION_COLS
        )
        pdecoded = pdirty_m.select(
            "gen", "term", "n", "header", "positions"
        ).mapInPandas(_make_decode_positions_partition(codecs), _POS_DECODED_SCHEMA)
        plivetoks = (
            pdecoded.join(live, "doc_id")
            .filter(F.col("gen") == F.col("live_gen"))
            .select("term", "doc_id", "dl", "pos")
            .withColumn("shard", shard_of("doc_id"))
        )
        prebuilt = (
            plivetoks.repartition(partitions, "term", "shard")
            .sortWithinPartitions("term", "shard", "doc_id", "pos")
            .mapInPandas(
                lambda it: _encode_positions_stream(it, out_codec), POSITIONS_SCHEMA
            )
        )
        pos_all = prebuilt.unionByName(pcopied) if pcopied is not None else prebuilt
        # persist: repartitionByRange samples pos_all — unpersisted, the
        # position decode→join→re-encode pipeline would run twice
        from pyspark.storagelevel import StorageLevel

        pos_all = pos_all.persist(StorageLevel.MEMORY_AND_DISK)
        write_term_sorted(
            pos_all.repartitionByRange(partitions, "term", "shard", "block_id")
            .sortWithinPartitions("term", "shard", "block_id"),
            os.path.join(out_dir, "positions"),
        )
        pos_all.unpersist()

    manifest = {
        "format_version": CURRENT_FORMAT_VERSION,
        "n_docs": int(st["n_docs"]),
        "avgdl": float(st["avgdl"]),
        "max_doc": int(doc_space - 1),
        "n_terms": int(n_terms),
        "n_shards": int(n_shards),
        "docs_per_shard": handles[-1].manifest.get("docs_per_shard"),
        "payload_codec": out_codec,
        "partitions": partitions,
        "compacted_from": [os.path.abspath(p) for p in index_paths],
        # copy-through accounting: decode work is proportional to the DELTA,
        # not the corpus (dirty_blocks / (copied+dirty) is the touched ratio)
        "copied_blocks": int(copied_blocks),
        "decoded_blocks": int(dirty_blocks),
        "has_positions": has_pos,
        **({"position_fields": pos_fields} if has_pos and pos_fields else {}),
        "segment_files": [
            {"file": f, "bytes": os.path.getsize(os.path.join(seg_path, f))}
            for f in sorted(os.listdir(seg_path))
            if f.endswith(".parquet")
        ],
    }
    with open(os.path.join(out_dir, "manifest.json"), "w") as fh:
        json.dump(manifest, fh, indent=1)
    return IndexHandle(out_dir)
