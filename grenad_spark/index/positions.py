"""Positional index — per-(term, shard) blocks of per-doc token positions.

Meilisearch stores word-position keys in grenad databases (its
`word_position_docids` / proximity databases are plain grenad KV files built
through the same Sorter/Writer pipeline as the word databases); this module is
that layer re-expressed Spark-first: ONE extra (term, shard)-hash shuffle of
the (term, doc_id, pos) occurrence stream, a partition-local sort, and a
streaming vectorized encode into self-describing blocks — the identical
shape as the postings build (index/build.py build_segments), reusing its
varbyte machinery.

Block layout (one row per block, ≤ block_size docs, doc-aligned with the
postings blocks' restart discipline):
  header    = standard posting-block payload  varbyte([doc_gap, tf, dl] ...)
              (grenad block restart: first doc of the block is absolute)
  positions = varbyte of per-doc position deltas, doc-major: for each doc the
              FIRST position is absolute and the rest are gaps, so every doc
              (and therefore every block) decodes independently.
tf in the header doubles as the per-doc position count — the header alone
fully frames the positions stream, making each block self-sufficient for
phrase matching AND for BM25 scoring of the matched docs (no join back to
segments or norms at query time).

Scale: the positions table is the token stream re-packed, so its build cost
and size are O(total tokens) — the same order as the segments build; at
10^12 docs it is one more column family beside segments with identical
partitioning (term, shard), so phrase serving reuses the pruned-scan +
one-exchange plan shape of ordinary top-k.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from grenad_spark.functions.tokenize import tokens_col
from grenad_spark.functions.varbyte import (
    BLOCK_SIZE,
    decode_block_rows,
    decompress_payloads,
    encode_blocks,
    varbyte_decode,
)

POSITIONS_SCHEMA = (
    "term string, shard int, block_id int, n int, "
    "first_doc long, last_doc long, header binary, positions binary"
)

# positions are packed with doc_id into one int64 key during phrase
# intersection (doc_id * 2^POS_BITS + pos): 2^20 tokens/doc caps the pos
# field; 10^12 docs (~2^40) * 2^20 stays under 2^63. A doc longer than this
# is rejected at build time, not silently wrapped.
POS_BITS = 20
MAX_POS = (1 << POS_BITS) - 1

# FIELD-AWARE positions (the Meilisearch fid-keyed word-position DBs —
# meilisearch stores `fid_word_position_docids` grenad files; its positions
# pack the field id into the high bits of one integer the same way): an
# occurrence in field fid at in-field position p encodes as
#     pos = fid * FIELD_STRIDE + p
# inside the SAME POS_BITS budget, so the codec, blocks, compaction and every
# phrase kernel are unchanged. Consequences (all intended, all shared with
# the reference semantics): phrase adjacency never spans a field boundary
# (the stride jump breaks p+1 chains), positions stay ascending per doc
# (fields are numbered in attribute order), and the field of an occurrence
# is pos >> FIELD_BITS. 2^4 fields x 2^16 tokens-per-field.
FIELD_BITS = 16
FIELD_STRIDE = 1 << FIELD_BITS
MAX_FIELD_POS = FIELD_STRIDE - 1
MAX_FIELDS = 1 << (POS_BITS - FIELD_BITS)


def tokens_with_pos_fields(docs: DataFrame, fields: list[str]) -> DataFrame:
    """(term, doc_id, dl, pos) over a MULTI-FIELD document shape: docs must
    carry one text column per entry of `fields`; field id = list index
    (attribute ranking order). pos = fid * FIELD_STRIDE + in-field position;
    dl = TOTAL tokens across fields (BM25 length normalization sees the
    whole document, like single-field builds). A field longer than
    FIELD_STRIDE tokens fails loudly (JVM-side raise_error), never silently
    collides with the next field id."""
    if not fields:
        raise ValueError("fields must be a non-empty list of text columns")
    if len(fields) > MAX_FIELDS:
        raise ValueError(f"{len(fields)} fields > MAX_FIELDS={MAX_FIELDS}")
    toks = docs.select(
        "doc_id", *[tokens_col(fld).alias(f"_tk{i}") for i, fld in enumerate(fields)]
    ).select(
        "doc_id",
        sum(F.size(f"_tk{i}") for i in range(len(fields))).alias("dl"),
        *[F.col(f"_tk{i}") for i in range(len(fields))],
    )
    parts = []
    for i in range(len(fields)):
        parts.append(
            toks.select(
                "doc_id", "dl", F.posexplode(f"_tk{i}").alias("p", "term")
            ).select(
                "term",
                "doc_id",
                "dl",
                (
                    F.when(
                        F.col("p") > MAX_FIELD_POS,
                        F.raise_error(
                            f"field '{fields[i]}' exceeds {FIELD_STRIDE} tokens"
                        ).cast("int"),
                    ).otherwise(F.col("p"))
                    + F.lit(i * FIELD_STRIDE)
                ).alias("pos"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def tokens_with_pos(docs: DataFrame) -> DataFrame:
    """(term, doc_id, dl, pos) — one row per token OCCURRENCE with its
    0-based position in the token array. Same materialize-below-explode
    shape as tokens_with_dl (the regex split runs once per doc)."""
    toks = docs.select("doc_id", tokens_col("text").alias("toks"))
    return toks.select(
        "doc_id",
        F.size("toks").alias("dl"),
        F.posexplode("toks").alias("pos", "term"),
    ).select("term", "doc_id", "dl", "pos")


def _check_positions(positions: np.ndarray) -> None:
    if positions.size and int(positions.max()) > MAX_POS:
        raise ValueError(
            f"token position {int(positions.max())} exceeds MAX_POS={MAX_POS} "
            f"(doc longer than 2^{POS_BITS} tokens)"
        )


def encode_position_blocks(
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    positions: np.ndarray,
    block_size: int = BLOCK_SIZE,
) -> list[tuple[int, int, int, bytes, bytes]]:
    """Encode one (term, shard) group — the one-group call of the
    partition encoder (functions/varbyte.py encode_blocks), so postings
    and positions share one block layout. doc_ids strictly increasing (one
    row per doc), positions = flat per-occurrence array, doc-major and
    ascending within each doc, with sum(tfs) == positions.size.
    Returns [(n, first_doc, last_doc, header, positions)] in doc order;
    block_id is the list index."""
    positions = np.asarray(positions, dtype=np.int64)
    _check_positions(positions)
    cols = encode_blocks(
        doc_ids, tfs, dls, block_size=block_size, positions=positions
    )
    return list(
        zip(
            *(
                cols[c].tolist()
                for c in ("n", "first_doc", "last_doc", "payload", "positions")
            )
        )
    )


def _encode_positions_stream(batches, payload_codec: str = "none", block_size: int | None = None):
    """mapInPandas kernel: one shuffle partition of the raw occurrence stream
    (term, shard, doc_id, dl, pos), pre-sorted by (term, shard, doc_id, pos).
    Same partition-at-a-time discipline as the postings encoder
    (index/build.py _encode_partition_stream): one boundary mask merges
    occurrences into postings (tf = run length) and ONE encode_blocks call
    encodes every group's header and position blocks — the header is the
    standard posting payload, the positions one varbyte pass of per-doc
    deltas split at each block's first occurrence. Memory: the partition
    frame plus O(1) NumPy columns per occurrence."""
    from grenad_spark.index.build import _doc_runs, _partition_rows

    pdf = _partition_rows(batches)
    if pdf is None:
        return
    pos = pdf["pos"].to_numpy()
    _check_positions(pos)
    first, group_start, tf = _doc_runs(pdf)
    blocks = encode_blocks(
        pdf["doc_id"].to_numpy()[first], tf, pdf["dl"].to_numpy()[first],
        group_start, block_size or BLOCK_SIZE, positions=pos,
        payload_codec=payload_codec,
    )
    row = first[blocks["start"]]
    yield pd.DataFrame(
        {
            "term": pdf["term"].to_numpy()[row],
            "shard": pdf["shard"].to_numpy()[row],
            **{
                c: blocks[c]
                for c in ("block_id", "n", "first_doc", "last_doc")
            },
            "header": blocks["payload"],
            "positions": blocks["positions"],
        }
    )


def decode_position_blocks(
    headers: list[bytes],
    pos_payloads: list[bytes],
    ns: np.ndarray,
    codec: str = "none",
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Vectorized multi-block decode.
    Returns (doc_ids, tfs, dls, abs_positions, occ_starts): abs_positions is
    the flat per-occurrence position array, occ_starts[i] = its offset for
    doc i. One varbyte pass + one segmented cumsum — no per-doc Python."""
    doc_ids, tfs, dls = decode_block_rows(decompress_payloads(headers, codec), ns)
    flat = varbyte_decode(b"".join(decompress_payloads(pos_payloads, codec))).astype(
        np.int64
    )
    if flat.size == 0:
        return doc_ids, tfs, dls, flat, np.zeros(doc_ids.size, dtype=np.int64)
    occ_starts = np.concatenate(([0], np.cumsum(tfs)[:-1]))
    c = np.cumsum(flat)
    seg_off = c[occ_starts] - flat[occ_starts]
    abs_pos = c - np.repeat(seg_off, tfs)
    return doc_ids, tfs, dls, abs_pos, occ_starts


def build_positions(
    spark: SparkSession,
    docs: DataFrame,
    index_dir: str,
    *,
    partitions: int | None = None,
    block_size: int | None = None,
    compression: str = "zstd",
    fields: list[str] | None = None,
) -> None:
    """Add (or resume) the positions table beside an existing index. Reads
    shard geometry from the manifest so (term, shard, block docs) line up
    with the postings blocks. Separate stage rather than a build_index flag:
    positions ~double build cost and only phrase/proximity serving needs
    them (Meilisearch similarly builds word-position databases as their own
    grenad files).

    fields: when given, docs must carry one text column per entry and the
    positions are FIELD-AWARE (fid packed in the high FIELD_BITS of pos —
    see tokens_with_pos_fields); the field list is recorded in the manifest
    so attribute-ranked serving can verify it."""
    import json

    from grenad_spark.index.build import _done, write_term_sorted

    out_path = os.path.join(index_dir, "positions")
    mpath = os.path.join(index_dir, "manifest.json")
    if _done(out_path):
        # resume after a crash between the parquet write and the manifest
        # update: the data is complete (_SUCCESS), so repair the manifest's
        # has_positions flag if the crash left it unset (consumers key off
        # the _SUCCESS marker, but manifest metadata must not stay stale)
        with open(mpath) as fh:
            manifest = json.load(fh)
        if not manifest.get("has_positions"):
            manifest["has_positions"] = True
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
    if fields:
        occ = tokens_with_pos_fields(docs.select("doc_id", *fields), list(fields))
    else:
        occ = tokens_with_pos(docs.select("doc_id", "text"))
    stream = occ.withColumn(
        "shard",
        F.expr(
            f"CAST((doc_id * CAST({n_shards} AS BIGINT)) DIV "
            f"CAST({doc_space} AS BIGINT) AS INT)"
        ),
    )
    write_term_sorted(
        stream.repartition(partitions, "term", "shard")
        .sortWithinPartitions("term", "shard", "doc_id", "pos")
        .mapInPandas(
            lambda it: _encode_positions_stream(it, payload_codec, block_size),
            POSITIONS_SCHEMA,
        )
        # coalesce merges encode outputs into fewer, larger files WITHOUT an
        # exchange (narrow dependency: each write task runs 4 encode
        # partitions sequentially — group integrity comes from the
        # repartition above, not the task count). Fewer files = less
        # per-file open/footer overhead on every phrase/proximity scan.
        # Each file is then up to 4 term-sorted runs, so a row group at a
        # run boundary spans a wide term range.
        .coalesce(max(1, partitions // 4)),
        out_path,
        compression,
    )
    # record the stage in the manifest (lineage/metrics contract)
    manifest.setdefault("stage_seconds", {})["positions"] = round(time.time() - t0, 3)
    manifest["has_positions"] = True
    if fields:
        manifest["position_fields"] = list(fields)
    tmp = os.path.join(index_dir, "manifest.json.tmp")
    with open(tmp, "w") as fh:
        json.dump(manifest, fh, indent=1)
    os.replace(tmp, os.path.join(index_dir, "manifest.json"))


# ---------------------------------------------------------------------------
# positions compaction — the Merger pass for the positional sibling table
# ---------------------------------------------------------------------------

_POS_DECODED_SCHEMA = "term string, doc_id long, dl int, pos int, gen int"


def _make_decode_positions_partition(codecs: list[str]):
    """mapInPandas kernel: generation position blocks → occurrence rows
    (term, doc_id, dl, pos, gen), one decode_position_blocks call per
    generation present in the batch, with its own codec (mirrors
    compact.py's posting decode kernel, which emits a row per posting —
    here a row per occurrence, the position stream's native granularity).
    Blocks decode independently, so their order does not matter."""

    def fn(batches):
        for pdf in batches:
            for gen, g in pdf.groupby("gen", sort=False):
                n = g["n"].to_numpy()
                d, tf, dl, pos, _occ = decode_position_blocks(
                    list(g["header"]), list(g["positions"]), n, codecs[int(gen)]
                )
                if not pos.size:
                    continue
                yield pd.DataFrame(
                    {
                        "term": np.repeat(np.repeat(g["term"].to_numpy(), n), tf),
                        "doc_id": np.repeat(d, tf),
                        "dl": np.repeat(dl, tf).astype("int32"),
                        "pos": pos.astype("int32"),
                        "gen": np.full(pos.size, gen, dtype=np.int32),
                    }
                )

    return fn
