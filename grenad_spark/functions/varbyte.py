"""Vectorized variable-byte codec + posting-block encoder.

Re-expresses grenad's varint framing (reference src/varint.rs:17-65: LEB128
1-5-byte u32) and its block layout with sparse footer metadata
(src/block_writer.rs:95-134) as NumPy array programs — zero per-row Python, so
they run inside Arrow-batched pandas UDFs at full speed.

Posting payload layout (one block, ≤ BLOCK_SIZE postings):
    varbyte([abs_doc_0, tf_0, dl_0,  gap_1, tf_1, dl_1,  ...])
- doc gaps are deltas vs the previous posting in the SAME block; each block
  restarts with an absolute doc_id, so blocks decode independently (grenad's
  independently-seekable compressed blocks, src/block.rs:47-73).
- dl (doc length) rides along so BM25 scoring inside a query UDF needs no
  join against a norms table — the posting stream is self-contained.

Block metadata (grenad's sparse footer index + our block-max-WAND addition):
  first_doc, last_doc, max_tf, max_tfpart per block -> next_geq() block
  skipping (BlockCursor binary-search analog, src/block.rs:214-255) and
  block-max upper-bound scoring.
"""

from __future__ import annotations

import numpy as np

BLOCK_SIZE = 128  # postings per block (grenad: 8 KiB target, src/writer.rs:12)
STRIDE = 3  # values per posting: gap, tf, dl


# ---------------------------------------------------------------------------
# varbyte core: u64 values <-> LEB128 bytes, fully vectorized
# ---------------------------------------------------------------------------

def varbyte_lengths(v: np.ndarray) -> np.ndarray:
    """Encoded byte length per value (>=1), vectorized."""
    from grenad_spark.functions import native

    nat = native.lengths(np.asarray(v, dtype=np.uint64))
    if nat is not None:
        return nat
    nbits = np.ones(v.shape, dtype=np.int64)
    tmp = v >> np.uint64(7)
    while tmp.any():
        nbits += (tmp > 0).astype(np.int64)
        tmp >>= np.uint64(7)
    return nbits


def varbyte_encode(values: np.ndarray) -> bytes:
    """Encode a uint array to LEB128 (7 bits/byte, high bit = continuation).

    Uses the C fast path (functions/native.py) when available — bit-identical
    output, ~22× faster; falls back to the layered NumPy encoder."""
    v = np.asarray(values, dtype=np.uint64)
    if v.size == 0:
        return b""
    from grenad_spark.functions import native

    nat = native.encode(v)
    if nat is not None:
        return nat
    nbits = varbyte_lengths(v)
    total = int(nbits.sum())
    out = np.empty(total, dtype=np.uint8)
    offsets = np.concatenate(([0], np.cumsum(nbits)[:-1]))
    for j in range(int(nbits.max())):  # ≤10 layers for u64
        mask = nbits > j
        idx = offsets[mask] + j
        chunk = (v[mask] >> np.uint64(7 * j)) & np.uint64(0x7F)
        cont = (nbits[mask] - 1) > j
        out[idx] = chunk.astype(np.uint8) | (cont.astype(np.uint8) << 7)
    return out.tobytes()


def varbyte_decode(data: bytes) -> np.ndarray:
    """Decode LEB128 bytes back to a uint64 array (vectorized).

    Uses the C fast path (functions/native.py) when available — bit-identical
    output, ~15× faster; falls back to the NumPy scatter decoder."""
    from grenad_spark.functions import native

    nat = native.decode(data)
    if nat is not None:
        return nat
    b = np.frombuffer(data, dtype=np.uint8)
    if b.size == 0:
        return np.empty(0, dtype=np.uint64)
    is_end = (b & 0x80) == 0
    val_idx = np.concatenate(([0], np.cumsum(is_end)[:-1]))
    ends = np.flatnonzero(is_end)
    starts = np.concatenate(([0], ends[:-1] + 1))
    within = np.arange(b.size, dtype=np.int64) - starts[val_idx]
    out = np.zeros(int(is_end.sum()), dtype=np.uint64)
    np.add.at(
        out, val_idx, (b.astype(np.uint64) & np.uint64(0x7F)) << (np.uint64(7) * within.astype(np.uint64))
    )
    return out


# ---------------------------------------------------------------------------
# posting blocks (strided: doc gap + per-posting int columns)
# ---------------------------------------------------------------------------

def _slice_binary(buf: bytes, offsets: np.ndarray) -> np.ndarray:
    """Object array of the byte strings buf[offsets[i]:offsets[i+1]]: one
    Arrow binary column over the shared buffer, no per-slice Python."""
    import pyarrow as pa

    arr = pa.Array.from_buffers(
        pa.large_binary(),
        offsets.size - 1,
        [None, pa.py_buffer(offsets.astype(np.int64)), pa.py_buffer(buf)],
    )
    return arr.to_numpy(zero_copy_only=False)


def _byte_offsets(lens: np.ndarray, cuts: np.ndarray) -> np.ndarray:
    """Byte offsets of the value runs that start at `cuts` (plus the end),
    given each value's encoded length."""
    cum = np.zeros(lens.size + 1, dtype=np.int64)
    np.cumsum(lens, out=cum[1:])
    return np.append(cum[cuts], cum[-1])


def encode_blocks(
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    group_start: np.ndarray | None = None,
    block_size: int = BLOCK_SIZE,
    positions: np.ndarray | None = None,
    payload_codec: str = "none",
) -> dict[str, np.ndarray]:
    """Encode the postings of many groups as independent blocks, in one
    vectorized pass (grenad's write_chunk → BlockWriter stream,
    src/sorter.rs:541-561 and src/block_writer.rs:95-134).

    Postings are one row per (group, doc), grouped and doc-ordered;
    group_start[i] is True at each group's first posting (None = one
    group). Within a group doc_ids must be strictly increasing (the
    Writer::insert key-order assertion, src/block_writer.rs:109 — violated
    input is a build bug, so InvalidKeyOrder); across a group boundary they
    may drop. A block starts wherever a posting's index within its group is
    a multiple of block_size, so block_id restarts at 0 per group.

    Steps: one gap/tf/dl interleave whose gap restarts (absolute doc) at
    every block start, ONE varbyte_encode call, block metadata by reduceat,
    and the payload column sliced from the single buffer by byte offsets.
    positions (flat, doc-major, Σ tfs values) adds one position-delta pass
    — absolute at each doc's first occurrence, so blocks decode
    independently — split at each block's first occurrence. Only a
    non-"none" payload_codec runs a per-block compress_payload loop.

    Returns per-block columns: start (index of the block's first posting),
    block_id, n, first_doc, last_doc, max_tf, min_dl, min_tf, max_dl,
    sum_tf, payload (object array of bytes) and, given positions,
    positions. max_tf + min_dl give the block-max WAND UPPER bound: the
    BM25 tf-part is increasing in tf and decreasing in dl, so
    score_ub(block) = idf * tfpart(max_tf, min_dl) dominates every doc in
    the block (grenad block footer metadata analog,
    src/block_writer.rs:126-134). min_tf + max_dl give the dual LOWER bound
    — score_lb(block) = idf * tfpart(min_tf, max_dl) is GUARANTEED by every
    doc in the block, which is what lets the serving plan compute a valid
    top-k threshold θ from metadata alone and prune blocks BEFORE their
    payloads cross the shuffle (query/search.py metadata prune pass).
    """
    doc_ids = np.asarray(doc_ids, dtype=np.int64)
    tfs = np.asarray(tfs, dtype=np.int64)
    dls = np.asarray(dls, dtype=np.int64)
    n = doc_ids.size
    if group_start is None:
        group_start = np.zeros(n, dtype=bool)
        group_start[:1] = True
    if n > 1 and not ((doc_ids[1:] > doc_ids[:-1]) | group_start[1:]).all():
        from grenad_spark.errors import InvalidKeyOrder

        raise InvalidKeyOrder("doc_ids must be strictly increasing")
    group_first = np.flatnonzero(group_start)
    in_group = np.arange(n) - group_first[np.cumsum(group_start) - 1]
    starts = np.flatnonzero(in_group % block_size == 0)
    ends = np.append(starts[1:], n) if n else starts
    flat = np.empty((n, STRIDE), dtype=np.int64)
    flat[:, 0] = doc_ids
    flat[1:, 0] -= doc_ids[:-1]
    flat[starts, 0] = doc_ids[starts]  # block restart points
    flat[:, 1] = tfs
    flat[:, 2] = dls
    flat = flat.ravel().view(np.uint64)
    offsets = _byte_offsets(
        varbyte_lengths(flat).reshape(n, STRIDE).sum(axis=1), starts
    )
    cols = {
        "start": starts,
        "block_id": in_group[starts] // block_size,
        "n": ends - starts,
        "first_doc": doc_ids[starts],
        "last_doc": doc_ids[ends - 1],
        "max_tf": np.maximum.reduceat(tfs, starts),
        "min_dl": np.minimum.reduceat(dls, starts),
        "min_tf": np.minimum.reduceat(tfs, starts),
        "max_dl": np.maximum.reduceat(dls, starts),
        "sum_tf": np.add.reduceat(tfs, starts),
        "payload": _slice_binary(varbyte_encode(flat), offsets),
    }
    del flat
    if positions is not None:
        positions = np.asarray(positions)
        occ_starts = np.zeros(n, dtype=np.int64)
        np.cumsum(tfs[:-1], out=occ_starts[1:])
        vals = positions.astype(np.int64)
        vals[1:] -= positions[:-1]
        vals[occ_starts] = positions[occ_starts]  # per-doc restart points
        vals = vals.view(np.uint64)
        offsets = _byte_offsets(varbyte_lengths(vals), occ_starts[starts])
        cols["positions"] = _slice_binary(varbyte_encode(vals), offsets)
    if payload_codec != "none":
        for c in ("payload", "positions"):
            if c in cols:
                cols[c] = np.array(
                    [compress_payload(p, payload_codec) for p in cols[c]],
                    dtype=object,
                )
    return cols


def encode_posting_blocks(
    doc_ids: np.ndarray, tfs: np.ndarray, dls: np.ndarray, block_size: int = BLOCK_SIZE
) -> list[tuple[int, int, int, int, int, int, int, int, bytes]]:
    """Encode one term's postings as independent per-block payloads — the
    one-group call of encode_blocks (which documents the layout, metadata
    and key-order contract).

    Returns [(n, first_doc, last_doc, max_tf, min_dl, min_tf, max_dl,
    sum_tf, payload), ...] in doc order; block_id is the list index.
    """
    cols = encode_blocks(doc_ids, tfs, dls, block_size=block_size)
    return list(
        zip(
            *(
                cols[c].tolist()
                for c in (
                    "n", "first_doc", "last_doc", "max_tf", "min_dl",
                    "min_tf", "max_dl", "sum_tf", "payload",
                )
            )
        )
    )


# ---------------------------------------------------------------------------
# optional per-block payload compression — grenad's per-block codec layer
# (src/compression.rs:9-28: None/Snappy/Zlib/Lz4/Zstd; stdlib zlib here,
# parquet-level zstd covers the storage layer). Payloads are small (≤ ~1 KiB
# varbyte), so "none" is the default; zlib pays off for long high-dl blocks.
# ---------------------------------------------------------------------------

# Full grenad codec matrix (src/compression.rs:9-28 None/Snappy/Zlib/Lz4/
# Zstd; SnappyPre05 is a legacy wire-compat variant with no Python analog).
# zlib is stdlib; snappy/lz4/zstd ride on pyarrow's codecs with a 4-byte
# little-endian raw-length header (pyarrow.decompress needs the decoded size,
# which grenad stores in its block header too).
#
# WriterBuilder::compression_level (src/writer.rs:46-52) rides inside the
# codec string as "name:level" ("zstd:19", "zlib:9") so one string threads
# the whole knob through manifest, compaction generations, and every read
# path. Honored for zlib/zstd exactly as grenad (compression.rs:111-113,
# 191-193) plus lz4 (grenad ignores it there, compression.rs:217, but
# pyarrow's lz4 supports levels 1-12 so we honor it); accepted-but-ignored
# for snappy (compression.rs:165) and none, mirroring grenad's `_level`
# arms. Decompression is level-agnostic for every codec in the matrix, so
# readers only need the base name.
PAYLOAD_CODECS = ("none", "zlib", "snappy", "lz4", "zstd")
_ARROW_CODECS = {"snappy", "lz4", "zstd"}
_LEVEL_CODECS = {"zlib", "zstd", "lz4"}


def split_codec(codec: str) -> tuple[str, int | None]:
    """'zstd:19' -> ('zstd', 19); 'zstd' -> ('zstd', None). Unknown base
    names or malformed levels raise InvalidCompressionType (grenad
    Error::InvalidCompressionType, src/error.rs:6-15)."""
    from grenad_spark.errors import InvalidCompressionType

    name, sep, lvl = codec.partition(":")
    if name not in PAYLOAD_CODECS:
        raise InvalidCompressionType(f"unknown payload codec {codec!r}")
    if not sep:
        return name, None
    try:
        return name, int(lvl)
    except ValueError:
        raise InvalidCompressionType(
            f"invalid compression level {lvl!r} in payload codec {codec!r}"
        ) from None


def _arrow_codec_available(codec: str) -> bool:
    try:
        import pyarrow as pa

        return bool(pa.Codec.is_available(codec))
    except Exception:  # pragma: no cover - pyarrow always present here
        return False


def _reject_codec(codec: str) -> None:
    """Distinguish the two failure modes (a valid index built elsewhere must
    not read as 'corrupt' just because this pyarrow build lacks its codec):
    unknown codec → InvalidCompressionType (grenad Error::InvalidCompressionType,
    src/error.rs:6-15); known-but-unavailable → RuntimeError naming the
    missing runtime dependency."""
    if codec in PAYLOAD_CODECS:
        raise RuntimeError(
            f"payload codec {codec!r} is valid but not available in this "
            f"pyarrow build — install a pyarrow with {codec} support to read "
            f"this index"
        )
    from grenad_spark.errors import InvalidCompressionType

    raise InvalidCompressionType(f"unknown payload codec {codec!r}")


def compress_payload(payload: bytes, codec: str) -> bytes:
    codec, level = split_codec(codec)
    if codec == "none":
        return payload
    if codec == "zlib":
        import zlib

        return zlib.compress(payload, 6 if level is None else level)
    if codec in _ARROW_CODECS and _arrow_codec_available(codec):
        import pyarrow as pa

        if level is None or codec not in _LEVEL_CODECS:
            body = pa.compress(payload, codec=codec, asbytes=True)
        else:
            body = pa.Codec(codec, compression_level=level).compress(
                payload, asbytes=True
            )
        return len(payload).to_bytes(4, "little") + body
    _reject_codec(codec)


def decompress_payload(payload: bytes, codec: str) -> bytes:
    codec, _ = split_codec(codec)
    if codec == "none":
        return payload
    if codec == "zlib":
        import zlib

        return zlib.decompress(payload)
    if codec in _ARROW_CODECS and _arrow_codec_available(codec):
        import pyarrow as pa

        raw_len = int.from_bytes(payload[:4], "little")
        return pa.decompress(payload[4:], decompressed_size=raw_len, codec=codec, asbytes=True)
    _reject_codec(codec)


def decompress_payloads(payloads: list[bytes], codec: str) -> list[bytes]:
    if split_codec(codec)[0] == "none":
        return payloads
    return [decompress_payload(p, codec) for p in payloads]


def decode_block_rows(payloads: list[bytes], ns: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Vectorized decode of many independent block payloads at once.

    ns[i] = posting count of payloads[i] (the segment-row `n` column). One
    varbyte pass over the concatenated bytes, then a restart-aware cumsum —
    no per-block Python beyond the byte join.
    Returns (doc_ids, tfs, dls) concatenated in input order.
    """
    ns = np.asarray(ns, dtype=np.int64)
    if len(payloads) == 0 or ns.sum() == 0:
        e = np.empty(0, dtype=np.int64)
        return e, e, e
    flat = varbyte_decode(b"".join(payloads))
    gaps = flat[0::STRIDE].astype(np.int64)
    tfs = flat[1::STRIDE].astype(np.int64)
    dls = flat[2::STRIDE].astype(np.int64)
    c = np.cumsum(gaps)
    restarts = np.concatenate(([0], np.cumsum(ns)[:-1]))
    offsets = np.zeros(restarts.size, dtype=np.int64)
    offsets[1:] = c[restarts[1:] - 1]
    lens = np.diff(np.append(restarts, gaps.size))
    doc_ids = c - np.repeat(offsets, lens)
    return doc_ids, tfs, dls


def decode_block(payload: bytes) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode exactly one block payload -> (doc_ids, tfs, dls)."""
    flat = varbyte_decode(payload)
    gaps = flat[0::STRIDE].astype(np.int64)
    tfs = flat[1::STRIDE].astype(np.int64)
    dls = flat[2::STRIDE].astype(np.int64)
    return np.cumsum(gaps), tfs, dls


def decode_block_list(payloads: list[bytes]) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode a list of independent block payloads (arbitrary sizes)."""
    if not payloads:
        e = np.empty(0, dtype=np.int64)
        return e, e, e
    parts = [decode_block(p) for p in payloads]
    return (
        np.concatenate([p[0] for p in parts]),
        np.concatenate([p[1] for p in parts]),
        np.concatenate([p[2] for p in parts]),
    )


def merge_posting_blocks(payload_lists: list[list[bytes]]) -> list[tuple[int, int, int, int, int, int, int, int, bytes]]:
    """MergeFunction for postings across segment generations (MergerIter's
    one-merge-call-per-key, src/merger.rs:173-186): decode every generation,
    merge by doc_id — LAST generation wins on doc collision (a re-crawled
    doc replaces its posting; generations are passed oldest→newest, the
    src/merger.rs:51-57 source-order contract) — then re-encode."""
    decoded = [decode_block_list(p) for p in payload_lists if p]
    if not decoded:
        return []
    doc_ids = np.concatenate([d[0] for d in decoded])
    tfs = np.concatenate([d[1] for d in decoded])
    dls = np.concatenate([d[2] for d in decoded])
    gen = np.concatenate(
        [np.full(d[0].size, i, dtype=np.int64) for i, d in enumerate(decoded)]
    )
    order = np.lexsort((gen, doc_ids))  # doc asc, then generation asc
    doc_ids, tfs, dls = doc_ids[order], tfs[order], dls[order]
    # keep LAST occurrence per doc (newest generation)
    keep = np.ones(doc_ids.size, dtype=bool)
    keep[:-1] = doc_ids[1:] != doc_ids[:-1]
    return encode_posting_blocks(doc_ids[keep], tfs[keep], dls[keep])
