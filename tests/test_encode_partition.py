"""Whole-partition block encoder tests (pure NumPy/pandas, no Spark).

The build's encode stage hands `_encode_partition_stream` (segments) and
`_encode_positions_stream` (positions) one sorted shuffle partition holding
many (term, shard) groups. These tests drive both entry points directly:

- a Hypothesis suite over multi-group partitions (1-4 shards per term,
  repeated (term, doc) rows that merge into one posting, raw occurrence and
  pre-aggregated `tf` input, block sizes 1/3/128, codecs none/zlib, the
  empty partition): every group decodes back to its postings and
  positions, block metadata equals a per-block recomputation, and
  block_id restarts at 0 for each (term, shard);
- the key-order contract: a doc-order drop inside a group raises
  InvalidKeyOrder, one across a group boundary does not;
- pinned sha256 digests of the rows a small fixed fielded corpus encodes
  to, so any change to the block layout, metadata or payload bytes shows.
"""

import hashlib
import zlib

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from grenad_spark.errors import InvalidKeyOrder
from grenad_spark.functions.varbyte import decode_block_rows, decompress_payloads
from grenad_spark.index.build import _encode_partition_stream
from grenad_spark.index.positions import (
    FIELD_STRIDE,
    MAX_POS,
    _encode_positions_stream,
    decode_position_blocks,
)

SEG_COLS = [
    "term", "shard", "block_id", "n", "first_doc", "last_doc",
    "max_tf", "min_dl", "min_tf", "max_dl", "sum_tf", "payload",
]
POS_COLS = [
    "term", "shard", "block_id", "n", "first_doc", "last_doc",
    "header", "positions",
]


def _batches(rows: pd.DataFrame, batch_rows: int):
    """Split one partition into Arrow-batch-sized frames, as mapInPandas
    delivers it (a group may straddle two batches)."""
    return [
        rows.iloc[i : i + batch_rows].reset_index(drop=True)
        for i in range(0, len(rows), batch_rows)
    ]


def _run(stream, batches, *args) -> pd.DataFrame:
    out = list(stream(iter(batches), *args))
    return pd.concat(out, ignore_index=True) if out else pd.DataFrame()


# ---------------------------------------------------------------------------
# Hypothesis: multi-group partitions
# ---------------------------------------------------------------------------


@st.composite
def partitions(draw):
    """A sorted partition: {(term, shard): (docs, tfs, dls, positions)} plus
    its raw occurrence rows and a pre-aggregated variant whose tf of one
    doc may be split over several adjacent rows."""
    terms = sorted(
        draw(
            st.sets(
                st.text(alphabet="abcü-", min_size=1, max_size=4),
                min_size=0, max_size=5,
            )
        )
    )
    groups = {}
    for t in terms:
        for s in sorted(draw(st.sets(st.integers(0, 3), min_size=1, max_size=4))):
            n = draw(st.integers(1, 9))
            docs = sorted(
                draw(
                    st.sets(
                        st.integers(s * 1000, s * 1000 + 999),
                        min_size=n, max_size=n,
                    )
                )
            )
            tfs = draw(st.lists(st.integers(1, 4), min_size=n, max_size=n))
            dls = draw(st.lists(st.integers(1, 300), min_size=n, max_size=n))
            pos = [
                sorted(draw(st.sets(st.integers(0, 3 * FIELD_STRIDE), min_size=k, max_size=k)))
                for k in tfs
            ]
            groups[(t, s)] = (docs, tfs, dls, pos)
    raw, agg = [], []
    for (t, s), (docs, tfs, dls, pos) in groups.items():
        for d, tf, dl, ps in zip(docs, tfs, dls, pos):
            raw += [(t, s, d, dl, p) for p in ps]
            cut = draw(st.integers(0, tf - 1))
            parts = [cut, tf - cut] if cut else [tf]
            agg += [(t, s, d, dl, k) for k in parts]
    raw_df = pd.DataFrame(raw, columns=["term", "shard", "doc_id", "dl", "pos"])
    agg_df = pd.DataFrame(agg, columns=["term", "shard", "doc_id", "dl", "tf"])
    for df in (raw_df, agg_df):
        df["shard"] = df["shard"].astype("int32")
        df["doc_id"] = df["doc_id"].astype("int64")
        df["dl"] = df["dl"].astype("int32")
    agg_df["tf"] = agg_df["tf"].astype("int32")
    raw_df["pos"] = raw_df["pos"].astype("int32")
    return groups, raw_df, agg_df


def _expected_blocks(docs, tfs, dls, bs):
    d, t, l = (np.asarray(x, dtype=np.int64) for x in (docs, tfs, dls))
    out = []
    for i in range(0, d.size, bs):
        sl = slice(i, i + bs)
        out.append(
            (
                d[sl].size, d[sl][0], d[sl][-1], t[sl].max(), l[sl].min(),
                t[sl].min(), l[sl].max(), t[sl].sum(),
            )
        )
    return out


def _check_segments(seg, groups, bs, codec):
    assert sorted(set(zip(seg["term"], seg["shard"]))) == sorted(groups)
    for (t, s), (docs, tfs, dls, _pos) in groups.items():
        g = seg[(seg["term"] == t) & (seg["shard"] == s)]
        assert g["block_id"].tolist() == list(range(len(g)))
        d, tf, dl = decode_block_rows(
            decompress_payloads(list(g["payload"]), codec), g["n"].to_numpy()
        )
        assert d.tolist() == docs and tf.tolist() == tfs and dl.tolist() == dls
        meta = [
            tuple(r)
            for r in g[
                ["n", "first_doc", "last_doc", "max_tf", "min_dl", "min_tf",
                 "max_dl", "sum_tf"]
            ].itertuples(index=False)
        ]
        assert meta == _expected_blocks(docs, tfs, dls, bs)


@given(
    partitions(),
    st.sampled_from([1, 3, 128]),
    st.sampled_from(["none", "zlib"]),
    st.integers(1, 20),
)
@settings(max_examples=80, deadline=None)
def test_partition_encode_roundtrip(p, bs, codec, batch_rows):
    groups, raw, agg = p
    seg_raw = _run(
        _encode_partition_stream,
        _batches(raw.drop(columns="pos"), batch_rows), codec, bs,
    )
    seg_agg = _run(_encode_partition_stream, _batches(agg, batch_rows), codec, bs)
    posb = _run(_encode_positions_stream, _batches(raw, batch_rows), codec, bs)
    if not groups:
        assert seg_raw.empty and seg_agg.empty and posb.empty
        return
    assert list(seg_raw.columns) == SEG_COLS and list(posb.columns) == POS_COLS
    _check_segments(seg_raw, groups, bs, codec)
    _check_segments(seg_agg, groups, bs, codec)
    assert seg_raw.equals(seg_agg)
    for (t, s), (docs, tfs, dls, pos) in groups.items():
        g = posb[(posb["term"] == t) & (posb["shard"] == s)]
        assert g["block_id"].tolist() == list(range(len(g)))
        d, tf, dl, ps, occ = decode_position_blocks(
            list(g["header"]), list(g["positions"]), g["n"].to_numpy(), codec
        )
        assert d.tolist() == docs and tf.tolist() == tfs and dl.tolist() == dls
        assert ps.tolist() == [x for p in pos for x in p]
        assert occ.tolist() == np.concatenate(([0], np.cumsum(tfs)[:-1])).tolist()
        meta = [
            tuple(r) for r in g[["n", "first_doc", "last_doc"]].itertuples(index=False)
        ]
        assert meta == [b[:3] for b in _expected_blocks(docs, tfs, dls, bs)]


def test_empty_partition_yields_nothing():
    empty = pd.DataFrame(
        {
            "term": pd.Series([], dtype=object),
            "shard": pd.Series([], dtype="int32"),
            "doc_id": pd.Series([], dtype="int64"),
            "dl": pd.Series([], dtype="int32"),
            "pos": pd.Series([], dtype="int32"),
        }
    )
    for stream in (_encode_partition_stream, _encode_positions_stream):
        assert list(stream(iter([]))) == []
        assert list(stream(iter([empty]))) == []


# ---------------------------------------------------------------------------
# key order: inside a group vs across a group boundary
# ---------------------------------------------------------------------------


def _rows(spec):
    df = pd.DataFrame(spec, columns=["term", "shard", "doc_id"])
    df["dl"] = np.int32(5)
    df["pos"] = np.arange(len(df), dtype=np.int32)
    return df


@pytest.mark.parametrize("stream", [_encode_partition_stream, _encode_positions_stream])
def test_doc_order_drop_inside_a_group_raises(stream):
    bad = _rows([("a", 0, 1), ("a", 0, 3), ("a", 0, 2)])
    with pytest.raises(InvalidKeyOrder):
        list(stream(iter([bad])))
    # a doc seen again after another doc (1, 2, 1) is also out of order
    again = _rows([("b", 0, 1), ("b", 0, 2), ("b", 0, 1)])
    with pytest.raises(InvalidKeyOrder):
        list(stream(iter([again])))


@pytest.mark.parametrize("stream", [_encode_partition_stream, _encode_positions_stream])
def test_doc_order_drop_across_groups_is_allowed(stream):
    ok = _rows(
        [
            ("a", 0, 5), ("a", 0, 6),
            ("a", 1, 1),              # shard changes, doc drops
            ("b", 1, 0), ("b", 1, 0),  # term changes, doc drops; a 2-row run
            ("c", 1, 0),              # equal doc in the next group: no merge
        ]
    )
    out = pd.concat(list(stream(iter([ok]))), ignore_index=True)
    assert list(zip(out["term"], out["shard"], out["n"], out["first_doc"])) == [
        ("a", 0, 2, 5), ("a", 1, 1, 1), ("b", 1, 1, 0), ("c", 1, 1, 0),
    ]


def test_position_overflow_rejected_in_partition():
    rows = _rows([("a", 0, 1), ("b", 0, 1)])
    rows.loc[1, "pos"] = MAX_POS + 1
    with pytest.raises(ValueError, match="MAX_POS"):
        list(_encode_positions_stream(iter([rows])))


# ---------------------------------------------------------------------------
# pinned digests of a fixed fielded corpus
# ---------------------------------------------------------------------------

_WORDS = ["a", "the", "of", "über", "merge-sort", "grenad", "spark", "x", "yy", "zzz"]
N_DOCS, N_SHARDS, N_PARTS, TITLE = 60, 3, 3, 2


def _fixed_corpus():
    """60 docs of 0-24 tokens (zipf-ish word draw, a few empty docs),
    split into a 2-token title field and a body field."""
    rng = np.random.default_rng(20261018)
    p = 1.0 / np.arange(1, len(_WORDS) + 1)
    p /= p.sum()
    return [
        [str(w) for w in rng.choice(_WORDS, size=int(rng.integers(0, 25)), p=p)]
        for _ in range(N_DOCS)
    ]


def _partitioned(df, keys):
    """Hash-split on (term, shard) into N_PARTS partitions, each sorted like
    the build's sortWithinPartitions, in 7-row batches."""
    part = [
        zlib.crc32(f"{t}\x00{s}".encode()) % N_PARTS
        for t, s in zip(df["term"], df["shard"])
    ]
    df = df.assign(_p=part)
    out = []
    for i in range(N_PARTS):
        pdf = df[df["_p"] == i].drop(columns="_p")
        pdf = pdf.sort_values(keys, kind="stable").reset_index(drop=True)
        out.append(_batches(pdf, 7))
    return out


def _streams():
    docs = _fixed_corpus()
    occ = []
    for d, toks in enumerate(docs):
        shard = d * N_SHARDS // N_DOCS
        for i, t in enumerate(toks):
            fid, p = (0, i) if i < TITLE else (1, i - TITLE)
            occ.append((t, shard, d, len(toks), fid * FIELD_STRIDE + p))
    occ = pd.DataFrame(occ, columns=["term", "shard", "doc_id", "dl", "pos"])
    occ = occ.astype({"shard": "int32", "doc_id": "int64", "dl": "int32", "pos": "int32"})
    agg = (
        occ.groupby(["term", "doc_id", "dl", "shard"], as_index=False)
        .size()
        .rename(columns={"size": "tf"})
        .astype({"tf": "int32"})
    )
    return occ, agg


def _digest(frames) -> str:
    df = pd.concat(frames, ignore_index=True)
    rows = sorted(tuple(r) for r in df.itertuples(index=False))
    h = hashlib.sha256()
    for r in rows:
        h.update(repr(tuple(v.item() if hasattr(v, "item") else v for v in r)).encode())
    return h.hexdigest()


# computed with the per-(term, shard)-group encode loops that the partition
# encoder (varbyte.encode_blocks) replaced; any byte that moves in a block
# row changes them
PINNED = {
    ("segments", "none"): (
        "80497260eeff8c6703bb1cf57e83f42b62714b97fcf989217c2d6d773025b992"
    ),
    ("segments", "zlib"): (
        "856caac4b667e5acfa42c007c8e9e0032b690784c03f6ab6d4207ac094ee54b4"
    ),
    ("positions", "none"): (
        "768ae8ca47c4319d4590ee6793d9a86a89e7b6cfe67494e25b887b99d612d9fc"
    ),
    ("positions", "zlib"): (
        "63c1e351072e6c25642c38b0d1c4aa35226ea011ac7173f132e46dc86214c187"
    ),
}


@pytest.mark.parametrize("codec", ["none", "zlib"])
def test_fixed_corpus_rows_are_pinned(codec):
    occ, agg = _streams()
    seg_cols = ["term", "shard", "doc_id"]
    seg_raw = [
        f for b in _partitioned(occ.drop(columns="pos"), seg_cols)
        for f in _encode_partition_stream(iter(b), codec, 4)
    ]
    seg_agg = [
        f for b in _partitioned(agg, seg_cols)
        for f in _encode_partition_stream(iter(b), codec, 4)
    ]
    pos = [
        f for b in _partitioned(occ, seg_cols + ["pos"])
        for f in _encode_positions_stream(iter(b), codec, 4)
    ]
    assert _digest(seg_raw) == _digest(seg_agg)
    assert _digest(seg_raw) == PINNED[("segments", codec)]
    assert _digest(pos) == PINNED[("positions", codec)]


# ---------------------------------------------------------------------------
# compaction decode: whole batches, one call per generation
# ---------------------------------------------------------------------------


def test_generation_decode_is_order_free():
    """Compaction's decode kernels read each generation's blocks in one
    call, in whatever order the scan delivers them: 2 generations (codecs
    none and zlib) × 3 terms × 3 doc-range shards, rows shuffled and split
    across batches, decode back to exactly the encoded postings and
    occurrences."""
    from grenad_spark.functions.varbyte import compress_payload
    from grenad_spark.index.compact import _decode_partition
    from grenad_spark.index.positions import (
        _make_decode_positions_partition,
        encode_position_blocks,
    )

    rng = np.random.default_rng(11)
    codecs = ["none", "zlib"]
    seg_rows, pos_rows, want_post, want_occ = [], [], [], []
    for gen, codec in enumerate(codecs):
        for term in ("alpha", "beta", "gamma"):
            for shard in range(3):
                docs = np.sort(rng.choice(np.arange(shard * 100, shard * 100 + 100),
                                          size=int(rng.integers(1, 30)), replace=False))
                tfs = rng.integers(1, 4, size=docs.size)
                dls = tfs + rng.integers(0, 50, size=docs.size)
                pos = np.concatenate([np.sort(rng.choice(int(dl), size=int(tf), replace=False))
                                      for tf, dl in zip(tfs, dls)])
                for b, (n, _f, _l, header, positions) in enumerate(
                    encode_position_blocks(docs, tfs, dls, pos, block_size=4)
                ):
                    hdr = compress_payload(header, codec)
                    seg_rows.append((term, gen, shard, b, n, hdr))
                    pos_rows.append((gen, term, n, hdr, compress_payload(positions, codec)))
                want_post += [(term, int(d), int(t), int(l), gen)
                              for d, t, l in zip(docs, tfs, dls)]
                want_occ += [(term, int(d), int(l), int(p), gen)
                             for d, l, p in zip(np.repeat(docs, tfs), np.repeat(dls, tfs), pos)]
    order = rng.permutation(len(seg_rows))
    seg = pd.DataFrame([seg_rows[i] for i in order],
                       columns=["term", "gen", "shard", "block_id", "n", "payload"])
    pos = pd.DataFrame([pos_rows[i] for i in order],
                       columns=["gen", "term", "n", "header", "positions"])

    got_post = _run(_decode_partition, _batches(seg, 17), codecs)
    assert sorted(map(tuple, got_post.itertuples(index=False))) == sorted(want_post)
    got_occ = _run(lambda it: _make_decode_positions_partition(codecs)(it), _batches(pos, 17))
    assert list(got_occ.columns) == ["term", "doc_id", "dl", "pos", "gen"]
    assert sorted(map(tuple, got_occ.itertuples(index=False))) == sorted(want_occ)
