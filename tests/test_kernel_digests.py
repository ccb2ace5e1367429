"""Pinned outputs of every serving kernel (pure NumPy/pandas, no Spark).

A fixed 60-doc fielded corpus (3 title tokens, the rest body) is encoded
into segment and position blocks with the build's block encoders at block
size 4, under codecs none and zlib. Every kernel factory of the serving
paths then runs over fixed queries — ties (duplicated docs), an
out-of-vocabulary term, repeated phrase terms, 3-5 term sums whose float
rounding depends on the order terms accumulate in — on per-(query, shard)
groups and on one merged group per query, with each group's block rows in
a scrambled order (multi-file scans deliver them so). The row-sorted
outputs, float64 values hashed by their exact bits, are pinned: a kernel
refactor that moves one score bit, one row or one dtype changes a digest.
Both codecs must give the same outputs.
"""

import hashlib

import numpy as np
import pandas as pd
import pytest

from grenad_spark.functions.varbyte import compress_payload, encode_posting_blocks
from grenad_spark.index.positions import FIELD_STRIDE, encode_position_blocks
from grenad_spark.query import fields, matches, phrase, ranked, search

_WORDS = [
    "the", "a", "merge", "sort", "spark", "data", "stream",
    "window", "join", "fast", "buffalo", "key", "row",
]
N_DOCS, N_SHARDS, TITLE, BLOCK, K = 60, 3, 3, 4, 4
OOV = "zzzunknown"

QUERIES = [
    (1, "merge sort"),
    (2, "the spark data stream"),
    (3, "buffalo buffalo buffalo"),
    (4, f"merge {OOV}"),
    (5, "window join fast key row"),
    (6, "a the"),
    (7, "sort merge sort"),
    (8, "data"),
    (9, "fast key"),
]
# a "typo" neighbour per word: the derivation set of the slot kernels
_TYPO = {
    "merge": "sort", "sort": "merge", "spark": "stream", "stream": "spark",
    "data": "row", "window": "join", "fast": "key", "buffalo": "the",
    "the": "a", "a": "the", "join": "window", "key": "fast", "row": "data",
}


def _corpus():
    """60 docs of 0-13 tokens drawn zipf-ish; docs 50-59 repeat docs 0-9
    (equal tf and dl: exact score ties), docs 20 and 41 are empty."""
    rng = np.random.default_rng(20261019)
    p = 1.0 / np.arange(1, len(_WORDS) + 1)
    p /= p.sum()
    docs = [
        [str(w) for w in rng.choice(_WORDS, size=int(rng.integers(1, 14)), p=p)]
        for _ in range(50)
    ]
    docs[20] = []
    docs[41] = []
    docs[7] = ["buffalo", "buffalo", "buffalo", "merge", "sort"]
    return docs + [list(d) for d in docs[:10]]


def _index():
    """(segment rows, position rows, df, avgdl) per codec, encoded per
    (term, shard) exactly as the build lays blocks out."""
    docs = _corpus()
    post: dict[tuple[str, int], dict[int, list[int]]] = {}
    for d, toks in enumerate(docs):
        shard = d * N_SHARDS // N_DOCS
        for i, t in enumerate(toks):
            fid, p = (0, i) if i < TITLE else (1, i - TITLE)
            post.setdefault((t, shard), {}).setdefault(d, []).append(fid * FIELD_STRIDE + p)
    dl = {d: len(toks) for d, toks in enumerate(docs)}
    df: dict[str, int] = {}
    for (t, _s), per_doc in post.items():
        df[t] = df.get(t, 0) + len(per_doc)
    out = {}
    for codec in ("none", "zlib"):
        seg, pos = [], []
        for (t, s), per_doc in sorted(post.items()):
            ds = np.array(sorted(per_doc), dtype=np.int64)
            tfs = np.array([len(per_doc[d]) for d in ds], dtype=np.int64)
            dls = np.array([dl[d] for d in ds], dtype=np.int64)
            ps = np.concatenate([per_doc[d] for d in ds]).astype(np.int64)
            for b, (n, f, l, mtf, mdl, mitf, mxdl, _stf, pay) in enumerate(
                encode_posting_blocks(ds, tfs, dls, block_size=BLOCK)
            ):
                seg.append((t, s, b, n, f, l, mtf, mdl, mitf, mxdl,
                            compress_payload(pay, codec)))
            for b, (n, f, l, hdr, pp) in enumerate(
                encode_position_blocks(ds, tfs, dls, ps, block_size=BLOCK)
            ):
                pos.append((t, s, b, n, f, l, compress_payload(hdr, codec),
                            compress_payload(pp, codec)))
        seg = pd.DataFrame(seg, columns=[
            "term", "shard", "block_id", "n", "first_doc", "last_doc",
            "max_tf", "min_dl", "min_tf", "max_dl", "payload",
        ])
        pos = pd.DataFrame(pos, columns=[
            "term", "shard", "block_id", "n", "first_doc", "last_doc",
            "header", "positions",
        ])
        out[codec] = (seg, pos)
    return out, df, float(np.mean(list(dl.values())))


BLOCKS, DF, AVGDL = _index()


def _idf(t):
    return search._driver_idf(float(N_DOCS), DF[t])


def _tokens(q):
    return [t for t in q.lower().split() if t]


def _distinct(q):
    return list(dict.fromkeys(_tokens(q)))


def _groups(table, codec, pairs, cols, merged):
    """Kernel input groups for (query_id, term) pairs: each pair's block
    rows with its idf, per (query_id, shard) — or one group per query when
    merged (every shard relabelled 0, like shard DIV g) — rows scrambled."""
    blocks = BLOCKS[codec][0 if table == "segments" else 1]
    rows = []
    for q, t in pairs:
        b = blocks[blocks["term"] == t].assign(query_id=q, idf=_idf(t))
        rows.append(b)
    pdf = pd.concat(rows, ignore_index=True)
    if merged:
        pdf["shard"] = 0
    out = []
    for (q, s), g in pdf.groupby(["query_id", "shard"], sort=True):
        rng = np.random.default_rng(1000 * int(q) + int(s))
        g = g.iloc[rng.permutation(len(g))]
        out.append(g[["query_id", "shard", *cols]].reset_index(drop=True))
    return out


def _bow_pairs(queries=QUERIES):
    """(query_id, term) over distinct in-vocabulary tokens, query order."""
    return [(q, t) for q, text in queries for t in _distinct(text) if t in DF]


def _slot_meta():
    """qid -> {derivation -> [(slot, distance)]}: each slot's own word at
    distance 0 and its neighbour at 1 (a derivation may credit 2 slots)."""
    qslots, meta = {}, {}
    for q, text in QUERIES:
        slots = _distinct(text)
        qslots[q] = slots
        for i, w in enumerate(slots):
            for cand, dist in ((w, 0), (_TYPO.get(w), 1)):
                if cand in DF:
                    meta.setdefault(q, {}).setdefault(cand, []).append((i, dist))
    pairs = [(q, t) for q, m in meta.items() for t in sorted(m)]
    return qslots, meta, pairs


def _run(kernel, groups):
    return [kernel(g) for g in groups]


def _digest(frames) -> str:
    """sha256 over the non-empty outputs: their column names and dtypes,
    and their rows sorted, floats by exact bits."""
    frames = [f for f in frames if f is not None and len(f)]
    heads = sorted({(tuple(f.columns), tuple(str(t) for t in f.dtypes)) for f in frames})

    def cell(v):
        v = v.item() if hasattr(v, "item") else v
        return v.hex() if isinstance(v, float) else v

    rows = sorted(
        repr(tuple(cell(v) for v in r)) for f in frames for r in f.itertuples(index=False)
    )
    h = hashlib.sha256(repr(heads).encode())
    for r in rows:
        h.update(r.encode())
    return h.hexdigest()


class _Index:
    """The handle fields the shared-decode entry points read."""

    n_docs = N_DOCS
    avgdl = AVGDL

    def __init__(self, codec):
        self.payload_codec = codec

    def term_dfs(self, _spark, terms):
        return {t: DF[t] for t in terms if t in DF}


def _shared(monkeypatch, codec, entry, table, queries):
    """Run a shared-decode entry point's driver branch on the fixed blocks:
    the block read returns every row of the call's terms (scrambled), and
    the rank step hands back the kernel's raw output."""
    blocks = BLOCKS[codec][0 if table == "segments" else 1]

    def local_blocks(_index, _table, terms, columns):
        b = blocks[blocks["term"].isin(terms)]
        b = b.iloc[np.random.default_rng(7).permutation(len(b))]
        return b[list(columns)].reset_index(drop=True)

    monkeypatch.setattr(search, "_serve_local", lambda *a: True)
    monkeypatch.setattr(search, "_local_blocks", local_blocks)
    monkeypatch.setattr(search, "_rank_local", lambda _s, out, *a: out)
    return [entry(None, _Index(codec), queries, k=K)]


def _outputs(codec, merged, monkeypatch) -> dict[str, list]:
    seg_cols = search._SCORE_COLS
    pos_cols = phrase._POS_COLS
    bow = _bow_pairs()
    seg = _groups("segments", codec, bow, seg_cols, merged)
    pos = _groups("positions", codec, bow, pos_cols, merged)
    qslots, meta, spairs = _slot_meta()
    tokens = {q: _tokens(text) for q, text in QUERIES}
    distinct = {q: _distinct(text) for q, text in QUERIES}
    out = {
        "exhaustive": _run(search._make_exhaustive(AVGDL, K, codec), seg),
        "wand": _run(search._make_wand_batched(AVGDL, K, codec), seg),
        "wand_dense": _run(
            search._make_wand_batched(AVGDL, K, codec, sparse_postings_max=0), seg
        ),
        "termcount": _run(search._make_exhaustive_with_termcount(AVGDL, codec), seg),
        "term_match": _run(search._make_term_match_rows(AVGDL, codec), seg),
        "typo_ranked": _run(
            search._make_typo_ranked_kernel(meta, AVGDL, codec),
            _groups("segments", codec, spairs, search._PAYLOAD_COLS, merged),
        ),
        "phrase": _run(
            phrase._make_phrase_kernel(
                {**tokens, 10: [(0, "merge"), (2, "sort")]}, AVGDL, codec
            ),
            pos + _groups("positions", codec, [(10, "merge"), (10, "sort")],
                          pos_cols, merged),
        ),
        "proximity": _run(phrase._make_proximity_kernel(tokens, AVGDL, codec), pos),
        "mixed": _run(
            phrase._make_mixed_kernel(
                {
                    1: ([["merge", "sort"]], ["data"]),
                    2: ([], ["spark", "stream", OOV]),
                    3: ([["buffalo", "buffalo"]], ["merge"]),
                    5: ([["fast", "key"], ["the"]], ["row"]),
                    9: ([["key", "fast"]], []),
                },
                AVGDL, codec,
            ),
            _groups(
                "positions", codec,
                [(1, "data"), (1, "merge"), (1, "sort"), (2, "spark"), (2, "stream"),
                 (3, "buffalo"), (3, "merge"), (5, "fast"), (5, "key"), (5, "row"),
                 (5, "the"), (9, "fast"), (9, "key")],
                pos_cols, merged,
            ),
        ),
        "attr": _run(ranked._make_attr_kernel(distinct, AVGDL, codec), pos),
        "ranked": _run(
            ranked._make_ranked_kernel(qslots, meta, AVGDL, codec),
            _groups("positions", codec, spairs, pos_cols, merged),
        ),
        "search_on": _run(fields._make_search_on_kernel([0], AVGDL, codec), pos),
        "exact": _run(fields._make_exact_kernel(tokens, 0, AVGDL, codec), pos),
        "prox_attr": _run(fields._make_prox_attr_kernel(tokens, AVGDL, codec), pos),
        "typo_attr": _run(
            fields._make_typo_attr_kernel(qslots, meta, [0], AVGDL, codec),
            _groups("positions", codec, spairs, pos_cols, merged),
        ),
        "matches": _run(
            matches._make_matches_kernel(
                {q: {d: 0.25 * d for d in range(q, N_DOCS, 4)} for q, _ in QUERIES},
                codec,
            ),
            pos,
        ),
    }
    # pass-1 prune: dense terms ship metadata only, sparse ones (df <= 6)
    # their payloads too
    meta_cols = ["term", "block_id", "idf", "n", "first_doc", "last_doc",
                 "max_tf", "min_dl", "min_tf", "max_dl", "payload"]
    prune_in = pd.concat(
        _groups("segments", codec, bow, meta_cols, False), ignore_index=True
    )
    prune_in.loc[prune_in["term"].map(DF) > 6, "payload"] = None
    distinct_blocks = prune_in.drop(columns=["query_id", "idf"]).drop_duplicates(
        ["term", "shard", "block_id"]
    )
    terms_by_q: dict[int, list[str]] = {}
    for q, t in bow:
        terms_by_q.setdefault(q, []).append(t)
    out["meta_prune_shared"] = [
        search._make_meta_prune_shared(
            terms_by_q, {t: _idf(t) for t in DF}, AVGDL, K, codec
        )(distinct_blocks)
    ]
    if not merged:
        out["shared"] = _shared(
            monkeypatch, codec, search.search_topk_shared, "segments", QUERIES
        )
        out["phrase_shared"] = _shared(
            monkeypatch, codec, phrase.search_topk_phrase_shared, "positions",
            QUERIES + [(11, "merge sort data"), (12, f"sort {OOV}")],
        )
    return out


# computed on the kernels as they stood before the kernel primitives
# (query/kernels.py) replaced their per-module decode and scoring loops;
# the termcount, typo_ranked, ranked, exact and typo_attr digests since
# decode_postings / decode_positions sum terms by name (each now the same
# for per-shard and merged groups)
PINNED: dict[str, str] = {
    "exhaustive/per_shard": (
        "50de78832e2c99c6fac8338ec0d1ee11664661b8e644b48fae9c13ae52e33fa8"
    ),
    "wand/per_shard": (
        "50de78832e2c99c6fac8338ec0d1ee11664661b8e644b48fae9c13ae52e33fa8"
    ),
    "wand_dense/per_shard": (
        "50de78832e2c99c6fac8338ec0d1ee11664661b8e644b48fae9c13ae52e33fa8"
    ),
    "termcount/per_shard": (
        "447b4262a11355a909e9fbd763ff417f1222eae12f73d59396f509482fed41d7"
    ),
    "term_match/per_shard": (
        "70b33f0313f1537f6fcae4423497281a7c4a25450935c6b2c4d4dcf51f8311d1"
    ),
    "typo_ranked/per_shard": (
        "3c07d3b7d32d9b98751d704fd841b107fb1d6541c8a50d6b7a13348c55bee5e2"
    ),
    "phrase/per_shard": (
        "8d5e2add1b73327716780f6472b25fae8837d240c7b643b156d223e95a85f666"
    ),
    "proximity/per_shard": (
        "e2c6a4581413d67ec46a16afe9583a92204a71f22e05a95a53f4055c8a11ed77"
    ),
    "mixed/per_shard": (
        "b9ccac3e436599885a5cdfead014b11f47067afcfb386d225443ef88df438ed9"
    ),
    "attr/per_shard": (
        "91a299420b3374788026033fa6ac4c38aeb058b5c56f3121a1cb195259fce388"
    ),
    "ranked/per_shard": (
        "4ff3f90d2ef9c2dce8ea4512c62b4b169ef2017dec84baec5e4156b1fc22a455"
    ),
    "search_on/per_shard": (
        "0aa9e31747416b4ed82471b56968d3a6b95378eb5eb847e40be906a81150bf3c"
    ),
    "exact/per_shard": (
        "f4c98d77ebb1d94291910ab58318ea90996e5cc8336e2852eff2a18f0b82a125"
    ),
    "prox_attr/per_shard": (
        "ccf35fe44d275a7c96eb12a79118b40aa8e588d992de95300a9e57a38771072f"
    ),
    "typo_attr/per_shard": (
        "a079b23784043e4887d59d6ac39f3b7fc4fb30ddc48cff3b40b2d81e4d3115ba"
    ),
    "matches/per_shard": (
        "9107c0a500243edf4a1c8856fafdc1b9631f1f724d305a833683c28ef5e931ed"
    ),
    "meta_prune_shared/per_shard": (
        "23252d0d3ae7c695b8e2c01ded6604057b87e0cc0808b38d01fa69f396d60403"
    ),
    "shared/per_shard": (
        "4c5a352c51de2c8b5469b4a53837350d7852bf6287c2f4716f9301c1122429ab"
    ),
    "phrase_shared/per_shard": (
        "315c082eb9ce0fb7d4631527899ab5a8b6ed84acf9828f94113fdf7032dabcdf"
    ),
    "exhaustive/merged": (
        "4c5a352c51de2c8b5469b4a53837350d7852bf6287c2f4716f9301c1122429ab"
    ),
    "wand/merged": (
        "4c5a352c51de2c8b5469b4a53837350d7852bf6287c2f4716f9301c1122429ab"
    ),
    "wand_dense/merged": (
        "4c5a352c51de2c8b5469b4a53837350d7852bf6287c2f4716f9301c1122429ab"
    ),
    "termcount/merged": (
        "447b4262a11355a909e9fbd763ff417f1222eae12f73d59396f509482fed41d7"
    ),
    "term_match/merged": (
        "70b33f0313f1537f6fcae4423497281a7c4a25450935c6b2c4d4dcf51f8311d1"
    ),
    "typo_ranked/merged": (
        "3c07d3b7d32d9b98751d704fd841b107fb1d6541c8a50d6b7a13348c55bee5e2"
    ),
    "phrase/merged": (
        "8d5e2add1b73327716780f6472b25fae8837d240c7b643b156d223e95a85f666"
    ),
    "proximity/merged": (
        "e2c6a4581413d67ec46a16afe9583a92204a71f22e05a95a53f4055c8a11ed77"
    ),
    "mixed/merged": (
        "b9ccac3e436599885a5cdfead014b11f47067afcfb386d225443ef88df438ed9"
    ),
    "attr/merged": (
        "91a299420b3374788026033fa6ac4c38aeb058b5c56f3121a1cb195259fce388"
    ),
    "ranked/merged": (
        "4ff3f90d2ef9c2dce8ea4512c62b4b169ef2017dec84baec5e4156b1fc22a455"
    ),
    "search_on/merged": (
        "0aa9e31747416b4ed82471b56968d3a6b95378eb5eb847e40be906a81150bf3c"
    ),
    "exact/merged": (
        "f4c98d77ebb1d94291910ab58318ea90996e5cc8336e2852eff2a18f0b82a125"
    ),
    "prox_attr/merged": (
        "ccf35fe44d275a7c96eb12a79118b40aa8e588d992de95300a9e57a38771072f"
    ),
    "typo_attr/merged": (
        "a079b23784043e4887d59d6ac39f3b7fc4fb30ddc48cff3b40b2d81e4d3115ba"
    ),
    "matches/merged": (
        "9107c0a500243edf4a1c8856fafdc1b9631f1f724d305a833683c28ef5e931ed"
    ),
    "meta_prune_shared/merged": (
        "23252d0d3ae7c695b8e2c01ded6604057b87e0cc0808b38d01fa69f396d60403"
    ),
}


@pytest.mark.parametrize("merged", [False, True], ids=["per_shard", "merged"])
def test_kernel_outputs_are_pinned(merged, monkeypatch):
    got = {c: _outputs(c, merged, monkeypatch) for c in ("none", "zlib")}
    for name, frames in got["none"].items():
        assert _digest(frames) == _digest(got["zlib"][name]), name
        assert sum(len(f) for f in frames if f is not None), f"{name}: no rows"
    digests = {
        f"{name}/{'merged' if merged else 'per_shard'}": _digest(frames)
        for name, frames in got["none"].items()
    }
    want = {n: d for n, d in PINNED.items() if n in digests}
    assert digests == want


KERNEL_SCHEMAS = [
    search._OUT_SCHEMA, search._OUT_AND_SCHEMA, search._OUT_TYPO_SCHEMA,
    search._TERM_MATCH_SCHEMA, search._SURVIVOR_SCHEMA,
    phrase._OUT_SCHEMA, phrase._PROX_OUT_SCHEMA,
    ranked._ATTR_OUT_SCHEMA, ranked._RANKED_OUT_SCHEMA,
    fields._SEARCH_ON_SCHEMA, fields._EXACT_SCHEMA, fields._PROX_ATTR_SCHEMA,
    fields._TYPO_ATTR_SCHEMA, matches._OUT_SCHEMA,
]


@pytest.mark.parametrize("schema", KERNEL_SCHEMAS)
def test_empty_frame_matches_the_arrow_schema(spark, schema):
    """A kernel's no-rows frame has the columns and pandas dtypes Spark's
    own parse of its DDL string gives through Arrow (the local-relation
    and mapInPandas conversions)."""
    from grenad_spark.query.kernels import empty_frame

    got = empty_frame(schema)
    want = search._arrow_schema(schema).empty_table().to_pandas()
    assert len(got) == 0
    assert list(got.columns) == list(want.columns)
    assert list(got.dtypes) == list(want.dtypes)
