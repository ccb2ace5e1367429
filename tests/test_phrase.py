"""Positional index + phrase search tests.

- encode/decode round-trip of position blocks (Hypothesis, the
  qc_codec-style identity of the positions layer).
- search_topk_phrase vs a Python brute-force adjacency oracle on a random
  word-salad corpus, including multi-block indexes (tiny block_size),
  repeated-term phrases, and OOV phrases.
"""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from grenad_spark.index.positions import (
    MAX_POS,
    decode_position_blocks,
    encode_position_blocks,
)


@st.composite
def positional_postings(draw):
    n = draw(st.integers(min_value=1, max_value=120))
    docs = sorted(
        draw(
            st.lists(
                st.integers(min_value=0, max_value=10**11),
                min_size=n, max_size=n, unique=True,
            )
        )
    )
    tfs, positions = [], []
    for _ in range(n):
        tf = draw(st.integers(1, 12))
        pos = sorted(
            draw(
                st.lists(
                    st.integers(0, 5000), min_size=tf, max_size=tf, unique=True
                )
            )
        )
        tfs.append(tf)
        positions.extend(pos)
    dls = draw(st.lists(st.integers(1, 6000), min_size=n, max_size=n))
    return (
        np.array(docs, dtype=np.int64),
        np.array(tfs, dtype=np.int64),
        np.array(dls, dtype=np.int64),
        np.array(positions, dtype=np.int64),
    )


@given(positional_postings(), st.integers(min_value=1, max_value=64))
@settings(max_examples=60, deadline=None)
def test_position_blocks_roundtrip(p, block_size):
    docs, tfs, dls, positions = p
    blocks = encode_position_blocks(docs, tfs, dls, positions, block_size)
    assert sum(b[0] for b in blocks) == docs.size
    d2, tf2, dl2, pos2, occ2 = decode_position_blocks(
        [b[3] for b in blocks], [b[4] for b in blocks],
        np.array([b[0] for b in blocks]),
    )
    assert np.array_equal(d2, docs)
    assert np.array_equal(tf2, tfs)
    assert np.array_equal(dl2, dls)
    assert np.array_equal(pos2, positions)
    assert np.array_equal(occ2, np.concatenate(([0], np.cumsum(tfs)[:-1])))


def test_position_overflow_rejected():
    with pytest.raises(ValueError):
        encode_position_blocks(
            np.array([1]), np.array([1]), np.array([1]),
            np.array([MAX_POS + 1]),
        )


# ---------------------------------------------------------------------------
# end-to-end phrase search vs brute-force adjacency oracle
# ---------------------------------------------------------------------------

VOCAB = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta"]


def _mk_corpus(rng, n_docs):
    rows = []
    for i in range(n_docs):
        dl = rng.integers(3, 30)
        rows.append((i, " ".join(rng.choice(VOCAB) for _ in range(dl))))
    return rows


def _brute_phrase_match(rows, phrase_toks):
    out = []
    m = len(phrase_toks)
    for doc_id, text in rows:
        toks = text.split()
        if any(
            toks[i : i + m] == phrase_toks for i in range(len(toks) - m + 1)
        ):
            out.append(doc_id)
    return set(out)


@pytest.fixture(scope="module")
def phrase_index(spark, tmp_path_factory):
    from grenad_spark.index.build import build_index
    from grenad_spark.index.positions import build_positions

    rng = np.random.default_rng(7)
    rows = _mk_corpus(rng, 400)
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = str(tmp_path_factory.mktemp("pidx") / "index")
    # tiny block_size forces multi-block terms through the positions decoder
    idx = build_index(spark, docs, out, n_shards=3, block_size=16)
    build_positions(spark, docs, out, block_size=16)
    return idx, rows


PHRASES = [
    (1, "alpha beta"),
    (2, "gamma delta eps"),
    (3, "beta beta"),        # repeated term
    (4, "zeta"),             # single-term phrase
    (5, "alpha nosuchword"), # OOV => empty
]


def test_phrase_matches_bruteforce(spark, phrase_index):
    from grenad_spark.query.phrase import search_topk_phrase

    idx, rows = phrase_index
    got = search_topk_phrase(spark, idx, PHRASES, k=10**6).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r.query_id, set()).add(r.doc_id)
    for qid, phrase in PHRASES:
        expect = _brute_phrase_match(rows, phrase.split())
        assert by_q.get(qid, set()) == expect, (qid, phrase)


def test_phrase_scores_match_and_path(spark, phrase_index):
    """A single-term 'phrase' must score exactly like the conjunctive path
    for that term (same BM25 over the same match set)."""
    from grenad_spark.query.phrase import search_topk_phrase
    from grenad_spark.query.search import search_conjunctive

    idx, _rows = phrase_index
    p = search_topk_phrase(spark, idx, [(1, "zeta")], k=10).collect()
    a = search_conjunctive(spark, idx, [(1, "zeta")], k=10).collect()
    assert sorted((r.doc_id, r.score) for r in p) == sorted(
        (r.doc_id, r.score) for r in a
    )


def test_phrase_requires_positions(spark, index_small):
    from grenad_spark.query.phrase import search_topk_phrase

    if index_small.has_positions():
        pytest.skip("shared fixture already has positions")
    with pytest.raises(FileNotFoundError):
        search_topk_phrase(spark, index_small, [(1, "the fast")], k=5).collect()


def test_phrase_shard_prune_identical(spark, phrase_index, monkeypatch):
    """Shard-intersection pruning must be invisible in the results."""
    import grenad_spark.query.search as S
    from grenad_spark.query.phrase import search_topk_phrase

    # the shard prune is the Spark branch's pre-pass: force it (a call this
    # small is otherwise served on the driver, which prunes nothing)
    monkeypatch.setattr(S, "_serve_local", lambda *a: False)
    idx, _rows = phrase_index
    a = sorted(
        map(tuple, search_topk_phrase(spark, idx, PHRASES, k=50,
                                      prune_shards=True).collect())
    )
    b = sorted(
        map(tuple, search_topk_phrase(spark, idx, PHRASES, k=50,
                                      prune_shards=False).collect())
    )
    assert a == b


def test_phrase_shard_prune_drops_headterm_shards(spark, tmp_path, monkeypatch):
    """Skewed case: head term in every doc, rare term in one doc (one shard).
    The pruned plan must ship only the surviving shard's groups — observed
    via the per-shard candidate rows the kernel emits (k large, no cutoff):
    with pruning, the head term's non-surviving shards contribute nothing
    and match work collapses to the rare term's shard."""
    import grenad_spark.query.search as S
    from grenad_spark.index.build import build_index
    from grenad_spark.index.positions import build_positions
    from grenad_spark.query.phrase import search_topk_phrase

    rows = [(i, "head filler") for i in range(300)]
    rows[7] = (7, "head rare")
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = str(tmp_path / "skewidx")
    idx = build_index(spark, docs, out, n_shards=6)
    build_positions(spark, docs, out)
    # the shard prune is the Spark branch's pre-pass: force it for both calls
    monkeypatch.setattr(S, "_serve_local", lambda *a: False)
    # run the PRUNED plan on the skewed fixture (the identity test's uniform
    # corpus prunes nothing by construction — this is where the survivors
    # join actually removes groups and must not drop the valid one)
    got = search_topk_phrase(
        spark, idx, [(1, "head rare")], k=10, prune_shards=True
    ).collect()
    assert [(r.query_id, r.doc_id) for r in got] == [(1, 7)]
    unpruned = search_topk_phrase(
        spark, idx, [(1, "head rare")], k=10, prune_shards=False
    ).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, unpruned))
    # metadata pre-pass math: 'rare' has blocks in exactly one shard, so the
    # survivor set is that single (query, shard) pair
    seg = idx.positions(spark)
    import pyspark.sql.functions as F

    rare_shards = [
        r.shard for r in seg.filter(F.col("term") == "rare").select("shard").distinct().collect()
    ]
    head_shards = [
        r.shard for r in seg.filter(F.col("term") == "head").select("shard").distinct().collect()
    ]
    assert len(rare_shards) == 1 and len(head_shards) > 1


# ---------------------------------------------------------------------------
# proximity ranking vs brute force
# ---------------------------------------------------------------------------

def _brute_proximity(rows, toks):
    """doc_id -> summed adjacent-pair min position distance (None = not all
    pairs realizable)."""
    out = {}
    for doc_id, text in rows:
        t = text.split()
        total = 0
        ok = True
        for i in range(len(toks) - 1):
            a = [p for p, w in enumerate(t) if w == toks[i]]
            b = [p for p, w in enumerate(t) if w == toks[i + 1]]
            if toks[i] == toks[i + 1]:
                cands = [abs(x - y) for x in a for y in b if x != y]
            else:
                cands = [abs(x - y) for x in a for y in b]
            if not cands:
                ok = False
                break
            total += min(cands)
        if ok and all(w in t for w in toks):
            out[doc_id] = total
    return out


PROX_TEST_QUERIES = [
    (1, "alpha beta"),
    (2, "gamma delta eps"),
    (3, "beta beta"),   # repeated term: min distance over DISTINCT occurrences
    (4, "zeta"),        # single term: proximity 0
]


def test_proximity_matches_bruteforce(spark, phrase_index):
    from grenad_spark.query.phrase import search_topk_phrase  # noqa: F401
    from grenad_spark.query.phrase import search_topk_proximity

    idx, rows = phrase_index
    got = search_topk_proximity(spark, idx, PROX_TEST_QUERIES, k=10**6).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r.query_id, {})[r.doc_id] = r.proximity
    for qid, q in PROX_TEST_QUERIES:
        expect = _brute_proximity(rows, q.split())
        assert by_q.get(qid, {}) == expect, (qid, q)


def test_proximity_phrase_docs_get_minimal_proximity(spark, phrase_index):
    """Any doc matching the exact phrase must have proximity == m-1 (each
    adjacent pair at distance 1), and no doc can rank strictly better."""
    from grenad_spark.query.phrase import search_topk_phrase, search_topk_proximity

    idx, _rows = phrase_index
    q = [(1, "alpha beta")]
    ph = {r.doc_id for r in search_topk_phrase(spark, idx, q, k=10**6).collect()}
    pr = search_topk_proximity(spark, idx, q, k=10**6).collect()
    prox = {r.doc_id: r.proximity for r in pr}
    for d in ph:
        assert prox[d] == 1
    assert all(p >= 1 for p in prox.values())


def test_phrase_literal_map_key_order_is_pinned(spark, phrase_index, monkeypatch):
    """The term → query-ids literal map that phrase and proximity attach
    (and with it the plan text) lists each query's terms in sorted order,
    queries in input order — not string-hash order, which changes between
    processes."""
    import grenad_spark.query.search as S
    from grenad_spark.query.phrase import search_topk_phrase, search_topk_proximity

    seen = []
    attach = S._attach_query_terms

    def spy(seg, rows):
        seen.append(list(dict.fromkeys(t for _, t, _ in rows)))
        return attach(seg, rows)

    monkeypatch.setattr(S, "_attach_query_terms", spy)
    # the literal map is the Spark branch's attach: force it (a call this
    # small is otherwise served on the driver, which attaches nothing)
    monkeypatch.setattr(S, "_serve_local", lambda *a: False)
    idx, _rows = phrase_index
    qs = [(1, "theta eta zeta eps delta gamma"), (2, "beta alpha gamma")]
    search_topk_phrase(spark, idx, qs, k=5)
    search_topk_proximity(spark, idx, qs, k=5)
    want = ["delta", "eps", "eta", "gamma", "theta", "zeta", "alpha", "beta"]
    assert seen == [want, want]


def test_phrase_after_compaction_equals_direct_build(spark, tmp_path):
    """LSM story for positions: two generations (base + re-crawl delta, with
    one deletion) compact into an index whose phrase results are identical
    to an index built directly from the logical corpus."""
    import pyspark.sql.functions as F

    from grenad_spark.index.build import build_index
    from grenad_spark.index.compact import compact_indexes
    from grenad_spark.index.positions import build_positions
    from grenad_spark.query.phrase import search_topk_phrase, search_topk_proximity

    rng = np.random.default_rng(11)
    base_rows = _mk_corpus(rng, 120)
    # re-crawl: docs 0..29 get new text (phrase-relevant rewrites)
    delta_rows = [
        (i, "alpha beta " + " ".join(rng.choice(VOCAB) for _ in range(6)))
        for i in range(30)
    ]
    logical = {d: t for d, t in base_rows}
    logical.update({d: t for d, t in delta_rows})
    del logical[57]  # deletion via the authoritative docs override
    auth_rows = sorted(logical.items())

    base = spark.createDataFrame(base_rows, "doc_id long, text string")
    delta = spark.createDataFrame(delta_rows, "doc_id long, text string")
    auth = spark.createDataFrame(auth_rows, "doc_id long, text string")

    g0, g1 = str(tmp_path / "gen0"), str(tmp_path / "gen1")
    build_index(spark, base, g0, n_shards=3)
    build_positions(spark, base, g0)
    build_index(spark, delta, g1, n_shards=3)
    build_positions(spark, delta, g1)
    merged = compact_indexes(spark, [g0, g1], str(tmp_path / "merged"), docs=auth)
    assert merged.has_positions()

    direct_dir = str(tmp_path / "direct")
    direct = build_index(spark, auth, direct_dir, n_shards=merged.n_shards)
    build_positions(spark, auth, direct_dir)

    qs = [(1, "alpha beta"), (2, "gamma delta"), (3, "zeta")]
    a = sorted(map(tuple, search_topk_phrase(spark, merged, qs, k=10**6).collect()))
    b = sorted(map(tuple, search_topk_phrase(spark, direct, qs, k=10**6).collect()))
    assert a == b and len(a) > 0
    pa = sorted(map(tuple, search_topk_proximity(spark, merged, qs, k=10**6).collect()))
    pb = sorted(map(tuple, search_topk_proximity(spark, direct, qs, k=10**6).collect()))
    assert pa == pb
    # the deleted doc must not match anything
    assert all(r[1] != 57 for r in a)


def test_positions_copy_through_on_clean_reshard(spark, tmp_path):
    """A clean m:1 reshard compaction must COPY the position blocks
    byte-identically (renumbered, never decoded): the merged positions
    payload multiset equals the source generation's, and phrase results
    match a direct build at the output geometry."""
    from grenad_spark.index.build import build_index
    from grenad_spark.index.compact import compact_indexes
    from grenad_spark.index.positions import build_positions
    from grenad_spark.query.phrase import search_topk_phrase

    rng = np.random.default_rng(23)
    rows = _mk_corpus(rng, 200)
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    src = str(tmp_path / "g4")
    build_index(spark, docs, src, n_shards=4)
    build_positions(spark, docs, src)
    merged = compact_indexes(spark, [src], str(tmp_path / "resh2"), n_shards=2)
    assert merged.manifest["decoded_blocks"] == 0
    assert merged.has_positions()

    src_pay = sorted(
        (r.term, bytes(r.header), bytes(r.positions))
        for r in spark.read.parquet(f"{src}/positions").collect()
    )
    out_pay = sorted(
        (r.term, bytes(r.header), bytes(r.positions))
        for r in merged.positions(spark).collect()
    )
    assert src_pay == out_pay  # byte-identical payloads, only ids renumbered

    direct_dir = str(tmp_path / "d2")
    direct = build_index(spark, docs, direct_dir, n_shards=2)
    build_positions(spark, docs, direct_dir)
    qs = [(1, "alpha beta"), (2, "zeta"), (3, "gamma delta eps")]
    a = sorted(map(tuple, search_topk_phrase(spark, merged, qs, k=10**6).collect()))
    b = sorted(map(tuple, search_topk_phrase(spark, direct, qs, k=10**6).collect()))
    assert a == b and len(a) > 0


def test_phrase_fresh_equals_compacted(spark, tmp_path):
    """Query-time generation merge for phrase: base + delta (with positions)
    must answer phrase queries identically to the compacted index — and a
    delta-only phrase ('omega omega2') must surface ONLY refreshed docs."""
    from grenad_spark.index.build import build_index
    from grenad_spark.index.compact import compact_indexes
    from grenad_spark.index.positions import build_positions
    from grenad_spark.query.phrase import search_topk_phrase, search_topk_phrase_fresh

    rng = np.random.default_rng(31)
    base_rows = _mk_corpus(rng, 100)
    delta_rows = [
        (i, t + " omega omega2") for i, t in base_rows if i % 4 == 0
    ]
    base = spark.createDataFrame(base_rows, "doc_id long, text string")
    delta = spark.createDataFrame(delta_rows, "doc_id long, text string")
    g0, g1 = str(tmp_path / "g0"), str(tmp_path / "g1")
    build_index(spark, base, g0, n_shards=3)
    build_positions(spark, base, g0)
    build_index(spark, delta, g1, n_shards=3)
    build_positions(spark, delta, g1)

    qs = [(1, "alpha beta"), (2, "omega omega2"), (3, "zeta")]
    fresh = sorted(map(tuple, search_topk_phrase_fresh(
        spark, [g0, g1], qs, k=10**6).collect()))

    merged = compact_indexes(spark, [g0, g1], str(tmp_path / "m"))
    compacted = sorted(map(tuple, search_topk_phrase(
        spark, merged, qs, k=10**6).collect()))
    assert fresh == compacted and len(fresh) > 0
    # the delta-only phrase matches exactly the refreshed docs
    omega_docs = {r[1] for r in fresh if r[0] == 2}
    assert omega_docs == {i for i, _ in delta_rows}


def test_mixed_query_matches_bruteforce(spark, phrase_index):
    """Mixed query strings: quoted phrases constrain, free terms rank.
    Brute-force oracle over the random corpus, incl. a two-phrase query, a
    phrase-free disjunctive query, and an OOV phrase (=> empty)."""
    import math

    from grenad_spark.query.phrase import parse_mixed_query, search_topk_mixed

    idx, rows = phrase_index
    queries = [
        (1, 'gamma "alpha beta"'),
        (2, '"zeta eta" "beta gamma"'),
        (3, "delta eps"),
        (4, '"alpha nosuchword" beta'),
    ]
    got = search_topk_mixed(spark, idx, queries, k=10**6).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r.query_id, {})[r.doc_id] = r.score

    # corpus stats for the brute-force BM25
    toks_by_doc = {d: t.split() for d, t in rows}
    n_docs = len(rows)
    avgdl = sum(len(t) for t in toks_by_doc.values()) / n_docs
    df = {}
    for t in toks_by_doc.values():
        for w in set(t):
            df[w] = df.get(w, 0) + 1

    for qid, q in queries:
        phrases, free = parse_mixed_query(q)
        all_terms = sorted({w for p in phrases for w in p} | set(free))
        expect = {}
        for doc_id, t in toks_by_doc.items():
            if phrases and not all(
                any(t[i : i + len(p)] == p for i in range(len(t) - len(p) + 1))
                for p in phrases
            ):
                continue
            present = [w for w in all_terms if w in t]
            if not present:
                continue
            s = 0.0
            for w in present:
                tf = t.count(w)
                idf = math.log(1 + (n_docs - df[w] + 0.5) / (df[w] + 0.5))
                s += idf * tf * 2.2 / (tf + 1.2 * (1 - 0.75 + 0.75 * len(t) / avgdl))
            expect[doc_id] = round(s, 4)
        assert by_q.get(qid, {}) == expect, (qid, q)


def test_phrase_paths_large_vocab_fallback(spark, phrase_index, monkeypatch):
    """Force the >IDF_MAP_MAX_TERMS lookup (df_map() -> None): every
    phrase-family path must take idf from IndexHandle.term_dfs's term_dict
    lookup and return results identical to the df-map plan. Regression: an
    earlier fallback crashed at plan build (NumPy _idf applied to a Column)
    in every path below."""
    from grenad_spark.index.build import IndexHandle
    from grenad_spark.query import phrase as ph

    idx, _rows = phrase_index
    mixed_q = [(1, 'gamma "alpha beta"'), (2, "delta eps")]

    def run_all():
        return {
            "phrase": sorted(map(tuple, ph.search_topk_phrase(
                spark, idx, PHRASES, k=50).collect())),
            "prox": sorted(map(tuple, ph.search_topk_proximity(
                spark, idx, PROX_TEST_QUERIES, k=50).collect())),
            "mixed": sorted(map(tuple, ph.search_topk_mixed(
                spark, idx, mixed_q, k=50).collect())),
            "shared": sorted(map(tuple, ph.search_topk_phrase_shared(
                spark, idx, PHRASES, k=50).collect())),
            "matches": sorted(
                r.doc_id for r in ph.phrase_matches(spark, idx, "alpha beta").collect()
            ),
        }

    baseline = run_all()
    monkeypatch.setattr(IndexHandle, "IDF_MAP_MAX_TERMS", 0)
    monkeypatch.delattr(idx, "_df_map", raising=False)  # bust the handle cache
    assert idx.df_map(spark) is None
    assert run_all() == baseline
    monkeypatch.delattr(idx, "_df_map", raising=False)  # don't leak None to later tests


def test_mixed_prefix_matches_bruteforce(spark, phrase_index):
    """Final-word-prefix semantics: the last free term expands against the
    vocabulary (LIKE p%) unless the query ends with a quote; expansions rank
    as disjuncts; phrases stay constraints."""
    import math

    from grenad_spark.query.phrase import (
        parse_mixed_query_prefix,
        search_topk_mixed_prefix,
    )

    idx, rows = phrase_index
    queries = [
        (1, "gamma ze"),            # prefix 'ze' -> zeta
        (2, '"alpha beta" e'),      # phrase + prefix 'e' -> eps/eta
        (3, "d"),                   # bare prefix -> delta
        (4, 'gamma "zeta eta"'),    # ends with quote: no prefix
        (5, "nosuchprefix"),        # prefix with zero expansions => empty
    ]
    got = search_topk_mixed_prefix(spark, idx, queries, k=10**6).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r.query_id, {})[r.doc_id] = r.score

    toks_by_doc = {d: t.split() for d, t in rows}
    n_docs = len(rows)
    avgdl = sum(len(t) for t in toks_by_doc.values()) / n_docs
    df = {}
    for t in toks_by_doc.values():
        for w in set(t):
            df[w] = df.get(w, 0) + 1

    for qid, q in queries:
        phrases, free, prefix = parse_mixed_query_prefix(q)
        exp = sorted(w for w in df if prefix and w.startswith(prefix))
        all_terms = sorted(
            {w for p in phrases for w in p} | set(free) | set(exp)
        )
        expect = {}
        for doc_id, t in toks_by_doc.items():
            if phrases and not all(
                any(t[i : i + len(p)] == p for i in range(len(t) - len(p) + 1))
                for p in phrases
            ):
                continue
            present = [w for w in all_terms if w in t]
            if not present:
                continue
            s = 0.0
            for w in present:
                tf = t.count(w)
                idf = math.log(1 + (n_docs - df[w] + 0.5) / (df[w] + 0.5))
                s += idf * tf * 2.2 / (tf + 1.2 * (1 - 0.75 + 0.75 * len(t) / avgdl))
            expect[doc_id] = round(s, 4)
        assert by_q.get(qid, {}) == expect, (qid, q)


def test_mixed_fuzzy_matches_bruteforce(spark, phrase_index):
    """Typo tolerance INSIDE mixed queries: non-final free terms expand to
    levenshtein-<=1 vocabulary matches; phrases stay literal; the final
    word stays prefix-only."""
    import math

    from grenad_spark.query.phrase import (
        parse_mixed_query_prefix,
        search_topk_mixed_prefix,
    )

    idx, rows = phrase_index

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    queries = [
        (1, 'alpa "zeta eta"'),   # typo'd free (alpha) + trailing phrase
        (2, "gama delt"),         # typo'd free + prefix 'delt' -> delta
        (3, '"alpha beta" zta e'),  # phrase + typo'd free (zeta) + prefix
    ]
    got = search_topk_mixed_prefix(spark, idx, queries, k=10**6, max_edits=1).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r.query_id, {})[r.doc_id] = r.score

    toks_by_doc = {d: t.split() for d, t in rows}
    n_docs = len(rows)
    avgdl = sum(len(t) for t in toks_by_doc.values()) / n_docs
    df = {}
    for t in toks_by_doc.values():
        for w in set(t):
            df[w] = df.get(w, 0) + 1

    for qid, q in queries:
        phrases, free, prefix = parse_mixed_query_prefix(q)
        fuzzy = {v for f in free for v in df if lev(v, f) <= 1}
        exp = {w for w in df if prefix and w.startswith(prefix)}
        all_terms = sorted(
            {w for p in phrases for w in p} | set(free) | fuzzy | exp
        )
        expect = {}
        for doc_id, t in toks_by_doc.items():
            if phrases and not all(
                any(t[i : i + len(p)] == p for i in range(len(t) - len(p) + 1))
                for p in phrases
            ):
                continue
            present = [w for w in all_terms if w in t]
            if not present:
                continue
            s = 0.0
            for w in present:
                tf = t.count(w)
                idf = math.log(1 + (n_docs - df[w] + 0.5) / (df[w] + 0.5))
                s += idf * tf * 2.2 / (tf + 1.2 * (1 - 0.75 + 0.75 * len(t) / avgdl))
            expect[doc_id] = round(s, 4)
        assert by_q.get(qid, {}) == expect, (qid, q)


def test_phrase_shared_equals_per_query(spark, phrase_index):
    """Decode-once phrase batch must return exactly the per-query plan's
    results (multi-block, multi-shard fixture; large k so no truncation
    masks a divergence)."""
    from grenad_spark.query.phrase import search_topk_phrase, search_topk_phrase_shared

    idx, _rows = phrase_index
    a = sorted(map(tuple, search_topk_phrase_shared(
        spark, idx, PHRASES, k=10**6).collect()))
    b = sorted(map(tuple, search_topk_phrase(
        spark, idx, PHRASES, k=10**6).collect()))
    assert a == b and len(a) > 0


# ---------------------------------------------------------------------------
# Hypothesis kernel fuzz — no Spark: construct position blocks directly,
# SHUFFLE the block rows (regression for the multi-file row-order bug), run
# the applyInPandas kernels as plain functions vs a brute-force oracle.
# ---------------------------------------------------------------------------

import pandas as _pd
from hypothesis import given as _given, settings as _settings
from hypothesis import strategies as _st

_KVOCAB = ["a", "b", "c", "d"]


@_st.composite
def _kernel_case(draw):
    n_docs = draw(_st.integers(2, 25))
    corpus = {
        doc_id: [draw(_st.sampled_from(_KVOCAB)) for _ in range(draw(_st.integers(1, 12)))]
        for doc_id in range(n_docs)
    }
    m = draw(_st.integers(1, 3))
    phrase = [draw(_st.sampled_from(_KVOCAB)) for _ in range(m)]
    block_size = draw(_st.integers(1, 4))
    seed = draw(_st.integers(0, 2**31 - 1))
    return corpus, phrase, block_size, seed


def _kernel_input(corpus, terms, block_size, seed, qid=1):
    """Build the kernel's pandas input (shuffled row order) + idf map."""
    import math

    from grenad_spark.index.positions import encode_position_blocks

    n_docs = len(corpus)
    df = {}
    for toks in corpus.values():
        for w in set(toks):
            df[w] = df.get(w, 0) + 1
    rows = []
    for t in sorted(terms):
        if t not in df:
            continue
        docs, tfs, dls, poss = [], [], [], []
        for doc_id in sorted(corpus):
            toks = corpus[doc_id]
            p = [i for i, w in enumerate(toks) if w == t]
            if p:
                docs.append(doc_id)
                tfs.append(len(p))
                dls.append(len(toks))
                poss.extend(p)
        if not docs:
            continue
        idf = math.log(1 + (n_docs - df[t] + 0.5) / (df[t] + 0.5))
        for n, first, last, header, ppay in encode_position_blocks(
            np.array(docs), np.array(tfs), np.array(dls), np.array(poss), block_size
        ):
            rows.append((qid, 0, t, idf, n, first, header, ppay))
    pdf = _pd.DataFrame(
        rows,
        columns=["query_id", "shard", "term", "idf", "n", "first_doc", "header", "positions"],
    )
    return pdf.sample(frac=1.0, random_state=seed).reset_index(drop=True)


@_given(_kernel_case())
@_settings(max_examples=150, deadline=None)
def test_phrase_kernel_fuzz(case):
    from grenad_spark.query.phrase import _make_phrase_kernel

    corpus, phrase, block_size, seed = case
    avgdl = sum(len(t) for t in corpus.values()) / len(corpus)
    pdf = _kernel_input(corpus, set(phrase), block_size, seed)
    expect = _brute_phrase_match([(d, " ".join(t)) for d, t in corpus.items()], phrase)
    if pdf.empty or not all((pdf["term"] == t).any() for t in set(phrase)):
        assert not expect  # a term with no postings => no phrase match
        return
    out = _make_phrase_kernel({1: phrase}, avgdl, "none")(pdf)
    assert set(out["doc_id"]) == expect


@_given(_kernel_case())
@_settings(max_examples=100, deadline=None)
def test_proximity_kernel_fuzz(case):
    from grenad_spark.query.phrase import _make_proximity_kernel

    corpus, phrase, block_size, seed = case
    avgdl = sum(len(t) for t in corpus.values()) / len(corpus)
    pdf = _kernel_input(corpus, set(phrase), block_size, seed)
    expect = _brute_proximity([(d, " ".join(t)) for d, t in corpus.items()], phrase)
    if pdf.empty or not all((pdf["term"] == t).any() for t in set(phrase)):
        assert not expect
        return
    out = _make_proximity_kernel({1: phrase}, avgdl, "none")(pdf)
    got = dict(zip(out["doc_id"], out["proximity"]))
    assert got == expect


def test_phrase_stopwords_bruteforce(spark, phrase_index):
    """Stop words in phrases: edge stops drop, interior stops are
    single-token wildcards; all-stop and OOV-survivor phrases match
    nothing. Brute-forced over the raw token streams."""
    from grenad_spark.query.phrase import (
        _stopword_chain,
        search_topk_phrase_stopwords,
    )

    idx, rows = phrase_index
    stop = {"alpha", "eps"}
    queries = [
        (1, "alpha beta"),              # leading stop -> plain "beta"
        (2, "beta alpha gamma"),        # interior wildcard
        (3, "gamma eps alpha"),         # trailing stops -> plain "gamma"
        (4, "alpha eps"),               # all-stop -> nothing
        (5, "beta alpha nosuchword"),   # OOV survivor -> nothing
        (6, "delta alpha alpha zeta"),  # two-wide interior wildcard
    ]
    got = search_topk_phrase_stopwords(spark, idx, queries, stop, k=10**6).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r.query_id, set()).add(r.doc_id)
    for qid, q in queries:
        ch = _stopword_chain(q.split(), stop)
        expect = set()
        if ch:
            span = max(o for o, _ in ch) + 1
            for d, text in rows:
                tt = text.split()
                if any(
                    all(tt[p + o] == t for o, t in ch)
                    for p in range(len(tt) - span + 1)
                ):
                    expect.add(d)
        assert by_q.get(qid, set()) == expect, (qid, q)


def test_stopword_chain_shapes():
    from grenad_spark.query.phrase import _stopword_chain

    assert _stopword_chain(["the", "fast"], {"the"}) == [(0, "fast")]
    assert _stopword_chain(["fast", "the"], {"the"}) == [(0, "fast")]
    assert _stopword_chain(["merge", "the", "sort"], {"the"}) == [
        (0, "merge"), (2, "sort"),
    ]
    assert _stopword_chain(["the", "a"], {"the", "a"}) is None
    assert _stopword_chain(
        ["the", "x", "the", "the", "y", "a"], {"the", "a"}
    ) == [(0, "x"), (3, "y")]


def test_positions_resume_repairs_manifest(spark, phrase_index):
    """A second build_positions call on a _SUCCESS-complete table returns
    early without Spark work AND restores the manifest's has_positions
    flag if a crash between the parquet write and the manifest update
    left it unset (the flag must never stay stale on resume)."""
    import json
    import os

    from grenad_spark.index.positions import build_positions

    idx, _rows = phrase_index
    mpath = os.path.join(idx.path, "manifest.json")
    with open(mpath) as fh:
        m = json.load(fh)
    assert m.get("has_positions") is True
    m.pop("has_positions")
    with open(mpath, "w") as fh:
        json.dump(m, fh)
    # docs arg irrelevant on the early-return path; pass an empty frame to
    # prove no job runs
    empty = spark.createDataFrame([], "doc_id long, text string")
    build_positions(spark, empty, idx.path)
    with open(mpath) as fh:
        m2 = json.load(fh)
    assert m2["has_positions"] is True
