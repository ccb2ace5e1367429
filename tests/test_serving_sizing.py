"""Kernel-exchange sizing, planning cost and driver-literal quoting.

The conftest session runs with spark.sql.shuffle.partitions == cpus, so a
kernel exchange that silently falls back to the session's shuffle width
looks right there. This module raises the width to 32 (the benchmark
session's value on 4 cores) for its duration and forces both sizing
branches through TARGET_GROUP_POSTINGS: 1 (one group per shard, a real
exchange) and 10**12 (one group, coalesce(1), no exchange). Results must
not depend on the branch, and no kernel exchange may be wider than the
planner's count."""

import re

import numpy as np
import pytest

VOCAB = [
    "alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta",
    "iota", "kappa", "lambda", "mu", "nu", "xi", "omicron", "pi",
]
N_SHARDS = 6
WIDE = 32


@pytest.fixture(scope="module")
def wide_spark(spark):
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(WIDE))
    yield spark
    spark.conf.set("spark.sql.shuffle.partitions", old)


@pytest.fixture(scope="module")
def sized_index(wide_spark, tmp_path_factory):
    """Fielded word-salad corpus over N_SHARDS shards with small blocks, so
    terms span several blocks in several shards."""
    from grenad_spark.index.build import IndexHandle, build_index
    from grenad_spark.index.positions import build_positions
    from grenad_spark.query.fields import build_field_word_counts

    rng = np.random.default_rng(17)
    rows = []
    for d in range(360):
        title = [str(rng.choice(VOCAB[:6])) for _ in range(rng.integers(1, 4))]
        body = [str(rng.choice(VOCAB)) for _ in range(rng.integers(4, 20))]
        rows.append((d, " ".join(title), " ".join(body), " ".join(title + body)))
    docs = wide_spark.createDataFrame(
        rows, "doc_id long, title string, body string, text string"
    )
    out = str(tmp_path_factory.mktemp("sized") / "index")
    build_index(wide_spark, docs.select("doc_id", "text"), out,
                n_shards=N_SHARDS, block_size=8)
    build_positions(wide_spark, docs, out, fields=["title", "body"], block_size=8)
    build_field_word_counts(wide_spark, docs, out, fields=["title", "body"])
    return IndexHandle(out), rows


def _queries(n, seed=3):
    rng = np.random.default_rng(seed)
    return [
        (i + 1, " ".join(rng.choice(VOCAB, size=int(rng.integers(1, 4)), replace=False)))
        for i in range(n)
    ]


def _phrases(rows, n=10, seed=5):
    rng = np.random.default_rng(seed)
    out = []
    for i in range(n):
        toks = rows[int(rng.integers(len(rows)))][3].split()
        m = int(rng.integers(2, 4))
        s = int(rng.integers(0, max(1, len(toks) - m)))
        out.append((i + 1, " ".join(toks[s : s + m])))
    out.append((n + 1, "alpha nosuchword"))
    return out


TYPOS = [(1, "alpah beta"), (2, "gamm"), (3, "deltaa eps"), (4, "thetta iota"),
         (5, "kapa mu"), (6, "omicorn pi"), (7, "zeta"), (8, "lamda nu xi")]


# split-word queries: each glues two vocabulary words (derivations.py)
SPLITS = [(1, "alphabeta gamma"), (2, "deltaeps"), (3, "zetaeta theta"), (4, "iota")]


def _calls(rows):
    from grenad_spark.query import derivations as D, fields as FL, geo as G, matches as M
    from grenad_spark.query.phrase import search_topk_phrase, search_topk_phrase_shared
    from grenad_spark.query.ranked import search_topk_ranked
    from grenad_spark.query.search import search_conjunctive, search_topk_fuzzy_ranked

    qs, ph = _queries(12), _phrases(rows)

    def geo(sp, ix):
        docs = sp.createDataFrame([(r[0],) for r in rows], "doc_id long")
        return G.geo_radius_topk(sp, ix, docs, qs, (0.0, 0.0), 9000.0, k=5)

    return {
        "ranked": lambda sp, ix: search_topk_ranked(sp, ix, TYPOS, k=5),
        "phrase": lambda sp, ix: search_topk_phrase(sp, ix, ph, k=5),
        "phrase_shared": lambda sp, ix: search_topk_phrase_shared(sp, ix, ph, k=5),
        "typo_ranked": lambda sp, ix: search_topk_fuzzy_ranked(sp, ix, TYPOS, k=5),
        "conjunctive": lambda sp, ix: search_conjunctive(sp, ix, qs, k=5),
        "search_on": lambda sp, ix: FL.search_topk_search_on(sp, ix, qs, ["title"], k=5),
        "exact_field": lambda sp, ix: FL.search_topk_exact_field(sp, ix, qs, k=5),
        "exact_tiers": lambda sp, ix: FL.search_topk_exact_tiers(sp, ix, qs, k=5),
        "proximity_attr": lambda sp, ix: FL.search_topk_proximity_attr(sp, ix, qs, k=5),
        "typo_disable_attrs": lambda sp, ix: FL.search_topk_typo_disable_attrs(sp, ix, TYPOS, k=5),
        "matches": lambda sp, ix: M.search_topk_matches(sp, ix, qs, k=5),
        "geo_radius": geo,
        "word_splits": lambda sp, ix: D.search_topk_word_splits(sp, ix, SPLITS, k=5),
    }


_BY_NUM = re.compile(r"hashpartitioning\([^)]*, (\d+)\), REPARTITION_BY_NUM")


@pytest.mark.parametrize(
    "call",
    [
        "ranked", "phrase", "phrase_shared", "typo_ranked", "conjunctive",
        "search_on", "exact_field", "exact_tiers", "proximity_attr",
        "typo_disable_attrs", "matches", "geo_radius", "word_splits",
    ],
)
def test_kernel_exchange_sized_by_volume(wide_spark, sized_index, monkeypatch, call):
    import grenad_spark.query.search as S

    idx, rows = sized_index
    fn = _calls(rows)[call]
    got = {}
    for target in (1, 10**12):
        monkeypatch.setattr(S, "TARGET_GROUP_POSTINGS", target)
        if target == 10**12:
            # one group is served on the driver; force its Spark plan
            monkeypatch.setattr(S, "_serve_local", lambda *a: False)
        df = fn(wide_spark, idx)
        plan = df._jdf.queryExecution().executedPlan().toString()
        widths = [int(w) for w in _BY_NUM.findall(plan)]
        # the planner's count: one group per work unit, capped at the cores
        _, n_planner = S._qshard_params(wide_spark, idx, 10**9)
        assert "MapInPandas" in plan
        if target == 1:
            assert widths and max(widths) <= n_planner < WIDE, plan
        else:
            assert widths == [], plan  # one group: narrow coalesce(1)
        got[target] = sorted(map(tuple, df.collect()))
    assert got[1] == got[10**12] and got[1]


def _planning_commands(spark, make_df) -> int:
    """py4j commands sent while building (not running) a DataFrame,
    without the memory-release commands the gateway sends on GC."""
    client = spark.sparkContext._gateway._gateway_client
    orig = client.send_command
    n = [0]

    def counting(cmd, *a, **kw):
        if not cmd.startswith("m\n"):
            n[0] += 1
        return orig(cmd, *a, **kw)

    client.send_command = counting
    try:
        make_df()
    finally:
        client.send_command = orig
    return n[0]


def test_planning_cost_does_not_grow_with_batch(wide_spark, sized_index):
    from grenad_spark.query.ranked import search_topk_ranked
    from grenad_spark.query.search import search_topk, search_topk_shared

    idx, _ = sized_index
    calls = {
        "wand": lambda q: search_topk(wide_spark, idx, q, k=10, mode="wand"),
        "shared": lambda q: search_topk_shared(wide_spark, idx, q, k=10),
        "ranked": lambda q: search_topk_ranked(wide_spark, idx, q, k=10),
    }
    small, big = _queries(8, seed=11), _queries(64, seed=12)
    for name, fn in calls.items():
        fn(small)  # warm the handle's driver maps
        counts = [_planning_commands(wide_spark, lambda: fn(q)) for q in (small, big)]
        assert counts[0] == counts[1], (name, counts)


AWKWARD = ["'", "\\", "' OR '1'='1", "a\\'b", "é", "日本語", "", "${spark.app.name}",
           "plain", "x'); DROP TABLE t; --", "\\'", "tab\there", "nl\nhere"]


@pytest.mark.parametrize("escaped", ["false", "true"])
def test_isin_literal_is_injection_safe(spark, escaped):
    from pyspark.sql import functions as F

    from grenad_spark.functions.literals import isin

    df = spark.createDataFrame([(v,) for v in AWKWARD + ["other", None]], "term string")
    old = spark.conf.get("spark.sql.parser.escapedStringLiterals")
    spark.conf.set("spark.sql.parser.escapedStringLiterals", escaped)
    try:
        for vals in [[v] for v in AWKWARD] + [AWKWARD, AWKWARD[::2], []]:
            got = sorted(r[0] for r in df.filter(isin("term", vals)).collect())
            want = sorted(r[0] for r in df.filter(F.col("term").isin(vals)).collect())
            assert got == want, vals
    finally:
        spark.conf.set("spark.sql.parser.escapedStringLiterals", old)


def test_sql_literal_maps_round_trip(spark):
    from pyspark.sql import functions as F

    from grenad_spark.functions.literals import sql_expr, sql_lit

    idfs = {v: x for v, x in zip(AWKWARD, [0.1, 1 / 3, 1e-300, 1.7976931348623157e308,
                                            -2.5, 5e-324, 2.0, 123456789.123456789,
                                            0.0, 7.0, 1e22, 3.14, 2.718281828459045])}
    qids = {v: list(range(i + 1)) for i, v in enumerate(AWKWARD)}
    slots = {v: [(i, i + 1), (i + 2, 3)] for i, v in enumerate(AWKWARD)}
    df = spark.range(1).select(
        F.expr(sql_lit(idfs)).alias("i"),
        F.expr(sql_lit(qids)).alias("q"),
        sql_expr({1: 0, 2: 3}, "map<int, bigint>").alias("b"),
        sql_expr(slots, "map<string, array<struct<query_id: int, mult: int>>>").alias("s"),
    )
    assert df.schema["b"].dataType.simpleString() == "map<int,bigint>"
    assert df.schema["s"].dataType.simpleString() == (
        "map<string,array<struct<query_id:int,mult:int>>>"
    )
    row = df.first()
    assert row["i"] == idfs and row["q"] == qids and row["b"] == {1: 0, 2: 3}
    assert {k: [(r["query_id"], r["mult"]) for r in v] for k, v in row["s"].items()} == slots


def test_packed_in_branches_agree(spark, monkeypatch):
    """The IN literal, the over-cap broadcast and the out-of-range broadcast
    select the same rows; the IN path plans no join."""
    from grenad_spark.query import search as S

    rng = np.random.default_rng(9)
    data = [(int(q), int(s), int(b)) for q, s, b in rng.integers(0, 6, size=(200, 3))]
    df = spark.createDataFrame(data, "query_id int, shard int, block_id int")
    cols, bits = ["query_id", "shard", "block_id"], [23, 20, 20]
    keys = data[::7] + data[::7]  # duplicates must not duplicate rows
    want = sorted(r for r in data if r in set(keys))
    lit = S._packed_in(spark, df, keys, cols, bits)
    assert "Join" not in lit._jdf.queryExecution().optimizedPlan().toString()
    bad = S._packed_in(spark, df, keys + [(-1, 0, 0)], cols, bits)
    monkeypatch.setattr(S, "PACKED_IN_CAP", 0)
    over = S._packed_in(spark, df, keys, cols, bits)
    for out in (over, bad):
        assert "Join" in out._jdf.queryExecution().optimizedPlan().toString()
    for out in (lit, over, bad):
        assert sorted(tuple(r[c] for c in cols) for r in out.collect()) == want


def test_block_estimate_bounds_per_shard_chunking(spark, sized_index):
    """Blocks are chunked per (term, shard): the survivor-literal estimate
    must bound the real block count."""
    from grenad_spark.index.build import IndexHandle
    from grenad_spark.query.search import _est_blocks

    idx, _ = sized_index
    h = IndexHandle(idx.path)
    real = dict(
        h.segments(spark).groupBy("term").count().select("term", "count").collect()
    )
    terms = sorted(real)
    # the fixture chunks per shard: ceil(df / block_size) alone undercounts
    dfm, bs = h.df_map(spark), int(h.manifest["block_size"])
    assert sum(-(-dfm[t] // bs) for t in terms) < sum(real.values())
    assert _est_blocks(spark, h, terms) >= sum(real.values())
    for t in terms:
        assert _est_blocks(spark, h, [t]) >= real[t]
