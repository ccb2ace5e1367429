"""One-group BM25 calls served on the driver vs through Spark.

When a call's posting volume fits one kernel group, `search_topk` (wand,
exhaustive) and `search_topk_shared(prune=False)` read the block rows with
pyarrow and run the kernel on the driver; turning the `_serve_local` gate
off forces the Spark plan. Both branches must collect identical rows in
identical order, ties included; a one-group call must run no Spark job, and
a call whose volume exceeds one group must still plan the Spark kernel."""

import shutil
from contextlib import contextmanager

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

import grenad_spark.query.search as S
from grenad_spark.index.build import IndexHandle, build_index
from grenad_spark.query.search import search_topk, search_topk_auto, search_topk_shared

VOCAB = ["spark", "merge", "sort", "dup", "key", "value", "fast", "slow", "grenad"]
ABSENT = "zzabsent"


@contextmanager
def _no_local(on: bool):
    """Force the Spark plan (on=True) by turning the driver-local gate off."""
    gate = S._serve_local
    if on:
        S._serve_local = lambda *a: False
    try:
        yield
    finally:
        S._serve_local = gate


def _calls(spark, idx, queries, k):
    return {
        "wand": lambda: search_topk(spark, idx, queries, k=k, mode="wand"),
        "exhaustive": lambda: search_topk(spark, idx, queries, k=k, mode="exhaustive"),
        "shared": lambda: search_topk_shared(spark, idx, queries, k=k),
        "auto": lambda: search_topk_auto(spark, idx, queries, k=k),
    }


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@st.composite
def corpus(draw):
    """Small doc spaces over a 9-word vocabulary: head terms span many
    4-posting blocks, and tf values from a tiny pool force score ties."""
    rows = []
    for d in range(draw(st.integers(12, 60))):
        n_tok = draw(st.integers(1, 10))
        rows.append((d, " ".join(draw(st.sampled_from(VOCAB)) for _ in range(n_tok))))
    return rows


@st.composite
def batch(draw):
    n = draw(st.integers(1, 6))
    out = []
    for q in range(n):
        terms = draw(st.lists(st.sampled_from(VOCAB + [ABSENT]), min_size=1, max_size=4))
        out.append((q + 1, " ".join(terms)))
    return out


@given(corpus(), batch(), st.integers(1, 3), st.sampled_from([1, 3, 10]))
# a vocabulary word the corpus lacks, spelled twice: the batch scores nothing
@example(rows=[(d, "spark merge") for d in range(12)], queries=[(1, "slow slow")], n_shards=1, k=1)
@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
def test_local_equals_spark(spark, tmp_path_factory, rows, queries, n_shards, k):
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = str(tmp_path_factory.mktemp("loc") / "idx")
    idx = build_index(spark, docs, out, n_shards=n_shards, block_size=4, overwrite=True)
    dfm = idx.df_map(spark)
    for qs in (queries, queries[:1], [(7, ABSENT)]):
        # a batch with no term in the vocabulary scores nothing on either
        # branch (shared returns before its gate), so only its rows compare
        scored = any(t in dfm for _, text in qs for t in text.split())
        for name, call in _calls(spark, idx, qs, k).items():
            got = {}
            for forced in (False, True):
                with _no_local(forced):
                    df = call()
                    got[forced] = [tuple(r) for r in df.collect()]
                if name != "auto" and scored:
                    assert ("LocalTableScan" in _plan(df)) != forced, (name, forced)
            assert got[False] == got[True], (name, qs)


def _build(spark, out, n_shards):
    rows = [(d, " ".join(VOCAB[(d * j) % len(VOCAB)] for j in range(1, 8))) for d in range(120)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    return build_index(spark, docs, out, n_shards=n_shards, block_size=8)


@pytest.fixture(scope="module")
def multi_shard_index(spark, tmp_path_factory):
    return _build(spark, str(tmp_path_factory.mktemp("loc_ms") / "idx"), 4)


QUERIES = [(1, "spark merge"), (2, "dup key value"), (3, "slow")]


def test_over_volume_calls_keep_the_spark_plan(spark, multi_shard_index, tmp_path, monkeypatch):
    """A call bigger than one TARGET_GROUP_POSTINGS group scores in executor
    tasks: several groups on a 4-shard index, and one task (n_part == 1) on
    a 1-shard index, whose work still stays out of driver memory."""
    for idx in (multi_shard_index, _build(spark, str(tmp_path / "one"), 1)):
        want = {n: [tuple(r) for r in c().collect()] for n, c in _calls(spark, idx, QUERIES, 5).items()}
        with monkeypatch.context() as m:
            m.setattr(S, "TARGET_GROUP_POSTINGS", 1)
            for name, call in _calls(spark, idx, QUERIES, 5).items():
                df = call()
                plan = _plan(df)
                assert "MapInPandas" in plan and "LocalTableScan" not in plan, (idx.n_shards, name, plan)
                assert [tuple(r) for r in df.collect()] == want[name], (idx.n_shards, name)


def test_one_group_call_runs_no_job(spark, multi_shard_index):
    idx = multi_shard_index
    idx.df_map(spark)  # the handle's driver map loads once, outside the group
    sc = spark.sparkContext
    for name in ("wand", "exhaustive", "shared"):
        for qs in (QUERIES, QUERIES[:1]):
            group = f"local-{name}-{len(qs)}"
            sc.setJobGroup(group, "one-group call must be job-free")
            try:
                df = _calls(spark, idx, qs, 5)[name]()
                rows = df.collect()
            finally:
                sc.setJobGroup(None, None)
            assert rows and _plan(df).startswith("LocalTableScan"), (name, _plan(df))
            assert list(sc.statusTracker().getJobIdsForGroup(group)) == [], name


@pytest.mark.skipif(shutil.which("gcc") is None, reason="no C compiler")
def test_handle_open_loads_native_codec(spark, multi_shard_index, tmp_path, monkeypatch):
    """Opening a handle compiles and loads the native codec, so a serving
    call never runs the compiler; the local branch decodes natively."""
    import subprocess

    from grenad_spark.functions import native

    want = [tuple(r) for r in search_topk(spark, multi_shard_index, QUERIES, k=5).collect()]
    monkeypatch.delenv("GRENAD_SPARK_NO_NATIVE", raising=False)
    monkeypatch.setenv("GRENAD_SPARK_NATIVE_DIR", str(tmp_path / "native"))
    monkeypatch.setattr(native, "_LIB", None)
    monkeypatch.setattr(native, "_TRIED", False)
    idx = IndexHandle(multi_shard_index.path)
    loaded = native._LIB
    assert loaded is not None

    def no_compiler(*a, **kw):
        raise AssertionError("the compiler ran inside a serving call")

    monkeypatch.setattr(subprocess, "run", no_compiler)
    df = search_topk(spark, idx, QUERIES, k=5)
    assert [tuple(r) for r in df.collect()] == want
    assert "LocalTableScan" in _plan(df) and native.lib() is loaded
