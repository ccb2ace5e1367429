"""Kernel calls served on the driver vs through Spark.

Every kernel call goes through one dispatch (`search._serve_kernel`). When
a ranked call's posting volume fits one kernel group, it reads its block
rows with pyarrow, runs its kernel and ranks on the driver; turning the
`_serve_local` gate off forces the Spark plan. Both branches must collect
identical rows in identical order, ties included. A one-group ranked call
must run no Spark job. An unranked dispatch (conjunctive, whose kernel
output Spark joins, and matches) plans the Spark kernel on both branches.
A call whose volume exceeds one group must still plan the Spark kernel."""

import shutil
from contextlib import contextmanager
from functools import partial

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

import grenad_spark.query.search as S
from grenad_spark.index.build import IndexHandle, build_index
from grenad_spark.index.positions import build_positions
from grenad_spark.query.fields import (
    search_topk_proximity_attr,
    search_topk_search_on,
    search_topk_typo_disable_attrs,
)
from grenad_spark.query.matches import search_topk_matches
from grenad_spark.query.phrase import (
    search_topk_mixed,
    search_topk_phrase,
    search_topk_phrase_shared,
    search_topk_phrase_stopwords,
    search_topk_proximity,
)
from grenad_spark.query.ranked import search_topk_attr_rule, search_topk_ranked
from grenad_spark.query.search import (
    search_conjunctive,
    search_topk,
    search_topk_auto,
    search_topk_fuzzy_ranked,
    search_topk_shared,
    search_topk_words,
)

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
        "wand_pruned": lambda: search_topk(spark, idx, queries, k=k, mode="wand_pruned"),
        "shared": lambda: search_topk_shared(spark, idx, queries, k=k),
        "shared_pruned": lambda: search_topk_shared(spark, idx, queries, k=k, prune=True),
        "auto": lambda: search_topk_auto(spark, idx, queries, k=k),
        "phrase_shared": lambda: search_topk_phrase_shared(spark, idx, queries, k=k),
        "ranked": lambda: search_topk_ranked(spark, idx, queries, k=k),
        "phrase": lambda: search_topk_phrase(spark, idx, queries, k=k),
        "phrase_stopwords": lambda: search_topk_phrase_stopwords(
            spark, idx, queries, {"key"}, k=k
        ),
        "proximity": lambda: search_topk_proximity(spark, idx, queries, k=k),
        "mixed": lambda: search_topk_mixed(spark, idx, queries, k=k),
        "words": lambda: search_topk_words(spark, idx, queries, k=k),
        "conjunctive": lambda: search_conjunctive(spark, idx, queries, k=k),
        "typo_ranked": lambda: search_topk_fuzzy_ranked(spark, idx, queries, k=k),
        "search_on": lambda: search_topk_search_on(spark, idx, queries, ["title"], k=k),
        "proximity_attr": lambda: search_topk_proximity_attr(spark, idx, queries, k=k),
        "typo_attr": lambda: search_topk_typo_disable_attrs(spark, idx, queries, k=k),
        "attr_rule": lambda: search_topk_attr_rule(spark, idx, queries, k=k),
        "matches": lambda: search_topk_matches(spark, idx, queries, k=k),
    }


# calls that dispatch their kernel unranked: the Spark kernel on both
# branches; every other call's driver branch is a local relation
_UNRANKED = {"conjunctive", "matches"}
# calls whose rows have no defined order (every match position of the
# top-k hits): compared as multisets
_UNORDERED = {"matches"}


def _rows(name, df):
    rows = [tuple(r) for r in df.collect()]
    return sorted(rows) if name in _UNORDERED else rows


def _index(spark, rows, out, n_shards, block_size):
    """An index over (doc_id, text) rows with FIELD-AWARE positions: the
    first two tokens of each text are its title, the rest its body."""
    fielded = []
    for d, text in rows:
        toks = text.split()
        fielded.append((d, " ".join(toks[:2]), " ".join(toks[2:]), text))
    docs = spark.createDataFrame(fielded, "doc_id long, title string, body string, text string")
    build_index(spark, docs.select("doc_id", "text"), out, n_shards=n_shards,
                block_size=block_size, overwrite=True)
    build_positions(spark, docs, out, fields=["title", "body"], block_size=block_size)
    return IndexHandle(out)  # a fresh handle reads the fielded manifest


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
    out = str(tmp_path_factory.mktemp("loc") / "idx")
    idx = _index(spark, rows, out, n_shards, 4)
    for qs in (queries, queries[:1], [(7, ABSENT)]):
        for name, call in _calls(spark, idx, qs, k).items():
            got = {}
            for forced in (False, True):
                with _no_local(forced):
                    df = call()
                    got[forced] = _rows(name, df)
                # a call that returns rows shows its branch in its plan (one
                # that scores nothing may return before the gate, or after
                # a pass 1 that keeps no block, with an empty local relation)
                if got[forced]:
                    plan = _plan(df)
                    if forced or name in _UNRANKED:
                        assert "MapInPandas" in plan, (name, forced, plan)
                    else:
                        assert plan.startswith("LocalTableScan"), (name, forced, plan)
            assert got[False] == got[True], (name, qs)


def _build(spark, out, n_shards):
    rows = [(d, " ".join(VOCAB[(d * j) % len(VOCAB)] for j in range(1, 8))) for d in range(120)]
    return _index(spark, rows, out, n_shards, 8)


@pytest.fixture(scope="module")
def multi_shard_index(spark, tmp_path_factory):
    return _build(spark, str(tmp_path_factory.mktemp("loc_ms") / "idx"), 4)


QUERIES = [(1, "dup key value"), (2, "spark merge"), (3, "slow")]


def test_over_volume_calls_keep_the_spark_plan(spark, multi_shard_index, tmp_path, monkeypatch):
    """A call bigger than one TARGET_GROUP_POSTINGS group scores in executor
    tasks: several groups on a 4-shard index, and one task (n_part == 1) on
    a 1-shard index, whose work still stays out of driver memory."""
    for idx in (multi_shard_index, _build(spark, str(tmp_path / "one"), 1)):
        want = {n: _rows(n, c()) for n, c in _calls(spark, idx, QUERIES, 5).items()}
        with monkeypatch.context() as m:
            m.setattr(S, "TARGET_GROUP_POSTINGS", 1)
            for name, call in _calls(spark, idx, QUERIES, 5).items():
                df = call()
                plan = _plan(df)
                assert "MapInPandas" in plan and "LocalTableScan" not in plan, (idx.n_shards, name, plan)
                assert _rows(name, df) == want[name], (idx.n_shards, name)


def _job_free(spark, group, call):
    """(rows, plan, job ids) of one call and its collect() under a job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "one-group call must be job-free")
    try:
        df = call()
        rows = df.collect()
    finally:
        sc.setJobGroup(None, None)
    return rows, _plan(df), list(sc.statusTracker().getJobIdsForGroup(group))


def test_one_group_call_runs_no_job(spark, multi_shard_index):
    """Every call whose kernel output goes straight to the rank collects a
    local relation: 0 jobs, planning included."""
    idx = multi_shard_index
    idx.df_map(spark)  # the handle's driver map loads once, outside the group
    for qs in (QUERIES, QUERIES[:1]):
        for name, call in _calls(spark, idx, qs, 5).items():
            if name in _UNRANKED:
                continue
            rows, plan, jobs = _job_free(spark, f"local-{name}-{len(qs)}", call)
            assert rows and plan.startswith("LocalTableScan"), (name, plan)
            assert jobs == [], name


def test_out_of_vocabulary_batch_runs_no_job(spark, multi_shard_index):
    """A batch with no term in the vocabulary returns an empty local
    relation before any plan is built: no job, Spark path or not."""
    idx = multi_shard_index
    idx.df_map(spark)
    qs = [(1, ABSENT), (2, f"{ABSENT} zzother")]
    calls = _calls(spark, idx, qs, 5)
    for forced in (False, True):
        with _no_local(forced):
            for name in ("shared", "shared_pruned", "phrase_shared", "ranked"):
                rows, plan, jobs = _job_free(spark, f"oov-{name}-{forced}", calls[name])
                assert rows == [] and plan.startswith("LocalTableScan"), (name, plan)
                assert jobs == [], (name, forced)


def test_out_of_vocabulary_field_paths_run_no_job(spark, multi_shard_index):
    """The fielded, matches and word-split paths answer an all-out-of-
    vocabulary batch with an empty local relation too: a LocalTableScan
    whose collect runs no job (spark.createDataFrame([]) runs one)."""
    from grenad_spark.query.derivations import search_topk_word_splits
    from grenad_spark.query.fields import (
        search_topk_exact_field,
        search_topk_exact_tiers,
        search_topk_proximity_attr,
        search_topk_search_on,
    )
    from grenad_spark.query.matches import search_topk_matches

    idx = multi_shard_index
    idx.df_map(spark)
    qs = [(1, ABSENT), (2, f"{ABSENT} zzother")]
    calls = {
        "search_on": lambda: search_topk_search_on(spark, idx, qs, ["title"], k=5),
        "exact_field": lambda: search_topk_exact_field(spark, idx, qs, k=5),
        "exact_tiers": lambda: search_topk_exact_tiers(spark, idx, qs, k=5),
        "proximity_attr": lambda: search_topk_proximity_attr(spark, idx, qs, k=5),
        "matches": lambda: search_topk_matches(spark, idx, qs, k=5),
        "word_splits": lambda: search_topk_word_splits(spark, idx, qs, k=5),
    }
    for name, call in calls.items():
        rows, plan, jobs = _job_free(spark, f"oov-field-{name}", call)
        assert rows == [] and plan.startswith("LocalTableScan"), (name, plan)
        assert jobs == [], name


def test_over_volume_auto_keeps_the_two_pass_plan(spark, tmp_path, monkeypatch):
    """On a corpus where pass 1 prunes (a rare term in the first docs of
    every shard, next to one in every doc), an auto call bigger than one
    group still runs pass 1 and serves the two-pass plan: the survivors
    come back as a packed-key IN filter."""
    rows = [(d, "common rare" if d % 100 < 3 else "common filler") for d in range(400)]
    idx = _index(spark, rows, str(tmp_path / "prune"), 4, 8)
    qs = [(1, "common rare")]
    want = [tuple(r) for r in search_topk(spark, idx, qs, k=3, mode="exhaustive").collect()]
    monkeypatch.setattr(S, "TARGET_GROUP_POSTINGS", 1)
    # every term dense (metadata-only pass 1): at this corpus size every df
    # sits under SPARSE_DF_MAX, and sparse blocks always ship
    monkeypatch.setattr(S, "survivor_blocks", partial(S.survivor_blocks, sparse_df_max=0))
    df = search_topk_auto(spark, idx, qs, k=3)
    plan = _plan(df)
    assert "MapInPandas" in plan and "shiftleft" in plan, plan
    assert [tuple(r) for r in df.collect()] == want and len(want) == 3


def test_all_sparse_batch_skips_pass_one(spark, multi_shard_index, monkeypatch):
    """Every query term sparse (df ≤ SPARSE_DF_MAX, as on any index under
    65,536 docs): pass 1 would keep every block, and the df map says so
    with no job. Forced onto Spark, the pruned calls plan their single-pass
    kernel — no job while the call is planned, no survivor filter in the
    plan — and return the rows of the two-pass plan, which runs when every
    term is made dense."""
    idx = multi_shard_index
    idx.df_map(spark)  # the handle's maps and tables load once, outside the groups
    idx.segments(spark)
    sc = spark.sparkContext

    def planned(group, call):
        sc.setJobGroup(group, "pass 1 must not run")
        try:
            df = call()
        finally:
            sc.setJobGroup(None, None)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == [], group
        return df

    pairs = S._tokenize_queries(QUERIES)
    surv = planned("sparse-survivors", lambda: S.survivor_blocks(spark, idx, pairs, 5))
    n_blocks = {r["term"]: r["n_blocks"] for r in idx.term_dict(spark).collect()}
    assert surv.count() == sum(n_blocks.get(t, 0) for _, t in pairs)
    with _no_local(True):
        got = {}
        for name in ("wand_pruned", "shared_pruned", "auto"):
            df = planned(f"sparse-{name}", _calls(spark, idx, QUERIES, 5)[name])
            plan = _plan(df)
            assert "MapInPandas" in plan and "shiftleft" not in plan, (name, plan)
            got[name] = [tuple(r) for r in df.collect()]
        monkeypatch.setattr(S, "survivor_blocks", partial(S.survivor_blocks, sparse_df_max=0))
        for name in ("wand_pruned", "shared_pruned"):
            df = _calls(spark, idx, QUERIES, 5)[name]()
            assert "shiftleft" in _plan(df), name  # the two-pass plan
            assert [tuple(r) for r in df.collect()] == got[name] != [], name
    assert got["auto"] == got["wand_pruned"]


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
