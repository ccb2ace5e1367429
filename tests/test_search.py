"""End-to-end index + query tests: rank-identity across all three BM25 paths,
shard-count invariance (salting correctness, FIXTURES.md skew_corpus intent),
checkpoint resume, and pure-Python BM25 oracle agreement."""

import math
import os
import re
import shutil
from collections import Counter

import pytest

from grenad_spark.index.build import IndexHandle, _done, build_index
from grenad_spark.query.bm25 import (
    B,
    DEFAULT_K,
    K1,
    REFERENCE_QUERIES,
    SCORE_DECIMALS,
    bm25_topk,
)
from grenad_spark.query.search import search_topk


def _norm(df):
    return sorted(map(tuple, df.toPandas()[["query_id", "doc_id", "score"]].values.tolist()))


def python_bm25_oracle(rows, queries, k=DEFAULT_K):
    """From-scratch BM25 on driver-side rows — the SURVEY §5 reference
    oracle, no Spark/DuckDB involved."""
    docs = {r["doc_id"]: [t for t in re.split("[^a-z0-9]+", r["text"].lower()) if t] for r in rows}
    n = len(docs)
    dl = {d: len(ts) for d, ts in docs.items()}
    avgdl = sum(dl.values()) / n
    df = Counter()
    tf = {d: Counter(ts) for d, ts in docs.items()}
    for d, ts in tf.items():
        for t in ts:
            df[t] += 1
    out = []
    for qid, q in queries:
        terms = set(t for t in re.split("[^a-z0-9]+", q.lower()) if t)
        scored = []
        for d in docs:
            s = 0.0
            for t in terms:
                if tf[d][t]:
                    idf = math.log(1 + (n - df[t] + 0.5) / (df[t] + 0.5))
                    s += idf * tf[d][t] * (K1 + 1) / (tf[d][t] + K1 * (1 - B + B * dl[d] / avgdl))
            if s > 0:
                scored.append((round(s, SCORE_DECIMALS), d))
        scored.sort(key=lambda x: (-x[0], x[1]))
        out.extend((qid, d, s) for s, d in scored[:k])
    return sorted(out)


def test_three_paths_rank_identical(spark, docs_small, index_small):
    ref = _norm(bm25_topk(spark, docs_small))
    ex = _norm(search_topk(spark, index_small, REFERENCE_QUERIES, mode="exhaustive"))
    wd = _norm(search_topk(spark, index_small, REFERENCE_QUERIES, mode="wand"))
    assert ex == ref
    assert wd == ref  # batched block-max pruning


def test_python_oracle_agrees(spark, docs_small, index_small):
    rows = [r.asDict() for r in docs_small.select("doc_id", "text").collect()]
    oracle = python_bm25_oracle(rows, REFERENCE_QUERIES)
    wd = _norm(search_topk(spark, index_small, REFERENCE_QUERIES, mode="wand"))
    assert wd == oracle


def test_shard_count_invariance(spark, docs_small, tmp_path):
    # the salted/sharded path must produce identical results to a 1-shard
    # build (skew_corpus fixture intent: salted == unsalted)
    idx1 = build_index(spark, docs_small, str(tmp_path / "i1"), n_shards=1)
    idx7 = build_index(spark, docs_small, str(tmp_path / "i7"), n_shards=7)
    r1 = _norm(search_topk(spark, idx1, REFERENCE_QUERIES, mode="wand"))
    r7 = _norm(search_topk(spark, idx7, REFERENCE_QUERIES, mode="wand"))
    assert r1 == r7
    # term_dict identical too
    t1 = sorted(map(tuple, idx1.term_dict(spark).select("term", "df", "cf").collect()))
    t7 = sorted(map(tuple, idx7.term_dict(spark).select("term", "df", "cf").collect()))
    assert t1 == t7


def test_checkpoint_resume(spark, docs_small, tmp_path):
    # build once, delete term_dict + manifest, rebuild → only missing stages
    # run; segments untouched (byte-identical resumed build, north_rule)
    import os
    import shutil

    out = str(tmp_path / "resume")
    idx = build_index(spark, docs_small, out, n_shards=2)
    seg_files = sorted(os.listdir(os.path.join(out, "segments")))
    seg_mtime = os.path.getmtime(os.path.join(out, "segments", "_SUCCESS"))
    shutil.rmtree(os.path.join(out, "term_dict"))
    os.remove(os.path.join(out, "manifest.json"))
    idx2 = build_index(spark, docs_small, out, n_shards=2)
    assert sorted(os.listdir(os.path.join(out, "segments"))) == seg_files
    assert os.path.getmtime(os.path.join(out, "segments", "_SUCCESS")) == seg_mtime
    assert idx2.manifest["n_docs"] == idx.manifest["n_docs"]
    r = _norm(search_topk(spark, idx2, REFERENCE_QUERIES, mode="wand"))
    assert len(r) > 0


def test_point_lookup_prunes_segments(spark, index_small):
    # Catalyst must push the term filter into the parquet scan (the
    # index-footer descent analog) — check PushedFilters in the plan
    from pyspark.sql import functions as F

    seg = index_small.segments(spark).filter(F.col("term") == "spark")
    plan = seg._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "spark" in plan


def test_shared_batch_equals_exhaustive(spark, docs_small, index_small):
    """Decode-once-score-many batch serving must be rank/score-identical to
    the per-query exhaustive path."""
    from grenad_spark.query.bm25 import REFERENCE_QUERIES
    from grenad_spark.query.search import search_topk, search_topk_shared

    a = sorted(map(tuple, search_topk_shared(spark, index_small, REFERENCE_QUERIES, k=10).collect()))
    b = sorted(map(tuple, search_topk(spark, index_small, REFERENCE_QUERIES, k=10, mode="exhaustive").collect()))
    assert a == b and len(a) > 0


def test_configurable_block_size(spark, docs_small, tmp_path):
    """WriterBuilder::block_size analog: a 32-posting block build must cap
    every block at 32 and search identically to the default layout."""
    from pyspark.sql import functions as F

    from grenad_spark.index.build import build_index
    from grenad_spark.query.bm25 import REFERENCE_QUERIES
    from grenad_spark.query.search import search_topk

    idx32 = build_index(
        spark, docs_small, str(tmp_path / "bs32"), n_shards=2, block_size=32
    )
    assert idx32.manifest["block_size"] == 32
    max_n = idx32.segments(spark).agg(F.max("n")).first()[0]
    assert max_n <= 32
    idx_def = build_index(spark, docs_small, str(tmp_path / "bsdef"), n_shards=2)
    a = sorted(map(tuple, search_topk(spark, idx32, REFERENCE_QUERIES, k=10, mode="wand").collect()))
    b = sorted(map(tuple, search_topk(spark, idx_def, REFERENCE_QUERIES, k=10, mode="wand").collect()))
    assert a == b and len(a) > 0


def test_prefix_expansion_df_cap(spark, index_small):
    """max_expansions keeps only the highest-df expansions per prefix (the
    web-scale guard for 1-char prefixes)."""
    from grenad_spark.query.search import expand_prefix_queries

    full = expand_prefix_queries(spark, index_small, [(1, "s*")])
    capped = expand_prefix_queries(spark, index_small, [(1, "s*")], max_expansions=2)
    assert len(full) > 2
    assert len(capped) == 2
    assert set(capped) <= set(full)
    # the kept terms are exactly the top-2 by (df desc, term asc)
    dfm = index_small.df_map(spark)
    expected = sorted((t for _, t in full), key=lambda t: (-dfm[t], t))[:2]
    assert {t for _, t in capped} == set(expected)


def test_unknown_merge_function_raises(spark):
    from grenad_spark.errors import MergeError
    from grenad_spark.operators.merge import merge_sorted_union

    kv = spark.createDataFrame([(1, "a", 0, 0)], "key long, value string, source_id int, seq long")
    import pytest as _pytest

    with _pytest.raises(MergeError):
        merge_sorted_union([kv], "median_of_medians")


def test_index_handle_facade(spark, index_small):
    """The IndexHandle search facade returns the same results as the module
    functions (one object to hold after switching from the reference)."""
    from grenad_spark.query.bm25 import REFERENCE_QUERIES
    from grenad_spark.query.search import search_topk

    a = sorted(map(tuple, index_small.search(spark, REFERENCE_QUERIES[:3], k=5).collect()))
    b = sorted(map(tuple, search_topk(spark, index_small, REFERENCE_QUERIES[:3], k=5, mode="wand").collect()))
    assert a == b and len(a) > 0
    assert index_small.search_batch(spark, REFERENCE_QUERIES[:3], k=5).count() > 0
    assert index_small.seek_gte(spark, [(0, "spark", 0)]).count() == 1


def test_out_of_vocabulary_edges(spark, index_small):
    """OOV and empty-expansion inputs return empty/partial results, never
    errors, across every search path; AND with an OOV term matches nothing
    (no doc can contain every term)."""
    from grenad_spark.query.search import (
        search_conjunctive,
        search_topk,
        search_topk_fuzzy,
        search_topk_prefix,
        search_topk_shared,
    )

    assert search_topk(spark, index_small, [(1, "zzzzunknownterm")], k=5, mode="wand").count() == 0
    assert search_topk_shared(spark, index_small, [(1, "zzzzunknownterm")], k=5).count() == 0
    assert search_topk_fuzzy(spark, index_small, [(1, "qqqqqqqqq")], k=5).count() == 0
    assert search_topk_prefix(spark, index_small, [(1, "zzz*")], k=5).count() == 0
    assert search_conjunctive(spark, index_small, [(1, "spark zzzzunknown")], k=5).count() == 0
    # mixed known+OOV still ranks on the known term
    assert search_topk(spark, index_small, [(1, "spark zzzzunknown")], k=5, mode="exhaustive").count() == 5


def test_wand_pruned_mode_equals_exhaustive(spark, index_small):
    """End-to-end two-pass metadata-pruned serving (pass 1 metadata-only θ +
    survivor set, pass 2 payload shuffle of survivors only) must be
    rank-and-score identical to the exhaustive plan."""
    ex = _norm(search_topk(spark, index_small, REFERENCE_QUERIES, k=10, mode="exhaustive"))
    pr = _norm(search_topk(spark, index_small, REFERENCE_QUERIES, k=10, mode="wand_pruned"))
    assert pr == ex and len(ex) > 0
    # single-query path too (TakeOrderedAndProject branch)
    e1 = _norm(search_topk(spark, index_small, REFERENCE_QUERIES[:1], k=5, mode="exhaustive"))
    p1 = _norm(search_topk(spark, index_small, REFERENCE_QUERIES[:1], k=5, mode="wand_pruned"))
    assert p1 == e1 and len(e1) > 0


def test_shared_batch_pruned_equals_exhaustive(spark, index_small):
    """Decode-once batch with the pass-1 metadata pruner composed on top
    (shuffle ∝ union of surviving blocks) must stay result-identical."""
    from grenad_spark.query.search import search_topk_shared

    ex = _norm(search_topk(spark, index_small, REFERENCE_QUERIES, k=10, mode="exhaustive"))
    sp = _norm(search_topk_shared(spark, index_small, REFERENCE_QUERIES, k=10, prune=True))
    assert sp == ex and len(ex) > 0


def test_bm25_paths_large_vocab_fallback(spark, index_small, monkeypatch):
    """Force the >IDF_MAP_MAX_TERMS lookup (df_map() -> None): every BM25
    path takes its dfs from IndexHandle.term_dfs's term_dict lookup and
    must return the rows of the held-map plan — wand, exhaustive,
    wand_pruned with pass 1 run on Spark, auto, shared (pruned or not),
    matching_frequency and typo settings with a zero-typo slot."""
    from functools import partial

    import grenad_spark.query.search as S

    qs = REFERENCE_QUERIES
    freq_qs = [(1, "merge sort data"), (2, "stream zzzzunknown"), (3, "batch")]
    typo_qs = [(1, "sort mrege"), (2, "data striam")]  # 4-char words: no typo

    def run_all():
        calls = {
            "wand": lambda: search_topk(spark, index_small, qs, k=10, mode="wand"),
            "exhaustive": lambda: search_topk(spark, index_small, qs, k=10, mode="exhaustive"),
            "auto": lambda: S.search_topk_auto(spark, index_small, qs, k=10),
            "shared": lambda: S.search_topk_shared(spark, index_small, qs, k=10),
            "shared_pruned": lambda: S.search_topk_shared(
                spark, index_small, qs, k=10, prune=True
            ),
            "matching_frequency": lambda: S.search_topk_matching_frequency(
                spark, index_small, freq_qs, k=10
            ),
            "typo_settings": lambda: S.search_topk_typo_settings(
                spark, index_small, typo_qs, S.TypoSettings(), k=10
            ),
        }
        out = {name: sorted(map(tuple, fn().collect())) for name, fn in calls.items()}
        # pass 1 runs only on the Spark path, and only with a dense term
        with monkeypatch.context() as m:
            m.setattr(S, "_serve_local", lambda *a: False)
            m.setattr(S, "survivor_blocks", partial(S.survivor_blocks, sparse_df_max=0))
            out["wand_pruned"] = sorted(map(tuple, search_topk(
                spark, index_small, qs, k=10, mode="wand_pruned").collect()))
        return out

    baseline = run_all()
    assert all(baseline.values()), baseline
    assert baseline["wand_pruned"] == baseline["exhaustive"]
    monkeypatch.setattr(IndexHandle, "IDF_MAP_MAX_TERMS", 0)
    monkeypatch.delattr(index_small, "_df_map", raising=False)  # bust the handle cache
    assert index_small.df_map(spark) is None
    try:
        assert run_all() == baseline
    finally:
        monkeypatch.delattr(index_small, "_df_map", raising=False)  # don't leak None


def test_term_dfs_lookup_is_remembered(spark, index_small, monkeypatch):
    """With IDF_MAP_MAX_TERMS below the vocabulary size, term_dfs looks a
    batch's terms up in term_dict and the handle remembers the answers,
    absent terms included: they equal the held map's, and a repeated wand
    call on the same terms runs no Spark job."""
    held = index_small.df_map(spark)
    monkeypatch.setattr(IndexHandle, "IDF_MAP_MAX_TERMS", len(held) - 1)
    h = IndexHandle(index_small.path)
    assert h.df_map(spark) is None
    terms = ["merge", "sort", "data", "zzzzunknown"]
    assert h.term_dfs(spark, terms) == {t: held[t] for t in terms if t in held}
    qs = [(1, "merge sort zzzzunknown"), (2, "data stream")]
    want = _norm(search_topk(spark, index_small, qs, k=5, mode="wand"))
    assert _norm(search_topk(spark, h, qs, k=5, mode="wand")) == want and want
    sc = spark.sparkContext
    sc.setJobGroup("term-dfs-memo", "a repeated lookup must be job-free")
    try:
        again = search_topk(spark, h, qs, k=5, mode="wand").collect()
    finally:
        sc.setJobGroup(None, None)
    assert list(sc.statusTracker().getJobIdsForGroup("term-dfs-memo")) == []
    assert sorted(map(tuple, again)) == want


def _lev(a, b):
    dp = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        prev, dp[0] = dp[0], i
        for j, cb in enumerate(b, 1):
            prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb))
    return dp[-1]


@pytest.fixture(scope="module", params=["driver", "table", "pre_table"])
def typo_index(request, spark, index_small, tmp_path_factory):
    """index_small forced down each candidate path of expand_fuzzy_queries:
    the driver neighborhood test (df_map held), the persisted deletion table
    (no df_map), and a copy built before the table existed (no df_map, rows
    derived from term_dict)."""
    if request.param == "driver":
        assert index_small.df_map(spark) is not None
        return index_small
    path = index_small.path
    if request.param == "pre_table":
        path = str(tmp_path_factory.mktemp("pre_table") / "index")
        shutil.copytree(index_small.path, path)
        shutil.rmtree(os.path.join(path, "term_deletes"))
    h = IndexHandle(path)
    h._df_map = None
    assert _done(os.path.join(path, "term_deletes")) == (request.param == "table")
    return h


def test_fuzzy_short_terms_generate_and_test(spark, typo_index):
    """One-edit expansion of short (<4 chars) and long query terms must equal
    a brute levenshtein sweep of the dictionary on every candidate path."""
    from grenad_spark.query.search import _edit1_neighborhood, expand_fuzzy_queries

    # neighborhood basics
    nb = _edit1_neighborhood("cat")
    assert {"cat", "at", "ct", "ca", "bat", "cut", "car", "cats", "scat"} <= nb
    assert "" not in nb and all(len(v) <= 4 for v in nb)

    vocab = [r["term"] for r in typo_index.term_dict(spark).select("term").collect()]
    for q in ("ke", "sor", "x", "sparky", "lineitme", "shipmode"):
        got = {t for _, t in expand_fuzzy_queries(spark, typo_index, [(1, q)])}
        want = {t for t in vocab if _lev(q, t) <= 1}
        assert got == want, (q, got ^ want)


def test_search_topk_auto_matches_exhaustive(spark, index_small):
    """The auto-gated serving entry (measure pass-1 survivor ratio, pick
    two-pass or single-pass per batch) must be result-identical either way,
    at both gate extremes (always-prune, never-prune)."""
    from grenad_spark.query.search import search_topk_auto

    ex = _norm(search_topk(spark, index_small, REFERENCE_QUERIES, k=10, mode="exhaustive"))
    for ratio in (1.1, 0.0):  # >1: pruned branch always; 0: wand fallback always
        got = _norm(
            search_topk_auto(spark, index_small, REFERENCE_QUERIES, k=10, prune_ratio_max=ratio)
        )
        assert got == ex and len(got) > 0, ratio


def test_resumed_build_launches_no_jobs(spark, docs_small, tmp_path):
    """A fully-built index must resume as a pure manifest read — zero Spark
    jobs (the n_terms count and corpus-stats reads sit under the manifest
    guard / short-circuit)."""
    out = str(tmp_path / "noop")
    build_index(spark, docs_small, out, n_shards=2)
    sc = spark.sparkContext
    sc.setJobGroup("noop-resume", "resumed build must be job-free")
    try:
        idx = build_index(spark, docs_small, out, n_shards=2)
    finally:
        sc.setJobGroup(None, None)
    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup("noop-resume")
    assert list(jobs) == [], jobs
    assert idx.manifest["n_terms"] > 0  # handle fully usable from manifest


def test_build_empty_and_punctuation_only_docs(spark, tmp_path):
    """Documents with no tokens (empty, punctuation-only) build: they count
    toward N and avgdl but add no segment rows, and serving agrees with the
    raw-docs BM25 reference."""
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [
            (1, "hello world"),
            (2, "!!!"),
            (3, ""),
            (4, "hello spark hello"),
            (5, "world, world! spark"),
            (6, " -- "),
        ],
        "doc_id long, text string",
    )
    idx = build_index(spark, docs, str(tmp_path / "empty_docs"), n_shards=2)
    assert idx.n_docs == 6
    bad = idx.segments(spark).filter(F.col("term").isNull() | (F.col("min_tf") < 1))
    assert bad.count() == 0
    qs = [(1, "hello"), (2, "world spark"), (3, "spark")]
    got = _norm(search_topk(spark, idx, qs, k=10, mode="wand"))
    assert got == _norm(bm25_topk(spark, docs, qs, k=10)) and len(got) > 0


def test_failed_build_joins_docs_write(spark, docs_small, tmp_path, monkeypatch):
    """A segments stage that raises surfaces its own error, and the
    background docs/stats write is joined on the way out: no pool thread
    left running, no cached doc-length table left behind."""
    import threading

    import grenad_spark.index.build as build_mod

    def boom(*args, **kwargs):
        raise RuntimeError("segments stage failed")

    monkeypatch.setattr(build_mod, "build_segments", boom)
    before = set(threading.enumerate())
    # the persistent-RDD map holds its RDDs weakly, so a JVM GC during the
    # build may drop an earlier test's entry: compare ids, not counts
    jsc = spark.sparkContext._jsc
    cached = set(jsc.getPersistentRDDs().keys())
    with pytest.raises(RuntimeError, match="segments stage failed"):
        build_index(spark, docs_small, str(tmp_path / "failed"), n_shards=2)
    left = [
        t.name
        for t in threading.enumerate()
        if t not in before and t.name.startswith("ThreadPoolExecutor")
    ]
    assert left == []
    assert set(jsc.getPersistentRDDs().keys()) <= cached


def test_search_prefix_handle_default_is_exact(spark, index_small):
    """IndexHandle.search_prefix defaults to exhaustive expansion (None) —
    the original public contract; capping is opt-in (serving tiers pass
    max_expansions explicitly)."""
    import inspect

    from grenad_spark.query.search import search_topk_prefix

    sig = inspect.signature(index_small.search_prefix)
    assert sig.parameters["max_expansions"].default is None
    qs = [(1, "sp*")]
    got = _norm(index_small.search_prefix(spark, qs, k=10))
    want = _norm(search_topk_prefix(spark, index_small, qs, k=10, max_expansions=None))
    assert got == want and len(want) > 0


def test_fuzzy2_symspell_equals_brute_sweep(spark, typo_index):
    """max_edits=2 expansion through the deletion table must equal a brute
    Levenshtein sweep of the dictionary (the SymSpell deletion-intersection
    superset + exact filter is lossless) on every candidate path; budgets
    beyond the table depth are refused."""
    from grenad_spark.query.search import expand_fuzzy_queries

    vocab = [r["term"] for r in typo_index.term_dict(spark).select("term").collect()]
    for q in ("sprak", "widnow", "dupzz", "vektr", "ke", "x"):
        got = {t for _, t in expand_fuzzy_queries(spark, typo_index, [(1, q)], max_edits=2)}
        want = {t for t in vocab if _lev(q, t) <= 2}
        assert got == want, (q, got ^ want)
    with pytest.raises(ValueError):
        expand_fuzzy_queries(spark, typo_index, [(1, "sprak")], max_edits=3)


def test_fuzzy2_plan_scans_only_deletion_table(spark, index_small):
    """The table-path candidate plan, at one and at two edits, must be a
    delvar-IN-pruned scan of term_deletes + broadcast join — no term_dict /
    vocabulary scan of any kind (the r3 SCALE.md known limit, closed)."""
    from grenad_spark.query.search import _symspell_candidates

    deletes = index_small.term_deletes(spark)
    for max_edits in (1, 2):
        cand = _symspell_candidates(spark, deletes, [(1, "sprak")], max_edits)
        plan = cand._jdf.queryExecution().executedPlan().toString()
        # pushed delvar filter reaches the parquet scan (file pruning on the
        # delvar-range-partitioned table)
        assert "PushedFilters" in plan and "delvar" in plan, plan
        # only ONE parquet source in the whole plan, and it's term_deletes
        scans = re.findall(r"Location:.*", plan)
        assert scans and all("term_deletes" in s for s in scans), scans
        assert "term_dict" not in plan, plan
        assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, plan


def test_distinct_attr_semantics(spark, docs_small, index_small):
    """Distinct-attribute serving: at most one result per attribute value,
    each group's winner is its best (score, doc_id) match, and the result
    is the global top-k over the winners."""
    from grenad_spark.query.search import (
        conjunctive_matches,
        search_topk_distinct_attr,
        search_topk_sorted,
    )

    qs = [(1, "dup"), (2, "the fast")]
    got = search_topk_distinct_attr(
        spark, index_small, docs_small, qs, "lang", k=100
    ).collect()
    langs_per_q = {}
    for r in got:
        langs_per_q.setdefault(r.query_id, []).append(r.lang)
    for qid, langs in langs_per_q.items():
        assert len(langs) == len(set(langs)), f"duplicate lang for query {qid}"
    # winners are the per-(query, lang) max by (score, -doc_id) over the
    # full conjunctive match set
    full = conjunctive_matches(spark, index_small, qs).join(
        docs_small.select("doc_id", "lang"), "doc_id"
    ).collect()
    best = {}
    for r in full:
        key = (r.query_id, r.lang)
        cand = (-r.score, r.doc_id)
        if key not in best or cand < best[key]:
            best[key] = cand
    for r in got:
        assert best[(r.query_id, r.lang)] == (-r.score, r.doc_id)
    # sorted-attr: the returned doc set must be EXACTLY the top-20 of the
    # full conjunctive match set under (n_chars DESC, doc_id ASC) — this
    # catches a flipped sort direction, a wrong tie-break, or a wrong
    # attribute column (the result carries n_chars, so compare pairs)
    s = search_topk_sorted(
        spark, index_small, docs_small, qs, "n_chars", k=20
    ).collect()
    got_sorted = {}
    for r in s:
        got_sorted.setdefault(r.query_id, set()).add((r.doc_id, r.n_chars))
    chars = {r.doc_id: r.n_chars for r in docs_small.select("doc_id", "n_chars").collect()}
    expect_sorted = {}
    for r in full:
        expect_sorted.setdefault(r.query_id, []).append(r.doc_id)
    for qid, doc_ids in expect_sorted.items():
        top = sorted(doc_ids, key=lambda d: (-chars[d], d))[:20]
        assert got_sorted.get(qid, set()) == {(d, chars[d]) for d in top}, qid


def test_synonyms_equal_rewritten_disjuncts(spark, index_small):
    """Synonym expansion must equal the plain disjunctive search over the
    rewritten query strings (the rewrite is the whole feature); an OOV
    synonym must be a no-op."""
    from grenad_spark.query.search import search_topk_synonyms

    syn = {"fast": ["slow"], "merge": ["zzznope"]}
    qs = [(1, "the fast"), (2, "merge sort")]
    rewritten = [(1, "the fast slow"), (2, "merge zzznope sort")]
    a = _norm(search_topk_synonyms(spark, index_small, qs, syn, k=20))
    b = _norm(search_topk(spark, index_small, rewritten, k=20, mode="wand"))
    assert a == b and len(a) > 0


def test_stopwords_drop_interacts_with_words_rule(spark, index_small):
    """Stop words drop BEFORE slot counting; an all-stop query matches
    nothing."""
    from grenad_spark.query.search import search_topk_stopwords, search_topk_words

    stop = {"the", "a"}
    qs = [(1, "the fast join"), (2, "the a"), (3, "a dup")]
    got = search_topk_stopwords(spark, index_small, qs, stop, k=20)
    rows = got.collect()
    assert all(r.query_id != 2 for r in rows)  # all-stop query: no rows
    expect = search_topk_words(
        spark, index_small, [(1, "fast join"), (3, "dup")], k=20
    ).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, expect))


def test_filtered_search_matches_postfilter(spark, docs_small, index_small):
    """Filterable-attributes serving == post-filtering the full disjunctive
    match set then ranking; a tautological filter degrades to plain top-k."""
    from grenad_spark.query.search import search_topk_filtered

    qs = [(1, "dup"), (2, "the fast join")]
    full = search_topk(spark, index_small, qs, k=10**6, mode="exhaustive").collect()
    flt = "n_chars >= 300"
    allowed = {
        r.doc_id for r in docs_small.filter(flt).select("doc_id").collect()
    }
    got = search_topk_filtered(spark, index_small, docs_small, qs, flt, k=10)
    by_q = {}
    for r in got.collect():
        by_q.setdefault(r.query_id, []).append((r.doc_id, r.score))
    for qid in (1, 2):
        surv = [
            (r.score, r.doc_id) for r in full
            if r.query_id == qid and r.doc_id in allowed
        ]
        expect = [
            (d, s) for s, d in sorted(surv, key=lambda t: (-t[0], t[1]))[:10]
        ]
        assert by_q.get(qid, []) == expect, qid
    # filter 'true' == plain top-k
    a = sorted(map(tuple, search_topk_filtered(
        spark, index_small, docs_small, qs, "true", k=10).collect()))
    b = sorted(map(tuple, search_topk(
        spark, index_small, qs, k=10, mode="exhaustive").collect()))
    assert a == b


def test_facet_counts_mixed_matches_matchset(spark, docs_small, index_small):
    """Facets of a mixed search count exactly over the mixed match set."""
    from grenad_spark.index.positions import build_positions
    from grenad_spark.operators.facets import facet_counts_for_mixed
    from grenad_spark.query.phrase import mixed_matches

    if not index_small.has_positions():
        build_positions(
            spark,
            spark.read.parquet("/root/testdata/sf0.001/documents.parquet"),
            index_small.path,
        )
    q = 'dup "merge sort"'
    matched = {r.doc_id for r in mixed_matches(spark, index_small, q).collect()}
    assert matched  # the fixture corpus contains this mix
    got = {
        (r.facet, r.value): r.cnt
        for r in facet_counts_for_mixed(
            spark, index_small, docs_small, q, ["lang"]
        ).collect()
    }
    rows = docs_small.select("doc_id", "lang").collect()
    expect = {}
    for r in rows:
        if r.doc_id in matched:
            expect[("lang", r.lang)] = expect.get(("lang", r.lang), 0) + 1
    assert got == expect


def test_facet_value_search_prefix_count_order(spark, docs_small, index_small):
    """/facet-search: prefix-filtered facet values, counted over the term's
    match set, (cnt DESC, value ASC) ordered, deterministically limited."""
    from grenad_spark.operators.facets import facet_value_search, matching_doc_ids

    matched = {r.doc_id for r in matching_doc_ids(spark, index_small, "dup").collect()}
    assert matched
    expect = {}
    for r in docs_small.select("doc_id", "source").collect():
        if r.doc_id in matched and r.source.lower().startswith("src1"):
            expect[r.source] = expect.get(r.source, 0) + 1
    full = sorted(expect.items(), key=lambda t: (-t[1], t[0]))
    got = [
        (r.value, r.cnt)
        for r in facet_value_search(
            spark, index_small, docs_small, "source", "src1", term="dup", max_values=5
        ).collect()
    ]
    assert got == full[:5]
    assert len(full) > 5  # the limit actually cut something
    # unrestricted path: counts over the whole corpus
    allv = {
        r.value: r.cnt
        for r in facet_value_search(
            spark, index_small, docs_small, "source", "src19"
        ).collect()
    }
    corpus = docs_small.filter("source = 'src19'").count()
    assert allv == {"src19": corpus}


def test_typo_settings_budgets(spark, index_small):
    """Per-word typo budgets: <5 chars exact-only, 5-8 one typo, >=9 two,
    disableOnWords denies typos regardless of length."""
    from grenad_spark.query.search import (
        TypoSettings,
        search_topk_fuzzy_ranked,
        search_topk_typo_settings,
    )

    s = TypoSettings(disable_on_words={"wandow"})
    assert [s.budget(w) for w in ("sorr", "mrege", "custoner", "custonerr")] == [
        0, 1, 1, 2,
    ]
    assert s.budget("wandow") == 0  # disabled despite len 6

    # a 4-char typo'd word matches nothing; the same word at budget>=1 would
    got0 = search_topk_typo_settings(spark, index_small, [(1, "sorr")], s).collect()
    assert got0 == []
    got1 = search_topk_fuzzy_ranked(spark, index_small, [(1, "sorr")], max_edits=1)
    assert got1.count() > 0  # 'sort' is one edit away — the budget was the gate

    # disabled word: no expansion even though 'window' is lev-1 from 'wandow'
    gotd = search_topk_typo_settings(spark, index_small, [(1, "wandow")], s).collect()
    assert gotd == []

    # 9-char word uses the two-typo (SymSpell) bucket
    got2 = {
        (r.doc_id, r.typos)
        for r in search_topk_typo_settings(
            spark, index_small, [(1, "custonerr")], s
        ).collect()
    }
    assert got2 and all(t == 2 for _, t in got2)

    # budget-respecting equivalence: when every word's budget is 1, the
    # settings path equals fuzzy_ranked(max_edits=1)
    qs = [(1, "mrege sort"), (2, "striam")]
    s1 = TypoSettings(one_typo=1, two_typos=99)  # every word gets exactly 1
    a = sorted(map(tuple, search_topk_typo_settings(spark, index_small, qs, s1).collect()))
    b = sorted(map(tuple, search_topk_fuzzy_ranked(spark, index_small, qs, max_edits=1).collect()))
    assert a == b


def test_pagination_pages_consistent(spark, index_small):
    """Page 1 equals the top-k window, pages are disjoint and contiguous,
    and total_hits is the exact match-set size on every row."""
    from grenad_spark.query.search import search_topk, search_topk_page

    qs = [(1, "merge sort"), (2, "data stream batch")]
    p1 = search_topk_page(spark, index_small, qs, offset=0, limit=10).collect()
    p2 = search_topk_page(spark, index_small, qs, offset=10, limit=10).collect()
    topk = search_topk(spark, index_small, qs, k=10, mode="exhaustive").collect()
    key = lambda r: (r.query_id, r.doc_id, r.score)
    assert sorted(map(key, p1)) == sorted(map(key, topk))
    assert not ({(r.query_id, r.doc_id) for r in p1}
                & {(r.query_id, r.doc_id) for r in p2})
    by_q = {}
    for r in p1 + p2:
        by_q.setdefault(r.query_id, []).append(r)
    for qid, rows in by_q.items():
        ranks = sorted(r.rank for r in rows)
        assert ranks == list(range(1, len(ranks) + 1)), qid
        totals = {r.total_hits for r in rows}
        assert len(totals) == 1
        # exact exhaustive count: all pages together never exceed it, and a
        # full-window page request drains exactly total_hits rows
        th = totals.pop()
        allrows = search_topk_page(
            spark, index_small, [(qid, dict(qs)[qid])], offset=0, limit=10**6
        ).count()
        assert allrows == th
