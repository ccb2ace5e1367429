"""Materialized pair-proximity DB (index/pairprox.py) — build invariants,
plan pruning, and serving equivalence against a brute-force oracle."""

import re

import pytest
from pyspark.sql import functions as F

from grenad_spark.index.pairprox import (
    ABSENT_COST,
    MAX_PAIR_DIST,
    build_pair_proximity,
    search_topk_proximity_db,
)


@pytest.fixture(scope="module")
def pair_index(spark, docs_small, index_small):
    if not index_small.has_pair_proximity():
        build_pair_proximity(spark, docs_small, index_small.path)
    return index_small


def test_pair_db_distance_bounds(spark, pair_index):
    """Stored distances (the tf field) stay inside 1..MAX_PAIR_DIST and the
    pair keys are canonical (t1 <= t2, single-space separated)."""
    pd_df = pair_index.pair_dict(spark)
    stats = pd_df.agg(F.max("max_tf").alias("mx")).collect()[0]
    assert 1 <= stats.mx <= MAX_PAIR_DIST
    seg = pair_index.pair_segments(spark)
    mn = seg.agg(F.min("min_tf").alias("mn")).collect()[0].mn
    assert mn >= 1
    keys = [r.pair for r in pd_df.select("pair").limit(200).collect()]
    assert keys
    for key in keys:
        t1, t2 = key.split(" ")
        assert t1 <= t2


def test_pair_db_matches_brute_force(spark, docs_small, pair_index):
    """Capped pair costs from the DB equal the brute-force computation over
    raw token positions, for bigram, repeated-term, and beyond-window
    queries (the ABSENT_COST leg must actually fire)."""
    from grenad_spark.functions.tokenize import TOKEN_SPLIT_RE

    queries = [(1, "merge sort"), (2, "data data"), (3, "window the batch")]
    got = {}
    res = search_topk_proximity_db(spark, pair_index, queries, k=10).collect()
    for r in sorted(res, key=lambda r: (r.query_id, r.proximity, -r.score, r.doc_id)):
        got.setdefault(r.query_id, []).append((r.doc_id, r.proximity))
    toks = {
        r.doc_id: [t for t in re.split(TOKEN_SPLIT_RE, r.text.lower()) if t]
        for r in docs_small.select("doc_id", "text").collect()
    }
    saw_absent = False
    for qid, q in queries:
        qt = q.split()
        exp = []
        for d, ts in toks.items():
            if not set(qt) <= set(ts):
                continue
            pos = {}
            for i, t in enumerate(ts):
                pos.setdefault(t, []).append(i)
            prox = 0
            for i in range(len(qt) - 1):
                a, b = qt[i], qt[i + 1]
                best = None
                for pa in pos[a]:
                    for pb in pos[b]:
                        if a == b and pa == pb:
                            continue
                        v = abs(pb - pa)
                        best = v if best is None else min(best, v)
                cost = min(best if best is not None else ABSENT_COST, ABSENT_COST)
                if cost == ABSENT_COST:
                    saw_absent = True
                prox += cost
            exp.append((d, prox))
        exp_by_doc = dict(exp)
        for doc_id, prox in got.get(qid, []):
            assert exp_by_doc[doc_id] == prox, (qid, doc_id)
        # the top-k window itself is oracle-checked in the contract; here we
        # check every returned (doc, proximity) pair against brute force and
        # that the match sets agree on membership
        assert {d for d, _ in got.get(qid, [])} <= set(exp_by_doc)
    assert saw_absent  # the beyond-window query exercised the 8-cost leg


def test_pair_scan_is_pruned(spark, pair_index):
    """The pair-posting read reaches parquet as a pushed term filter —
    serving never scans pairs outside the query set."""
    df = search_topk_proximity_db(spark, pair_index, [(1, "merge sort")], k=5)
    plan = df._jdf.queryExecution().executedPlan().toString()
    scan = [ln for ln in plan.splitlines() if "FileScan" in ln and "pair_proximity" in ln]
    # one query pair: Spark's optimizer turns the one-value IN into EqualTo
    assert len(scan) == 1 and "PushedFilters: [IsNotNull(term), EqualTo(term," in scan[0], plan


# ---------------------------------------------------------------------------
# word_prefix_pair_proximity (as-you-type last-word-prefix tables)
# ---------------------------------------------------------------------------

_PFX_QUERIES = [
    (1, "merge so*"),          # 2-char prefix (below min_terms at sf0.001)
    (2, "hash jo*"),           # prefix below min_terms -> expansion fallback
    (3, "the fast tab*"),      # len 3 > max_len -> never materialized
    (4, "s*"),                 # bare prefix, no full terms
    (5, "value st*"),
    (6, "merge s*"),           # 1-char prefix: materialized at sf0.001
]


@pytest.fixture(scope="module")
def prefix_pair_index(spark, docs_small, pair_index):
    from grenad_spark.index.pairprox import build_prefix_pair_proximity

    if not pair_index.has_prefix_pair_proximity():
        build_prefix_pair_proximity(spark, docs_small, pair_index.path)
    return pair_index


def test_prefix_pair_keys_canonical(spark, prefix_pair_index):
    """Keys are `word SEP prefix` with prefix length 1..PREFIX_PAIR_MAX_LEN
    and stored min-distances inside 1..MAX_PAIR_DIST."""
    from grenad_spark.index.pairprox import PREFIX_PAIR_MAX_LEN

    ppd = prefix_pair_index.prefix_pair_dict(spark)
    assert ppd is not None
    rows = ppd.select("pair", "max_tf").collect()
    assert rows
    for r in rows:
        w, p = r.pair.split(" ")
        assert 1 <= len(p) <= PREFIX_PAIR_MAX_LEN
        assert w and 1 <= r.max_tf <= MAX_PAIR_DIST


def test_prefix_pair_matches_expansion_fallback(spark, prefix_pair_index, monkeypatch):
    """The materialized (word, prefix) list and the min-over-expansions of
    the full-word pair DB are the same quantity (distributivity of min):
    forcing prefix_pair_dict -> None (every slot falls back) must leave
    every (query_id, doc_id, proximity, score) row identical."""
    from grenad_spark.index.build import IndexHandle
    from grenad_spark.index.pairprox import search_topk_proximity_db_prefix

    # non-vacuity: at least one query's (word, prefix) key IS materialized,
    # so the two runs genuinely take different read paths
    keys = {r.pair for r in prefix_pair_index.prefix_pair_dict(spark).collect()}
    assert "merge s" in keys

    def run():
        return sorted(
            (r.query_id, r.doc_id, r.proximity, r.score)
            for r in search_topk_proximity_db_prefix(
                spark, prefix_pair_index, _PFX_QUERIES, k=10
            ).collect()
        )

    got_mat = run()
    monkeypatch.setattr(IndexHandle, "prefix_pair_dict", lambda self, sp: None)
    got_exp = run()
    assert got_mat == got_exp
    assert got_mat  # non-vacuous: at least one query matched


def test_prefix_pair_scan_is_pruned(spark, prefix_pair_index):
    """Every posting-bearing parquet scan in the as-you-type plan carries a
    term-pruning pushed filter (In/EqualTo for known keys, StringStartsWith
    for the dictionary-expansion fallback) — no full segments scan."""
    from grenad_spark.index.pairprox import search_topk_proximity_db_prefix

    df = search_topk_proximity_db_prefix(
        spark, prefix_pair_index, [(1, "merge so*"), (2, "the fast tab*")], k=5
    )
    # executedPlan().toString() elides subtrees on wide plans — use the
    # full formatted explain string
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    scans = re.split(r"\n\(\d+\) Scan parquet", plan)[1:]
    checked = 0
    for s in scans:
        lines = s.splitlines()
        loc = next((l for l in lines if "Location" in l), "")
        if not any(t in loc for t in ("segments", "pair_proximity", "prefix_postings")):
            continue
        pf = next((l for l in lines if "PushedFilters" in l), "")
        assert re.search(r"(In|EqualTo|StringStartsWith)\(term", pf), (loc, pf)
        checked += 1
    assert checked >= 2, plan


def test_prefix_pair_resume_repairs_manifest(spark, prefix_pair_index):
    """A second build call on _SUCCESS-complete prefix-pair tables returns
    early and restores the manifest stanza a crash could have wiped."""
    import json
    import os

    from grenad_spark.index.pairprox import (
        MAX_PAIR_DIST,
        PREFIX_PAIR_MAX_LEN,
        PREFIX_PAIR_MIN_TERMS,
        build_prefix_pair_proximity,
    )

    mpath = os.path.join(prefix_pair_index.path, "manifest.json")
    with open(mpath) as fh:
        m = json.load(fh)
    assert m.get("prefix_pair_proximity")
    m.pop("prefix_pair_proximity")
    with open(mpath, "w") as fh:
        json.dump(m, fh)
    empty = spark.createDataFrame([], "doc_id long, text string")
    build_prefix_pair_proximity(spark, empty, prefix_pair_index.path)
    with open(mpath) as fh:
        m2 = json.load(fh)
    assert m2["prefix_pair_proximity"] == {
        "max_dist": MAX_PAIR_DIST,
        "max_len": PREFIX_PAIR_MAX_LEN,
        "min_terms": PREFIX_PAIR_MIN_TERMS,
    }
