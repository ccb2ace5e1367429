"""Generation compaction (Merger analog) + streaming incremental build."""

import os

from pyspark.sql import functions as F

from grenad_spark.index.build import build_index
from grenad_spark.index.compact import compact_indexes
from grenad_spark.query.bm25 import REFERENCE_QUERIES, bm25_topk
from grenad_spark.query.search import search_topk


def _norm(df):
    return sorted(map(tuple, df.toPandas()[["query_id", "doc_id", "score"]].values.tolist()))


def test_compacted_equals_single_build(spark, docs_small, tmp_path):
    """Split corpus into 3 disjoint generations; compaction must equal one
    monolithic build (MergerIter over chunks == one big sorted file)."""
    parts = [
        docs_small.filter(F.col("doc_id") % 3 == i).select("doc_id", "text")
        for i in range(3)
    ]
    gen_paths = []
    for i, p in enumerate(parts):
        out = str(tmp_path / f"gen{i}")
        build_index(spark, p, out, n_shards=2)
        gen_paths.append(out)
    compacted = compact_indexes(
        spark, gen_paths, str(tmp_path / "compacted"), docs=docs_small
    )
    mono = build_index(spark, docs_small, str(tmp_path / "mono"), n_shards=2)

    t_c = sorted(map(tuple, compacted.term_dict(spark).select("term", "df", "cf").collect()))
    t_m = sorted(map(tuple, mono.term_dict(spark).select("term", "df", "cf").collect()))
    assert t_c == t_m

    r_c = _norm(search_topk(spark, compacted, REFERENCE_QUERIES, mode="wand"))
    r_m = _norm(search_topk(spark, mono, REFERENCE_QUERIES, mode="wand"))
    assert r_c == r_m


def test_compaction_newest_generation_wins(spark, tmp_path):
    """A re-crawled doc (same doc_id, new text) must take the newest posting."""
    old = spark.createDataFrame(
        [(0, "alpha beta"), (1, "alpha gamma")], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [(1, "delta delta")], "doc_id long, text string"
    )
    p_old, p_new = str(tmp_path / "old"), str(tmp_path / "new")
    build_index(spark, old, p_old, n_shards=1)
    build_index(spark, new, p_new, n_shards=1)
    idx = compact_indexes(spark, [p_old, p_new], str(tmp_path / "c"))
    td = {r["term"]: (r["df"], r["cf"]) for r in idx.term_dict(spark).collect()}
    # doc 1 was re-crawled: ALL its old postings (alpha, gamma) die via the
    # doc-level tombstone (newest generation containing the doc wins)
    assert td["delta"] == (1, 2)
    assert td["alpha"] == (1, 1)  # only doc 0 keeps alpha
    assert "gamma" not in td  # doc 1's stale gamma posting removed
    assert td["beta"] == (1, 1)
    # stats reflect the live doc set
    assert idx.n_docs == 2


def test_compaction_copy_through_disjoint_ranges(spark, docs_small, tmp_path):
    """Doc-range-disjoint generations: the generation whose shard geometry
    matches the output must have its untouched shards COPIED (byte-identical,
    never decoded) — grenad's Merger streams untouched runs
    (src/merger.rs:126-196), it never re-encodes them."""
    lo = docs_small.filter(F.col("doc_id") < 250).select("doc_id", "text")
    hi = docs_small.filter(F.col("doc_id") >= 250).select("doc_id", "text")
    p_lo, p_hi = str(tmp_path / "lo"), str(tmp_path / "hi")
    build_index(spark, lo, p_lo, n_shards=4)
    # hi holds the global max doc → its shard function (doc*4//500) equals
    # the compacted output's → its exclusive shards are copy-eligible
    build_index(spark, hi, p_hi, n_shards=4)
    compacted = compact_indexes(spark, [p_lo, p_hi], str(tmp_path / "c"))
    assert compacted.manifest["copied_blocks"] > 0, "no copy-through happened"
    # decode work proportional to the non-matching generation only
    assert compacted.manifest["decoded_blocks"] < (
        compacted.manifest["copied_blocks"] + compacted.manifest["decoded_blocks"]
    )
    mono = build_index(spark, docs_small, str(tmp_path / "monoct"), n_shards=4)
    t_c = sorted(map(tuple, compacted.term_dict(spark).select("term", "df", "cf").collect()))
    t_m = sorted(map(tuple, mono.term_dict(spark).select("term", "df", "cf").collect()))
    assert t_c == t_m
    r_c = _norm(search_topk(spark, compacted, REFERENCE_QUERIES, mode="wand"))
    r_m = _norm(search_topk(spark, mono, REFERENCE_QUERIES, mode="wand"))
    assert r_c == r_m


def test_compaction_authoritative_docs_deletes(spark, tmp_path):
    """The docs override is the authoritative live set: a doc absent from it
    is deleted (grenad: deletion = write a new file without the key,
    src/lib.rs:9-10), and its shard is excluded from copy-through."""
    corpus = spark.createDataFrame(
        [(0, "alpha beta"), (1, "alpha gamma"), (2, "beta beta delta")],
        "doc_id long, text string",
    )
    p = str(tmp_path / "g0")
    build_index(spark, corpus, p, n_shards=1)
    keep = corpus.filter(F.col("doc_id") != 1).select("doc_id")
    idx = compact_indexes(spark, [p], str(tmp_path / "cdel"), docs=keep)
    td = {r["term"]: (r["df"], r["cf"]) for r in idx.term_dict(spark).collect()}
    assert "gamma" not in td  # doc 1's postings fully deleted
    assert td["alpha"] == (1, 1)  # only doc 0 keeps alpha
    assert td["beta"] == (2, 3)
    assert idx.n_docs == 2
    # single clean generation with no deletions copies through wholesale
    idx2 = compact_indexes(spark, [p], str(tmp_path / "cnop"))
    assert idx2.manifest["decoded_blocks"] == 0
    assert idx2.manifest["copied_blocks"] > 0


def test_streaming_incremental_build(spark, docs_small, tmp_path):
    """availableNow stream over 3 corpus files → 3 generations → compact →
    same results as a monolithic build."""
    from grenad_spark.index.compact import compact_indexes
    from grenad_spark.streaming.incremental import (
        generation_paths,
        incremental_index_stream,
    )

    stream_dir = str(tmp_path / "in")
    os.makedirs(stream_dir)
    # three files = three micro-batches (maxFilesPerTrigger=1)
    for i in range(3):
        (
            docs_small.filter(F.col("doc_id") % 3 == i)
            .select("doc_id", "text")
            .coalesce(1)
            .write.parquet(f"{stream_dir}/part{i}")
        )
    # flatten: move parquet files up so the stream source sees three files
    import glob
    import shutil

    for i, f in enumerate(sorted(glob.glob(f"{stream_dir}/part*/part-*.parquet"))):
        shutil.move(f, f"{stream_dir}/batch{i}.parquet")
    for i in range(3):
        shutil.rmtree(f"{stream_dir}/part{i}")

    index_root = str(tmp_path / "idx")
    q = incremental_index_stream(
        spark, stream_dir, index_root, str(tmp_path / "ckpt"), n_shards=2
    )
    q.awaitTermination(120)
    gens = generation_paths(index_root)
    assert len(gens) == 3, gens
    # the stream maintains the persisted live map batch-by-batch; it must
    # serve fresh search identically to the inline derivation
    from grenad_spark.query.search import search_topk_fresh

    live_dir = os.path.join(index_root, "_live")
    assert os.path.isdir(live_dir)
    lm = _norm(
        search_topk_fresh(spark, gens, REFERENCE_QUERIES, k=10, live_dir=live_dir)
    )
    assert lm == _norm(search_topk_fresh(spark, gens, REFERENCE_QUERIES, k=10))
    compacted = compact_indexes(spark, gens, str(tmp_path / "c"), docs=docs_small)
    mono = build_index(spark, docs_small, str(tmp_path / "mono2"), n_shards=2)
    t_c = sorted(map(tuple, compacted.term_dict(spark).select("term", "df", "cf").collect()))
    t_m = sorted(map(tuple, mono.term_dict(spark).select("term", "df", "cf").collect()))
    assert t_c == t_m


def test_fresh_search_equals_compacted_search(spark, docs_small, tmp_path):
    """LSM read-path invariant: query-time generation merge (search_topk_fresh
    over base + unmerged re-crawl delta) must return exactly what a
    compact-then-search returns — freshness without waiting for compaction."""
    from grenad_spark.query.search import search_topk_fresh

    base, delta = str(tmp_path / "g0"), str(tmp_path / "g1")
    build_index(spark, docs_small.select("doc_id", "text"), base, n_shards=2)
    recrawl = docs_small.filter(F.col("doc_id") % 3 == 0).select(
        "doc_id", F.concat("text", F.lit(" zz refresh")).alias("text")
    )
    build_index(spark, recrawl, delta, n_shards=2)
    fresh = _norm(search_topk_fresh(spark, [base, delta], REFERENCE_QUERIES, k=10))
    compacted = compact_indexes(spark, [base, delta], str(tmp_path / "cmerged"))
    merged = _norm(search_topk(spark, compacted, REFERENCE_QUERIES, k=10, mode="wand"))
    assert fresh == merged and len(fresh) > 0


def test_compaction_swap_is_crash_safe(spark, tmp_path):
    """The auto-compaction swap must leave a SERVABLE generation set at every
    intermediate crash point (rename-in first, delete second): a crash may
    leave old gens only, old gens + the compacted run, or the compacted run
    only — never an index that reads as empty."""
    import shutil

    from grenad_spark.index.compact import compact_indexes
    from grenad_spark.query.search import search_topk_fresh
    from grenad_spark.streaming.incremental import generation_paths

    root = str(tmp_path / "root")
    os.makedirs(root)
    g0 = spark.createDataFrame(
        [(0, "alpha beta"), (1, "alpha gamma")], "doc_id long, text string"
    )
    g1 = spark.createDataFrame([(1, "delta delta")], "doc_id long, text string")
    build_index(spark, g0, os.path.join(root, "gen=0"), n_shards=1)
    build_index(spark, g1, os.path.join(root, "gen=1"), n_shards=1)
    queries = [(0, "alpha delta")]

    def served():
        gens = generation_paths(root)
        assert gens, "index root reads as empty — not servable"
        return _norm(search_topk_fresh(spark, gens, queries, k=10))

    expected = served()  # crash point 0: before compaction starts

    # the swap, step by step, checking servability between every step
    gens = generation_paths(root)
    tmp = os.path.join(root, "_compacting")
    compact_indexes(spark, gens, tmp)
    assert served() == expected  # crash point 1: compacted but not renamed

    os.rename(tmp, os.path.join(root, "gen=1_c"))
    # crash point 2: compacted run IN PLACE alongside the old generations —
    # newest-wins doc resolution makes the union equivalent to compacted-only
    paths = generation_paths(root)
    assert paths[-1].endswith("gen=1_c"), paths  # _c sorts newest at its epoch
    assert served() == expected

    shutil.rmtree(os.path.join(root, "gen=0"))
    assert served() == expected  # crash point 3: partial delete

    shutil.rmtree(os.path.join(root, "gen=1"))
    assert served() == expected  # final state: compacted run only


def test_fresh_search_with_persisted_live_map(spark, docs_small, tmp_path):
    """The live map persisted at delta-build time must make fresh search
    (a) identical in results, (b) free of the per-query corpus-membership
    aggregate, and (c) refuse a stale map; the incremental update must equal
    the from-scratch computation."""
    import pytest

    from grenad_spark.index.live import update_live_map, write_live_map
    from grenad_spark.query.search import search_topk_fresh

    base, delta = str(tmp_path / "g0"), str(tmp_path / "g1")
    build_index(spark, docs_small.select("doc_id", "text"), base, n_shards=2)
    recrawl = docs_small.filter(F.col("doc_id") % 3 == 0).select(
        "doc_id", F.concat("text", F.lit(" zz refresh")).alias("text")
    )
    build_index(spark, recrawl, delta, n_shards=2)

    live_dir = str(tmp_path / "live")
    write_live_map(spark, [base, delta], live_dir)
    without = _norm(search_topk_fresh(spark, [base, delta], REFERENCE_QUERIES, k=10))
    with_map_df = search_topk_fresh(
        spark, [base, delta], REFERENCE_QUERIES, k=10, live_dir=live_dir
    )
    assert _norm(with_map_df) == without and len(without) > 0

    # (b) per-query plan: joins the READY table — no membership max(gen)
    # aggregate, and the generations' docs tables are never scanned
    plan = with_map_df._jdf.queryExecution().executedPlan().toString()
    # the live-map scan is identifiable by its gen_name column (plan strings
    # truncate file paths); the membership aggregate would show as max(gen…
    assert "gen_name:string" in plan, plan
    assert "max(gen" not in plan, plan

    # incremental fold-in == from-scratch map
    live_b, live_i = str(tmp_path / "lb"), str(tmp_path / "li")
    write_live_map(spark, [base], live_b)
    update_live_map(spark, live_b, delta, live_i)
    inc = _norm(
        search_topk_fresh(spark, [base, delta], REFERENCE_QUERIES, k=10, live_dir=live_i)
    )
    assert inc == without

    # (c) stale map (generation set mismatch): read_live_map itself refuses
    # (a stale map would silently resurrect tombstoned docs)…
    from grenad_spark.index.live import read_live_map

    with pytest.raises(ValueError, match="rebuild"):
        read_live_map(spark, live_dir, [base])
    # …but the SERVING path must not fail outright: it warns and falls back
    # to the inline membership derivation, which is exact for the caller's
    # generation list (the concurrent-reader mid-swap contract)
    with pytest.warns(RuntimeWarning, match="inline membership"):
        stale_df = search_topk_fresh(
            spark, [base], REFERENCE_QUERIES, k=10, live_dir=live_dir
        )
    base_only = _norm(search_topk_fresh(spark, [base], REFERENCE_QUERIES, k=10))
    assert _norm(stale_df) == base_only and len(base_only) > 0

    # missing live_dir entirely (reader raced a swap that hasn't landed):
    # same warn-and-serve contract
    with pytest.warns(RuntimeWarning, match="inline membership"):
        missing_df = search_topk_fresh(
            spark, [base, delta], REFERENCE_QUERIES, k=10,
            live_dir=str(tmp_path / "nonexistent_live"),
        )
    assert _norm(missing_df) == without

    # PARTIAL live_docs (reader raced the overwrite mid-write: _SUCCESS not
    # yet committed): must fall back, never serve a partial map — an inner
    # join on a partial map would silently drop postings
    os.remove(os.path.join(live_dir, "live_docs", "_SUCCESS"))
    with pytest.warns(RuntimeWarning, match="inline membership"):
        partial_df = search_topk_fresh(
            spark, [base, delta], REFERENCE_QUERIES, k=10, live_dir=live_dir
        )
    assert _norm(partial_df) == without


def test_compaction_geometry_reshard_copy_through(spark, docs_small, tmp_path):
    """GEOMETRY-AWARE copy-through: compacting a clean 4-shard generation to
    2 output shards must renumber blocks arithmetically (shard DIV 2 +
    block-id offset from a metadata running sum) with ZERO decoded blocks,
    and search/term_dict must equal a direct 2-shard build."""
    src = str(tmp_path / "g4")
    build_index(spark, docs_small.select("doc_id", "text"), src, n_shards=4)
    compacted = compact_indexes(
        spark, [src], str(tmp_path / "resh2"), n_shards=2
    )
    assert compacted.manifest["decoded_blocks"] == 0, compacted.manifest
    assert compacted.manifest["copied_blocks"] > 0
    assert compacted.n_shards == 2

    mono = build_index(spark, docs_small.select("doc_id", "text"), str(tmp_path / "m2"), n_shards=2)
    t_c = sorted(map(tuple, compacted.term_dict(spark).select("term", "df", "cf").collect()))
    t_m = sorted(map(tuple, mono.term_dict(spark).select("term", "df", "cf").collect()))
    assert t_c == t_m
    r_c = _norm(search_topk(spark, compacted, REFERENCE_QUERIES, mode="wand"))
    r_m = _norm(search_topk(spark, mono, REFERENCE_QUERIES, mode="wand"))
    assert r_c == r_m and len(r_c) > 0
    # pruned serving (block-id survivor joins) must also hold on the
    # renumbered layout — block identity is (term, shard, block_id)
    r_p = _norm(search_topk(spark, compacted, REFERENCE_QUERIES, mode="wand_pruned"))
    assert r_p == r_m

    # blocks within each (term, shard) must stay doc-disjoint, ascending,
    # densely renumbered from 0 — the WAND cursor + survivor-join invariants
    import pandas as pd  # noqa: F401

    seg = (
        compacted.segments(spark)
        .select("term", "shard", "block_id", "first_doc", "last_doc")
        .toPandas()
        .sort_values(["term", "shard", "block_id"])
    )
    for (_, _), g in seg.groupby(["term", "shard"]):
        bids = g["block_id"].to_list()
        assert bids == list(range(len(bids))), bids
        firsts, lasts = g["first_doc"].to_list(), g["last_doc"].to_list()
        for i in range(1, len(firsts)):
            assert firsts[i] > lasts[i - 1], (firsts, lasts)

    # a non-multiple reshard target has no algebraic mapping → decode path
    # (correct, just not copy-through)
    odd = compact_indexes(spark, [src], str(tmp_path / "resh3"), n_shards=3)
    assert odd.manifest["copied_blocks"] == 0
    t_o = sorted(map(tuple, odd.term_dict(spark).select("term", "df", "cf").collect()))
    assert t_o == t_m


def test_compacted_index_serves_fuzzy2_and_resumed_build_upgrades(
    spark, docs_small, tmp_path
):
    """A compacted index must carry the SymSpell deletion table (the one
    typo index — no bigram table beside it), an index missing the table
    must derive the same rows from term_dict, and a resume build must
    upgrade it in place instead of being short-circuited past the stage
    guards."""
    import shutil

    from grenad_spark.index.build import IndexHandle, _done

    def rows(h):
        return sorted(map(tuple, h.term_deletes(spark).select("delvar", "term").collect()))

    src = str(tmp_path / "fsrc")
    idx = build_index(spark, docs_small.select("doc_id", "text"), src, n_shards=2)
    compacted = compact_indexes(spark, [src], str(tmp_path / "fcomp"))
    for h in (idx, compacted):
        assert _done(os.path.join(h.path, "term_deletes"))
        assert not os.path.exists(os.path.join(h.path, "term_bigrams"))
    f2 = compacted.search_fuzzy(spark, [(1, "sprak")], k=5, max_edits=2)
    assert f2.count() > 0
    persisted = rows(idx)
    assert rows(compacted) == persisted

    # simulate an index built before the table existed
    shutil.rmtree(os.path.join(src, "term_deletes"))
    assert rows(IndexHandle(src)) == persisted  # derived from term_dict
    idx2 = build_index(spark, docs_small.select("doc_id", "text"), src, n_shards=2)
    assert _done(os.path.join(src, "term_deletes"))
    assert rows(idx2) == persisted


def test_streaming_incremental_with_positions(spark, docs_small, tmp_path):
    """with_positions=True: every streamed generation carries a positional
    table, fresh PHRASE search serves over the live generation set, and
    auto-compaction merges positions (all generations have them)."""
    from grenad_spark.query.phrase import search_topk_phrase, search_topk_phrase_fresh
    from grenad_spark.streaming.incremental import (
        generation_paths,
        incremental_index_stream,
    )

    stream_dir = str(tmp_path / "in")
    os.makedirs(stream_dir)
    for i in range(3):
        (
            docs_small.filter(F.col("doc_id") % 3 == i)
            .select("doc_id", "text")
            .coalesce(1)
            .write.parquet(f"{stream_dir}/part{i}")
        )
    import glob
    import shutil

    for i, f in enumerate(sorted(glob.glob(f"{stream_dir}/part*/part-*.parquet"))):
        shutil.move(f, f"{stream_dir}/batch{i}.parquet")
    for i in range(3):
        shutil.rmtree(f"{stream_dir}/part{i}")

    index_root = str(tmp_path / "idx")
    q = incremental_index_stream(
        spark, stream_dir, index_root, str(tmp_path / "ckpt"), n_shards=2,
        with_positions=True,
    )
    q.awaitTermination(180)
    gens = generation_paths(index_root)
    assert len(gens) == 3
    from grenad_spark.index.build import IndexHandle

    assert all(IndexHandle(g).has_positions() for g in gens)

    qs = [(1, "merge sort"), (2, "the fast"), (3, "dup")]
    fresh = sorted(map(tuple, search_topk_phrase_fresh(
        spark, gens, qs, k=10, live_dir=os.path.join(index_root, "_live")
    ).collect()))
    # a direct positional build over the full corpus is the ground truth
    mono_dir = str(tmp_path / "monop")
    mono = build_index(spark, docs_small.select("doc_id", "text"), mono_dir, n_shards=2)
    from grenad_spark.index.positions import build_positions

    build_positions(spark, docs_small.select("doc_id", "text"), mono_dir)
    direct = sorted(map(tuple, search_topk_phrase(spark, mono, qs, k=10).collect()))
    assert fresh == direct and len(fresh) > 0

    # auto-compaction path: force a compaction over the 3 generations and
    # verify the merged positions serve identically
    from grenad_spark.index.compact import compact_indexes

    merged = compact_indexes(spark, gens, str(tmp_path / "cp"))
    assert merged.has_positions()
    comp = sorted(map(tuple, search_topk_phrase(spark, merged, qs, k=10).collect()))
    assert comp == direct


def test_streaming_incremental_fielded_positions(spark, docs_small, tmp_path):
    """fielded_positions=True: every streamed generation carries FIELD-AWARE
    positions (title/body split), auto-compaction propagates
    position_fields, and attribute serving on the compacted result equals a
    direct fielded build."""
    from grenad_spark.corpus import fielded_docs
    from grenad_spark.index.build import IndexHandle
    from grenad_spark.index.compact import compact_indexes
    from grenad_spark.index.positions import build_positions
    from grenad_spark.query.ranked import search_topk_attr_rule
    from grenad_spark.streaming.incremental import (
        generation_paths,
        incremental_index_stream,
    )

    stream_dir = str(tmp_path / "in")
    os.makedirs(stream_dir)
    for i in range(2):
        (
            docs_small.filter(F.col("doc_id") % 2 == i)
            .select("doc_id", "text")
            .coalesce(1)
            .write.parquet(f"{stream_dir}/part{i}")
        )
    import glob
    import shutil

    for i, f in enumerate(sorted(glob.glob(f"{stream_dir}/part*/part-*.parquet"))):
        shutil.move(f, f"{stream_dir}/batch{i}.parquet")
    for i in range(2):
        shutil.rmtree(f"{stream_dir}/part{i}")

    index_root = str(tmp_path / "idx")
    q = incremental_index_stream(
        spark, stream_dir, index_root, str(tmp_path / "ckpt"), n_shards=2,
        fielded_positions=True,
    )
    q.awaitTermination(180)
    gens = generation_paths(index_root)
    assert len(gens) == 2
    assert all(
        IndexHandle(g).manifest.get("position_fields") == ["title", "body"]
        for g in gens
    )
    merged = compact_indexes(spark, gens, str(tmp_path / "cf"))
    assert merged.manifest.get("position_fields") == ["title", "body"]

    mono_dir = str(tmp_path / "monof")
    build_index(spark, docs_small.select("doc_id", "text"), mono_dir, n_shards=2)
    build_positions(
        spark, fielded_docs(docs_small), mono_dir, fields=["title", "body"]
    )
    direct = IndexHandle(mono_dir)
    qs = [(1, "dup spark"), (2, "the fast")]
    a = sorted(map(tuple, search_topk_attr_rule(spark, merged, qs, k=10**6).collect()))
    b = sorted(map(tuple, search_topk_attr_rule(spark, direct, qs, k=10**6).collect()))
    assert a == b and len(a) > 0
