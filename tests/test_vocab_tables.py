"""The vocabulary tables, term_dict and term_deletes, are written by one
writer (build.write_vocab_table): the build's parquet codec, v2 data
pages, and a prefix-coded (DELTA_BYTE_ARRAY) delvar key. Every path that
writes them (a fresh build, a resume, compaction) must hold the same rows;
the manifest's n_terms comes from the file footers; and the build's
background jobs run under the caller's job group."""

import glob
import os
import shutil

import duckdb
import pyarrow.parquet as pq

from grenad_spark.index.build import (
    IndexHandle,
    _done,
    build_index,
    parquet_rows,
    term_delete_rows,
)
from grenad_spark.index.compact import compact_indexes


def _files(path: str) -> list[str]:
    return sorted(glob.glob(os.path.join(path, "*.parquet")))


def _codecs(path: str, column: str) -> set[tuple]:
    """(codec, encodings) of `column` in every row group of every file."""
    out = set()
    for f in _files(path):
        md = pq.read_metadata(f)
        i = md.schema.names.index(column)
        for g in range(md.num_row_groups):
            c = md.row_group(g).column(i)
            out.add((c.compression, tuple(sorted(c.encodings))))
    return out


def _rows(path: str, columns=None) -> list[tuple]:
    """The rows of the parquet table at `path`, in file order."""
    out = []
    for f in _files(path):
        out += zip(*pq.read_table(f, columns=columns).to_pydict().values())
    return out


def _check_deletes(spark, h, codec: str) -> None:
    """term_deletes of `h` holds exactly term_delete_rows(term_dict), in
    (delvar, term) order, written with `codec` and a prefix-coded delvar."""
    path = os.path.join(h.path, "term_deletes")
    assert _done(path)
    want = sorted(
        tuple(r) for r in term_delete_rows(h.term_dict(spark)).select("delvar", "term").collect()
    )
    # file order is the sort order: the table is range-partitioned on delvar
    assert _rows(path, ["delvar", "term"]) == want and len(want) > 0
    encs = _codecs(path, "delvar")
    assert encs and all(c == codec and "DELTA_BYTE_ARRAY" in e for c, e in encs), encs
    for name in ("term_dict", "term_deletes"):
        table = os.path.join(h.path, name)
        assert {c for c, _ in _codecs(table, "term")} == {codec}
        # DuckDB reads the v2 pages
        n = duckdb.sql(f"SELECT count(*) FROM read_parquet('{table}/*.parquet')").fetchone()[0]
        assert n == len(_rows(table))
    assert h.manifest["n_terms"] == h.term_dict(spark).count()
    assert parquet_rows(os.path.join(h.path, "term_dict")) == h.manifest["n_terms"]


def test_fresh_resumed_and_compacted_typo_tables(spark, docs_small, tmp_path):
    src = str(tmp_path / "src")
    idx = build_index(spark, docs_small.select("doc_id", "text"), src, n_shards=2)
    _check_deletes(spark, idx, "ZSTD")
    fresh = _rows(os.path.join(src, "term_deletes"))

    # resume from term_dict, with another codec for the rewritten table
    shutil.rmtree(os.path.join(src, "term_deletes"))
    resumed = build_index(
        spark, docs_small.select("doc_id", "text"), src, n_shards=2, compression="snappy"
    )
    assert _rows(os.path.join(resumed.path, "term_deletes")) == fresh
    encs = _codecs(os.path.join(src, "term_deletes"), "delvar")
    assert encs and all(c == "SNAPPY" and "DELTA_BYTE_ARRAY" in e for c, e in encs), encs

    compacted = compact_indexes(spark, [src], str(tmp_path / "comp"))
    _check_deletes(spark, compacted, "ZSTD")
    assert _rows(os.path.join(compacted.path, "term_deletes")) == fresh


def test_resume_from_segments_writes_both_tables(spark, docs_small, tmp_path):
    """With segments written and both vocabulary tables missing, a resume
    derives them from the segments and writes the same rows."""
    out = str(tmp_path / "idx")
    build_index(spark, docs_small.select("doc_id", "text"), out, n_shards=2)
    before = {t: _rows(os.path.join(out, t)) for t in ("term_dict", "term_deletes")}
    for name in ("term_dict", "term_deletes", "manifest.json"):
        p = os.path.join(out, name)
        shutil.rmtree(p) if os.path.isdir(p) else os.remove(p)
    again = build_index(spark, docs_small.select("doc_id", "text"), out, n_shards=2)
    assert {t: _rows(os.path.join(out, t)) for t in before} == before
    _check_deletes(spark, again, "ZSTD")


def test_tokenless_corpora_write_empty_vocab_tables(spark, tmp_path):
    """A corpus of empty documents and one of punctuation-only documents
    build readable, empty vocabulary tables, and two-edit typo search on
    them returns nothing."""
    for name, texts in (("empty", ["", ""]), ("punct", ["!!!", " -- ", "?"])):
        docs = spark.createDataFrame(
            list(enumerate(texts, 1)), "doc_id long, text string"
        )
        idx = build_index(spark, docs, str(tmp_path / name), n_shards=1)
        assert idx.manifest["n_terms"] == 0
        for table in ("term_dict", "term_deletes"):
            assert _done(os.path.join(idx.path, table))
            assert spark.read.parquet(os.path.join(idx.path, table)).count() == 0
        h = IndexHandle(idx.path)
        h._df_map = None  # the table path, not the driver neighborhood
        for handle in (idx, h):
            assert handle.search_fuzzy(spark, [(1, "hello")], k=5, max_edits=2).count() == 0


def test_build_jobs_run_in_the_callers_job_group(spark, docs_small, tmp_path):
    """Every job of a build, those its background threads submit included,
    runs under the caller's job group and description."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    bus = sc._jsc.sc().listenerBus()
    bus.waitUntilEmpty(60_000)
    before = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("vocab-build", "labelled build")
    try:
        build_index(spark, docs_small.select("doc_id", "text"), str(tmp_path / "g"), n_shards=2)
    finally:
        sc.setJobGroup(None, None)
    bus.waitUntilEmpty(60_000)
    outside = set(tracker.getJobIdsForGroup(None)) - before
    assert outside == set(), sorted(outside)
    assert len(tracker.getJobIdsForGroup("vocab-build")) > 0
