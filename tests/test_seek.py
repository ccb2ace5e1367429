"""Driver block reads seek row groups through the held footer index.

`IndexHandle.row_groups` holds each file's (min term, max term) range and,
for the files used last, each row group's range from the parquet footers;
`search._local_blocks` reads only the groups whose range holds a query
term. These tests write an index with tiny row groups (`ROW_GROUP_BYTES`
patched down, as other tests patch `IDF_MAP_MAX_TERMS`) and check that the
seek returns the rows of a `term IN` filter over the whole table, also for
one row group per file (the layout of indexes written before row groups
were sized), for files written without term statistics and with one held
footer; that a one-term read opens exactly the groups whose range holds
the term; and that a file whose range misses every query term is not
opened. The driver top-k (`_rank_local`, NumPy) is checked against the
pandas ranking it replaced."""

import os
import shutil

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest

import grenad_spark.index.build as B
import grenad_spark.query.search as S
from grenad_spark.index.positions import build_positions
from grenad_spark.query.ranked import _RANKED_ORDER

VOCAB = ["spark", "merge", "sort", "dup", "key", "value", "fast", "slow", "grenad"]
TABLES = ["segments", "positions"]
COLS = {
    "segments": ["term", "shard", "block_id", "n", "first_doc", "payload"],
    "positions": ["term", "shard", "block_id", "n", "first_doc", "header", "positions"],
}


@pytest.fixture(scope="module")
def seek_index(spark, tmp_path_factory):
    """300 docs over a 9-word vocabulary in 2-posting blocks: every term
    has ~100 block rows per table, written in row groups of the parquet
    writer's minimum (~100 rows)."""
    rows = [(d, " ".join(VOCAB[(d * j + j) % len(VOCAB)] for j in range(1, 8))) for d in range(300)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = str(tmp_path_factory.mktemp("seek") / "idx")
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(B, "ROW_GROUP_BYTES", 1)
        B.build_index(spark, docs, out, n_shards=2, block_size=2)
        build_positions(spark, docs, out, block_size=2)
    return out


def _files(path, table):
    d = os.path.join(path, table)
    return [os.path.join(d, f) for f in sorted(os.listdir(d)) if not f.startswith(("_", "."))]


def _rewrite(src, dst, **kw):
    """A copy of the index at src whose segments and positions files are
    rewritten by pyarrow with the write options kw."""
    shutil.copytree(src, dst)
    for table in TABLES:
        for f in _files(dst, table):
            pq.write_table(pq.read_table(f), f, **kw)
    return dst


@pytest.fixture(scope="module")
def layouts(seek_index, tmp_path_factory):
    base = tmp_path_factory.mktemp("layouts")
    return {
        "row_groups": seek_index,
        # one row group per file: the layout of an index written with
        # Spark's 128 MB default
        "one_group": _rewrite(seek_index, str(base / "one"), row_group_size=1 << 20),
        "no_stats": _rewrite(
            seek_index, str(base / "nostats"), row_group_size=64, write_statistics=False
        ),
    }


def _full_filter(path, table, terms, cols):
    full = pd.concat([pq.read_table(f, columns=cols).to_pandas() for f in _files(path, table)])
    return full[full["term"].isin(terms)]


def _canon(pdf, cols):
    return pdf[cols].sort_values(["term", "shard", "block_id"]).reset_index(drop=True)


def _term_stats(f):
    """The term column's statistics of each row group of the file f."""
    md = pq.read_metadata(f)
    col = md.schema.names.index("term")
    return [md.row_group(i).column(col).statistics for i in range(md.num_row_groups)]


def _groups_holding(path, table, term):
    """(file, row group) pairs that hold rows of `term`, from the data."""
    out = []
    for f in _files(path, table):
        pf = pq.ParquetFile(f)
        for i in range(pf.num_row_groups):
            if term in set(pf.read_row_group(i, ["term"])["term"].to_pylist()):
                out.append((f, i))
    return out


@pytest.mark.parametrize("layout", ["row_groups", "one_group", "no_stats"])
@pytest.mark.parametrize("table", TABLES)
def test_seek_reads_the_rows_of_a_full_filter(layouts, layout, table):
    path = layouts[layout]
    idx = B.IndexHandle(path)
    stats = [_term_stats(f) for f in _files(path, table)]
    if layout == "row_groups":
        assert len(_groups_holding(path, table, "spark")) >= 2
        assert all(st is not None and st.has_min_max for sts in stats for st in sts)
    if layout == "one_group":
        assert all(len(sts) == 1 for sts in stats)
    if layout == "no_stats":
        assert sum(map(len, stats)) > 1 and all(st is None for sts in stats for st in sts)
    cols = COLS[table]
    for terms in (["spark"], ["grenad"], ["dup", "key", "spark"], VOCAB, ["zzabsent"],
                  ["aaabsent", "merge"]):
        got = S._local_blocks(idx, table, terms, cols)
        want = _full_filter(path, table, terms, cols)
        assert list(got.columns) == cols
        assert got.dtypes.to_dict() == want.dtypes.to_dict(), (table, terms)
        pd.testing.assert_frame_equal(_canon(got, cols), _canon(want, cols))


@pytest.mark.parametrize("table", TABLES)
def test_one_term_read_opens_only_the_groups_holding_it(seek_index, table, monkeypatch):
    """Count, not time: the groups a one-term read opens are the groups
    whose footer term range holds the term, fewer than all of them."""
    idx = B.IndexHandle(seek_index)
    read = []

    class Spy(pq.ParquetFile):
        def read_row_groups(self, groups, columns=None, **kw):
            read.extend((self._path, i) for i in groups)
            return super().read_row_groups(groups, columns=columns, **kw)

    def spy(path, **kw):
        f = Spy(path, **kw)
        f._path = path
        return f

    monkeypatch.setattr(S.pq, "ParquetFile", spy)
    n_groups = sum(pq.read_metadata(f).num_row_groups for f in _files(seek_index, table))
    for term in ("spark", "grenad", "merge"):
        read.clear()
        S._local_blocks(idx, table, [term], COLS[table])
        want = [
            (f, i)
            for f in _files(seek_index, table)
            for i, st in enumerate(_term_stats(f))
            if st.min <= term <= st.max
        ]
        assert sorted(read) == want
        assert set(_groups_holding(seek_index, table, term)) <= set(want)
        assert len(want) < n_groups


@pytest.mark.parametrize("table", TABLES)
def test_one_footer_held(seek_index, table, monkeypatch):
    """With one footer held, reads that alternate between files still
    return the rows of a full filter, and the handle never holds more."""
    monkeypatch.setattr(B, "FOOTERS_HELD", 1)
    idx = B.IndexHandle(seek_index)
    cols = COLS[table]
    for terms in (["spark"], VOCAB, ["dup"], ["value", "grenad"], ["spark"]):
        got = S._local_blocks(idx, table, terms, cols)
        pd.testing.assert_frame_equal(
            _canon(got, cols), _canon(_full_filter(seek_index, table, terms, cols), cols)
        )
        assert len(idx._footers) <= 1


def test_file_outside_the_range_is_not_opened(seek_index, monkeypatch):
    """segments/ is range-partitioned into files: once the per-file ranges
    are read, a one-term read opens the footer of the files whose range
    holds the term and of no other."""
    monkeypatch.setattr(B, "FOOTERS_HELD", 0)
    files = _files(seek_index, "segments")
    assert len(files) >= 2
    idx = B.IndexHandle(seek_index)
    idx.row_groups("segments", [])
    sts = {f: _term_stats(f) for f in files}
    opened, narrow = [], 0
    real = pq.read_metadata
    monkeypatch.setattr(pq, "read_metadata", lambda f, **kw: opened.append(f) or real(f, **kw))
    for term in VOCAB:
        opened.clear()
        S._local_blocks(idx, "segments", [term], COLS["segments"])
        assert opened == [f for f in files if sts[f][0].min <= term <= sts[f][-1].max]
        narrow += len(opened) < len(files)
    # a term at a file boundary sits in both files; the others in one
    assert narrow >= len(VOCAB) - len(files) + 1


def _pandas_rank(out, kk, order):
    """The pandas top-k the NumPy _rank_local replaced."""
    out = out.assign(score=out["score"].round(S.SCORE_DECIMALS)).sort_values(
        ["query_id"] + [c for c, _ in order],
        ascending=[True] + [a for _, a in order],
        kind="stable",
    )
    return out.groupby("query_id", sort=False).head(kk)


def _tied_frame(rng, n):
    """Kernel-shaped rows with heavy ties: scores from a 5-value pool (and
    pairs equal only after rounding), rule columns from tiny pools."""
    pool = np.array([1.5, 2.25, 2.2500000001, 0.75, 3.0])
    return pd.DataFrame({
        "query_id": rng.integers(1, 5, n).astype(np.int32),
        "doc_id": rng.integers(0, 40, n).astype(np.int64),
        "score": pool[rng.integers(0, pool.size, n)],
        "hit_terms": rng.integers(1, 3, n).astype(np.int32),
        "typos": rng.integers(0, 2, n).astype(np.int32),
        "proximity": rng.integers(1, 4, n).astype(np.int32),
        "words": rng.integers(1, 3, n).astype(np.int32),
        "attribute": rng.integers(0, 2, n).astype(np.int32),
        "exactness": rng.integers(0, 2, n).astype(np.int32),
    })


@pytest.mark.parametrize(
    "order",
    [S._BM25_ORDER, S._TYPO_ORDER, S._PROXIMITY_ORDER, _RANKED_ORDER],
    ids=["bm25", "typo", "proximity", "ranked"],
)
def test_numpy_rank_matches_pandas(order, monkeypatch):
    monkeypatch.setattr(S, "_local_relation", lambda _spark, rows, _schema, _cols: rows)
    rng = np.random.default_rng(14)
    for n in (0, 1, 7, 200):
        out = _tied_frame(rng, n)
        for kk in (1, 3, 10, 500):
            got = S._rank_local(None, out, kk, order, ["query_id"], "query_id int")
            pd.testing.assert_frame_equal(got, _pandas_rank(out, kk, order))
