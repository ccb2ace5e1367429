"""Kernel primitives of the serving paths, each written once.

grenad decodes its block format in one place, BlockCursor's in-block walk
(src/block.rs:86-114); here that walk is a NumPy scan of a kernel group's
block rows, and every serving kernel (search.py, phrase.py, ranked.py,
fields.py, matches.py) is built from these primitives: the block decode
(decode_blocks, decode_postings, decode_positions, spans), the matches
(phrase_docs, conjunctive_docs), the scores (bm25, matched_bm25, doc_sums,
disjunctive_bm25, topk_rows: every query's top-k in one lexsort) and the
typed no-rows frame (empty_frame).

Pure NumPy/pandas: kernels run in Python workers and on the driver, and
nothing here needs a Spark session. A per-doc sum adds its terms in the
order its caller gives: by name in the BM25 top-k kernel
(search._bm25_slice) and in decode_postings / decode_positions, else in
the caller's term list.
"""

from __future__ import annotations

import functools

import numpy as np
import pandas as pd

from grenad_spark.functions.varbyte import decode_block_rows, decompress_payloads
from grenad_spark.index.positions import POS_BITS, decode_position_blocks
from grenad_spark.query.bm25 import B, K1, SCORE_DECIMALS

_NO_DOCS = np.empty(0, dtype=np.int64)
# min-distance sentinel of pair_min_dist: no valid partner occurrence
PROX_INF = np.int64(1) << np.int64(40)


# ---------------------------------------------------------------------------
# frames
# ---------------------------------------------------------------------------

# pandas dtype of each DDL type the kernel schemas use — what Arrow's
# to_pandas gives an empty column of the type
_DDL_DTYPES = {"int": "int32", "long": "int64", "double": "float64", "string": "object"}


@functools.lru_cache(maxsize=None)
def _ddl_columns(schema: str) -> tuple[tuple[str, str], ...]:
    return tuple(
        (name, _DDL_DTYPES[typ])
        for name, typ in (f.split() for f in schema.split(","))
    )


def empty_frame(schema: str) -> pd.DataFrame:
    """The no-rows output of a kernel whose DDL schema is `schema`
    ("query_id int, doc_id long, ..."), typed column by column. Parsed
    here: pyspark's DDL parser needs a SparkContext, which a worker has
    not."""
    return pd.DataFrame(
        {name: np.empty(0, dtype=dtype) for name, dtype in _ddl_columns(schema)}
    )


# ---------------------------------------------------------------------------
# decode
# ---------------------------------------------------------------------------

def tfpart(tf, dl, avgdl):
    """BM25's tf saturation with length normalization (float arrays)."""
    return tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * dl / avgdl))


def bm25(idf: float, tf: np.ndarray, dl: np.ndarray, avgdl: float) -> np.ndarray:
    """One term's BM25 contribution at each posting (tf, dl int arrays)."""
    return idf * tfpart(tf.astype(np.float64), dl.astype(np.float64), avgdl)


def decode_blocks(payloads, ns, codec: str):
    """(doc_ids, tfs, dls) of segment block payloads holding ns postings
    each, concatenated in input order: the one posting-block decode."""
    return decode_block_rows(decompress_payloads(list(payloads), codec), ns)


def spans(starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """The index ranges [starts[i], starts[i] + lens[i]), concatenated."""
    ends = np.cumsum(lens)
    return np.repeat(starts - ends + lens, lens) + np.arange(ends[-1] if ends.size else 0)


def _term_runs(pdf: pd.DataFrame):
    """(row order, ns in that order, terms, per-term posting bounds,
    term -> idf) of one kernel group's block rows: terms by name (the order
    every per-doc sum adds them in, whatever order the rows arrive in),
    each term's blocks by first_doc when the group carries it — multi-file
    scans scramble rows, and blocks are doc-range disjoint, so first_doc
    order is doc order. idf is nan when the group carries no idf column."""
    codes, terms = pd.factorize(pdf["term"].to_numpy(), sort=True)
    keys = (codes,) if "first_doc" not in pdf else (pdf["first_doc"].to_numpy(), codes)
    order = np.lexsort(keys)
    starts = np.searchsorted(codes[order], np.arange(len(terms) + 1))
    ns = pdf["n"].to_numpy()[order]
    bounds = np.concatenate(([0], np.cumsum(ns, dtype=np.int64)))[starts]
    idf = pdf["idf"].to_numpy()[order] if "idf" in pdf else np.full(order.size, np.nan)
    idfs = {t: float(idf[starts[i]]) for i, t in enumerate(terms)}
    return order, ns, terms, bounds, idfs


def decode_postings(pdf: pd.DataFrame, codec: str):
    """(term -> (doc_ids, tfs, dls), term -> idf) of one kernel group of
    segment block rows (term, n, payload[, idf][, first_doc]): one decode
    for the whole group, split per term (see _term_runs for the order)."""
    order, ns, terms, bounds, idfs = _term_runs(pdf)
    d, tf, dl = decode_blocks(pdf["payload"].to_numpy()[order], ns, codec)
    decoded = {
        t: (d[a:b], tf[a:b], dl[a:b])
        for t, a, b in zip(terms, bounds[:-1], bounds[1:])
    }
    return decoded, idfs


def decode_positions(pdf: pd.DataFrame, codec: str):
    """(term -> (doc_ids, tfs, dls, positions, occ_starts), term -> idf) of
    one kernel group of position block rows (term, n, header, positions
    [, idf][, first_doc]): one decode for the whole group, split per term;
    each term's occ_starts index its own positions array."""
    order, ns, terms, bounds, idfs = _term_runs(pdf)
    d, tf, dl, pos, occ = decode_position_blocks(
        list(pdf["header"].to_numpy()[order]),
        list(pdf["positions"].to_numpy()[order]),
        ns,
        codec,
    )
    occ_bounds = np.append(occ, pos.size)
    decoded = {}
    for t, a, b in zip(terms, bounds[:-1], bounds[1:]):
        oa, ob = occ_bounds[a], occ_bounds[b]
        decoded[t] = (d[a:b], tf[a:b], dl[a:b], pos[oa:ob], occ[a:b] - oa)
    return decoded, idfs


# ---------------------------------------------------------------------------
# match
# ---------------------------------------------------------------------------

def phrase_docs(decoded: dict, chain: list[tuple[int, str]]) -> np.ndarray:
    """Sorted docs holding the (offset, term) chain: some position p with
    each term at p + offset (offset gaps are one-token wildcards). Packs
    (doc, pos - offset) into one int64 key per occurrence and chains
    np.intersect1d — no per-doc Python; a repeated term contributes one
    key set per offset from the same decoded arrays. Empty when a chain
    term has no postings in the group."""
    keys = None
    for i, t in chain:
        if t not in decoded:
            return _NO_DOCS
        d, tf, _dl, pos, _occ = decoded[t]
        adj = pos - i
        k = ((np.repeat(d, tf) << np.int64(POS_BITS)) + adj)[adj >= 0]
        keys = k if keys is None else np.intersect1d(keys, k)
        if keys.size == 0:
            return _NO_DOCS
    return _NO_DOCS if keys is None else np.unique(keys >> np.int64(POS_BITS))


def conjunctive_docs(decoded: dict, terms: list[str]) -> np.ndarray:
    """Sorted docs holding every one of `terms`; empty when one has no
    postings in the group."""
    if not terms or any(t not in decoded for t in terms):
        return _NO_DOCS
    docs = decoded[terms[0]][0]
    for t in terms[1:]:
        docs = np.intersect1d(docs, decoded[t][0], assume_unique=True)
    return docs


def member_mask(sorted_docs: np.ndarray, all_docs: np.ndarray):
    """(hit_mask, clipped_index) of all_docs within a sorted doc array."""
    if sorted_docs.size == 0:
        return np.zeros(all_docs.size, dtype=bool), np.zeros(all_docs.size, dtype=np.int64)
    sel = np.minimum(np.searchsorted(sorted_docs, all_docs), sorted_docs.size - 1)
    return sorted_docs[sel] == all_docs, sel


def pair_min_dist(a, b, same_term: bool):
    """Per-doc min |pos_b - pos_a| between two decoded terms' occurrence
    streams. a/b = (doc_ids, tfs, dls, pos, occ_starts) decode tuples.
    same_term=True computes min over DISTINCT occurrences (consecutive-diff
    within doc; docs with a single occurrence get PROX_INF).
    Returns (docs, min_dist) for every doc present in a (PROX_INF where no
    valid partner)."""
    docsA, tfA, _dlA, posA, _ = a
    PA = (np.repeat(docsA, tfA) << np.int64(POS_BITS)) + posA
    docA_occ = PA >> np.int64(POS_BITS)
    bounds = np.flatnonzero(docA_occ[1:] != docA_occ[:-1]) + 1
    starts = np.concatenate(([0], bounds))
    if same_term:
        d = np.full(PA.size, PROX_INF, dtype=np.int64)
        if PA.size > 1:
            diffs = PA[1:] - PA[:-1]
            same_doc = docA_occ[1:] == docA_occ[:-1]
            d[1:][same_doc] = diffs[same_doc]
        return docsA, np.minimum.reduceat(d, starts)
    docsB, tfB, _dlB, posB, _ = b
    PB = (np.repeat(docsB, tfB) << np.int64(POS_BITS)) + posB
    idx = np.searchsorted(PB, PA)
    d = np.full(PA.size, PROX_INF, dtype=np.int64)
    has_r = idx < PB.size
    r = np.minimum(idx, PB.size - 1)
    rv = PB[r]
    ok_r = has_r & ((rv >> np.int64(POS_BITS)) == docA_occ)
    d[ok_r] = (rv - PA)[ok_r]
    has_l = idx > 0
    l = np.maximum(idx - 1, 0)
    lv = PB[l]
    ok_l = has_l & ((lv >> np.int64(POS_BITS)) == docA_occ)
    d[ok_l] = np.minimum(d[ok_l], (PA - lv)[ok_l])
    return docsA, np.minimum.reduceat(d, starts)


# ---------------------------------------------------------------------------
# score
# ---------------------------------------------------------------------------

def matched_bm25(
    decoded: dict, idfs: dict, terms: list[str], docs: np.ndarray, avgdl: float
) -> np.ndarray:
    """BM25 of `terms` at the sorted `docs`, summed in the order of
    `terms`; a term absent from a doc adds nothing there."""
    scores = np.zeros(docs.size, dtype=np.float64)
    for t in terms:
        d, tf, dl = decoded[t][:3]
        hit, sel = member_mask(d, docs)
        if hit.any():
            scores[hit] += bm25(idfs[t], tf[sel[hit]], dl[sel[hit]], avgdl)
    return scores


def doc_sums(docs: np.ndarray, scores: np.ndarray):
    """(doc ids ascending, per-doc score sums, per-doc posting counts) of
    postings (docs, scores); each doc's sum accumulates in input order.
    A dense scatter over the group's doc range when it is at most
    max(65536, 8·postings) wide — O(postings), no sort — else the
    O(n log n) unique merge of a sparse group over a huge doc range."""
    lo = int(docs.min())
    width = int(docs.max()) - lo + 1
    if width <= max(65536, 8 * docs.size):
        off = docs - lo
        dense = np.zeros(width)
        np.add.at(dense, off, scores)
        counts = np.bincount(off, minlength=width)
        cand = np.flatnonzero(counts)
        return cand + lo, dense[cand], counts[cand]
    uniq, inv, counts = np.unique(docs, return_inverse=True, return_counts=True)
    sums = np.zeros(uniq.size)
    np.add.at(sums, inv, scores)
    return uniq, sums, counts


def disjunctive_bm25(decoded: dict, idfs: dict, avgdl: float):
    """doc_sums over every decoded term's BM25 contributions (terms in
    decode order): (docs, per-doc BM25, matched-term counts)."""
    return doc_sums(
        np.concatenate([d for d, *_ in decoded.values()]),
        np.concatenate(
            [bm25(idfs[t], tf, dl, avgdl) for t, (_d, tf, dl, *_) in decoded.items()]
        ),
    )


def topk_rows(cands: list, k: int) -> pd.DataFrame:
    """The top-k (query_id, doc_id, score) rows of every query of `cands`,
    (query_id, docs, scores) candidate triples. Each query's rounded scores
    are cut to those tying or beating its kth (an O(n) partition), then one
    (query_id, -score, doc_id) lexsort ranks every query at once."""
    # the cut keeps every tie of the kth: the doc-id tie-break is part of
    # the ranking contract (Hypothesis-caught: a shard top-k that keeps doc
    # 4 but drops doc 1 at equal score is wrong). Rounding comes first: the
    # global window and the DuckDB oracle rank on round(score,
    # SCORE_DECIMALS), so a raw-score cut could drop a round-tie of the kth.
    parts = []
    for q, d, s in cands:
        s = np.round(s, SCORE_DECIMALS)
        if s.size > k:
            keep = s >= np.partition(s, s.size - k)[s.size - k]
            d, s = d[keep], s[keep]
        parts.append((np.full(s.size, q, dtype=np.int64), d, s))
    q, d, s = (np.concatenate(p) for p in zip(*parts))
    order = np.lexsort((d, -s, q))
    order = order[np.arange(order.size) - np.searchsorted(q[order], q[order]) < k]
    return pd.DataFrame({"query_id": q[order], "doc_id": d[order], "score": s[order]})
