"""Seeded zipfian web-page corpus, query sets and reference answers.

Everything the benchmark feeds the engine comes from here, as a pure function
of the seed: the document set (written as parquet) and the query, phrase and
one-edit typo lists. The token arrays kept beside them are the
ground truth the reference BM25 and phrase matchers read; the engine never
sees them.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np

VOCAB = 50_000
ZIPF_S = 1.07
MEAN_DL = 140
DL_SIGMA = 0.5
# head / torso / tail split of the vocabulary by rank, and the share of query
# terms drawn from each
HEAD, TORSO = 100, 5_000
BAND_MIX = (0.4, 0.4, 0.2)
K1, B = 1.2, 0.75
# title/body split of the fielded positions (grenad_spark.corpus.TITLE_TOKENS)
TITLE_TOKENS = 5
# the engine rounds scores to 4 decimals
SCORE_TOL = 1e-4
_LETTERS = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)


def vocabulary(rng: np.random.Generator, n: int = VOCAB) -> np.ndarray:
    """n distinct a-z words in rank order. The length of the word at each rank
    (3-10 letters) is the same for every seed, so text bytes per token and
    the index's per-term tables do not swing with the seed; the seed draws
    the letters."""
    lengths = np.random.default_rng(0).integers(3, 11, size=n)
    words: dict[str, None] = {}
    for ln in lengths:
        while True:
            w = _LETTERS[rng.integers(0, 26, size=ln)].tobytes().decode()
            if w not in words:
                words[w] = None
                break
    return np.array(list(words), dtype=object)


@dataclass
class Corpus:
    doc_ids: np.ndarray  # int64, ascending
    tokens: list  # per doc, int32 vocabulary ranks in text order
    text_bytes: int = 0

    def texts(self, vocab: np.ndarray) -> list[str]:
        return [" ".join(vocab[t]) for t in self.tokens]


def _zipf_cdf(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return np.cumsum(w) / w.sum()


def documents(rng: np.random.Generator, doc_ids: np.ndarray, cdf: np.ndarray) -> Corpus:
    mu = np.log(MEAN_DL) - DL_SIGMA**2 / 2
    dls = np.maximum(1, rng.lognormal(mu, DL_SIGMA, size=len(doc_ids)).astype(np.int64))
    flat = np.searchsorted(cdf, rng.random(int(dls.sum()))).astype(np.int32)
    return Corpus(doc_ids.astype(np.int64), np.split(flat, np.cumsum(dls)[:-1]))


def write_parquet(path: str, corpus: Corpus, vocab: np.ndarray) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    texts = corpus.texts(vocab)
    corpus.text_bytes = sum(len(t) for t in texts)
    pq.write_table(
        pa.table({"doc_id": pa.array(corpus.doc_ids, pa.int64()), "text": texts}),
        path,
    )


def _band_term(rng, present: np.ndarray) -> int:
    """One query term rank: head/torso/tail by BAND_MIX, restricted to terms
    that occur in the corpus so no query is trivially empty."""
    band = rng.choice(3, p=BAND_MIX)
    lo, hi = ((0, HEAD), (HEAD, TORSO), (TORSO, VOCAB))[band]
    pool = present[(present >= lo) & (present < hi)]
    return int(pool[rng.integers(len(pool))])


def queries(rng, vocab, present: np.ndarray, n: int) -> list[tuple[int, str]]:
    out = []
    for i in range(n):
        n_terms = int(rng.integers(1, 5))
        ranks: list[int] = []
        while len(ranks) < n_terms:
            r = _band_term(rng, present)
            if r not in ranks:
                ranks.append(r)
        out.append((i, " ".join(vocab[ranks])))
    return out


def phrases(rng, vocab, corpus: Corpus, n: int) -> list[tuple[int, str]]:
    """2-3 token spans copied from random documents, so every phrase has at
    least one match."""
    out = []
    while len(out) < n:
        toks = corpus.tokens[int(rng.integers(len(corpus.tokens)))]
        ln = int(rng.integers(2, 4))
        if len(toks) <= ln:
            continue
        s = int(rng.integers(0, len(toks) - ln))
        span = toks[s : s + ln]
        if len(set(span.tolist())) < ln:
            continue
        out.append((len(out), " ".join(vocab[span])))
    return out


def typo(rng, word: str, vocab_set: set) -> str:
    """One substitution that is not itself a vocabulary word."""
    while True:
        i = int(rng.integers(len(word)))
        c = chr(int(rng.integers(97, 123)))
        w = word[:i] + c + word[i + 1 :]
        if w != word and w not in vocab_set:
            return w


def typo_queries(rng, vocab, present, n: int) -> list[tuple[int, str]]:
    """2-term queries over torso terms (length >= 5, where one edit is
    allowed) with one term misspelled."""
    vocab_set = set(vocab.tolist())
    pool = present[(present >= HEAD) & (present < TORSO)]
    pool = pool[np.array([len(vocab[r]) >= 5 for r in pool])]
    out = []
    for i in range(n):
        a, b = rng.choice(pool, size=2, replace=False)
        out.append((i, f"{typo(rng, vocab[a], vocab_set)} {vocab[b]}"))
    return out


@dataclass
class Inputs:
    seed: int
    vocab: np.ndarray
    base: Corpus
    props: dict = field(default_factory=dict)


def make_inputs(seed: int, n_docs: int) -> Inputs:
    """Vocabulary and a corpus of n_docs documents (ids 0..n_docs-1)."""
    rng = np.random.default_rng(seed)
    vocab = vocabulary(rng)
    base = documents(rng, np.arange(n_docs), _zipf_cdf(VOCAB, ZIPF_S))
    return Inputs(seed, vocab, base)


def properties(inp: Inputs) -> dict:
    """Input properties the engine's behaviour depends on."""
    flat = np.concatenate(inp.base.tokens)
    dls = np.array([len(t) for t in inp.base.tokens])
    df = np.bincount(np.unique(np.concatenate(
        [np.unique(t).astype(np.int64) + i * VOCAB for i, t in enumerate(inp.base.tokens)]
    )) % VOCAB, minlength=VOCAB)
    p = {
        "seed": inp.seed,
        "docs": len(inp.base.tokens),
        "tokens": int(flat.size),
        "mean_dl": round(float(dls.mean()), 2),
        "max_dl": int(dls.max()),
        "vocab": VOCAB,
        "distinct_terms": int((df > 0).sum()),
        "zipf_s": ZIPF_S,
        "top_term_df_frac": round(float(df.max() / len(dls)), 4),
        "median_df_present": int(np.median(df[df > 0])),
        "text_bytes": inp.base.text_bytes,
    }
    return p


class Reference:
    """Exact BM25 (same k1, b and idf as the engine) and phrase matches over
    the generator's token arrays."""

    def __init__(self, vocab: np.ndarray, corpus: Corpus):
        self.doc_ids = corpus.doc_ids
        self.dl = np.array([len(t) for t in corpus.tokens], dtype=np.float64)
        self.avgdl = float(self.dl.mean())
        self.n = float(len(self.dl))
        self.tokens = corpus.tokens
        self.rank = {w: i for i, w in enumerate(vocab.tolist())}
        # term rank -> (row indices, tf) postings
        rows = np.concatenate([np.full(len(t), i, np.int64) for i, t in enumerate(corpus.tokens)])
        keys = np.concatenate(corpus.tokens).astype(np.int64) * (len(self.dl) + 1) + rows
        uk, tf = np.unique(keys, return_counts=True)
        terms, docs = uk // (len(self.dl) + 1), uk % (len(self.dl) + 1)
        bounds = np.searchsorted(terms, np.arange(VOCAB + 1))
        self._post = (docs, tf.astype(np.float64), bounds)

    def postings(self, term: str):
        r = self.rank.get(term)
        if r is None:
            return np.empty(0, np.int64), np.empty(0)
        docs, tf, bounds = self._post
        return docs[bounds[r] : bounds[r + 1]], tf[bounds[r] : bounds[r + 1]]

    def scores(self, query: str) -> dict[int, float]:
        acc = np.zeros(len(self.dl))
        hit = np.zeros(len(self.dl), bool)
        for t in dict.fromkeys(query.lower().split()):
            rows, tf = self.postings(t)
            if rows.size == 0:
                continue
            idf = np.log(1.0 + (self.n - rows.size + 0.5) / (rows.size + 0.5))
            acc[rows] += idf * tf * (K1 + 1) / (tf + K1 * (1 - B + B * self.dl[rows] / self.avgdl))
            hit[rows] = True
        idx = np.nonzero(hit)[0]
        return dict(zip(self.doc_ids[idx].tolist(), acc[idx].tolist()))

    def phrase_docs(self, phrase: str) -> set[int]:
        """Doc ids containing the phrase's tokens at consecutive positions
        inside one field: the first TITLE_TOKENS tokens are the title, the
        rest the body, as the engine's fielded positions split them."""
        terms = phrase.lower().split()
        ranks = [self.rank.get(t) for t in terms]
        if any(r is None for r in ranks):
            return set()
        cand, _ = self.postings(terms[0])
        for t in terms[1:]:
            cand = np.intersect1d(cand, self.postings(t)[0])
        ln = len(ranks)
        out = set()
        for row in cand.tolist():
            toks = self.tokens[row]
            hits = np.ones(len(toks) - ln + 1, bool)
            for j, r in enumerate(ranks):
                hits &= toks[j : len(toks) - ln + 1 + j] == r
            starts = np.flatnonzero(hits)
            if ((starts + ln <= TITLE_TOKENS) | (starts >= TITLE_TOKENS)).any():
                out.add(int(self.doc_ids[row]))
        return out

    def phrase_scores(self, phrase: str) -> dict[int, float]:
        """BM25 of the phrase's distinct terms over the docs that hold the
        phrase, the ranking the phrase search returns."""
        scores = self.scores(phrase)
        return {d: scores[d] for d in self.phrase_docs(phrase)}

    def edit1_docs(self, query: str) -> set[int]:
        """Doc ids holding some corpus term within one edit of a query term."""
        out: set[int] = set()
        for t in query.lower().split():
            for w in _edit1(t) | {t}:
                if w in self.rank:
                    out.update(self.doc_ids[self.postings(w)[0]].tolist())
        return out


def _edit1(w: str) -> set[str]:
    letters = "abcdefghijklmnopqrstuvwxyz"
    splits = [(w[:i], w[i:]) for i in range(len(w) + 1)]
    out = {a + b[1:] for a, b in splits if b}
    out |= {a + b[1] + b[0] + b[2:] for a, b in splits if len(b) > 1}
    out |= {a + c + b[1:] for a, b in splits if b for c in letters}
    out |= {a + c + b for a, b in splits for c in letters}
    return out


def check_topk(ref_scores: dict[int, float], got: list[tuple[int, float]], k: int) -> bool:
    """An engine top-k is correct when each returned doc carries its
    reference score, the list has min(k, matches) rows, and its scores equal
    the reference's k best (ties may pick any of the tied docs), within
    SCORE_TOL."""
    want = sorted(ref_scores.values(), reverse=True)[:k]
    if len(got) != len(want) or len({d for d, _ in got}) != len(got):
        return False
    for d, s in got:
        if d not in ref_scores or abs(ref_scores[d] - s) > SCORE_TOL:
            return False
    gs = sorted((s for _, s in got), reverse=True)
    return all(abs(a - b) <= SCORE_TOL for a, b in zip(gs, want))


def write_inputs(inp: Inputs, out_dir: str) -> dict[str, str]:
    os.makedirs(out_dir, exist_ok=True)
    paths = {"base": os.path.join(out_dir, "base.parquet")}
    write_parquet(paths["base"], inp.base, inp.vocab)
    return paths
