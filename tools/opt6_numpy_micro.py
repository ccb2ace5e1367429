"""r6 session-2 scratch: micro-bench exact-equivalent numpy rewrites.

1. varbyte_decode: np.add.at over every byte  vs  layered per-byte OR
   (each value appears at most once per layer -> plain fancy indexing).
2. dense scatter-add: np.add.at(dense, idx, w)  vs  np.bincount(idx, w)
   (both accumulate in input order -> bit-identical sums).
"""
from __future__ import annotations

import os
import sys
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from grenad_spark.functions.varbyte import (
    encode_posting_blocks,
    varbyte_decode,
    varbyte_encode,
)


def varbyte_decode_layered(data: bytes) -> np.ndarray:
    b = np.frombuffer(data, dtype=np.uint8)
    if b.size == 0:
        return np.empty(0, dtype=np.uint64)
    is_end = (b & 0x80) == 0
    ends = np.flatnonzero(is_end)
    starts = np.empty_like(ends)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    lens = ends - starts + 1
    out = np.zeros(ends.size, dtype=np.uint64)
    for j in range(int(lens.max())):
        sel = lens > j
        out[sel] |= (b[starts[sel] + j].astype(np.uint64) & np.uint64(0x7F)) << np.uint64(7 * j)
    return out


def bench(name, fn, reps=7):
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    print(f"{name}: {best * 1000:.2f} ms")
    return best


def main():
    rng = np.random.default_rng(7)
    n = 1_000_000
    docs = np.cumsum(rng.integers(1, 30, n).astype(np.int64))
    tfs = rng.integers(1, 9, n).astype(np.int64)
    dls = rng.integers(20, 400, n).astype(np.int64)
    blocks = encode_posting_blocks(docs, tfs, dls)
    payload = b"".join(b[8] for b in blocks)
    print(f"{n} postings, payload {len(payload)/1e6:.1f} MB")

    ref = varbyte_decode(payload)
    new = varbyte_decode_layered(payload)
    assert np.array_equal(ref, new), "layered decode differs!"
    bench("decode add.at ", lambda: varbyte_decode(payload))
    bench("decode layered", lambda: varbyte_decode_layered(payload))

    # dense scatter-add comparison
    width = int(docs[-1]) + 1
    idx = docs
    w = (tfs / (dls + 0.5)).astype(np.float64)
    dense1 = np.zeros(width)
    np.add.at(dense1, idx, w)
    dense2 = np.bincount(idx, weights=w, minlength=width)
    assert dense1.shape == dense2.shape
    ident = np.array_equal(dense1, dense2)
    print("bincount bit-identical:", ident)

    def f_addat():
        d = np.zeros(width)
        np.add.at(d, idx, w)
        return d

    bench("scatter add.at  ", f_addat)
    bench("scatter bincount", lambda: np.bincount(idx, weights=w, minlength=width))

    # unique+inv scatter (exhaustive kernel tail)
    uniq, inv = np.unique(idx, return_inverse=True)
    agg1 = np.zeros(uniq.size)
    np.add.at(agg1, inv, w)
    agg2 = np.bincount(inv, weights=w, minlength=uniq.size)
    print("inv-bincount bit-identical:", np.array_equal(agg1, agg2))


if __name__ == "__main__":
    main()
