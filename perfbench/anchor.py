"""Anchor the benchmark's NumPy BM25 reference to the repository's DuckDB oracle.

    python3 perfbench/anchor.py --seed 1 --queries 16

Generates the benchmark corpus for a seed and answers point queries with
`gen.Reference` and with `grenad_spark.query.bm25.bm25_oracle_sql` in DuckDB.
Every oracle top-k must pass the benchmark's own `gen.check_topk` against the
reference. The oracle is too slow to run inside a timed benchmark run, so this
check runs by hand. It exits with code 1 on any disagreement.
"""

from __future__ import annotations

import argparse
import os
import sys

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
from worker import K, N_DOCS  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--queries", type=int, default=16)
    args = ap.parse_args()

    import duckdb
    import pyarrow as pa

    from grenad_spark.query.bm25 import bm25_oracle_sql

    inp = gen.make_inputs(args.seed, N_DOCS)
    rng = np.random.default_rng([args.seed, 1])
    qs = gen.queries(rng, inp.vocab, np.unique(np.concatenate(inp.base.tokens)), args.queries)
    documents = pa.table({"doc_id": inp.base.doc_ids, "text": inp.base.texts(inp.vocab)})
    con = duckdb.connect()
    con.register("documents", documents)
    rows = con.execute(bm25_oracle_sql(qs, k=K)).fetchall()

    ref = gen.Reference(inp.vocab, inp.base)
    got: dict[int, list] = {}
    for qid, doc, score in rows:
        got.setdefault(qid, []).append((doc, score))
    bad = [q for qid, q in qs if not gen.check_topk(ref.scores(q), got.get(qid, []), K)]
    print(f"{len(qs) - len(bad)}/{len(qs)} queries agree, {len(rows)} oracle rows")
    for q in bad:
        print(f"disagree: {q!r}", file=sys.stderr)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
