"""One benchmark run of one workload, started by perfbench/run.py.

Workloads (each a closed loop: one client, no think time, every call blocks
until its rows are collected):

  point   a base index, then single-query BM25 `search_topk(mode="wand")`
          calls, k=10, until --seconds have passed. One op = one query.
  batch   a base index with field-aware positions, then rotations of batch
          calls on the same 64 queries (wand, shared, auto), a 12-phrase
          `search_topk_phrase_shared` and an 8-query `search_topk_ranked`
          with one-edit typos. One op = one rotation of five calls.

Every answer is checked after the timed loop against references computed
from the generator's token arrays (perfbench/gen.py). A wrong answer counts
as a failed op.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

import numpy as np

import gen
import layers

K = 10
# corpus size: large enough for zipfian posting-list skew, small enough that
# a run (Spark start, cold build, timed loop) stays near a minute on 4 cores
N_DOCS = 2000
BATCH_QUERIES, BATCH_PHRASES, BATCH_TYPOS = 64, 12, 8
# untimed single queries before the point loop: latency keeps falling over the
# first ~10 queries of a session while the JVM compiles the serving path
WARM_QUERIES = 10
# Relative slowdown of a call per unit of host CPU steal during it. The VM
# shares its host: for minutes at a time the hypervisor takes 5-20% of its
# CPU time, and calls slow down about four times that share, because each
# hand-off between driver, JVM and Python worker waits for a descheduled
# vCPU. Least-squares fits over ~1,000 recorded calls on a shared 4-vCPU VM gave
# 4.6 for single queries and 3-5 for batch calls.
STEAL_SLOWDOWN = 4.0
N_ROTATION_SETS = 4
FIELDS = ["title", "body"]


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) CPU time of the whole host since boot, in jiffies."""
    with open("/proc/stat") as fh:
        v = [int(x) for x in fh.readline().split()[1:9]]
    return v[7], sum(v)


def percentile_summary(xs: list[float]) -> dict:
    """Median, and the highest percentile (of 50/75/90/95/99) that has at
    least ten samples beyond it, with the sample count."""
    out = {"n": len(xs), "p50": round(statistics.median(xs), 4)}
    s = sorted(xs)
    for p in (99, 95, 90, 75):
        if len(s) * (100 - p) / 100 >= 10:
            out[f"p{p}"] = round(float(np.percentile(s, p)), 4)
            break
    return out


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


class Run:
    """State of one run: the Spark session, its labelled calls, timings."""

    def __init__(self, args):
        self.args = args
        self.work = args.work
        self.trace = bool(args.trace)
        self.t_start = args.t_start
        self.spark = None
        self.calls: list[dict] = []  # timed and labelled serving calls
        self.writes: list[dict] = []  # labelled index writes
        self.failed = 0
        self.attempted = 0
        self.layer: dict[str, float] = {}
        self.detail: dict = {}
        self.t_first = None

    # ---- session ------------------------------------------------------
    def start_spark(self, event_log: bool) -> None:
        from grenad_spark.session import get_spark

        conf = None
        if event_log:
            d = os.path.join(self.work, "eventlog")
            os.makedirs(d, exist_ok=True)
            conf = {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": d,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        t0 = time.time()
        self.spark = get_spark(cpus=os.cpu_count(), extra_conf=conf)
        self.sc = self.spark.sparkContext
        self.layer.setdefault("session.start_s", time.time() - t0)

    def stop_spark(self) -> None:
        from grenad_spark.session import stop_spark

        stop_spark()
        self.spark = None

    # ---- labelled work ------------------------------------------------
    def label(self, text: str | None) -> None:
        self.sc.setJobDescription(text)

    def write(self, name: str, fn):
        """Run an index write under a job label; returns (result, seconds)."""
        self.label(f"write:{name}:{len(self.writes)}")
        t0 = time.time()
        try:
            out = fn()
        finally:
            t1 = time.time()
            self.label(None)
        self.writes.append({"name": name, "t0": t0, "t1": t1})
        return out, t1 - t0

    def call(self, kind: str, op: int, make_df, timed: bool = True):
        """One serving call: build the lazy DataFrame (plan), collect it
        (exec). Returns the collected rows, or None when the call raised."""
        tag = "op" if timed else "warm"
        self.label(f"{tag}:{kind}:{op}")
        j0 = cpu_jiffies()
        t0 = time.time()
        rows, t1 = None, None
        try:
            df = make_df()
            t1 = time.time()
            rows = [tuple(r) for r in df.collect()]
        except Exception:
            traceback.print_exc()
        t2 = time.time()
        j1 = cpu_jiffies()
        self.label(None)
        if timed:
            if self.t_first is None:
                self.t_first = t0
            self.calls.append({
                "kind": kind, "op": op, "t0": t0, "t1": t1 or t2, "t2": t2,
                "steal": j1[0] - j0[0], "jiffies": j1[1] - j0[1],
            })
        return rows

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: wrong or failed answer: {what}", file=sys.stderr)

    # ---- summaries ----------------------------------------------------
    def ops(self) -> dict[int, list[dict]]:
        out: dict[int, list[dict]] = {}
        for c in self.calls:
            out.setdefault(c["op"], []).append(c)
        return out

    def op_latencies(self) -> list[float]:
        return [
            max(c["t2"] for c in cs) - min(c["t0"] for c in cs)
            for cs in self.ops().values()
        ]

    def op_latencies_adjusted(self) -> list[float]:
        """Op latencies with each call divided by 1 + STEAL_SLOWDOWN x the
        host's steal share during the call."""
        return [
            sum((c["t2"] - c["t0"]) / (1 + STEAL_SLOWDOWN * c["steal"] / max(1, c["jiffies"])) for c in cs)
            for cs in self.ops().values()
        ]

    def end_to_end(self, build_docs_per_s: float, index_bytes: int, text_bytes: int) -> dict:
        lat = self.op_latencies()
        self.detail["op_latency_s"] = percentile_summary(lat)
        self.detail["call_trace"] = [
            (c["op"], c["kind"], round(c["t2"] - c["t0"], 4), round(c["steal"] / max(1, c["jiffies"]), 4))
            for c in self.calls
        ]
        by_kind: dict[str, list[float]] = {}
        for c in self.calls:
            by_kind.setdefault(c["kind"], []).append(c["t2"] - c["t0"])
        self.detail["call_latency_s"] = {k: percentile_summary(v) for k, v in by_kind.items()}
        return {
            "setup_s": {"value": self.t_first - self.t_start, "unit": "s"},
            "op_p50_adj_s": {"value": statistics.median(self.op_latencies_adjusted()), "unit": "s"},
            "build_docs_per_s": {"value": build_docs_per_s, "unit": "docs/s"},
            "index_bytes_per_text_byte": {"value": index_bytes / text_bytes, "unit": "ratio"},
        }


def timed_loop(run: Run, one_op, seconds: float | None = None, min_ops: int = 2) -> list:
    """Closed loop: op i+1 starts when op i has returned, until `seconds`
    (default --seconds) have passed since the loop started and at least
    min_ops ops have run."""
    out = []
    t_end = time.time() + (run.args.seconds if seconds is None else seconds)
    i = 0
    while i < min_ops or time.time() < t_end:
        out.append(one_op(i))
        i += 1
    return out


# ---- shared set-up ------------------------------------------------------

def prepare(run: Run):
    """Generate the inputs, load the native codec, start Spark."""
    from grenad_spark.functions import native

    phases = run.detail.setdefault("setup_phases_s", {})
    t0 = time.time()
    phases["process_start"] = t0 - run.t_start
    inp = gen.make_inputs(run.args.seed, N_DOCS)
    paths = gen.write_inputs(inp, os.path.join(run.work, "in"))
    inp.props = gen.properties(inp)
    run.detail["inputs"] = inp.props
    phases["generate"] = time.time() - t0

    t0 = time.time()
    loaded = native.lib() is not None
    run.layer["codec.first_load_s"] = time.time() - t0
    run.layer["codec.native_loaded"] = float(loaded)

    run.start_spark(event_log=run.trace)
    phases["spark"] = run.layer["session.start_s"]
    return inp, paths


def build_base(run: Run, paths: dict):
    from grenad_spark.index.build import build_index

    base_dir = os.path.join(run.work, "base")
    docs = run.spark.read.parquet(paths["base"])
    idx, secs = run.write("build", lambda: build_index(run.spark, docs, base_dir))
    run.detail["setup_phases_s"]["build"] = secs
    stages = idx.manifest["stage_seconds"]
    run.layer.update({f"build.{k}_s": stages[k] for k in layers.BUILD_STAGES})
    run.layer["build.total_s"] = secs
    return base_dir, docs, secs


def present_terms(corpus: gen.Corpus) -> np.ndarray:
    return np.unique(np.concatenate(corpus.tokens))


def check_bm25(run: Run, ref: gen.Reference, queries, rows, what: str) -> None:
    """Each query of a call against the reference top-k."""
    if rows is None:
        for _ in queries:
            run.check(False, f"{what}: call raised")
        return
    got: dict[int, list] = {}
    for qid, doc, score in rows:
        got.setdefault(qid, []).append((doc, score))
    for qid, q in queries:
        run.check(gen.check_topk(ref.scores(q), got.get(qid, []), K), f"{what} {q!r}")


# ---- workloads ----------------------------------------------------------

def run_point(run: Run):
    """Returns the end-to-end metrics, the op function and the warm-up."""
    from grenad_spark.index.build import IndexHandle
    from grenad_spark.query.search import search_topk

    inp, paths = prepare(run)
    base_dir, _docs, build_s = build_base(run, paths)
    rng = np.random.default_rng([run.args.seed, 1])
    qs = gen.queries(rng, inp.vocab, present_terms(inp.base), 2000)
    idx = IndexHandle(base_dir)

    def one_op(i: int, timed: bool = True):
        q = qs[i % len(qs)]
        return q, run.call("point", i, lambda: search_topk(run.spark, idx, [q], k=K, mode="wand"), timed)

    def warm() -> None:
        for i in range(-WARM_QUERIES, 0):
            one_op(i, timed=False)

    warm()
    answers = timed_loop(run, one_op)

    ref = gen.Reference(inp.vocab, inp.base)
    for q, rows in answers:
        check_bm25(run, ref, [q], rows, "point")
    metrics = run.end_to_end(N_DOCS / build_s, dir_bytes(base_dir), inp.props["text_bytes"])
    if run.trace:
        layers.probe(run, idx, base_dir, [answers[0][0]], qs[:BATCH_QUERIES], inp, paths)
    return metrics, one_op, warm


def rotation_sets(run: Run, inp: gen.Inputs):
    rng = np.random.default_rng([run.args.seed, 2])
    present = present_terms(inp.base)
    sets = []
    for _ in range(N_ROTATION_SETS):
        sets.append({
            "bm25": gen.queries(rng, inp.vocab, present, BATCH_QUERIES),
            "phrase": gen.phrases(rng, inp.vocab, inp.base, BATCH_PHRASES),
            "ranked": gen.typo_queries(rng, inp.vocab, present, BATCH_TYPOS),
        })
    return sets


def rotation(run: Run, idx, qset: dict, op: int, timed: bool = True) -> dict:
    from grenad_spark.query.phrase import search_topk_phrase_shared
    from grenad_spark.query.ranked import search_topk_ranked
    from grenad_spark.query.search import search_topk, search_topk_auto, search_topk_shared

    sp, b = run.spark, qset["bm25"]
    return {
        "bm25": run.call("bm25_batch", op, lambda: search_topk(sp, idx, b, k=K, mode="wand"), timed),
        "shared": run.call("shared_batch", op, lambda: search_topk_shared(sp, idx, b, k=K), timed),
        "auto": run.call("auto_batch", op, lambda: search_topk_auto(sp, idx, b, k=K), timed),
        "phrase": run.call("phrase_batch", op, lambda: search_topk_phrase_shared(sp, idx, qset["phrase"], k=K), timed),
        "ranked": run.call("ranked_batch", op, lambda: search_topk_ranked(sp, idx, qset["ranked"], k=K), timed),
    }


def check_rotation(run: Run, ref: gen.Reference, qset: dict, res: dict) -> None:
    for plan in ("bm25", "shared", "auto"):
        check_bm25(run, ref, qset["bm25"], res[plan], f"{plan}_batch")
    # the three plans answer the same queries: same rows
    same = all(res[p] is not None for p in ("bm25", "shared", "auto")) and (
        sorted(res["bm25"]) == sorted(res["shared"]) == sorted(res["auto"])
    )
    run.check(same, "wand, shared and auto rows differ")

    got: dict[int, list] = {}
    for qid, doc, score in res["phrase"] or []:
        got.setdefault(qid, []).append((doc, score))
    for qid, p in qset["phrase"]:
        ok = res["phrase"] is not None and gen.check_topk(ref.phrase_scores(p), got.get(qid, []), K)
        run.check(ok, f"phrase {p!r}")

    byq: dict[int, list] = {}
    for r in res["ranked"] or []:
        byq.setdefault(r[0], []).append(r[1])
    for qid, q in qset["ranked"]:
        docs = byq.get(qid, [])
        ok = (
            res["ranked"] is not None
            and 1 <= len(docs) <= K
            and len(set(docs)) == len(docs)
            and set(docs) <= ref.edit1_docs(q)
        )
        run.check(ok, f"ranked {q!r}")


def run_batch(run: Run):
    """Returns the end-to-end metrics, the op function and the warm-up."""
    from grenad_spark.corpus import fielded_docs
    from grenad_spark.index.build import IndexHandle
    from grenad_spark.index.positions import build_positions

    inp, paths = prepare(run)
    base_dir, docs, build_s = build_base(run, paths)
    _, pos_s = run.write(
        "positions", lambda: build_positions(run.spark, fielded_docs(docs), base_dir, fields=FIELDS)
    )
    run.layer["positions.build_s"] = run.detail["setup_phases_s"]["positions"] = pos_s
    # a handle opened before build_positions does not see the positions
    idx = IndexHandle(base_dir)
    sets = rotation_sets(run, inp)

    def one_op(r: int, timed: bool = True):
        qset = sets[r % len(sets)]
        return qset, rotation(run, idx, qset, r, timed)

    def warm() -> None:
        one_op(-1, timed=False)

    warm()
    answers = timed_loop(run, one_op)

    ref = gen.Reference(inp.vocab, inp.base)
    for qset, res in answers:
        check_rotation(run, ref, qset, res)
    metrics = run.end_to_end(N_DOCS / build_s, dir_bytes(base_dir), inp.props["text_bytes"])
    if run.trace:
        layers.probe(run, idx, base_dir, sets[0]["bm25"], sets[0]["bm25"], inp, paths, typos=sets[0]["ranked"])
    return metrics, one_op, warm


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--t-start", type=float, required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    run = Run(args)
    fn = {"point": run_point, "batch": run_batch}[args.workload]
    e2e, one_op, warm = fn(run)
    run.detail["ops"] = len(run.ops())
    if run.trace:
        # a shorter rerun keeps the traced batch run well inside 180 s
        metrics = layers.finish(run, lambda: timed_loop(run, one_op, args.seconds / 2, 1), warm)
    else:
        metrics = e2e
        run.stop_spark()
    with open(args.out, "w") as fh:
        json.dump({
            "correct": run.failed == 0,
            "attempted": run.attempted,
            "failed": run.failed,
            "metrics": metrics,
            "detail": run.detail,
        }, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
