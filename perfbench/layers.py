"""Per-layer measurements of the traced run (--trace 1).

Two sources, both outside the engine:

* direct calls into each module's functions, timed by the benchmark, on the
  run's own index and queries (`probe`);
* Spark's event log, read after the session stops, for the jobs the run
  labelled with setJobDescription (`finish`). Labels are "op:<call>:<i>" for
  timed serving calls (op i), "write:<name>:<n>" for index writes, and
  "warm:..." / "probe:..." for untimed work. Jobs started from the build's
  background docs-write thread carry no label; they are reported as
  unattributed, not dropped.

The end-to-end metrics come from untraced runs. A traced run repeats its timed
loop, for half as long, in a second session without the event log, so the
tracing overhead is measured in the same run.
"""

from __future__ import annotations

import json
import os
import statistics
import time

import numpy as np

import gen

K = 10
BUILD_STAGES = ("docs_stats", "segments_encode", "segments_finalize")
SPARK_STATS = ("jobs", "stages", "tasks", "shuffle_write_mb", "spill_mb", "executor_run_s", "task_skew", "driver_gap_s")


def _timed(fn, min_s: float = 0.2) -> float:
    """Seconds per call of fn, over as many calls as fit in min_s (>= 3)."""
    n, t0 = 0, time.perf_counter()
    while n < 3 or time.perf_counter() - t0 < min_s:
        fn()
        n += 1
    return (time.perf_counter() - t0) / n


def _median_of(fn, reps: int = 3) -> tuple[float, object]:
    times, out = [], None
    for _ in range(reps):
        t0 = time.time()
        out = fn()
        times.append(time.time() - t0)
    return statistics.median(times), out


def probe(run, idx, index_dir: str, op_queries, batch_queries, inp, paths, typos=None) -> None:
    """Time each layer directly. op_queries are the queries of one op,
    batch_queries a 64-query batch for the prune, scan, kernel and codec
    layers, typos an 8-query one-edit typo set."""
    from pyspark.sql import functions as F

    from grenad_spark.corpus import fielded_docs
    from grenad_spark.functions.varbyte import decode_block_rows, varbyte_decode, varbyte_encode
    from grenad_spark.index.build import IndexHandle
    from grenad_spark.index.live import write_live_map
    from grenad_spark.index.positions import build_positions
    from grenad_spark.query import search as S

    sp, L = run.spark, run.layer
    run.label("probe:layers:0")

    # driver planning
    L["plan.tokenize_ms"] = _timed(lambda: S._tokenize_queries(op_queries), 0.05) * 1000
    h = IndexHandle(index_dir)
    t0 = time.time()
    h.df_map(sp)
    L["plan.df_map_cold_s"] = time.time() - t0
    t0 = time.time()
    h.term_shards(sp)
    L["plan.term_shards_cold_s"] = time.time() - t0
    if typos is None:
        rng = np.random.default_rng([run.args.seed, 4])
        typos = gen.typo_queries(rng, inp.vocab, np.unique(np.concatenate(inp.base.tokens)), 8)
    L["plan.typo_expand_s"], _ = _median_of(lambda: S.expand_fuzzy_queries(sp, h, typos, max_edits=1))

    # pass-1 metadata prune
    pairs = S._tokenize_queries(batch_queries)
    L["prune.pass1_s"], n_surv = _median_of(lambda: S.survivor_blocks(sp, h, pairs, K).count())
    terms = sorted({t for _, t in pairs})
    nb = {
        r["term"]: int(r["n_blocks"])
        for r in h.term_dict(sp).filter(F.col("term").isin(terms)).select("term", "n_blocks").collect()
    }
    L["prune.survivor_frac"] = n_surv / max(1, sum(nb.get(t, 0) for _, t in pairs))

    # scan + attach: (query, block) rows and payload bytes of one batch
    blocks, _ = S._query_blocks_from_pairs(sp, h, pairs)
    r = blocks.agg(
        F.count("*"), F.sum(F.length("payload")), F.countDistinct("term", "shard", "block_id")
    ).first()
    L["scan.blocks"] = float(r[0])
    L["scan.payload_mb"] = (r[1] or 0) / 1e6
    L["scan.shared_dedup_ratio"] = r[2] / max(1, r[0])

    # scoring kernels on groups collected here, one group per query
    g, _ = S._qshard_params(sp, h)
    qids = sorted({q for q, _ in pairs})[:8]
    pdf = blocks.filter(F.col("query_id").isin(qids) & (F.col("shard") < g)).toPandas()
    groups = [grp for _, grp in pdf.groupby("query_id")]
    fn_wa = S._make_wand_batched(h.avgdl, K, h.payload_codec)
    fn_ex = S._make_exhaustive(h.avgdl, K, h.payload_codec)
    L["kernel.wand_ms"] = statistics.median(_timed(lambda: fn_wa(grp), 0.02) for grp in groups) * 1000
    L["kernel.exhaustive_ms"] = statistics.median(_timed(lambda: fn_ex(grp), 0.02) for grp in groups) * 1000

    # codec on the batch's query-term payloads (each distinct block once)
    uniq = pdf.drop_duplicates(["term", "shard", "block_id"])
    payloads, ns = list(uniq["payload"]), uniq["n"].to_numpy()
    raw = b"".join(payloads)
    L["codec.decode_mb_per_s"] = len(raw) / 1e6 / _timed(lambda: decode_block_rows(payloads, ns))
    vals = varbyte_decode(raw)
    L["codec.encode_mb_per_s"] = len(raw) / 1e6 / _timed(lambda: varbyte_encode(vals))

    # write layers this workload does not time itself
    if "positions.build_s" not in L:
        docs = fielded_docs(sp.read.parquet(paths["base"]))
        t0 = time.time()
        build_positions(sp, docs, index_dir, fields=["title", "body"])
        L["positions.build_s"] = time.time() - t0
    if "live.write_s" not in L:
        t0 = time.time()
        write_live_map(sp, [index_dir], os.path.join(run.work, "live_probe"))
        L["live.write_s"] = time.time() - t0
    run.label(None)


class EventLog:
    """Jobs, stages and tasks of one uncompressed Spark event log."""

    def __init__(self, path: str):
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        with open(path) as fh:
            for line in fh:
                e = json.loads(line)
                ev = e.get("Event")
                if ev == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    self.jobs[e["Job ID"]] = {
                        "label": props.get("spark.job.description"),
                        "stage_ids": e.get("Stage IDs", []),
                    }
                elif ev == "SparkListenerStageCompleted":
                    si = e["Stage Info"]
                    st = self._stage(si["Stage ID"])
                    st["t0"], st["t1"] = si.get("Submission Time"), si.get("Completion Time")
                elif ev == "SparkListenerTaskEnd":
                    st = self._stage(e["Stage ID"])
                    ti, tm = e["Task Info"], e.get("Task Metrics") or {}
                    st["task_ms"].append(ti["Finish Time"] - ti["Launch Time"])
                    st["run_ms"] += tm.get("Executor Run Time", 0)
                    st["shuffle_w"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    st["spill"] += tm.get("Disk Bytes Spilled", 0)
        # a stage belongs to the first job that ran it (later jobs skip it)
        self.job_stages: dict[int, list[int]] = {j: [] for j in self.jobs}
        owned = set()
        for j in sorted(self.jobs):
            for s in self.jobs[j]["stage_ids"]:
                if s not in owned and self.stages.get(s, {}).get("t0") is not None:
                    owned.add(s)
                    self.job_stages[j].append(s)

    def _stage(self, sid: int) -> dict:
        return self.stages.setdefault(
            sid, {"t0": None, "t1": None, "task_ms": [], "run_ms": 0, "shuffle_w": 0, "spill": 0}
        )

    def stats(self, job_ids: list[int], t0_s: float, t1_s: float) -> dict:
        """Spark work of a set of jobs, and the time inside [t0_s, t1_s] in
        which no stage ran."""
        sids = [s for j in job_ids for s in self.job_stages[j]]
        sts = [self.stages[s] for s in sids]
        skews = [
            max(st["task_ms"]) / max(1.0, float(np.median(st["task_ms"])))
            for st in sts
            if len(st["task_ms"]) >= 2
        ]
        # the client is closed-loop, so any stage inside the interval ran for
        # this call, including stages of unlabelled background-thread jobs
        lo, hi = t0_s * 1000, t1_s * 1000
        spans = sorted(
            (max(lo, st["t0"]), min(hi, st["t1"]))
            for st in self.stages.values()
            if st["t0"] is not None and st["t1"] is not None
        )
        covered, end = 0.0, lo
        for a, b in spans:
            a = max(a, end)
            if b > a:
                covered += b - a
                end = b
        return {
            "jobs": len(job_ids),
            "stages": len(sts),
            "tasks": sum(len(st["task_ms"]) for st in sts),
            "shuffle_write_mb": sum(st["shuffle_w"] for st in sts) / 1e6,
            "spill_mb": sum(st["spill"] for st in sts) / 1e6,
            "executor_run_s": sum(st["run_ms"] for st in sts) / 1000,
            "task_skew": max(skews, default=1.0),
            "driver_gap_s": (hi - lo - covered) / 1000,
        }


def _labels_of(ev: EventLog, prefix: str) -> dict[str, list[int]]:
    out: dict[str, list[int]] = {}
    for j, d in ev.jobs.items():
        lab = d["label"] or ""
        if lab.startswith(prefix):
            out.setdefault(lab, []).append(j)
    return out


def spark_layers(run, ev: EventLog) -> dict:
    """op.* (median per op), write.* (summed over the run's writes) and the
    unattributed jobs; plus a per-call-kind breakdown for the detail line."""
    out = {}
    by_label = _labels_of(ev, "op:")
    per_op, per_kind = [], {}
    for i, cs in sorted(run.ops().items()):
        jobs = [j for c in cs for j in by_label.get(f"op:{c['kind']}:{i}", [])]
        per_op.append(ev.stats(jobs, min(c["t0"] for c in cs), max(c["t2"] for c in cs)))
        for c in cs:
            per_kind.setdefault(c["kind"], []).append(
                ev.stats(by_label.get(f"op:{c['kind']}:{i}", []), c["t0"], c["t2"])
            )
    for k in SPARK_STATS:
        out[f"op.{k}"] = float(statistics.median(s[k] for s in per_op))
    run.detail["spark_per_call"] = {
        kind: {k: round(float(statistics.median(s[k] for s in ss)), 4) for k in SPARK_STATS}
        for kind, ss in per_kind.items()
    }
    wl = _labels_of(ev, "write:")
    ws = [
        ev.stats(wl.get(f"write:{w['name']}:{n}", []), w["t0"], w["t1"])
        for n, w in enumerate(run.writes)
    ]
    for k in SPARK_STATS:
        agg = max if k == "task_skew" else sum
        out[f"write.{k}"] = float(agg(s[k] for s in ws))
    un = [j for j, d in ev.jobs.items() if d["label"] is None]
    out["unattributed.jobs"] = float(len(un))
    out["unattributed.executor_run_s"] = ev.stats(un, 0, 0)["executor_run_s"]
    return out


UNITS = {
    "_s": "s", "_ms": "ms", "_mb": "MB", "_mb_per_s": "MB/s", "_frac": "ratio",
    "_ratio": "ratio", "task_skew": "ratio", "native_loaded": "flag",
}


def unit_of(name: str) -> str:
    for suffix in sorted(UNITS, key=len, reverse=True):
        if name.endswith(suffix):
            return UNITS[suffix]
    return "count"


def finish(run, loop, warm) -> dict:
    """Stop the traced session, read its event log, then rerun the timed
    loop without the event log to measure the tracing overhead."""
    L = run.layer
    L["trace.op_p50_s"] = statistics.median(run.op_latencies_adjusted())
    plan = [sum(c["t1"] - c["t0"] for c in cs) for cs in run.ops().values()]
    execs = [sum(c["t2"] - c["t1"] for c in cs) for cs in run.ops().values()]
    L["plan.call_s"] = statistics.median(plan)
    L["exec.call_s"] = statistics.median(execs)
    run.stop_spark()
    d = os.path.join(run.work, "eventlog")
    (name,) = os.listdir(d)
    L.update(spark_layers(run, EventLog(os.path.join(d, name))))

    traced = run.calls
    run.calls = []
    run.start_spark(event_log=False)
    warm()
    loop()
    L["trace.overhead_s"] = L["trace.op_p50_s"] - statistics.median(run.op_latencies_adjusted())
    run.stop_spark()
    run.calls = traced
    return {k: {"value": float(v), "unit": unit_of(k)} for k, v in sorted(L.items())}
