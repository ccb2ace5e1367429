"""Benchmark entry point.

    python3 perfbench/run.py --workload point --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of this repository. The workload itself runs
in a child process (perfbench/worker.py) in its own session, so this process
can sample the peak resident memory of everything the run starts (Python
driver, Spark JVM, Python workers), stop all of it at the end, and remove the
scratch directory the run wrote to. It prints one detail line (sample counts,
percentiles, per-call breakdown, inputs, host context) and then, as the last
line, the result object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json, with
--trace 1 the per-layer metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("point", "batch")
# every run must end within 180 s; leave room to stop the process tree
CHILD_DEADLINE_S = 165.0
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _proc_stat(pid: str) -> tuple[int, int] | None:
    """(session id, rss bytes) of one process, None if it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
        with open(f"/proc/{pid}/statm") as fh:
            rss_pages = int(fh.read().split()[1])
    except (OSError, IndexError, ValueError):
        return None
    return int(fields[3]), rss_pages * _PAGE


def _session_pids(sid: int) -> dict[int, int]:
    """pid -> rss bytes of every live process in session sid."""
    out = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            st = _proc_stat(pid)
            if st is not None and st[0] == sid:
                out[int(pid)] = st[1]
    return out


class RssSampler(threading.Thread):
    """Peak of the summed RSS of a session's processes, sampled."""

    def __init__(self, sid: int, period_s: float = 0.2):
        super().__init__(daemon=True)
        self.sid, self.period_s = sid, period_s
        self.peak = 0
        self._stop_evt = threading.Event()

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self.peak = max(self.peak, sum(_session_pids(self.sid).values()))
            self._stop_evt.wait(self.period_s)

    def stop(self) -> None:
        self._stop_evt.set()
        self.join(timeout=5)


def _cpu_times() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def _steal_frac(a: list[int], b: list[int]) -> float:
    """Share of CPU time stolen by the hypervisor between two samples."""
    d = [y - x for x, y in zip(a, b)]
    total = sum(d[:8])  # user..steal; guest time is already inside user
    return d[7] / total if total > 0 else 0.0


def _loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def _stop_session(sid: int) -> bool:
    """TERM, then KILL, every process of the session; True once none is left."""
    for sig, wait_s in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        if not _session_pids(sid):
            return True
        try:
            os.killpg(sid, sig)
        except ProcessLookupError:
            pass
        end = time.time() + wait_s
        while time.time() < end and _session_pids(sid):
            time.sleep(0.1)
    return not _session_pids(sid)


def main() -> int:
    t_start = time.time()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "grenad_spark", "__init__.py")):
        print(
            f"perfbench: no grenad_spark package under {ROOT}; run from the "
            f"root of a checkout of the repository",
            file=sys.stderr,
        )
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local", "native"):
        os.makedirs(os.path.join(work, d))
    env = dict(os.environ)
    # library defaults only: nothing may steer the engine's own settings
    for k in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM", "GRENAD_SPARK_NO_NATIVE", "PYSPARK_SUBMIT_ARGS"):
        env.pop(k, None)
    env.update(
        PYTHONPATH=ROOT,  # Spark's Python workers import grenad_spark too
        PYTHONDONTWRITEBYTECODE="1",
        TMPDIR=os.path.join(work, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        # a fresh directory per run: every run compiles the native codec
        GRENAD_SPARK_NATIVE_DIR=os.path.join(work, "native"),
        _JAVA_OPTIONS=f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    )
    out_path = os.path.join(work, "result.json")
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--t-start", repr(t_start), "--work", work, "--out", out_path,
    ]
    cpu0, load0 = _cpu_times(), _loadavg()
    child = subprocess.Popen(
        cmd, cwd=work, env=env, start_new_session=True,
        stdout=sys.stderr.fileno(), stdin=subprocess.DEVNULL,
    )
    sampler = RssSampler(child.pid)
    sampler.start()
    try:
        rc = child.wait(timeout=max(1.0, CHILD_DEADLINE_S - (time.time() - t_start)))
    except subprocess.TimeoutExpired:
        rc = None
    finally:
        sampler.stop()
        stopped = _stop_session(child.pid)
        if child.poll() is None:
            child.wait()
    cpu1, load1 = _cpu_times(), _loadavg()
    try:
        with open(out_path) as fh:
            res = json.load(fh)
    except (OSError, ValueError):
        res = None
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(work))
    except OSError:
        pass
    if rc != 0 or res is None or not stopped:
        why = "timed out" if rc is None else f"exit code {rc}"
        if not stopped:
            why += "; processes left running"
        print(f"perfbench: {args.workload} run failed ({why})", file=sys.stderr)
        return 1

    metrics = res["metrics"]
    peak_mb = sampler.peak / 1e6
    if args.trace:
        metrics["mem.peak_rss_mb"] = {"value": peak_mb, "unit": "MB"}
    boot = [0] * len(cpu1)
    detail = dict(res["detail"])
    detail["peak_rss_mb"] = round(peak_mb, 1)
    detail["host"] = {
        "nproc": os.cpu_count(),
        "steal_frac_run": round(_steal_frac(cpu0, cpu1), 4),
        "steal_frac_since_boot": round(_steal_frac(boot, cpu1), 4),
        "loadavg_start": load0,
        "loadavg_end": load1,
        "wall_s": round(time.time() - t_start, 2),
    }
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": res["correct"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
