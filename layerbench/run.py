"""Layered benchmark of the cashback engine: one command, one result line.

    python3 layerbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The launcher pins the settings every run
shares (cores, driver heap, BLAS threads, Spark local dirs), starts the
workload in its own process group, samples the group's memory, kills the
group on timeout or SIGTERM, and afterwards checks that no process of
the run is alive and that the run's directory is gone.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the same
workload with the Spark event log on and every call into a layer under
its own job group, and prints the per-layer metrics. See
``layerbench/README.md``.
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
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from layerbench import layers, procs  # noqa: E402

WORKLOADS = ("lakehouse_serving", "curation")
#: Wall budget of one run; the contract allows 180 s.
BUDGET_S = 170.0
#: Driver heap, fixed and pre-touched (worker.py): the engine's 32g
#: default does not fit a small box.
HEAP_CAP_MB = 2048


def settings(rundir: str, run_id: str) -> dict:
    """Environment shared by every run, on both sides of a comparison."""
    with open("/proc/meminfo") as fh:
        mem_mb = int(fh.readline().split()[1]) // 1024
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEM=f"{min(HEAP_CAP_MB, mem_mb // 4)}m",
        SPARK_LOCAL_DIRS=os.path.join(rundir, "local"),
        TMPDIR=os.path.join(rundir, "tmp"),
        # the JVM that spark-submit starts to build the driver's command line
        SPARK_LAUNCHER_OPTS=f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(rundir, 'tmp')}",
        OMP_NUM_THREADS="1",
        OPENBLAS_NUM_THREADS="1",
        MKL_NUM_THREADS="1",
        PYTHONHASHSEED="0",
        PYTHONPATH=ROOT,
        **{procs.MARKER: run_id},
    )
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    return env


class Run:
    """One child in its own process group, with RSS sampling."""

    def __init__(self):
        self.proc: subprocess.Popen | None = None
        self.run_id = ""
        self.peak_rss = 0
        self.peak_jvm_rss = 0
        self._stop = threading.Event()

    def _sample(self):
        seen: dict[int, bool] = {}
        while not self._stop.is_set():
            pids = procs.marked_pids(self.run_id, self.proc.pid, seen)
            jvms = {p for p in pids if procs.is_java(p)}
            spawning = procs.sharing_parent_memory(pids, jvms)
            self.peak_rss = max(self.peak_rss, procs.rss_bytes(pids - spawning))
            self.peak_jvm_rss = max(self.peak_jvm_rss, procs.rss_bytes(jvms - spawning))
            self._stop.wait(0.2)

    def start(self, argv: list[str], env: dict, run_id: str):
        self.run_id = run_id
        self.proc = subprocess.Popen(
            argv, env=env, cwd=ROOT, start_new_session=True,
            stdin=subprocess.DEVNULL, stdout=sys.stderr, stderr=sys.stderr,
        )
        self._stop.clear()
        self._sampler = threading.Thread(target=self._sample, name="rss-sampler", daemon=True)
        self._sampler.start()

    def wait(self, deadline: float) -> int | None:
        """Exit code, or None when the deadline passed (group killed)."""
        try:
            return self.proc.wait(timeout=max(0.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            self.kill()
            return None
        finally:
            self._stop.set()
            self._sampler.join()

    def kill(self):
        if self.proc is not None:
            procs.kill_group(self.proc.pid, self.run_id)
            self.proc.wait()


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    deadline = time.time() + BUDGET_S
    if a.workload not in WORKLOADS:
        print(f"unknown workload {a.workload!r}; one of {WORKLOADS}", file=sys.stderr)
        return 2
    if not os.path.isfile(os.path.join(ROOT, "cashback_data_pipeline_spark", "__init__.py")):
        print("the engine package is not beside layerbench/; run from a full checkout", file=sys.stderr)
        return 2

    runs_root = os.path.join(ROOT, ".layerbench_runs")
    run_id = uuid.uuid4().hex[:12]
    rundir = os.path.join(runs_root, f"{a.workload}-{a.seed}-{run_id}")
    env = settings(rundir, run_id)
    cur = Run()

    def on_term(signum, _frame):
        cur.kill()
        shutil.rmtree(rundir, ignore_errors=True)
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, on_term)
    signal.signal(signal.SIGINT, on_term)

    problems: list[str] = []
    res = None
    try:
        os.makedirs(env["SPARK_LOCAL_DIRS"])
        os.makedirs(env["TMPDIR"])
        out = os.path.join(rundir, "result.json")
        cur.start(
            [
                sys.executable, os.path.join(HERE, "worker.py"),
                "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--rundir", rundir, "--out", out,
                "--t-spawn", repr(time.time()),
            ],
            env, run_id,
        )
        code = cur.wait(deadline)
        if code is None:
            problems.append("timed out; process group killed")
        left = procs.survivors(run_id, cur.proc.pid)
        if left:
            problems.append(f"processes left running: {sorted(left)}")
            procs.kill_group(cur.proc.pid, run_id)
        if code == 0 and os.path.exists(out):
            with open(out) as fh:
                res = json.load(fh)
    finally:
        shutil.rmtree(rundir, ignore_errors=True)
        try:
            os.rmdir(runs_root)
        except OSError:
            pass  # another run's directory is still there
    if os.path.exists(rundir):
        problems.append(f"run directory left behind: {rundir}")

    for p in problems:
        print(f"layerbench: {p}", file=sys.stderr)
    if res is None or res.get("aborted"):
        for e in (res or {}).get("errors", []):
            print(f"layerbench: {e}", file=sys.stderr)
        print("layerbench: run failed; no result", file=sys.stderr)
        return 1
    for e in res["errors"][:20]:
        print(f"layerbench: check failed: {e}", file=sys.stderr)

    if not a.trace:
        detail = {k: res.get(k) for k in ("ops", "op_ms", "session_start_s", "warmup_s", "extras")}
        detail["peak_jvm_rss_mb"] = cur.peak_jvm_rss / 2**20
        print("layerbench samples: " + json.dumps(detail))
        metrics = {
            "setup_s": metric(res["setup_s"], "s"),
            "peak_rss_mb": metric(cur.peak_rss / 2**20, "MB"),
            "op_ms_geomean": metric(res["op_ms_geomean"], "ms"),
            "work_per_s": metric(res["work_per_s"], "1/s"),
        }
        if any(m["value"] is None for m in metrics.values()):
            print("layerbench: no op completed; no result", file=sys.stderr)
            return 1
    else:
        vals = dict.fromkeys(layers.names(), 0.0)
        vals.update(res.get("extras", {}))
        vals.update(res.get("per_layer", {}))
        metrics = {k: metric(vals[k], u) for k, u in layers.names().items()}
    failed = res["failed"] + len(problems)
    correct = failed == 0 and not res["errors"]
    print(json.dumps({"correct": correct, "attempted": res["attempted"], "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
