"""One run of one workload, in its own process (started by ``run.py``).

Phases: session start and a first job, the workload's input set-up and
warm-up (together ``setup_s``), then the measured closed loop: one
client issues the workload's ops one after another, in whole rounds,
until ``--seconds`` have passed. Every op checks its own output; a
failed check counts the op as failed. Traced (``--trace 1``), the
session writes the Spark event log, which is folded per call after the
session stops.

Writes a JSON result to ``--out``; ``run.py`` adds process-level
metrics and prints the benchmark's result line.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import statistics
import sys
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from layerbench import fold, layers, stats  # noqa: E402
from layerbench.tracer import Tracer  # noqa: E402

WORKLOADS = {
    "lakehouse_serving": "layerbench.lake",
    "curation": "layerbench.curation",
}


def build_session(rundir: str, trace: bool):
    """The engine's session settings (``session.configure``, driver heap
    and cores from the same env vars ``session.get_spark`` reads), plus
    run-private local and temp dirs and, traced, the event log. The JVM's
    perf-data file would land in the system temp dir, so it is off.

    The heap is fixed (``-Xms`` = ``-Xmx``) and touched at start: G1
    otherwise grows it on its own schedule, which moved the JVM's
    resident size by over a third between runs of the same code."""
    from pyspark.sql import SparkSession

    from cashback_data_pipeline_spark.session import configure

    tmp = os.path.join(rundir, "tmp")
    heap = os.environ["SPARK_GRAFT_DRIVER_MEM"]
    builder = (
        SparkSession.builder.appName("layerbench")
        .master(f"local[{os.environ['SPARK_GRAFT_CPUS']}]")
        .config("spark.driver.memory", heap)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.environ["SPARK_LOCAL_DIRS"])
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{heap} -XX:+AlwaysPreTouch")
        .config("spark.sql.warehouse.dir", os.path.join(rundir, "spark-warehouse"))
    )
    if trace:
        evdir = os.path.join(rundir, "events")
        os.makedirs(evdir, exist_ok=True)
        builder = (
            builder.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", "file://" + evdir)
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = configure(builder).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def persisted_rdds(spark) -> int:
    return len(spark.sparkContext._jsc.getPersistentRDDs())


def listener_cpu_s(spark, prefix: str = "spark-listener-group-eventLog") -> float:
    """CPU seconds used so far by the JVM threads whose name starts with
    ``prefix`` (the event-log writer's listener queue)."""
    jvm = spark._jvm
    mx = jvm.java.lang.management.ManagementFactory.getThreadMXBean()
    total = 0
    for t in jvm.java.lang.Thread.getAllStackTraces().keySet().toArray():
        if t.getName().startswith(prefix):
            total += max(0, mx.getThreadCpuTime(t.getId()))
    return total / 1e9


def measure(wl, spark, seconds: float, out: dict) -> list[dict]:
    """The closed loop. Returns one record per op attempted."""
    records: list[dict] = []
    base_rdds = persisted_rdds(spark)
    leaked = 0
    t0 = time.time()
    for rnd in wl.rounds():
        if time.time() - t0 >= seconds:
            break
        for kind, fn in rnd:
            rec = {"kind": kind, "ok": False, "s": None, "work": 0.0}
            try:
                sec, work, problems = fn()
                rec.update(s=sec, work=work, ok=not problems)
                out["errors"] += [f"{kind}: {p}" for p in problems]
            except Exception:  # noqa: BLE001 — an op that raises is a failed op
                out["errors"].append(f"{kind}: {traceback.format_exc(limit=3)}")
            records.append(rec)
            leaked = max(leaked, persisted_rdds(spark) - base_rdds)
    out["persisted_rdds_leaked"] = leaked
    return records


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--rundir", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--t-spawn", type=float, required=True)
    a = ap.parse_args()

    out: dict = {"errors": [], "attempted": 0, "failed": 0}
    spark = wl = None
    records: list[dict] = []
    try:
        spark = build_session(a.rundir, bool(a.trace))
        tracer = Tracer(spark.sparkContext, bool(a.trace))
        with tracer.call("session", "start"):
            spark.range(1).count()
        out["session_start_s"] = time.time() - a.t_spawn
        mod = importlib.import_module(WORKLOADS[a.workload])
        wl = mod.Workload(spark, tracer, a.rundir, a.seed)
        wl.setup()
        t = time.time()
        wl.warmup()
        out["warmup_s"] = time.time() - t
        out["setup_s"] = time.time() - a.t_spawn
        evlog_cpu = listener_cpu_s(spark)
        tracer.measuring = True
        records = measure(wl, spark, a.seconds, out)
        tracer.measuring = False
        out["evlog_cpu_s"] = listener_cpu_s(spark) - evlog_cpu
    except Exception:  # noqa: BLE001 — reported as a failed run
        out["errors"].append(traceback.format_exc())
        out["aborted"] = True
    finally:
        if wl is not None:
            try:
                out["errors"] += wl.close()
            except Exception:  # noqa: BLE001
                out["errors"].append(traceback.format_exc())
        if spark is not None:
            spark.stop()

    leftover = [t.name for t in threading.enumerate() if t.name.startswith("layerbench")]
    if leftover:
        out["errors"].append(f"threads still alive: {leftover}")
    out["attempted"] = len(records)
    out["failed"] = sum(1 for r in records if not r["ok"])
    out["ops"] = len(records)
    done = [r for r in records if r["s"] is not None]
    by_kind: dict[str, list[float]] = {}
    for r in done:
        by_kind.setdefault(r["kind"], []).append(r["s"] * 1000.0)
    busy = sum(r["s"] for r in done)
    out["op_ms"] = {k: stats.summarize(v) for k, v in by_kind.items()}
    out["op_ms_geomean"] = (
        statistics.geometric_mean([statistics.median(v) for v in by_kind.values()]) if by_kind else None
    )
    out["work_per_s"] = sum(r["work"] for r in done) / busy if busy else None
    if wl is not None and done:
        out["extras"] = wl.summary(records)
    if a.trace and wl is not None and not out.get("aborted"):
        t = time.time()
        evdir = os.path.join(a.rundir, "events")
        folded = fold.fold(
            fold.read_events(fold.event_files(evdir)), tracer.calls, getattr(wl, "split", None)
        )
        per_layer = layers.group_metrics(tracer.calls, folded)
        per_layer["python.tasks_share"] = layers.python_tasks_share(tracer.calls, folded)
        commits = [c for c in tracer.calls if c["measured"] and c["layer"] == "sinks.manifest"]
        per_layer["sinks.manifest.jobs_per_commit"] = (
            statistics.fmean(folded[c["id"]]["jobs"] for c in commits) if commits else 0.0
        )
        per_layer.update(wl.trace_summary())
        per_layer["session.start_s"] = out["session_start_s"]
        per_layer["session.warmup_s"] = out["warmup_s"]
        per_layer["session.persisted_rdds_leaked"] = out["persisted_rdds_leaked"]
        # the traced run's extra work: job-group calls and trace-only
        # accounting on the driver thread, the event-log writer's CPU,
        # and this fold
        per_layer["tracing.overhead_s"] = tracer.overhead_s + out["evlog_cpu_s"] + time.time() - t
        out["per_layer"] = per_layer
    with open(a.out, "w") as fh:
        json.dump(out, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
