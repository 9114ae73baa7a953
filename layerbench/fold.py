"""Fold a Spark event log back onto the benchmark's own call spans.

The traced pass runs every call into a layer under its own job group
(``Tracer.call``) and enables the Spark event log. After the session
stops, :func:`fold` reads the log and sums jobs, stages and task metrics
per call. It extends the fold in ``tools/profile_query.py`` with the
counters the per-layer table needs (deserialize time, Python-worker
tasks, shuffle write, input/output and spill bytes), with job intervals
for driver self time, and with the SQL execution each job ran under, so
a call can be split by the statement that did the work.

Jobs submitted from threads that do not inherit the caller's job group
(the serving API's request threads, Structured Streaming's micro-batch
thread) are attributed by time: a job whose submission falls inside a
call's span belongs to that call. The benchmark drives one client, so
spans never overlap.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable, Iterable

#: The full per-call counter set, in report order.
COUNTERS = (
    "wall_s",
    "driver_self_s",
    "jobs",
    "stages",
    "tasks",
    "task_run_s",
    "task_deser_s",
    "gc_s",
    "python_tasks",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "input_bytes",
    "output_bytes",
    "spill_bytes",
)

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_END = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd"

# Physical operators and accumulables that mean a task ran Python code.
_PY_SCOPES = ("InPandas", "InArrow", "ArrowEvalPython", "BatchEvalPython", "PythonDataSource", "PythonRDD")
_PY_ACCUM = "Python workers"


def event_files(evdir: str) -> list[str]:
    """Every event-log file under ``evdir`` (flat files or rolling dirs)."""
    out = []
    for name in sorted(os.listdir(evdir)):
        p = os.path.join(evdir, name)
        if os.path.isdir(p):
            out += [os.path.join(p, g) for g in sorted(os.listdir(p)) if g.startswith("events_")]
        else:
            out.append(p)
    return out


def read_events(paths: Iterable[str]) -> Iterable[dict]:
    for path in paths:
        with open(path) as fh:
            for line in fh:
                try:
                    yield json.loads(line)
                except ValueError:
                    continue  # a torn last line of a killed run


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of ``[start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _blank() -> dict:
    return {c: 0.0 for c in COUNTERS}


def fold(
    events: Iterable[dict],
    calls: list[dict],
    split: Callable[[dict, str], str | None] | None = None,
) -> dict[int, dict]:
    """Per-call counters from an event stream.

    ``calls`` are the spans the tracer recorded: dicts with ``id`` (the
    job group), ``t0``/``t1`` (epoch seconds) and any labels. Returns
    ``{call_id: counters}``; each entry also carries ``parts``, the same
    counters per sub-name when ``split(call, plan_text)`` names the SQL
    execution a job ran under (jobs it returns None for stay unsplit).
    Every call gets an entry, also one that ran no job.
    """
    by_id = {str(c["id"]): c for c in calls}
    spans = sorted((c["t0"], c["t1"], str(c["id"])) for c in calls)
    job_call: dict[int, str] = {}
    job_exec: dict[int, str | None] = {}
    stage_job: dict[int, int] = {}
    python_stage: set[int] = set()
    job_iv: dict[int, list[float]] = {}
    exec_plan: dict[str, str] = {}
    exec_iv: dict[str, list[float]] = {}
    agg: dict[str, dict] = {cid: _blank() for cid in by_id}

    def owner(group: str | None, t: float) -> str | None:
        if group in by_id:
            return group
        for t0, t1, cid in spans:
            if t0 <= t <= t1:
                return cid
        return None

    for ev in events:
        et = ev.get("Event")
        if et == SQL_START:
            eid = str(ev["executionId"])
            exec_plan[eid] = ev.get("physicalPlanDescription", "")
            exec_iv[eid] = [ev["time"] / 1000.0, ev["time"] / 1000.0]
        elif et == SQL_END:
            iv = exec_iv.get(str(ev["executionId"]))
            if iv is not None:
                iv[1] = ev["time"] / 1000.0
        elif et == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jid = ev["Job ID"]
            t = ev["Submission Time"] / 1000.0
            cid = owner(props.get("spark.jobGroup.id"), t)
            if cid is None:
                continue
            job_call[jid] = cid
            job_exec[jid] = props.get("spark.sql.execution.root.id") or props.get("spark.sql.execution.id")
            job_iv[jid] = [t, t]
            for si in ev.get("Stage Infos", []):
                stage_job[si["Stage ID"]] = jid
                scopes = " ".join(str(r.get("Scope", "")) + str(r.get("Name", "")) for r in si.get("RDD Info", []))
                if any(p in scopes for p in _PY_SCOPES):
                    python_stage.add(si["Stage ID"])
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
        elif et == "SparkListenerJobEnd":
            if ev["Job ID"] in job_iv:
                job_iv[ev["Job ID"]][1] = ev["Completion Time"] / 1000.0
        elif et == "SparkListenerTaskEnd":
            jid = stage_job.get(ev["Stage ID"])
            if jid not in job_call:
                continue
            targets = [agg[job_call[jid]]]
            part = _part_of(by_id[job_call[jid]], job_exec.get(jid), exec_plan, split)
            if part is not None:
                targets.append(agg[job_call[jid]].setdefault("parts", {}).setdefault(part, _blank()))
            m = ev.get("Task Metrics") or {}
            info = ev.get("Task Info") or {}
            is_py = ev["Stage ID"] in python_stage or any(
                _PY_ACCUM in str(a.get("Name", "")) for a in info.get("Accumulables", [])
            )
            srm = m.get("Shuffle Read Metrics") or {}
            swm = m.get("Shuffle Write Metrics") or {}
            for a in targets:
                a["tasks"] += 1
                a["python_tasks"] += 1 if is_py else 0
                a["task_run_s"] += m.get("Executor Run Time", 0) / 1000.0
                a["task_deser_s"] += m.get("Executor Deserialize Time", 0) / 1000.0
                a["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                a["shuffle_read_bytes"] += srm.get("Remote Bytes Read", 0) + srm.get("Local Bytes Read", 0)
                a["shuffle_write_bytes"] += swm.get("Shuffle Bytes Written", 0)
                a["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                a["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
                a["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)

    # job/stage counts and time: per call, and per part
    stages_of: dict[int, int] = {}
    for sid, jid in stage_job.items():
        stages_of[jid] = stages_of.get(jid, 0) + 1
    call_jobs: dict[str, list[int]] = {}
    for jid, cid in job_call.items():
        call_jobs.setdefault(cid, []).append(jid)
    for cid, c in by_id.items():
        a = agg[cid]
        jids = call_jobs.get(cid, [])
        a["jobs"] = float(len(jids))
        a["stages"] = float(sum(stages_of.get(j, 0) for j in jids))
        a["wall_s"] = c["t1"] - c["t0"]
        a["driver_self_s"] = max(0.0, a["wall_s"] - union_s([tuple(job_iv[j]) for j in jids]))
        by_part: dict[str, list[int]] = {}
        for j in jids:
            part = _part_of(c, job_exec.get(j), exec_plan, split)
            if part is not None:
                by_part.setdefault(part, []).append(j)
        for part, pj in by_part.items():
            p = a.setdefault("parts", {}).setdefault(part, _blank())
            execs = {job_exec.get(j) for j in pj}
            wall = union_s([tuple(exec_iv[e]) for e in execs if e in exec_iv])
            p["jobs"] = float(len(pj))
            p["stages"] = float(sum(stages_of.get(j, 0) for j in pj))
            p["wall_s"] = wall
            p["driver_self_s"] = max(0.0, wall - union_s([tuple(job_iv[j]) for j in pj]))
    return {by_id[cid]["id"]: a for cid, a in agg.items()}


def _part_of(call: dict, exec_id: str | None, exec_plan: dict[str, str], split) -> str | None:
    if split is None or exec_id is None or exec_id not in exec_plan:
        return None
    return split(call, exec_plan[exec_id])
