"""The event-log fold, on a canned tiny event log."""

import json

from layerbench import fold, layers

PLAN_WRITE = "Execute InsertIntoHadoopFsRelationCommand file:/x/wh1, Append"
PLAN_COUNT = "HashAggregate\n+- FileScan parquet [Location: file:/x/wh1]"


def _task(stage, run_ms, *, deser=5, gc=1, sr=0, sw=0, inp=0, out=0, spill=0, py_accum=False):
    accum = [{"Name": "time to run Python workers", "Update": "7"}] if py_accum else []
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": {"Accumulables": accum},
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor Deserialize Time": deser,
            "JVM GC Time": gc,
            "Memory Bytes Spilled": spill,
            "Disk Bytes Spilled": 0,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": sr},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": sw},
            "Input Metrics": {"Bytes Read": inp},
            "Output Metrics": {"Bytes Written": out},
        },
    }


def _job(jid, t_ms, stages, group=None, exec_id=None, scope="WholeStageCodegen (1)"):
    props = {}
    if group is not None:
        props["spark.jobGroup.id"] = group
    if exec_id is not None:
        props["spark.sql.execution.id"] = exec_id
    return {
        "Event": "SparkListenerJobStart",
        "Job ID": jid,
        "Submission Time": t_ms,
        "Stage IDs": stages,
        "Stage Infos": [
            {"Stage ID": s, "RDD Info": [{"Name": "MapPartitionsRDD", "Scope": json.dumps({"name": scope})}]}
            for s in stages
        ],
        "Properties": props,
    }


def _end(jid, t_ms):
    return {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": t_ms}


CALLS = [
    {"id": 0, "layer": "plans.pipeline", "name": "daily", "t0": 100.0, "t1": 104.0, "measured": True},
    {"id": 1, "layer": "streaming.cdf_source", "name": "catchup", "t0": 105.0, "t1": 106.0, "measured": True},
]

EVENTS = [
    {"Event": fold.SQL_START, "executionId": 0, "time": 100_100, "physicalPlanDescription": PLAN_WRITE},
    _job(0, 100_200, [0, 1], group="0", exec_id="0"),
    _task(0, 300, sw=1000, inp=500),
    _task(0, 200, sw=1000, inp=500),
    _task(1, 100, sr=2000, out=4000, spill=64),
    _end(0, 101_200),
    {"Event": fold.SQL_END, "executionId": 0, "time": 101_300},
    {"Event": fold.SQL_START, "executionId": 1, "time": 102_000, "physicalPlanDescription": PLAN_COUNT},
    _job(1, 102_000, [2], group="0", exec_id="1"),
    _task(2, 50),
    _end(1, 102_500),
    {"Event": fold.SQL_END, "executionId": 1, "time": 102_600},
    # a micro-batch job from another thread: no group of ours, inside call 1's span
    _job(2, 105_200, [3], group="stream-run-id", scope="PythonDataSourceScan"),
    _task(3, 40),
    _task(3, 40, py_accum=True),
    _end(2, 105_600),
    # outside every span: attributed to nothing
    _job(3, 200_000, [4]),
    _task(4, 999),
    _end(3, 200_100),
]


def _split(call, plan):
    return "warehouse_write" if "InsertIntoHadoopFsRelationCommand" in plan else "read_back"


def test_fold_counts_jobs_stages_tasks_and_bytes():
    got = fold.fold(EVENTS, CALLS, _split)
    a = got[0]
    assert (a["jobs"], a["stages"], a["tasks"]) == (2, 3, 4)
    assert a["task_run_s"] == 0.65
    assert a["task_deser_s"] == 0.02
    assert a["shuffle_write_bytes"] == 2000 and a["shuffle_read_bytes"] == 2000
    assert a["input_bytes"] == 1000 and a["output_bytes"] == 4000 and a["spill_bytes"] == 64
    assert a["python_tasks"] == 0
    assert a["wall_s"] == 4.0
    # jobs cover [100.2, 101.2] and [102.0, 102.5]: 1.5 s of the 4 s span
    assert abs(a["driver_self_s"] - 2.5) < 1e-9


def test_fold_splits_by_sql_execution():
    parts = fold.fold(EVENTS, CALLS, _split)[0]["parts"]
    w, r = parts["warehouse_write"], parts["read_back"]
    assert (w["jobs"], w["tasks"], r["jobs"], r["tasks"]) == (1, 3, 1, 1)
    assert abs(w["wall_s"] - 1.2) < 1e-9  # execution 0 ran 100.1 .. 101.3
    assert abs(w["driver_self_s"] - 0.2) < 1e-9


def test_fold_attributes_foreign_thread_jobs_by_time_and_flags_python():
    b = fold.fold(EVENTS, CALLS, _split)[1]
    assert (b["jobs"], b["tasks"], b["python_tasks"]) == (1, 2, 2)
    assert "parts" not in b


def test_group_metrics_average_measured_calls():
    folded = fold.fold(EVENTS, CALLS, _split)
    m = layers.group_metrics(CALLS, folded)
    assert m["plans.pipeline.warehouse_write.tasks"] == 3
    assert m["streaming.cdf_source.jobs"] == 1
    assert m["operators.dedup.wall_s"] == 0.0  # a layer never called reports 0
    assert layers.python_tasks_share(CALLS, folded) == 2 / 6


def test_union_of_intervals():
    assert fold.union_s([(0, 2), (1, 3), (5, 6)]) == 4
    assert fold.union_s([]) == 0


def test_metric_table_fits_the_contract():
    names = layers.names()
    assert len(names) <= 128
    with open(__file__.rsplit("/layerbench/", 1)[0] + "/BENCHMARK.json") as fh:
        declared = json.load(fh)["per_layer"]
    assert [m["name"] for m in declared] == list(names)
    assert [m["unit"] for m in declared] == list(names.values())
