"""The per-layer metric table: names, and how they fold out of call spans.

Layers carry the engine's module names. For every call into a layer the
traced pass folds the counters in :data:`layerbench.fold.COUNTERS`; each
group below reports the per-call mean over the measured phase, with the
full counter set for the calls that dominate a workload and a short set
for the rest. A group a workload never calls reports 0, which is the
prediction for a workload that bypasses that layer.
"""

from __future__ import annotations

import statistics

from layerbench.fold import COUNTERS
from layerbench.tracer import CHECK

FULL = COUNTERS
SHORT = ("wall_s", "driver_self_s", "jobs", "tasks")
KIND = ("wall_s", "jobs")

#: (metric prefix, counters, layer, call names or None for all, SQL part or None)
GROUPS = (
    ("plans.pipeline.warehouse_write", FULL, "plans.pipeline", None, "warehouse_write"),
    ("plans.pipeline.serving_load", FULL, "plans.pipeline", None, "serving_load"),
    ("plans.pipeline.read_back", SHORT, "plans.pipeline", None, "read_back"),
    ("sinks.manifest.commit", FULL, "sinks.manifest", None, None),
    ("sinks.manifest.append", KIND, "sinks.manifest", ("append",), None),
    ("sinks.manifest.upsert", KIND, "sinks.manifest", ("upsert",), None),
    ("sinks.manifest.delete", KIND, "sinks.manifest", ("delete",), None),
    ("sinks.manifest.merge", KIND, "sinks.manifest", ("merge",), None),
    ("sinks.manifest.maintain", KIND, "sinks.manifest", ("compact", "optimize"), None),
    ("sinks.manifest.read_table", SHORT, "sinks.manifest.read_table", None, None),
    ("sources.manifest_source", SHORT, "sources.manifest_source", None, None),
    ("streaming.cdf_source", SHORT, "streaming.cdf_source", None, None),
    ("serving.http_api", SHORT, "serving.http_api", None, None),
    ("operators.dedup", FULL, "operators.dedup", None, None),
    ("operators.similarity", FULL, "operators.similarity", None, None),
    ("operators.text", SHORT, "operators.text", None, None),
    ("operators.retrieval", SHORT, "operators.retrieval", None, None),
)

#: Scalar per-layer metrics: name -> unit.
SCALARS = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "session.persisted_rdds_leaked": "count",
    "sinks.manifest.jobs_per_commit": "count",
    "sinks.manifest.files_per_commit": "count",
    "sinks.manifest.write_amp": "ratio",
    "sinks.manifest.log_bytes_per_commit": "B",
    "sinks.filestats.files_skipped_ratio": "ratio",
    "sources.rows_examined_per_row_returned": "ratio",
    "python.tasks_share": "ratio",
    "streaming.microbatches": "count",
    "streaming.batch_ms_p50": "ms",
    "tracing.overhead_s": "s",
    "elt.daily_batch_s": "s",
    "lake.commit_ms_p50": "ms",
    "lake.read_ms_p50": "ms",
    "lake.cdf_catchup_ms_p50": "ms",
    "lake.stored_bytes_per_live_byte": "ratio",
    "curation.docs_per_s": "1/s",
}


def _unit(counter: str) -> str:
    if counter.endswith("_s"):
        return "s"
    if counter.endswith("_bytes"):
        return "B"
    return "count"


def names() -> dict[str, str]:
    """Every per-layer metric name with its unit, in report order."""
    out = {}
    for prefix, counters, *_ in GROUPS:
        for c in counters:
            out[f"{prefix}.{c}"] = _unit(c)
    out.update(SCALARS)
    return out


def group_metrics(calls: list[dict], folded: dict[int, dict]) -> dict[str, float]:
    """Per-call means of each group's counters over the measured calls."""
    out = {}
    for prefix, counters, layer, call_names, part in GROUPS:
        rows = []
        for c in calls:
            if not c["measured"] or c["layer"] != layer:
                continue
            if call_names is not None and c["name"] not in call_names:
                continue
            f = folded.get(c["id"], {})
            if part is not None:
                f = f.get("parts", {}).get(part)
                if f is None:
                    continue
            rows.append(f)
        for ctr in counters:
            out[f"{prefix}.{ctr}"] = statistics.fmean(r[ctr] for r in rows) if rows else 0.0
    return out


def python_tasks_share(calls: list[dict], folded: dict[int, dict]) -> float:
    tasks = py = 0.0
    for c in calls:
        if c["measured"] and c["layer"] != CHECK:
            tasks += folded[c["id"]]["tasks"]
            py += folded[c["id"]]["python_tasks"]
    return py / tasks if tasks else 0.0
