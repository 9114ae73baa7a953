"""``lakehouse_serving``: the daily ELT load beside one manifest table
under a fixed mix of short ops.

The table is orders-shaped (50k rows, generated here, so the run reads
nothing outside its own directory), clustered on ``o_orderkey`` with
min/max stats on the key and date and a bloom filter on ``o_custkey``.
One round of the closed loop issues, in a fixed order:

- one daily batch of the paper's lifecycle (:mod:`layerbench.elt`);
- four commits: ``write_table`` append, ``upsert_table``,
  ``delete_where`` and ``merge_table``;
- a maintenance commit: ``optimize_table`` in odd rounds (the warm-up)
  and ``compact_table`` in even ones;
- reads between them: SQL over ``sources.manifest_source.register_view``
  once, and three times each a key-range ``read_table(skip=...)`` pruned
  by file stats, a bloom point lookup, a time-travel read, and a
  dashboard query through an in-process ``serving.http_api.ServingApi``
  on an ephemeral port;
- last, a change-feed consumer (``streaming.cdf_source``, availableNow)
  catches up on the round's commits.

The benchmark keeps a model of the table: every row it wrote, and the
row count and revenue at every version. After every commit the table's
count and revenue must equal the model; every read and every change-feed
catch-up must match it. The seed chooses which rows are updated,
deleted and looked up, and which ranges and versions are read; the
starting table and all sizes are fixed.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import statistics
import urllib.request
from decimal import Decimal

import pandas as pd
from pyspark.sql import functions as F

from cashback_data_pipeline_spark.serving.http_api import ServingApi
from cashback_data_pipeline_spark.sinks import filestats
from cashback_data_pipeline_spark.sinks import manifest as M
from cashback_data_pipeline_spark.sources import manifest_source
from cashback_data_pipeline_spark.streaming import cdf_source
from layerbench.elt import DailyElt
from layerbench.tracer import CHECK

ROWS = 50_000
APPEND = 2_000
UPSERT_OLD, UPSERT_NEW = 700, 300
MERGE_OLD, MERGE_NEW = 600, 400
DELETE_SPAN = 300
KEY_SPAN = 2_000
RANGE_DAYS = 60
DAYS = 2_406
CUSTS = 15_000
STATUSES = ("F", "O", "P")
EPOCH = dt.date(1992, 1, 1)
STATS = ["o_orderkey", "o_orderdate"]
BLOOM = ["o_custkey"]
COMMITS = ("append", "upsert", "delete", "merge", "maintain")
READS = ("read_pruned", "read_bloom", "sql_view", "time_travel", "dashboard")


def gen_rows(rng: random.Random, keys: list[int]) -> list[tuple]:
    """Model rows ``(key, cust, status, cents, day)`` for ``keys``."""
    return [
        (k, rng.randrange(1, CUSTS + 1), rng.randrange(3), rng.randrange(90_000, 50_000_000), rng.randrange(DAYS))
        for k in keys
    ]


def to_spark(spark, rows: list[tuple]):
    """Model rows as a Spark frame with the orders schema (Arrow, no Python tasks)."""
    pdf = pd.DataFrame(rows, columns=["k", "c", "s", "p", "d"]).astype("int64")
    return spark.createDataFrame(pdf).select(
        F.col("k").alias("o_orderkey"),
        F.col("c").alias("o_custkey"),
        F.element_at(F.array(*[F.lit(s) for s in STATUSES]), (F.col("s") + 1).cast("int")).alias("o_orderstatus"),
        (F.col("p").cast("decimal(14,0)") / 100).cast("decimal(12,2)").alias("o_totalprice"),
        F.date_add(F.lit(EPOCH), F.col("d").cast("int")).alias("o_orderdate"),
    )


def dir_files(path: str) -> dict[str, int]:
    out = {}
    for base, _, names in os.walk(path):
        for n in names:
            p = os.path.join(base, n)
            out[p] = os.path.getsize(p)
    return out


class Workload:
    def __init__(self, spark, tracer, rundir: str, seed: int):
        self.spark, self.tracer = spark, tracer
        self.rng = random.Random(seed)
        self.dir = os.path.join(rundir, "lake")
        self.elt = DailyElt(spark, tracer, rundir, seed)
        self.split = self.elt.split
        self.table = os.path.join(self.dir, "orders")
        self.ckpt = os.path.join(self.dir, "cdf_ckpt")
        self.model: dict[int, tuple] = {}
        self.versions: dict[int, tuple[int, int]] = {}
        self.next_key = ROWS
        self.appended_unseen = 0
        self.n_maint = 0
        self.api = None
        self.port = None
        # traced-pass accounting
        self.commit_files: list[int] = []
        self.commit_log_bytes: list[int] = []
        self.written_bytes = 0
        self.user_bytes = 0.0
        self.files_total = self.files_skipped = 0
        self.rows_examined = self.rows_returned = 0
        self.stream_batches: list[int] = []
        self.batch_ms: list[float] = []

    # -- model ---------------------------------------------------------

    def _totals(self) -> tuple[int, int]:
        return len(self.model), sum(r[3] for r in self.model.values())

    def _range(self, lo: int, hi: int) -> tuple[int, int]:
        rows = [r for r in self.model.values() if lo <= r[4] < hi]
        return len(rows), sum(r[3] for r in rows)

    def _new_keys(self, n: int) -> list[int]:
        keys = list(range(self.next_key, self.next_key + n))
        self.next_key += n
        return keys

    def _old_keys(self, n: int) -> list[int]:
        return self.rng.sample(sorted(self.model), n)

    # -- set-up --------------------------------------------------------

    def setup(self):
        self.elt.setup()
        rows = gen_rows(random.Random(0), list(range(ROWS)))
        with self.tracer.call("sinks.manifest", "seed_table"):
            M.write_table(
                to_spark(self.spark, rows), self.table, mode="overwrite",
                cluster_by=["o_orderkey"], cluster_files=8, stats_cols=STATS, bloom_cols=BLOOM,
            )
        self.model = {r[0]: r for r in rows}
        self.seed_version = M.current_version(self.table)
        self.versions[self.seed_version] = self._totals()
        self.api = ServingApi({"status_revenue": self._dashboard_df})
        self.port = self.api.start()
        self.api._thread.name = "layerbench-serving"

    def _dashboard_df(self):
        return (
            M.read_table(self.spark, self.table)
            .groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("o_totalprice").alias("revenue"))
        )

    def warmup(self):
        """One round; its ELT load is the backfill."""
        problems = []
        for _, fn in next(self.rounds()):
            problems += fn()[2]
        if problems:
            raise RuntimeError(f"warm-up ops failed their checks: {problems}")

    # -- the op mix ----------------------------------------------------

    def rounds(self):
        """One round: an ELT load, five commits, the reads (the short ones
        three times, so each has a median of its own), and one change-feed
        catch-up that drains the round's commits."""
        reads = [("read_pruned", self._read_pruned), ("read_bloom", self._read_bloom),
                 ("time_travel", self._time_travel), ("dashboard", self._dashboard)]
        while True:
            yield [
                ("elt_daily", self._elt_load), ("append", self._append), *reads,
                ("upsert", self._upsert), ("sql_view", self._sql_view), *reads,
                ("delete", self._delete), ("merge", self._merge), *reads,
                ("maintain", self._maintain), ("cdf", self._catchup),
            ]

    def _elt_load(self):
        sec, _, problems = self.elt.load()
        return sec, 1.0, problems

    @property
    def _traced(self) -> bool:
        return self.tracer.enabled and self.tracer.measuring

    def _commit(self, kind: str, fn, user_rows: int):
        """Run one commit, then check the table against the model."""
        traced = self._traced
        if traced:
            with self.tracer.overhead():
                before = dir_files(self.table)
                v = M.current_version(self.table)
                live_bytes = sum(before.get(os.path.join(self.table, f), 0) for f in self._files(v))
                row_bytes = live_bytes / max(1, self.versions[v][0])
        with self.tracer.call("sinks.manifest", kind):
            fn()
        sec = self.tracer.last_s()
        if traced:
            with self.tracer.overhead():
                new = {p: n for p, n in dir_files(self.table).items() if p not in before}
                data = [n for p, n in new.items() if p.endswith(".parquet") and "/_manifests/" not in p]
                self.commit_files.append(len(data))
                self.commit_log_bytes.append(sum(n for p, n in new.items() if "/_manifests/" in p))
                self.written_bytes += sum(data)
                self.user_bytes += user_rows * row_bytes
        return sec, self._check_totals(kind)

    def _check_totals(self, kind: str) -> list[str]:
        v = M.current_version(self.table)
        with self.tracer.call(CHECK, "totals"):
            n, rev = M.read_table(self.spark, self.table, version=v).agg(
                F.count(F.lit(1)), F.sum("o_totalprice")
            ).first()
        want = self._totals()
        self.versions[v] = want
        got = (n, int((rev or Decimal(0)) * 100))
        return [] if got == want else [f"after {kind} v{v}: table (rows, cents) {got} != model {want}"]

    def _files(self, version: int | None = None) -> list[str]:
        if version is None:
            version = M.current_version(self.table)
        return M.read_manifest(self.table, version)["files"]

    def _append(self):
        rows = gen_rows(self.rng, self._new_keys(APPEND))
        df = to_spark(self.spark, rows)
        self.model.update((r[0], r) for r in rows)
        self.appended_unseen += APPEND
        sec, problems = self._commit(
            "append", lambda: M.write_table(df, self.table, mode="append", stats_cols=STATS, bloom_cols=BLOOM), APPEND
        )
        return sec, 1.0, problems

    def _upsert(self):
        rows = gen_rows(self.rng, self._old_keys(UPSERT_OLD) + self._new_keys(UPSERT_NEW))
        df = to_spark(self.spark, rows)
        self.model.update((r[0], r) for r in rows)
        sec, problems = self._commit(
            "upsert", lambda: M.upsert_table(self.spark, df, self.table, key="o_orderkey"), len(rows)
        )
        return sec, 1.0, problems

    def _merge(self):
        rows = gen_rows(self.rng, self._old_keys(MERGE_OLD) + self._new_keys(MERGE_NEW))
        df = to_spark(self.spark, rows)
        for r in rows:
            old = self.model.get(r[0])
            self.model[r[0]] = r if old is None else old[:3] + (r[3],) + old[4:]
        sec, problems = self._commit(
            "merge",
            lambda: M.merge_table(
                self.spark, df, self.table, key="o_orderkey",
                when_matched=[("update", None, {"o_totalprice": "s.o_totalprice"})],
                when_not_matched=[("insert", None, "*")],
            ),
            len(rows),
        )
        return sec, 1.0, problems

    def _delete(self):
        lo = self.rng.randrange(self.next_key - DELETE_SPAN)
        for k in range(lo, lo + DELETE_SPAN):
            self.model.pop(k, None)
        pred = [("o_orderkey", ">=", lo), ("o_orderkey", "<", lo + DELETE_SPAN)]
        sec, problems = self._commit("delete", lambda: M.delete_where(self.spark, self.table, pred), 0)
        return sec, 1.0, problems

    def _maintain(self):
        """Optimize in odd rounds (the warm-up), compact in even ones: a
        run's first measured round always rewrites the table."""
        self.n_maint += 1
        if self.n_maint % 2:
            kind, fn = "optimize", lambda: M.optimize_table(self.spark, self.table, target_rows=100_000)
        else:
            kind, fn = "compact", lambda: M.compact_table(self.spark, self.table, n_files=4)
        sec, problems = self._commit(kind, fn, 0)
        return sec, 1.0, problems

    def _catchup(self):
        """Drain the change feed; appended rows must arrive exactly once
        (rewrite commits are skipped by ``skipChangeCommits``)."""
        with self.tracer.call("streaming.cdf_source", "catchup"):
            q = (
                cdf_source.read_manifest_stream(
                    self.spark, self.table, skipChangeCommits="true", startingVersion=self.seed_version
                )
                .writeStream.format("noop")
                .option("checkpointLocation", self.ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        sec = self.tracer.last_s()
        progress = q.recentProgress
        got = sum(p["numInputRows"] for p in progress)
        if self._traced:
            self.stream_batches.append(len(progress))
            self.batch_ms += [p["durationMs"]["triggerExecution"] for p in progress]
        want, self.appended_unseen = self.appended_unseen, 0
        return sec, 1.0, [] if got == want else [f"change feed delivered {got} rows, want {want}"]

    # -- reads ---------------------------------------------------------

    def _day_range(self) -> tuple[int, int]:
        lo = self.rng.randrange(DAYS - RANGE_DAYS)
        return lo, lo + RANGE_DAYS

    def _prune_stats(self, skip, returned: int):
        if not self._traced:
            return
        with self.tracer.overhead():
            m = M.read_manifest(self.table, M.current_version(self.table))
            kept, skipped = filestats.prune_files(m["files"], m.get("stats"), skip)
            self.files_total += len(m["files"])
            self.files_skipped += skipped
            stats = m.get("stats") or {}
            self.rows_examined += sum((stats.get(f) or {}).get("rows", 0) for f in kept)
            self.rows_returned += returned

    def _read_pruned(self):
        lo = self.rng.randrange(self.next_key - KEY_SPAN)
        skip = [("o_orderkey", ">=", lo), ("o_orderkey", "<", lo + KEY_SPAN)]
        with self.tracer.call("sinks.manifest.read_table", "read_pruned"):
            n, rev = M.read_table(self.spark, self.table, skip=skip).agg(
                F.count(F.lit(1)), F.sum("o_totalprice")
            ).first()
        sec = self.tracer.last_s()
        rows = [r for k, r in self.model.items() if lo <= k < lo + KEY_SPAN]
        want = (len(rows), sum(r[3] for r in rows))
        self._prune_stats(skip, want[0])
        got = (n, int((rev or Decimal(0)) * 100))
        return sec, 1.0, [] if got == want else [f"pruned read keys [{lo},{lo + KEY_SPAN}) {got} != model {want}"]

    def _read_bloom(self):
        cust = self.model[self.rng.choice(sorted(self.model))][1]
        skip = [("o_custkey", "==", cust)]
        with self.tracer.call("sinks.manifest.read_table", "read_bloom"):
            got = {r[0] for r in M.read_table(self.spark, self.table, skip=skip).select("o_orderkey").collect()}
        sec = self.tracer.last_s()
        want = {k for k, r in self.model.items() if r[1] == cust}
        self._prune_stats(skip, len(want))
        return sec, 1.0, [] if got == want else [f"bloom lookup cust {cust}: {len(got)} keys != model {len(want)}"]

    def _sql_view(self):
        lo, hi = self._day_range()
        d1, d2 = EPOCH + dt.timedelta(lo), EPOCH + dt.timedelta(hi)
        with self.tracer.call("sources.manifest_source", "sql_view"):
            manifest_source.register_view(self.spark, "orders_v", self.table)
            n, rev = self.spark.sql(
                "SELECT count(*), sum(o_totalprice) FROM orders_v "
                f"WHERE o_orderdate >= DATE'{d1}' AND o_orderdate < DATE'{d2}'"
            ).first()
        sec = self.tracer.last_s()
        got, want = (n, int((rev or Decimal(0)) * 100)), self._range(lo, hi)
        return sec, 1.0, [] if got == want else [f"SQL view days [{lo},{hi}) {got} != model {want}"]

    def _time_travel(self):
        v = self.rng.choice(sorted(self.versions))
        with self.tracer.call("sinks.manifest.read_table", "time_travel"):
            n, rev = M.read_table(self.spark, self.table, version=v).agg(
                F.count(F.lit(1)), F.sum("o_totalprice")
            ).first()
        sec = self.tracer.last_s()
        got = (n, int((rev or Decimal(0)) * 100))
        return sec, 1.0, [] if got == self.versions[v] else [f"time travel v{v}: {got} != {self.versions[v]}"]

    def _dashboard(self):
        url = f"http://127.0.0.1:{self.port}/query/status_revenue"
        with self.tracer.call("serving.http_api", "dashboard"):
            with urllib.request.urlopen(url, timeout=120) as resp:
                body = json.load(resp)
        sec = self.tracer.last_s()
        got = {r["o_orderstatus"]: (r["n"], round(r["revenue"] * 100)) for r in body["rows"]}
        want: dict[str, list[int]] = {}
        for r in self.model.values():
            w = want.setdefault(STATUSES[r[2]], [0, 0])
            w[0] += 1
            w[1] += r[3]
        want_t = {s: tuple(w) for s, w in want.items()}
        return sec, 1.0, [] if got == want_t else [f"dashboard {got} != model {want_t}"]

    # -- results -------------------------------------------------------

    def summary(self, records: list[dict]) -> dict:
        def p50(kinds):
            xs = [r["s"] * 1000.0 for r in records if r["kind"] in kinds and r["s"] is not None]
            return statistics.median(xs) if xs else 0.0

        live = sum(os.path.getsize(os.path.join(self.table, f)) for f in self._files())
        stored = sum(dir_files(self.table).values())
        return {
            "lake.commit_ms_p50": p50(COMMITS),
            "lake.read_ms_p50": p50(READS),
            "lake.cdf_catchup_ms_p50": p50(("cdf",)),
            "elt.daily_batch_s": p50(("elt_daily",)) / 1000.0,
            "lake.stored_bytes_per_live_byte": stored / live,
        }

    def trace_summary(self) -> dict:
        def mean(xs):
            return statistics.fmean(xs) if xs else 0.0

        return {
            "sinks.manifest.files_per_commit": mean(self.commit_files),
            "sinks.manifest.log_bytes_per_commit": mean(self.commit_log_bytes),
            "sinks.manifest.write_amp": self.written_bytes / self.user_bytes if self.user_bytes else 0.0,
            "sinks.filestats.files_skipped_ratio": self.files_skipped / self.files_total if self.files_total else 0.0,
            "sources.rows_examined_per_row_returned": (
                self.rows_examined / self.rows_returned if self.rows_returned else 0.0
            ),
            "streaming.microbatches": mean(self.stream_batches),
            "streaming.batch_ms_p50": statistics.median(self.batch_ms) if self.batch_ms else 0.0,
        }

    def close(self) -> list[str]:
        if self.api is None:
            return []
        thread = self.api._thread
        self.api.stop()
        thread.join(10)
        return ["serving API thread still alive after stop()"] if thread.is_alive() else []
