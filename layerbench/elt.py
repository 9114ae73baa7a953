"""The paper's lifecycle, ``plans.run_pipeline``, as a daily ELT job.

Inputs: ``testgen.gen_transactions`` and ``testgen.gen_rewards`` staged
once as parquet. The first load is a full backfill into a fresh serving
table (run in the warm-up); every later load is a daily batch: the next
slice of new rewards plus re-sent rewards that are already loaded, which
the idempotent anti-join must load zero times. Each load writes its own
warehouse prefix, as the reference's daily pull does. The seed chooses
which rewards are re-sent; sizes are fixed.

Checks after every load: ``rows_transformed`` equals the staged rewards,
``rows_loaded`` equals the new rewards only, and the serving table holds
exactly one row per distinct key loaded so far.

The loads are JVM-only (no Python-worker tasks) and commit no manifest.
"""

from __future__ import annotations

import os
import random
import shutil

from pyspark.sql import functions as F

from cashback_data_pipeline_spark import testgen
from cashback_data_pipeline_spark.plans import run_pipeline
from layerbench.tracer import CHECK

TXNS = 50_000
BACKFILL = 10_000
DAILY_NEW = 5_000
DAILY_RESENT = 500
MAX_DAYS = 8


def resent_ids(seed: int, day: int, loaded: int, k: int = DAILY_RESENT) -> list[int]:
    """The rewards re-sent on ``day``: ``k`` already-loaded ids, by seed."""
    return sorted(random.Random(seed * 1_000_003 + day).sample(range(loaded), k))


class DailyElt:
    def __init__(self, spark, tracer, workdir: str, seed: int):
        self.spark, self.tracer, self.seed = spark, tracer, seed
        self.dir = os.path.join(workdir, "elt")
        self.pool = os.path.join(self.dir, "staging", "rewards")
        self.txn = os.path.join(self.dir, "staging", "transactions")
        self.serving = os.path.join(self.dir, "serving")
        self.loads = 0
        self.loaded = 0

    def setup(self):
        n_pool = BACKFILL + MAX_DAYS * DAILY_NEW
        with self.tracer.call("testgen", "stage_inputs"):
            testgen.gen_transactions(self.spark, TXNS).write.parquet(self.txn)
            rewards = testgen.gen_rewards(self.spark, n_pool, TXNS)
            rewards.withColumn("_n", F.expr("cast(substr(id, 2) as bigint)")).write.parquet(self.pool)

    def _staged(self, lo: int, hi: int, resent: list[int]):
        pool = self.spark.read.parquet(self.pool)
        cond = (F.col("_n") >= lo) & (F.col("_n") < hi)
        if resent:
            cond = cond | F.col("_n").isin(resent)
        return pool.filter(cond).drop("_n")

    def load(self):
        """The next load (backfill first, then daily batches) and its
        checks; returns (seconds, rewards staged, problems)."""
        if self.loaded == 0:
            kind, lo, hi, resent = "backfill", 0, BACKFILL, []
        else:
            day = (self.loaded - BACKFILL) // DAILY_NEW
            if day >= MAX_DAYS:
                raise RuntimeError("the staged reward pool is used up")
            kind, lo, hi = "daily", self.loaded, self.loaded + DAILY_NEW
            resent = resent_ids(self.seed, day, lo)
        self.loads += 1
        wh = os.path.join(self.dir, f"wh{self.loads}")
        labels = {"warehouse": wh, "serving": self.serving}
        with self.tracer.call("plans.pipeline", kind, **labels):
            res = run_pipeline(
                self.spark, self._staged(lo, hi, resent), self.spark.read.parquet(self.txn), wh, self.serving
            )
        sec = self.tracer.last_s()
        problems = []
        staged, new = hi - lo + len(resent), hi - lo
        if res.rows_transformed != staged:
            problems.append(f"rows_transformed {res.rows_transformed} != staged {staged}")
        if res.rows_loaded != new:
            problems.append(f"rows_loaded {res.rows_loaded} != new rewards {new} (re-sent rows loaded)")
        self.loaded = hi
        with self.tracer.call(CHECK, "serving_count"):
            n, nd = self.spark.read.parquet(self.serving).agg(
                F.count(F.lit(1)), F.countDistinct("reward_id")
            ).first()
        if (n, nd) != (hi, hi):
            problems.append(f"serving rows/distinct keys {n}/{nd} != {hi}")
        shutil.rmtree(wh, ignore_errors=True)
        return sec, float(res.rows_transformed), problems

    @staticmethod
    def split(call: dict, plan: str) -> str | None:
        """Which lifecycle step a pipeline SQL execution belongs to."""
        if call["layer"] != "plans.pipeline":
            return None
        if call["serving"] in plan:
            return "serving_load"
        if "InsertIntoHadoopFsRelationCommand" in plan:
            return "warehouse_write"
        return "read_back"
