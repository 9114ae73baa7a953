"""Spans around the benchmark's calls into the engine's layers.

Every Spark action the benchmark causes runs inside ``Tracer.call``.
Untraced, a call only records its wall time. Traced, the call also runs
under its own Spark job group so :mod:`layerbench.fold` can attribute
the event log's jobs, stages and tasks back to it. Calls whose layer is
``bench.check`` are the benchmark's own correctness reads; they are
traced so their jobs are not charged to a layer, and never reported.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

CHECK = "bench.check"


class Tracer:
    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.calls: list[dict] = []
        self.measuring = False
        #: driver time the measured phase spent on tracing itself
        self.overhead_s = 0.0

    @contextmanager
    def call(self, layer: str, name: str, **labels):
        cid = len(self.calls)
        if self.enabled:
            with self.overhead():
                self.sc.setJobGroup(str(cid), f"{layer}:{name}")
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            if self.enabled:
                with self.overhead():
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)
            self.calls.append(
                dict(id=cid, layer=layer, name=name, t0=t0, t1=t1, measured=self.measuring, **labels)
            )

    @contextmanager
    def overhead(self):
        """Count the enclosed driver time as tracing overhead (measured phase only)."""
        t0 = time.time()
        try:
            yield
        finally:
            if self.measuring:
                self.overhead_s += time.time() - t0

    def last_s(self) -> float:
        c = self.calls[-1]
        return c["t1"] - c["t0"]
