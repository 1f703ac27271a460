"""A simulated LM endpoint around the repo's deterministic demo LMs.

A hosted model answers a call of ``n`` prompts by fanning them out
``fanout`` at a time, each wave taking ``latency_s``; so one call waits
``ceil(n / fanout) * latency_s``. The wrapper sleeps that long, answers
with the wrapped demo LM, and counts prompts, calls and seconds waited
in Spark accumulators, which sum exactly across executors and the
driver.

This module is imported by the Python workers (the wrapper is pickled
into the operators' UDFs by module path), so it imports nothing from
the benchmark's driver-side modules.
"""
from __future__ import annotations

import math
import time

from pyspark import TaskContext
from pyspark.accumulators import AccumulatorParam

from lotus_spark.models.lm import LM


class SetParam(AccumulatorParam):
    """Set-union accumulator: which (stage, partition) tasks called the LM."""

    def zero(self, value):
        return set()

    def addInPlace(self, a, b):
        a |= b
        return a


class Counters:
    """Driver-side handles of one endpoint's accumulators."""

    def __init__(self, sc, traced: bool) -> None:
        self.prompts = sc.accumulator(0)
        self.calls = sc.accumulator(0)
        self.wait_s = sc.accumulator(0.0)
        self.tasks = sc.accumulator(set(), SetParam()) if traced else None

    def snapshot(self) -> dict:
        return {"prompts": self.prompts.value, "calls": self.calls.value,
                "wait_s": self.wait_s.value,
                "tasks": len(self.tasks.value) if self.tasks is not None else 0}


class SimulatedEndpoint(LM):
    def __init__(self, name: str, inner: LM, latency_s: float, fanout: int,
                 counters: Counters) -> None:
        super().__init__()
        self.model = f"simulated-{name}"
        self.inner = inner
        self.latency_s = latency_s
        self.fanout = fanout
        self.max_ctx_len = inner.max_ctx_len
        self._prompts = counters.prompts
        self._calls = counters.calls
        self._wait = counters.wait_s
        self._tasks = counters.tasks
        self.driver_prompts = 0  # prompts sent from the driver process
        # off during the warm-up: the wait is a sleep and warms nothing
        self.simulate = True

    def __call__(self, batch, **kwargs):
        out = self.inner(batch, **kwargs)
        n = len(batch)
        wait = (math.ceil(n / self.fanout) * self.latency_s
                if n and self.simulate else 0.0)
        time.sleep(wait)
        self._prompts.add(n)
        self._calls.add(1)
        self._wait.add(wait)
        tc = TaskContext.get()
        if tc is None:
            self.driver_prompts += n
        elif self._tasks is not None:
            self._tasks.add({(tc.stageId(), tc.partitionId())})
        return out

    def count_tokens(self, text: str) -> int:
        return self.inner.count_tokens(text)
