"""Spans around the calls a workload makes into the library's layers.

A span puts every Spark job it triggers into its own job group and times
three things from outside: the call that returns a DataFrame
(``build``), ``queryExecution.executedPlan`` (``plan``) and the whole
span.  After a pass the tracer drains the listener bus and reads each
span's Spark counters (:class:`meter.SparkCounters`).

The untraced run uses :data:`OFF`, whose spans only call through, so the
end-to-end numbers carry no tracing cost.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager

from perfbench import meter


class _NullSpan:
    def build(self, fn, *args, **kwargs):
        return fn(*args, **kwargs)

    def plan(self, df) -> None:
        pass


class NullTracer:
    enabled = False

    @contextmanager
    def span(self, name: str, probe: bool = False):
        yield _NullSpan()


OFF = NullTracer()


class _Span:
    def __init__(self, name: str, group: str, probe: bool):
        self.name = name
        self.group = group
        self.probe = probe
        self.build_s = 0.0
        self.plan_s = 0.0
        self.t0 = self.t1 = 0.0
        self.cpu_s = 0.0

    def build(self, fn, *args, **kwargs):
        t0 = time.perf_counter()
        out = fn(*args, **kwargs)
        self.build_s += time.perf_counter() - t0
        return out

    def plan(self, df) -> None:
        t0 = time.perf_counter()
        df._jdf.queryExecution().executedPlan()
        self.plan_s += time.perf_counter() - t0

    @property
    def wall_s(self) -> float:
        return self.t1 - self.t0


class Tracer:
    """Records spans of one pass; :meth:`finish_pass` returns them with
    their Spark counters attached.  Spans marked ``probe`` are layer
    probes run after the pass proper: they get counters of their own but
    stay out of the pass totals."""

    enabled = True

    def __init__(self, spark):
        self.spark = spark
        self.counters = meter.SparkCounters(spark)
        self._pid = os.getpid()
        self._n = 0
        self.spans: list[_Span] = []

    @contextmanager
    def span(self, name: str, probe: bool = False):
        self._n += 1
        sp = _Span(name, f"perfbench-{self._pid}-{self._n}-{name}", probe)
        sc = self.spark.sparkContext
        sc.setJobGroup(sp.group, name)
        cpu0 = meter.tree_cpu_s(self._pid)
        sp.t0 = time.time()
        try:
            yield sp
        finally:
            sp.t1 = time.time()
            sp.cpu_s = meter.tree_cpu_s(self._pid) - cpu0
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            self.spans.append(sp)

    def finish_pass(self) -> list[tuple[_Span, dict]]:
        spans, self.spans = self.spans, []
        return [(sp, self.counters.read(sp.group)) for sp in spans]
