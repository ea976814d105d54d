"""Spans and counts recorded from the benchmark's own files.

A traced run wraps the program's public functions at the module
attribute its callers look up, times every call, and keeps the
durations in memory until the run prints them. An untraced run
installs nothing, so its timings carry no tracing cost.

Spark-side metrics (executor CPU, shuffle, spill, GC and codegen
compile time) are read from the driver's status store after each
action, through the public Java objects PySpark exposes.
"""

from __future__ import annotations

import functools
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        #: span or count name -> total in the current pass
        self._pass: dict[str, float] = defaultdict(float)
        #: per-pass totals, one dict per finished pass
        self.passes: list[dict[str, float]] = []
        self._undo: list[tuple[object, str, object]] = []
        self._stages: SparkStages | None = None

    def attach(self, spark) -> None:
        """Start reading Spark's status store for this session."""
        if self.enabled:
            self._stages = SparkStages(spark)

    def stage_read(self) -> None:
        """Fold the stages completed since the last read into this pass."""
        if self._stages is not None:
            for k, v in self._stages.read().items():
                self._pass[f"spark.{k}"] += v

    # -- spans -----------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.record(name, time.perf_counter() - t0)

    def record(self, name: str, seconds: float) -> None:
        self._pass[name] += seconds

    def count(self, name: str, value: float) -> None:
        """A per-pass count (rows, bytes, files): summed within a pass."""
        if self.enabled:
            self._pass[name] += value

    def end_pass(self) -> dict[str, float]:
        done = dict(self._pass)
        self.passes.append(done)
        self._pass = defaultdict(float)
        return done

    # -- patching --------------------------------------------------------
    def patch(self, owner, attr: str, name: str) -> None:
        """Time every call of ``owner.attr`` as span ``name``."""
        if not self.enabled:
            return
        original = getattr(owner, attr)

        @functools.wraps(original)
        def timed(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return original(*args, **kwargs)
            finally:
                self.record(name, time.perf_counter() - t0)

        setattr(owner, attr, timed)
        self._undo.append((owner, attr, original))

    def unpatch(self) -> None:
        while self._undo:
            owner, attr, original = self._undo.pop()
            setattr(owner, attr, original)


class SparkStages:
    """Executor metrics of the stages completed since the last read."""

    FIELDS = ("exec_cpu_s", "shuffle_mb", "spill_mb", "gc_s", "codegen_compile_s")

    def __init__(self, spark) -> None:
        self._spark = spark
        #: stage ids only grow, and every stage of an action has ended
        #: when the action returns, so one high-water mark suffices
        self._max_stage = -1
        self._codegen_s = self._codegen_total()

    def _codegen_total(self) -> float:
        jvm = self._spark.sparkContext._jvm
        hist = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        snap = hist.getSnapshot()
        return hist.getCount() * snap.getMean() / 1000.0

    def read(self) -> dict[str, float]:
        sc = self._spark.sparkContext
        store = sc._jsc.sc().statusStore()
        jvm = sc._jvm
        status = jvm.java.util.ArrayList()
        status.add(jvm.org.apache.spark.status.api.v1.StageStatus.COMPLETE)
        stages = store.stageList(status, False, False, _empty_doubles(sc), jvm.java.util.ArrayList())
        out = dict.fromkeys(self.FIELDS, 0.0)
        top = self._max_stage
        # newest first: stop at the first stage already read
        for i in range(stages.size()):
            s = stages.apply(i)
            if s.stageId() <= self._max_stage:
                break
            top = max(top, s.stageId())
            out["exec_cpu_s"] += s.executorCpuTime() / 1e9
            out["gc_s"] += s.jvmGcTime() / 1000.0
            out["shuffle_mb"] += (
                s.shuffleLocalBytesRead() + s.shuffleRemoteBytesRead() + s.shuffleWriteBytes()
            ) / 1e6
            out["spill_mb"] += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / 1e6
        self._max_stage = top
        total = self._codegen_total()
        out["codegen_compile_s"] = total - self._codegen_s
        self._codegen_s = total
        return out


def _empty_doubles(sc):
    gw = sc._gateway
    return gw.new_array(gw.jvm.double, 0)
