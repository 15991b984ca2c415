"""Spans around the calls the benchmark makes into each layer, with
Spark stage counters read at the same boundaries.

``Tracer`` is used by the traced run only.  It gives each counted span
its own job group, and when the span ends it reads the group's stages
from Spark's status store (no listener class or UI needed).  Spans are
kept in memory and written as JSONL when the run ends.  ``NoTrace`` is
the untraced stand-in: it sets no job group, reads no status store and
records nothing, so the untraced run measures the engine alone.
"""

from __future__ import annotations

import contextlib
import json
import time

#: Stage counters summed per counted span, with their StageData getter
#: and the factor that turns the getter's unit into the reported one.
COUNTERS = {
    "tasks": ("numCompleteTasks", 1),
    "executor_run_s": ("executorRunTime", 1e-3),
    "executor_cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "input_mb": ("inputBytes", 1e-6),
    "shuffle_read_mb": ("shuffleReadBytes", 1e-6),
    "shuffle_write_mb": ("shuffleWriteBytes", 1e-6),
    "spill_mb": ("diskBytesSpilled", 1e-6),
}


class NoTrace:
    enabled = False

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None, jobs: bool = False):
        yield {}


class Tracer:
    enabled = True

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._jvm = self.sc._jvm
        self._no_quantiles = self.sc._gateway.new_array(self._jvm.double, 0)
        self._counted: set[int] = set()
        self._stack: list[dict] = []
        self.spans: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None, jobs: bool = False):
        """Record one span.  ``op`` defaults to the enclosing span's;
        with ``jobs`` the span runs in its own job group and gets the
        jobs, stages and counters of that group."""
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "op": op if op is not None else (parent or {}).get("op"),
            "name": name,
            "parent": parent["id"] if parent else None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        group = f"{rec['op']}#{rec['id']}"
        if jobs:
            self.sc.setJobGroup(group, name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if jobs:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                rec.update(self._group_counters(group))
                # time spent reading counters is tracing overhead, kept
                # out of the span's own duration but still accounted
                rec["trace_s"] = time.perf_counter() - rec["end"]

    def _group_counters(self, group: str) -> dict:
        # the status store is fed asynchronously by the listener bus
        self._bus.waitUntilEmpty()
        tracker = self.sc.statusTracker()
        job_ids = tracker.getJobIdsForGroup(group)
        stage_ids: set[int] = set()
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        out = dict.fromkeys(COUNTERS, 0.0)
        out["jobs"], out["stages"] = len(job_ids), 0
        # a stage reused by a later job keeps its id; count its work once
        for sid in sorted(stage_ids - self._counted):
            self._counted.add(sid)
            attempts = self._store.stageData(
                sid, False, self._jvm.java.util.ArrayList(), False, self._no_quantiles
            )
            for i in range(attempts.length()):
                sd = attempts.apply(i)
                if sd.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                for key, (getter, scale) in COUNTERS.items():
                    out[key] += getattr(sd, getter)() * scale
        return out

    def write_jsonl(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")


def instrument_translate(tracer: Tracer) -> contextlib.ExitStack:
    """Record a ``translate`` span around every ``dialect.translate`` call
    the engine makes while the returned stack is open.  The DML module
    imported the function by name, so both references are wrapped."""
    from sparketl import dialect, dml

    original = dialect.translate

    def traced(*args, **kwargs):
        with tracer.span("translate"):
            return original(*args, **kwargs)

    stack = contextlib.ExitStack()
    for mod in (dialect, dml):
        stack.callback(setattr, mod, "translate", getattr(mod, "translate"))
        setattr(mod, "translate", traced)
    return stack
