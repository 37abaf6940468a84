"""Per-op timing and, in a traced run, per-layer Spark counters.

Every public call the benchmark makes goes through :meth:`Recorder.call`,
which times it and records a span. With tracing on, the call also runs
in its own Spark job group, and right after it returns the recorder
reads Spark's status stores (the job/stage store and the SQL store):
jobs, their submit→complete intervals, executor CPU time, input and
shuffle bytes, and the Python worker time of the op's SQL executions.
The stores keep only the last 1,000 jobs and stages, hence the read
after every op. Nothing in the package under test is patched.
"""

from __future__ import annotations

import json
import re
import time
from dataclasses import dataclass, field

from perfbench.layers import OPS

# SQL plan metric that carries pythonTotalTime (PythonSQLMetrics).
_PY_TIME_METRIC = "time to run Python workers"
_RECENT_EXECUTIONS = 64  # more than any single op starts
_DURATION_UNITS_MS = {"ms": 1.0, "s": 1000.0, "m": 60_000.0, "h": 3_600_000.0}


def parse_duration_ms(text: str) -> float:
    """Parse a formatted SQL timing metric ("241 ms", "1.6 s", or the
    multi-task form "total (min, med, max ...)\\n5.2 s (...)")."""
    line = text.strip().split("\n")[-1]
    m = re.match(r"\s*([0-9.,]+)\s*(ms|s|m|h)\b", line)
    if not m:
        raise ValueError(f"unparsed duration metric {text!r}")
    return float(m.group(1).replace(",", "")) * _DURATION_UNITS_MS[m.group(2)]


@dataclass
class Span:
    run_id: str
    name: str
    parent: str          # the workload phase: setup, warmup, measure, ...
    start: float         # epoch seconds
    constructed: float   # when the public call returned
    end: float           # when its result was materialized
    ok: bool = True
    counters: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


def _union_ms(intervals: list[tuple[float, float]]) -> float:
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


class Recorder:
    """Times public calls and keeps their spans in memory."""

    def __init__(self, run_id: str, trace: bool):
        self.run_id = run_id
        self.trace = trace
        self.spans: list[Span] = []
        self._spark = None
        self._seq = 0

    def attach(self, spark) -> None:
        self._spark = spark

    def call(self, name: str, phase: str, fn, materialize=None):
        """Run ``fn()`` (the public call) and then ``materialize(result)``
        (the action that consumes it, e.g. ``collect``); return
        ``(result, materialized)``. Exceptions propagate after the span
        is recorded as failed."""
        group = None
        if self.trace and self._spark is not None:
            self._seq += 1
            group = f"{self.run_id}:{self._seq}"
            description = f"{name}#{self._seq}"
            self._spark.sparkContext.setJobGroup(group, description)
        span = Span(self.run_id, name, phase, time.time(), 0.0, 0.0)
        try:
            out = fn()
            span.constructed = time.time()
            done = materialize(out) if materialize is not None else None
            span.end = time.time()
            return out, done
        except Exception:
            span.ok = False
            span.end = span.constructed = time.time()
            raise
        finally:
            if group is not None:
                self._spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
                self._spark.sparkContext.setLocalProperty("spark.job.description", None)
                span.counters = self._read_counters(
                    group, description, span, "python_ms" in OPS.get(name, ()))
            self.spans.append(span)

    def timed(self, name: str, phase: str, fn):
        """Time a call made outside any Spark session (session start)."""
        span = Span(self.run_id, name, phase, time.time(), 0.0, 0.0)
        out = fn()
        span.end = span.constructed = time.time()
        self.spans.append(span)
        return out

    # ---------------------------------------------------------- counters

    def _read_counters(self, group: str, description: str, span: Span,
                       python: bool) -> dict:
        sc = self._spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()  # the stores are fed asynchronously
        store = jsc.statusStore()
        jvm, gw = sc._jvm, sc._gateway
        job_ids = list(sc.statusTracker().getJobIdsForGroup(group))
        intervals, stages = [], set()
        lo, hi = span.start * 1000.0, span.end * 1000.0
        for jid in job_ids:
            jd = store.job(jid)
            if jd.submissionTime().isDefined():
                s = float(jd.submissionTime().get().getTime())
                e = (float(jd.completionTime().get().getTime())
                     if jd.completionTime().isDefined() else hi)
                intervals.append((max(s, lo), min(max(e, s), hi)))
            info = sc.statusTracker().getJobInfo(jid)
            if info is not None:
                stages.update(int(x) for x in info.stageIds)
        cpu_ns = input_b = shuffle_b = 0
        for sid in sorted(stages):
            seq = store.stageData(sid, False, jvm.java.util.ArrayList(), False,
                                  gw.new_array(jvm.double, 0))
            for i in range(seq.size()):
                sd = seq.apply(i)
                # a stage this op's jobs skipped because an earlier op ran
                # it is listed with that earlier attempt: not this op's work
                sub = sd.submissionTime()
                if not sub.isDefined() or sub.get().getTime() < lo - 1.0:  # ms clock
                    continue
                cpu_ns += sd.executorCpuTime()
                input_b += sd.inputBytes()
                shuffle_b += sd.shuffleWriteBytes()
        wall = hi - lo
        out = {
            "jobs": len(job_ids),
            "construct_ms": (span.constructed - span.start) * 1000.0,
            "driver_ms": max(0.0, wall - _union_ms(intervals)),
            "executor_cpu_ms": cpu_ns / 1e6,
            "input_bytes": float(input_b),
            "shuffle_write_bytes": float(shuffle_b),
        }
        if python:
            out["python_ms"] = self._python_ms(description)
        return out

    def _python_ms(self, description: str) -> float:
        """Sum of pythonTotalTime over the op's SQL executions: the most
        recent executions (ordered by id) whose description is the op's
        unique job description."""
        sq = self._spark._jsparkSession.sharedState().statusStore()
        n = sq.executionsCount()
        recent = sq.executionsList(max(0, n - _RECENT_EXECUTIONS),
                                   min(n, _RECENT_EXECUTIONS))
        total = 0.0
        for i in range(recent.size()):
            ex = recent.apply(i)
            if ex.description() != description:
                continue
            vals = sq.executionMetrics(ex.executionId())
            plan = ex.metrics()
            seen = set()
            for j in range(plan.size()):
                m = plan.apply(j)
                if m.name() == _PY_TIME_METRIC and m.accumulatorId() not in seen:
                    seen.add(m.accumulatorId())
                    v = vals.get(m.accumulatorId())
                    if v.isDefined():
                        total += parse_duration_ms(v.get())
        return total

    # ----------------------------------------------------------- reports

    def by_name(self) -> dict[str, list[Span]]:
        """Successful spans grouped by op name."""
        out: dict[str, list[Span]] = {}
        for s in self.spans:
            if s.ok:
                out.setdefault(s.name, []).append(s)
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({
                    "run_id": s.run_id, "name": s.name, "parent": s.parent,
                    "start": s.start, "constructed": s.constructed,
                    "end": s.end, "ok": s.ok, "counters": s.counters,
                }) + "\n")
