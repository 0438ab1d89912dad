"""Spans and Spark counters for the traced run.

The benchmark records a span around each call it makes into a layer
(registry build call, ``executedPlan()``, the action, a stream trigger)
and reads Spark's own counters from outside the engine:

- Catalyst phases from ``QueryExecution.tracker()``;
- compile count from ``CodegenMetrics``, compile time and whole-stage
  codegen fallbacks from the driver log the benchmark captures;
- jobs, stages, task time, GC, shuffle and spill from the driver's
  ``AppStatusStore`` (populated with the UI disabled);
- per-trigger durations and state size from ``StreamingQuery`` progress.

Spans are kept in memory and written out when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import json
import re
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None
    id: int = 0
    attrs: dict = field(default_factory=dict)


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
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


class Tracer:
    """In-memory span recorder. ``span()`` nests through a stack, so a
    span opened inside another becomes its child."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.op: int | None = None

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> int:
        sid = len(self.spans)
        self.spans.append(Span(name, start, end, parent, self.op, sid, attrs))
        return sid

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sid = self.add(name, time.time(), 0.0, self._stack[-1] if self._stack else None, **attrs)
        self._stack.append(sid)
        try:
            yield self.spans[sid]
        finally:
            self._stack.pop()
            self.spans[sid].end = time.time()

    def wrap(self, obj, attr: str, name: str) -> None:
        """Replace ``obj.attr`` with a version that records a span."""
        fn = getattr(obj, attr)

        @functools.wraps(fn)
        def traced(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        setattr(obj, attr, traced)

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the part its children cover."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append((s.start, s.end))
        out = {}
        for s in self.spans:
            inside = [
                (max(a, s.start), min(b, s.end))
                for a, b in kids.get(s.id, [])
                if min(b, s.end) > max(a, s.start)
            ]
            out[s.id] = (s.end - s.start) - union_length(inside)
        return out

    def to_json(self) -> list[dict]:
        return [
            {"id": s.id, "name": s.name, "start": s.start, "end": s.end,
             "parent": s.parent, "op": s.op, **({"attrs": s.attrs} if s.attrs else {})}
            for s in self.spans
        ]


class LogTail:
    """Reads what the driver JVM appended to the captured log file since
    the last call."""

    FALLBACK = "Whole-stage codegen disabled"
    TOO_LARGE = "Code grows beyond 64 KB"
    COMPILED = re.compile(r"Code generated in ([0-9.]+) ms")

    def __init__(self, path: str) -> None:
        self.path = path
        self.pos = 0

    def read(self) -> str:
        with open(self.path, "rb") as f:
            f.seek(self.pos)
            data = f.read()
        self.pos += len(data)
        return data.decode("utf-8", "replace")

    @classmethod
    def count(cls, text: str) -> dict:
        return {
            "wscg_fallbacks": text.count(cls.FALLBACK),
            "code_too_large": text.count(cls.TOO_LARGE),
            "compile_ms_logged": sum(float(m) for m in cls.COMPILED.findall(text)),
        }


class SparkCounters:
    """Readers over the driver's status store and JVM-wide counters."""

    def __init__(self, spark) -> None:
        self.spark = spark
        jvm = spark._jvm
        self.jsc = spark.sparkContext._jsc.sc()
        self.store = self.jsc.statusStore()
        self.codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics
        self.mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self.mapper.registerModule(jvm.com.fasterxml.jackson.module.scala.DefaultScalaModule())
        self.next_job = 0

    def log_compiles(self) -> None:
        """Log one INFO line per generated class, with its compile time."""
        jvm = self.spark._jvm
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator",
            jvm.org.apache.logging.log4j.Level.INFO,
        )

    def compiles(self) -> int:
        return int(self.codegen.METRIC_COMPILATION_TIME().getCount())

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status store holds the jobs that just ended."""
        self.jsc.listenerBus().waitUntilEmpty()

    def skip_to_now(self) -> None:
        """Forget jobs that ran before this point."""
        self.drain()
        while self._job(self.next_job) is not None:
            self.next_job += 1

    def _job(self, job_id: int) -> dict | None:
        try:
            return json.loads(self.mapper.writeValueAsString(self.store.job(job_id)))
        except Exception:  # noqa: BLE001 - py4j raises on an unknown id
            return None

    def new_jobs(self) -> list[dict]:
        """Jobs that started since the previous call, each with its
        stages' metrics under ``stages``."""
        self.drain()
        out = []
        while True:
            job = self._job(self.next_job)
            if job is None:
                return out
            self.next_job += 1
            job["stages"] = [self._stage(s) for s in job.get("stageIds") or []]
            out.append(job)

    def _stage(self, stage_id: int) -> dict:
        try:
            d = json.loads(self.mapper.writeValueAsString(self.store.lastStageAttempt(stage_id)))
        except Exception:  # noqa: BLE001 - a stage the store has evicted
            return {"stageId": stage_id, "status": "UNKNOWN"}
        return {
            k: d.get(k)
            for k in (
                "stageId", "status", "numTasks", "executorRunTime", "executorCpuTime",
                "jvmGcTime", "shuffleReadBytes", "shuffleWriteBytes",
                "memoryBytesSpilled", "diskBytesSpilled", "outputBytes",
            )
        }


def catalyst_phases(jqe) -> dict[str, float]:
    """Phase durations (ms) of a QueryExecution's tracker."""
    out = {}
    it = jqe.tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        out[str(kv._1())] = float(kv._2().durationMs())
    return out


def progress_since(query, last_batch: int) -> list[dict]:
    """Progress records of a streaming query for batches after
    ``last_batch``, as plain dicts."""
    out = []
    for p in query.recentProgress:
        d = json.loads(p.json) if hasattr(p, "json") else dict(p)
        if int(d["batchId"]) > last_batch:
            out.append(d)
    return out
