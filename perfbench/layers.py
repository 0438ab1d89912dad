"""Per-layer metrics of a traced run, computed from its spans and the
per-op counters. Every count is per op, summed over the run's timed ops;
times are self times (a span's duration minus what its children cover)
unless the name says otherwise. LAYERS.md maps each metric to its source
and to the end-to-end metric it should move."""

from __future__ import annotations

import datetime
import os
import statistics

from perfbench.trace import union_length

STREAM_DURATIONS = {
    "streaming.trigger_ms": "triggerExecution",
    "streaming.add_batch_ms": "addBatch",
    "streaming.query_planning_ms": "queryPlanning",
    "streaming.wal_commit_ms": "walCommit",
}


def _epoch(iso: str) -> float:
    return datetime.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def _add_child_spans(tracer, op_idx: int, op) -> None:
    """Jobs and stream triggers become spans under the deepest span of
    the op that was open when they started."""
    own = [s for s in tracer.spans if s.op == op_idx]
    root = next(s for s in own if s.name == "op")

    def parent_of(t: float) -> int:
        inside = [s for s in own if s.start <= t <= s.end]
        return max(inside, key=lambda s: s.start).id if inside else root.id

    extra = []
    for k, recs in op.counters.get("progress", {}).items():
        for p in recs:
            start = _epoch(p["timestamp"])
            dur = p.get("durationMs", {}).get("triggerExecution", 0) / 1000.0
            extra.append(("streaming.trigger", start, start + dur, {"query": k}))
    for job in op.counters.get("jobs", []):
        start = job["submissionTime"] / 1000.0
        end = (job.get("completionTime") or job["submissionTime"]) / 1000.0
        extra.append(("exec.job", start, end, {"job": job["jobId"]}))
    # triggers first, so a job can land inside one
    for name, start, end, attrs in sorted(extra, key=lambda e: e[0] != "streaming.trigger"):
        # timestamps are whole milliseconds: clamp to the op's interval
        start = min(max(start, root.start), root.end)
        end = min(max(end, start), root.end)
        tracer.op = op_idx
        sid = tracer.add(name, start, end, parent_of(start), **attrs)
        own.append(tracer.spans[sid])


def _ancestors(tracer, sid: int) -> set[str]:
    names = set()
    p = tracer.spans[sid].parent
    while p is not None:
        names.add(tracer.spans[p].name)
        p = tracer.spans[p].parent
    return names


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _s, fs in os.walk(path) for f in fs
    )


def layer_metrics(ctx, session_s: float, setup_compiles: int, e2e: dict, peak_rss: float) -> dict:
    tracer = ctx.tracer
    for i, op in enumerate(ctx.ops):
        _add_child_spans(tracer, i, op)
    self_t = tracer.self_times()
    timed = [s for s in tracer.spans if s.op is not None]

    def self_sum(name: str) -> float:
        return sum(self_t[s.id] for s in timed if s.name == name)

    def dur_sum(name: str) -> float:
        return sum(s.end - s.start for s in timed if s.name == name)

    m: dict[str, tuple[float, str]] = {"session.start_s": (session_s, "s")}
    m["sources.load_s"] = (self_sum("sources.load"), "s")
    m["sources.loads"] = (sum(1 for s in timed if s.name == "sources.load"), "count")
    m["api.build_s"] = (self_sum("api.build"), "s")
    m["operators.call_s"] = (self_sum("operators.call"), "s")
    m["operators.eager_jobs"] = (
        sum(
            1 for s in timed
            if s.name == "exec.job" and "operators.call" in _ancestors(tracer, s.id)
        ),
        "count",
    )
    phases: dict[str, float] = {}
    for op in ctx.ops:
        for k, v in op.counters.get("phases", {}).items():
            phases[k] = phases.get(k, 0.0) + v
    for k in ("analysis", "optimization", "planning"):
        m[f"catalyst.{k}_ms"] = (phases.get(k, 0.0), "ms")

    logs = [op.counters.get("log", {}) for op in ctx.ops]
    compiles = sum(op.counters.get("compiles", 0) for op in ctx.ops)
    n_ops = len(ctx.ops)
    m["codegen.compiles"] = (compiles, "count")
    m["codegen.compile_ms"] = (sum(x.get("compile_ms_logged", 0.0) for x in logs), "ms")
    m["codegen.wscg_fallbacks"] = (sum(x.get("wscg_fallbacks", 0) for x in logs), "count")
    m["codegen.code_too_large"] = (sum(x.get("code_too_large", 0) for x in logs), "count")
    m["codegen.setup_compiles"] = (setup_compiles, "count")
    m["codegen.compiles_per_op"] = (compiles / n_ops, "ratio")

    jobs = [j for op in ctx.ops for j in op.counters.get("jobs", [])]
    stages: dict[int, dict] = {}
    skipped = 0
    for op in ctx.ops:
        seen = {}
        for j in op.counters.get("jobs", []):
            for st in j["stages"]:
                seen[st["stageId"]] = st
        skipped += sum(1 for st in seen.values() if st.get("status") == "SKIPPED")
        stages.update({(id(op), k): v for k, v in seen.items()})
    ran = [st for st in stages.values() if st.get("status") == "COMPLETE"]

    def st_sum(key: str) -> float:
        return float(sum(st.get(key) or 0 for st in ran))

    busy = 0.0
    gap = 0.0
    for i, op in enumerate(ctx.ops):
        ivs = [(s.start, s.end) for s in timed if s.op == i and s.name == "exec.job"]
        b = union_length(ivs)
        busy += b
        gap += max(0.0, op.latency - b)
    m["exec.action_s"] = (dur_sum("exec.action"), "s")
    m["exec.jobs"] = (len(jobs), "count")
    m["exec.stages"] = (len(stages), "count")
    m["exec.stages_skipped"] = (skipped, "count")
    m["exec.stages_skipped_ratio"] = (skipped / len(stages) if stages else 0.0, "ratio")
    m["exec.tasks"] = (st_sum("numTasks"), "count")
    m["exec.task_cpu_s"] = (st_sum("executorCpuTime") / 1e9, "s")
    m["exec.gc_s"] = (st_sum("jvmGcTime") / 1e3, "s")
    m["exec.job_busy_s"] = (busy, "s")
    m["exec.driver_gap_s"] = (gap, "s")
    m["shuffle.write_bytes"] = (st_sum("shuffleWriteBytes"), "bytes")
    m["shuffle.read_bytes"] = (st_sum("shuffleReadBytes"), "bytes")
    m["shuffle.spill_bytes"] = (st_sum("diskBytesSpilled"), "bytes")

    m["sink.write_s"] = (dur_sum("sink.write"), "s")
    m["sink.bytes_written"] = (
        sum(
            _dir_bytes(op.counters["shard_path"]) for op in ctx.ops
            if op.counters.get("shard_path")
        ),
        "bytes",
    )

    prog = [p for op in ctx.ops for recs in op.counters.get("progress", {}).values() for p in recs]
    for metric, key in STREAM_DURATIONS.items():
        m[metric] = (float(sum(p.get("durationMs", {}).get(key, 0) for p in prog)), "ms")
    m["streaming.input_rows"] = (sum(int(p.get("numInputRows", 0)) for p in prog), "count")
    last: dict[str, dict] = {}
    for op in ctx.ops:
        for k, recs in op.counters.get("progress", {}).items():
            if recs:
                last[k] = recs[-1]
    state = [so for p in last.values() for so in p.get("stateOperators", [])]
    m["streaming.state_rows"] = (sum(int(so.get("numRowsTotal", 0)) for so in state), "count")
    m["streaming.state_bytes"] = (sum(int(so.get("memoryUsedBytes", 0)) for so in state), "bytes")

    yields = [op.counters["pair_yield"] for op in ctx.ops if "pair_yield" in op.counters]
    cand = sum(y["candidates"] for y in yields)
    m["operators.pair_yield"] = (sum(y["emitted"] for y in yields) / cand if cand else 0.0, "ratio")

    cover = []
    for i, op in enumerate(ctx.ops):
        root = next(s for s in timed if s.op == i and s.name == "op")
        kids = [(s.start, s.end) for s in timed if s.parent == root.id]
        cover.append(union_length(kids) / max(op.latency, 1e-9))
    m["trace.wall_s"] = (e2e["wall_s"][0], "s")
    m["trace.op_p50_s"] = (e2e["op_p50_s"][0], "s")
    m["trace.span_coverage_min"] = (min(cover), "ratio")
    m["jvm.peak_rss_mb"] = (peak_rss, "MB")
    ctx.extra["coverage"] = {
        "min": min(cover), "median": statistics.median(cover),
        "ops_below_0.9": sum(1 for c in cover if c < 0.9),
    }
    return m
