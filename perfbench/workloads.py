"""The three workloads: their ops, warm-up, timed passes and output checks.

An op is one dashboard query (``dashboards``), one pipeline stage
(``corpus_pipeline``) or one landed micro-batch (``stream_replay``). Each
workload runs one untimed warm pass during set-up, then a fixed number of
timed passes over its fixed input; the number of passes follows from
``--seconds`` (see ``passes_for``), never from how fast the passes ran, so
every run of a workload does the same work and reports over the same op
count. Outputs are checked after the timed loop.
"""

from __future__ import annotations

import contextlib
import os
import time
from dataclasses import dataclass, field

import pandas as pd

from perfbench import check, gen

DASHBOARD_QUERIES = [
    "agg_groupby", "agg_global",
    "join_inner", "join_left_outer", "multi_join_star",
    "window_rank_topn_per_group", "window_lag_diff",
    "rolling_time_bin", "quantiles", "latency_histogram",
    "math_ops", "json_ops",
    "asof_join", "sessionize", "funnel_conversion", "range_join_error_context",
    "pxl_facade_agg", "debug_analyze_stats",
]

# The training-data pipeline, in order. The shard stage writes the
# documents the first stage's near-duplicate pairs keep.
CORPUS_STAGES = [
    "dedup_minhash_lsh",
    "dedup_embedding_cosine_lsh",
    "domain_pagerank",
    "write_training_shards",
]
# stages whose plan exposes the LSH candidate join (operators.pair_yield)
LSH_STAGES = {"dedup_minhash_lsh", "dedup_embedding_cosine_lsh"}
SHARD_ROWS = 50
WARM_THREADS = 4

# stream_replay: one warm-up micro-batch lands events and documents;
# timed micro-batch j also lands documents when j % DOC_EVERY == 1, so
# the first documents batch the timed loop sees already finds an index.
STREAM_WARM_OPS = 1
STREAM_PASS_OPS = 4
DOC_EVERY = 3
ROLL_WINDOW = "10m"
ROLL_WATERMARK = "5 minutes"

# Nominal seconds of one timed pass on a 4-CPU box. The number of timed
# passes is --seconds divided by this, rounded, and at least one.
NOMINAL_PASS_S = {"dashboards": 6.0, "corpus_pipeline": 11.0, "stream_replay": 12.0}


def passes_for(workload: str, seconds: float) -> int:
    return max(1, int(round(seconds / NOMINAL_PASS_S[workload])))


@dataclass
class Op:
    name: str
    pass_no: int
    start: float = 0.0
    end: float = 0.0
    error: str | None = None
    result: object = None
    mismatch: str | None = None
    counters: dict = field(default_factory=dict)

    @property
    def latency(self) -> float:
        return self.end - self.start


class Context:
    """What every workload needs: the session, its directories, and the
    tracing hooks (all no-ops when the run is untraced)."""

    def __init__(self, spark, seed: int, work_dir: str, tracer=None, counters=None, log=None):
        self.spark = spark
        self.seed = seed
        self.work_dir = work_dir
        self.data_dir = os.path.join(work_dir, "data")
        self.tracer = tracer
        self.counters = counters
        self.log = log
        self.ops: list[Op] = []
        self.warm: dict[str, Op] = {}
        self.inputs: dict = {}
        self.checks: dict[str, str] = {}  # op name -> reference problem, "" if fine
        self.compiles_seen: int | None = None
        self.extra: dict = {}

    def stamp_inputs(self, paths: list[str]) -> None:
        self.inputs = {"files": len(paths), "digest": gen.digest_files(paths)}

    def span(self, name: str, **attrs):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name, **attrs)

    @contextlib.contextmanager
    def op(self, name: str, pass_no: int, timed: bool):
        op = Op(name, pass_no)
        if self.tracer is not None:
            self.tracer.op = len(self.ops) if timed else None
        with self.span("op", op_name=name, timed=timed):
            op.start = time.time()
            try:
                yield op
            except Exception as e:  # noqa: BLE001 - an op failure is a counted outcome
                op.error = f"{type(e).__name__}: {e}"[:400]
            op.end = time.time()
        if timed:
            self.ops.append(op)
        else:
            self.warm[name] = op
        if self.counters is not None:
            op.counters.update(self.collect(op))

    def collect(self, op: Op) -> dict:
        """Per-op counters of the traced run, read after the op ended."""
        jobs = self.counters.new_jobs()
        compiles = self.counters.compiles()
        seen = compiles if self.compiles_seen is None else self.compiles_seen
        self.compiles_seen = compiles
        return {
            "jobs": jobs,
            "compiles": compiles - seen,
            "log": self.log.count(self.log.read()),
        }


def _batch_op(ctx: Context, op: Op, build) -> None:
    """Build the frame, plan it, run it to completion and collect the
    result to the driver (Arrow), recording a span around each step."""
    with ctx.span("operators.call"):
        df = build()
    jqe = df._jdf.queryExecution()
    with ctx.span("catalyst.plan"):
        jqe.executedPlan()
    with ctx.span("exec.action"):
        op.result = df.toPandas()
    if ctx.tracer is not None:
        from perfbench.trace import catalyst_phases

        op.counters["phases"] = catalyst_phases(jqe)
        if op.name in LSH_STAGES:
            op.counters["pair_yield"] = check.pair_yield(df, len(op.result))


# ---------------------------------------------------------------------------
# dashboards


def _query_fn(name: str):
    from bench import BENCH_OVERRIDES
    from pixie_spark.queries import QUERIES

    return BENCH_OVERRIDES.get(name, QUERIES[name].fn)


def dashboards_setup(ctx: Context) -> None:
    """Generate the tables and warm every query, WARM_THREADS at a time:
    the pass fills the codegen cache and warms the JIT, and concurrent
    queries compile in parallel. (The corpus stages warm one at a time:
    their lineage cuts, concurrent ``localCheckpoint`` calls, can fail.)"""
    from concurrent.futures import ThreadPoolExecutor

    gen.write_dashboard_tables(ctx.seed, ctx.data_dir)
    ctx.stamp_inputs(sorted(os.path.join(ctx.data_dir, f) for f in os.listdir(ctx.data_dir)))

    def warm(name: str) -> Op:
        op = Op(name, -1)
        try:
            _batch_op(ctx, op, lambda: _query_fn(name)(ctx.spark, ctx.data_dir))
        except Exception as e:  # noqa: BLE001 - reported by the reference check
            op.error = f"{type(e).__name__}: {e}"[:400]
        return op

    tracer, ctx.tracer = ctx.tracer, None  # spans nest per thread of control
    try:
        with ThreadPoolExecutor(WARM_THREADS) as pool:
            ctx.warm = {op.name: op for op in pool.map(warm, DASHBOARD_QUERIES)}
    finally:
        ctx.tracer = tracer


def dashboards_pass(ctx: Context, pass_no: int) -> None:
    """One query after another, in a seeded order."""
    order = gen.rng(ctx.seed, f"dashboards-pass{pass_no}").permutation(len(DASHBOARD_QUERIES))
    for i in order:
        fn = _query_fn(DASHBOARD_QUERIES[i])
        with ctx.op(DASHBOARD_QUERIES[i], pass_no, timed=True) as op:
            _batch_op(ctx, op, lambda: fn(ctx.spark, ctx.data_dir))


# ---------------------------------------------------------------------------
# corpus_pipeline


def _corpus_stage(ctx: Context, op: Op, pass_no: int, pairs=None) -> None:
    if op.name != "write_training_shards":
        fn = _query_fn(op.name)
        _batch_op(ctx, op, lambda: fn(ctx.spark, ctx.data_dir))
        return
    from pyspark.sql import functions as F

    from pixie_spark.sources import load_table
    from pixie_spark.sources.shards import write_training_shards

    out = os.path.join(ctx.work_dir, "shards", f"pass{pass_no}")
    with ctx.span("operators.call"):
        later = ctx.spark.createDataFrame(pairs[["doc_b"]]).select(F.col("doc_b").alias("doc_id"))
        docs = load_table(ctx.spark, ctx.data_dir, "documents").select("doc_id", "text")
        kept = docs.join(F.broadcast(later), "doc_id", "left_anti")
    with ctx.span("sink.write"):
        n_shards = write_training_shards(kept, out, SHARD_ROWS)
    op.result = {"path": out, "n_shards": n_shards}
    op.counters["shard_path"] = out


def corpus_setup(ctx: Context) -> None:
    gen.write_corpus_tables(ctx.seed, ctx.data_dir)
    ctx.stamp_inputs(sorted(os.path.join(ctx.data_dir, f) for f in os.listdir(ctx.data_dir)))
    corpus_pass(ctx, -1)


def corpus_pass(ctx: Context, pass_no: int) -> None:
    """The stages in order; pass -1 is the untimed warm pass."""
    pairs = None
    for name in CORPUS_STAGES:
        with ctx.op(name, pass_no, timed=pass_no >= 0) as op:
            _corpus_stage(ctx, op, pass_no, pairs)
        if name == "dedup_minhash_lsh":
            pairs = op.result


# ---------------------------------------------------------------------------
# stream_replay


class Replay:
    """The three streaming queries over two landing directories."""

    def __init__(self, ctx: Context, n_ops: int) -> None:
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        import pixie_spark.streaming as S
        from pixie_spark.streaming.ingest import streaming_ingest_dedup
        from pixie_spark.streaming.stateful import streaming_anomalies

        w = ctx.work_dir
        self.ctx = ctx
        n_docs = sum(1 for i in range(n_ops) if self.lands_docs(i))
        self.staged_events, self.staged_docs = gen.write_stream_batches(
            ctx.seed, os.path.join(w, "stage"), n_ops, n_docs
        )
        ctx.stamp_inputs(self.staged_events + self.staged_docs)
        self.ev_dir = os.path.join(w, "land", "events")
        self.doc_dir = os.path.join(w, "land", "docs")
        os.makedirs(self.ev_dir)
        os.makedirs(self.doc_dir)
        self.landed_events: list[str] = []
        self.landed_docs: list[str] = []
        self.index_dir = os.path.join(w, "index")
        self.pairs_dir = os.path.join(w, "pairs")
        ev_schema = T.StructType(
            [
                T.StructField("user_id", T.LongType()),
                T.StructField("ts", T.LongType()),
                T.StructField("event_type", T.StringType()),
                T.StructField("value", T.DoubleType()),
            ]
        )
        doc_schema = T.StructType(
            [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
        )
        self.ev_schema = ev_schema
        spark = ctx.spark

        def events():
            return S.stream_table(spark, self.ev_dir, ev_schema, max_files_per_trigger=1)

        def ckpt(name):
            return os.path.join(w, "ckpt", name)

        docs = S.stream_table(spark, self.doc_dir, doc_schema, max_files_per_trigger=1)
        self.queries = {
            "anomalies": streaming_anomalies(
                events(), entity_col="user_id", ts_col="ts", value_col="value"
            )
            .writeStream.format("memory").queryName("perfbench_anomalies")
            .outputMode("append").option("checkpointLocation", ckpt("anomalies")).start(),
            "rolling": S.rolling_agg(
                events(), ROLL_WINDOW,
                {"n": F.count(F.lit(1)), "total": F.sum("value")},
                by=["event_type"], time_col="ts", watermark=ROLL_WATERMARK,
            )
            .writeStream.format("memory").queryName("perfbench_rolling")
            .outputMode("append").option("checkpointLocation", ckpt("rolling")).start(),
            "ingest": streaming_ingest_dedup(docs, self.index_dir, self.pairs_dir)
            .option("checkpointLocation", ckpt("ingest")).start(),
        }
        self.last_batch = {k: -1 for k in self.queries}

    @staticmethod
    def lands_docs(i: int) -> bool:
        return i < STREAM_WARM_OPS or (i - STREAM_WARM_OPS) % DOC_EVERY == 1

    def land(self, i: int) -> None:
        """Atomically move staged batch ``i`` into the landing dirs."""
        src = self.staged_events[i]
        dst = os.path.join(self.ev_dir, os.path.basename(src))
        os.rename(src, dst)
        self.landed_events.append(dst)
        if self.lands_docs(i):
            src = self.staged_docs[len(self.landed_docs)]
            dst = os.path.join(self.doc_dir, os.path.basename(src))
            os.rename(src, dst)
            self.landed_docs.append(dst)

    def step(self, op: Op, i: int) -> None:
        ctx = self.ctx
        with ctx.span("stream.land"):
            self.land(i)
        with ctx.span("streaming.wait"):
            for q in self.queries.values():
                q.processAllAvailable()
        if ctx.tracer is not None:
            from perfbench.trace import progress_since

            prog = {}
            for k, q in self.queries.items():
                prog[k] = progress_since(q, self.last_batch[k])
                if prog[k]:
                    self.last_batch[k] = max(int(p["batchId"]) for p in prog[k])
            op.counters["progress"] = prog

    def stop(self) -> None:
        for q in self.queries.values():
            with contextlib.suppress(Exception):
                q.stop()


def stream_setup(ctx: Context, passes: int) -> Replay:
    rp = Replay(ctx, STREAM_WARM_OPS + passes * STREAM_PASS_OPS)
    ctx.extra["replay"] = rp
    for i in range(STREAM_WARM_OPS):
        with ctx.op(f"batch{i}", -1, timed=False) as op:
            rp.step(op, i)
    return rp


def stream_pass(ctx: Context, pass_no: int) -> None:
    rp = ctx.extra["replay"]
    first = STREAM_WARM_OPS + pass_no * STREAM_PASS_OPS
    for i in range(first, first + STREAM_PASS_OPS):
        with ctx.op("micro_batch", pass_no, timed=True) as op:
            rp.step(op, i)


# ---------------------------------------------------------------------------
# checks (outside every timed region)


def check_batch_ops(ctx: Context) -> None:
    """Reference per op name from the warm pass (oracle-checked where the
    registry has an oracle), then every timed op against it."""
    refs: dict[str, str | None] = {}
    con = check.oracle_connection(ctx.data_dir)
    try:
        for name, op in ctx.warm.items():
            if op.error:
                ctx.checks[name] = f"warm op failed: {op.error}"
                continue
            if name == "write_training_shards":
                docs = pd.read_parquet(os.path.join(ctx.data_dir, "documents.parquet"))
                pairs = ctx.warm["dedup_minhash_lsh"].result
                ctx.extra["kept"] = set(docs["doc_id"]) - set(pairs["doc_b"])
                ctx.checks[name] = check.shards(op.result, ctx.extra["kept"], SHARD_ROWS)
                continue
            problem, digest = check.reference(con, name, op.result)
            ctx.checks[name] = problem
            refs[name] = digest
    finally:
        con.close()
    for op in ctx.ops:
        if op.error:
            continue
        if ctx.checks.get(op.name):
            op.mismatch = f"reference check failed: {ctx.checks[op.name]}"[:400]
        elif op.name == "write_training_shards":
            op.mismatch = check.shards(op.result, ctx.extra["kept"], SHARD_ROWS) or None
        elif check.digest(op.name, op.result) != refs[op.name]:
            op.mismatch = "result differs from this run's checked reference"
        op.result = None


def check_stream(ctx: Context) -> None:
    """Stream == batch: the anomaly flags and the closed windows equal the
    batch operators over every landed event, and the accumulated
    near-duplicate pairs equal a full rebuild over every landed document."""
    rp: Replay = ctx.extra["replay"]
    problems = check.stream_outputs(ctx.spark, rp)
    ctx.checks.update(problems)
    bad = "; ".join(f"{k}: {v}" for k, v in problems.items() if v)
    for op in ctx.ops:
        if not op.error and bad:
            op.mismatch = bad[:400]


def tail_rank(n: int) -> tuple[float, int]:
    """The highest percentile with ten ops beyond it, as (percentile,
    zero-based rank in sorted order). Below twenty ops no percentile at
    or above the median has ten beyond it, and the maximum is reported."""
    if n >= 20:
        return 100.0 * (n - 10) / n, n - 11
    return 100.0, n - 1


def wall_per_pass(ops: list[Op]) -> list[float]:
    by: dict[int, list[Op]] = {}
    for op in ops:
        by.setdefault(op.pass_no, []).append(op)
    return [max(o.end for o in v) - min(o.start for o in v) for _, v in sorted(by.items())]

