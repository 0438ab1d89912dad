"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Generates the workload's inputs from the
seed under ``.perfbench/`` in the checkout, starts a session with
``pixie_spark.session.get_spark``, runs one untimed warm pass, then the
timed passes, checks every op's output, and prints one line per metric
followed by a JSON object as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` records spans
around every call into a layer and reports the per-layer metrics (see
``perfbench/LAYERS.md``). The full record, with the environment stamp,
per-op detail and the spans, is written to ``.perfbench/records/``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import time

T_START = time.time()

ROOT = os.getcwd()
WORKLOADS = ("dashboards", "corpus_pipeline", "stream_replay")
REQUIRED = ("pixie_spark/session.py", "bench.py", "tools/check_oracle.py")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_environment(work: str) -> str:
    """Keep every file Spark, the JVM and Python write inside the
    checkout, and capture the driver's log in a file of our own (the
    whole-stage-codegen fallback count is read from it). Returns the log
    path. Must run before the JVM starts."""
    local = os.path.join(work, "local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    log_path = os.path.join(work, "driver.log")
    log = os.open(log_path, os.O_WRONLY | os.O_CREAT | os.O_APPEND, 0o644)
    os.dup2(log, 2)
    os.close(log)
    return log_path


def install_spans(tracer) -> None:
    """Wrap the layer entry points the registry calls, from outside the
    package: table loads and the px facade."""
    import bench
    import pixie_spark.api as px
    import pixie_spark.plans.analyze as pa
    import pixie_spark.queries as q
    import pixie_spark.sources as src
    from pixie_spark.api.dataframe import PxDataFrame, PxGroupedFrame

    for mod in (src, q, bench):
        tracer.wrap(mod, "load_table", "sources.load")
    for obj, attr in (
        (px, "set_context"), (px, "DataFrame"), (px, "debug"),
        (PxDataFrame, "__getitem__"), (PxDataFrame, "groupby"), (PxDataFrame, "agg"),
        (PxDataFrame, "to_spark"), (PxGroupedFrame, "agg"), (pa, "analyze"),
    ):
        if hasattr(obj, attr):
            tracer.wrap(obj, attr, "api.build")


def e2e_metrics(ctx, setup_s: float) -> tuple[dict, dict]:
    from perfbench.workloads import tail_rank, wall_per_pass

    lat = sorted(op.latency for op in ctx.ops)
    failed = sum(1 for op in ctx.ops if op.error or op.mismatch)
    pct, rank = tail_rank(len(lat))
    walls = wall_per_pass(ctx.ops)
    metrics = {
        "setup_s": (setup_s, "s"),
        "wall_s": (statistics.median(walls), "s"),
        "op_p50_s": (statistics.median(lat), "s"),
        "op_tail_s": (lat[rank], "s"),
        # add-one smoothed, so a clean run is not 0: the raw counts are
        # the record's "attempted" and "failed"
        "fail_ratio": ((failed + 1) / (len(lat) + 1), "ratio"),
    }
    detail = {
        "ops": len(lat),
        "passes": len(walls),
        "failed": failed,
        "fail_ratio_raw": failed / len(lat),
        "op_tail_pct": round(pct, 1),
        "op_tail_ops_beyond": len(lat) - 1 - rank,
        "wall_per_pass_s": walls,
    }
    return metrics, detail


def environment(spark, seed: int, inputs: dict) -> dict:
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "spark": spark.version,
        "python": platform.python_version(),
        "seed": seed,
        "inputs": inputs,
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: run from the repository root; missing {missing}", file=sys.stderr)
        return 2
    if args.seconds <= 0:
        print("perfbench: --seconds must be positive", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-s{args.seed}-{os.getpid()}")
    os.makedirs(work)
    real_stderr = os.fdopen(os.dup(2), "w")
    log_path = prepare_environment(work)
    try:
        record = run(args, work, log_path)
    except Exception:  # noqa: BLE001 - report why, print no result
        import traceback

        real_stderr.write(traceback.format_exc())
        with open(log_path, errors="replace") as f:
            real_stderr.write("".join(f.readlines()[-40:]))
        real_stderr.flush()
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    records = os.path.join(ROOT, ".perfbench", "records")
    os.makedirs(records, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(records, name), "w") as f:
        json.dump(record, f, indent=1, default=str)
    print_summary(record)
    print(json.dumps(record["result"]))
    return 0


def run(args, work: str, log_path: str) -> dict:
    from perfbench import workloads as W
    from perfbench.trace import LogTail, SparkCounters, Tracer

    from pixie_spark.session import get_spark

    t0 = time.time()
    spark = get_spark("perfbench")
    session_s = time.time() - t0
    replay = None
    try:
        tracer = Tracer() if args.trace else None
        log = LogTail(log_path)
        counters = None
        calibration = {"skipped": "probes run in traced runs only (about 30 s each)"}
        calibration_s = 0.0
        if args.trace:
            from bench import run_calibration

            counters = SparkCounters(spark)
            counters.log_compiles()
            install_spans(tracer)
            t_cal = time.time()
            calibration = {"before": run_calibration(spark, 1, statistics.median)}
            calibration_s = time.time() - t_cal
        ctx = W.Context(spark, args.seed, work, tracer, counters, log)
        passes = W.passes_for(args.workload, args.seconds)
        compiles_before = counters.compiles() if counters else 0

        if args.workload == "dashboards":
            W.dashboards_setup(ctx)
        elif args.workload == "corpus_pipeline":
            W.corpus_setup(ctx)
        else:
            replay = W.stream_setup(ctx, passes)
        setup_s = time.time() - T_START - calibration_s
        setup_compiles = None
        if counters is not None:
            # the timed ops' counters start here
            counters.skip_to_now()
            log.read()
            ctx.compiles_seen = counters.compiles()
            setup_compiles = ctx.compiles_seen - compiles_before

        timed_pass = {
            "dashboards": W.dashboards_pass,
            "corpus_pipeline": W.corpus_pass,
            "stream_replay": W.stream_pass,
        }[args.workload]
        for p in range(passes):
            timed_pass(ctx, p)
        peak_rss = _peak_rss_mb(spark)

        t_check = time.time()
        if replay is not None:
            W.check_stream(ctx)
        else:
            W.check_batch_ops(ctx)
        check_s = time.time() - t_check

        metrics, detail = e2e_metrics(ctx, setup_s)
        layers = {}
        if args.trace:
            from perfbench.layers import layer_metrics

            calibration["after"] = run_calibration(spark, 1, statistics.median)
            layers = layer_metrics(ctx, session_s, setup_compiles, metrics, peak_rss)
        env = environment(spark, args.seed, ctx.inputs)
    finally:
        if replay is not None:
            replay.stop()
        stop_session(spark)
    failed = detail["failed"]
    reported = layers if args.trace else metrics
    result = {
        "correct": failed == 0 and not any(ctx.checks.values()),
        "attempted": detail["ops"],
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in reported.items()},
    }
    return {
        "workload": args.workload,
        "result": result,
        "e2e": {k: v for k, (v, _u) in metrics.items()},
        "peak_rss_mb": peak_rss,
        "detail": {**detail, "session_s": session_s, "check_s": check_s},
        "checks": ctx.checks,
        "op_latency_s": [[op.name, op.pass_no, round(op.latency, 4)] for op in ctx.ops],
        "op_errors": [
            {"name": op.name, "pass": op.pass_no, "error": op.error, "mismatch": op.mismatch}
            for op in ctx.ops if op.error or op.mismatch
        ],
        "environment": env,
        "calibration": calibration,
        "coverage": ctx.extra.get("coverage"),
        "spans": tracer.to_json() if tracer else None,
    }


def stop_session(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


def _peak_rss_mb(spark) -> float:
    pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def print_summary(record: dict) -> None:
    res = record["result"]
    verdict = "PASS" if res["correct"] else "FAIL"
    print(
        f"{record['workload']} seed={record['environment']['seed']}: output check {verdict} "
        f"({res['attempted']} ops, {res['failed']} failed)"
    )
    for name, problem in sorted(record["checks"].items()):
        if problem:
            print(f"  check {name}: {problem}")
    for name, m in res["metrics"].items():
        print(f"  {name:32s} {m['value']:.6g} {m['unit']}")


if __name__ == "__main__":
    sys.exit(main())
