#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload index|ops --seed N --seconds S --trace 0|1

Run from the root of a source checkout. Builds nothing: the program is the
Python package next to this directory. Prints a report line (every figure
by name, with the launch record) and, as the LAST line of stdout, one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0``
the metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones.
Exits 2, printing no result, when the program is not there to measure.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_DIR = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, ROOT)

END_TO_END = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "work_per_s": "1/s",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.get_spark_s": "s",
    "session.warmup_s": "s",
    "setup.inputs_s": "s",
    "op.traced_p50_ms": "ms",
    "op.jobs": "count",
    "op.tasks": "count",
    "op.executor_run_ms": "ms",
    "op.shuffle_write_bytes": "bytes",
    "op.driver_ms": "ms",
    "timed.jobs": "count",
    "timed.uncovered_ms": "ms",
    "oracle.check_s": "s",
}


def start_session(tracer, cpus: str, socket_dir: str):
    from admarus_spark.session import get_spark

    with tracer.span("session.get_spark"):
        spark = get_spark(
            app_name="perfbench",
            master=f"local[{cpus}]",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                # keep every job/stage of the run for the per-call counters
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                # a unix socket path holds at most 107 bytes: under a long
                # checkout path the default (java.io.tmpdir, in the run
                # directory) is longer, and the session fails to start
                "spark.python.unix.domain.socket.dir": socket_dir,
            },
        )
    tracer.spark = spark
    with tracer.span("session.warmup"):
        # first job (JVM class loading, codegen); Python workers start in
        # the workload's own untimed warm-up
        spark.range(1000).selectExpr("sum(id)").collect()
    return spark


def layer_metrics(ctx, tracer) -> dict:
    from perfbench.tracing import SPARK_COUNTERS, covered_seconds
    from perfbench.workloads import median, ms

    lo, hi = ctx.timed
    primary = ctx.primary
    top = [s for s in tracer.spans if s["parent"] is None and "end" in s
           and lo <= s["start"] and s["end"] <= hi]

    def total(name):
        return sum(s["end"] - s["start"] for s in tracer.named(name))

    out = {
        "session.get_spark_s": total("session.get_spark"),
        "session.warmup_s": total("session.warmup"),
        "setup.inputs_s": total("setup.inputs") + total("setup.inputs.frame"),
        "op.traced_p50_ms": median(ms(primary)),
        "timed.jobs": sum(tracer.subtree_sum(s, "jobs") for s in top),
        "timed.uncovered_ms": ((hi - lo) - covered_seconds(tracer.spans, lo, hi)) * 1e3,
        "oracle.check_s": total("oracle.check"),
        # jobs submitted while no span was open (reported, not in a metric)
        "spark.unattributed_jobs": tracer.unattributed_jobs,
    }
    for key in SPARK_COUNTERS:
        out[f"op.{key}"] = median([tracer.subtree_sum(s, key) for s in primary])
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("index", "ops"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        import admarus_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: no program to measure under {ROOT}: {e}", file=sys.stderr)
        return 2
    from perfbench import hostenv, workloads
    from perfbench.tracing import RssSampler, Tracer, adopt_orphans, stop_spark

    adopt_orphans()

    os.chdir(ROOT)  # the socket directory is relative to it
    run_dir = os.path.join(WORK_DIR, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    env = hostenv.launch_env(run_dir)
    socket_dir = os.path.relpath(os.path.join(run_dir, "sock"), ROOT)
    os.makedirs(socket_dir)
    os.environ.update(env)
    record = hostenv.run_record(ROOT, env)
    record.update({"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                   "trace": args.trace, "inputs": workloads.INPUTS[args.workload]})

    tracer = Tracer(counters=bool(args.trace))
    rss = RssSampler()
    spark = ctx = None
    try:
        with rss:
            spark = start_session(tracer, env["SPARK_GRAFT_CPUS"], socket_dir)
            ctx = workloads.Ctx(
                spark=spark, tracer=tracer, seed=args.seed, seconds=args.seconds,
                run_dir=run_dir, cache_dir=os.path.join(WORK_DIR, "cache"),
                source_digest=record["source_digest"], rss=rss, record=record,
            )
            workloads.WORKLOADS[args.workload](ctx)
    finally:
        if not (ctx and ctx.stopped):
            stop_spark(record)
        if ctx is not None and ctx.cleanup is not None:
            ctx.cleanup.join()
        t = time.perf_counter()
        shutil.rmtree(run_dir, ignore_errors=True)
        record["cleanup_s"] = time.perf_counter() - t
    record["loadavg_end"] = hostenv.loadavg()

    e2e = {
        "setup_s": ctx.setup_s,
        "op_p50_ms": workloads.median(workloads.ms(ctx.primary)),
        "work_per_s": ctx.work_units / ctx.timed_wall(),
        "peak_rss_mb": rss.peak_mb,
    }
    layers = layer_metrics(ctx, tracer) if args.trace else {}
    failed = len(ctx.errors)
    report = {k: {"value": v, "unit": u} for k, (v, u) in ctx.report.items()}
    report["error_rate"] = {"value": failed / max(1, ctx.attempted), "unit": "ratio"}
    report["peak_rss_mb"] = {"value": e2e["peak_rss_mb"], "unit": "MB"}
    report["setup_s"] = {"value": e2e["setup_s"], "unit": "s"}
    spans_file = os.path.join(
        WORK_DIR, "out", f"{args.workload}-{args.seed}-t{args.trace}-{os.getpid()}.spans.jsonl")
    tracer.dump(spans_file)
    detail = {
        "record": record,
        "report": report,
        "layers": {**ctx.layers, **layers} if args.trace else {},
        "errors": ctx.errors[:20],
        "spans": os.path.relpath(spans_file, ROOT),
    }
    if args.trace:
        metrics = {k: {"value": float(layers[k]), "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in END_TO_END.items()}
    result = {"correct": failed == 0, "attempted": max(1, ctx.attempted),
              "failed": failed, "metrics": metrics}
    signal.alarm(0)  # the result is in: no deadline may cut it off now
    sys.stderr.flush()
    print(json.dumps(detail, default=str))
    print(json.dumps(result), flush=True)
    return 0


# a run that has not ended by then gives up, stopping what it started, so
# that it never outlives a caller's 180 s limit
DEADLINE_S = 165


def _terminate(signum, frame):
    # unwinds through main's finally, which stops every process started
    print(f"perfbench: stopping on {signal.Signals(signum).name}", file=sys.stderr)
    raise SystemExit(128 + signum)


if __name__ == "__main__":
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGALRM):
        signal.signal(sig, _terminate)
    signal.alarm(DEADLINE_S)
    try:
        code = main()
    except SystemExit as e:
        code = e.code if isinstance(e.code, int) else 1
    except BaseException:  # noqa: BLE001 — report, then exit without teardown
        traceback.print_exc()
        code = 1
    signal.alarm(0)
    try:
        # nothing may outlive the run, whichever way main() ended
        from perfbench.tracing import stop_processes

        stop_processes()
    except BaseException:  # noqa: BLE001
        traceback.print_exc()
        code = code or 1
    sys.stdout.flush()
    sys.stderr.flush()
    # skip interpreter teardown: pyspark's exit hooks would call into the
    # JVM gateway that stop_spark already ended
    os._exit(code)
