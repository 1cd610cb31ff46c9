"""Benchmark entry point: run one workload against the engine in the
current directory and print its metrics.

    python3 perfbench/run.py --workload pos_live --seed 1 --seconds 15 --trace 0

Run it from the root of a checkout (the directory holding
`pos_dlt_spark/`). Everything it writes stays under `.perfbench/` there:
a scratch directory per run (removed at the end), and under
`.perfbench/out/` the result and, for traced runs, the spans.

The last line of standard output is one JSON object with `correct`,
`attempted`, `failed` and `metrics` (the end-to-end metrics untraced,
the per-layer metrics traced). The line before it holds the host record
and the workload's descriptive detail.
"""

from __future__ import annotations

import argparse
import json
import os
import pathlib
import shlex
import shutil
import subprocess
import sys
import tempfile
import time

WORKLOADS = ("pos_live", "corpus_curate")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def isolate(root: str, work: str, trace: bool) -> str | None:
    """Point every temporary path of Python, the JVM and the engine into
    the run's scratch directory, and size the driver for this host.
    Returns the Spark event log directory of a traced run."""
    from perfbench import host

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = {
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
        "SPARK_GRAFT_SCRATCH": tmp,
        "SPARK_GRAFT_CPUS": str(host.nproc()),
    }
    os.environ.update(env)
    tempfile.tempdir = tmp  # gettempdir() caches its first answer
    # every JVM, spark-submit's launcher too, skips its /tmp/hsperfdata file
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    # session.py defaults to 16g, more than a 15 GB host has: take a
    # quarter of host memory, 1-8 GiB
    os.environ.setdefault(
        "SPARK_GRAFT_DRIVER_MEM", f"{max(1, min(8, host.mem_total_bytes() // 4 // 2**30))}g"
    )
    java_opts = f'"-Djava.io.tmpdir={tmp}"'
    submit = ["--driver-java-options", java_opts, "--conf", "spark.ui.showConsoleProgress=false"]
    log_dir = None
    if trace:
        log_dir = os.path.join(work, "spark-events")
        os.makedirs(log_dir)
        submit += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir={pathlib.Path(log_dir).as_uri()}",
            "--conf", "spark.eventLog.compress=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(submit + ["pyspark-shell"])
    return log_dir


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    gw.shutdown()
    # a later session in this process must launch a fresh JVM
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "pos_dlt_spark")):
        print(f"perfbench: no pos_dlt_spark/ under {root}; run from the repository root", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(root, ".perfbench", "runs", run_id)
    out_dir = os.path.join(root, ".perfbench", "out")
    try:
        result = bench(args, root, work, run_id)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    os.makedirs(out_dir, exist_ok=True)
    detail, line = result
    with open(os.path.join(out_dir, f"{args.workload}-s{args.seed}-t{args.trace}.json"), "w") as fh:
        json.dump({**detail, "result": line}, fh, indent=1)
    print(json.dumps(detail))
    print(json.dumps(line))
    return 0


def bench(args, root: str, work: str, run_id: str, sizes=None):
    """Run one workload in a fresh Spark session; `sizes` replaces the
    workload's default input sizes. Returns (detail, result line)."""
    log_dir = isolate(root, work, bool(args.trace))

    from perfbench import corpus_curate, host, pos_live
    from perfbench.common import RunContext
    from perfbench.trace import SPARK_UNITS, Tracer, spark_event_metrics
    from pos_dlt_spark.session import get_spark

    steal0 = host.cpu_times()
    t_start = time.perf_counter()
    spark = get_spark("perfbench")
    jvm_start_s = time.perf_counter() - t_start
    tracer = Tracer(run_id, enabled=bool(args.trace))
    ctx = RunContext(spark, args.seed, args.seconds, work, tracer)
    try:
        workload = {"pos_live": pos_live, "corpus_curate": corpus_curate}[args.workload]
        out = workload.run(ctx) if sizes is None else workload.run(ctx, sizes)
        jvm_rss = host.peak_rss_mb(host.jvm_pid(spark))
        host_rec = host.record(spark, steal0)
    finally:
        stop_spark(spark)

    if args.trace:
        # The result line carries the layer metrics both workloads measure,
        # so none of them is a constant 0; the workload's own layers (flows
        # and streaming, or gate phases) go to the detail line.
        metrics = {k: (v, SPARK_UNITS[k]) for k, v in
                   spark_event_metrics(log_dir, *out.window, out.n_ops).items()}
        # per layer, not end to end: G1's heap sizing follows GC timing, so
        # the JVM's peak resident set moved by up to half between runs
        metrics["jvm_rss_mb.peak"] = (jvm_rss, "MB")
        # the op time under tracing; minus the untraced op_s.p50 of the
        # same seed, it is the tracing overhead
        metrics["trace.op_s.p50"] = out.metrics["op_s.p50"]
        units = workload.LAYER_UNITS
        out.detail["layers"] = {k: {"value": out.layers.get(k, 0.0), "unit": units[k]} for k in units}
        tracer.dump(os.path.join(root, ".perfbench", "out", f"spans-{args.workload}-s{args.seed}.json"))
    else:
        metrics = out.metrics

    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "host": host_rec,
        "jvm_start_s": jvm_start_s,
        "error_rate": out.failed / max(out.attempted, 1),
        "errors": out.errors,
        "end_to_end": {k: v[0] for k, v in out.metrics.items()},
        "jvm_rss_mb.peak": jvm_rss,
        **out.detail,
    }
    line = {
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return detail, line


if __name__ == "__main__":
    sys.exit(main())
