"""DeFtunes benchmark: one workload per invocation.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 35 --trace 0

Run from the repository root. Inputs are generated from ``--seed`` into
``.perfbench/inputs`` before the JVM starts; the run's own files go to
``.perfbench/run`` (wiped at start). Both workloads are cold fixed-work
passes (see ``workloads.py``) sized to take about ``--seconds`` on a
4-core host; ``--seconds`` is recorded but never cuts a pass short, since
a partial pass would change the bytes written and the op count.

The last stdout line is one JSON object ``{"correct", "attempted",
"failed", "metrics"}``. Untraced, the metrics are the end-to-end ones:

    setup_s       JVM start to the first timed op (input generation excluded);
                  the first Spark job is the first op's
    run_s         wall time of the timed phase
    cpu_s         CPU-seconds of this process and its JVM in the timed phase
    stored_bytes_per_input_byte
                  parquet data-file bytes the program wrote per generated
                  input byte; repeats exactly for a seed

With ``--trace 1`` they are the per-layer metrics of ``layers.PER_LAYER``.
Every run also writes a record (op latencies, host diagnostics and, when
traced, spans, Spark stages per layer and the tracing overhead) to
``.perfbench/out/<workload>-<seed>-trace<0|1>.json``. An expected gate
trip is not a failure; a wrong output is, and makes the exit code nonzero.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# The program is imported from the checkout the benchmark sits in; without
# it the imports below fail before any work is done or any result printed.
sys.path[:0] = [HERE, ROOT]

import check  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402
import measure  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

SCRATCH = os.path.join(ROOT, ".perfbench")


def _threads() -> int:
    """DuckDB threads: the Spark core count, at most ``nproc``."""
    cpus = os.cpu_count() or 1
    return min(cpus, int(os.environ.get("SPARK_GRAFT_CPUS") or cpus))


def _start_session(work: str, traced: bool):
    from deftunes_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.local.dir": f"{work}/local",
        # Keep the JVM's temporary files inside the run root; no
        # hsperfdata file in the system temp directory either.
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
    }
    if traced:
        os.makedirs(f"{work}/eventlog", exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{work}/eventlog",
            # Spark 4 compresses event logs with zstd by default, which
            # the standard library cannot read.
            "spark.eventLog.compress": "false",
        })
    return get_spark("perfbench", extra_conf=conf)


def _stop_session(spark) -> None:
    """Stop Spark and its JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _cpu_s(jvm_pid: int) -> float:
    return measure.proc_cpu_s(os.getpid()) + measure.proc_cpu_s(jvm_pid)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    traced = bool(args.trace)

    work = os.path.join(SCRATCH, "run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(f"{work}/tmp")
    os.environ["TMPDIR"] = tempfile.tempdir = f"{work}/tmp"
    # An inherited SPARK_LOCAL_DIRS would override spark.local.dir.
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/local"
    threads = _threads()
    inputs = os.path.join(SCRATCH, "inputs", args.workload)
    meta = gen.cached(inputs, args.workload, args.seed, threads)

    steal0 = measure.steal_ticks()
    t0 = time.perf_counter()
    spark = _start_session(work, traced)
    try:
        session_s = time.perf_counter() - t0
        jvm_pid = int(spark._jvm.ProcessHandle.current().pid())
        tracer = tracing.Tracer(traced, spark)
        b = workloads.Bench(
            spark=spark, tracer=tracer, inputs=inputs, work=work, meta=meta
        )
        setup, run, result = workloads.WORKLOADS[args.workload]
        workloads.instrument(tracer)
        try:
            setup(b)
            setup_s = time.perf_counter() - t0
            cpu0, t0 = _cpu_s(jvm_pid), time.perf_counter()
            run(b)
            run_s = time.perf_counter() - t0
            cpu_s = _cpu_s(jvm_pid) - cpu0
            got = result(b)
        finally:
            tracer.restore()
        host = measure.host_record(jvm_pid, steal0)
        host["cpus"] = spark.sparkContext.defaultParallelism
    finally:
        _stop_session(spark)

    t_check = time.perf_counter()
    errs = check.CHECKS[args.workload](inputs, meta, got, threads)
    check_s = time.perf_counter() - t_check
    for e in errs:
        print(f"MISMATCH {args.workload}: {e}", file=sys.stderr)
    stored = layers.stored_bytes(args.workload, work)
    input_bytes = layers.input_bytes(args.workload, meta)
    e2e = {
        "setup_s": (setup_s, "s"),
        "run_s": (run_s, "s"),
        "cpu_s": (cpu_s, "s"),
        "stored_bytes_per_input_byte": (
            stored["data_bytes"] / input_bytes, "ratio"
        ),
    }
    out_dir = os.path.join(SCRATCH, "out")
    os.makedirs(out_dir, exist_ok=True)
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "host": host,
        "session_start_s": session_s,
        "check_s": check_s,
        "end_to_end": {k: v for k, (v, _u) in e2e.items()},
        "ops_s": b.ops,
        "stored": stored,
        "mismatches": errs,
    }
    if traced:
        log = tracing.fold_event_log(tracing.find_event_log(f"{work}/eventlog"))
        metrics = layers.per_layer(
            args.workload, tracer, log, b, meta, session_s, run_s
        )
        untraced = os.path.join(
            out_dir, f"{args.workload}-{args.seed}-trace0.json"
        )
        record.update(
            tracing_overhead=layers.overhead(untraced, run_s),
            per_layer={k: v for k, (v, _u) in metrics.items()},
            stages_by_group=log,
            spans=tracer.spans,
        )
    else:
        metrics = e2e
    path = os.path.join(
        out_dir, f"{args.workload}-{args.seed}-trace{args.trace}.json"
    )
    with open(path, "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(f"run record: {path}", file=sys.stderr)
    failed = b.failed + (len(errs) > 0)
    print(json.dumps({
        "correct": not errs and b.failed == 0,
        "attempted": len(b.ops),
        "failed": min(failed, len(b.ops)),
        "metrics": {
            k: {"value": v, "unit": u} for k, (v, u) in metrics.items()
        },
    }))
    return 0 if not errs and b.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
