"""Benchmark entry point.

    python3 perfbench/run.py --workload ingest_stream --seed 1 --seconds 15 --trace 0

Run from the repository root. Inputs are generated from ``--seed`` under
``.perfbench_runs/`` in the checkout, which also holds the Spark local
dirs, the IceLite warehouse and the operators' storage root; the run
directory is removed at exit. The last stdout line is the result JSON:
end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1`` (a separate run: tracing is off while end-to-end metrics
are measured). The line before it (``detail ...``) gives per-operation
latency summaries.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUNS_DIR = os.path.join(ROOT, ".perfbench_runs")
SETUP_REPEATS = 3

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "driver_peak_rss_mb": "MB",
    "stored_bytes_per_input_byte": "ratio",
}


def _parse() -> argparse.Namespace:
    from perfbench.workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True, help="length of the measured phase")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def _environment(rundir: str) -> None:
    """Run-local scratch for everything the run writes, all cores, and the
    checkout on the Python workers' import path."""
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["IMX_STORAGE_ROOT"] = os.path.join(rundir, "storage")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(rundir, "spark-local")
    os.environ["TMPDIR"] = os.path.join(rundir, "tmp")
    # every JVM (the launcher's too): temp files in the run dir, no
    # /tmp/hsperfdata_* file
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    for d in ("storage", "spark-local", "tmp"):
        os.makedirs(os.path.join(rundir, d), exist_ok=True)


def _spark_conf(rundir: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.sql.warehouse.dir": os.path.join(rundir, "spark-warehouse"),
    }
    if trace:
        os.makedirs(os.path.join(rundir, "eventlog"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(rundir, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def _measure(workload, run, seconds: float) -> list[float]:
    """Whole cycles for about ``seconds``: at least one, and another only
    if the last one would still fit."""
    walls: list[float] = []
    t0 = time.perf_counter()
    while getattr(workload, "has_cycle", lambda: True)():
        c0 = time.perf_counter()
        workload.cycle()
        walls.append(time.perf_counter() - c0)
        run.cycle += 1
        if time.perf_counter() - t0 + walls[-1] > seconds:
            break
    if not walls:
        raise RuntimeError(f"{workload.name}: no prepared input left for another cycle")
    return walls


def _measure_traced(workload, run, tracer, seconds: float) -> list[float]:
    """:func:`_measure` with spans around the layers' entry points."""
    from perfbench.trace import install_layers

    run.tracer = tracer
    install_layers(tracer)
    try:
        return _measure(workload, run, seconds)
    finally:
        tracer.uninstall()
        run.tracer = None


def _stop(spark) -> None:
    """Stop Spark, then close the JVM's stdin (it exits on EOF) and wait
    for it, so no process outlives the run."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)


def run_workload(args: argparse.Namespace, rundir: str) -> tuple[dict, dict]:
    from perfbench import layers
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS, Run

    t0 = time.perf_counter()
    from iceberg_matrix_spark.session import get_spark

    spark = get_spark(
        app_name=f"perfbench-{args.workload}", adaptive=True,
        extra_conf=_spark_conf(rundir, bool(args.trace)),
    )
    session_s = time.perf_counter() - t0
    try:
        run = Run(spark, rundir, args.seed)
        workload = WORKLOADS[args.workload](run)
        preps = []
        for _ in range(SETUP_REPEATS):
            p0 = time.perf_counter()
            workload.prepare()
            preps.append(time.perf_counter() - p0)
        w0 = time.perf_counter()
        workload.warm_up()
        warm_s = time.perf_counter() - w0
        setup_s = session_s + statistics.median(preps) + warm_s

        if args.trace:
            # The first traced cycle sits where the untraced run's measured
            # cycle does, first-use costs included; its spans give the
            # per-layer metrics. The overhead compares a second traced
            # cycle with the untraced one just before it.
            tracer, first = Tracer(), run.cycle
            _measure_traced(workload, run, tracer, args.seconds / 3)
            traced_cycles = range(first, run.cycle)
            untraced = _measure(workload, run, args.seconds / 3)
            retraced = _measure_traced(workload, run, Tracer(), args.seconds / 3)
        else:
            untraced = _measure(workload, run, args.seconds)
        peak_rss_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
        c0 = time.perf_counter()
        workload.check()
        check_s = time.perf_counter() - c0

        detail = {
            "workload": args.workload, "seed": args.seed,
            "session_start_s": session_s, "setup_repeats_s": preps, "warm_up_s": warm_s,
            "cycles": run.cycle, "check_s": check_s,
            "ops": layers.op_summaries(run.ops),
            "failures": run.failures,
        }
        if args.trace:
            counts = [workload.layer_counts(c) for c in traced_cycles]
        else:
            metrics = {
                "setup_s": setup_s,
                "wall_s": statistics.median(untraced),
                "driver_peak_rss_mb": peak_rss_mb,
                "stored_bytes_per_input_byte": workload.stored_bytes() / workload.input_bytes(),
            }
    finally:
        _stop(spark)
    if args.trace:
        metrics = layers.per_layer(
            run, tracer, traced_cycles, counts, session_s,
            overhead_s=statistics.median(retraced) - statistics.median(untraced),
            eventlog_dir=os.path.join(rundir, "eventlog"),
        )
        out = os.path.join(RUNS_DIR, "traces", f"{args.workload}-seed{args.seed}.spans.jsonl")
        tracer.dump(out)
        detail["spans_file"] = os.path.relpath(out, ROOT)
        detail["self_s"] = {k: v for k, v in metrics.items() if k.endswith(".self_s")}
    attempted, failed = run.attempted_failed()
    units = layers.PER_LAYER if args.trace else END_TO_END
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    return detail, result


def main() -> int:
    if not os.path.isdir(os.path.join(ROOT, "iceberg_matrix_spark")):
        print(f"perfbench: no iceberg_matrix_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    args = _parse()
    rundir = os.path.join(RUNS_DIR, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(rundir)
    _environment(rundir)
    try:
        detail, result = run_workload(args, rundir)
    finally:
        shutil.rmtree(rundir, ignore_errors=True)
    print("detail " + json.dumps(detail, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
