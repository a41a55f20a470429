#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload bulk_audit --seed 1 --seconds 12

Run from the repository root. ``--trace 0`` prints the end-to-end
metrics (set-up time, rows per second, cycle wall time, CPU seconds
per cycle). ``--trace 1`` turns on Spark's event log and wraps the
engine's public functions, and prints the per-layer metrics instead.
The workload and metric names and units are read from
``BENCHMARK.json``. Inputs are generated from the seed into
``.perfbench/inputs`` before set-up starts, outside every timing;
every other file the run writes also stays under ``.perfbench``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import glob  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
CPUS = min(2, len(os.sched_getaffinity(0)))
SETUP_REPEATS = 3

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)
END_TO_END = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
EVENT_LOG_METRICS = ("jobs", "stages", "tasks", "task_run_s", "task_cpu_s",
                     "gc_s", "shuffle_write_bytes", "input_rows")


def parse_args():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=[w["name"] for w in BENCH["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=BENCH["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def clean_work() -> float:
    """Remove what earlier runs left in the work directory. Returns the
    seconds it took, which set-up time leaves out: it depends on what
    ran before."""
    t0 = time.perf_counter()
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    return time.perf_counter() - t0


def configure_env(trace: bool) -> str | None:
    """Point Spark's and Python's scratch files into the work
    directory; with ``trace``, enable the event log at JVM launch.
    Returns the event log directory."""
    tmp = os.path.join(WORK, "tmp")
    log_dir = os.path.join(WORK, "eventlog") if trace else None
    for d in (tmp, log_dir):
        if d:
            os.makedirs(d)
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": tmp,
        "SPARK_GRAFT_CPUS": str(CPUS),
        "SPARK_DRIVER_MEM": "2g",
        # spark-submit's launcher JVM would write /tmp/hsperfdata_<user>
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
    })
    confs = {
        # a fixed heap and the parallel collector: with G1's adaptive
        # sizing, per-run median cycle times moved by up to 20% between
        # JVMs on the same input
        "spark.driver.extraJavaOptions":
            f"-Xms2g -XX:+UseParallelGC -XX:-UsePerfData "
            f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        # the event log must be on when the JVM starts; confs set from
        # Python once the session exists come too late. It is written
        # uncompressed: the Python environment has no zstandard module.
        confs.update({"spark.eventLog.enabled": "true",
                      "spark.eventLog.dir": log_dir,
                      "spark.eventLog.compress": "false",
                      "spark.eventLog.rolling.enabled": "false"})
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {k}='{v}'" if " " in v else f"--conf {k}={v}"
        for k, v in confs.items()) + " pyspark-shell"
    return log_dir


def stop_jvm() -> None:
    """Close the Spark JVM's stdin, on which it exits, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


def install_tracing(tracer, stream: bool) -> None:
    """Wrap the engine's public functions and Spark's actions."""
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameWriter

    from probes import catalyst_seconds
    from sjot_spark.engine import ValidationEngine
    from sjot_spark.plan import drift

    def plan_result(res):
        tracer.add("engine.plan_s", catalyst_seconds(res.violations)
                   + catalyst_seconds(res.verdicts))

    tracer.count_py4j()
    tracer.wrap(ValidationEngine, "__init__", "spec.check_s")
    tracer.wrap(ValidationEngine, "compile", "compiler.compile_s",
                py4j="compiler.py4j_calls")
    # a streaming cycle is one micro-batch; it starts where the batch
    # handler calls engine.run
    tracer.wrap(ValidationEngine, "run", "engine.build_s",
                py4j="engine.build_py4j_calls",
                before=tracer.end_cycle if stream else None,
                after=plan_result)
    tracer.wrap(drift, "build_histogram", "plan.histogram_s")
    tracer.wrap(drift, "drift_test", "plan.drift_test_s")
    for owner, attr in ((DataFrame, "collect"), (DataFrame, "count"),
                        (DataFrame, "isEmpty"), (DataFrameWriter, "parquet")):
        tracer.wrap(owner, attr, "engine.exec_s")


def timed_setup(wl, tracer) -> tuple[float, dict]:
    """Run one whole set-up; returns its seconds and, when traced, what
    the tracer recorded during it."""
    if tracer:
        tracer.start_cycle()
    t0 = time.perf_counter()
    wl.setup()
    took = time.perf_counter() - t0
    if not tracer:
        return took, {}
    trace = tracer.end_cycle()
    tracer.cycles.pop()
    return took, trace


def main() -> int:
    args = parse_args()
    sys.path[:0] = [HERE, ROOT]
    try:
        import sjot_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2

    from probes import ProcessTreeCpu, Tracer, event_log_metrics, median
    from sjot_spark.session import get_spark
    from workloads import WORKLOADS, Context

    clean_s = clean_work()
    log_dir = configure_env(bool(args.trace))
    tracer = Tracer() if args.trace else None
    if tracer:
        install_tracing(tracer, args.workload == "stream_ingest")
    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}")
    session_ready = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    try:
        ctx = Context(spark, WORK, args.seed, CPUS, tracer, ProcessTreeCpu())
        wl = WORKLOADS[args.workload](ctx)
        t = time.perf_counter()
        wl.make_inputs()
        inputs_s = time.perf_counter() - t
        runs = [timed_setup(wl, tracer)]
        t_timed, cycles = wl.measure(args.seconds)
        if tracer:
            cycle_traces, tracer.cycles = tracer.cycles, []
        # repeated after the timed window, so that the extra set-ups
        # do not warm the JVM for the warm-up cycles
        runs += [timed_setup(wl, tracer) for _ in range(SETUP_REPEATS - 1)]
        if tracer:
            tracer.cycles = cycle_traces
    finally:
        spark.stop()
        stop_jvm()

    setups = [s for s, _ in runs]
    setup_traces = [t for _, t in runs]
    timed = [c for c in cycles if c.timed]
    failed = sum(not c.ok for c in cycles)
    wall = [c.wall_s for c in timed]
    if tracer is None:
        values = {
            # from process start to the first timed cycle, less clean-up
            # and input generation, with the one set-up the process used
            # replaced by the median of all its set-ups
            "setup_s": (t_timed - T_START - clean_s - inputs_s)
            - setups[0] + median(setups),
            "rows_per_s": sum(c.rows for c in timed) / sum(wall),
            "cycle_s": median(wall),
            "cpu_s": median(c.cpu_s for c in timed),
        }
        units = END_TO_END
    else:
        values = {k: tracer.median(k) for k in PER_LAYER}
        values["session.start_s"] = session_ready - t0
        for k in ("spec.check_s", "plan.profile_s"):
            values[k] = median(s.get(k, 0.0) for s in setup_traces)
        values["trace.cycle_s"] = median(wall)
        logs = glob.glob(os.path.join(log_dir, "*"))
        per_group = event_log_metrics(logs[0])
        for k in EVENT_LOG_METRICS:
            values["engine." + k] = median(
                per_group.get(c.group, {}).get(k, 0.0) for c in timed)
        values["engine.scan_amplification"] = (
            values["engine.input_rows"] / wl.table_rows
            if wl.table_rows else 0.0)
        values.update(wl.traced_extras())
        units = PER_LAYER
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(cycles),
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u}
                    for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
