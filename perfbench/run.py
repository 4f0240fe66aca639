"""Benchmark entry point.

    python3 perfbench/run.py --workload scbf_io --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout. It sets up a Spark session through
the engine's own factory on ``local[<cpus>]``, runs one workload closed-loop
for ``--seconds`` (whole passes, at least one, after an untimed warm-up),
checks the outputs, prints every metric as ``name value unit`` and ends with
one JSON line: ``{"correct", "attempted", "failed", "metrics"}``.
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
ones (event log on, spans kept and written to ``.perfbench_work``).
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("scbf_io", "query_mix")


def _metric_names(kind: str) -> list[tuple[str, str]]:
    """(name, unit) of the ``end_to_end`` or ``per_layer`` metrics listed in
    BENCHMARK.json, the one place they are declared."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [(m["name"], m["unit"]) for m in json.load(f)[kind]]


class Context:
    """What a workload gets: the session, its inputs' seed, the time budget
    and the measuring tools."""

    def __init__(self, spark, args, run_dir, tracer, jobs):
        self.spark = spark
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.run_dir = run_dir
        self.tracer = tracer
        self.jobs = jobs
        self.clock = time.perf_counter
        self.wall = time.time


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _environment(run_dir: str) -> dict:
    """Keep every file Spark, the JVM and Python write inside the checkout."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        "SPARK_GRAFT_CPUS": str(cpus),
        "PYTHONHASHSEED": "0",
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
    })
    return {
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }


def _stop(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    from perfbench.harness import jvm_process

    proc = jvm_process(spark)
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc.stdin is not None:
        proc.stdin.close()  # the gateway server exits on EOF
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isfile(os.path.join(ROOT, "custom_columnar_format_spark", "__init__.py")):
        print(f"perfbench: no engine sources under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import harness

    t_process = harness.process_start_time()
    work = os.path.join(ROOT, ".perfbench_work")
    run_dir = os.path.join(work, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    conf = _environment(run_dir)
    tracer = harness.Tracer(bool(args.trace))
    if args.trace:
        conf.update(harness.event_log_conf(os.path.join(run_dir, "events")))
    try:
        return _run(args, run_dir, work, conf, tracer, t_process)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, run_dir, work, conf, tracer, t_process) -> int:
    import importlib

    from perfbench import harness

    workload = importlib.import_module(f"perfbench.{args.workload}")
    from custom_columnar_format_spark.plans.session import get_spark

    with tracer.span("plans.session") as s_session:
        spark = get_spark("perfbench", extra_conf=conf)
    with tracer.span("plans.first_job") as s_first:
        harness.trivial_job(spark)
    setup_s = time.time() - t_process
    spark.sparkContext.setLogLevel("ERROR")
    try:
        ctx = Context(spark, args, run_dir, tracer, harness.JobCounter(spark))
        out = workload.run(ctx)
        memory = harness.memory_mb(spark)
        if args.trace:
            out["layers"].update(_job_layers(ctx, out))
    finally:
        _stop(spark)

    rss = memory["driver_peak_rss_mb"] + memory["jvm_peak_rss_mb"]
    e2e = {"setup_s": (setup_s, "s"), "peak_rss_mb": (rss, "MB"), **out["e2e"]}
    attempted, failed = out["attempted"], out["failed"]
    e2e["failed_ops_ratio"] = (failed / attempted if attempted else 1.0, "ratio")
    layers = {
        "plans.session_s": (s_session["dur"], "s"),
        "plans.first_job_s": (s_first["dur"], "s"),
        "trace.pass_s": (out["e2e"]["pass_s"][0], "s"),
        **{f"memory.{k}": (v, "MB") for k, v in memory.items()},
        **out["layers"],
    }
    if args.trace:
        layers.update(_event_layers(run_dir, out))
        tracer.write(os.path.join(work, f"spans-{args.workload}-s{args.seed}.jsonl"))

    print(f"workload {args.workload} seed {args.seed} trace {args.trace} "
          f"cpus {os.environ['SPARK_GRAFT_CPUS']} passes {len(out['windows'])}")
    for msg in out["failures"]:
        print(f"FAILED {msg}")
    for name, (value, unit) in e2e.items():
        print(f"{name} {value:.6g} {unit}")
    if args.trace:
        for name, unit in _metric_names("per_layer"):
            value = layers.get(name, (0.0, unit))[0]
            print(f"{name} {value:.6g} {unit}")
        overhead = _trace_overhead(work, args, out["e2e"]["pass_s"][0])
        if overhead is not None:
            print(f"trace.overhead_s {overhead:.6g} s (traced minus untraced pass_s, same seed)")
    else:
        with open(os.path.join(work, f"e2e-{args.workload}-s{args.seed}.json"), "w") as f:
            json.dump({k: v for k, (v, _u) in e2e.items()}, f)

    wanted = _metric_names("per_layer" if args.trace else "end_to_end")
    source = layers if args.trace else e2e
    metrics = {
        name: {"value": float(source.get(name, (0.0, unit))[0]), "unit": unit}
        for name, unit in wanted
    }
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


def _job_layers(ctx, out) -> dict:
    """Jobs, stages and tasks per pass of the workload's timed operations."""
    jobs = stages = tasks = 0
    for gid in out["groups"]:
        j, s, t = ctx.jobs.counts(gid)
        jobs, stages, tasks = jobs + j, stages + s, tasks + t
    n = max(1, len(out["windows"]))
    return {
        "queries.jobs": (jobs / n, "count"),
        "queries.stages": (stages / n, "count"),
        "queries.tasks": (tasks / n, "count"),
    }


def _event_layers(run_dir, out) -> dict:
    """``operators.*`` and the driver gap, per pass, from the event log."""
    from perfbench import harness

    ev = harness.parse_event_log(os.path.join(run_dir, "events"), out["windows"])
    n = max(1, len(out["windows"]))
    return {
        "operators.exchanges": (ev["exchanges"] / n, "count"),
        "operators.shuffle_write_bytes": (ev["shuffle_write_bytes"] / n, "bytes"),
        "operators.shuffle_read_bytes": (ev["shuffle_read_bytes"] / n, "bytes"),
        "operators.spill_bytes": (ev["spill_bytes"] / n, "bytes"),
        "operators.task_run_s": (ev["task_run_s"] / n, "s"),
        "operators.task_cpu_s": (ev["task_cpu_s"] / n, "s"),
        "queries.driver_gap_s": (ev["driver_gap_s"] / n, "s"),
    }


def _trace_overhead(work, args, traced_pass_s):
    path = os.path.join(work, f"e2e-{args.workload}-s{args.seed}.json")
    try:
        with open(path) as f:
            return traced_pass_s - json.load(f)["pass_s"]
    except (OSError, KeyError, ValueError):
        return None


if __name__ == "__main__":
    sys.exit(main())
