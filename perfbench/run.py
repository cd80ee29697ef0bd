"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload batch_floor --seed 1 --seconds 10 --trace 0

Builds its inputs from ``--seed`` under ``.perfbench_work/`` (removed at
exit), starts one Spark session on ``local[<cpus>]``, runs the workload,
checks every output, and prints one JSON line last:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer ones (job groups,
Spark's event log, streaming progress). Both modes write the run's spans to
``.perfbench_out/<workload>-seed<seed>-trace<t>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from workloads import END_TO_END, WORKLOADS, per_layer_names  # noqa: E402


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def pin_env(root: str, work: str, trace: bool) -> None:
    """Environment the program reads at import and session start."""
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # Spark's Python workers import the package by name, from any cwd
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    tmp = os.path.join(work, "tmp")
    for d in ("tmp", "spark-local", "eventlog"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    # no hsperfdata file: the JVM would write it under /tmp whatever tmpdir says
    submit = [f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData'",
              f"--conf spark.local.dir={os.path.join(work, 'spark-local')}"]
    if trace:
        # uncompressed: the default zstd codec needs a module that is absent
        submit += ["--conf spark.eventLog.enabled=true",
                   "--conf spark.eventLog.compress=false",
                   f"--conf spark.eventLog.dir=file://{os.path.join(work, 'eventlog')}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(submit + ["pyspark-shell"])


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - the JVM must not outlive the run
            proc.kill()
            proc.wait()


def p90(values: list[float]) -> float:
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=10, method="inclusive")[-1]


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    for need in ("__spark_entry__.py", "akka_stream_contrib_spark",
                 os.path.join("tests", "oracle_check.py")):
        if not os.path.exists(os.path.join(root, need)):
            print(f"perfbench: {need} not found in {root}; run from the repository root",
                  file=sys.stderr)
            return 2
    wl = WORKLOADS[args.workload]
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(root, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    pin_env(root, work, bool(args.trace))
    sys.path.insert(0, root)
    sys.path.insert(0, os.path.join(root, "tests"))
    try:
        result, tracer = run(wl, args, root, work)
        tracer.dump(os.path.join(
            out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


def run(wl: dict, args, root: str, work: str):
    from tracing import Tracer, now, read_event_log

    tracer = Tracer()
    traced = bool(args.trace)
    t0 = now()
    import __spark_entry__ as entrymod
    from akka_stream_contrib_spark import get_spark

    t1 = now()
    spark = get_spark("perfbench")
    t2 = now()
    tracer.record("import", t0, t1, None)
    tracer.record("session", t1, t2, None)
    session_s = t2 - t0
    layers: dict[str, float] = {"session.start_s": t2 - t1}
    try:
        if wl["kind"] == "batch":
            e2e, runner = run_batch(wl, args, spark, entrymod, work, tracer, traced,
                                    session_s)
        else:
            e2e, runner, res = run_stream(wl, args, spark, work, tracer, traced,
                                          session_s)
    finally:
        stop_spark(spark)
    if traced and wl["kind"] == "batch":
        # the event log is complete once the session has stopped
        layers.update(runner.layer_metrics(read_event_log(os.path.join(work, "eventlog"))))
    elif traced:
        layers.update(runner.layer_metrics(res["progress"], res["late"]))
    names = END_TO_END if not traced else per_layer_names(entrymod)
    source = e2e if not traced else layers
    metrics = {}
    for name, unit in names.items():
        metrics[name] = {"value": float(source.get(name, 0.0)), "unit": unit}
    return ({"correct": runner.failed == 0, "attempted": runner.attempted,
             "failed": runner.failed,
             "metrics": metrics}, tracer)


def run_batch(wl, args, spark, entrymod, work, tracer, traced, session_s):
    import oracle_check
    from batch import BatchRunner
    from datagen import write_tables

    sf_dir = write_tables(wl["sf"], args.seed, os.path.join(work, "data"))
    runner = BatchRunner(spark, entrymod, wl["queries"], sf_dir, args.seed, tracer, traced)
    setup_s = session_s + runner.warm_and_check(oracle_check)
    # whole passes, stopping at the pass boundary nearest to --seconds; at
    # least two, so the latency percentiles rest on 2 x 25 executions
    walls: list[float] = []
    while len(walls) < 2 or sum(walls) + statistics.mean(walls) / 2 < args.seconds:
        walls.append(runner.run_pass(len(walls) + 1))
    lat = [r.latency_s for r in runner.measured()]
    e2e = {"setup_s": setup_s,
           "ops_per_s": len(runner.names) * len(walls) / sum(walls),
           "latency_p50_s": statistics.median(lat) if lat else 0.0,
           "latency_p90_s": p90(lat) if lat else 0.0}
    return e2e, runner


def run_stream(wl, args, spark, work, tracer, traced, session_s):
    from stream import StreamRunner
    from tracing import now

    runner = StreamRunner(spark, work, wl["params"], args.seed, args.seconds, tracer,
                          traced)
    t0 = now()
    runner.start()
    setup_s = session_s + (now() - t0)
    res = runner.run()
    runner.check()
    e2e = {"setup_s": setup_s,
           "ops_per_s": res["backlog_events"] / res["drain_s"],
           "latency_p50_s": statistics.median(res["latency"]),
           "latency_p90_s": p90(res["latency"])}
    return e2e, runner, res


if __name__ == "__main__":
    sys.exit(main())
