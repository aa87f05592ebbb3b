"""Benchmark of the pages → concept-hierarchy engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. One process, one Spark session at
``local[<host cores>]``, one client in a closed loop. The workload's
inputs come from ``--seed``; its outputs are checked after the timed
region. Every line before the last is the run's record (host, sizes,
named metrics, checks); the last line is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (``--trace 0``) or, from a run with Spark's
event log on, the per-layer metrics (``--trace 1``). See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "concept_hierarchy_formation_in_property_graphs_spark"

END_TO_END = {"setup_s": "s", "op_s": "s", "tail_s": "s"}


def host_info() -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f
                      if line.startswith("MemTotal:"))
    cores = len(os.sched_getaffinity(0))
    ram_gib = mem_kb / 2**20
    return {
        "host_cores": cores,
        "cpus": cores,
        "ram_gib": round(ram_gib, 2),
        # a quarter of host RAM, so the driver heap fits beside the Python
        # workers on any host
        "heap_gib": max(1, min(16, int(ram_gib // 4))),
        "load1_pre": os.getloadavg()[0],
    }


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        kb = next(int(line.split()[1]) for line in f
                  if line.startswith("VmHWM:"))
    return kb / 1024


def yardstick(spark) -> float:
    """Median time of a fixed pure-JVM job: no Python, disk or shuffle.
    Pre and post values far apart flag a window with other load."""
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(200_000_000).selectExpr("sum(id)").collect()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def spark_conf(work: str, heap_gib: int, trace: bool) -> dict[str, str]:
    conf = {
        "spark.driver.memory": f"{heap_gib}g",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.path.join(work, "local"),
        # no hsperfdata file in /tmp: the run writes only inside the checkout
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(work, "eventlog"),
            # the default codec is zstd, which this Python cannot read
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    # the gateway JVM exits when its stdin closes
    gateway.proc.stdin.close()
    try:
        gateway.proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()


def result_line(correct: bool, attempted: int, failed: int,
                metrics: dict[str, float], units: dict[str, str]) -> str:
    return json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": metrics.get(n, 0.0), "unit": u}
                    for n, u in units.items()},
    })


def main(argv: list[str] | None = None) -> int:
    sys.path.insert(0, ROOT)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"no {PACKAGE} package under {ROOT}", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = os.path.join(ROOT, ".bench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    for sub in ("tmp", "local", "warehouse", "eventlog"):
        os.makedirs(os.path.join(work, sub))
    # Python workers import the package from this checkout and keep their
    # temporary files inside it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = " ".join(
        p for p in (os.environ.get("SPARK_LAUNCHER_OPTS"), "-XX:-UsePerfData") if p)
    try:
        return run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it


def run(args, work: str) -> int:
    from concept_hierarchy_formation_in_property_graphs_spark.session import (
        get_spark,
    )

    import tracing
    from workloads import WORKLOADS, QuerySweep

    host = host_info()
    cpus = host["cpus"]
    t_setup = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}", cpus=cpus,
                      extra_conf=spark_conf(work, host["heap_gib"], args.trace))
    try:
        spark.sparkContext.setLogLevel("ERROR")
        layer = {"session.start_s": time.perf_counter() - t_setup}
        w = WORKLOADS[args.workload](spark, work, args.seed, cpus)
        w.setup()
        setup_s = time.perf_counter() - t_setup
        host["yardstick_pre_s"] = yardstick(spark)

        # start the timed region with the set-up's garbage collected
        spark._jvm.System.gc()
        tracer = tracing.Tracer(spark.sparkContext if args.trace else None)
        w.run(args.seconds, tracer)
        jvm_pid = spark.sparkContext._gateway.proc.pid
        layer["session.peak_rss_mb"] = vm_hwm_mb(jvm_pid) + vm_hwm_mb("self")

        checks = w.check()
        sweep = None
        if args.trace and w.query_sweep:
            sweep = QuerySweep(spark, work, args.seed, cpus)
            sweep_tracer = tracing.Tracer(spark.sparkContext)
            layer["queries.cold_sweep_s"] = sweep.run(sweep_tracer)
            checks.update(sweep.check())
        host["yardstick_post_s"] = yardstick(spark)
        host["load1_post"] = os.getloadavg()[0]
    finally:
        stop_session(spark)

    e2e = {"setup_s": setup_s, **w.end_to_end()}
    layer.update(w.layer)
    failed = sum(1 for ok in checks.values() if not ok)
    attempted = w.ops + len(checks) + (len(tracing.QUERIES) if sweep else 0)
    record = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "loop": "closed, 1 client", "rounds": w.rounds, "host": host,
        w.op_name: e2e["op_s"], w.tail_name: e2e["tail_s"],
        "ops_failed_share": failed / attempted,
        "op_times_s": w.op_times, "tail_times_s": w.tail_times,
        "layer": layer, "sizes": w.info, "checks": checks,
    }
    if sweep:
        record.update(query_mix_s=sweep.warm_s, query_scale=sweep.SCALE)
    if args.trace:
        groups = tracing.read_event_log(os.path.join(work, "eventlog"))
        metrics = tracing.layer_metrics(groups, tracer.spans, cpus, w.rounds)
        if sweep:
            metrics.update(tracing.query_metrics(groups, sweep_tracer.spans))
        metrics.update(layer)
        metrics["plans.checkpoint.span_share"] = tracing.stage_span_share(
            tracer.spans, "op:pipeline")
        metrics["run.op_s"] = e2e["op_s"]
        units = tracing.per_layer_units()
    else:
        metrics, units = e2e, END_TO_END
    print("record " + json.dumps(record, default=str))
    print(result_line(failed == 0, attempted, failed, metrics, units))
    return 0


if __name__ == "__main__":
    sys.exit(main())
