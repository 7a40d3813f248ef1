#!/usr/bin/env python3
"""Benchmark entry point (see README.md in this directory).

    python3 perfbench/run.py --workload {query_mix,etl_full,stream_ingest} \\
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. Inputs, Spark scratch space, logs and
the span dump all go under ``perfbench/.work``. The last line of
standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``). The line before it is a
record of the run: inputs, host context, set-up trials, pass walls and
the end-to-end metrics under their per-workload names.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

import workloads
from cpu import CpuMeter
from spans import STREAM_PHASES, Tracer, stream_listener

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
SETUP_TRIALS = 5
NPROC = len(os.sched_getaffinity(0))
# Spark's task slots. Half the cores leaves room for the JVM's JIT and
# GC threads and the Python driver, so that the engine's threads do not
# queue for cores behind each other.
SPARK_CPUS = max(1, NPROC // 2)
DRIVER_MEM = "2g"

END_TO_END = {
    "setup_s": "s",
    "op_cpu_s": "s",
}

PER_LAYER = {
    "session.get_spark_s": "s",
    "sources.load_table_s": "s",
    "sources.load_table_jobs": "count",
    "registry.build_s": "s",
    "registry.build_jobs": "count",
    "spark.plan_s": "s",
    "spark.execute_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_cpu_s": "s",
    "spark.executor_run_s": "s",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.task_skew": "ratio",
    "spark.peak_rss_mb": "MB",
    "spark.jit_cpu_s": "s",
    "plans.bronze_s": "s",
    "operators.to_silver_s": "s",
    "operators.dedup_and_propagate_s": "s",
    "operators.with_frequency_rank_s": "s",
    "enrich.with_coordinates_s": "s",
    "enrich.with_side_of_town_s": "s",
    "enrich.weather_s": "s",
    "sinks.write_csv_s": "s",
    "operators.dedup_kept_ratio": "ratio",
    "streaming.start_overhead_s": "s",
    "streaming.latest_offset_s": "s",
    "streaming.query_planning_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.wal_commit_s": "s",
    "sinks.gold_files": "count",
    "sinks.gold_mb": "MB",
    "operators.redelivered_dropped_ratio": "ratio",
    "host.canary_s": "s",
    "host.loadavg": "load",
    "trace.overhead_ratio": "ratio",
}

# spans whose self time is Spark executing the operation's work
EXECUTE_SPANS = ("spark.execute", "cli.export", "streaming.ingest")
COUNTERS = (
    "jobs", "stages", "tasks", "executor_cpu_s", "executor_run_s",
    "shuffle_read_mb", "shuffle_write_mb", "spill_mb",
)

# per-workload names of the wall-clock figures in the run record
NAMED = {
    "etl_full": {"op_p50_s": "etl_wall_s"},
    "query_mix": {"op_p50_s": "query_p50_s", "pass_s": "mix_wall_s"},
    "stream_ingest": {"op_p50_s": "arrival_p50_s"},
}
TAIL_NAME = {"query_mix": "query_tail_s", "stream_ingest": "arrival_tail_s"}


def configure_env() -> None:
    """Point everything the run writes at the work directory and make
    the package importable here and in Spark's Python workers."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = os.environ
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env["SPARK_GRAFT_CPUS"] = str(SPARK_CPUS)
    env["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    env["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # spark-submit's launcher JVM would leave a perf-data file in /tmp
    env["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    env["TMPDIR"] = tmp
    env["LOG_FILE"] = os.path.join(WORK, "app.log")
    env["LOG_LEVEL"] = "WARNING"
    sys.path.insert(1, ROOT)
    os.chdir(WORK)


def start_session():
    from enriched_crime_incident_data_pipeline_spark import get_spark

    return get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            # no perf-data file in /tmp, and a fixed set of JIT compiler
            # threads, so that cpu.CpuMeter can tell compilation apart
            # from work
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} -Dderby.system.home={WORK}"
                " -XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads"
            ),
        },
    )


def shutdown(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing from /proc status")


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def tail(samples: list[float]) -> tuple[float, float]:
    """(value, percentile) at the highest percentile that still has at
    least ten samples beyond it. Below 21 samples that percentile is at
    or under the median, so the slowest sample is reported instead."""
    xs = sorted(samples)
    n = len(xs)
    k = n - 11 if n >= 21 else n - 1
    return xs[k], round(100.0 * (k + 1) / n, 1)


def canary(spark) -> float:
    from enriched_crime_incident_data_pipeline_spark import registry

    data, _ = workloads.mix_tables(WORK)
    query = registry.spark_queries()[workloads.CANARY]
    t0 = time.perf_counter()
    workloads.noop(query(spark, data))
    spark.catalog.clearCache()
    return time.perf_counter() - t0


def layer_metrics(tracer: Tracer, last_op: int) -> dict[str, float]:
    """Per-layer totals per traced operation, from the spans of ops
    ``1..last_op``."""
    spans = [s for s in tracer.spans if 0 < s.op <= last_op]
    n = len({s.op for s in spans}) or 1
    out: dict[str, float] = {}

    def total(name: str, value) -> float:
        return sum(value(s) for s in spans if s.name == name) / n

    out["sources.load_table_s"] = total("sources.load_table", lambda s: s.duration)
    out["sources.load_table_jobs"] = total("sources.load_table", lambda s: s.counters["jobs"])
    out["registry.build_s"] = total("registry.build", tracer.self_time)
    out["registry.build_jobs"] = total("registry.build", lambda s: s.counters["jobs"])
    out["spark.plan_s"] = total("spark.plan", lambda s: s.duration)
    out["spark.execute_s"] = sum(total(name, tracer.self_time) for name in EXECUTE_SPANS)
    for c in COUNTERS:
        out[f"spark.{c}"] = sum(s.counters[c] for s in spans) / n
    for name in STREAM_PHASES.values():
        out[name] = sum(s.counters.get(name, 0.0) for s in spans) / n
    out["streaming.start_overhead_s"] = total(
        "streaming.ingest", lambda s: s.duration - s.counters.get("trigger_s", 0.0)
    )
    skew: dict[int, float] = {}
    for s in spans:
        skew[s.op] = max(skew.get(s.op, 0.0), s.counters["task_skew"])
    out["spark.task_skew"] = statistics.median(skew.values()) if skew else 0.0
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["query_mix", "etl_full", "stream_ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    configure_env()
    import enriched_crime_incident_data_pipeline_spark  # noqa: F401  fails outside a checkout
    from enriched_crime_incident_data_pipeline_spark.sources import load_table

    load_start = os.getloadavg()
    phases = {}
    t_phase = time.perf_counter()

    def phase(name: str) -> None:
        nonlocal t_phase
        now = time.perf_counter()
        phases[name] = round(now - t_phase, 3)
        t_phase = now

    w = workloads.WORKLOADS[args.workload](args.seed, WORK)
    inputs = w.prepare()
    workloads.mix_tables(WORK)
    phase("prepare")

    # set-up: session start plus the first catalog read of the input,
    # several times; the first trial also launches the JVM
    setup, get_spark_s = [], []
    spark = None
    for _ in range(SETUP_TRIALS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = start_session()
        t1 = time.perf_counter()
        load_table(spark, w.data, w.setup_table).count()
        setup.append(time.perf_counter() - t0)
        get_spark_s.append(t1 - t0)
    phase("setup")
    w.meter = CpuMeter(spark._jvm.java.lang.ProcessHandle.current().pid())
    w.warm_up(spark)
    canary(spark)
    canary_before = canary(spark)
    phase("warm_up")

    # measure complete passes until --seconds have elapsed; a traced
    # run alternates traced and untraced passes, at least one of each
    tracer = Tracer(spark, stream_listener(spark)) if args.trace else None
    ops, plain_ops, traced_s, plain_s, plain_cpu = [], [], [], [], []
    steal_start = steal_s()
    t_start = time.perf_counter()
    i = 0
    while True:
        traced = bool(args.trace) and i % 2 == 0
        got = w.run_pass(spark, tracer if traced else None)
        ops.extend(got)
        # a pass's wall is its operations' time, without the checks
        dt = sum(o.wall for o in got)
        (traced_s if traced else plain_s).append(dt)
        if not traced:
            plain_ops.extend(got)
            plain_cpu.append(sum(o.cpu for o in got))
        i += 1
        if time.perf_counter() - t_start >= args.seconds and (not args.trace or i >= 2):
            break
    steal_measured = steal_s() - steal_start
    phase("measure")
    w.finish(spark, ops)

    layers: dict[str, float] = {}
    if tracer is not None:
        last_op = tracer.op
        tracer.next_op()  # spans of the extras belong to no measured op
        layers = {name: 0.0 for name in PER_LAYER}
        layers.update(layer_metrics(tracer, last_op))
        layers.update(w.traced_extras(spark, tracer))
        with open(os.path.join(WORK, f"spans_{args.workload}_{args.seed}.json"), "w") as f:
            json.dump(tracer.dump(), f)
    canary_after = canary(spark)
    peak_rss = jvm_peak_rss_mb(spark)
    shutdown(spark)
    phase("finish")

    # end-to-end numbers come from untraced passes only
    walls = [o.wall for o in plain_ops]
    failed = sum(not o.ok for o in ops)
    tail_value, tail_pct = tail(walls)
    e2e = {
        "setup_s": statistics.median(setup),
        "op_cpu_s": sum(plain_cpu) / len(plain_ops),
    }
    # wall-clock latencies are recorded under their per-workload names
    # but not gated: on a shared host they move with the other tenants'
    # load by more than the largest bound a metric may have
    wall = {"op_p50_s": statistics.median(walls), "pass_s": statistics.median(plain_s)}
    named = {NAMED[args.workload].get(k, k): {"value": v, "unit": "s"} for k, v in wall.items()}
    named.update({k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()})
    rows_per_pass = sum(o.rows for o in plain_ops) / len(plain_s)
    if args.workload == "etl_full":
        named["etl_rows_per_s"] = {"value": rows_per_pass / wall["pass_s"], "unit": "1/s"}
    if args.workload == "stream_ingest":
        named["ingest_rows_per_s"] = {"value": rows_per_pass / wall["pass_s"], "unit": "1/s"}
    # a run has too few operations for a percentile with ten samples
    # beyond it, so the tail is recorded (with its percentile and the
    # sample count) but not gated
    named[TAIL_NAME.get(args.workload, "op_tail_s")] = {"value": tail_value, "unit": "s"}
    named["failed_ratio"] = {"value": failed / len(ops), "unit": "ratio"}
    # JVM VmHWM; it does not repeat within a tenth across runs, so it
    # is a per-layer metric, not an end-to-end one
    named["peak_rss_mb"] = {"value": peak_rss, "unit": "MB"}
    by_op: dict[str, list[float]] = {}
    by_op_cpu: dict[str, list[float]] = {}
    for o in plain_ops:
        by_op.setdefault(o.name, []).append(o.wall)
        by_op_cpu.setdefault(o.name, []).append(o.cpu)
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "inputs": inputs,
        "host": {
            "nproc": NPROC,
            "SPARK_GRAFT_CPUS": int(os.environ["SPARK_GRAFT_CPUS"]),
            "loadavg_start": [round(x, 2) for x in load_start],
            "loadavg_end": [round(x, 2) for x in os.getloadavg()],
            "canary": workloads.CANARY,
            "canary_before_s": round(canary_before, 4),
            "canary_after_s": round(canary_after, 4),
            "steal_s_while_measuring": round(steal_measured, 2),
        },
        "setup_trials_s": [round(x, 4) for x in setup],
        "get_spark_s": [round(x, 4) for x in get_spark_s],
        "pass_walls_s": [round(x, 4) for x in traced_s + plain_s],
        "pass_cpu_s": [round(x, 4) for x in plain_cpu],
        "jit_cpu_s": round(sum(o.jit for o in ops), 3),
        "phases_s": phases,
        "samples": len(walls),
        "tail_percentile": tail_pct,
        "op_median_s": {k: round(statistics.median(v), 4) for k, v in by_op.items()},
        "op_cpu_median_s": {k: round(statistics.median(v), 4) for k, v in by_op_cpu.items()},
        "metrics": named,
    }
    if tracer is not None:
        layers["session.get_spark_s"] = statistics.median(get_spark_s)
        layers["spark.peak_rss_mb"] = peak_rss
        layers["spark.jit_cpu_s"] = sum(o.jit for o in ops) / len(ops)
        layers["host.canary_s"] = statistics.median([canary_before, canary_after])
        layers["host.loadavg"] = load_start[0]
        layers["trace.overhead_ratio"] = statistics.median(traced_s) / statistics.median(plain_s)
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"record": record}))
    print(
        json.dumps(
            {"correct": failed == 0, "attempted": len(ops), "failed": failed, "metrics": metrics}
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
