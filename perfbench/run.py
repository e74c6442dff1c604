"""Benchmark entry point.

    python3 perfbench/run.py --workload {city_cycle,registry_mix}
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout.  The benchmark pins its own
environment (cores, driver memory, PYTHONPATH, scratch directories
inside the checkout), generates its inputs from the seed, sets up
three times, measures for about S seconds, checks every output, and
prints one JSON object as the last line of stdout.  With --trace 0
that object holds the end-to-end metrics; with --trace 1 it holds the
per-layer metrics, read from the Spark event log and preceded by a
human-readable per-layer table.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "tp_airflow_gtfs_snowflake_spark"
SETUP_REPS = 3

END_TO_END = {"setup_s": "s", "cold_s": "s", "steady_s": "s", "peak_rss_mb": "MB"}

LAYERS = ("catalog.create_all", "catalog.append", "catalog.append_epoch",
          "sources.gtfs_static", "sources.gtfs_rt", "streaming.rt_stream",
          "silver", "plans.kpis", "registry")
COUNTER_UNITS = {"jobs": "count", "stages": "count", "tasks": "count",
                 "shuffle_write_mb": "MB", "spill_mb": "MB", "gc_ms": "ms",
                 "task_skew": "ratio", "utilization": "ratio"}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name with its unit (BENCHMARK.json's
    per_layer list is this, in this order)."""
    from city import KPIS, STREAM_PROGRESS
    from registry import QUERIES
    units = {"session.job_floor_s": "s", "trace.cold_s": "s", "trace.steady_s": "s"}
    units.update({
        "catalog.create_all_s": "s", "catalog.append_s": "s",
        "catalog.append_epoch_s": "s", "sources.gtfs_static.ingest_s": "s",
        "sources.gtfs_static.rows_per_s": "1/s",
        "sources.gtfs_rt.pb_decode_s": "s", "sources.gtfs_rt.flatten_s": "s",
        "streaming.rt_stream.batch_p50_s": "s",
        "streaming.rt_stream.snapshots_per_s": "1/s",
        "streaming.rt_stream.local1_batch_p50_s": "s",
        "silver.refresh_first_s": "s", "silver.refresh_steady_s": "s",
        "silver.rows_scanned_per_row_appended": "ratio",
    })
    units.update({f"streaming.rt_stream.{k}_ms": "ms" for k in STREAM_PROGRESS})
    units.update({f"plans.kpis.{k}_s": "s"
                  for k in ("observed_vs_scheduled",) + KPIS})
    for q in QUERIES:
        units[f"registry.{q}_s"] = "s"
        units[f"registry.{q}.jobs"] = "count"
    units.update({"registry.relational_s": "s", "registry.similarity_s": "s"})
    for layer in LAYERS:
        units.update({f"{layer}.{c}": u for c, u in COUNTER_UNITS.items()})
    return units


def pin_environment(work: str) -> None:
    """Pin cores, memory, import path and scratch space for this host
    in the benchmark, leaving the engine's defaults alone."""
    from harness import cores
    with open("/proc/meminfo") as f:
        mem_mb = int(f.readline().split()[1]) // 1024
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    os.environ["SPARK_DRIVER_MEMORY"] = f"{min(2048, mem_mb // 4)}m"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # the JVM spark-submit starts first to build the driver's command
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}")
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    sys.path.insert(0, ROOT)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=("city_cycle", "registry_mix"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    trace = bool(args.trace)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"error: no {PACKAGE}/ package next to {HERE}; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    pin_environment(work)

    t0 = time.perf_counter()
    import pyspark  # noqa: F401

    import city
    import harness
    import registry
    import_s = time.perf_counter() - t0

    sess = harness.Session(work, f"perfbench-{args.workload}", trace)
    runner = (city.CityRun if args.workload == "city_cycle"
              else registry.RegistryRun)(sess, args.seed, trace)
    try:
        try:
            sess.timed_setup(SETUP_REPS, runner.prepare)
            floor_s = sess.job_floor_s()
            res = runner.run(args.seconds)
            rss_mb = sess.peak_rss_mb()
            app_id = sess.spark.sparkContext.applicationId
            local1_s = (runner.single_thread_batch_s()
                        if trace and args.workload == "city_cycle" else 0.0)
        finally:
            sess.stop()
        e2e = {"setup_s": import_s + harness.median(sess.setup_times),
               "cold_s": res["cold_s"], "steady_s": res["steady_s"],
               "peak_rss_mb": rss_mb}
        if trace:
            values = traced_metrics(args.workload, res, sess, app_id, floor_s,
                                    local1_s)
            metrics = {k: {"value": float(values.get(k, 0.0)), "unit": u}
                       for k, u in per_layer_units().items()}
        else:
            metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may still use it
            os.rmdir(os.path.dirname(work))

    for err in res["errors"]:
        print(f"CHECK FAILED: {err}", file=sys.stderr)
    print(f"{args.workload} seed={args.seed} cores={harness.cores()} "
          f"job_floor_s={floor_s:.4f} setup_reps={sess.setup_times} "
          + " ".join(f"{k}={v:.4f}" for k, v in e2e.items()), file=sys.stderr)
    if trace:
        print_table(metrics)
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


def traced_metrics(workload: str, res: dict, sess, app_id: str,
                   floor_s: float, local1_s: float) -> dict[str, float]:
    import city
    import harness
    import registry
    tr = res["tracer"]
    log = os.path.join(sess.work, "events", app_id)
    values = {"session.job_floor_s": floor_s, "trace.cold_s": res["cold_s"],
              "trace.steady_s": res["steady_s"]}
    spans = list(tr.wall)
    if workload == "city_cycle":
        groups = {layer: [s for s in spans if s == layer or s.startswith(layer + ".")]
                  for layer in LAYERS if layer != "registry"}
        groups["streaming.rt_stream"].append(res["stream_group"])
        counters = harness.layer_counters(log, groups, tr.wall, harness.cores())
        values.update(city.layer_metrics(res, counters))
        values["streaming.rt_stream.local1_batch_p50_s"] = local1_s
    else:
        groups = {"registry": [f"registry.{q}" for q in registry.QUERIES]}
        groups.update({q: [f"registry.{q}"] for q in registry.QUERIES})
        counters = harness.layer_counters(log, groups, tr.wall, harness.cores())
        passes = tr.calls[f"registry.{registry.QUERIES[0]}"]
        values.update(registry.layer_metrics(
            res, {q: counters[q]["jobs"] / passes for q in registry.QUERIES}))
    for layer in LAYERS:
        for c in COUNTER_UNITS:
            if layer in counters:
                values[f"{layer}.{c}"] = counters[layer][c]
    return values


def print_table(metrics: dict) -> None:
    print(f"{'per-layer metric':<58} {'value':>14}  unit")
    for k, m in metrics.items():
        print(f"{k:<58} {m['value']:>14.4f}  {m['unit']}")


if __name__ == "__main__":
    sys.exit(main())
