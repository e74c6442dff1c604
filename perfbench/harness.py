"""Session lifecycle, set-up timing, tracing spans and event-log
counters shared by the workloads.

Tracing is done from outside the engine: every layer call the
benchmark makes runs inside `Tracer.span(name)`, which puts the call's
Spark jobs in their own job group.  With tracing on, the Spark event
log is written uncompressed into the run's work directory and parsed
after the session stops; each job is charged to the innermost span
whose group it carries.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import shutil
import statistics
import subprocess
import time
from collections import defaultdict
from dataclasses import dataclass, field

_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description",
                "spark.job.interruptOnCancel")


def cores() -> int:
    return len(os.sched_getaffinity(0))


def median(xs: list[float]) -> float:
    return statistics.median(xs)


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _children(pid: int) -> list[int]:
    out = []
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        if ppid == pid:
            out.append(int(stat.split("/")[2]))
    return out


@dataclass
class Session:
    """Owns the SparkSession and the JVM behind it for one run."""
    work: str
    app: str
    trace: bool
    spark: object = None
    setup_times: list[float] = field(default_factory=list)
    _gateway_proc: object = None

    def conf(self) -> dict[str, str]:
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "spark-warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')} -XX:-UsePerfData",
        }
        if self.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(self.work, "events"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        return conf

    def start(self) -> None:
        """(Re)start the SparkSession through the engine's own factory.
        The first start launches the JVM; later ones reuse it and pay
        only SparkContext set-up."""
        from pyspark import SparkContext

        from tp_airflow_gtfs_snowflake_spark.session import get_spark
        if self.spark is not None:
            self.spark.stop()
        for d in ("tmp", "events"):
            os.makedirs(os.path.join(self.work, d), exist_ok=True)
        self.spark = get_spark(self.app, self.conf())
        self.spark.sparkContext.setLogLevel("ERROR")
        if self._gateway_proc is None:
            self._gateway_proc = SparkContext._gateway.proc

    def timed_setup(self, reps: int, prepare) -> None:
        """Set up `reps` times: fresh session, then `prepare(session)`
        (input generation and warm-up); the times go to setup_times."""
        for _ in range(reps):
            t0 = time.perf_counter()
            self.start()
            prepare(self)
            self.setup_times.append(time.perf_counter() - t0)

    def job_floor_s(self, n: int = 5) -> float:
        """Median wall time of a one-task job: the scheduler floor
        every Spark action pays at this size."""
        sc = self.spark.sparkContext
        times = []
        for _ in range(n):
            t0 = time.perf_counter()
            sc.parallelize([1], 1).count()
            times.append(time.perf_counter() - t0)
        return median(times)

    def peak_rss_mb(self) -> float:
        jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        return _vm_hwm_mb(jvm_pid) + _vm_hwm_mb("self")

    def stop(self) -> None:
        """Stop Spark, end the JVM and wait for it and its Python
        workers to exit."""
        proc = self._gateway_proc
        jvm_kids = _children(proc.pid) if proc is not None else []
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        if proc is not None:
            from pyspark import SparkContext
            with contextlib.suppress(Exception):
                SparkContext._gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
            with contextlib.suppress(OSError):
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
            deadline = time.time() + 30
            for kid in jvm_kids:
                while os.path.exists(f"/proc/{kid}") and time.time() < deadline:
                    time.sleep(0.05)
            self._gateway_proc = None


class Tracer:
    """Spans around layer calls.  Always records wall time; with
    tracing on, also tags the call's Spark jobs with the span's name
    so the event log can be split by layer."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.wall: dict[str, float] = defaultdict(float)
        self.calls: dict[str, int] = defaultdict(int)

    @contextlib.contextmanager
    def span(self, name: str):
        sc = self.spark.sparkContext
        if self.enabled:
            # restore whatever group the calling thread had (a stream's
            # own group when called from inside foreachBatch)
            prev = [sc.getLocalProperty(k) for k in _GROUP_PROPS]
            sc.setJobGroup(name, name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.wall[name] += time.perf_counter() - t0
            self.calls[name] += 1
            if self.enabled:
                for k, v in zip(_GROUP_PROPS, prev):
                    sc.setLocalProperty(k, v)


def layer_counters(log_path: str, groups: dict[str, list[str]],
                   wall: dict[str, float], n_cores: int) -> dict[str, dict]:
    """Parse a Spark event log; for every layer in `groups` (layer ->
    job-group names charged to it) return jobs, stages, tasks, shuffle
    write and disk spill, GC time, task skew, utilization and the input
    records read by its tasks."""
    job_group: dict[int, str] = {}
    stage_job: dict[int, int] = {}
    stage_tasks: dict[int, list[float]] = defaultdict(list)
    stage_done: set[int] = set()
    stats: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    with open(log_path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                job = ev["Job ID"]
                props = ev.get("Properties") or {}
                job_group[job] = props.get("spark.jobGroup.id") or ""
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, job)
            elif kind == "SparkListenerStageCompleted":
                stage_done.add(ev["Stage Info"]["Stage ID"])
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                m = ev.get("Task Metrics") or {}
                run_ms = float(m.get("Executor Run Time", 0))
                stage_tasks[sid].append(run_ms)
                s = stats[sid]
                s["run_ms"] += run_ms
                s["gc_ms"] += m.get("JVM GC Time", 0)
                s["shuffle_w"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
                s["spill"] += m.get("Disk Bytes Spilled", 0)
                s["records_in"] += (m.get("Input Metrics") or {}).get(
                    "Records Read", 0)
    out = {}
    for layer, names in groups.items():
        names = set(names)
        jobs = {j for j, g in job_group.items() if g in names}
        stages = [s for s, j in stage_job.items() if j in jobs and s in stage_done]
        agg = defaultdict(float)
        skew = 1.0
        for s in stages:
            for k, v in stats[s].items():
                agg[k] += v
            t = stage_tasks[s]
            if len(t) >= 2 and statistics.median(t) > 0:
                skew = max(skew, max(t) / statistics.median(t))
        span = sum(wall.get(n, 0.0) for n in names)
        out[layer] = {
            "jobs": len(jobs),
            "stages": len(stages),
            "tasks": sum(len(stage_tasks[s]) for s in stages),
            "shuffle_write_mb": agg["shuffle_w"] / 1e6,
            "spill_mb": agg["spill"] / 1e6,
            "gc_ms": agg["gc_ms"],
            "task_skew": skew,
            "utilization": (agg["run_ms"] / 1000.0) / (span * n_cores) if span else 0.0,
            "records_in": agg["records_in"],
        }
    return out


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path
