"""`city_cycle`: the paper's whole pipeline on a generated city.

Cold cycle, from an empty warehouse directory (the engine creates
each table on first write):
  static ingest -> protobuf backlog (decode, flatten, bronze append)
  -> first silver refresh -> the ten dashboard KPIs over a cached
  delay fact.
Then steady 5-minute cycles until the run's time is up: one new
protobuf snapshot -> silver refresh -> all KPIs again.

A traced run then also checks that a refresh with no new bronze rows
appends nothing, catches the bronze stream up on a JSON backlog
(availableNow, one file per trigger), times `Warehouse.create_all` on
a fresh warehouse, and repeats the stream catch-up on local[1] as the
single-thread baseline.

Every check compares the engine's output with the generator's own
tally; none of them is timed.
"""

from __future__ import annotations

import os
import time
from collections import Counter

from gen_city import SERVICE_DATE, City, CitySize, Truth, write_snapshots
from harness import Session, Tracer, fresh_dir, median

# A mid-size city network (about a fifth of Nice's): every layer runs
# on real-shaped data while a run stays inside the benchmark's time
# budget on a 4-core host.
SIZE = CitySize(routes=30, stops=800, trips=3000, stops_per_trip=30,
                trips_per_snapshot=120, updates_per_trip=21,
                vehicles_per_snapshot=60)
PB_BACKLOG = 4  # snapshots waiting in protobuf when the warehouse is created
MAX_STEADY = 3  # steady snapshots generated (a run stops earlier)
JSON_BACKLOG = 4  # snapshots the stream catches up on (traced runs)

RT_TABLES = ("trip_updates_raw", "trip_stop_times", "vehicle_positions_raw")
SILVER_OF = {"trip_updates_raw": "trip_updates_silver",
             "trip_stop_times": "trip_stop_times_silver",
             "vehicle_positions_raw": "vehicle_positions_silver",
             "routes_static": "routes_static_silver",
             "trips_static": "trips_static_silver",
             "stops_static": "stops_static_silver",
             "stop_times_static": "stop_times_static_silver"}
KPIS = ("avg_delay_over_time", "punctuality_rate", "most_delayed_lines",
        "top_problem_stops", "delay_heatmap", "delay_distribution",
        "travel_time_actual_vs_scheduled", "live_vehicle_map",
        "stop_service_state", "delay_evolution_per_stop")
STREAM_PROGRESS = ("addBatch", "latestOffset", "queryPlanning", "walCommit")


class CheckFailed(Exception):
    pass


def _expect(what: str, got, want) -> None:
    if got != want:
        raise CheckFailed(f"{what}: engine {got!r} != generator {want!r}")


def _warehouse_class(tracer: Tracer):
    from tp_airflow_gtfs_snowflake_spark.catalog import Warehouse

    class TracedWarehouse(Warehouse):
        """Puts the stream's per-epoch writes in their own span."""

        def append_epoch(self, layer, name, df, epoch_id):
            with tracer.span("catalog.append_epoch"):
                super().append_epoch(layer, name, df, epoch_id)

    return TracedWarehouse


class CityRun:
    def __init__(self, sess: Session, seed: int, trace: bool):
        self.sess = sess
        self.seed = seed
        self.trace = trace
        self.inputs = os.path.join(sess.work, "inputs")
        self.silver_appended = 0

    # ---- set-up ----------------------------------------------------
    def prepare(self, sess: Session) -> None:
        """Generate every input file, then warm the session up."""
        fresh_dir(self.inputs)
        self.city = City(self.seed, SIZE)
        self.truth = Truth()
        self.city.write_static(os.path.join(self.inputs, "static"), self.truth)
        pb_dir = os.path.join(self.inputs, "pb")
        self.backlog_pb = write_snapshots(self.city, 0, PB_BACKLOG, pb_dir,
                                          self.truth, fmt="pb")
        self.steady_pb = write_snapshots(self.city, PB_BACKLOG, MAX_STEADY,
                                         pb_dir, self.truth, fmt="pb")
        self.landing = os.path.join(self.inputs, "landing")
        if self.trace:
            write_snapshots(self.city, PB_BACKLOG + MAX_STEADY, JSON_BACKLOG,
                            self.landing, self.truth, fmt="json")
        sess.spark.range(1000).selectExpr("sum(id)").collect()

    # ---- layer calls -----------------------------------------------
    def land_protobuf(self, files: list[str]) -> None:
        from tp_airflow_gtfs_snowflake_spark.sources.gtfs_rt import (
            flatten_trip_updates, flatten_vehicle_positions, parse_feed_protobuf)
        spark, tr, wh = self.sess.spark, self.tr, self.wh
        raw = spark.read.format("binaryFile").load(files).select("content")
        with tr.span("sources.gtfs_rt.pb_decode"):
            feed = parse_feed_protobuf(spark, raw).localCheckpoint(eager=True)
        headers, stops = flatten_trip_updates(feed)
        vehicles = flatten_vehicle_positions(feed)
        if self.trace:
            with tr.span("sources.gtfs_rt.flatten"):
                for df in (headers, stops, vehicles):
                    df.write.format("noop").mode("overwrite").save()
        with tr.span("catalog.append"):
            wh.append("bronze", "trip_updates_raw", headers)
            wh.append("bronze", "trip_stop_times", stops)
            wh.append("bronze", "vehicle_positions_raw", vehicles)

    def refresh(self, span: str) -> dict[str, int]:
        from tp_airflow_gtfs_snowflake_spark.silver import refresh_silver
        with self.tr.span(span):
            appended = refresh_silver(self.wh)
        self.silver_appended += sum(appended.values())
        return appended

    def kpis(self) -> dict[str, list]:
        from tp_airflow_gtfs_snowflake_spark.plans import kpis as K
        tr, wh = self.tr, self.wh
        with tr.span("plans.kpis.observed_vs_scheduled"):
            delays = K.observed_vs_scheduled(wh, SERVICE_DATE).cache()
            delays.count()
        build = {
            "avg_delay_over_time": lambda: K.avg_delay_over_time(delays),
            "punctuality_rate": lambda: K.punctuality_rate(delays),
            "most_delayed_lines": lambda: K.most_delayed_lines(wh, delays),
            "top_problem_stops": lambda: K.top_problem_stops(wh, delays),
            "delay_heatmap": lambda: K.delay_heatmap(delays),
            "delay_distribution": lambda: K.delay_distribution(delays),
            "travel_time_actual_vs_scheduled":
                lambda: K.travel_time_actual_vs_scheduled(delays),
            "live_vehicle_map": lambda: K.live_vehicle_map(wh),
            "stop_service_state": lambda: K.stop_service_state(wh),
            "delay_evolution_per_stop": lambda: K.delay_evolution_per_stop(delays),
        }
        out = {}
        for name in KPIS:
            with tr.span(f"plans.kpis.{name}"):
                out[name] = build[name]().collect()
        delays.unpersist()
        return out

    # ---- checks ----------------------------------------------------
    def check_cycle(self, appended: dict[str, int], results: dict[str, list],
                    first: int, n_snapshots: int) -> None:
        truth = self.truth
        for bronze in RT_TABLES:
            want = sum(r[bronze] for r in truth.rt_rows[first:first + n_snapshots])
            _expect(f"silver {SILVER_OF[bronze]} appended",
                    appended[SILVER_OF[bronze]], want)
        n, punctual = truth.punctuality(first + n_snapshots)
        row = results["punctuality_rate"][0]
        _expect("punctuality n", row["n"], n)
        if abs(row["punctuality_rate"] - punctual / n) > 1e-12:
            raise CheckFailed(f"punctuality_rate {row['punctuality_rate']!r} "
                              f"!= {punctual}/{n}")
        _expect("live vehicles", len(results["live_vehicle_map"]),
                SIZE.vehicles_per_snapshot)

    def check_cold(self, static_counts: dict[str, int],
                   appended: dict[str, int]) -> None:
        truth = self.truth
        for table, want in truth.static_rows.items():
            _expect(f"bronze {table}", static_counts[table], want)
            _expect(f"silver {SILVER_OF[table]} appended",
                    appended[SILVER_OF[table]], want)
        for table in RT_TABLES:
            _expect(f"bronze {table}", self.wh.table("bronze", table).count(),
                    truth.rt_total(table, PB_BACKLOG))

    def check_idempotent(self) -> None:
        again = self.refresh("check.silver_idempotent")
        _expect("silver refresh with no new bronze", set(again.values()), {0})

    def catch_up(self, wh, checkpoint: str, span: str):
        """Drain the JSON backlog through the bronze stream."""
        from tp_airflow_gtfs_snowflake_spark.streaming.rt_stream import (
            start_bronze_ingest)
        with self.tr.span(span):
            q = start_bronze_ingest(self.sess.spark, self.landing, wh,
                                    fresh_dir(checkpoint), available_now=True,
                                    max_files_per_trigger=1)
            q.awaitTermination()
        return q

    def check_stream(self) -> None:
        """Every landed JSON file is one epoch, none duplicated."""
        for table in RT_TABLES:
            per_epoch = dict(self.wh.table("bronze", table)
                             .where("ingest_epoch IS NOT NULL")
                             .groupBy("ingest_epoch").count().collect())
            _expect(f"bronze {table} stream epochs", sorted(per_epoch),
                    list(range(JSON_BACKLOG)))
            _expect(f"bronze {table} rows per epoch", Counter(per_epoch.values()),
                    Counter(r[table] for r in self.truth.rt_rows[-JSON_BACKLOG:]))

    # ---- the run ---------------------------------------------------
    def run(self, seconds: float) -> dict:
        from tp_airflow_gtfs_snowflake_spark.sources.gtfs_static import ingest_static
        sess = self.sess
        spark = sess.spark
        self.tr = tr = Tracer(spark, self.trace)
        self.wh = _warehouse_class(tr)(spark, fresh_dir(os.path.join(sess.work, "wh")))
        attempted = failed = 0
        errors: list[str] = []

        t0 = time.perf_counter()
        with tr.span("sources.gtfs_static"):
            static_counts = ingest_static(spark, os.path.join(self.inputs, "static"),
                                          self.wh)
        self.land_protobuf(self.backlog_pb)
        appended = self.refresh("silver.refresh_first")
        results = self.kpis()
        cold_s = time.perf_counter() - t0

        attempted += 1
        try:
            self.check_cycle(appended, results, 0, PB_BACKLOG)
            self.check_cold(static_counts, appended)
        except CheckFailed as e:
            failed += 1
            errors.append(f"cold: {e}")

        cycles: list[float] = []
        steady_start = time.perf_counter()
        for k, snapshot in enumerate(self.steady_pb):
            if cycles and time.perf_counter() - steady_start >= seconds:
                break
            t = time.perf_counter()
            self.land_protobuf([snapshot])
            appended = self.refresh("silver.refresh_steady")
            results = self.kpis()
            cycles.append(time.perf_counter() - t)
            attempted += 1
            try:
                self.check_cycle(appended, results, PB_BACKLOG + k, 1)
            except CheckFailed as e:
                failed += 1
                errors.append(f"cycle {k}: {e}")

        res = {
            "cold_s": cold_s, "steady_s": median(cycles),
            "attempted": attempted, "failed": failed, "errors": errors,
            "tracer": tr, "static_rows": sum(self.truth.static_rows.values()),
        }
        if self.trace:
            res["attempted"] += 1
            try:
                self.check_idempotent()
            except CheckFailed as e:
                res["failed"] += 1
                errors.append(f"idempotent: {e}")
            q = self.catch_up(self.wh, os.path.join(sess.work, "checkpoint"),
                              "streaming.rt_stream")
            res["stream_group"] = str(q.runId)
            res["progress"] = [p for p in q.recentProgress if p.get("numInputRows")]
            res["attempted"] += 1
            try:
                self.check_stream()
            except CheckFailed as e:
                res["failed"] += 1
                errors.append(f"stream: {e}")
            with tr.span("catalog.create_all"):
                type(self.wh)(spark, fresh_dir(os.path.join(sess.work, "wh0"))
                              ).create_all()
        res["silver_appended"] = self.silver_appended
        return res

    def single_thread_batch_s(self) -> float:
        """The same JSON catch-up on local[1] in a fresh warehouse: the
        stream's single-thread baseline (median batch seconds)."""
        from tp_airflow_gtfs_snowflake_spark.catalog import Warehouse
        from tp_airflow_gtfs_snowflake_spark.streaming.rt_stream import (
            batch_durations)
        cpus = os.environ["SPARK_GRAFT_CPUS"]
        os.environ["SPARK_GRAFT_CPUS"] = "1"
        try:
            self.sess.start()
        finally:
            os.environ["SPARK_GRAFT_CPUS"] = cpus
        self.tr = Tracer(self.sess.spark, False)
        wh = Warehouse(self.sess.spark, fresh_dir(os.path.join(self.sess.work, "wh1")))
        q = self.catch_up(wh, os.path.join(self.sess.work, "checkpoint1"),
                          "streaming.local1")
        return median(batch_durations(q))


def layer_metrics(res: dict, counters: dict[str, dict]) -> dict[str, float]:
    """Per-layer numbers for a traced city_cycle run."""
    tr: Tracer = res["tracer"]
    w = tr.wall
    prog = res["progress"]
    out: dict[str, float] = {
        "catalog.create_all_s": w["catalog.create_all"],
        "catalog.append_s": w["catalog.append"],
        "catalog.append_epoch_s": w["catalog.append_epoch"],
        "sources.gtfs_static.ingest_s": w["sources.gtfs_static"],
        "sources.gtfs_static.rows_per_s":
            res["static_rows"] / w["sources.gtfs_static"],
        "sources.gtfs_rt.pb_decode_s": w["sources.gtfs_rt.pb_decode"],
        "sources.gtfs_rt.flatten_s": w["sources.gtfs_rt.flatten"],
        "silver.refresh_first_s": w["silver.refresh_first"],
        "silver.refresh_steady_s":
            w["silver.refresh_steady"] / max(1, tr.calls["silver.refresh_steady"]),
        "streaming.rt_stream.batch_p50_s": median(
            [p["durationMs"]["triggerExecution"] / 1000.0 for p in prog]),
        "streaming.rt_stream.snapshots_per_s":
            len(prog) / w["streaming.rt_stream"],
    }
    for key in STREAM_PROGRESS:
        out[f"streaming.rt_stream.{key}_ms"] = median(
            [p["durationMs"].get(key, 0) for p in prog])
    n_kpi_calls = max(1, tr.calls["plans.kpis.punctuality_rate"])
    for name in ("observed_vs_scheduled",) + KPIS:
        out[f"plans.kpis.{name}_s"] = w[f"plans.kpis.{name}"] / n_kpi_calls
    out["silver.rows_scanned_per_row_appended"] = (
        counters["silver"]["records_in"] / res["silver_appended"])
    return out
