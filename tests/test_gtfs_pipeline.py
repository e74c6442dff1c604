"""End-to-end GTFS pipeline: static CSV ingest -> bronze, RT flatten ->
bronze, incremental silver refresh — semantics mirrored from the
reference DAGs (cites in module docstrings)."""

from __future__ import annotations

import os

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from tp_airflow_gtfs_snowflake_spark import schemas
from tp_airflow_gtfs_snowflake_spark.catalog import Warehouse
from tp_airflow_gtfs_snowflake_spark.session import run_concurrently
from tp_airflow_gtfs_snowflake_spark.silver import refresh_silver
from tp_airflow_gtfs_snowflake_spark.sources.gtfs_rt import (
    flatten_trip_updates, flatten_vehicle_positions, parse_feed_json,
)
from tp_airflow_gtfs_snowflake_spark.sources.gtfs_static import ingest_static
from tests import fixtures_gtfs


@pytest.fixture(scope="module")
def gtfs_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("gtfs_static")
    fixtures_gtfs.write_static_csvs(str(d))
    return str(d)


@pytest.fixture(scope="module")
def wh(spark, tmp_path_factory, gtfs_dir):
    root = str(tmp_path_factory.mktemp("warehouse"))
    wh = Warehouse(spark, root)
    wh.create_all()
    ingest_static(spark, gtfs_dir, wh)
    _land_rt(spark, wh)
    return wh


def _land_rt(spark, wh):
    feed = parse_feed_json(
        spark.createDataFrame([(s,) for s in fixtures_gtfs.make_feed_snapshots()],
                              "feed_json string"))
    headers, stops = flatten_trip_updates(feed)
    wh.append("bronze", "trip_updates_raw", headers)
    wh.append("bronze", "trip_stop_times", stops)
    wh.append("bronze", "vehicle_positions_raw", flatten_vehicle_positions(feed))


STATIC_COUNTS = {
    "routes_static": fixtures_gtfs.N_ROUTES,
    "trips_static": fixtures_gtfs.N_TRIPS,
    "stops_static": fixtures_gtfs.N_STOPS,
    "stop_times_static": fixtures_gtfs.N_TRIPS * fixtures_gtfs.STOPS_PER_TRIP,
}


def _last_execution_id(spark) -> int:
    """Id of the latest Spark SQL execution (-1 before the first).  Ids
    count executions one by one; the status store keeps only the
    latest spark.sql.ui.retainedExecutions of them, so its
    executionsCount() stops growing in a long-lived session."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    n = store.executionsCount()
    return store.executionsList(n - 1, 1).apply(0).executionId() if n else -1


def _sql_executions(spark, action):
    """(action's result, Spark SQL executions it started)."""
    before = _last_execution_id(spark)
    out = action()
    return out, _last_execution_id(spark) - before


def _files_under(root):
    return {os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs}


def test_static_ingest_counts(wh):
    assert wh.table("bronze", "routes_static").count() == fixtures_gtfs.N_ROUTES
    assert wh.table("bronze", "trips_static").count() == fixtures_gtfs.N_TRIPS
    st = wh.table("bronze", "stop_times_static")
    assert st.count() == fixtures_gtfs.N_TRIPS * fixtures_gtfs.STOPS_PER_TRIP
    # >24:00:00 service times survived as raw strings
    assert st.filter(F.col("arrival_time") >= "24:").count() > 0
    # NULL_IF applied: empty and 'NULL' tokens became real nulls
    assert wh.table("bronze", "routes_static").filter(
        F.col("route_color").isNull()).count() > 0
    # insert_date stamped everywhere
    assert st.filter(F.col("insert_date").isNull()).count() == 0


def test_rt_first_wins_dedup(wh):
    tu = wh.table("bronze", "trip_updates_raw")
    # one header per (trip, snapshot-batch): fixture has 3 snapshots ->
    # duplicates within a snapshot collapse to the FIRST entity
    assert tu.filter(F.col("route_id") == "DUP").count() == 0
    # every even trip appears once per snapshot (3 snapshots), dup
    # entities within a snapshot collapsed to the first
    counts = tu.groupBy("trip_id").count()
    assert counts.agg(F.max("count")).collect()[0][0] == 3
    assert counts.agg(F.min("count")).collect()[0][0] == 3


def test_rt_explode_null_semantics(wh):
    ts = wh.table("bronze", "trip_stop_times")
    assert ts.count() > 0
    # absent optional proto fields -> NULL (HasField guards, A14)
    assert ts.filter(F.col("stop_id").isNull()).count() > 0
    assert ts.filter(F.col("departure_time").isNull()).count() > 0
    # stop rows are NOT gated by seen_trips: null-trip_id entities
    # contribute stop rows (gtfs_rt_minutely.py:103-109), one per
    # snapshot from the tu-null fixture entity
    assert ts.filter(F.col("trip_id").isNull()).count() == 3
    vp = wh.table("bronze", "vehicle_positions_raw")
    assert vp.filter(F.col("bearing").isNull()).count() > 0
    # A17: bearing is integer-valued after rounding
    assert vp.filter(F.col("bearing") != F.round("bearing")).count() == 0


def test_silver_refresh_incremental(wh):
    first = refresh_silver(wh)
    assert first["routes_static_silver"] == fixtures_gtfs.N_ROUTES
    assert first["trip_stop_times_silver"] > 0
    # idempotent: nothing newer than the watermark -> zero appends
    second = refresh_silver(wh)
    assert all(n == 0 for n in second.values()), second

    rs = wh.table("silver", "routes_static_silver")
    assert set(rs.columns) == {"route_id", "agency_id", "route_long_name",
                               "route_type", "insert_date"}
    # null direction_id -> 'in experimentation' (gtfs_silver.py:184)
    tu = wh.table("silver", "trip_updates_silver")
    assert tu.filter(F.col("direction_id") == "in experimentation").count() > 0
    # intermediate_stop = COALESCE(arrival, departure) (gtfs_silver.py:173)
    st = wh.table("silver", "stop_times_static_silver")
    bad = st.filter(
        F.col("intermediate_stop") !=
        F.coalesce("arrival_time", "departure_time")).count()
    assert bad == 0


def test_silver_picks_up_new_bronze_rows(wh, spark):
    refresh_silver(wh)  # ensure baseline loaded
    before = wh.table("silver", "routes_static_silver").count()
    new_row = spark.createDataFrame(
        [("R999", "LA", "x", "Nouvelle ligne", 3, None, None, None)],
        "route_id string, agency_id string, route_short_name string, "
        "route_long_name string, route_type int, route_url string, "
        "route_color string, route_text_color string")
    wh.append("bronze", "routes_static", new_row)
    appended = refresh_silver(wh)
    assert appended["routes_static_silver"] == 1
    assert wh.table("silver", "routes_static_silver").count() == before + 1


def test_one_sql_execution_per_load(spark, tmp_path, gtfs_dir):
    """Each table load is a single write that counts its own rows, and
    the watermarks of a refresh are one probe."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    counts, n = _sql_executions(spark, lambda: ingest_static(spark, gtfs_dir, wh))
    assert counts == STATIC_COUNTS
    assert n == len(STATIC_COUNTS)  # one append each, no pre-write, no count()
    _land_rt(spark, wh)
    first, n = _sql_executions(spark, lambda: refresh_silver(wh))
    assert all(first.values()), first
    assert n == 1 + len(first)  # probe + one write per table
    silver = _files_under(wh.path("silver", ""))
    again, n = _sql_executions(spark, lambda: refresh_silver(wh))
    assert set(again.values()) == {0}
    assert n == 1  # the probe alone
    assert _files_under(wh.path("silver", "")) == silver


def test_ingest_static_without_create_all(spark, tmp_path, gtfs_dir):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    assert ingest_static(spark, gtfs_dir, wh) == STATIC_COUNTS
    # a second ingest appends again and reports the cumulative counts
    again, n = _sql_executions(spark, lambda: ingest_static(spark, gtfs_dir, wh))
    assert again == {t: 2 * c for t, c in STATIC_COUNTS.items()}
    assert n == 2 * len(STATIC_COUNTS)  # count the rows there + append
    for table, c in again.items():
        assert wh.table("bronze", table).count() == c


def test_refresh_with_empty_rt_bronze_creates_silver(spark, tmp_path, gtfs_dir):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    ingest_static(spark, gtfs_dir, wh)
    rt = ("trip_updates_raw", "trip_stop_times", "vehicle_positions_raw")
    for t in rt[:2]:
        wh.create_if_not_exists("bronze", t)
    # a bronze source that was never landed fails the probe, before any load
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        refresh_silver(wh)
    assert not os.path.exists(wh.path("silver", ""))
    wh.create_if_not_exists("bronze", rt[2])
    appended, n = _sql_executions(spark, lambda: refresh_silver(wh))
    assert appended == {
        "routes_static_silver": STATIC_COUNTS["routes_static"],
        "trips_static_silver": STATIC_COUNTS["trips_static"],
        "stops_static_silver": STATIC_COUNTS["stops_static"],
        "stop_times_static_silver": STATIC_COUNTS["stop_times_static"],
        "trip_updates_silver": 0,
        "trip_stop_times_silver": 0,
        "vehicle_positions_silver": 0,
    }
    assert n == 1 + 4 + 3  # probe + four writes + three empty creates
    for name, schema in schemas.SILVER.items():
        # read the files, not through the warehouse's declared schema
        on_disk = spark.read.parquet(wh.path("silver", name)).schema
        assert [(f.name, f.dataType) for f in on_disk] == \
            [(f.name, f.dataType) for f in schema], name
    assert wh.table("silver", "trip_updates_silver").count() == 0
    # the created tables are not written again
    again, n = _sql_executions(spark, lambda: refresh_silver(wh))
    assert set(again.values()) == {0} and n == 1


def test_concurrent_loads_keep_callers_job_group(spark, tmp_path, gtfs_dir):
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    wh = Warehouse(spark, str(tmp_path / "wh"))
    ungrouped = set(tracker.getJobIdsForGroup(None))
    props = ("spark.jobGroup.id", "spark.job.description",
             "spark.job.interruptOnCancel")
    prev = [sc.getLocalProperty(k) for k in props]
    sc.setJobGroup("gtfs-load-group", "concurrent loads")
    try:
        ingest_static(spark, gtfs_dir, wh)
        _land_rt(spark, wh)
        refresh_silver(wh)
    finally:
        for k, v in zip(props, prev):
            sc.setLocalProperty(k, v)
    # every job of the four appends and of the refresh (probe and seven
    # writes) ran in the caller's group; none ran without a group
    assert len(tracker.getJobIdsForGroup("gtfs-load-group")) >= 4 + 3 + 1 + 7
    assert set(tracker.getJobIdsForGroup(None)) <= ungrouped


def test_run_concurrently_keeps_order_and_raises(spark):
    tasks = [lambda i=i: spark.range(i).count() for i in range(6)]
    assert run_concurrently(spark, tasks) == list(range(6))

    def failing_load():
        raise ValueError("load failed")

    with pytest.raises(ValueError, match="load failed"):
        run_concurrently(spark, [lambda: 1, failing_load, lambda: 2])
