"""The seven BRONZE -> SILVER transforms (SURVEY §1.4).

reference: dags/gtfs_silver.py:125-213 — each silver load is a
projection (+ small derivations) over the bronze table, applied
incrementally on the insert_date high-watermark.  The transforms are
declarative select-lists; the loader is operators/incremental.py.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tp_airflow_gtfs_snowflake_spark.catalog import Warehouse
from tp_airflow_gtfs_snowflake_spark.operators.incremental import (
    EPOCH_FLOOR, incremental_append, max_watermarks)
from tp_airflow_gtfs_snowflake_spark.session import run_concurrently


def routes_silver(df: DataFrame) -> DataFrame:
    # gtfs_silver.py:125-134 — 4/8 columns kept
    return df.select("route_id", "agency_id", "route_long_name",
                     "route_type", "insert_date")


def trips_silver(df: DataFrame) -> DataFrame:
    # gtfs_silver.py:136-149 — drop trip_short_name
    return df.select("route_id", "service_id", "trip_id", "trip_headsign",
                     "direction_id", "shape_id", "wheelchair_accessible",
                     "bike_allowed", "insert_date")


def stops_silver(df: DataFrame) -> DataFrame:
    # gtfs_silver.py:151-163 — drop zone_id, location_type, stop_timezone
    return df.select("stop_id", "stop_code", "stop_name", "stop_lat",
                     "stop_lon", "parent_station", "wheelchair_boarding",
                     "insert_date")


def stop_times_silver(df: DataFrame) -> DataFrame:
    # gtfs_silver.py:165-176 — + COALESCE(arrival,departure) (:173)
    return df.select(
        "trip_id", "arrival_time", "departure_time",
        F.coalesce("arrival_time", "departure_time").alias("intermediate_stop"),
        "stop_id", "stop_sequence", "pickup_type", "drop_off_type",
        "insert_date")


def trip_updates_silver(df: DataFrame) -> DataFrame:
    # gtfs_silver.py:179-187 — CASE WHEN direction_id IS NULL
    # THEN 'in experimentation' ELSE TO_VARCHAR(direction_id) END (:184)
    direction = (F.when(F.col("direction_id").isNull(),
                        F.lit("in experimentation"))
                 .otherwise(F.col("direction_id").cast("string")))
    return df.select("trip_id", "route_id",
                     direction.alias("direction_id"), "insert_date")


def trip_stop_times_silver(df: DataFrame) -> DataFrame:
    # gtfs_silver.py:189-198 — epoch COALESCE held in a STRING column
    # (observed quirk of the reference DDL, gtfs_silver.py:96-104)
    return df.select(
        "trip_id", "stop_sequence", "stop_id", "arrival_time",
        "departure_time",
        F.coalesce(F.col("arrival_time"), F.col("departure_time"))
         .cast("string").alias("intermediate_stop"),
        "insert_date")


def vehicle_positions_silver(df: DataFrame) -> DataFrame:
    # gtfs_silver.py:200-213 — identity projection
    return df.select("trip_id", "route_id", "vehicle_id", "latitude",
                     "longitude", "bearing", "stop_id", "timestamp_epoch",
                     "insert_date")


TRANSFORMS = {
    "routes_static_silver": ("routes_static", routes_silver),
    "trips_static_silver": ("trips_static", trips_silver),
    "stops_static_silver": ("stops_static", stops_silver),
    "stop_times_static_silver": ("stop_times_static", stop_times_silver),
    "trip_updates_silver": ("trip_updates_raw", trip_updates_silver),
    "trip_stop_times_silver": ("trip_stop_times", trip_stop_times_silver),
    "vehicle_positions_silver": ("vehicle_positions_raw", vehicle_positions_silver),
}


def refresh_silver(wh: Warehouse) -> dict[str, int]:
    """The gtfs_silver DAG body: run all seven incremental loads and
    return {silver table: appended rows}, in TRANSFORMS order.

    One probe action reads the insert_date watermark of every bronze
    source and every existing silver table; a missing bronze source
    raises there, before any load.  The seven loads are then submitted
    concurrently, as the reference fans them out in parallel
    (gtfs_silver.py:307-315): a table whose source max is strictly
    above its watermark (EPOCH_FLOOR when missing or empty) gets one
    write job that also counts the rows; an up-to-date table gets no
    job; a silver table that does not exist yet and gets no rows is
    created empty, so all seven read with their declared schema.  A
    refresh with nothing new is the probe alone.  A failed load
    raises; re-running is safe through the watermark."""
    wms = max_watermarks(
        wh, [("bronze", src) for src, _ in TRANSFORMS.values()]
        + [("silver", dst) for dst in TRANSFORMS if wh.exists("silver", dst)])

    def load(dst: str) -> int:
        src, transform = TRANSFORMS[dst]
        src_max = wms[("bronze", src)]
        wm = wms.get(("silver", dst)) or EPOCH_FLOOR
        if src_max is not None and src_max > wm:
            return incremental_append(wh, wh.table("bronze", src), dst,
                                      transform, wm)
        wh.create_if_not_exists("silver", dst)
        return 0

    return dict(zip(TRANSFORMS, run_concurrently(
        wh.spark, [partial(load, dst) for dst in TRANSFORMS])))
