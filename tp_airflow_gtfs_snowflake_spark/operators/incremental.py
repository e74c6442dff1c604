"""High-watermark incremental append (A21/A22).

reference: every silver load shares
  INSERT INTO dst SELECT ... FROM src
  WHERE src.insert_date > COALESCE((SELECT MAX(insert_date) FROM dst),
                                   '1900-01-01'::TIMESTAMP_NTZ)
(dags/gtfs_silver.py:125-213).

Batch mode reads every watermark of a refresh in ONE Spark action —
MAX(insert_date) of each source and of each existing destination, a
union of one-row aggregates collected once.  That is a scan of the
insert_date column (Spark's parquet reader does not answer MAX from
row-group statistics), but only of that column.  A table is loaded
only when its source max is strictly above its destination
watermark, and then in one write job that counts its rows on the way
(`observability.observed`) — no count() re-scan.  The filter pushes
down to the source scan.  Restart safety comes from the append-only
watermark monotonicity: a crashed run re-appends nothing already
visible, exactly like the reference.

The streaming-native replacement (checkpointed file source, which
eliminates the destination scan entirely) lives in streaming/.
"""

from __future__ import annotations

import datetime as dt
from functools import reduce
from typing import Callable

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tp_airflow_gtfs_snowflake_spark.catalog import Warehouse
from tp_airflow_gtfs_snowflake_spark.observability import observed

EPOCH_FLOOR = dt.datetime(1900, 1, 1)  # '1900-01-01'::TIMESTAMP_NTZ

Table = tuple[str, str]  # (layer, name)


def max_watermarks(wh: Warehouse,
                   tables: list[Table]) -> dict[Table, dt.datetime | None]:
    """MAX(insert_date) of every table in `tables`, in one Spark
    action: a union of one-row aggregates, collected once.  An empty
    table maps to None; a missing table raises, as `Warehouse.table`
    does.  Each aggregate scans the column — parquet row-group
    statistics are not used."""
    probes = [wh.table(*t).agg(F.lit(i).alias("i"),
                               F.max("insert_date").alias("wm"))
              for i, t in enumerate(tables)]
    return {tables[r["i"]]: r["wm"]
            for r in reduce(DataFrame.unionAll, probes).collect()}


def incremental_append(
    wh: Warehouse,
    src: DataFrame,
    dst_name: str,
    transform: Callable[[DataFrame], DataFrame],
    wm: dt.datetime,
    *,
    dst_layer: str = "silver",
    watermark_col: str = "insert_date",
) -> int:
    """Append transform(src rows newer than `wm`) to dst in one write
    job, and return the number of appended rows, counted on that job.

    `wm` is the destination watermark (`max_watermarks`, EPOCH_FLOOR
    when dst is missing or empty).  `transform` is the declarative
    silver select-list; the watermark filter is applied on the
    *source* before the transform so Catalyst pushes it into the
    source scan (partition pruning when src is date-partitioned).
    """
    fresh = src.filter(F.col(watermark_col) > F.lit(wm))
    out, obs = observed(transform(fresh), f"append:{dst_layer}.{dst_name}",
                        n=F.count(F.lit(1)))
    # DELIBERATE DEVIATION: carry the BRONZE insert_date into
    # silver.  The reference's silver INSERTs omit insert_date, so
    # the column DEFAULT stamps silver-load time
    # (gtfs_silver.py:126-213) — but then a bronze row committed
    # between a silver run's watermark read and its insert could be
    # skipped forever (watermark already advanced past it).  Keying
    # the watermark on the carried bronze timestamp removes that
    # missed-row race; consumers reading silver insert_date get
    # bronze-ingest recency, not silver-load recency.
    wh.append(dst_layer, dst_name, out, stamp_insert_date=False)
    return obs.get["n"]


def incremental_rollup_refresh(
    spark,
    src: DataFrame,
    rollup_path: str,
    build: Callable[[DataFrame], DataFrame],
    *,
    date_col: str = "event_date",
    watermark_col: str = "insert_date",
) -> list:
    """Maintain a date-partitioned materialized rollup incrementally:
    recompute ONLY the partitions touched since the last refresh.

    The continuous-aggregate maintenance pattern (TimescaleDB calls it
    a hypertable rollup; Snowflake sells it as dynamic tables): at
    100 TB you cannot re-aggregate years of history because one late
    row arrived — you re-aggregate the one day it landed in.

    Mechanics per refresh:
    1. watermark = MAX(rollup_watermark) over the rollup (a scan of
       that one column; EPOCH_FLOOR on first build);
    2. touched = DISTINCT date_col of source rows with
       watermark_col > watermark — a days-count-bounded list, safe to
       collect (same contract as the scalar watermark read);
    3. re-aggregate src WHERE date_col IN touched — ALL rows of those
       dates, so late data merges with history correctly (pruned scan:
       the IN list prunes partitions when src is date-partitioned);
    4. dynamic-partition-overwrite exactly those rollup directories.

    `build` is the rollup query (groupBy including date_col); the
    operator stamps each partition with rollup_watermark = MAX
    incoming watermark so refreshes compose.  Correctness requires
    watermark_col to be monotonic over arrival order (an ingest stamp,
    not an event time) — same contract as incremental_append.

    Returns the sorted list of refreshed date partitions.
    """
    try:
        existing = spark.read.parquet(rollup_path)
        wm = existing.agg(F.max("rollup_watermark").alias("wm")) \
            .collect()[0]["wm"] or EPOCH_FLOOR
    except AnalysisException:
        # missing path = first build; any OTHER failure must propagate
        # (treating a transient read error as "no rollup yet" would
        # recompute from the epoch floor and double-append)
        wm = EPOCH_FLOOR
    fresh = src.filter(F.col(watermark_col) > F.lit(wm))
    touched = sorted(r[0] for r in
                     fresh.select(date_col).distinct().collect())
    if not touched:
        return []
    sliced = src.filter(F.col(date_col).isin(touched))
    wm_per_date = sliced.groupBy(date_col).agg(
        F.max(watermark_col).alias("rollup_watermark"))
    out = build(sliced).join(F.broadcast(wm_per_date), date_col)
    (out.write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy(date_col)
     .parquet(rollup_path))
    return touched


def merge_upsert(
    spark,
    updates: DataFrame,
    table_path: str,
    *,
    key_cols: list[str],
    order_col: str,
    partition_col: str | None = None,
) -> int:
    """Latest-wins keyed MERGE into a path-based parquet table (the
    UPDATE-by-key half the append-only loaders can't express — what
    MERGE INTO does on a transactional table format, built from
    primitives so it needs none).

    Rows with the same key collapse to the one with the highest
    `order_col` (use an ingest stamp; it must be unique per key for
    the winner to be well-defined).  With `partition_col` set, only
    partitions present in `updates` are read and rewritten (dynamic
    partition overwrite) — at 100 TB a trickle of updates rewrites
    the handful of dates it touches, never the table.  The merge
    itself is one hash aggregation on the keys: max_by(payload,
    order) — no window sort.

    NOT atomic across concurrent writers (parquet has no transaction
    log); single-writer-per-table is the operating contract, same as
    the reference's serialized loader DAGs.  Returns the number of
    rows written.
    """
    try:
        existing = spark.read.parquet(table_path)
        first_build = False
    except AnalysisException:
        # missing path = first build; any OTHER failure must propagate
        # (a transient read error mistaken for first-build would
        # OVERWRITE the table with only this batch's keys)
        existing = None
        first_build = True

    if partition_col and not first_build:
        touched = [r[0] for r in
                   updates.select(partition_col).distinct().collect()]
        existing = existing.filter(F.col(partition_col).isin(touched))

    combined = updates if first_build \
        else existing.unionByName(updates)
    payload = [c for c in combined.columns if c not in key_cols]
    merged = (combined.groupBy(*key_cols)
              .agg(F.max_by(F.struct(*payload), F.col(order_col))
                   .alias("_p"))
              .select(*key_cols, "_p.*"))
    n = merged.count()

    writer = merged.write
    if partition_col:
        writer = (writer.mode("overwrite")
                  .option("partitionOverwriteMode", "dynamic")
                  .partitionBy(partition_col))
    else:
        writer = writer.mode("overwrite")
    writer.parquet(table_path)
    return n


def retraction_apply_batch(
    spark,
    updates: DataFrame,
    *,
    ustate_path: str,
    adj_path: str,
    epoch_id: int,
    key_col: str = "user_id",
    group_col: str = "event_type",
    value_col: str = "value_cents",
    order_col: str = "ord",
) -> None:
    """Apply one micro-batch of latest-wins upserts to an incrementally
    maintained grouped aggregate WITH RETRACTIONS (the streaming-matview
    delta algebra; the streaming twin of b158's batch form, value-
    oracled across a restart by b161).

    State: ``ustate_path`` holds latest-per-key rows (maintained by
    `merge_upsert`); ``adj_path`` is an epoch-partitioned ±adjustment
    log — the served view is the SUMMED LOG, never recomputed from
    user state.  Per batch: collapse the batch to latest-per-key (one
    hash agg), join ONCE against the state, and for each key whose
    batch row strictly wins emit a retraction of the old contribution
    (possibly from a DIFFERENT group) plus an addition of the new one.

    At-least-once replay safety (the crash window between the two
    writes): on redelivery of an already-applied batch, every batch
    row compares EQUAL to the state's order key, the strict ``>``
    win predicate excludes it, the winners frame is EMPTY — and a
    dynamic-partition-overwrite of zero rows touches no partitions,
    so the original epoch's adjustment rows survive intact while the
    latest-wins upsert is idempotent by construction.  (Pinned by
    tests/test_round12.py::test_retraction_batch_replay_is_noop.)
    """
    if updates.isEmpty():
        return
    blat = (updates.groupBy(key_col)
            .agg(F.max_by(F.struct(group_col, value_col),
                          F.col(order_col)).alias("_n"),
                 F.max(order_col).alias(order_col))
            .select(key_col, order_col,
                    F.col(f"_n.{group_col}").alias("new_grp"),
                    F.col(f"_n.{value_col}").alias("new_val")))
    try:
        old = (spark.read.parquet(ustate_path)
               .select(key_col,
                       F.col(group_col).alias("old_grp"),
                       F.col(value_col).alias("old_val"),
                       F.col(order_col).alias("old_ord")))
    except AnalysisException:
        # missing path = first batch; any OTHER failure must propagate
        # (old=None on a transient error would re-add every batch key
        # without retracting its previous contribution — the served
        # adjustment log would double-count permanently)
        old = None
    if old is not None:
        winners = (blat.join(old, key_col, "left")
                   .filter(F.col("old_ord").isNull()
                           | (F.col(order_col) > F.col("old_ord"))))
    else:
        winners = (blat
                   .withColumn("old_grp", F.lit(None).cast("string"))
                   .withColumn("old_val", F.lit(None).cast("long")))
    winners = winners.localCheckpoint(eager=False)  # feeds both branches
    retract = (winners.filter(F.col("old_grp").isNotNull())
               .select(F.col("old_grp").alias(group_col),
                       F.lit(-1).cast("long").alias("d_users"),
                       (-F.col("old_val")).alias("d_cents")))
    add = (winners
           .select(F.col("new_grp").alias(group_col),
                   F.lit(1).cast("long").alias("d_users"),
                   F.col("new_val").alias("d_cents")))
    # adjustment log first (epoch-keyed dynamic overwrite)...
    (retract.unionByName(add)
     .withColumn("ingest_epoch", F.lit(int(epoch_id)).cast("long"))
     .write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy("ingest_epoch").parquet(adj_path))
    # ...then the keyed state upsert (idempotent latest-wins)
    merge_upsert(spark,
                 blat.select(key_col,
                             F.col("new_grp").alias(group_col),
                             F.col("new_val").alias(value_col),
                             order_col),
                 ustate_path, key_cols=[key_col], order_col=order_col)
