"""Continuous aggregate (hypertable-style daily rollup) maintenance.

The reference's entire job is maintaining one continuously-refreshed
daily rollup table (sweden_daily_avg: watermark → aggregate new days →
append, energy_etl.py:22-108). Generalized here into engine operators:

* ``refresh_rollup`` — batch incremental refresh: prune source to days
  newer than the rollup's watermark, aggregate, append. On a
  date-partitioned source the pruning is partition elimination; the
  appended rollup is itself date-partitioned, so the watermark read
  decodes only the partition column (a local session lists the
  partitions on the driver). Aggregate and append cost O(new data),
  not O(history).
* ``streaming_rollup`` — the same rollup maintained by a stream:
  foreachBatch + dynamic partition overwrite, so a late event that
  reopens a day REPLACES that day's rollup row instead of duplicating
  it (idempotent per-partition upsert — the exactly-once form of the
  reference's blind WRITE_APPEND).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..sources.sinks import latest_watermark, write_fact_table

__all__ = ["refresh_rollup", "streaming_rollup"]


def _overwrite_days(days: DataFrame, rollup_path: str) -> None:
    """Replace only the date partitions present in ``days``, one file each."""
    (
        days.repartition(1, F.col("date"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("date")
        .parquet(rollup_path)
    )


def refresh_rollup(
    spark: SparkSession,
    source: DataFrame,
    rollup_path: str,
    ts_col: str = "ts",
    key_col: str = "event_type",
    value_col: str = "value",
) -> int:
    """Incrementally refresh the daily rollup table at ``rollup_path``.

    Re-aggregates the watermark day itself as well (it may have been
    partial at the last refresh) via dynamic partition overwrite —
    append-only for new days, replace for the boundary day.
    Returns the number of days (re)computed.
    """
    wm = latest_watermark(spark, rollup_path, "date")
    fresh = source.withColumn("date", F.to_date(ts_col))
    if wm is not None:
        # boundary day included: its earlier rollup row may be partial
        fresh = fresh.filter(F.col("date") >= F.lit(wm.isoformat()).cast("date"))
    rolled = fresh.groupBy("date", key_col).agg(
        F.avg(value_col).alias("avg_value"),
        F.count(F.lit(1)).alias("n_events"),
    )
    n_days = rolled.select("date").distinct().count()
    if n_days == 0:
        return 0
    if wm is None:
        write_fact_table(rolled, rollup_path, partition_by=("date",), mode="append", audit=True)
    else:
        # overwrite ONLY the partitions present in `rolled` (the write
        # option, not the session conf, so no other query sees it).
        # repartition(1) is safe ONLY because the payload is the
        # post-aggregation rollup (|days|x|types| rows per refresh,
        # never fact-sized) and buys one file per date partition;
        # if the rollup grain ever grows past one task's comfort,
        # switch to repartition("date").
        out = rolled.withColumn("load_timestamp", F.current_timestamp())
        _overwrite_days(out, rollup_path)
    return n_days


def streaming_rollup(
    stream: DataFrame,
    rollup_path: str,
    checkpoint: str,
    key_col: str = "event_type",
    value_col: str = "value",
) -> None:
    """Maintain the same rollup from a stream: per micro-batch, aggregate
    the batch's days and dynamically overwrite just those day
    partitions (idempotent on replay — checkpoint + partition overwrite
    give effective exactly-once)."""

    def upsert_batch(batch_df: DataFrame, epoch_id: int) -> None:
        days = (
            batch_df.withColumn("date", F.to_date("ts"))
            .groupBy("date", key_col)
            .agg(F.avg(value_col).alias("avg_value"), F.count(F.lit(1)).alias("n_events"))
            .withColumn("load_timestamp", F.current_timestamp())
        )
        # single-task write is bounded by the per-batch AGGREGATE
        # size (|days in batch|x|types|), not the batch row count —
        # see the incremental_rollup note above
        _overwrite_days(days, rollup_path)

    (
        stream.writeStream.foreachBatch(upsert_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
