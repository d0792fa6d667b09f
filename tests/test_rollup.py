"""Continuous-aggregate maintenance: incremental refresh must equal a
full recompute, boundary days must be corrected, streaming replay must
be idempotent."""

from __future__ import annotations

import datetime

import pyspark.sql.functions as F

from energi_data_etl_spark.pipeline.rollup import refresh_rollup, streaming_rollup
from energi_data_etl_spark.streaming.ops import events_stream


def _ev(spark, rows):
    return spark.createDataFrame(rows, "ts timestamp, event_type string, value double")


def _ts(s):
    return datetime.datetime.fromisoformat(s)


def _rollup_rows(spark, path):
    return {
        (str(r.date), r.event_type): (r.avg_value, r.n_events)
        for r in spark.read.parquet(path).collect()
    }


def test_incremental_refresh_equals_full_recompute(spark, tmp_path):
    path = str(tmp_path / "rollup")
    day1 = [(_ts(f"2024-01-01T{h:02d}:00:00"), "click", float(h)) for h in range(10)]
    day2_partial = [(_ts("2024-01-02T01:00:00"), "click", 100.0)]
    assert refresh_rollup(spark, _ev(spark, day1 + day2_partial), path) == 2

    # more data lands for day 2 (the boundary day) and a new day 3
    day2_rest = [(_ts("2024-01-02T05:00:00"), "click", 200.0)]
    day3 = [(_ts("2024-01-03T00:00:00"), "view", 7.0)]
    full = day1 + day2_partial + day2_rest + day3
    before = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    assert refresh_rollup(spark, _ev(spark, full), path) == 2  # day2 redone + day3
    assert spark.conf.get("spark.sql.sources.partitionOverwriteMode") == before  # a write option, not a session change

    got = _rollup_rows(spark, path)
    want = {
        (str(r.date), r.event_type): (r.avg_value, r.n_events)
        for r in _ev(spark, full)
        .groupBy(F.to_date("ts").alias("date"), "event_type")
        .agg(F.avg("value").alias("avg_value"), F.count(F.lit(1)).alias("n_events"))
        .collect()
    }
    assert got == want  # boundary day corrected, day1 untouched, no dupes


def test_refresh_noop_when_no_new_days(spark, tmp_path):
    path = str(tmp_path / "rollup2")
    rows = [(_ts("2024-01-01T00:00:00"), "click", 1.0)]
    assert refresh_rollup(spark, _ev(spark, rows), path) == 1
    before = _rollup_rows(spark, path)
    assert refresh_rollup(spark, _ev(spark, rows), path) == 1  # boundary day recomputed, same values
    assert _rollup_rows(spark, path) == before


def test_streaming_rollup_idempotent_on_replay(spark, sf_dir, tmp_path):
    path, ckpt = str(tmp_path / "sroll"), str(tmp_path / "sckpt")
    src = f"{sf_dir}/events.parquet"
    mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    streaming_rollup(events_stream(spark, src), path, ckpt)
    assert spark.conf.get("spark.sql.sources.partitionOverwriteMode") == mode
    first = _rollup_rows(spark, path)
    assert len(first) == 150  # 30 days × 5 types
    streaming_rollup(events_stream(spark, src), path, ckpt)  # replay: checkpoint no-op
    assert _rollup_rows(spark, path) == first

    # and it matches the batch rollup exactly
    from energi_data_etl_spark.sources.tables import load_table

    batch = {
        (str(r.date), r.event_type): (r.avg_value, r.n_events)
        for r in load_table(spark, "events", sf_dir)
        .groupBy(F.to_date("ts").alias("date"), "event_type")
        .agg(F.avg("value").alias("avg_value"), F.count(F.lit(1)).alias("n_events"))
        .collect()
    }
    assert first == batch
