"""End-to-end pipeline-lifecycle certification (SURVEY.md §2.11).

The reference's whole program is one lifecycle: watermark read → fetch
the missing (zone, day) slice → daily-average transform → append with
audit column → next run resumes from the new watermark
(scripts/energy_etl.py:39-84). The unit tests certify the pieces
(S5/S6/T1); this declared query certifies the COMPOSITION under the
real driver contract: cold-start backfill, an incremental second run,
the skip-empty early exit, and a read-back of the durable table — all
inside one `(spark, sf_dir) -> DataFrame` call with a deterministic
fixture fetcher, so the DuckDB oracle can re-derive the expected table
from first principles (generated calendar × zones, no network).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..session import scratch_dir
from .catalog import query

#: Deterministic hourly price for (zone, date, hour): exact small
#: integers, so the 24-hour average is exactly representable
#: (z*1000 + day_no*10 + 11.5 — one fractional bit) and bit-identical
#: across Spark's sum/count average and DuckDB's closed form.


def _fixture_fetcher(url: str, headers: dict | None = None) -> list[dict]:
    """Replays the public API's response shape (reference
    energy_etl.py:67-69) as a pure function of the request URL."""
    import datetime
    import re

    m = re.search(r"/prices/(\d{4})/(\d{2})-(\d{2})_(SE\d)\.json", url)
    assert m, f"unexpected fetch URL: {url}"
    day = datetime.date(int(m.group(1)), int(m.group(2)), int(m.group(3)))
    day_no = (day - datetime.date(2024, 1, 1)).days
    zone_idx = int(m.group(4)[2])
    base = float(zone_idx * 1000 + day_no * 10)
    return [
        {
            "SEK_per_kWh": base + h,
            "EUR_per_kWh": 0.0,
            "EXR": 11.0,
            "time_start": f"{h:02d}:00",
            "time_end": f"{h + 1:02d}:00",
        }
        for h in range(24)
    ]


@query(
    "pipeline_incremental_lifecycle",
    tier="S1+S4+S5+S6+T1+A1 (full reference lifecycle: watermark→fetch→transform→append→re-read)",
    oracle="""
        WITH zones AS (
            SELECT * FROM (VALUES (1, 'SE1'), (2, 'SE2'), (3, 'SE3'), (4, 'SE4')) AS t(zi, zone)
        ), days AS (
            -- cold start today=2024-02-10, cold_start_days=10 → backfill
            -- starts 2024-01-31; the incremental run extends to 2024-02-12
            SELECT CAST(UNNEST(GENERATE_SERIES(DATE '2024-01-31', DATE '2024-02-12', INTERVAL 1 DAY)) AS DATE) AS date
        ), daily AS (
            -- avg over h=0..23 of (zi*1000 + day_no*10 + h) = closed form
            SELECT z.zone, d.date,
                   z.zi * 1000 + DATEDIFF('day', DATE '2024-01-01', d.date) * 10 + 11.5 AS avg_price
            FROM zones z CROSS JOIN days d
        )
        SELECT zone,
               COUNT(*) AS n_days,
               MIN(date) AS first_date,
               MAX(date) AS last_date,
               ROUND(CAST(SUM(avg_price) AS DOUBLE), 4) AS sum_avg_price
        FROM daily
        GROUP BY zone
    """,
)
def pipeline_incremental_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runs the reference lifecycle three times against a throwaway
    date-partitioned fact table:

    1. cold start (empty table → watermark None → 10-day backfill
       ending 2024-02-10, reference :42-46);
    2. incremental (watermark 2024-02-10 → fetches only 02-11/02-12);
    3. no-op (watermark == today → early exit, nothing appended —
       the skip-empty guard, reference :82).

    Then reads the durable table back and aggregates per zone. The
    deterministic fetcher makes every value re-derivable in the oracle
    without touching the corpus tables — what's certified is that the
    distributed fetch, the daily-average transform, the partitioned
    append (with audit column), and the watermark resume compose to
    exactly the expected table: 13 days × 4 zones, one row each.
    """
    import datetime

    from ..pipeline.energy import run_incremental

    base = scratch_dir("lifecycle_")
    table = f"{base}/fact_daily"
    ran = run_incremental(spark, table, _fixture_fetcher, f"{base}/land1", datetime.date(2024, 2, 10))
    assert ran, "cold-start backfill appended nothing"
    ran = run_incremental(spark, table, _fixture_fetcher, f"{base}/land2", datetime.date(2024, 2, 12))
    assert ran, "incremental run appended nothing"
    ran = run_incremental(spark, table, _fixture_fetcher, f"{base}/land3", datetime.date(2024, 2, 12))
    assert not ran, "watermark==today must early-exit without appending"

    fact = spark.read.parquet(table)  # audit load_timestamp present but not compared
    return fact.groupBy("zone").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.min("date").alias("first_date"),
        F.max("date").alias("last_date"),
        F.round(F.sum("avg_price"), 4).alias("sum_avg_price"),
    )


_API_ZONES = ("SE1", "SE2", "SE3", "SE4")


def _write_api_fixtures(start, end, repeat: int = 1) -> str:
    """Lay per-day JSON fixtures out exactly like the API URL space
    (`ApiConfig.at(root).url`), with the lifecycle
    fixture's exact-arithmetic hourly prices (zi*1000 + day_no*10 +
    hour) so oracles re-derive every value in closed form. Returns the
    fixture root.

    The root is DETERMINISTIC per date range (content is a pure
    function of the range) and rewritten idempotently — repeated
    parity/bench/driver runs reuse one directory instead of littering
    a fresh mkdtemp per call."""
    import datetime
    import json
    import os
    import tempfile

    from ..sources.http_json import ApiConfig

    # repeat>1 models an at-least-once upstream (each hourly record
    # delivered `repeat` times) for the stateful-dedup certification;
    # the suffix keeps the deterministic roots disjoint per variant
    suffix = f"_x{repeat}" if repeat > 1 else ""
    base = os.path.join(
        tempfile.gettempdir(), f"api_src_{start.isoformat()}_{end.isoformat()}{suffix}"
    )
    docs = ApiConfig.at(base)
    day = start
    while day <= end:
        day_no = (day - datetime.date(2024, 1, 1)).days
        for zi, zone in enumerate(_API_ZONES, start=1):
            recs = [
                {
                    "SEK_per_kWh": float(zi * 1000 + day_no * 10 + h),
                    "EUR_per_kWh": 0.0,
                    "EXR": 11.0,
                    "time_start": f"{h:02d}:00",
                    "time_end": f"{h + 1:02d}:00",
                }
                for h in range(24)
            ]
            # atomic publish: concurrent runs share this deterministic
            # directory (bench alongside driver_sim), so a plain open/
            # dump could expose a half-written file to another reader —
            # write to a unique temp name and os.replace() into place
            # (ADVICE r06)
            final = docs.url(zone, day)
            os.makedirs(os.path.dirname(final), exist_ok=True)
            tmp = f"{final}.{os.getpid()}.tmp"
            with open(tmp, "w") as f:
                json.dump(recs * repeat, f)
            os.replace(tmp, final)
        day += datetime.timedelta(days=1)
    return base


@query(
    "api_source_daily_rollup",
    tier="S1 (Spark 4 Python DataSource: format('energi_prices') → daily rollup)",
    oracle="""
        WITH zones AS (
            SELECT * FROM (VALUES (1, 'SE1'), (2, 'SE2'), (3, 'SE3'), (4, 'SE4')) AS t(zi, zone)
        ), days AS (
            SELECT CAST(UNNEST(GENERATE_SERIES(DATE '2024-02-01', DATE '2024-02-07', INTERVAL 1 DAY)) AS DATE) AS date
        )
        -- avg over h=0..23 of (zi*1000 + day_no*10 + h): the closed form
        -- is a half-integer, exactly representable, so no rounding needed
        SELECT z.zone, d.date,
               CAST(24 AS BIGINT) AS n_obs,
               CAST(z.zi * 1000 + DATEDIFF('day', DATE '2024-01-01', d.date) * 10 + 11.5 AS DOUBLE) AS avg_price
        FROM zones z CROSS JOIN days d
    """,
)
def api_source_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Certifies the Python DataSource itself (sources/api_datasource.py)
    under the driver contract: deterministic per-day JSON fixtures are
    laid out exactly like the API URL space, read back through
    `spark.read.format("energi_prices")` — one InputPartition per
    zone-day, so this 7-day × 4-zone window plans 28 independent fetch
    tasks — then rolled up to the reference's daily average
    (energy_etl.py:69-70). Fixture prices follow the lifecycle fixture's
    exact-arithmetic formula (zi*1000 + day_no*10 + hour), so the DuckDB
    oracle re-derives every average in closed form without touching the
    source: what matches is the full source → schema → partition →
    aggregate path, not a replayed table."""
    import datetime

    from ..sources.api_datasource import EnergiPricesDataSource

    start, end = datetime.date(2024, 2, 1), datetime.date(2024, 2, 7)
    base = _write_api_fixtures(start, end)
    spark.dataSource.register(EnergiPricesDataSource)
    df = (
        spark.read.format("energi_prices")
        .option("start", start.isoformat())
        .option("end", end.isoformat())
        .option("zones", ",".join(_API_ZONES))
        .option("fixture_dir", base)
        .load()
    )
    return df.groupBy("zone", "date").agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.avg("SEK_per_kWh").alias("avg_price"),
    )


@query(
    "api_source_stream_rollup",
    tier="S1+T3 (streaming DataSource: offset-as-watermark catch-up → daily rollup)",
    oracle="""
        WITH zones AS (
            SELECT * FROM (VALUES (1, 'SE1'), (2, 'SE2'), (3, 'SE3'), (4, 'SE4')) AS t(zi, zone)
        ), days AS (
            SELECT CAST(UNNEST(GENERATE_SERIES(DATE '2024-02-20', DATE '2024-02-22', INTERVAL 1 DAY)) AS DATE) AS date
        )
        SELECT z.zone, d.date,
               CAST(24 AS BIGINT) AS n_obs,
               CAST(z.zi * 1000 + DATEDIFF('day', DATE '2024-01-01', d.date) * 10 + 11.5 AS DOUBLE) AS avg_price
        FROM zones z CROSS JOIN days d
    """,
)
def api_source_stream_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING side of the Python DataSource under the driver
    contract: `spark.readStream.format("energi_prices")` — the full
    DataSourceStreamReader whose offset log IS the reference's
    watermark and whose catch-up batches plan one partition per
    zone-day read ON EXECUTORS (sources/api_datasource.py) — drained
    with Trigger.AvailableNow into the daily-average rollup. Each
    trigger catches up on every day past the offset exactly once
    (checkpoint-durable; restart re-reads nothing, pinned in
    tests/test_api_and_formats.py); complete-mode aggregation needs no
    event-time watermark. Values are the exact-arithmetic fixture
    formula, so the oracle is the same closed form the batch twin
    (`api_source_daily_rollup`) certifies — what this adds is the
    offset/commit machinery in the read path."""
    import datetime

    from ..sources.api_datasource import EnergiPricesDataSource
    from ..streaming.ops import run_to_memory

    start, end = datetime.date(2024, 2, 20), datetime.date(2024, 2, 22)
    base = _write_api_fixtures(start, end)
    spark.dataSource.register(EnergiPricesDataSource)
    stream = (
        spark.readStream.format("energi_prices")
        .option("start", start.isoformat())
        .option("end", end.isoformat())
        .option("zones", ",".join(_API_ZONES))
        .option("fixture_dir", base)
        .load()
    )
    rolled = stream.groupBy("zone", "date").agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.avg("SEK_per_kWh").alias("avg_price"),
    )
    return run_to_memory(rolled, output_mode="complete")


@query(
    "api_source_dedup_stream",
    tier="S1+T6 (at-least-once Python stream source -> dropDuplicatesWithinWatermark)",
    oracle="""
        WITH zones AS (
            SELECT * FROM (VALUES (1, 'SE1'), (2, 'SE2'), (3, 'SE3'), (4, 'SE4')) AS t(zi, zone)
        ), days AS (
            SELECT CAST(UNNEST(GENERATE_SERIES(DATE '2024-03-01', DATE '2024-03-03', INTERVAL 1 DAY)) AS DATE) AS date
        )
        SELECT z.zone, d.date,
               CAST(24 AS BIGINT) AS n_obs,
               CAST(z.zi * 1000 + DATEDIFF('day', DATE '2024-01-01', d.date) * 10 + 11.5 AS DOUBLE) AS avg_price
        FROM zones z CROSS JOIN days d
    """,
)
def api_source_dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6 on the full DataSourceStreamReader path: the fixture models an
    AT-LEAST-ONCE upstream (every hourly record delivered twice, the
    real failure mode of retrying HTTP collectors), and
    dropDuplicatesWithinWatermark on the record's natural key
    (zone, date, time_start) restores exactly-once downstream. n_obs is
    the discriminator: 24 survivors per zone-day out of 48 delivered —
    a plain rollup of the raw stream would return n_obs=48 and fail the
    oracle, so the state store is doing the work, not the source.

    State scale: one entry per key inside the watermark horizon —
    bounded by |zones| x days x 24 within the delay, evicted as event
    time advances; partitioned by key like any stateful op, so the
    dedup scales horizontally with executors while each catch-up batch
    still plans one InputPartition per zone-day read ON EXECUTORS."""
    import datetime

    from ..sources.api_datasource import EnergiPricesDataSource
    from ..streaming.ops import dedup_within_watermark, run_to_memory

    start, end = datetime.date(2024, 3, 1), datetime.date(2024, 3, 3)
    base = _write_api_fixtures(start, end, repeat=2)
    spark.dataSource.register(EnergiPricesDataSource)
    stream = (
        spark.readStream.format("energi_prices")
        .option("start", start.isoformat())
        .option("end", end.isoformat())
        .option("zones", ",".join(_API_ZONES))
        .option("fixture_dir", base)
        .load()
        .withColumn("ts", F.col("date").cast("timestamp"))
    )
    deduped = dedup_within_watermark(stream, ["zone", "date", "time_start"], watermark="30 days")
    drained = run_to_memory(deduped, output_mode="append")
    return drained.groupBy("zone", "date").agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.avg("SEK_per_kWh").alias("avg_price"),
    )


@query(
    "api_source_epoch_bounded",
    tier="S1+T7 (bounded-epoch API stream: days_per_epoch offset advance, exactly-once across poll runs)",
    oracle="""
        WITH zones AS (
            SELECT * FROM (VALUES (1, 'SE1'), (2, 'SE2'), (3, 'SE3'), (4, 'SE4')) AS t(zi, zone)
        ), days AS (
            SELECT CAST(UNNEST(GENERATE_SERIES(DATE '2024-03-10', DATE '2024-03-13', INTERVAL 1 DAY)) AS DATE) AS date
        )
        SELECT z.zone, d.date,
               CAST(24 AS BIGINT) AS n_obs,
               CAST(z.zi * 1000 + DATEDIFF('day', DATE '2024-01-01', d.date) * 10 + 11.5 AS DOUBLE) AS avg_price
        FROM zones z CROSS JOIN days d
    """,
)
def api_source_epoch_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The r14 epoch-sizing knob (VERDICT r13 item 8) certified at the
    driver surface: days_per_epoch=2 bounds how far the stream reader's
    latestOffset advances per trigger, so this 4-day range drains as TWO
    poll-shaped AvailableNow runs on ONE durable checkpoint (the Python
    stream source runs AvailableNow as a single batch — each run is one
    epoch, the offset log resumes the next) plus a third caught-up run
    that must add nothing. The rollup of the parquet sink then matches
    the closed-form oracle ONLY if every zone-day landed exactly once
    across the three runs — n_obs=24 discriminates both a lost epoch
    (missing rows) and a replayed one (n_obs=48).

    100 TB: the knob is the backfill's retry granularity — unbounded
    (default) amortizes the per-epoch machinery into one catch-up
    batch (probe: 60 days 15.8 s at daily epochs vs 2.8 s in one);
    bounded caps per-batch work and makes progress checkpoint-durable
    day-by-day, the poll topology of a scheduled collector."""
    import datetime

    from ..sources.api_datasource import EnergiPricesDataSource
    from ..streaming.ops import drain_conf

    start, end = datetime.date(2024, 3, 10), datetime.date(2024, 3, 13)
    base = _write_api_fixtures(start, end)
    spark.dataSource.register(EnergiPricesDataSource)
    root = scratch_dir("api_epoch_")
    out, ck = f"{root}/out", f"{root}/ckpt"
    for _ in range(3):  # epoch 1, epoch 2, caught-up no-op
        stream = (
            spark.readStream.format("energi_prices")
            .option("start", start.isoformat())
            .option("end", end.isoformat())
            .option("zones", ",".join(_API_ZONES))
            .option("fixture_dir", base)
            .option("days_per_epoch", "2")
            .load()
        )
        with drain_conf(spark):
            q = (
                stream.writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ck)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
    back = spark.read.parquet(out)
    return back.groupBy("zone", "date").agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.avg("SEK_per_kWh").alias("avg_price"),
    )


@query(
    "schema_evolution_union_by_name",
    tier="S4+S5 (parquet schema drift: mergeSchema read over two write generations)",
    oracle="""
        WITH labeled AS (
            SELECT value,
                   CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16' THEN 1 ELSE 2 END AS gen
            FROM events
        )
        SELECT gen,
               CAST(COUNT(*) AS BIGINT)                                             AS n_rows,
               CAST(SUM(CASE WHEN gen = 1 OR value IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT)                                                      AS n_eur_null,
               ROUND(CAST(SUM(value) AS DOUBLE), 2)                                 AS sum_value,
               ROUND(CAST(SUM(CASE WHEN gen = 2 THEN value * 0.085 END)
                          AS DOUBLE), 2)                                            AS sum_value_eur
        FROM labeled
        GROUP BY gen
    """,
)
def schema_evolution_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema drift is a fact of life for a long-lived 100 TB table: a
    producer adds a column mid-stream and years of old files lack it.
    This writes two parquet generations of the events fact — gen 1 with
    the original columns, gen 2 with an added `value_eur` — then reads
    both through ONE `mergeSchema=true` scan, which unions the schemas
    by name and surfaces the missing column as NULL for old files
    (Spark's parquet footer merge; at scale you'd pin the superset
    schema in a catalog instead of paying the per-file footer merge,
    which is why mergeSchema defaults off — this certifies the drift
    path itself). The aggregate discriminates: a reader that dropped
    the evolved column, or one that misassigned NULLs, fails the
    per-generation null accounting. Oracle re-derives both generations
    from the source table in closed form (the gen split is a pure
    function of the event date)."""

    from ..sources.tables import load_table

    base = scratch_dir("schema_evo_")
    ev = load_table(spark, "events", sf_dir)
    cutoff = F.lit("2024-01-16").cast("date")
    gen1 = ev.filter(F.to_date("ts") < cutoff).select(
        F.lit(1).alias("gen"), "event_id", "event_type", "value"
    )
    gen2 = ev.filter(F.to_date("ts") >= cutoff).select(
        F.lit(2).alias("gen"),
        "event_id",
        "event_type",
        "value",
        (F.col("value") * F.lit(0.085)).alias("value_eur"),
    )
    gen1.write.mode("overwrite").parquet(f"{base}/gen1")
    gen2.write.mode("overwrite").parquet(f"{base}/gen2")

    merged = spark.read.option("mergeSchema", "true").parquet(f"{base}/gen1", f"{base}/gen2")
    return merged.groupBy("gen").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("value_eur").isNull(), 1).otherwise(0)).alias("n_eur_null"),
        F.round(F.sum("value"), 2).alias("sum_value"),
        F.round(F.sum("value_eur"), 2).alias("sum_value_eur"),
    )


@query(
    "file_metadata_lineage",
    tier="S-ext (_metadata hidden column: file-level lineage + row_index audit)",
    oracle="""
        SELECT CAST(ts AS DATE)          AS date,
               CAST(COUNT(*) AS BIGINT)  AS n_rows,
               CAST(1 AS BIGINT)         AS n_files,
               CAST(COUNT(*) AS BIGINT)  AS rows_by_index
        FROM events
        GROUP BY 1
    """,
)
def file_metadata_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Provenance at 100 TB is file-granular: Spark's hidden
    `_metadata` struct (file_name, row_index, ...) exposes, per ROW,
    which physical file it came from and its ordinal inside that file —
    no bookkeeping columns baked into the data, no input_file_name()
    string parsing. The fixture writes events date-partitioned with
    exactly one file per partition (repartition(date) before
    partitionBy(date): each date lives in one task), then certifies
    from the metadata alone that (a) every date directory really is a
    single file and (b) max(row_index)+1 re-derives the file's row
    count — the two invariants a file-lineage audit (bad-file
    quarantine, incremental re-ingest) rests on."""

    from ..sources.tables import load_table

    base = scratch_dir("lineage_")
    ev = load_table(spark, "events", sf_dir).withColumn("date", F.to_date("ts"))
    ev.repartition("date").write.partitionBy("date").parquet(f"{base}/t")
    back = spark.read.parquet(f"{base}/t").select(
        "date",
        F.col("_metadata.file_name").alias("fn"),
        F.col("_metadata.row_index").alias("ri"),
    )
    return back.groupBy("date").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("fn").alias("n_files"),
        (F.max("ri") + F.lit(1)).alias("rows_by_index"),
    )


@query(
    "api_sink_roundtrip",
    tier="S5+ (Python DataSource WRITER: task-level JSONL uplink, manifest-committed exactly-once)",
    oracle="""
        SELECT CAST(ts AS DATE) AS d, event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               ROUND(SUM(value), 2) AS sum_value
        FROM events GROUP BY 1, 2
    """,
)
def api_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Certifies the WRITE half of the custom connector
    (sources/api_datasource.py::EnergiUplinkWriter) end-to-end: the
    daily per-type rollup is pushed through
    ``df.write.format("energi_prices")`` — each task emits one JSONL
    document (the batch-POST shape), the driver-side commit atomically
    publishes a manifest of successful documents — then read back
    MANIFEST-FIRST (only committed files, the exactly-once contract)
    and returned; the oracle recomputes the rollup straight from the
    events table, so a value match proves the sink → manifest → read
    path loses and corrupts nothing (dates survive ISO round-trip,
    doubles survive shortest-repr JSON round-trip).

    100 TB: the writer inherits the rollup's partitioning — one
    document per task, no driver fan-in; the manifest is |tasks|
    entries. The abort path (failed/speculative tasks leaving orphan
    documents that the manifest never references) is exercised in
    tests/test_api_and_formats.py.
    """
    import json as _json

    from ..sources.api_datasource import EnergiPricesDataSource
    from ..sources.tables import load_table

    spark.dataSource.register(EnergiPricesDataSource)
    rollup = (
        load_table(spark, "events", sf_dir)
        .groupBy(F.col("ts").cast("date").alias("d"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )
    uplink = scratch_dir("uplink_")
    (
        rollup.write.format("energi_prices")
        .option("uplink_dir", uplink)
        .mode("append")
        .save()
    )
    with open(f"{uplink}/manifest.json", encoding="utf-8") as fh:
        manifest = _json.load(fh)
    back = spark.read.schema(
        "d string, event_type string, n_events long, sum_value double"
    ).json(manifest["files"])
    return back.select(
        F.to_date("d").alias("d"), "event_type", "n_events", "sum_value"
    )


@query(
    "api_sink_stream_roundtrip",
    tier="S5+T7 (Python DataSource STREAM writer: epoch-manifest exactly-once JSONL uplink)",
    oracle="""
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               ROUND(SUM(value), 2) AS sum_value
        FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def api_sink_stream_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Certifies the STREAMING write half of the custom connector
    (sources/api_datasource.py::EnergiUplinkStreamWriter), completing
    the connector matrix — batch read (api_source_daily_rollup),
    stream read (api_source_stream_rollup), batch write
    (api_sink_roundtrip), and now stream write. The events table is
    replayed as a MULTI-EPOCH stream (4-file source, 1 file per
    trigger) through ``writeStream.format("energi_prices")``: each
    micro-batch's tasks emit JSONL documents and the driver commit
    REPLACES that epoch's manifest entry atomically (replacement is
    what makes a micro-batch retry idempotent — certified under a
    forced double-commit in tests/test_api_and_formats.py). The rows
    are then read back MANIFEST-FIRST across all epochs and rolled up;
    the oracle recomputes the rollup straight from the events table, so
    a value match proves no epoch was lost, duplicated, or corrupted.

    100 TB: per-epoch parallelism is the micro-batch's partitioning
    (one document/POST per task, no driver fan-in); the manifest is
    |epochs| entries each |tasks| long, and an idempotent receiver gets
    its dedup key for free from the task-unique document names."""
    import json as _json

    from ..sources.api_datasource import EnergiPricesDataSource
    from ..sources.tables import load_table
    from ..streaming.ops import _ephemeral_checkpoint_dir, drain_conf
    from .streaming import _event_id_mod_stream

    spark.dataSource.register(EnergiPricesDataSource)
    base = scratch_dir("uplink_stream_")
    ev = load_table(spark, "events", sf_dir).select("event_id", "event_type", "value")
    stream = _event_id_mod_stream(spark, ev, base, n=4).select("event_type", "value")
    sink = f"{base}/uplink"
    with drain_conf(spark):
        q = (
            stream.writeStream.format("energi_prices")
            .option("uplink_dir", sink)
            .option("checkpointLocation", _ephemeral_checkpoint_dir())
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    with open(f"{sink}/stream_manifest.json", encoding="utf-8") as fh:
        epochs = _json.load(fh)["epochs"]
    files = sorted(f for e in epochs.values() for f in e["files"])
    back = spark.read.schema("event_type string, value double").json(files)
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .orderBy("event_type")
    )
