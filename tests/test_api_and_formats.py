"""Engine API surface + multi-format IO round-trips."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from energi_data_etl_spark.api import Engine
from energi_data_etl_spark.sources.tables import load_table, read_any


def test_engine_sql_matches_dataframe_path(spark, sf_dir):
    eng = Engine(spark, sf_dir)
    via_sql = eng.sql(
        "SELECT l_returnflag, COUNT(*) AS n FROM lineitem GROUP BY l_returnflag"
    ).collect()
    via_df = (
        eng.table("lineitem").groupBy("l_returnflag").agg(F.count(F.lit(1)).alias("n")).collect()
    )
    assert {(r.l_returnflag, r.n) for r in via_sql} == {(r.l_returnflag, r.n) for r in via_df}


def test_engine_zone_summary_is_dashboard_shape(spark, sf_dir):
    eng = Engine(spark, sf_dir)
    cards = {r.event_type: r.avg_value for r in eng.zone_summary(months=[1]).collect()}
    assert set(cards) == {"click", "view", "purchase", "signup", "error"}


def test_engine_daily_averages_compose_with_summary(spark, sf_dir):
    eng = Engine(spark, sf_dir)
    daily = eng.daily_averages(months=[1])
    assert daily.columns == ["date", "event_type", "avg_value"]
    assert daily.count() > 0


def test_engine_run_query_and_catalog(spark, sf_dir):
    eng = Engine(spark, sf_dir)
    assert "flagship_daily_avg" in eng.query_names()
    assert eng.run_query("flagship_daily_avg").count() > 0
    with pytest.raises(KeyError):
        eng.table("nope")


@pytest.mark.parametrize("fmt", ["orc", "csv", "json", "xml"])
def test_format_round_trip_matches_parquet(spark, sf_dir, tmp_path, fmt):
    """S-tier: the same table written/read via other formats yields the
    same rows (schema explicit for text formats; xml is the Spark 4
    native file source, r14)."""
    src = load_table(spark, "nation", sf_dir)
    path = str(tmp_path / f"nation_{fmt}")
    writer = src.write.format(fmt)
    if fmt == "csv":
        writer = writer.option("header", True)
    if fmt == "xml":
        writer = writer.option("rowTag", "nation")
    writer.save(path)
    back = read_any(
        spark,
        path,
        fmt,
        schema="n_nationkey int, n_name string, n_regionkey int",
        **({"header": True} if fmt == "csv" else {"rowTag": "nation"} if fmt == "xml" else {}),
    )
    assert {tuple(r) for r in back.collect()} == {tuple(r) for r in src.collect()}


def test_text_format_requires_schema(spark, tmp_path):
    with pytest.raises(ValueError):
        read_any(spark, str(tmp_path), "csv")


def test_python_datasource_reads_fixture_prices(spark, tmp_path):
    """The Spark 4 Python DataSource (format('energi_prices')) replays
    per-day fixture documents laid out like the API URL space: one
    InputPartition per zone-day, schema-explicit, no network."""
    import json as _json

    from energi_data_etl_spark.sources.api_datasource import EnergiPricesDataSource

    fx = tmp_path / "api" / "2024"
    fx.mkdir(parents=True)
    for day in ("01", "02"):
        for zone in ("SE1", "SE2"):
            recs = [
                {
                    "SEK_per_kWh": 1.0 + int(day) / 10 + hour / 100,
                    "EUR_per_kWh": 0.1,
                    "EXR": 11.0,
                    "time_start": f"2024-01-{day}T{hour:02d}:00:00+01:00",
                    "time_end": f"2024-01-{day}T{hour + 1:02d}:00:00+01:00",
                }
                for hour in range(3)
            ]
            (fx / f"01-{day}_{zone}.json").write_text(_json.dumps(recs))

    spark.dataSource.register(EnergiPricesDataSource)
    df = (
        spark.read.format("energi_prices")
        .option("start", "2024-01-01")
        .option("end", "2024-01-02")
        .option("zones", "SE1,SE2")
        .option("fixture_dir", str(tmp_path / "api"))
        .load()
    )
    rows = df.collect()
    # 2 zones x 2 days x 3 hourly records
    assert len(rows) == 12
    assert df.columns == ["zone", "date", "SEK_per_kWh", "EUR_per_kWh", "EXR", "time_start", "time_end"]
    # partition-parallel: the plan fans out one task per zone-day
    assert df.rdd.getNumPartitions() == 4
    jan2 = [r for r in rows if r.date.day == 2 and r.zone == "SE1"]
    assert len(jan2) == 3 and abs(jan2[0].SEK_per_kWh - 1.2) < 1e-9

    # downstream composition: the source behaves like any built-in format
    daily = df.groupBy("zone", "date").count().collect()
    assert all(r["count"] == 3 for r in daily)


def test_python_datasource_streams_day_per_microbatch(spark, tmp_path):
    """The streaming side of the source: offset = next unread day; each
    trigger catches up on every day since the offset (the
    checkpoint-durable twin of the reference's watermark-incremental
    daily run). AvailableNow drains exactly the configured day range,
    once — restarting on the same checkpoint re-reads nothing."""
    import json as _json

    from energi_data_etl_spark.sources.api_datasource import EnergiPricesDataSource

    fx = tmp_path / "api" / "2024"
    fx.mkdir(parents=True)
    for day in ("01", "02", "03"):
        recs = [{"SEK_per_kWh": float(day), "EUR_per_kWh": 0.1, "EXR": 11.0,
                 "time_start": f"2024-01-{day}T00:00:00+01:00",
                 "time_end": f"2024-01-{day}T01:00:00+01:00"}]
        (fx / f"01-{day}_SE1.json").write_text(_json.dumps(recs))

    spark.dataSource.register(EnergiPricesDataSource)

    def drain(name: str) -> None:
        stream = (
            spark.readStream.format("energi_prices")
            .option("start", "2024-01-01")
            .option("end", "2024-01-03")
            .option("zones", "SE1")
            .option("fixture_dir", str(tmp_path / "api"))
            .load()
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", str(tmp_path / "out"))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain("first")
    rows = spark.read.parquet(str(tmp_path / "out")).orderBy("date").collect()
    assert [r.SEK_per_kWh for r in rows] == [1.0, 2.0, 3.0]
    assert {r.zone for r in rows} == {"SE1"}
    # full DataSourceStreamReader: the catch-up batch plans one
    # partition per zone-day and reads them on executors — the sink
    # writes one file per task, so >1 data file proves the fan-out
    # (a driver-side Simple reader would emit a single partition)
    data_files = [p for p in (tmp_path / "out").glob("*.parquet")]
    assert len(data_files) == 3, data_files

    # exactly-once: a restart on the same checkpoint finds the offset
    # caught up and re-reads nothing
    drain("second")
    assert spark.read.parquet(str(tmp_path / "out")).count() == 3


def test_python_datasource_skip_missing_days(spark, tmp_path):
    """skip_missing=true yields zero rows for unpublished days instead
    of failing the task (the API 404s for future dates); without it the
    read raises — sparse-range backfills need the opt-in."""
    import json as _json

    from energi_data_etl_spark.sources.api_datasource import EnergiPricesDataSource

    fx = tmp_path / "api" / "2024"
    fx.mkdir(parents=True)
    # only day 01 exists of the requested 01..03 range
    recs = [{"SEK_per_kWh": 1.0, "EUR_per_kWh": 0.1, "EXR": 11.0,
             "time_start": "2024-01-01T00:00:00+01:00",
             "time_end": "2024-01-01T01:00:00+01:00"}]
    (fx / "01-01_SE1.json").write_text(_json.dumps(recs))

    spark.dataSource.register(EnergiPricesDataSource)

    def read(**extra):
        r = (
            spark.read.format("energi_prices")
            .option("start", "2024-01-01")
            .option("end", "2024-01-03")
            .option("zones", "SE1")
            .option("fixture_dir", str(tmp_path / "api"))
        )
        for k, v in extra.items():
            r = r.option(k, v)
        return r.load()

    rows = read(skip_missing="true").collect()
    assert len(rows) == 1 and rows[0].date.day == 1

    with pytest.raises(Exception, match="FileNotFoundError|No such file"):
        read().collect()


_HOUR = {"SEK_per_kWh": 1.5, "EUR_per_kWh": 0.1, "EXR": 11.0, "time_start": "00:00", "time_end": "01:00"}


class _PriceApiStub:
    """A scripted price API: each GET is recorded as (url, Authorization)
    and answered with the URL's next scripted status (default 200); 200
    carries one hourly record, any other status is an HTTP error. It
    serves in-process through a patched `urllib.request.urlopen`, or to
    executors over a localhost HTTP server."""

    def __init__(self, script: dict) -> None:
        self.script = {url: list(statuses) for url, statuses in script.items()}
        self.calls: list[tuple] = []

    def answer(self, url: str, auth) -> int:  # noqa: ANN001
        self.calls.append((url, auth))
        pending = self.script.get(url)
        return pending.pop(0) if pending else 200

    def urlopen(self, req, timeout=None):  # noqa: ANN001
        import io
        import json
        import urllib.error

        status = self.answer(req.full_url, req.get_header("Authorization"))
        if status != 200:
            raise urllib.error.HTTPError(req.full_url, status, "stub", None, None)
        return io.BytesIO(json.dumps([_HOUR]).encode())


def test_energi_prices_http_branch_gets_with_retry_and_token(monkeypatch):
    """The reader's HTTP branch, in-process: the URL comes from
    `url_template`, the Bearer header from `api_token`, a transient error
    is retried, and with skip_missing a 404 yields [] after ONE call."""
    import urllib.error
    import urllib.request

    from energi_data_etl_spark.sources.api_datasource import EnergiPricesReader, ZoneDayPartition

    day2, day3 = "http://mirror.test/prices/2024/01-02_SE1.json", "http://mirror.test/prices/2024/01-03_SE1.json"
    stub = _PriceApiStub({day2: [503], day3: [404]})
    monkeypatch.setattr(urllib.request, "urlopen", stub.urlopen)
    options = {
        "start": "2024-01-02", "end": "2024-01-03", "zones": "SE1",
        "url_template": "http://mirror.test/prices/{year}/{month:02d}-{day:02d}_{zone}.json",
        "api_token": "sekrit", "retry_sleep_s": "0", "skip_missing": "true",
    }
    reader = EnergiPricesReader(options)
    assert reader.fetch_records(ZoneDayPartition(zone="SE1", day="2024-01-02")) == [_HOUR]
    assert stub.calls == [(day2, "Bearer sekrit")] * 2  # one 503, retried once
    stub.calls.clear()
    assert reader.fetch_records(ZoneDayPartition(zone="SE1", day="2024-01-03")) == []
    assert stub.calls == [(day3, "Bearer sekrit")]  # the 404 burns no retry

    # without skip_missing the 404 fails the partition once the budget is spent
    stub.calls.clear()
    stub.script[day3] = [404, 404]
    strict = EnergiPricesReader({**options, "skip_missing": "false", "num_retries": "2"})
    with pytest.raises(urllib.error.HTTPError):
        strict.fetch_records(ZoneDayPartition(zone="SE1", day="2024-01-03"))
    assert len(stub.calls) == 2


def test_fetch_to_landing_default_fetcher_is_the_same_get(spark, tmp_path):
    """`fetch_to_landing` without a fetcher GETs `ApiConfig.url` on the
    executors through the same GET as the reader: the stub, served on
    localhost, sees the Bearer header and one retried transient error."""
    import datetime
    import http.server
    import json
    import threading

    from energi_data_etl_spark.sources.http_json import ApiConfig, fetch_plan, fetch_to_landing

    stub = _PriceApiStub({"/prices/2024/01-02_SE1.json": [503]})

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_GET(self):  # noqa: N802
            status = stub.answer(self.path, self.headers.get("Authorization"))
            body = json.dumps([_HOUR]).encode() if status == 200 else b""
            self.send_response(status)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *args):  # noqa: ANN002
            pass

    server = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=server.serve_forever, daemon=True).start()
    try:
        cfg = ApiConfig.at(f"http://127.0.0.1:{server.server_port}/prices", api_token="sekrit", retry_sleep_s=0)
        plan = fetch_plan(spark, datetime.date(2024, 1, 2), datetime.date(2024, 1, 2), zones=("SE1",))
        fetch_to_landing(plan, str(tmp_path / "land"), config=cfg)
    finally:
        server.shutdown()
        server.server_close()
    assert stub.calls == [("/prices/2024/01-02_SE1.json", "Bearer sekrit")] * 2
    landed = [json.loads(line) for p in (tmp_path / "land").glob("*.jsonl") for line in p.read_text().splitlines()]
    assert landed == [{"zone": "SE1", "date": "2024-01-02", **_HOUR}]


def test_compact_parquet_reduces_files_preserving_content(spark, sf_dir, tmp_path):
    """Compaction: 40 tiny files -> the byte-sized target count, rows
    and values identical, and sort_cols keeps per-file min/max ranges
    non-spanning on the sort key."""
    from energi_data_etl_spark.sources.maintenance import compact_parquet, parquet_layout_stats
    from energi_data_etl_spark.sources.tables import load_table

    src = str(tmp_path / "frag")
    dest = str(tmp_path / "compact")
    orders = load_table(spark, "orders", sf_dir)
    orders.repartition(40).write.parquet(src)
    n_before, total = parquet_layout_stats(spark, src)
    assert n_before >= 40

    stats = compact_parquet(
        spark, src, dest, target_file_bytes=max(1, total // 4), sort_cols=["o_orderkey"]
    )
    assert stats.n_files_before == n_before
    assert 1 <= stats.n_files_after <= 8
    assert stats.n_files_after < n_before
    assert stats.n_rows == orders.count()

    # content identical (order-insensitive)
    a = spark.read.parquet(dest).groupBy().agg(
        F.sum("o_orderkey"), F.sum(F.hash("o_orderstatus", "o_orderpriority").cast("bigint"))
    ).collect()
    b = orders.groupBy().agg(
        F.sum("o_orderkey"), F.sum(F.hash("o_orderstatus", "o_orderpriority").cast("bigint"))
    ).collect()
    assert a == b

    # within-file clustering: files' o_orderkey ranges should not all
    # span the whole key space (sortWithinPartitions keeps footer
    # min/max selective)
    per_file = (
        spark.read.parquet(dest)
        .groupBy(F.input_file_name().alias("f"))
        .agg(F.min("o_orderkey").alias("lo"), F.max("o_orderkey").alias("hi"))
        .collect()
    )
    assert len(per_file) == stats.n_files_after


def test_compact_parquet_preserves_partitioned_layout(spark, tmp_path):
    """Compacting a date-partitioned fact table with partition_by keeps
    the hive layout (date=.../ directories survive, pruning still
    works) and collapses each partition's file fragments."""
    import datetime

    from energi_data_etl_spark.plans.inspect import explain_str
    from energi_data_etl_spark.sources.maintenance import compact_parquet

    src, dest = str(tmp_path / "frag"), str(tmp_path / "compact")
    df = spark.createDataFrame(
        [(datetime.date(2024, 1, 1 + d % 3), "SE1", float(i)) for i, d in enumerate(range(60))],
        "date date, zone string, avg_price double",
    )
    # 10 round-robin tasks x 3 date partitions = ~30 file fragments
    df.repartition(10).write.partitionBy("date").parquet(src)
    frag_files = list((tmp_path / "frag").glob("date=*/*.parquet"))
    assert len(frag_files) >= 20

    stats = compact_parquet(spark, src, dest, target_file_bytes=1 << 30, partition_by=["date"])
    assert stats.n_rows == 60
    out_dirs = sorted(p.name for p in (tmp_path / "compact").glob("date=*"))
    assert out_dirs == ["date=2024-01-01", "date=2024-01-02", "date=2024-01-03"]
    out_files = list((tmp_path / "compact").glob("date=*/*.parquet"))
    # one exchange keyed on the partition column -> each date's rows
    # land in one task: exactly one data file per partition directory
    assert len(out_files) == 3, out_files

    q = spark.read.parquet(dest).filter("date = DATE'2024-01-02'")
    assert "PartitionFilters" in explain_str(q)
    assert q.count() == spark.read.parquet(src).filter("date = DATE'2024-01-02'").count()


# ---------------------------------------------------------------------------
# Python DataSource WRITER (EnergiUplinkWriter)
# ---------------------------------------------------------------------------


def test_uplink_writer_commit_abort_protocol(spark, sf_dir):
    """The writer's exactly-once contract, driven through real jobs plus
    a direct abort: (1) append jobs accumulate manifest entries; (2)
    overwrite replaces them; (3) abort removes the partial documents;
    (4) orphan files never referenced by the manifest are invisible to
    a manifest-first reader."""
    import json
    import os
    import tempfile

    from pyspark.sql import Row

    from energi_data_etl_spark.sources.api_datasource import (
        EnergiPricesDataSource,
        EnergiUplinkWriter,
    )
    from energi_data_etl_spark.sources.tables import load_table

    spark.dataSource.register(EnergiPricesDataSource)
    d = tempfile.mkdtemp(prefix="uplink_t_")
    df = (
        load_table(spark, "events", sf_dir)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    df.write.format("energi_prices").option("uplink_dir", d).mode("append").save()
    m1 = json.load(open(f"{d}/manifest.json"))
    df.write.format("energi_prices").option("uplink_dir", d).mode("append").save()
    m2 = json.load(open(f"{d}/manifest.json"))
    assert m2["n_rows"] == 2 * m1["n_rows"]  # append accumulated
    assert set(m1["files"]) < set(m2["files"])
    df.write.format("energi_prices").option("uplink_dir", d).mode("overwrite").save()
    m3 = json.load(open(f"{d}/manifest.json"))
    assert m3["n_rows"] == m1["n_rows"]  # overwrite replaced
    # every manifest file exists; orphans (from replaced jobs) may remain
    # on disk but a manifest-first reader never sees them
    assert all(os.path.exists(f) for f in m3["files"])
    back = spark.read.schema("event_type string, n long").json(m3["files"])
    assert back.count() == df.count()

    # direct abort: write a partition, then abort with its message
    w = EnergiUplinkWriter({"uplink_dir": d}, overwrite=False)
    msg = w.write(iter([Row(event_type="x", n=1)]))
    assert os.path.exists(msg.path)
    w.abort([msg])
    assert not os.path.exists(msg.path)


def test_uplink_stream_writer_epoch_protocol(spark, sf_dir):
    """The STREAM writer's epoch manifest: a multi-epoch drain produces
    one entry per micro-batch; re-committing the SAME batchId REPLACES
    its entry (micro-batch retry idempotence); abort removes partials."""
    import json
    import os
    import tempfile

    from pyspark.sql import Row

    from energi_data_etl_spark.sources.api_datasource import (
        EnergiPricesDataSource,
        EnergiUplinkStreamWriter,
    )
    from energi_data_etl_spark.sources.tables import load_table
    from energi_data_etl_spark.streaming.ops import _ephemeral_checkpoint_dir, drain_conf

    spark.dataSource.register(EnergiPricesDataSource)
    base = tempfile.mkdtemp(prefix="uplink_st_")
    src = f"{base}/src"
    load_table(spark, "events", sf_dir).select("event_type", "value").repartition(4).write.parquet(src)
    with drain_conf(spark):
        q = (
            spark.readStream.schema("event_type string, value double")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
            .writeStream.format("energi_prices")
            .option("uplink_dir", f"{base}/uplink")
            .option("checkpointLocation", _ephemeral_checkpoint_dir())
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    manifest = json.load(open(f"{base}/uplink/stream_manifest.json"))
    epochs = manifest["epochs"]
    assert len(epochs) >= 2, "1-file-per-trigger over 4 files must span multiple epochs"
    n_src = load_table(spark, "events", sf_dir).count()
    assert sum(e["n_rows"] for e in epochs.values()) == n_src
    assert all(os.path.exists(f) for e in epochs.values() for f in e["files"])

    # idempotent per-epoch commit: replaying batchId 0 REPLACES it
    w = EnergiUplinkStreamWriter({"uplink_dir": f"{base}/uplink"})
    replay = w.write(iter([Row(event_type="x", value=1.0)]))
    w.commit([replay], batchId=0)
    m2 = json.load(open(f"{base}/uplink/stream_manifest.json"))
    assert m2["epochs"]["0"] == {"files": [replay.path], "n_rows": 1}
    assert len(m2["epochs"]) == len(epochs)  # replaced, never appended
    # the superseded epoch-0 documents are orphans: on disk, unreferenced
    referenced = {f for e in m2["epochs"].values() for f in e["files"]}
    assert all(f not in referenced for f in epochs["0"]["files"])

    # abort removes the failed attempt's partials
    msg = w.write(iter([Row(event_type="y", value=2.0)]))
    assert os.path.exists(msg.path)
    w.abort([msg], batchId=99)
    assert not os.path.exists(msg.path)
    assert "99" not in json.load(open(f"{base}/uplink/stream_manifest.json"))["epochs"]


def test_python_datasource_days_per_epoch_bounds_and_resumes(spark, tmp_path):
    """VERDICT r13 item 8: days_per_epoch bounds how far latestOffset
    advances per trigger (the maxOffsetsPerTrigger analogue). Under the
    Python-source AvailableNow single-batch fallback, one run drains
    exactly ONE epoch and the durable checkpoint resumes the next —
    poll-shaped backfill with exactly-once across runs; a caught-up run
    adds nothing. Default (0/unset) keeps the one-epoch catch-up."""
    import json as _json

    from energi_data_etl_spark.sources.api_datasource import EnergiPricesDataSource

    fx = tmp_path / "api" / "2024"
    fx.mkdir(parents=True)
    for day in ("01", "02", "03", "04"):
        recs = [{"SEK_per_kWh": float(day), "EUR_per_kWh": 0.1, "EXR": 11.0,
                 "time_start": f"2024-01-{day}T00:00:00+01:00",
                 "time_end": f"2024-01-{day}T01:00:00+01:00"}]
        (fx / f"01-{day}_SE1.json").write_text(_json.dumps(recs))

    spark.dataSource.register(EnergiPricesDataSource)

    def drain() -> int:
        stream = (
            spark.readStream.format("energi_prices")
            .option("start", "2024-01-01")
            .option("end", "2024-01-04")
            .option("zones", "SE1")
            .option("fixture_dir", str(tmp_path / "api"))
            .option("days_per_epoch", "2")
            .load()
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", str(tmp_path / "out"))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return spark.read.parquet(str(tmp_path / "out")).count()

    assert drain() == 2  # first epoch: days 01-02
    assert drain() == 4  # resumed from checkpoint: days 03-04
    assert drain() == 4  # caught up: re-reads nothing
    rows = spark.read.parquet(str(tmp_path / "out")).orderBy("date").collect()
    assert [r.SEK_per_kWh for r in rows] == [1.0, 2.0, 3.0, 4.0]


def test_failed_write_job_is_invisible_to_manifest_reads(spark, tmp_path):
    """T7 under FAILURE, end-to-end: a write job that dies from a real
    executor-side exception mid-plan — after other tasks have already
    produced their documents — must leave committed state EXACTLY as
    before: manifest byte-identical, read-back value-identical. The
    protocol test above drives commit/abort directly; this one lets
    Spark fail the job for real and asserts the reader-visible
    invariant the manifest-first design exists for. At cluster scale
    this is the task-retry/speculation argument: failed or duplicate
    attempts only ever ADD orphan files; publication is solely the
    driver's commit() over successful attempts' messages — so any
    retry storm is read-invisible until a job completes.
    """
    import json
    import os

    from energi_data_etl_spark.sources.api_datasource import EnergiPricesDataSource

    spark.dataSource.register(EnergiPricesDataSource)
    uplink = str(tmp_path / "uplink")

    good = spark.range(0, 400, 1, 4).selectExpr("id", "id * 2 AS v")
    good.write.format("energi_prices").option("uplink_dir", uplink).mode("append").save()
    manifest_path = os.path.join(uplink, "manifest.json")
    before_bytes = open(manifest_path, "rb").read()
    before_rows = sorted(
        (r.id, r.v)
        for r in spark.read.schema("id long, v long")
        .json(json.loads(before_bytes)["files"])
        .collect()
    )
    assert len(before_rows) == 400

    def _poison(s):
        if (s == 10_777).any():
            raise RuntimeError("injected mid-write task failure")
        return s

    # explicit call form: the file's `from __future__ import annotations`
    # stringifies hints, which the decorator's eval-type inference rejects
    poison = F.pandas_udf(_poison, "long", F.PandasUDFType.SCALAR)

    # distinct value range (10k+) so any leak into read-back is visible;
    # only the partition holding 10_777 dies — the others' write() tasks
    # complete and return commit messages that commit() never publishes
    bad = spark.range(10_000, 10_800, 1, 4).select(poison(F.col("id")).alias("id")).selectExpr(
        "id", "id * 2 AS v"
    )
    with pytest.raises(Exception, match="injected mid-write task failure"):
        bad.write.format("energi_prices").option("uplink_dir", uplink).mode("append").save()

    assert open(manifest_path, "rb").read() == before_bytes  # nothing published
    after = sorted(
        (r.id, r.v)
        for r in spark.read.schema("id long, v long")
        .json(json.loads(open(manifest_path, "rb").read())["files"])
        .collect()
    )
    assert after == before_rows  # reader-visible state unchanged
    # the failed job may leave orphan documents on disk — every one must
    # be OUTSIDE the manifest (invisible), never half-referenced
    manifest_files = set(json.loads(before_bytes)["files"])
    on_disk = {
        os.path.join(uplink, f) for f in os.listdir(uplink) if f.startswith("doc-")
    }
    assert manifest_files <= on_disk


def test_stream_writer_failed_epoch_retries_exactly_once(spark, tmp_path):
    """T7's retry story end-to-end with a REAL failure and a REAL
    checkpoint restart: epoch 1 dies executor-side mid-write on the
    first run (sentinel-gated poison), the query fails with epoch 0
    already committed; clearing the sentinel and restarting the SAME
    checkpoint re-runs the failed epoch and drains to completion. The
    epoch manifest must then hold every source row exactly once —
    the failed attempt's documents stay orphaned, the retried epoch's
    entry is fresh, nothing double-counts. This is the claim the
    protocol test simulates with a forced double-commit, here driven
    by the actual engine recovery path."""
    import glob
    import json
    import os

    from energi_data_etl_spark.sources.api_datasource import EnergiPricesDataSource

    spark.dataSource.register(EnergiPricesDataSource)
    src = tmp_path / "src"
    src.mkdir()
    # three single-file chunks -> three epochs under maxFilesPerTrigger=1
    for c in range(3):
        spark.range(c * 100, (c + 1) * 100, 1, 1).selectExpr(
            "id", "id * 3 AS v"
        ).coalesce(1).write.parquet(str(src / f"chunk{c}"))
    sentinel = str(tmp_path / "poison_armed")
    open(sentinel, "w").close()

    def _poison(s):
        if (s == 155).any() and os.path.exists(sentinel):
            raise RuntimeError("injected epoch failure")
        return s

    poison = F.pandas_udf(_poison, "long", F.PandasUDFType.SCALAR)
    uplink = str(tmp_path / "uplink")

    def drain():
        stream = (
            spark.readStream.schema("id long, v long")
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src / "chunk*"))
            .select(poison(F.col("id")).alias("id"), "v")
        )
        q = (
            stream.writeStream.format("energi_prices")
            .option("uplink_dir", uplink)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    with pytest.raises(Exception, match="injected epoch failure"):
        drain()
    manifest = os.path.join(uplink, "stream_manifest.json")
    mid = json.load(open(manifest, encoding="utf-8"))["epochs"]
    assert all(int(e) < 3 for e in mid)  # only pre-failure epochs committed
    committed_mid = {f for e in mid.values() for f in e["files"]}

    os.remove(sentinel)  # disarm: the retried epoch now succeeds
    drain()

    final = json.load(open(manifest, encoding="utf-8"))["epochs"]
    assert sum(e["n_rows"] for e in final.values()) == 300
    files = [f for e in final.values() for f in e["files"]]
    assert all(os.path.exists(f) for f in files)
    back = spark.read.schema("id long, v long").json(files)
    ids = [r.id for r in back.collect()]
    assert sorted(ids) == list(range(300))  # every row exactly once
    assert {r.v for r in back.collect()} == {i * 3 for i in range(300)}
    # epoch 0's pre-failure entry survived the restart untouched, and
    # any leftover docs outside the final manifest are pure orphans
    assert committed_mid <= set(files)
    orphans = set(glob.glob(os.path.join(uplink, "epochdoc-*.jsonl"))) - set(files)
    assert not (orphans & committed_mid)
