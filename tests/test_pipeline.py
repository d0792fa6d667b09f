"""End-to-end test of the flagship energy pipeline (the reference's
entire lifecycle, SURVEY.md §3.1) with fixture-replay HTTP: watermark
cold start, incremental resume, append semantics, audit column, retry."""

from __future__ import annotations

import datetime
import json

import pytest

import pyspark.sql.functions as F

from energi_data_etl_spark.pipeline.energy import run_incremental
from energi_data_etl_spark.sources.http_json import ApiConfig, fetch_plan, with_retry
from energi_data_etl_spark.sources.sinks import align_to_table_schema, latest_watermark, write_fact_table


def make_fake_fetcher(price_for):
    """Replay the public API's response shape (FIXTURES.md A1) from a
    deterministic function of (zone, date) parsed back out of the URL."""

    def fetcher(url: str) -> list[dict]:
        # .../prices/2024/01-05_SE3.json
        tail = url.rsplit("/", 2)
        year = int(tail[-2])
        md, zone = tail[-1].removesuffix(".json").split("_")
        month, day = map(int, md.split("-"))
        d = datetime.date(year, month, day)
        return [
            {
                "SEK_per_kWh": price_for(zone, d, h),
                "EUR_per_kWh": 0.1,
                "EXR": 11.0,
                "time_start": f"{d}T{h:02d}:00:00+01:00",
                "time_end": f"{d}T{h + 1:02d}:00:00+01:00",
            }
            for h in range(24)
        ]

    return fetcher


def test_cold_start_then_incremental_resume(spark, tmp_path):
    table = str(tmp_path / "fact")
    price = lambda zone, d, h: float(h) + (1000.0 if d >= datetime.date(2024, 1, 11) else 0.0)  # noqa: E731
    fetcher = make_fake_fetcher(price)
    today = datetime.date(2024, 1, 10)

    # cold start: no table → 10-day lookback (reference :45-46)
    assert run_incremental(spark, table, fetcher, str(tmp_path / "land1"), today)
    fact = spark.read.parquet(table)
    assert fact.count() == 4 * 11  # 4 zones × (today-10 .. today)
    assert latest_watermark(spark, table, "date") == datetime.date(2024, 1, 10)
    # daily mean of hourly 0..23 == reference's sum/len
    row = fact.filter("zone = 'SE3'").first()
    assert abs(row["avg_price"] - sum(range(24)) / 24) < 1e-9
    assert row["load_timestamp"] is not None  # audit column (S6)

    # incremental: resume from watermark+1 only (reference :43)
    assert run_incremental(spark, table, fetcher, str(tmp_path / "land2"), datetime.date(2024, 1, 12))
    fact2 = spark.read.parquet(table)
    assert fact2.count() == 4 * 13
    new_rows = fact2.filter("date > DATE'2024-01-10'")
    assert new_rows.count() == 8
    assert new_rows.agg(F.min("avg_price")).first()[0] > 1000  # only post-watermark days fetched

    # idempotent no-op when nothing is new (start > today path)
    assert not run_incremental(spark, table, fetcher, str(tmp_path / "land3"), datetime.date(2024, 1, 12))
    assert spark.read.parquet(table).count() == 4 * 13


def test_fetch_plan_is_zone_day_grid(spark):
    plan = fetch_plan(spark, datetime.date(2024, 1, 1), datetime.date(2024, 1, 3), zones=("SE1", "SE2"))
    rows = plan.collect()
    assert len(rows) == 6
    url = ApiConfig().url("SE1", datetime.date(2024, 1, 2))
    assert url == "https://www.elprisetjustnu.se/api/v1/prices/2024/01-02_SE1.json"  # :02d padding (ref :19)


def test_run_incremental_fetches_configured_url_template(spark, tmp_path):
    """`ApiConfig.url_template` decides every URL the backfill fetches:
    a mirror template reaches the fetcher for every zone-day. The
    fetcher echoes its URL into the landed record, so the landing
    documents show which URLs the executors asked for."""
    mirror = "http://mirror.test/energi/{zone}/{year}{month:02d}{day:02d}.json"

    def echo_url(url: str) -> list[dict]:
        return [{"SEK_per_kWh": 1.0, "EUR_per_kWh": 0.1, "EXR": 11.0, "time_start": url, "time_end": url}]

    land = tmp_path / "land"
    today = datetime.date(2024, 1, 3)
    assert run_incremental(spark, str(tmp_path / "fact"), echo_url, str(land), today, zones=("SE1", "SE2"),
                           cold_start_days=2, config=ApiConfig(url_template=mirror, retry_sleep_s=0))
    fetched = {json.loads(line)["time_start"] for p in land.glob("*.jsonl") for line in p.read_text().splitlines()}
    assert fetched == {f"http://mirror.test/energi/{z}/202401{d:02d}.json" for z in ("SE1", "SE2") for d in (1, 2, 3)}


def test_api_token_header_reaches_fetcher(spark, tmp_path):
    """Auth passthrough (reference reads API_TOKEN, energy_etl.py:13):
    a token configured on ApiConfig must arrive as an Authorization
    header on EVERY executor-side fetch, alongside any extra headers.
    The fetcher echoes the headers it received into the landed record,
    so the landing files are the proof the plumbing crossed the
    driver→task boundary."""
    from energi_data_etl_spark.sources.http_json import fetch_to_landing

    def echo_fetcher(url: str, headers: dict) -> list[dict]:
        return [{"SEK_per_kWh": 1.0, "EUR_per_kWh": 0.1, "EXR": 11.0,
                 "time_start": headers.get("Authorization", "MISSING"),
                 "time_end": headers.get("X-Client", "MISSING")}]

    cfg = ApiConfig(api_token="sekrit-token", extra_headers=(("X-Client", "energi-spark"),))
    plan = fetch_plan(spark, datetime.date(2024, 1, 1), datetime.date(2024, 1, 2), zones=("SE1",))
    fetch_to_landing(plan, str(tmp_path / "land"), fetcher=echo_fetcher, config=cfg)
    landed = [json.loads(line) for p in (tmp_path / "land").glob("*.jsonl") for line in p.read_text().splitlines()]
    assert len(landed) == 2  # one echoed record per (zone, day)
    assert all(r["time_start"] == "Bearer sekrit-token" for r in landed)
    assert all(r["time_end"] == "energi-spark" for r in landed)
    # no token → no Authorization header fabricated
    fetch_to_landing(plan, str(tmp_path / "land2"), fetcher=echo_fetcher, config=ApiConfig())
    landed2 = [json.loads(line) for p in (tmp_path / "land2").glob("*.jsonl") for line in p.read_text().splitlines()]
    assert all(r["time_start"] == "MISSING" for r in landed2)
    # legacy single-arg fetchers keep working untouched
    fetch_to_landing(plan, str(tmp_path / "land3"), fetcher=make_fake_fetcher(lambda z, d, h: 1.0), config=cfg)
    assert list((tmp_path / "land3").glob("*.jsonl"))


def test_retry_succeeds_after_failures():
    calls = {"n": 0}

    def flaky():
        calls["n"] += 1
        if calls["n"] < 3:
            raise ConnectionError("boom")
        return "ok"

    assert with_retry(flaky, num_retries=3, sleep_s=0.0) == "ok"
    assert calls["n"] == 3


def test_retry_exhausts_and_raises():
    def dead():
        raise ConnectionError("always")

    with pytest.raises(ConnectionError):
        with_retry(dead, num_retries=2, sleep_s=0.0)


def test_write_fact_table_skips_empty(spark, tmp_path):
    empty = spark.createDataFrame([], "date date, zone string, avg_price double")
    assert not write_fact_table(empty, str(tmp_path / "t"))  # reference :82 guard
    # no data file lands (Spark may commit a _SUCCESS marker), so the
    # path still reads as a cold start: no watermark, nothing to align to
    table = tmp_path / "t"
    assert not [f for f in table.rglob("*") if f.is_file() and not f.name.startswith(("_", "."))]
    assert latest_watermark(spark, str(table), "date") is None
    assert align_to_table_schema(empty, spark, str(table)) is empty
    today = datetime.date(2024, 1, 10)
    fetcher = make_fake_fetcher(lambda zone, d, h: 1.0)
    assert run_incremental(spark, str(table), fetcher, str(tmp_path / "land"), today, zones=("SE1",), cold_start_days=2)
    assert spark.read.parquet(str(table)).count() == 3  # today-2 .. today
    assert latest_watermark(spark, str(table), "date") == today


LISTING_THRESHOLD = "spark.sql.sources.parallelPartitionDiscovery.threshold"


def _date_partitioned_table(path, n_days: int) -> None:
    """A fact table of `n_days` `date=` partitions from 2023-01-01, two
    zones each, in the layout `write_fact_table` produces (written with
    pyarrow, so building it starts no Spark job)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    for i in range(n_days):
        part = path / f"date={datetime.date(2023, 1, 1) + datetime.timedelta(days=i)}"
        part.mkdir(parents=True)
        pq.write_table(pa.table({"zone": ["SE1", "SE2"], "avg_price": [float(i), 2.0 * i]}), part / "part-0.parquet")


def test_partitioned_reads_start_no_listing_job(spark, tmp_path):
    """Guard: reading a 100-partition fact table must not start Spark's
    listing job, which runs one task per `date=` directory. The session
    lists them on the driver, so the watermark runs a handful of tasks
    and the bare read at most a schema job. Tasks are counted as the
    benchmark's traced run counts them."""
    from perfbench.trace import Tracer

    n = 100
    table = tmp_path / "fact"
    _date_partitioned_table(table, n)
    tracer = Tracer(spark.sparkContext, "listing-guard")
    tracer.enabled = True
    with tracer.span("sinks.latest_watermark") as wm:
        latest_watermark(spark, str(table), "date")
    with tracer.span("read") as read:
        spark.read.parquet(str(table))
    assert 0 < wm["jobs"] and wm["tasks"] < n, wm
    assert read["tasks"] < n, read


def test_partition_listing_modes_agree(spark, tmp_path):
    """Spark's parallel listing job and the driver-side listing see the
    same table: 100 pyarrow partitions, one Spark-appended partition,
    a `_temporary/` directory holding a data file, and a `date=`
    directory holding only a `_SUCCESS` marker and a `.crc` file."""
    from energi_data_etl_spark.pipeline.energy import zone_summary

    table = tmp_path / "fact"
    _date_partitioned_table(table, 100)
    appended = spark.createDataFrame(
        [(datetime.date(2023, 6, 1), "SE3", 7.0)], "date date, zone string, avg_price double"
    )
    assert write_fact_table(appended, str(table), audit=False)
    stray = table / "_temporary" / "0" / "date=2099-01-01"
    stray.mkdir(parents=True)
    (table / "date=2023-04-10" / "part-0.parquet").rename(stray / "part-0.parquet")
    marker_only = table / "date=2098-01-01"
    marker_only.mkdir()
    (marker_only / "_SUCCESS").write_text("")
    (marker_only / ".part-0.parquet.crc").write_text("")

    def answers():
        fact = spark.read.parquet(str(table))
        summary = sorted(tuple(r) for r in zone_summary(fact, value_col="avg_price").collect())
        return latest_watermark(spark, str(table), "date"), fact.count(), summary

    engine = spark.conf.get(LISTING_THRESHOLD)
    try:
        spark.conf.set(LISTING_THRESHOLD, "32")  # Spark's default: the listing job
        parallel = answers()
    finally:
        spark.conf.set(LISTING_THRESHOLD, engine)
    driver = answers()
    assert driver == parallel
    assert driver[0] == datetime.date(2023, 6, 1)
    assert driver[1] == 2 * 99 + 1  # date=2023-04-10 moved under _temporary/


def test_local_sessions_list_partitions_on_the_driver():
    """The session rule: a `local[...]` master lists partition
    directories on the driver, any other master keeps Spark's parallel
    listing. Checked on master strings, so no cluster starts."""
    from types import SimpleNamespace

    from energi_data_etl_spark.session import LOCAL_LISTING_THRESHOLD, apply_engine_conf

    class Conf(dict):
        def set(self, key, value):
            self[key] = value

    def applied(master):
        fake = SimpleNamespace(sparkContext=SimpleNamespace(master=master), conf=Conf())
        return apply_engine_conf(fake).conf

    for master in ("local", "local[4]", "local[*]"):
        assert applied(master)[LISTING_THRESHOLD] == str(LOCAL_LISTING_THRESHOLD)
    for master in ("yarn", "spark://host:7077", "k8s://https://host:443", "mesos://host:5050"):
        conf = applied(master)
        assert LISTING_THRESHOLD not in conf
        assert conf["spark.sql.session.timeZone"] == "UTC"  # the rest of the engine conf still applies


def test_partition_pruning_on_fact_table(spark, tmp_path):
    """The layout contract: date filters on the partitioned fact table
    must prune partitions (PartitionFilters), not scan them."""
    from energi_data_etl_spark.plans.inspect import explain_str

    df = spark.createDataFrame(
        [(datetime.date(2024, 1, d), "SE1", float(d)) for d in range(1, 6)],
        "date date, zone string, avg_price double",
    )
    path = str(tmp_path / "fact")
    write_fact_table(df, path)
    q = spark.read.parquet(path).filter("date = DATE'2024-01-03'")
    plan = explain_str(q)
    assert "PartitionFilters" in plan
    assert q.count() == 1


def test_schema_evolution_aligned_append(spark, tmp_path):
    """A batch with a NEW column and a MISSING column appends cleanly
    after align_to_table_schema: old rows read back with NULL for the
    added column, the aligned batch carries NULL for the column it
    stopped producing, and mergeSchema presents one union schema."""
    from energi_data_etl_spark.sources.sinks import align_to_table_schema, write_fact_table

    path = str(tmp_path / "fact")
    v1 = spark.createDataFrame(
        [("SE1", datetime.date(2024, 1, 1), 10.0)], "zone string, date date, avg_price double"
    )
    write_fact_table(v1, path, audit=False)

    # v2 drops avg_price, adds n_obs
    v2 = spark.createDataFrame(
        [("SE1", datetime.date(2024, 1, 2), 24)], "zone string, date date, n_obs bigint"
    )
    aligned = align_to_table_schema(v2, spark, path)
    # table order (partition column 'date' reads back last) + new cols
    assert aligned.columns == ["zone", "avg_price", "date", "n_obs"]
    write_fact_table(aligned, path, audit=False)

    merged = spark.read.option("mergeSchema", "true").parquet(path).orderBy("date")
    rows = merged.collect()
    assert set(merged.columns) == {"zone", "date", "avg_price", "n_obs"}
    assert rows[0].avg_price == 10.0 and rows[0].n_obs is None
    assert rows[1].avg_price is None and rows[1].n_obs == 24


def test_schema_alignment_cold_start_passthrough(spark, tmp_path):
    from energi_data_etl_spark.sources.sinks import align_to_table_schema

    df = spark.createDataFrame([(1,)], "x int")
    assert align_to_table_schema(df, spark, str(tmp_path / "nope")) is df


def test_schema_alignment_is_case_insensitive(spark, tmp_path):
    """A case-variant rename upstream ('Zone' for 'zone') aligns to the
    table's spelling instead of NULL-filling a duplicate column."""
    from energi_data_etl_spark.sources.sinks import align_to_table_schema, write_fact_table

    path = str(tmp_path / "fact")
    v1 = spark.createDataFrame(
        [("SE1", datetime.date(2024, 1, 1), 10.0)], "zone string, date date, avg_price double"
    )
    write_fact_table(v1, path, audit=False)
    v2 = spark.createDataFrame(
        [("SE2", datetime.date(2024, 1, 2), 11.0)], "Zone string, date date, avg_price double"
    )
    aligned = align_to_table_schema(v2, spark, path)
    assert aligned.columns.count("zone") == 1 and "Zone" not in aligned.columns
    assert aligned.filter(F.col("zone") == "SE2").count() == 1


def test_load_dotenv_parses_and_respects_existing_env(tmp_path, monkeypatch):
    """The reference's load_dotenv() twin (energy_etl.py:10): KEY=VALUE
    parsing with comments/quotes/export handled, existing environment
    NEVER overridden by default, missing file tolerated."""
    import os

    from energi_data_etl_spark.sources.http_json import ApiConfig, load_dotenv

    env = tmp_path / ".env"
    env.write_text(
        "# comment\n"
        "API_TOKEN='from-file'\n"
        'export EXTRA_FLAG="quoted value"\n'
        "PLAIN=bare\n"
        "\n"
        "not a kv line\n"
    )
    monkeypatch.delenv("API_TOKEN", raising=False)
    monkeypatch.setenv("PLAIN", "preexisting")
    parsed = load_dotenv(str(env))
    assert parsed == {"API_TOKEN": "from-file", "EXTRA_FLAG": "quoted value", "PLAIN": "bare"}
    assert os.environ["API_TOKEN"] == "from-file"
    assert os.environ["EXTRA_FLAG"] == "quoted value"
    assert os.environ["PLAIN"] == "preexisting"  # no override by default
    monkeypatch.delenv("API_TOKEN", raising=False)
    monkeypatch.delenv("EXTRA_FLAG", raising=False)
    assert load_dotenv(str(tmp_path / "missing.env")) == {}

    monkeypatch.setenv("API_TOKEN", "from-env")
    cfg = ApiConfig.from_env(dotenv_path=str(env))
    assert cfg.api_token == "from-env"  # deployment env wins over the file
    assert cfg.headers()["Authorization"] == "Bearer from-env"
