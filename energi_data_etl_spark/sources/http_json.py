"""The one client for the reference's price API (SURVEY.md §2.1 S1/S2).

Reference behavior (scripts/energy_etl.py): a SERIAL loop over
zones × days (:53-79), one GET per zone-day (:64), 3 retries × 5 s
sleep (:61-78), parse JSON array of hourly prices (:67), keep
SEK_per_kWh (:69). Serial HTTP is the reference's #1 bottleneck
(BASELINE.md); here the (zone, day) fetch plan is a DataFrame and the
fetches run foreachPartition-parallel across executors — the retry
budget applies per task, not to the whole backfill.

This module holds, once, what every API path needs: the document path
and its formatter (`ApiConfig.url`), the GET (`get_json`), the retry
loop, the record schema (`PRICES_SCHEMA`) and the document write
(`write_document`). The landing backfill here (`fetch_plan` →
`fetch_to_landing` → `read_landing`) and `format("energi_prices")`
(sources/api_datasource.py) both call them. Tests replay fixtures
through the injectable ``fetcher`` or a fixture root laid out like the
URL space (SURVEY §2.1 S1 "tested via fixture replay").
"""

from __future__ import annotations

import json
import time
from collections.abc import Callable, Iterable, Sequence
from dataclasses import dataclass
from datetime import date as Date

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.datasource import WriterCommitMessage

__all__ = [
    "ApiConfig", "with_retry", "get_json", "fetch_plan", "fetch_to_landing", "read_landing",
    "write_document", "load_dotenv",
]

#: one day's document under an API root (reference energy_etl.py:19)
DOC_PATH = "{year}/{month:02d}-{day:02d}_{zone}.json"
#: elprisetjustnu.se API shape (reference energy_etl.py:19-20)
DEFAULT_URL_TEMPLATE = "https://www.elprisetjustnu.se/api/v1/prices/" + DOC_PATH
DEFAULT_ZONES = ("SE1", "SE2", "SE3", "SE4")

#: the hourly price record, as landed and as `format("energi_prices")` yields it
PRICES_SCHEMA = (
    "zone string, date date, SEK_per_kWh double, EUR_per_kWh double, "
    "EXR double, time_start string, time_end string"
)


def load_dotenv(path: str = ".env", override: bool = False) -> dict[str, str]:
    """Dependency-free twin of the reference's ``load_dotenv()``
    (`energy_etl.py:10` — it reads API_TOKEN from a .env file into the
    environment before building requests). Parses ``KEY=VALUE`` lines
    (``#`` comments and blanks skipped, optional ``export `` prefix,
    single/double quotes stripped), sets ``os.environ`` entries — by
    default WITHOUT overriding variables already set (python-dotenv's
    semantics, so real deployment env always wins over a checked-in
    file) — and returns what it parsed. Missing file → empty dict, the
    reference's tolerant behavior. Use with `ApiConfig.from_env()`."""
    import os

    parsed: dict[str, str] = {}
    try:
        with open(path, encoding="utf-8") as fh:
            for raw in fh:
                line = raw.strip()
                if not line or line.startswith("#") or "=" not in line:
                    continue
                if line.startswith("export "):
                    line = line[len("export "):]
                k, v = line.split("=", 1)
                k, v = k.strip(), v.strip()
                if len(v) >= 2 and v[0] == v[-1] and v[0] in "\"'":
                    v = v[1:-1]
                parsed[k] = v
                if override or k not in os.environ:
                    os.environ[k] = v
    except OSError:
        return {}
    return parsed


@dataclass(frozen=True)
class ApiConfig:
    #: where a zone-day's document lives: an API root (or a fixture
    #: root, see `at`) followed by `DOC_PATH`
    url_template: str = DEFAULT_URL_TEMPLATE
    num_retries: int = 3  # reference :61
    retry_sleep_s: float = 5.0  # reference :78
    #: bearer token (reference reads API_TOKEN from env, energy_etl.py:13 —
    #: the public API ignores it, but a tokened API needs it on every GET)
    api_token: str | None = None
    #: extra request headers as (name, value) pairs (hashable: frozen dataclass)
    extra_headers: tuple[tuple[str, str], ...] = ()

    @classmethod
    def from_env(cls, dotenv_path: str | None = ".env", **overrides) -> "ApiConfig":
        """The reference's config path (`energy_etl.py:10-13`):
        `load_dotenv()` then read ``API_TOKEN`` from the environment.
        ``dotenv_path=None`` skips the file read (env-only)."""
        import os

        if dotenv_path is not None:
            load_dotenv(dotenv_path)
        overrides.setdefault("api_token", os.environ.get("API_TOKEN"))
        return cls(**overrides)

    @classmethod
    def at(cls, root: str, **fields) -> "ApiConfig":
        """The config whose documents live under ``root`` (a mirror URL
        or a fixture directory laid out like the API URL space)."""
        return cls(url_template=f"{root.rstrip('/')}/{DOC_PATH}", **fields)

    def url(self, zone: str, day: Date) -> str:
        """The zone-day document's URL (or fixture path)."""
        return self.url_template.format(year=day.year, month=day.month, day=day.day, zone=zone)

    def headers(self) -> dict[str, str]:
        """Request headers for every fetch task: Authorization from the
        token (if set) plus any extras. Computed driver-side once and
        shipped in the task closure — no per-request rebuild."""
        h = dict(self.extra_headers)
        if self.api_token:
            h["Authorization"] = f"Bearer {self.api_token}"
        return h


def with_retry(fn: Callable[[], object], num_retries: int = 3, sleep_s: float = 5.0):
    """The reference's retry-with-fixed-sleep (:61-78), as a reusable
    task-level wrapper: last error re-raised instead of swallowed (the
    reference prints and moves on; under Spark, raising lets the task
    retry budget and the skip-empty guard do their jobs)."""
    last: Exception | None = None
    for _ in range(num_retries):
        try:
            return fn()
        except Exception as exc:  # noqa: BLE001
            last = exc
            time.sleep(sleep_s)
    assert last is not None
    raise last


def get_json(url: str, headers: dict[str, str] | None = None, missing_ok: bool = False) -> list[dict]:
    """One GET → parsed JSON (reference :64-67). With ``missing_ok`` a
    404 (day not published yet) returns ``[]`` at once: it is
    deterministic, so it must not burn the caller's retry budget."""
    import urllib.error
    import urllib.request

    req = urllib.request.Request(url, headers=headers or {})  # noqa: S310
    try:
        with urllib.request.urlopen(req, timeout=30) as resp:  # noqa: S310
            return json.loads(resp.read().decode("utf-8"))
    except urllib.error.HTTPError as exc:
        if missing_ok and exc.code == 404:
            return []
        raise


@dataclass
class UplinkCommit(WriterCommitMessage):
    """A written document and its row count (picklable: plain dataclass)."""

    path: str
    n_rows: int


def write_document(directory: str, prefix: str, rows: Iterable[dict]) -> UplinkCommit:
    """Write ``rows`` as one task-unique JSON-lines document
    ``{directory}/{prefix}<uuid>.jsonl``. The file is staged under a
    hidden name and renamed into place, so `spark.read.json` over the
    directory never sees a partial document."""
    import os
    import uuid

    os.makedirs(directory, exist_ok=True)
    name = f"{prefix}{uuid.uuid4().hex}.jsonl"
    path, staged = os.path.join(directory, name), os.path.join(directory, f".{name}")
    n = 0
    with open(staged, "w", encoding="utf-8") as fh:
        for row in rows:
            fh.write(json.dumps(row, default=str, sort_keys=True))
            fh.write("\n")
            n += 1
    os.rename(staged, path)
    return UplinkCommit(path=path, n_rows=n)


def fetch_plan(spark: SparkSession, start: Date, end: Date, zones: Sequence[str] = DEFAULT_ZONES) -> DataFrame:
    """The backfill calendar as a DataFrame of (zone, date) rows — the
    reference's nested loop (:53-55) declaratively (sequence + explode),
    so Spark distributes the fetch work."""
    zones_df = spark.createDataFrame([(z,) for z in zones], "zone string")
    days = F.explode(
        F.sequence(F.lit(start.isoformat()).cast("date"), F.lit(end.isoformat()).cast("date"))
    ).alias("date")
    return zones_df.select("zone", days)


def fetch_to_landing(
    plan: DataFrame,
    landing_dir: str,
    fetcher: Callable[[str], list[dict]] | None = None,
    config: ApiConfig = ApiConfig(),
) -> None:
    """Distributed fetch: each partition of the (zone, date) plan
    fetches its `config.url` documents (with the reference's retry
    policy) and writes the JSON-lines rows {zone, date, <hourly record>}
    as one landing document; a partition that fetched nothing writes
    none. ``fetcher`` defaults to `get_json`; a fetcher taking only the
    URL is called without headers.

    At scale, point the landing zone at object storage; the downstream
    read is schema-explicit either way.
    """
    import inspect
    from functools import partial

    fetch = fetcher or get_json
    num_retries, sleep_s = config.num_retries, config.retry_sleep_s
    # decide driver-side whether the fetcher takes headers (single-arg
    # fetchers keep working) — no inspect calls on executors
    extra = (config.headers(),) if len(inspect.signature(fetch).parameters) >= 2 else ()

    def fetch_partition(rows: Iterable) -> Iterable:
        out = []
        for r in rows:
            records = with_retry(partial(fetch, config.url(r.zone, r.date), *extra), num_retries, sleep_s)
            out.extend({"zone": r.zone, "date": r.date, **rec} for rec in records)
        if out:
            write_document(landing_dir, "part-", out)
        return iter(())

    # foreachPartition-style execution: the work happens executor-side
    plan.rdd.mapPartitions(fetch_partition).count()


def read_landing(spark: SparkSession, landing_dir: str) -> DataFrame:
    """Schema-explicit landing read (never infer: SURVEY §1.3) — the
    from_json-with-declared-schema twin of the reference's response.json()."""
    return spark.read.schema(PRICES_SCHEMA).json(landing_dir)
