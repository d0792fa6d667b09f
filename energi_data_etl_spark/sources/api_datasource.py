"""The reference's HTTP price API as a REAL Spark data source
(SURVEY.md §2.1 S1/S2 via the Spark 4 Python DataSource API).

`http_json.fetch_to_landing` distributes the reference's serial
zone × day loop (scripts/energy_etl.py:53-79) with mapPartitions;
this module goes one step further and makes the API a first-class
`spark.read.format("energi_prices")` source:

    spark.dataSource.register(EnergiPricesDataSource)
    df = (spark.read.format("energi_prices")
          .option("start", "2024-01-01").option("end", "2024-01-07")
          .option("zones", "SE1,SE2,SE3,SE4")
          .load())

Why it matters at scale: the planner sees one InputPartition per
zone-day, so a year × 4-zone backfill fans out as ~1460 independent
tasks with per-task retry (the reference's 3×5 s budget, :61-78) —
and the source composes with every downstream DataFrame op, checkpoint,
and AQE decision like any built-in format.

It is a thin adapter over `sources/http_json.py`, the one API client:
the reader's string options become an `ApiConfig`, whose `url`
formats the zone-day document path for both branches — the HTTP
branch (`get_json` under `with_retry`, headers from `ApiConfig.headers`)
and the offline branch, which reads the same documents from a
`fixture_dir` laid out exactly like the API URL space (the container
has no network; SURVEY §2.1 "tested via fixture replay"). Batch and
stream readers yield the same Arrow batch of `PRICES_SCHEMA` rows, and
both uplink writers write their documents with `write_document`.
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from datetime import date as Date
from datetime import timedelta
from functools import partial

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    InputPartition,
)

from .http_json import (
    DEFAULT_URL_TEMPLATE,
    DEFAULT_ZONES,
    PRICES_SCHEMA,
    ApiConfig,
    UplinkCommit,
    get_json,
    with_retry,
    write_document,
)

#: Arrow type of each `PRICES_SCHEMA` column type
_ARROW_TYPES = {"string": "string", "date": "date32", "double": "float64"}


def _arrow_schema():
    import pyarrow as pa

    cols = (c.split() for c in PRICES_SCHEMA.split(","))
    return pa.schema([(name, getattr(pa, _ARROW_TYPES[kind])()) for name, kind in cols])


@dataclass
class ZoneDayPartition(InputPartition):
    zone: str
    day: str  # ISO date — keep partitions trivially picklable


class EnergiPricesReader(DataSourceReader):
    def __init__(self, options: dict) -> None:
        self.start = Date.fromisoformat(options["start"])
        self.end = Date.fromisoformat(options["end"])
        self.zones = tuple(z.strip() for z in options.get("zones", ",".join(DEFAULT_ZONES)).split(","))
        self.fixture_dir = options.get("fixture_dir")
        fields = {
            "num_retries": int(options.get("num_retries", "3")),
            "retry_sleep_s": float(options.get("retry_sleep_s", "5")),
            "api_token": options.get("api_token"),
        }
        self.config = (
            ApiConfig.at(self.fixture_dir, **fields)
            if self.fixture_dir is not None
            else ApiConfig(url_template=options.get("url_template", DEFAULT_URL_TEMPLATE), **fields)
        )
        #: tolerate days the API hasn't published yet (404 / missing
        #: fixture) by yielding zero rows for that partition instead of
        #: failing the task — the backfill-over-a-sparse-range mode
        self.skip_missing = options.get("skip_missing", "false").lower() == "true"

    def partitions(self) -> list[ZoneDayPartition]:
        """One InputPartition per zone-day: the fetch plan IS the
        partitioning, so executor-side parallelism equals the backfill
        width (a year × 4 zones ≈ 1460 tasks) with per-task retry."""
        n_days = (self.end - self.start).days + 1
        return [
            ZoneDayPartition(zone=z, day=(self.start + timedelta(days=i)).isoformat())
            for z in self.zones
            for i in range(n_days)
        ]

    def fetch_records(self, partition: ZoneDayPartition) -> list[dict]:
        """The day's raw API documents (fixture replay or HTTP+retry);
        [] when skip_missing tolerates an unpublished day."""
        cfg = self.config
        url = cfg.url(partition.zone, Date.fromisoformat(partition.day))
        if self.fixture_dir is None:
            get = partial(get_json, url, cfg.headers(), missing_ok=self.skip_missing)
            return with_retry(get, cfg.num_retries, cfg.retry_sleep_s)
        try:
            with open(url) as f:
                return json.load(f)
        except FileNotFoundError:
            if self.skip_missing:
                return []
            raise

    def read(self, partition: ZoneDayPartition):
        records = self.fetch_records(partition)
        if not records:
            return
        # one Arrow RecordBatch per partition (the Python DataSource
        # vectorized path): the day's whole response moves to the JVM
        # as one columnar batch instead of per-row pickled tuples
        import pyarrow as pa

        day = Date.fromisoformat(partition.day)
        yield pa.RecordBatch.from_pylist(
            [{"zone": partition.zone, "date": day, **rec} for rec in records], schema=_arrow_schema()
        )


class EnergiPricesStreamReader(DataSourceStreamReader):
    """Incremental poll of the same API via the FULL stream-reader API:
    offset = the next unread day; each trigger catches up on EVERY day
    between the offset and `end` — the streaming twin of the
    reference's daily incremental run (energy_etl.py:39-48 reads the
    watermark, fetches all missing days; here the offset log IS the
    watermark, checkpoint-durable and exactly-once by construction).

    Full (not Simple) reader on purpose: SimpleDataSourceStreamReader
    fetches on the DRIVER, serializing a backfill through one process.
    Here `partitions(start, end)` plans one InputPartition per zone-day
    inside the offset range and `read(partition)` runs on EXECUTORS —
    a year's stream catch-up fans out ~1460 ways with per-task retry,
    exactly like the batch reader. Replay after restart is derived from
    the committed offset range (partitions are a pure function of it),
    so exactly-once needs no driver-side row cache.

    Epoch sizing (VERDICT r13 item 8): ``days_per_epoch`` bounds how
    far latestOffset advances per trigger — the maxOffsetsPerTrigger
    analogue. The default (0 = unbounded) keeps catch-up semantics:
    ONE epoch covers the whole remaining range, so a backfill pays the
    ~0.6 s/epoch micro-batch machinery once, not per day. A positive
    value splits a long backfill into retry-sized epochs (bounded
    per-batch work at 100 TB ranges; the offset log then records
    per-epoch progress). NOTE: Python stream sources run AvailableNow
    as a SINGLE batch (engine fallback, r06) — with days_per_epoch set,
    one AvailableNow run drains ONE epoch and resumes from the durable
    checkpoint on the next run (poll-shaped); use a processingTime
    trigger to drain epoch-after-epoch to caught-up in one query."""

    def __init__(self, options: dict) -> None:
        self._batch = EnergiPricesReader(options)
        self._days_per_epoch = int(options.get("days_per_epoch", "0"))
        if self._days_per_epoch < 0:
            raise ValueError("days_per_epoch must be >= 0 (0 = unbounded catch-up)")
        self._cursor: Date | None = None  # last offset this reader reported

    def initialOffset(self) -> dict:
        return {"next_day": self._batch.start.isoformat()}

    def latestOffset(self) -> dict:
        # everything up to the configured end is available; each
        # trigger's batch covers the whole remaining range (catch-up
        # semantics, same as the reference's incremental run) unless
        # days_per_epoch bounds the advance.
        cap = self._batch.end + timedelta(days=1)
        if self._days_per_epoch <= 0:
            return {"next_day": cap.isoformat()}
        cur = self._cursor if self._cursor is not None else self._batch.start
        nxt = min(cur + timedelta(days=self._days_per_epoch), cap)
        self._cursor = nxt
        return {"next_day": nxt.isoformat()}

    def partitions(self, start: dict, end: dict) -> list[ZoneDayPartition]:
        day = Date.fromisoformat(start["next_day"])
        stop = Date.fromisoformat(end["next_day"])
        if self._days_per_epoch > 0 and (self._cursor is None or self._cursor < stop):
            # restart path: the checkpoint's range can be ahead of a
            # fresh reader's cursor — never re-report an older offset
            self._cursor = stop
        parts = []
        while day < stop:
            parts.extend(
                ZoneDayPartition(zone=z, day=day.isoformat()) for z in self._batch.zones
            )
            day = day + timedelta(days=1)
        return parts

    def read(self, partition: ZoneDayPartition):
        # executor-side: the batch reader's fetch and Arrow batch
        return self._batch.read(partition)

    def commit(self, end: dict) -> None:
        # offsets are externally durable (the API's history is
        # immutable); nothing to clean up
        return


class EnergiPricesDataSource(DataSource):
    """`format("energi_prices")` — the reference API as a native source."""

    @classmethod
    def name(cls) -> str:
        return "energi_prices"

    def schema(self) -> str:
        return PRICES_SCHEMA

    def reader(self, schema) -> EnergiPricesReader:  # noqa: ANN001
        return EnergiPricesReader(self.options)

    def streamReader(self, schema) -> EnergiPricesStreamReader:  # noqa: ANN001
        return EnergiPricesStreamReader(self.options)

    def writer(self, schema, overwrite: bool) -> "EnergiUplinkWriter":  # noqa: ANN001
        return EnergiUplinkWriter(self.options, overwrite)

    def streamWriter(self, schema, overwrite: bool) -> "EnergiUplinkStreamWriter":  # noqa: ANN001
        return EnergiUplinkStreamWriter(self.options)


class _UplinkDocuments:
    """What both uplink writers share: the required ``uplink_dir``, the
    per-task document (`http_json.write_document` under ``PREFIX``),
    the abort that removes a failed job's documents, and the locked
    read-merge-publish of ``MANIFEST``."""

    PREFIX = ""
    MANIFEST = ""

    def __init__(self, options) -> None:  # noqa: ANN001
        self.uplink_dir = options.get("uplink_dir")
        if not self.uplink_dir:
            raise ValueError(f"{type(self).__name__} requires .option('uplink_dir', ...)")

    def write(self, iterator) -> UplinkCommit:  # noqa: ANN001
        return write_document(self.uplink_dir, self.PREFIX, (row.asDict() for row in iterator))

    def abort(self, messages, batchId: int | None = None) -> None:  # noqa: ANN001, N803
        import contextlib
        import os

        for m in messages:
            if m is not None:
                with contextlib.suppress(OSError):
                    os.remove(m.path)

    def _publish(self, merge) -> None:  # noqa: ANN001
        """Replace the manifest with ``merge(published)`` (None before the
        first commit), staged + renamed under an exclusive flock: two
        concurrent jobs appending into one uplink_dir would otherwise
        interleave read→merge→rename and drop one job's documents. On
        object stores (no flock) the contract is one writer per
        uplink_dir, which a stream (one driver) meets by construction."""
        import fcntl
        import os

        os.makedirs(self.uplink_dir, exist_ok=True)
        manifest = os.path.join(self.uplink_dir, self.MANIFEST)
        fd = os.open(os.path.join(self.uplink_dir, ".manifest.lock"), os.O_CREAT | os.O_RDWR, 0o644)
        try:
            fcntl.flock(fd, fcntl.LOCK_EX)
            published = None
            if os.path.exists(manifest):
                with open(manifest, encoding="utf-8") as fh:
                    published = json.load(fh)
            tmp = manifest + ".inprogress"
            with open(tmp, "w", encoding="utf-8") as fh:
                json.dump(merge(published), fh)
            os.rename(tmp, manifest)
        finally:
            fcntl.flock(fd, fcntl.LOCK_UN)
            os.close(fd)


class EnergiUplinkWriter(_UplinkDocuments, DataSourceWriter):
    """The WRITE half of the connector: each task writes its partition
    as one JSON-lines document (the body a batch POST to a reporting API
    would carry) and returns an :class:`UplinkCommit`; ``commit``
    (driver) publishes ``manifest.json`` listing ONLY committed
    documents, and ``abort`` removes a failed job's documents. Readers
    that honor the manifest (lifecycle.api_sink_roundtrip) never see
    output of failed or speculative tasks: retries leave orphans the
    manifest never references.

    Offline, the "POST" lands in ``uplink_dir``; at cluster scale that is
    shared storage, or ``write`` swaps the file for the POST under
    http_json.with_retry with the commit protocol unchanged."""

    PREFIX, MANIFEST = "doc-", "manifest.json"

    def __init__(self, options, overwrite: bool) -> None:  # noqa: ANN001
        super().__init__(options)
        self.overwrite = overwrite

    def commit(self, messages) -> None:  # noqa: ANN001
        done = [m for m in messages if m is not None]
        files, total = {m.path for m in done}, sum(m.n_rows for m in done)

        # append mode folds this job's documents into the committed set;
        # overwrite mode replaces it — so the manifest is always the
        # complete exactly-once view across jobs
        def merge(published):  # noqa: ANN001, ANN202
            if published is None or self.overwrite:
                return {"files": sorted(files), "n_rows": total}
            return {"files": sorted(files | set(published["files"])), "n_rows": total + published["n_rows"]}

        self._publish(merge)


class EnergiUplinkStreamWriter(_UplinkDocuments, DataSourceStreamWriter):
    """The STREAMING write half of the connector, completing the matrix
    (batch/stream × read/write). Each micro-batch's tasks write
    documents as :class:`EnergiUplinkWriter` does; ``commit(messages,
    batchId)`` then REPLACES that epoch's manifest entry. Replacement,
    not append, makes a micro-batch RETRY idempotent: the replay's
    documents supersede the stale entry and the failed attempt's stay
    orphaned, so manifest-honoring readers see each epoch exactly once
    (tests/test_api_and_formats.py forces a double commit of one
    batchId). At cluster scale the documents are POSTs keyed by
    (batchId, task), the dedup key an idempotent receiver needs."""

    PREFIX, MANIFEST = "epochdoc-", "stream_manifest.json"

    def commit(self, messages, batchId: int) -> None:  # noqa: ANN001, N803
        done = [m for m in messages if m is not None]
        entry = {"files": sorted(m.path for m in done), "n_rows": sum(m.n_rows for m in done)}

        # idempotent per epoch: a retried micro-batch REPLACES its entry
        def merge(published):  # noqa: ANN001, ANN202
            epochs = published["epochs"] if published else {}
            return {"epochs": {**epochs, str(batchId): entry}}

        self._publish(merge)
