"""SparkSession construction with the engine's defaults.

Scale notes (100 TB mandate): every setting here is chosen so the same
code runs unchanged on a 1000-executor cluster — local[] is only the
test harness. AQE handles runtime re-planning (partition coalescing,
skew-join splitting, SMJ→broadcast demotion); shuffle partition count is
only the *initial* value under AQE, so an over-estimate is cheap.

Partition listing is the one setting that depends on where the session
runs. Spark lists a path read of more than
``spark.sql.sources.parallelPartitionDiscovery.threshold`` (default 32)
directories with a job of one task per directory. In a local session
those tasks are threads of the driver's own JVM making the same
file-system calls, so the job is pure overhead on every read of the
date-partitioned fact table; `local_listing_conf` lists on the driver
instead. A cluster session keeps Spark's parallel listing, the right
call against S3 or HDFS at 100 TB.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["get_spark", "cpu_count", "apply_engine_conf", "scratch_dir", "local_listing_conf"]


def scratch_dir(prefix: str, dir: str | None = None) -> str:  # noqa: A002
    """mkdtemp whose lifetime is the PROCESS, not the function: removal
    is registered with atexit because queries return LAZY DataFrames
    that may read files under the dir after the function returns (the
    driver collects later), so eager cleanup would break the plan.
    Closes the r08/r10 advice item "uplink mkdtemp dirs never cleaned" —
    a long-lived session (bench: 267 queries; driver: 50) no longer
    accumulates orphan scratch dirs past process exit."""
    import atexit
    import shutil
    import tempfile

    path = tempfile.mkdtemp(prefix=prefix, dir=dir)
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


def cpu_count() -> int:
    """Worker-thread count for local mode (driver contract: SPARK_GRAFT_CPUS)."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


#: Configs that must hold on ANY session running engine queries — applied
#: both when we build the session ourselves and (where possible) when the
#: driver hands us one.
ENGINE_CONF: dict[str, str] = {
    # Deterministic wall-clock semantics: the reference stores UTC audit
    # timestamps (energy_etl.py:100 uses utcnow()); all engine timestamp
    # arithmetic is UTC so results don't depend on host timezone.
    "spark.sql.session.timeZone": "UTC",
    # The events fixture stores TIMESTAMP(NANOS) which vanilla Spark
    # rejects (PARQUET_TYPE_ILLEGAL). Read nanos as int64 and convert to
    # timestamp_ntz in the loader (sources/tables.py) — a pure projection,
    # scales linearly, no driver round-trip.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Parquet timestamps without timezone → TimestampNTZ (matches DuckDB's
    # naive-µs reading of the same files, so oracle schemas line up).
    "spark.sql.parquet.inferTimestampNTZ.enabled": "true",
    # Runtime re-planning: partition coalescing, skew-join handling,
    # SMJ→BHJ demotion when runtime stats show a small side.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for any pandas-UDF exchange (the slow path, but when used it
    # must be batched, never per-row).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


#: Partition directories a local session lists on the driver before Spark
#: falls back to its listing job (one task per directory). Measured with
#: `spark.read.parquet` of a date-partitioned table, local[4], min of 6:
#: 120 directories take 0.72 s as a job and 0.10 s on the driver; 1,000
#: directories take 3.88 s and 0.16 s. A table with more directories than
#: this still gets the parallel job.
LOCAL_LISTING_THRESHOLD = 1024


def local_listing_conf(master: str) -> dict[str, str]:
    """The partition-listing conf for a session on ``master``: driver-side
    listing for ``local[...]``, nothing (Spark's default) otherwise."""
    if master.startswith("local"):
        return {"spark.sql.sources.parallelPartitionDiscovery.threshold": str(LOCAL_LISTING_THRESHOLD)}
    return {}


def apply_engine_conf(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine configs to an existing session.

    Static configs (nanosAsLong is runtime-settable in 4.x; timezone and
    AQE are runtime) — anything that fails to set is skipped, the loader
    compensates where it can.

    Also rightsizes shuffle partitions: a foreign session arrives with
    the 200 default, which AQE coalesces for batch but CANNOT for
    stateful streaming (AQE is disabled there) — 200 near-empty state
    tasks per micro-batch otherwise.

    A local session also lists partition directories on the driver
    (`local_listing_conf`).
    """
    conf = {
        **ENGINE_CONF,
        **local_listing_conf(spark.sparkContext.master),
        "spark.sql.shuffle.partitions": str(cpu_count()),
    }
    for k, v in conf.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass
    return spark


def get_spark(app_name: str = "energi-data-etl-spark", cpus: int | None = None) -> SparkSession:
    n = cpus or cpu_count()
    master = f"local[{n}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Initial shuffle parallelism = core count; AQE coalesces down.
        # On a real cluster this would be ~2-3× total cores instead.
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        # bucketed-table storage (sources/sinks.py write_bucketed_table)
        # lives outside the repo checkout
        .config("spark.sql.warehouse.dir", os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/energi_warehouse"))
    )
    for k, v in {**ENGINE_CONF, **local_listing_conf(master)}.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
