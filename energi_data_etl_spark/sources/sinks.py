"""Durable-table sinks (SURVEY.md §2.1 S5/S6).

The reference loads a pandas frame into BigQuery with a declared
schema, WRITE_APPEND, and a utcnow() audit column
(scripts/energy_etl.py:86-111). The engine's durable store is
date-partitioned Parquet: append mode gives the same incremental
semantics, the partition column makes the watermark query (A2/T1) a
MAX over partition values (one task per date partition, see
`latest_watermark`), and downstream date filters become partition
pruning — the layout decision that matters most at 100 TB (SURVEY §4.3).
"""

from __future__ import annotations

from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

__all__ = ["write_fact_table", "latest_watermark", "align_to_table_schema"]


def write_fact_table(
    df: DataFrame,
    path: str,
    partition_by: Sequence[str] = ("date",),
    mode: str = "append",
    audit: bool = True,
    target_files_per_partition: int = 1,
) -> bool:
    """Append rows to a partitioned Parquet fact table.

    * skip-empty guard — the reference's `if all_data:` (:82);
    * audit column — load_timestamp=current_timestamp (UTC session),
      the reference's :100;
    * repartition before write → bounded file counts per partition
      (file-sizing, SURVEY §4.3; small-file explosions are the classic
      append-pipeline failure at scale).

    Returns True iff something was written.
    """
    if df.isEmpty():
        return False
    out = df
    if audit:
        out = out.withColumn("load_timestamp", F.current_timestamp())
    out = out.repartition(target_files_per_partition, *[F.col(c) for c in partition_by])
    out.write.mode(mode).partitionBy(*partition_by).parquet(path)
    return True


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 8,
    mode: str = "overwrite",
) -> None:
    """Bucketed+sorted managed table (SURVEY §4.3: co-located joins).

    Two tables bucketed by the same key with the same bucket count
    join WITHOUT an Exchange on either side — the shuffle is paid once
    at write time instead of on every join. The big-fact ⋈ big-fact
    pattern at 100 TB (verified shuffle-free in tests/test_bucketing.py).
    """
    (
        df.write.mode(mode)
        .bucketBy(n_buckets, bucket_col)
        .sortBy(bucket_col)
        .format("parquet")
        .saveAsTable(table)
    )


def latest_watermark(spark: SparkSession, path: str, col: str = "date"):
    """MAX(partition column) — the reference's watermark query (:22-37).
    It is not a metadata-only read: it runs Spark jobs with one task per
    date partition, decoding only the partition column (perfbench `etl`,
    seed 1: 1.07 s of a 2.50 s one-day `run_incremental`).
    Returns None on empty/missing table (reference's cold-start fallback
    path, :42-46)."""
    try:
        df = spark.read.parquet(path)
    except Exception:  # noqa: BLE001 — table does not exist yet
        return None
    row = df.agg(F.max(col).alias("wm")).first()
    return row["wm"] if row else None


def align_to_table_schema(df: DataFrame, spark: SparkSession, path: str) -> DataFrame:
    """Schema-evolution-safe append alignment: project `df` onto the
    UNION of the existing table's columns and its own.

    Long-running append pipelines evolve — a batch adds a column the
    table lacks, or stops producing one the table has. Parquet appends
    are schema-on-read, so nothing fails at write time; the damage
    surfaces later as readers seeing ragged schemas. This helper makes
    the contract explicit at append time, entirely driver-side (one
    schema fetch, zero data movement):

    * columns the table has but the batch lacks → NULL-filled with the
      table's type (so `mergeSchema` readers see one consistent type);
    * columns the batch adds → kept, CAST-checked later by the reader's
      mergeSchema union;
    * column ORDER follows the table, new columns appended last —
      parquet matches by name, but deterministic order keeps file
      footers uniform.

    Returns `df` unchanged for a cold-start (no table yet). Column
    matching is case-insensitive (Spark's default resolution), so a
    case-variant rename upstream aligns to the table's spelling instead
    of producing a NULL-filled duplicate.
    """
    from pyspark.errors import AnalysisException

    try:
        existing = spark.read.parquet(path).schema
    except AnalysisException as exc:
        # ONLY path-not-found means cold start; a corrupt footer or a
        # transient storage error must propagate, not silently disable
        # the alignment this helper exists to guarantee
        klass = exc.getErrorClass() if hasattr(exc, "getErrorClass") else None
        if klass == "PATH_NOT_FOUND" or "Path does not exist" in str(exc):
            return df
        raise
    have = {f.name.lower(): f.name for f in df.schema.fields}
    cols = []
    for field in existing:
        if field.name.lower() in have:
            cols.append(F.col(have[field.name.lower()]).alias(field.name))
        else:
            cols.append(F.lit(None).cast(field.dataType).alias(field.name))
    table_names = {f.name.lower() for f in existing}
    cols.extend(F.col(f.name) for f in df.schema.fields if f.name.lower() not in table_names)
    return df.select(*cols)
