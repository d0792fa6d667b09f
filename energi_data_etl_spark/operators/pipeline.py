"""Training-data pipeline operators (BASELINE.json north star: the ops a
large-scale LLM training-data pipeline runs between "corpus" and
"training shards"): deterministic hash splits, leakage-safe
cluster-aware splits, token-budget packing, snapshot diffs.

Everything is a pure DataFrame composition — hash-based assignment is a
map stage (no shuffle), packing is a window + floor-div. Each has an
exact DuckDB twin via md5 (the only hash both engines share bit-for-bit;
xxhash64/hash() are engine-specific and MUST NOT appear in compared
output or join keys).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

__all__ = [
    "hash_bucket",
    "assign_split",
    "pack_into_chunks",
    "snapshot_diff",
]


def hash_bucket(key: Column, n_buckets: int = 100) -> Column:
    """Deterministic uniform bucket in [0, n_buckets) from md5 of the
    key's string form. Cross-engine twin:
    ``CAST(CONCAT('0x', SUBSTRING(MD5(key), 1, 8)) AS BIGINT) % n``.
    First 8 hex digits = 32 bits — fits a long, no ANSI overflow."""
    return F.conv(F.substring(F.md5(key.cast("string")), 1, 8), 16, 10).cast("bigint") % n_buckets


def assign_split(key: Column, train_pct: int = 80, val_pct: int = 10) -> Column:
    """train/val/test label from a deterministic hash bucket of `key`.

    Split membership depends ONLY on the key (not row order, partition
    count, or corpus growth): re-running on an appended corpus never
    moves an old document across splits — the property that matters for
    reproducible evals. Choose the key to control leakage: doc_id for
    i.i.d. splits, the dedup fingerprint for cluster-aware splits."""
    b = hash_bucket(key, 100)
    return (
        F.when(b < train_pct, F.lit("train"))
        .when(b < train_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("test"))
    )


def pack_into_chunks(df: DataFrame, n_tokens: Column, order_col: str, budget: int = 512) -> DataFrame:
    """Concat-then-chunk token packing (the pretraining shard layout):
    documents in `order_col` order are laid end-to-end and cut every
    `budget` tokens; a doc's chunk is where its first token lands.

    Adds `n_tok` and `chunk_id`. The running sum uses ONE global-order
    window — correct but single-reducer; at 100 TB pack per shard
    instead (partitionBy(shard) in the window) so each shard packs
    independently, which is exactly how training shards are built."""
    w = Window.orderBy(order_col).rowsBetween(Window.unboundedPreceding, 0)
    return (
        df.withColumn("n_tok", n_tokens)
        .withColumn("__cum_before", F.sum("n_tok").over(w) - F.col("n_tok"))
        .withColumn("chunk_id", F.floor(F.col("__cum_before") / budget))
        .drop("__cum_before")
    )


def snapshot_diff(
    old_snap: DataFrame,
    new_snap: DataFrame,
    key: str = "k",
    row_hash: str = "h",
    measure: str | None = None,
) -> DataFrame:
    """Classify a run-to-run table diff: full-outer join two snapshots
    (each already carrying a map-stage `row_hash` over its value
    columns) on `key` and label every key `added` / `removed` /
    `changed` / `unchanged`. One shuffle per side — or zero when both
    snapshots are bucketed by key on disk. With `measure`, also emits
    `delta` = COALESCE(new.measure,0) − COALESCE(old.measure,0) so the
    caller can audit what the diff moved (exact for integer measures).

    This is THE classifier — queries/datapipe.py::snapshot_diff_orders
    certifies it against a DuckDB oracle and
    tests/test_properties.py proves the set-theoretic algebra on
    arbitrary snapshots; both call this function, not a copy.
    """
    ocols = [F.col(key).alias("__ok"), F.col(row_hash).alias("__oh")]
    ncols = [F.col(key).alias("__nk"), F.col(row_hash).alias("__nh")]
    if measure is not None:
        ocols.append(F.col(measure).alias("__om"))
        ncols.append(F.col(measure).alias("__nm"))
    j = old_snap.select(*ocols).join(
        new_snap.select(*ncols), F.col("__ok") == F.col("__nk"), "full_outer"
    )
    out_cols = [
        F.when(F.col("__ok").isNull(), "added")
        .when(F.col("__nk").isNull(), "removed")
        # null-SAFE inequality: F.concat/md5 row hashes go NULL when any
        # value column is NULL, and a plain != would evaluate to NULL and
        # silently fall through to 'unchanged' (ADVICE r06)
        .when(~F.col("__oh").eqNullSafe(F.col("__nh")), "changed")
        .otherwise("unchanged")
        .alias("change_type"),
        F.coalesce("__ok", "__nk").alias(key),
    ]
    if measure is not None:
        out_cols.append(
            (F.coalesce(F.col("__nm"), F.lit(0)) - F.coalesce(F.col("__om"), F.lit(0))).alias("delta")
        )
    return j.select(*out_cols)
