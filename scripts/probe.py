"""Parameterized scale-probe harness (VERDICT r11 item 8): full-shape
synthetic table generation at two sizes, warm-then-min-of-2 timing, and
a ratio JSON line, so a new probe is a CLI invocation, not a new file:

    python scripts/probe.py --queries feature_equidepth_bins_sketch,streaming_ohlc_candles_append
    python scripts/probe.py --queries semdedup_prune_scaled --small 1000000 --big 5000000

It replaced the per-round scale-probe one-offs; BASELINE.md keeps their
recorded ratios, and each section names its one-off as
<commit>:scripts/<file>.py for `git show`.

Generator notes (lessons already paid for):
* events.ts is written as ns-LONGS — the fixture's on-disk form: the
  streaming file source reads the raw bigint, the batch loader
  normalizes per value (SURVEY r11: anything else throws
  PARQUET_COLUMN_DATA_TYPE_MISMATCH in streaming queries).
* every table is repartition(64) multi-file parquet — the single
  row-group fixture shape hides parallelism ceilings (SURVEY r07).
* embeddings are n/20 rows of 64-dim floats (hash-derived, unit-free);
  documents are n/20 rows of 30 5-char tokens.
"""

from __future__ import annotations

import argparse
import json
import sys
import time

import pyspark.sql.functions as F

sys.path.insert(0, ".")
from energi_data_etl_spark.queries import QUERIES  # noqa: E402
from energi_data_etl_spark.session import get_spark, scratch_dir  # noqa: E402

ER_NAMES = 4000  # fixed distinct-name catalog for part (r08e convention)

PRIOS = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SEGS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
TYPES = ["view", "click", "purchase", "signup", "error"]


def _lit_array(vals):
    return F.array(*[F.lit(v) for v in vals])


def gen_tables(spark, n: int, d: str, tables: set[str] | None = None) -> None:
    """Write full-shape synthetic tables sized to n base rows under d.
    tables=None generates everything; pass a set to generate only what
    the probed queries read (cheaper gen for targeted probes)."""

    def want(t: str) -> bool:
        return tables is None or t in tables

    if want("customer"):
        (
            spark.range(n)
            .repartition(64)
            .select(
                F.col("id").alias("c_custkey"),
                F.concat(F.lit("Customer#"), F.col("id").cast("string")).alias("c_name"),
                ((F.abs(F.xxhash64("id", F.lit(31))) % 1_099_999) / 100.0 - 999.99).alias("c_acctbal"),
                F.element_at(_lit_array(SEGS), (F.abs(F.xxhash64("id", F.lit(32))) % 5 + 1).cast("int")).alias("c_mktsegment"),
                (F.abs(F.xxhash64("id", F.lit(33))) % 25).cast("int").alias("c_nationkey"),
            )
            .write.mode("overwrite")
            .parquet(f"{d}/customer.parquet")
        )
    if want("orders"):
        (
            spark.range(n)
            .repartition(64)
            .select(
                F.col("id").alias("o_orderkey"),
                (F.abs(F.xxhash64("id", F.lit(5))) % n).alias("o_custkey"),
                F.element_at(
                    _lit_array(["O", "F", "P"]),
                    (F.abs(F.xxhash64("id", F.lit(4))) % 3 + 1).cast("int"),
                ).alias("o_orderstatus"),
                (F.abs(F.xxhash64("id", F.lit(6))) % 49_999_900 / 100.0 + 1.0).alias("o_totalprice"),
                F.timestamp_seconds(
                    F.lit(1704067200) + (F.abs(F.xxhash64("id", F.lit(7))) % (30 * 86_400))
                ).alias("o_orderdate"),
                F.element_at(_lit_array(PRIOS), (F.abs(F.xxhash64("id", F.lit(14))) % 5 + 1).cast("int")).alias("o_orderpriority"),
            )
            .write.mode("overwrite")
            .parquet(f"{d}/orders.parquet")
        )
    if want("lineitem"):
        (
            spark.range(n)
            .repartition(64)
            .select(
                F.col("id").alias("l_orderkey"),
                (F.abs(F.xxhash64("id", F.lit(12))) % max(n // 30, 1)).alias("l_partkey"),
                (F.abs(F.xxhash64("id", F.lit(17))) % max(n // 100, 1)).alias("l_suppkey"),
                (F.abs(F.xxhash64("id", F.lit(18))) % 7 + 1).cast("int").alias("l_linenumber"),
                (F.abs(F.xxhash64("id", F.lit(15))) % 50 + 1).cast("double").alias("l_quantity"),
                (F.abs(F.xxhash64("id", F.lit(19))) % 9_999_900 / 100.0 + 1.0).alias("l_extendedprice"),
                ((F.abs(F.xxhash64("id", F.lit(16))) % 11) / 100.0).alias("l_discount"),
                ((F.abs(F.xxhash64("id", F.lit(20))) % 9) / 100.0).alias("l_tax"),
                F.element_at(_lit_array(["A", "N", "R"]), (F.abs(F.xxhash64("id", F.lit(23))) % 3 + 1).cast("int")).alias("l_returnflag"),
                F.element_at(_lit_array(["F", "O"]), (F.abs(F.xxhash64("id", F.lit(24))) % 2 + 1).cast("int")).alias("l_linestatus"),
                F.timestamp_seconds(
                    F.lit(1704067200) + (F.abs(F.xxhash64("id", F.lit(25))) % (30 * 86_400))
                ).alias("l_shipdate"),
            )
            .write.mode("overwrite")
            .parquet(f"{d}/lineitem.parquet")
        )
    if want("supplier"):
        (
            spark.range(max(n // 100, 1))
            .repartition(8)
            .select(
                F.col("id").alias("s_suppkey"),
                F.concat(F.lit("Supplier#"), F.col("id").cast("string")).alias("s_name"),
                (F.abs(F.xxhash64("id", F.lit(41))) % 25).cast("int").alias("s_nationkey"),
                ((F.abs(F.xxhash64("id", F.lit(42))) % 1_099_999) / 100.0 - 999.99).alias("s_acctbal"),
            )
            .write.mode("overwrite")
            .parquet(f"{d}/supplier.parquet")
        )
    if want("nation"):
        (
            spark.range(25)
            .select(
                F.col("id").cast("int").alias("n_nationkey"),
                F.concat(F.lit("NATION_"), F.col("id").cast("string")).alias("n_name"),
                (F.col("id") % 5).cast("int").alias("n_regionkey"),
            )
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(f"{d}/nation.parquet")
        )
    if want("region"):
        (
            spark.range(5)
            .select(
                F.col("id").cast("int").alias("r_regionkey"),
                F.concat(F.lit("REGION_"), F.col("id").cast("string")).alias("r_name"),
            )
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(f"{d}/region.parquet")
        )
    if want("events"):
        (
            spark.range(n)
            .repartition(64)
            .select(
                F.col("id").alias("event_id"),
                # ns-long ts: the fixture's on-disk form (see module doc)
                (
                    F.lit(1704067200_000000000)
                    + (F.abs(F.xxhash64("id", F.lit(3))) % (30 * 86_400)) * F.lit(1_000_000_000)
                ).cast("long").alias("ts"),
                (F.abs(F.xxhash64("id")) % max(n // 500, 1)).alias("user_id"),
                F.element_at(_lit_array(TYPES), (F.abs(F.xxhash64("id", F.lit(1))) % 5 + 1).cast("int")).alias("event_type"),
                (F.pow(F.abs(F.xxhash64("id", F.lit(2))) % 1000 / 1000.0, 2) * 490.0).alias("value"),
                F.lit('{"k": 1}').alias("props"),
            )
            .write.mode("overwrite")
            .parquet(f"{d}/events.parquet")
        )
    if want("part"):
        base = F.abs(F.xxhash64("id", F.lit(21))) % (ER_NAMES // 3)
        (
            spark.range(n)
            .repartition(64)
            .select(
                F.col("id").alias("p_partkey"),
                F.concat(
                    F.substring(F.md5(base.cast("string")), 1, 8),
                    F.expr("repeat('x', cast(abs(xxhash64(id, 22)) % 3 as int))"),
                ).alias("p_name"),
                F.concat(F.lit("Brand#"), (F.abs(F.xxhash64("id", F.lit(26))) % 50).cast("string")).alias("p_brand"),
                F.concat(F.lit("TYPE "), (F.abs(F.xxhash64("id", F.lit(27))) % 150).cast("string")).alias("p_type"),
                (F.abs(F.xxhash64("id", F.lit(28))) % 50 + 1).cast("int").alias("p_size"),
                (F.abs(F.xxhash64("id", F.lit(29))) % 200_000 / 100.0 + 900.0).alias("p_retailprice"),
            )
            .write.mode("overwrite")
            .parquet(f"{d}/part.parquet")
        )
    if want("documents"):
        (
            spark.range(max(n // 20, 1))
            .repartition(64)
            .select(
                F.col("id").alias("doc_id"),
                F.array_join(
                    F.transform(
                        F.sequence(F.lit(1), F.lit(30)),
                        lambda i: F.substring(F.md5(F.concat(F.col("id").cast("string"), i.cast("string"))), 1, 5),
                    ),
                    " ",
                ).alias("text"),
                F.lit("en").alias("lang"),
                F.concat(F.lit("src"), (F.abs(F.xxhash64("id", F.lit(30))) % 8).cast("string")).alias("source"),
                # self-consistent with the generated text (30 five-char
                # tokens + 29 spaces = 179; ADVICE r12 — a literal 180
                # disagreed with any length-deriving probed query)
                F.lit(179).cast("long").alias("n_chars"),
            )
            .write.mode("overwrite")
            .parquet(f"{d}/documents.parquet")
        )
    if want("embeddings"):
        (
            spark.range(max(n // 20, 64))
            .repartition(64)
            .select(
                F.col("id").alias("vec_id"),
                F.transform(
                    F.sequence(F.lit(1), F.lit(64)),
                    lambda i: ((F.xxhash64("id", i) % 2001) / 1000.0).cast("float"),
                ).alias("embedding"),
                (F.abs(F.xxhash64("id", F.lit(43))) % 10).cast("int").alias("label"),
            )
            .write.mode("overwrite")
            .parquet(f"{d}/embeddings.parquet")
        )


def time_fn(fn, warm: int = 1, reps: int = 2) -> float:
    """Warm `warm` times, return the MIN of `reps` timed runs (the
    shared-host noise protocol: CLAUDE.md / BENCH_MEDIANS)."""
    for _ in range(warm):
        fn()
    best = float("inf")
    for _ in range(reps):
        t0 = time.time()
        fn()
        best = min(best, time.time() - t0)
    return best


def probe_queries(spark, names: list[str], n_small: int, n_big: int,
                  tables: set[str] | None = None, noop: bool = False) -> dict:
    """noop=True times through the noop sink instead of collect():
    r14 lesson — queries whose OUTPUT cardinality scales with data
    (scd2's per-customer rows, join_asof's per-event rows) read as
    super-linear under collect when the PLAN is flat; the noop basis
    isolates the distributed compute. Keep collect (default) when
    comparing against historical PROBES_r*.json rows — all pre-r14
    ratios are collect-based."""
    out: dict[str, dict[str, float]] = {}
    tmp = scratch_dir("probe_")
    for label, n in (("small", n_small), ("big", n_big)):
        d = f"{tmp}/{label}"
        t0 = time.time()
        gen_tables(spark, n, d, tables)
        print(f"[gen] {label} n={n} in {time.time() - t0:.1f}s", flush=True)
        for qname in names:
            fn = QUERIES[qname].fn
            run = (
                (lambda: fn(spark, d).write.mode("overwrite").format("noop").save())
                if noop else (lambda: fn(spark, d).collect())
            )
            try:
                best = time_fn(run)
            except Exception as exc:  # noqa: BLE001 — record and continue
                print(f"[{label}] {qname:36} ERR {str(exc)[:160]}", flush=True)
                out.setdefault(qname, {})[label] = None
                continue
            out.setdefault(qname, {})[label] = round(best, 2)
            print(f"[{label}] {qname:36} min {best:.2f}s", flush=True)
    ratios = {
        k: round(v["big"] / v["small"], 2)
        for k, v in out.items()
        if v.get("big") and v.get("small")
    }
    return {"n_small": n_small, "n_big": n_big, "basis": "noop" if noop else "collect",
            "sec": out, "ratio": ratios}


def probe_api_sink(spark, n_rows: int, parts_small: int, parts_big: int) -> dict:
    """VERDICT r11 item 6: the api_sink pair's cost is claimed to be
    engine-init + micro-batch machinery, not data volume — measure it.
    Scales the uplinked PARTITION count (batch writer: tasks per job;
    stream writer: files per source => epochs per drain) 10x at fixed
    row volume and reports the ratio."""
    from energi_data_etl_spark.sources.api_datasource import EnergiPricesDataSource
    from energi_data_etl_spark.streaming.ops import _ephemeral_checkpoint_dir, drain_conf

    spark.dataSource.register(EnergiPricesDataSource)
    base = scratch_dir("api_sink_probe_")
    rows = spark.range(n_rows).select(
        F.concat(F.lit("t"), (F.col("id") % 5).cast("string")).alias("event_type"),
        (F.col("id") % 1000 / 10.0).alias("value"),
    )
    out: dict[str, dict[str, float]] = {"batch_write": {}, "stream_write": {}}
    for label, parts in (("small", parts_small), ("big", parts_big)):
        df = rows.repartition(parts)
        df.count()  # materialize the shuffle outside the timed region

        def batch_once(i=[0]):
            i[0] += 1
            (df.write.format("energi_prices")
             .option("uplink_dir", f"{base}/b_{label}_{i[0]}")
             .mode("append").save())

        out["batch_write"][label] = round(time_fn(batch_once), 2)

        src = f"{base}/src_{label}"
        df.write.mode("overwrite").parquet(src)

        def stream_once(i=[0]):
            i[0] += 1
            stream = (spark.readStream.schema("event_type string, value double")
                      .option("maxFilesPerTrigger", "1").parquet(src))
            with drain_conf(spark):
                q = (stream.writeStream.format("energi_prices")
                     .option("uplink_dir", f"{base}/s_{label}_{i[0]}")
                     .option("checkpointLocation", _ephemeral_checkpoint_dir())
                     .outputMode("append").trigger(availableNow=True).start())
                q.awaitTermination()

        out["stream_write"][label] = round(time_fn(stream_once), 2)
        print(f"[{label}] parts={parts} batch {out['batch_write'][label]}s "
              f"stream {out['stream_write'][label]}s", flush=True)
    ratios = {k: round(v["big"] / v["small"], 2) for k, v in out.items()}
    return {"n_rows": n_rows, "parts": [parts_small, parts_big], "sec": out, "ratio": ratios}


def probe_api_epochs(spark, n_days: int) -> dict:
    """VERDICT r13 item 8: the API stream source's per-epoch fixed cost
    (~0.6 s of micro-batch machinery, r12 probe) — measure the SAME
    day-range drained at days_per_epoch=1 (one epoch per day) vs the
    unbounded catch-up default (ONE epoch): total drain time should
    collapse with the epoch count, showing the knob amortizes a
    backfill. processingTime trigger (the Python-source AvailableNow
    fallback is single-batch, so it can't express multi-epoch)."""
    import datetime
    import uuid as _uuid

    from energi_data_etl_spark.queries.lifecycle import _API_ZONES, _write_api_fixtures
    from energi_data_etl_spark.sources.api_datasource import EnergiPricesDataSource
    from energi_data_etl_spark.streaming.ops import _ephemeral_checkpoint_dir, drain_conf

    start = datetime.date(2024, 2, 1)
    end = start + datetime.timedelta(days=n_days - 1)
    base = _write_api_fixtures(start, end)
    spark.dataSource.register(EnergiPricesDataSource)
    expected = n_days * len(_API_ZONES) * 24

    def drain(dpe: int) -> float:
        name = "ep_" + _uuid.uuid4().hex[:10]
        stream = (
            spark.readStream.format("energi_prices")
            .option("start", start.isoformat())
            .option("end", end.isoformat())
            .option("zones", ",".join(_API_ZONES))
            .option("fixture_dir", base)
            .option("days_per_epoch", str(dpe))
            .load()
        )
        t0 = time.time()
        with drain_conf(spark):
            q = (
                stream.writeStream.format("memory")
                .queryName(name)
                .outputMode("append")
                .trigger(processingTime="0 seconds")
                .option("checkpointLocation", _ephemeral_checkpoint_dir())
                .start()
            )
            while time.time() - t0 < 600:
                if spark.table(name).count() >= expected:
                    break
                time.sleep(0.2)
            q.stop()
            q.awaitTermination()
        took = time.time() - t0
        got = spark.table(name).count()
        assert got == expected, f"dpe={dpe}: {got} != {expected}"
        return took

    out: dict[str, float] = {}
    for label, dpe in (("daily_epochs", 1), ("catchup_one_epoch", 0)):
        drain(dpe)  # warm
        out[label] = round(min(drain(dpe), drain(dpe)), 2)
        n_epochs = n_days if dpe == 1 else 1
        print(f"[{label}] days={n_days} epochs={n_epochs} min {out[label]}s", flush=True)
    return {
        "n_days": n_days,
        "rows": expected,
        "sec": out,
        "collapse_ratio": round(out["daily_epochs"] / max(out["catchup_one_epoch"], 1e-9), 2),
    }


def probe_session_drain(spark, n_small: int, n_big: int) -> dict:
    """VERDICT r13 item 4 evidence: the production parquet-sink drain of
    the append session stream, with the drain-partition knob resolved by
    the CURRENT environment (run with SPARK_GRAFT_DRAIN_PARTITIONS unset
    to measure the new defaultParallelism default; the r13 rows pinned
    env=32 vs env=4 at the same volumes)."""
    import os

    from energi_data_etl_spark.streaming.ops import (
        _ephemeral_checkpoint_dir,
        drain_conf,
        drain_partitions,
        events_stream,
        session_window_stats,
    )

    tmp = scratch_dir("sess_drain_")
    out: dict[str, dict] = {}
    for label, n in (("small", n_small), ("big", n_big)):
        d = f"{tmp}/{label}"
        gen_tables(spark, n, d, {"events"})

        def run(i=[0], d=d):
            i[0] += 1
            stream = events_stream(spark, f"{d}/events.parquet")
            sw = session_window_stats(stream, gap="30 minutes", watermark="25 hours")
            with drain_conf(spark):
                q = (
                    sw.writeStream.format("parquet")
                    .option("path", f"{d}/out_{i[0]}")
                    .option("checkpointLocation", _ephemeral_checkpoint_dir())
                    .outputMode("append")
                    .trigger(availableNow=True)
                    .start()
                )
                q.awaitTermination()

        best = time_fn(run, warm=1, reps=3)
        out[label] = {"rows": n, "sec": round(best, 2)}
        print(f"[{label}] n={n} min {best:.2f}s", flush=True)
    return {
        "env": os.environ.get("SPARK_GRAFT_DRAIN_PARTITIONS"),
        "resolved_drain_partitions": drain_partitions(spark),
        "sec": out,
        "ratio": round(out["big"]["sec"] / out["small"]["sec"], 2),
    }


_ROCKSDB_CONFS = {
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    ),
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": "true",
}


_HEAP_CONFS = {
    # set explicitly — relying on the ambient default would mislabel
    # the rows if the session (or a leaked conf) already pins RocksDB
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
    ),
}


def _with_provider(spark, provider: str):
    """Context manager: apply (and restore) the state-store provider
    confs; both providers are pinned explicitly, never ambient."""
    from contextlib import contextmanager

    @contextmanager
    def cm():
        confs = _ROCKSDB_CONFS if provider == "rocksdb" else _HEAP_CONFS
        prev = {k: spark.conf.get(k, None) for k in confs}
        try:
            for k, v in confs.items():
                spark.conf.set(k, v)
            yield
        finally:
            for k, v in prev.items():
                spark.conf.unset(k) if v is None else spark.conf.set(k, v)

    return cm()


def _drain_with_state_metrics(stream_df, output_mode: str = "update") -> dict:
    """AvailableNow drain through the noop sink; returns wall sec plus
    the FINAL progress's stateOperators decomposition (numRowsTotal =
    state rows at end-of-drain, memoryUsedBytes = provider-reported
    state memory; RocksDB adds its own customMetrics memory split)."""
    from energi_data_etl_spark.streaming.ops import _ephemeral_checkpoint_dir, drain_conf

    spark = stream_df.sparkSession
    t0 = time.time()
    with drain_conf(spark):
        q = (
            stream_df.writeStream.format("noop")
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .option("checkpointLocation", _ephemeral_checkpoint_dir())
            .start()
        )
        q.awaitTermination()
    sec = time.time() - t0
    ops = (q.lastProgress or {}).get("stateOperators") or []
    agg = {"sec": round(sec, 2), "state_rows": 0, "state_mem_mb": 0.0, "rocksdb_sst_mb": 0.0}
    for op in ops:
        agg["state_rows"] += op.get("numRowsTotal", 0)
        # heap provider: memoryUsedBytes grows with state entries (the
        # loaded version maps). RocksDB: memoryUsedBytes is block-cache
        # + memtable sizing (~constant); the entry payload lives in the
        # native SST files — rocksdbSstFileSize is the volume signal.
        agg["state_mem_mb"] += op.get("memoryUsedBytes", 0) / 1e6
        cm = op.get("customMetrics") or {}
        agg["rocksdb_sst_mb"] += cm.get("rocksdbSstFileSize", 0) / 1e6
    agg["state_mem_mb"] = round(agg["state_mem_mb"], 2)
    agg["rocksdb_sst_mb"] = round(agg["rocksdb_sst_mb"], 2)
    return agg


def probe_state_decomp(spark, docs_small: int, docs_big: int,
                       ev_small: int, ev_big: int, cap: int) -> dict:
    """VERDICT r14 #1 + #5: pin the state-store decomposition (rows +
    memory, heap vs RocksDB) of the two array-state drains at volume,
    and show the suppressor's state_cap lever actually BOUNDS state on
    a big-doc drain. Suppressor input is synthetic (doc_id, simhash)
    pairs streamed in 5 id-ordered chunks — isolates the state store
    from the md5 signature kernel (which r14 already probed); timeout
    input is the full events shape in 3 day chunks, mirroring the
    certified query."""
    from energi_data_etl_spark.queries.streaming import _chunked_file_stream
    from energi_data_etl_spark.sources.tables import load_table
    from energi_data_etl_spark.streaming.ops import (
        neardup_suppress_stream,
        timeout_finalized_totals,
    )

    tmp = scratch_dir("sdecomp_")
    out: dict = {"suppress": {}, "timeout": {}, "cap": cap}

    for label, n_docs in (("small", docs_small), ("big", docs_big)):
        sigs = spark.range(n_docs).select(
            F.col("id").alias("doc_id"),
            # pmod, not abs+mod: ANSI abs(Long.MIN_VALUE) throws
            # (ADVICE r15 — a ~n/2^64 lottery ticket, but avoidable)
            F.pmod(F.xxhash64("id", F.lit(77)), F.lit(1 << 60)).alias("simhash"),
        )
        step = (n_docs + 4) // 5
        parts = [
            sigs.filter((F.col("doc_id") >= i * step) & (F.col("doc_id") < (i + 1) * step))
            for i in range(5)
        ]
        row: dict = {"n_docs": n_docs}
        # write the chunk files ONCE per label; a streaming DataFrame
        # is reusable — each drain starts its own query on an
        # ephemeral checkpoint and re-reads from the shared src dir
        stream = _chunked_file_stream(spark, parts, f"{tmp}/sup_{label}")
        for provider in ("heap", "rocksdb"):
            for mode, sc in (("unbounded", None), (f"cap{cap}", cap)):
                key = f"{provider}_{mode}"
                with _with_provider(spark, provider):
                    row[key] = _drain_with_state_metrics(
                        neardup_suppress_stream(stream, max_hamming=3, state_cap=sc)
                    )
                print(f"[suppress {label}] {key}: {row[key]}", flush=True)
        out["suppress"][label] = row

    for label, n_ev in (("small", ev_small), ("big", ev_big)):
        d = f"{tmp}/ev_{label}"
        gen_tables(spark, n_ev, d, {"events"})
        row = {"n_events": n_ev}
        ev = (
            load_table(spark, "events", d)
            .select("event_type", F.col("ts").cast("timestamp").alias("ts"), "value")
            .withColumn("week", ((F.dayofmonth("ts") - 1) / 7).cast("long"))
        )
        parts = [
            ev.filter((F.dayofmonth("ts") >= lo) & (F.dayofmonth("ts") <= hi))
            for lo, hi in [(1, 10), (11, 20), (21, 31)]
        ]
        stream = _chunked_file_stream(spark, parts, f"{tmp}/tof_{label}")
        for provider in ("heap", "rocksdb"):
            with _with_provider(spark, provider):
                row[provider] = _drain_with_state_metrics(
                    timeout_finalized_totals(
                        stream, keys=["event_type", "week"],
                        gap_ms=5 * 86400 * 1000, watermark="1 day",
                    )
                )
            print(f"[timeout {label}] {provider}: {row[provider]}", flush=True)
        out["timeout"][label] = row
    return out


def _embedding_corpus(spark, n_vec: int, clustered: bool = False,
                      n_clusters: int = 1000, noise: float = 0.15):
    """Persisted synthetic embedding frame. ``clustered=False`` is the
    worst-case i.i.d. generator every prior ANN probe used (recall
    floors). ``clustered=True`` plants a mixture: cluster c = id mod
    n_clusters, center components from xxhash64(c, j), member = center
    + noise·xxhash64(id, j) — the operating-curve shape real embedding
    corpora have (VERDICT r16 item 5). All JVM-side, deterministic."""
    d = scratch_dir("ann_corpus_")
    if clustered:
        emb = F.transform(
            F.sequence(F.lit(1), F.lit(64)),
            lambda i: (
                (F.xxhash64(F.pmod(F.col("id"), F.lit(n_clusters)), i) % 2001) / 1000.0
                + F.lit(noise) * ((F.xxhash64("id", i, F.lit(31)) % 2001) / 1000.0)
            ).cast("float"),
        )
    else:
        emb = F.transform(
            F.sequence(F.lit(1), F.lit(64)),
            lambda i: ((F.xxhash64("id", i) % 2001) / 1000.0).cast("float"),
        )
    (
        spark.range(n_vec)
        .repartition(64)
        .select(F.col("id").alias("vec_id"), emb.alias("embedding"))
        .write.mode("overwrite")
        .parquet(f"{d}/embeddings.parquet")
    )
    e = spark.read.parquet(f"{d}/embeddings.parquet").persist()
    e.count()
    return e


def probe_heavy_hitters(spark, ev_small: int, ev_big: int) -> dict:
    """VERDICT r16 item 3 (streaming-tier 10× screen): drain the
    SpaceSaving heavy-hitters stateful op at volume under both state
    providers. State must be FLAT (k counters × |keys| rows, period) —
    that is the operator's whole claim vs groupBy(item).count()."""
    from energi_data_etl_spark.queries.streaming import _chunked_file_stream
    from energi_data_etl_spark.sources.tables import load_table
    from energi_data_etl_spark.streaming.ops import heavy_hitters_stream

    tmp = scratch_dir("hh_probe_")
    out: dict = {}
    for label, n_ev in (("small", ev_small), ("big", ev_big)):
        d = f"{tmp}/ev_{label}"
        gen_tables(spark, n_ev, d, {"events"})
        ev = load_table(spark, "events", d).select(
            "event_type",
            F.col("ts").cast("timestamp").alias("ts"),
            F.floor(F.col("value") / 10).cast("long").alias("bkt"),
        )
        parts = [
            ev.filter((F.dayofmonth("ts") >= lo) & (F.dayofmonth("ts") <= hi))
            for lo, hi in [(1, 10), (11, 20), (21, 31)]
        ]
        stream = _chunked_file_stream(spark, parts, f"{tmp}/hh_{label}")
        row: dict = {"n_events": n_ev}
        for provider in ("heap", "rocksdb"):
            with _with_provider(spark, provider):
                row[provider] = _drain_with_state_metrics(
                    heavy_hitters_stream(stream, key="event_type", item_col="bkt", k=8)
                )
            print(f"[heavy_hitters {label}] {provider}: {row[provider]}", flush=True)
        out[label] = row
    return out


def probe_ann_ivf(spark, n_vec: int, target_cell: int, nprobe: int, n_queries: int) -> dict:
    """VERDICT r13 item 7: at 100 TB the IVF codebook scales K ∝ N, and
    single-level assignment is N·K·d flops — the same wall semdedup hit
    at K in the hundreds. Measure ann_ivf_knn end-to-end (fit + probe
    + one corpus scan that assigns and scores + top-k) at a
    corpus-scaled K in BOTH quantizer modes, plus corpus recall@k vs the
    exact matmul kNN on the same queries."""
    from energi_data_etl_spark.operators import similarity as S

    d = scratch_dir("ann_ivf_probe_")
    (
        spark.range(n_vec)
        .repartition(64)
        .select(
            F.col("id").alias("vec_id"),
            F.transform(
                F.sequence(F.lit(1), F.lit(64)),
                lambda i: ((F.xxhash64("id", i) % 2001) / 1000.0).cast("float"),
            ).alias("embedding"),
        )
        .write.mode("overwrite")
        .parquet(f"{d}/embeddings.parquet")
    )
    e = spark.read.parquet(f"{d}/embeddings.parquet")
    e = e.persist()
    e.count()
    q = e.filter(F.col("vec_id") < n_queries)
    k_centroids = max(32, n_vec // target_cell)
    exact = {(r.query_id, r.neighbor_id) for r in S.exact_knn(q, e, k=5).collect()}
    out: dict[str, dict] = {}
    for label, two_level in (("single_level", False), ("two_level", True)):
        got: set = set()

        def run():
            got.clear()
            got.update(
                (r.query_id, r.neighbor_id)
                for r in S.ann_ivf_knn(
                    q, e, k=5, n_centroids=k_centroids, nprobe=nprobe,
                    corpus_count=n_vec, two_level=two_level,
                ).collect()
            )

        best = time_fn(run)
        recall = round(len(got & exact) / max(len(exact), 1), 3)
        out[label] = {"sec": round(best, 2), "recall": recall}
        print(f"[{label}] K={k_centroids} nprobe={nprobe} min {best:.2f}s recall {recall}",
              flush=True)
    e.unpersist()
    return {"n_vec": n_vec, "k_centroids": k_centroids, "nprobe": nprobe,
            "n_queries": n_queries, "modes": out}


def probe_ann_sweep(spark, n_vec: int, target_cell: int, nprobes: list[int], n_queries: int,
                    clustered: bool = False, n_clusters: int = 1000,
                    noise: float = 0.15) -> dict:
    """VERDICT r14 #6: the IMI operating curve — corpus recall@k vs
    nprobe at corpus-scaled K, so a deployer can pick an operating
    point (the r05 IVF envelope, redone for the two-level quantizer).
    Vectors are worst-case i.i.d. (no cluster structure), so these
    recalls are FLOORS — real embedding corpora cluster and recall
    improves. One fit+assign per nprobe (the operator refits; sweep
    cost is dominated by assignment, which is the thing being dialed)."""
    from energi_data_etl_spark.operators import similarity as S

    e = _embedding_corpus(spark, n_vec, clustered, n_clusters, noise)
    q = e.filter(F.col("vec_id") < n_queries)
    k_centroids = max(32, n_vec // target_cell)
    exact = {(r.query_id, r.neighbor_id) for r in S.exact_knn(q, e, k=5).collect()}
    curve: dict[str, dict] = {}
    for nprobe in nprobes:
        t0 = time.time()
        got = {
            (r.query_id, r.neighbor_id)
            for r in S.ann_ivf_knn(
                q, e, k=5, n_centroids=k_centroids, nprobe=nprobe,
                corpus_count=n_vec, two_level=True,
            ).collect()
        }
        sec = round(time.time() - t0, 2)
        recall = round(len(got & exact) / max(len(exact), 1), 3)
        curve[str(nprobe)] = {"sec": sec, "recall": recall}
        print(f"[sweep] K={k_centroids} nprobe={nprobe} {sec}s recall {recall}", flush=True)
    e.unpersist()
    return {"n_vec": n_vec, "k_centroids": k_centroids, "n_queries": n_queries,
            "mode": "two_level", "clustered": clustered, "noise": noise, "curve": curve}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--queries", help="comma-separated query names")
    ap.add_argument("--ann-ivf", action="store_true",
                    help="probe ann_ivf_knn single- vs two-level quantizer at corpus-scaled K")
    ap.add_argument("--ann-sweep", action="store_true",
                    help="IMI recall-vs-nprobe operating curve at corpus-scaled K")
    ap.add_argument("--heavy-hitters", action="store_true",
                    help="drain the SpaceSaving stateful op at volume (heap vs RocksDB)")
    ap.add_argument("--clustered", action="store_true",
                    help="use the mixture-of-Gaussians corpus for --ann-sweep")
    ap.add_argument("--n-clusters", type=int, default=1000,
                    help="mixture components for --clustered")
    ap.add_argument("--noise", type=float, default=0.15,
                    help="per-member noise scale for --clustered (0.15 = tight "
                         "clusters/recall ~1.0; ~0.5 = partial overlap)")
    ap.add_argument("--nprobes", default="8,16,32,64",
                    help="comma-separated nprobe values for --ann-sweep")
    ap.add_argument("--api-epochs", action="store_true",
                    help="probe the API stream source's per-epoch fixed cost vs days_per_epoch")
    ap.add_argument("--days", type=int, default=60, help="day range for --api-epochs")
    ap.add_argument("--noop", action="store_true",
                    help="time --queries through the noop sink instead of collect (isolates plan from driver materialization)")
    ap.add_argument("--session-drain", action="store_true",
                    help="probe the parquet-sink session append drain under the current drain env")
    ap.add_argument("--state-decomp", action="store_true",
                    help="probe suppressor/timeout state-store decomposition (heap vs RocksDB, "
                         "suppressor state_cap bound) at volume")
    ap.add_argument("--docs", default="250000,1000000",
                    help="small,big doc counts for --state-decomp suppressor drains")
    ap.add_argument("--cap", type=int, default=16, help="state_cap for --state-decomp")
    ap.add_argument("--vecs", type=int, default=1_000_000, help="corpus size for --ann-ivf")
    ap.add_argument("--target-cell", type=int, default=512, help="K = vecs/target_cell for --ann-ivf")
    ap.add_argument("--nprobe", type=int, default=32, help="probed cells for --ann-ivf")
    ap.add_argument("--nq", type=int, default=20, help="query count for --ann-ivf")
    ap.add_argument("--api-sink", action="store_true",
                    help="run the api_sink partition-count volume probe instead of --queries")
    ap.add_argument("--rows", type=int, default=100_000, help="row volume for --api-sink")
    ap.add_argument("--parts", default="4,40", help="small,big partition counts for --api-sink")
    ap.add_argument("--small", type=int, default=1_000_000)
    ap.add_argument("--big", type=int, default=5_000_000)
    ap.add_argument("--tables", default=None,
                    help="comma-separated table subset to generate (default: all)")
    args = ap.parse_args()
    spark = get_spark("probe")
    spark.sparkContext.setLogLevel("ERROR")
    if args.api_sink:
        ps, pb = (int(x) for x in args.parts.split(","))
        result = probe_api_sink(spark, args.rows, ps, pb)
    elif args.ann_ivf:
        result = probe_ann_ivf(spark, args.vecs, args.target_cell, args.nprobe, args.nq)
    elif args.ann_sweep:
        nprobes = [int(x) for x in args.nprobes.split(",")]
        result = probe_ann_sweep(spark, args.vecs, args.target_cell, nprobes, args.nq,
                                 clustered=args.clustered, n_clusters=args.n_clusters,
                                 noise=args.noise)
    elif args.heavy_hitters:
        result = probe_heavy_hitters(spark, args.small, args.big)
    elif args.api_epochs:
        result = probe_api_epochs(spark, args.days)
    elif args.session_drain:
        result = probe_session_drain(spark, args.small, args.big)
    elif args.state_decomp:
        ds, db = (int(x) for x in args.docs.split(","))
        result = probe_state_decomp(spark, ds, db, args.small, args.big, args.cap)
    else:
        if not args.queries:
            print("--queries or --api-sink required", file=sys.stderr)
            return 2
        names = [q.strip() for q in args.queries.split(",") if q.strip()]
        unknown = [q for q in names if q not in QUERIES]
        if unknown:
            print(f"unknown queries: {unknown}", file=sys.stderr)
            return 2
        result = probe_queries(
            spark, names, args.small, args.big,
            set(args.tables.split(",")) if args.tables else None,
            noop=args.noop,
        )
    print(json.dumps(result))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
