"""Structured Streaming operators (SURVEY.md §2.9 T1-T7).

The reference approximates streaming with scheduled incremental batch
(MAX(date) watermark + resume, energy_etl.py:22-48); the engine provides
both that batch pattern (queries/relational.py::watermark_incremental)
and true Structured Streaming: file-source replay of the events table,
event-time watermarks, tumbling/sliding/session windows, stateful dedup,
exactly-once parquet sink.

Correctness strategy (SURVEY §5.2 item 6): every streaming op is
asserted equal to its batch re-derivation on the same fixture — run
with Trigger.AvailableNow so the stream drains deterministically.

Scale notes: windowed aggs keep state per (window × key) — bounded by
the watermark horizon; dedup state is bounded by
dropDuplicatesWithinWatermark. File-source at 100 TB shards by file;
checkpointing gives exactly-once into the parquet sink.
"""

from __future__ import annotations

import os
import uuid
from contextlib import contextmanager

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..session import scratch_dir
from ..sources.tables import epoch_long_to_micros

__all__ = [
    "EVENTS_SCHEMA",
    "drain_conf",
    "events_stream",
    "run_to_memory",
    "tumbling_window_avg",
    "sliding_window_avg",
    "session_window_stats",
    "dedup_within_watermark",
    "stream_to_parquet",
]

#: Raw parquet schema of the events fixture. ts is parquet
#: TIMESTAMP(NANOS); forced to LongType here (the file-stream source
#: can't read NANOS as timestamp) and normalized below with
#: magnitude-based unit detection (sources/tables.py).
EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def events_stream(spark: SparkSession, path: str, max_files_per_trigger: int | None = None) -> DataFrame:
    """File-source replay of the events table as a stream (T1/T7: the
    engine's 'kafka stand-in' — at scale swap for a real bus; the
    downstream plan is identical)."""
    import os

    reader = spark.readStream.schema(EVENTS_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    if os.path.isfile(path):
        # the file source only accepts directories: point at the parent
        # and glob-filter down to the one table file
        reader = reader.option("pathGlobFilter", os.path.basename(path))
        path = os.path.dirname(path)
    df = reader.parquet(path)
    # NB: watermarks require TimestampType (not NTZ); the session runs in
    # UTC so values match the batch loader's NTZ reading bit-for-bit.
    # Final projections cast to NTZ where oracle parity needs it.
    # The long read may surface epoch-ns or epoch-µs depending on the
    # Spark build — units detected per value, never assumed (see
    # sources/tables.py:epoch_long_to_micros).
    return df.withColumn("ts", F.timestamp_micros(epoch_long_to_micros("ts")))


def _ephemeral_checkpoint_dir() -> str:
    """Throwaway checkpoint for deterministic full drains: tmpfs when
    available (the checkpoint of a drain-and-discard query carries no
    durability obligation, and the WAL/commit-log fsyncs dominate short
    drains on disk). Durable pipelines (stream_to_parquet) take an
    explicit, persistent checkpoint path instead."""
    import os

    base = "/dev/shm" if os.path.isdir("/dev/shm") else None
    return scratch_dir("ckpt_", dir=base)


#: State-store partition count for certification drains. Streaming state
#: partitioning is fixed at FIRST query start per checkpoint; our drain
#: checkpoints are ephemeral, so this is purely harness-local. 32 state
#: tasks per micro-batch over sf0.01-sized fixtures is ~all scheduler
#: overhead (streaming_interval_join paid a 17 s floor for it, VERDICT
#: r05 #2); 4 keeps the drain parallel enough while cutting that tax.
#: Durable pipelines (stream_to_parquet) take the session's real conf.
#:
#: At VOLUME the fixture tuning inverts: 4 state tasks are a
#: parallelism ceiling (r12 probe, 5M events through session windows on
#: a parquet sink: 9.9 s at 4 partitions vs 5.8 s at 32; r13 probe at
#: 20M: 8.26x at 4 vs 4.36x at 32 for 10x data). Deployments size it
#: with the env knob; when the knob is UNSET the default is the
#: session's defaultParallelism — cluster-shaped, not fixture-shaped —
#: so a deployer who never reads the docs still gets a parallel drain.
#: The fixture gates (__spark_entry__, bench.py, tests/conftest.py) pin
#: the env to 4 explicitly to keep sf0.01-sized drain timings.
def drain_partitions(spark: SparkSession) -> int:
    """Resolve the drain state-store partition count at call time:
    SPARK_GRAFT_DRAIN_PARTITIONS when set to a valid int (clamped >= 1,
    ADVICE r12); otherwise the session's defaultParallelism (total
    executor cores on a real cluster, local[N] threads here). A
    malformed value warns and falls through to the cluster default —
    never raises (the driver gate path calls this)."""
    raw = os.environ.get("SPARK_GRAFT_DRAIN_PARTITIONS")
    if raw is not None:
        try:
            return max(1, int(raw))
        except ValueError:
            import logging

            logging.getLogger(__name__).warning(
                "SPARK_GRAFT_DRAIN_PARTITIONS=%r is not an int; "
                "using defaultParallelism",
                raw,
            )
    try:
        return max(1, int(spark.sparkContext.defaultParallelism))
    except Exception:
        return 4


@contextmanager
def drain_conf(spark: SparkSession):
    """Narrow shuffle/state partitions to drain_partitions(spark) for
    the duration of a synchronous AvailableNow drain. The conf is
    captured when the stream plans its first micro-batch (async after
    start()), so callers must keep the drain — start() through
    awaitTermination() — inside this scope; nothing else compiles plans
    on the session meanwhile, so batch plans are unaffected."""
    prev = spark.conf.get("spark.sql.shuffle.partitions", None)
    spark.conf.set("spark.sql.shuffle.partitions", str(drain_partitions(spark)))
    try:
        yield
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
        else:
            spark.conf.unset("spark.sql.shuffle.partitions")


def run_to_memory(stream_df: DataFrame, output_mode: str = "complete") -> DataFrame:
    """Drain a stream with Trigger.AvailableNow into an in-memory table
    and return it as a DataFrame (deterministic: blocks until done).

    State partitioning is fixed at first query start per checkpoint and
    our drain checkpoints are ephemeral, so narrowing it via drain_conf
    is purely harness-local (VERDICT r05 #2: 32 near-empty state tasks
    per micro-batch were ~all of streaming_interval_join's 17 s floor)."""
    spark = stream_df.sparkSession
    name = "s_" + uuid.uuid4().hex[:12]
    with drain_conf(spark):
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .option("checkpointLocation", _ephemeral_checkpoint_dir())
            .start()
        )
        q.awaitTermination()
    return spark.table(name)


def tumbling_window_avg(stream: DataFrame, width: str = "1 day", watermark: str = "1 day") -> DataFrame:
    """T3: the reference's daily average IS a 1-day tumbling window
    (energy_etl.py:69-70). State per (window × event_type), expired past
    the watermark."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width).alias("win"), "event_type")
        .agg(F.round(F.avg("value"), 6).alias("avg_value"), F.count(F.lit(1)).alias("n"))
        .select(F.col("win.start").cast("date").alias("date"), "event_type", "avg_value", "n")
    )


def sliding_window_avg(
    stream: DataFrame, width: str = "2 days", slide: str = "1 day", watermark: str = "1 day"
) -> DataFrame:
    """T4: overlapping windows — each event lands in width/slide windows.
    In append mode the watermark finalizes (emits + evicts) a window once
    it passes the window END — the unbounded-deploy drain shape certified
    by queries/streaming.py::streaming_sliding_2d_1d_append."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width, slide).alias("win"), "event_type")
        .agg(F.round(F.avg("value"), 6).alias("avg_value"), F.count(F.lit(1)).alias("n"))
        .select(
            F.col("win.start").cast("date").alias("win_start"),
            "event_type",
            "avg_value",
            "n",
        )
    )


def session_window_stats(
    stream: DataFrame, gap: str = "30 minutes", watermark: str = "1 day"
) -> DataFrame:
    """T5: per-user session windows (gap-merged). State is open sessions
    only — the watermark closes them. In append mode a session emits
    (and its state row is evicted) once the watermark passes its end
    (last_event + gap) — certified by
    queries/streaming.py::streaming_session_windows_append."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("win"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 4).alias("session_value"))
        .select(
            "user_id",
            F.col("win.start").cast("timestamp_ntz").alias("session_start"),
            F.col("win.end").cast("timestamp_ntz").alias("session_end"),
            "n_events",
            "session_value",
        )
    )


def dedup_within_watermark(stream: DataFrame, keys: list[str], watermark: str = "1 day") -> DataFrame:
    """T6: stateful dedup with bounded state — duplicates arriving within
    the watermark horizon are dropped; state older than it is evicted."""
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)


def stateful_user_totals(stream: DataFrame, timeout: str = "NoTimeout") -> DataFrame:
    """Custom stateful operator via applyInPandasWithState (U2×T-series:
    the extension point for state machines Spark's built-ins can't
    express). Keeps a running (n_events, total_value) per user across
    micro-batches; emits the updated running totals for users seen in
    each batch.

    State is one small tuple per key — bounded by |users|, partitioned
    by the groupBy key like any agg; this is the scale shape for
    sessionization/attribution logic beyond session_window's gap rule.
    """
    from pyspark.sql.streaming.state import GroupState

    out_schema = "user_id long, n_events long, total_value double"
    state_schema = "n long, total double"

    def update(key, pdfs, state: "GroupState"):
        import pandas as pd

        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "total_value": [round(total, 4)]})

    return (
        stream.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(update, out_schema, state_schema, "update", timeout)
    )


def neardup_suppress_stream(
    sig_stream: DataFrame, max_hamming: int = 3, state_cap: int | None = None
) -> DataFrame:
    """Streaming near-duplicate SUPPRESSION (T6×L2×U2): first-seen-wins
    dedup of a document firehose by SimHash, with LSH-banded state in
    the state store. Every batch near-dup operator in operators/dedup.py
    is a backfill; this is the ingest-time shape — a new document is
    admitted or suppressed AT ARRIVAL, against everything seen so far.

    Input: a streaming frame ``(doc_id long, simhash long)``. The
    signature is banded into ``max_hamming+1`` pigeonhole chunks
    (any Hamming-≤k pair agrees exactly on ≥1 chunk — the same
    completeness argument as `simhash_candidate_pairs`), and the
    stateful op is keyed by ``(chunk, key)``: state per bucket is the
    (ids, sigs) of every doc that landed there; a newcomer Hamming-
    verifies against its bucket-mates ONLY — never the corpus. Output
    is one row per (doc, chunk): ``(doc_id, simhash, hit)`` where hit
    means an EARLIER doc (smaller doc_id) within this bucket is within
    Hamming ≤ max_hamming; the caller reduces per doc (suppressed iff
    ANY chunk hit — done per micro-batch, since a doc's chunk rows all
    travel in its own batch).

    Precedence is doc_id order: the guard ``earlier_id < doc_id`` makes
    each VERDICT independent of arrival order *within state*, but a
    doc's verdict is final at emission — sources must deliver ids
    non-decreasing across batches for replay-equality with the batch
    semantics (true for the id-chunked backfill that certifies this;
    in production "arrival defines precedence" and doc_id is the
    arrival sequence number).

    Scale: with ``state_cap=None`` state grows with ALL seen docs
    (admitted and suppressed — suppressed docs still suppress their own
    later near-dups), sharded across ``4 × 2^15`` bucket keys;
    per-newcomer work is |bucket-mates| XOR+popcounts
    (numpy-vectorized). That is the certified bounded-backfill mode
    (the oracle-replayable artifact — leave its drain untouched).

    ``state_cap=N`` (N ≥ 1) is the unbounded-horizon lever (VERDICT
    r14 #1): each bucket retains only the N MOST-RECENT entries
    (largest doc_id = newest arrival — an arrival-recency LRU), so
    END-OF-BATCH state is ≤ ``chunks × 2^15 × N`` tuples and
    per-newcomer work is ≤ N + same-batch bucket arrivals popcounts —
    both constant in CORPUS size (the trim runs at end of batch, so
    the within-batch transient adds the batch's own bucket arrivals;
    size executors for cap + max micro-batch, not cap alone). Completeness tradeoff,
    one-sided by construction: a retained set is a subset of the full
    bucket, so the capped mode can only MISS a hit — it admits a
    SUPERSET of the unbounded mode's admitted docs and NEVER
    suppresses a doc the unbounded mode admits (pinned in
    tests/test_streaming.py). A near-dup is missed only when ≥ N
    distinct docs landed in ALL of the pair's shared buckets between
    the two arrivals — for dedup of a firehose, where near-dups
    cluster in time, recency is exactly the right retention axis
    (same policy class as a GroupStateTimeout TTL, but deterministic
    under replay: eviction depends on the doc sequence alone, never on
    wall-clock or watermark timing)."""
    import numpy as np
    import pandas as pd

    from ..operators.dedup import band_key_structs

    if state_cap is not None and state_cap < 1:
        # fail at plan-build, not in the executor kernel: cap=0 would
        # slice [-0:] (keeps EVERYTHING — unbounded growth on the exact
        # deploy the lever exists for) and negative caps are nonsense
        raise ValueError(f"state_cap must be >= 1 or None, got {state_cap}")
    chunks = max_hamming + 1
    banded = sig_stream.select(
        "doc_id",
        "simhash",
        F.explode(band_key_structs(F.col("simhash"), chunks)).alias("cb"),
    ).select("doc_id", "simhash", F.col("cb.chunk").alias("chunk"), F.col("cb.key").alias("key"))

    out_schema = "doc_id long, simhash long, hit boolean"
    state_schema = "ids array<long>, sigs array<long>"

    def update(key, pdfs, state):  # noqa: ANN001
        ids, sigs = (list(state.get[0]), list(state.get[1])) if state.exists else ([], [])
        pdf = pd.concat(list(pdfs)).sort_values("doc_id")
        out_id, out_sig, out_hit = [], [], []
        for doc_id, sig in zip(pdf["doc_id"].tolist(), pdf["simhash"].tolist()):
            if ids:
                prior = np.asarray(ids, dtype=np.int64) < doc_id
                if prior.any():
                    x = np.bitwise_xor(np.asarray(sigs, dtype=np.int64)[prior], np.int64(sig))
                    # vectorized popcount (numpy<2 has no bitwise_count):
                    # 60-bit values, 4 shifts of a 16-bit lookup would do,
                    # but unpackbits on the raw bytes is simpler and exact.
                    bitsum = np.unpackbits(x.astype(">u8").view(np.uint8).reshape(-1, 8), axis=1).sum(axis=1)
                    hit = bool((bitsum <= max_hamming).any())
                else:
                    hit = False
            else:
                hit = False
            out_id.append(doc_id)
            out_sig.append(sig)
            out_hit.append(hit)
            ids.append(doc_id)
            sigs.append(sig)
        if state_cap is not None and len(ids) > state_cap:
            # retain the state_cap newest entries (largest doc_id =
            # most recent arrival). Entries are appended in id order
            # within a batch and ids are non-decreasing across batches
            # for the certified replay, but sort defensively — the cap
            # must bound state under ANY arrival order.
            keep = np.argsort(np.asarray(ids, dtype=np.int64), kind="stable")[-state_cap:]
            ids = [ids[i] for i in keep]
            sigs = [sigs[i] for i in keep]
        state.update((ids, sigs))
        yield pd.DataFrame({"doc_id": out_id, "simhash": out_sig, "hit": out_hit})

    return banded.groupBy("chunk", "key").applyInPandasWithState(
        update, out_schema, state_schema, "update", "NoTimeout"
    )


def timeout_finalized_totals(
    stream: DataFrame,
    keys: list[str],
    gap_ms: int,
    watermark: str = "1 day",
) -> DataFrame:
    """Event-time TIMEOUT eviction (the GroupStateTimeout surface no
    other operator here exercises): per-key running (n, total) state
    that emits ONLY when the key goes idle — the watermark passes its
    last event + ``gap_ms`` — at which point `state.hasTimedOut` fires,
    the finalized record is emitted, and the state row is REMOVED. Keys
    still inside the horizon never emit (open state — the same
    finalization-cut idiom as the append eviction twins, here enforced
    by the timeout callback instead of window eviction).

    This is the inactivity-finalization shape session_window can't
    express when "done" isn't a gap between events of one window but a
    per-KEY idle rule (abandoned carts, closed tickets, day-complete
    ledgers). Replay-deterministic closed form: a key finalizes iff
    ``floor(last_us/1000) + gap_ms < floor(global_max_us/1000) −
    delay_ms`` (timeout base is the ms-floored last event; Trigger.
    AvailableNow runs a terminal no-data batch, verified empirically,
    so every timeout eligible under the FINAL watermark fires in-run).

    Determinism note: the float total is accumulated per batch over
    VALUE-SORTED numpy arrays — replay-stable regardless of shuffle
    arrival order; oracles bridge the remaining engine-order delta with
    the 2dp wide-aggregate ROUND doctrine.

    Scale: state is one tuple per OPEN key (timeout eviction is the
    bound), partitioned by the groupBy keys; emission volume is one row
    per closed key."""
    import numpy as np
    import pandas as pd

    dtypes = dict(stream.dtypes)
    out_schema = ", ".join(f"{k} {dtypes[k]}" for k in keys) + ", n long, total double"
    state_schema = "n long, total double, last_us long"

    def update(key, pdfs, state):  # noqa: ANN001
        if state.hasTimedOut:
            n, total, last_us = state.get
            state.remove()
            # half-AWAY 2dp (floor(x·100 + 0.5), values non-negative) —
            # NOT Python round(): its half-even tie rule diverges from
            # the oracle's SQL ROUND at exact .005 boundaries (the r07
            # np.round doctrine applied to stateful kernels).
            total_2dp = np.floor(total * 100.0 + 0.5) / 100.0
            yield pd.DataFrame(
                {**{k: [key[i]] for i, k in enumerate(keys)}, "n": [n], "total": [total_2dp]}
            )
            return
        n, total, last_us = state.get if state.exists else (0, 0.0, 0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(np.sort(pdf["value"].to_numpy(dtype="float64")).sum())
            last_us = max(last_us, int(pdf["ts"].max().value // 1000))
        state.update((n, total, last_us))
        state.setTimeoutTimestamp(last_us // 1000 + gap_ms)
        return iter(())

    return (
        stream.withWatermark("ts", watermark)
        .groupBy(*keys)
        .applyInPandasWithState(update, out_schema, state_schema, "update", "EventTimeTimeout")
    )


def heavy_hitters_stream(
    stream: DataFrame, key: str, item_col: str, k: int = 8
) -> DataFrame:
    """Streaming heavy hitters: a bounded-memory SpaceSaving summary in
    the state store — the sketch-in-state shape a plain streaming
    ``groupBy(item).count()`` can't give you at 100 TB (its state is one
    row per DISTINCT item, unbounded; SpaceSaving is k counters per key,
    period). Emits the per-key summary (items, estimates) after each
    micro-batch; the last emission is the end-of-replay summary.

    Determinism (driver-certifiable): each micro-batch's items are
    PRE-AGGREGATED to (item, weight) and applied in ascending item
    order, eviction picks the minimum count with ties broken on the
    smallest item — so the summary is a pure function of the batch
    sequence, never of shuffle arrival order.

    The two SpaceSaving theorems downstream verdicts certify:
    sum(counts) == N exactly (every arrival increments exactly one
    counter), hence min(counts) ≤ N/k, hence (a) any item with true
    frequency > N/k is IN the summary and (b) every estimate
    overcounts by at most min(counts) ≤ N/k."""
    import numpy as np
    import pandas as pd

    out_schema = f"{key} {dict(stream.dtypes)[key]}, items array<long>, counts array<long>, n long"
    state_schema = "items array<long>, counts array<long>, n long"

    def update(kv, pdfs, state):  # noqa: ANN001
        items, counts, n = (
            (list(state.get[0]), list(state.get[1]), state.get[2])
            if state.exists
            else ([], [], 0)
        )
        pdf = pd.concat(list(pdfs))
        batch = pdf.groupby(item_col).size().sort_index()
        for item, w in zip(batch.index.tolist(), batch.tolist()):
            item, w = int(item), int(w)
            n += w
            if item in items:
                counts[items.index(item)] += w
            elif len(items) < k:
                items.append(item)
                counts.append(w)
            else:
                a = np.asarray(counts)
                mins = np.flatnonzero(a == a.min())
                j = mins[np.argmin(np.asarray(items)[mins])]  # tie → smallest item
                items[j] = item
                counts[j] = int(a[j]) + w
        state.update((items, counts, n))
        yield pd.DataFrame(
            {key: [kv[0]], "items": [list(items)], "counts": [list(counts)], "n": [n]}
        )

    return (
        stream.select(key, item_col)
        .groupBy(key)
        .applyInPandasWithState(update, out_schema, state_schema, "update", "NoTimeout")
    )


def interval_self_join(
    left: DataFrame,
    right: DataFrame,
    lower: str = "interval 0 seconds",
    upper: str = "interval 30 minutes",
    watermark: str = "1 day",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream join with an event-time interval condition: right
    rows join left rows of the same user whose timestamp falls in
    (right.ts - upper, right.ts - lower]. Both sides carry watermarks so
    the join state (buffered left rows awaiting possible right matches)
    is bounded by the interval + watermark horizon — the canonical
    Spark stream-stream join shape (attribution/funnel analysis).

    `how="left_outer"` additionally emits null-extended left rows once
    the global watermark proves no match can still arrive (watermark >
    l_ts + upper); Spark holds them in state until then, so outer
    results are correct-but-late by exactly the interval + delay — the
    documented outer-join semantics, certified in
    queries/streaming.py::streaming_interval_join_louter.

    Columns are prefixed l_/r_ to keep the joined schema unambiguous.
    """
    lt = left.select(
        F.col("user_id").alias("l_user"), F.col("ts").alias("l_ts"), F.col("value").alias("l_value")
    ).withWatermark("l_ts", watermark)
    rt = right.select(
        F.col("user_id").alias("r_user"), F.col("ts").alias("r_ts"), F.col("value").alias("r_value")
    ).withWatermark("r_ts", watermark)
    return lt.join(
        rt,
        F.expr(f"l_user = r_user AND l_ts > r_ts - {upper} AND l_ts <= r_ts - {lower}"),
        how,
    )


def stream_to_parquet(stream: DataFrame, path: str, checkpoint: str) -> None:
    """T7: exactly-once append sink (the reference's WRITE_APPEND,
    energy_etl.py:105, with checkpointed idempotence instead of hope)."""
    (
        stream.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def foreachbatch_merge_sink(base: str, key: str = "event_type", value: str = "value"):
    """Build an idempotent foreachBatch MERGE sink: each micro-batch's
    pre-aggregated delta is full-outer-merged into a keyed summary
    table, with inputs and outputs keyed by batch_id — the contract
    foreachBatch REQUIRES, because Structured Streaming re-runs a
    failed batch with the SAME id: a retry reads the same predecessor
    version and overwrites its own output, never re-merging into it
    (a version-counter sink double-counts on retry; pinned in
    tests/test_streaming.py).

    Returns ``(fn, state)``; ``state['last']`` holds the newest
    batch id after the drain and ``state['path']`` its table path.
    """
    import os

    state: dict = {"last": -1, "path": None}

    def upsert(batch_df, batch_id: int) -> None:
        delta = batch_df.groupBy(key).agg(
            F.count(F.lit(1)).alias("dn"), F.sum(value).alias("dt")
        )
        prev = f"{base}/state_v{batch_id - 1}"
        if batch_id == 0 or not os.path.exists(prev):
            merged = delta.select(
                key, F.col("dn").alias("n_events"), F.col("dt").alias("total_value")
            )
        else:
            cur = batch_df.sparkSession.read.parquet(prev)
            merged = (
                cur.withColumnsRenamed({"n_events": "sn", "total_value": "st"})
                .join(delta, key, "full_outer")
                .select(
                    key,
                    (F.coalesce("sn", F.lit(0)) + F.coalesce("dn", F.lit(0))).alias("n_events"),
                    (F.coalesce("st", F.lit(0.0)) + F.coalesce("dt", F.lit(0.0))).alias(
                        "total_value"
                    ),
                )
            )
        out = f"{base}/state_v{batch_id}"
        merged.write.mode("overwrite").parquet(out)
        state["last"] = max(state["last"], batch_id)
        state["path"] = f"{base}/state_v{state['last']}"

    return upsert, state


def ohlc_candles(stream: DataFrame, width: str = "1 hour", watermark: str = "1 day") -> DataFrame:
    """Streaming OHLC: per (tumbling window × type), open/close via
    min_by/max_by on the (ts, event_id) struct — declarative aggregates
    the streaming engine maintains incrementally (one state row per
    candle, each holding the current best (key, value) pair), so the
    candle is exact without ever buffering the window's events. The
    streaming twin of queries/timeseries.py::ohlc_hourly_resample's
    two-sided-rank batch plan."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width).alias("win"), "event_type")
        .agg(
            F.min_by("value", F.struct("ts", "event_id")).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", F.struct("ts", "event_id")).alias("close"),
            F.count(F.lit(1)).cast("long").alias("volume"),
        )
        .select(F.col("win.start").alias("h"), "event_type", "open", "high", "low", "close", "volume")
    )
