"""Streaming-tier declared queries (SURVEY.md §2.9). Each runs a REAL
Structured Streaming job (file-source replay, Trigger.AvailableNow,
memory sink) and is checked against a batch-SQL oracle where the
semantics are deterministic (tumbling/sliding windows drained in one
run), rows-only otherwise.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..streaming.ops import (
    dedup_within_watermark,
    drain_conf,
    events_stream,
    interval_self_join,
    run_to_memory,
    session_window_stats,
    sliding_window_avg,
    stateful_user_totals,
    stream_to_parquet,
    tumbling_window_avg,
)
from ..session import scratch_dir
from .catalog import query


def _events_path(sf_dir: str) -> str:
    return f"{sf_dir}/events.parquet"


def _chunked_file_stream(spark: SparkSession, parts: list[DataFrame], base: str):
    """Replay a partitioned bounded frame as a file stream: each part
    becomes one single-file chunk under ``base/src`` opened with
    maxFilesPerTrigger=1 — one part per micro-batch.

    The chunks are written in ONE Spark job: every part is tagged with
    its chunk index, the tagged parts are unioned (a union, not a
    split, so overlapping parts such as streaming_late_data_drop's
    replayed head each keep their rows) and written once with
    ``partitionBy("_chunk")`` from a single task (``coalesce(1)``; a
    ``repartition`` on ``_chunk`` would add a shuffle job under AQE),
    which leaves one file per non-empty chunk and keeps ``_chunk`` out
    of the file schema.
    An empty part writes no ``_chunk=i`` directory, so it gets a
    schema-only file instead: it still replays as a 0-row micro-batch
    and later batches keep their numbers.

    Spark's FileStreamSource orders files by MODIFICATION TIME ONLY
    (filenames are not a tiebreak), so each chunk's mtime is stamped
    explicitly, strictly increasing in list order — write order alone
    could tie on a coarse-mtime filesystem and silently reorder the
    replay (ADVICE r14). The ordering contract every replay harness
    below relies on lives here and nowhere else."""
    import glob
    import os
    import shutil
    from functools import reduce

    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    stage, src = f"{base}/chunks", f"{base}/src"
    schema = parts[0].schema
    tagged = [p.withColumn("_chunk", F.lit(i)) for i, p in enumerate(parts)]
    reduce(DataFrame.unionByName, tagged).coalesce(1).write.partitionBy("_chunk").parquet(stage)
    os.makedirs(src)
    for i in range(len(parts)):
        dst = f"{src}/{i:02d}.parquet"
        written = glob.glob(f"{stage}/_chunk={i}/part-*.parquet")
        if written:
            shutil.move(written[0], dst)
        else:
            pq.write_table(to_arrow_schema(schema).empty_table(), dst)
        t = 1_700_000_000 + i  # strictly increasing, 1 s apart
        os.utime(dst, (t, t))
    shutil.rmtree(stage, ignore_errors=True)
    return spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)


def _id_chunked_stream(spark: SparkSession, df: DataFrame, base: str, n_chunks: int = 3):
    """Id-ordered replay: split on doc_id ranges so ids arrive
    non-decreasing across micro-batches — the certification harness for
    arrival-ordered streaming semantics (neardup suppression,
    blocklist guards)."""
    bounds = df.agg(F.min("doc_id"), F.max("doc_id")).collect()[0]  # bounded driver scalars
    mn, mx = int(bounds[0]), int(bounds[1])
    step = (mx - mn + n_chunks) // n_chunks  # ceil of the id span
    parts = [
        df.filter((F.col("doc_id") >= mn + i * step) & (F.col("doc_id") < mn + (i + 1) * step))
        for i in range(n_chunks)
    ]
    return _chunked_file_stream(spark, parts, base)


def _day_chunked_stream(spark: SparkSession, ev: DataFrame, base: str):
    """Time-ordered replay of an events-shaped frame (has a ``ts``
    timestamp): three ~10-day January chunks, one micro-batch each
    (the fixture spans Jan 1-30 at every SF)."""
    parts = [
        ev.filter((F.dayofmonth("ts") >= lo) & (F.dayofmonth("ts") <= hi))
        for lo, hi in [(1, 10), (11, 20), (21, 31)]
    ]
    return _chunked_file_stream(spark, parts, base)


def _event_id_mod_stream(spark: SparkSession, ev: DataFrame, base: str, n: int = 3):
    """Replay ``ev`` as one file per ``event_id pmod n`` class, one
    micro-batch each (streaming_foreachbatch_upsert,
    streaming_update_mode_totals and api_sink_stream_roundtrip)."""
    parts = [ev.filter(F.pmod("event_id", F.lit(n)) == i) for i in range(n)]
    return _chunked_file_stream(spark, parts, base)


@query(
    "streaming_tumbling_daily",
    tier="T3 (tumbling 1-day window agg — the reference transform as a stream)",
    oracle="""
        SELECT CAST(DATE_TRUNC('day', ts) AS DATE) AS date,
               event_type,
               ROUND(AVG(value), 6) AS avg_value,
               COUNT(*) AS n
        FROM events
        GROUP BY 1, 2
    """,
)
def streaming_tumbling_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runs an actual stream (AvailableNow drain, complete mode) — the
    batch SQL twin certifies stream/batch equivalence (SURVEY §5.2.6)."""
    stream = events_stream(spark, _events_path(sf_dir))
    return run_to_memory(tumbling_window_avg(stream), output_mode="complete")


@query(
    "streaming_sliding_2d_1d",
    tier="T4 (sliding 2-day window, 1-day slide)",
    oracle="""
        WITH buckets AS (
            SELECT CAST(DATE_TRUNC('day', ts) AS DATE) AS win_start, event_type, value FROM events
            UNION ALL
            SELECT CAST(DATE_TRUNC('day', ts) - INTERVAL 1 DAY AS DATE) AS win_start, event_type, value FROM events
        )
        SELECT win_start, event_type,
               ROUND(AVG(value), 6) AS avg_value,
               COUNT(*) AS n
        FROM buckets
        GROUP BY 1, 2
    """,
)
def streaming_sliding_2d_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each event belongs to width/slide = 2 windows; the oracle derives
    the same assignment with an explicit two-bucket union.

    NOTE the certified drain runs COMPLETE mode (every window re-emitted
    per batch, nothing evicted) — right for a bounded drain-and-compare,
    not for an unbounded deploy. The deploy shape — the SAME plan in
    append mode where the watermark evicts finalized windows — is
    certified separately as streaming_sliding_2d_1d_append (r13)."""
    stream = events_stream(spark, _events_path(sf_dir))
    return run_to_memory(sliding_window_avg(stream), output_mode="complete")


@query(
    "streaming_session_windows",
    tier="T5 (session windows, 30-min gap)",
    oracle="""
        WITH marked AS (
            SELECT user_id, ts, value,
                   CASE WHEN LAG(ts) OVER w IS NULL
                             OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
                        THEN 1 ELSE 0 END AS new_sess
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ),
        sess AS (
            SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                          ROWS UNBOUNDED PRECEDING) AS sid
            FROM marked
        )
        SELECT user_id,
               STRFTIME(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
               STRFTIME(MAX(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S.%f') AS session_end,
               COUNT(*) AS n_events,
               ROUND(SUM(value), 4) AS session_value
        FROM sess
        GROUP BY user_id, sid
    """,
)
def streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-merge session semantics have an exact batch twin: a new
    session starts when the gap to the previous event is >= the gap
    duration (Spark's window is [start, last_event + gap), end
    exclusive), derived in SQL with LAG + a running session-id sum.
    Boundaries are emitted as µs-formatted strings — both engines
    truncate the fixture's ns timestamps to µs identically (integer
    `div`, see sources/tables.py:_normalize_events).

    NOTE the certified drain runs COMPLETE mode — it re-materializes
    EVERY session per batch (the r12 probe's 45 s at 5M events was this
    memory-sink drain, not the operator). The unbounded-deploy shape —
    append mode, watermark-evicted state bounded at |open sessions| —
    is certified separately as streaming_session_windows_append (r13;
    parquet-sink decomposition 1.39x at 5x events, PROBES_r13.json)."""
    stream = events_stream(spark, _events_path(sf_dir))
    drained = run_to_memory(session_window_stats(stream, gap="30 minutes"), output_mode="complete")
    return drained.select(
        "user_id",
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("session_start"),
        F.date_format("session_end", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("session_end"),
        "n_events",
        "session_value",
    )


@query(
    "streaming_session_windows_append",
    tier="T2+T5 (eviction-mode session windows: append drain, watermark-finalized sessions only)",
    oracle="""
        WITH wm AS (
            -- append emits a session only once the watermark
            -- (max event time - 25 h) passes its END (last_event + gap)
            SELECT MAX(ts) - INTERVAL 25 HOUR AS cut FROM events
        ), marked AS (
            SELECT user_id, ts, value,
                   CASE WHEN LAG(ts) OVER w IS NULL
                             OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
                        THEN 1 ELSE 0 END AS new_sess
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ), sess AS (
            SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                          ROWS UNBOUNDED PRECEDING) AS sid
            FROM marked
        ), agg AS (
            SELECT user_id,
                   MIN(ts) AS s_start,
                   MAX(ts) + INTERVAL 30 MINUTE AS s_end,
                   COUNT(*) AS n_events,
                   ROUND(SUM(value), 4) AS session_value
            FROM sess
            GROUP BY user_id, sid
        )
        SELECT user_id,
               STRFTIME(s_start, '%Y-%m-%d %H:%M:%S.%f') AS session_start,
               STRFTIME(s_end, '%Y-%m-%d %H:%M:%S.%f') AS session_end,
               n_events,
               session_value
        FROM agg CROSS JOIN wm
        WHERE s_end <= wm.cut
    """,
)
def streaming_session_windows_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DEPLOY-shaped session stream (VERDICT r12 item 1): the exact
    session_window_stats() plan that streaming_session_windows certifies
    in complete mode, drained in APPEND mode — the watermark now actually
    EVICTS: a session is emitted once (when the 25-hour watermark passes
    its end = last_event + gap) and its state row is dropped, so state is
    bounded at |open sessions| no matter how long the stream runs. The
    complete-mode twin re-materializes EVERY session per batch (the r12
    probe's 45 s at 5M events was that memory-sink drain, not the
    operator); this is the shape an unbounded sessionization deploy runs.

    Finalization cut (the streaming_ohlc_candles_append discipline):
    with delay D, sessions whose end > max_ts - D never emit in a
    bounded AvailableNow drain, so the oracle applies the same cut in
    closed form — session_end <= max_ts - 25h. Unlike the hour/day-grid
    twins, session ends are arbitrary event-time points, so the <=/<
    boundary is load-bearing only on an EXACT tie between some
    (event_ts + 30 min) and (max_ts - 25 h) — microsecond-collision
    territory; tests/test_streaming.py asserts every fixture session
    end clears the cut by >1 s at all three SFs, so a fixture regen
    cannot silently land on the boundary. The single-file source
    replays in ONE batch (watermark still zero, nothing late-dropped);
    the trailing no-data batch emits every finalized session.

    100 TB: state = open sessions only (evicted at watermark), emit
    volume = each session ONCE — linear rows-through-state, certified
    at the same value level as the complete twin."""
    stream = events_stream(spark, _events_path(sf_dir))
    drained = run_to_memory(
        session_window_stats(stream, gap="30 minutes", watermark="25 hours"),
        output_mode="append",
    )
    return drained.select(
        "user_id",
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("session_start"),
        F.date_format("session_end", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("session_end"),
        "n_events",
        "session_value",
    )


@query(
    "streaming_sliding_2d_1d_append",
    tier="T2+T4 (eviction-mode sliding windows: append drain, watermark-finalized windows only)",
    oracle="""
        WITH wm AS (
            -- a [h, h+2d) window emits once the watermark
            -- (max event time - 25 h) passes its end:
            -- h + 2d <= max_ts - 25h  <=>  h <= max_ts - 73h
            SELECT MAX(ts) - INTERVAL 73 HOUR AS cut FROM events
        ), buckets AS (
            SELECT CAST(DATE_TRUNC('day', ts) AS DATE) AS win_start, event_type, value
            FROM events
            UNION ALL
            SELECT CAST(DATE_TRUNC('day', ts) - INTERVAL 1 DAY AS DATE) AS win_start,
                   event_type, value
            FROM events
        )
        SELECT win_start, event_type,
               ROUND(AVG(value), 6) AS avg_value,
               COUNT(*) AS n
        FROM buckets
        WHERE CAST(win_start AS TIMESTAMP) <= (SELECT cut FROM wm)
        GROUP BY win_start, event_type
    """,
)
def streaming_sliding_2d_1d_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DEPLOY-shaped sliding-window stream (VERDICT r12 item 3): the
    exact sliding_window_avg() plan that streaming_sliding_2d_1d
    certifies in complete mode, drained in APPEND mode with a 25-hour
    watermark — each 2-day window is emitted once (when the watermark
    passes its end) and evicted, so state is bounded at
    |open windows| x |types| (width/slide = 2 live grid slots per type
    plus the watermark horizon) for an unbounded stream.

    Finalization cut in closed form (the r12 OHLC/DAU discipline): with
    delay D = 25 h and width W = 2 d, day-grid starts h satisfy
    h + W <= max_ts - D  <=>  h <= max_ts - 73 h. The fixture's max
    event time sits mid-hour at every SF, so the grid-point boundary is
    unreachable and <=/< cannot disagree. Single-file replay = one
    batch; the trailing no-data batch emits every finalized window.

    100 TB: same per-batch partial-aggregation as the complete twin,
    but emit volume is each window once and state never outlives the
    watermark horizon."""
    stream = events_stream(spark, _events_path(sf_dir))
    return run_to_memory(
        sliding_window_avg(stream, watermark="25 hours"), output_mode="append"
    )


@query(
    "streaming_stateful_totals",
    tier="T-series+U2 (applyInPandasWithState custom stateful operator)",
    oracle="""
        SELECT user_id,
               COUNT(*) AS n_events,
               ROUND(SUM(value), 4) AS total_value
        FROM events
        WHERE user_id < 50
        GROUP BY user_id
    """,
)
def streaming_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running per-user totals held in explicit GroupState; after the
    drain, the final state row per user equals the batch aggregate —
    certified by the SQL oracle (update-mode memory sink keeps the last
    emission per key)."""
    stream = events_stream(spark, _events_path(sf_dir)).filter(F.col("user_id") < 50)
    drained = run_to_memory(stateful_user_totals(stream), output_mode="update")
    # single-file replay ⇒ one micro-batch ⇒ exactly one (final) emission
    # per user in the update-mode sink; a multi-batch replay would keep
    # max(n_events) per user here instead
    return drained.select("user_id", "n_events", "total_value")


@query(
    "streaming_interval_join",
    tier="T-series J1 (stream-stream inner join on event-time interval)",
    oracle="""
        SELECT c.user_id,
               COUNT(*) AS n_pairs,
               ROUND(SUM(c.value), 4) AS click_value
        FROM events c JOIN events p
          ON c.user_id = p.user_id
         AND p.event_type = 'purchase'
         AND c.event_type = 'click'
         AND c.ts > p.ts - INTERVAL 30 MINUTE
         AND c.ts <= p.ts
        GROUP BY c.user_id
    """,
)
def streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clicks attributed to purchases of the same user within the
    preceding 30 minutes — TWO streams joined on user + an event-time
    interval (buffered-state join, both sides watermarked). The drain is
    a single micro-batch so no candidate pair is watermark-dropped and
    the batch SQL twin is exact; the post-drain aggregation runs on the
    drained static frame (aggregating a stream-stream join inside the
    stream would need a second watermark pass)."""
    clicks = events_stream(spark, _events_path(sf_dir)).filter(F.col("event_type") == "click")
    purchases = events_stream(spark, _events_path(sf_dir)).filter(F.col("event_type") == "purchase")
    joined = interval_self_join(clicks, purchases, upper="interval 30 minutes")
    drained = run_to_memory(joined, output_mode="append")
    return drained.groupBy(F.col("l_user").alias("user_id")).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(F.sum("l_value"), 4).alias("click_value"),
    )


@query(
    "streaming_rollup_parquet",
    tier="T3+T7 (continuous rollup through the checkpointed parquet sink + read-back)",
    oracle="""
        -- append mode emits a day window only once the event-time
        -- watermark (here max ts - 0s) passes its END: every day but the
        -- last lands durably; the open last window stays in state. The
        -- oracle applies the same finalization cut.
        SELECT CAST(DATE_TRUNC('day', ts) AS DATE) AS date,
               event_type,
               ROUND(AVG(value), 6) AS avg_value,
               COUNT(*) AS n
        FROM events
        WHERE CAST(DATE_TRUNC('day', ts) AS DATE) + INTERVAL 1 DAY
              <= (SELECT MAX(ts) FROM events)
        GROUP BY 1, 2
    """,
)
def streaming_rollup_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's daily table maintained CONTINUOUSLY (T7): the
    tumbling rollup written through the exactly-once checkpointed
    parquet sink (append mode — only watermark-finalized windows are
    durable), then read back as the certified result. This is the
    production topology (stream_to_parquet, durable checkpoint); the
    memory-sink drains elsewhere exist only to make complete-mode
    output hash-comparable."""

    base = scratch_dir("t7_rollup_")
    stream = events_stream(spark, _events_path(sf_dir))
    rolled = tumbling_window_avg(stream, watermark="0 seconds")
    with drain_conf(spark):
        stream_to_parquet(rolled, f"{base}/table", f"{base}/ckpt")
    return spark.read.parquet(f"{base}/table")


@query(
    "streaming_dedup_count",
    tier="T6 (stateful dedup within watermark)",
    oracle="""
        SELECT COUNT(*) AS n_unique
        FROM (SELECT DISTINCT user_id, event_type, CAST(ts AS DATE) FROM events) t
    """,
)
def streaming_dedup_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicatesWithinWatermark on (user_id, event_type, day): the
    drained stream's survivor count equals batch COUNT(DISTINCT ...)."""
    stream = events_stream(spark, _events_path(sf_dir)).withColumn("day", F.col("ts").cast("date"))
    deduped = dedup_within_watermark(stream, ["user_id", "event_type", "day"], watermark="40 days")
    drained = run_to_memory(deduped, output_mode="append")
    return drained.agg(F.count(F.lit(1)).alias("n_unique"))


@query(
    "streaming_static_enrich",
    tier="T-series+J1 (stream-static broadcast enrichment join)",
    oracle="""
        SELECT c_mktsegment,
               COUNT(*) AS n_events,
               ROUND(SUM(value), 4) AS total_value
        FROM events JOIN customer ON user_id = c_custkey
        WHERE event_type = 'purchase'
        GROUP BY c_mktsegment
    """,
)
def streaming_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the purchase stream enriched against the
    static customer dimension (no watermark needed — static side is
    fixed per micro-batch, broadcast to every task; the canonical
    dimension-enrichment topology). Aggregation runs after the drain
    so the join itself is what streams."""
    from ..sources.tables import load_table as _lt

    stream = events_stream(spark, _events_path(sf_dir)).filter(F.col("event_type") == "purchase")
    dim = _lt(spark, "customer", sf_dir).select("c_custkey", "c_mktsegment")
    enriched = stream.join(F.broadcast(dim), stream.user_id == dim.c_custkey)
    drained = run_to_memory(enriched.select("c_mktsegment", "value"), output_mode="append")
    return drained.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 4).alias("total_value"),
    )


@query(
    "streaming_interval_join_louter",
    tier="T-series J2 (stream-stream LEFT OUTER interval join: watermark-finalized nulls)",
    oracle="""
        -- outer-join nulls emit only once the GLOBAL watermark (the MIN
        -- of both inputs' max event times, delay 0s here) proves no
        -- match can still arrive: watermark > click_ts + interval. The
        -- oracle applies the same finalization cut; matched rows emit
        -- immediately and need none. Boundary pinned empirically:
        -- strict '<' (a click at exactly wm-30min stays in state).
        WITH c AS (
            SELECT user_id, ts, value FROM events WHERE event_type = 'click'
        ), p AS (
            SELECT user_id, ts FROM events WHERE event_type = 'purchase'
        ), wm AS (
            SELECT LEAST((SELECT MAX(ts) FROM c), (SELECT MAX(ts) FROM p)) AS w
        ), j AS (
            SELECT c.user_id, c.ts, c.value, p.ts AS pts
            FROM c LEFT JOIN p
              ON c.user_id = p.user_id
             AND c.ts > p.ts - INTERVAL 30 MINUTE
             AND c.ts <= p.ts
        ), emitted AS (
            SELECT j.* FROM j CROSS JOIN wm
            WHERE j.pts IS NOT NULL OR j.ts + INTERVAL 30 MINUTE < wm.w
        )
        SELECT user_id,
               COUNT(*) AS n_rows,
               CAST(SUM(CASE WHEN pts IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_attributed,
               CAST(SUM(CASE WHEN pts IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unattributed,
               ROUND(SUM(value), 4) AS click_value
        FROM emitted GROUP BY user_id
    """,
)
def streaming_interval_join_louter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream interval join — the attribution report
    that also SHOWS the unattributed clicks: every click joined to
    same-user purchases within the following 30 minutes, null-extended
    when the watermark proves no purchase can still arrive (Spark holds
    unmatched left rows in join state until watermark > l_ts + upper;
    emission is correct-but-late by exactly the interval + delay — the
    documented outer-join contract, here certified value-level against
    the batch twin + finalization cut). Same bounded dual-state plan as
    the inner form; the null path adds no extra shuffle."""
    clicks = events_stream(spark, _events_path(sf_dir)).filter(F.col("event_type") == "click")
    purchases = events_stream(spark, _events_path(sf_dir)).filter(F.col("event_type") == "purchase")
    joined = interval_self_join(
        clicks, purchases, upper="interval 30 minutes", watermark="0 seconds", how="left_outer"
    )
    drained = run_to_memory(joined, output_mode="append")
    return drained.groupBy(F.col("l_user").alias("user_id")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("r_user").isNotNull().cast("bigint")).alias("n_attributed"),
        F.sum(F.col("r_user").isNull().cast("bigint")).alias("n_unattributed"),
        F.round(F.sum("l_value"), 4).alias("click_value"),
    )


@query(
    "streaming_foreachbatch_upsert",
    tier="T7+S5+J2 (foreachBatch sink: per-batch delta MERGEd into a keyed summary table)",
    oracle="""
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT)            AS n_events,
               ROUND(CAST(SUM(value) AS DOUBLE), 2) AS total_value
        FROM events
        GROUP BY event_type
    """,
)
def streaming_foreachbatch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch is the escape hatch for sinks Structured Streaming
    can't express declaratively — here the classic one: incremental
    MERGE of each micro-batch's pre-aggregated delta into a durable
    keyed summary table (upsert = full-outer coalesce + add, the
    merge_upsert_orders data-flow driven by a stream). The source is
    the events table split into three files drained one per micro-batch
    (maxFilesPerTrigger=1), so the state table really is built from
    three successive merges — a single-batch run would not exercise the
    incremental path and is asserted against. Deltas are aggregated
    BEFORE the merge (per-batch map-side combine: the merge join
    carries |keys| rows, not |batch| rows), and each version is written
    to a fresh path — at 100 TB this is the summary-table maintenance
    topology: bounded state, exactly-once via sink-side idempotent
    versioning, no unbounded stream-state store at all. The oracle is
    the one-shot batch aggregate the three merges must reproduce."""
    from ..sources.tables import load_table

    base = scratch_dir("febatch_")
    ev = load_table(spark, "events", sf_dir).select("event_id", "event_type", "value")
    stream = _event_id_mod_stream(spark, ev, base)

    from ..streaming.ops import foreachbatch_merge_sink

    upsert, state = foreachbatch_merge_sink(base, key="event_type", value="value")
    with drain_conf(spark):
        q = (
            stream.writeStream.foreachBatch(upsert)
            .trigger(availableNow=True)
            .option("checkpointLocation", f"{base}/ckpt")
            .start()
        )
        q.awaitTermination()
    assert state["last"] >= 2, "expected multiple micro-batches (incremental merge unexercised)"
    return spark.read.parquet(state["path"]).select(
        "event_type", "n_events", F.round("total_value", 2).alias("total_value")
    )


def _neardup_suppress_oracle() -> str:
    from .llm import simhash_md5_sig_cte

    return (
        simhash_md5_sig_cte()
        + """
        SELECT d.doc_id AS doc_id, d.simhash AS simhash
        FROM sig d
        WHERE NOT EXISTS (
            SELECT 1 FROM sig e
            WHERE e.doc_id < d.doc_id
              AND BIT_COUNT(XOR(e.simhash, d.simhash)) <= 3
        )
        ORDER BY doc_id
    """
    )


def _neardup_suppress_capped_oracle(cap: int) -> str:
    """Exact DuckDB replay of the CAPPED suppressor (state_cap=N LRU,
    streaming/ops.py::neardup_suppress_stream): because top-k-by-id
    retention is a selection monoid (r15), the bucket state at the end
    of batch b is exactly the ``cap`` largest-id entries over batches
    ≤ b — no per-batch simulation needed. A doc d is suppressed iff
    some Hamming-≤3 bucket-mate e (e.doc_id < d.doc_id) was VISIBLE at
    d's arrival: e in d's own batch (trim runs end-of-batch), or e
    within the cap newest of the bucket's prior-batch entries (rk ≤ cap
    over batch ≤ d.batch−1). Batches mirror `_id_chunked_stream`'s
    3-way ceil id-range split; band keys mirror `band_key_structs`
    (chunk c = bits [15c, 15c+15)). This certifies the capped-mode
    semantics VALUE-LEVEL — including the misses the cap is allowed to
    make — not just the superset verdict."""
    from .llm import simhash_md5_sig_cte

    return (
        simhash_md5_sig_cte()
        + f""",
        bounds AS (SELECT MIN(doc_id) AS mn, MAX(doc_id) AS mx FROM documents),
        bands AS (
            SELECT s.doc_id, s.simhash,
                   CAST((s.doc_id - b.mn) // ((b.mx - b.mn + 3) // 3) AS INTEGER) AS batch,
                   c.chunk,
                   (s.simhash >> (15 * c.chunk)) & 32767 AS key
            FROM sig s CROSS JOIN bounds b
            CROSS JOIN (VALUES (0),(1),(2),(3)) AS c(chunk)
        ),
        r0 AS (
            SELECT chunk, key, doc_id,
                   ROW_NUMBER() OVER (PARTITION BY chunk, key ORDER BY doc_id DESC) AS rk
            FROM bands WHERE batch = 0
        ),
        r01 AS (
            SELECT chunk, key, doc_id,
                   ROW_NUMBER() OVER (PARTITION BY chunk, key ORDER BY doc_id DESC) AS rk
            FROM bands WHERE batch <= 1
        ),
        hits AS (
            SELECT DISTINCT d.doc_id
            FROM bands d
            JOIN bands e
              ON e.chunk = d.chunk AND e.key = d.key AND e.doc_id < d.doc_id
             AND BIT_COUNT(XOR(e.simhash, d.simhash)) <= 3
            LEFT JOIN r0
              ON r0.chunk = e.chunk AND r0.key = e.key AND r0.doc_id = e.doc_id
            LEFT JOIN r01
              ON r01.chunk = e.chunk AND r01.key = e.key AND r01.doc_id = e.doc_id
            WHERE e.batch = d.batch
               OR (d.batch = 1 AND r0.rk <= {cap})
               OR (d.batch = 2 AND r01.rk <= {cap})
        )
        SELECT s.doc_id AS doc_id, s.simhash AS simhash
        FROM sig s
        WHERE NOT EXISTS (SELECT 1 FROM hits h WHERE h.doc_id = s.doc_id)
        ORDER BY doc_id
    """
    )


def _neardup_suppress_run(spark: SparkSession, sf_dir: str, state_cap: int | None) -> DataFrame:
    """Shared drain for the two suppressor queries: id-ordered 3-batch
    replay → row-local md5 SimHash → `neardup_suppress_stream`
    (optionally state-capped) → per-batch reduce + idempotent
    per-batch-id parquet append → read-back of the admitted set."""
    from ..operators.dedup import simhash_signature
    from ..operators.text import tokens
    from ..sources.tables import load_table
    from ..streaming.ops import neardup_suppress_stream

    base = scratch_dir("nds_")
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    stream = _id_chunked_stream(spark, docs, base, n_chunks=3)
    # one file per micro-batch = ONE scan task: repartition before the
    # md5+fold signature stage (the r07 single-row-group lesson, in
    # stream form) so the per-batch kernel runs at drain parallelism.
    sigs = (
        stream.repartition("doc_id")
        .filter(F.size(tokens("text")) > 0)
        .select("doc_id", simhash_signature("text").alias("simhash"))
    )
    verdicts = neardup_suppress_stream(sigs, max_hamming=3, state_cap=state_cap)

    sink = f"{base}/kept"
    progress = {"last": -1}

    def drain(bdf: DataFrame, bid: int) -> None:
        kept = (
            bdf.groupBy("doc_id")
            .agg(F.first("simhash").alias("simhash"), F.max("hit").alias("anyhit"))
            .filter(~F.col("anyhit"))
            .drop("anyhit")
        )
        kept.write.mode("overwrite").parquet(f"{sink}/{bid:05d}")
        progress["last"] = bid

    with drain_conf(spark):
        q = (
            verdicts.writeStream.outputMode("update")
            .foreachBatch(drain)
            .trigger(availableNow=True)
            .option("checkpointLocation", f"{base}/ckpt")
            .start()
        )
        q.awaitTermination()
    assert progress["last"] >= 2, "expected >=3 micro-batches (cross-batch state unexercised)"
    return (
        spark.read.option("recursiveFileLookup", "true")
        .parquet(sink)
        .select("doc_id", "simhash")
        .orderBy("doc_id")
    )


@query(
    "streaming_neardup_suppress",
    tier="T6×L2×U2 (streaming near-dup suppression: SimHash-banded state store, first-seen-wins)",
    oracle=_neardup_suppress_oracle(),
)
def streaming_neardup_suppress(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time near-duplicate suppression — the streaming twin of
    the batch L2 family: documents arrive id-ordered in three
    micro-batches, each computes its 60-bit md5-kernel SimHash
    ROW-LOCALLY (`simhash_signature` — no shuffle, no streaming
    groupBy), is banded into 4 pigeonhole chunks, and
    `neardup_suppress_stream` admits it iff NO earlier document within
    any shared band bucket is within Hamming ≤ 3 — state (per-bucket
    id+sig lists) persists ACROSS micro-batches in the state store, so
    batch-3 docs are verified against batch-1 state; the in-query
    assert proves ≥3 batches actually ran. Per-batch, the chunk
    verdicts are reduced per doc (suppressed iff ANY chunk hit) and the
    admitted set appended to the durable sink via idempotent
    per-batch-id overwrite.

    The oracle replays the SAME semantics set-theoretically: rebuild
    the identical signatures in DuckDB (`simhash_md5_sig_cte`, the
    CLAUDE.md cross-engine kernel) and keep doc d iff NOT EXISTS an
    earlier doc within Hamming ≤ 3 — WITHOUT any banding clause: the
    hash gate therefore certifies the banded state-store plan against
    brute-force first-seen-wins, completeness included (a band bucket
    that failed to catch a Hamming-≤3 pair would admit a doc the
    oracle suppresses). Value-level: the full admitted (doc_id,
    simhash) set crosses the gate, not a count. Non-vacuous at all
    three SFs (22 / 13 / 380 suppressed).

    Scale: signature+banding are map-only; state is sharded over
    4×2^15 bucket keys and grows with seen docs — the unbounded-
    horizon deploy sets ``state_cap`` (arrival-recency LRU per bucket,
    constant state, superset-admission guarantee; that mode is
    certified by its own exact-replay query,
    `streaming_neardup_suppress_capped` — this drain stays uncapped
    because its oracle replays the full-history semantics); the sink
    append is per-batch bounded. The
    id-chunked file replay is the certification harness — production
    precedence is arrival order, which the doc_id sequence encodes."""
    return _neardup_suppress_run(spark, sf_dir, state_cap=None)


@query(
    "streaming_neardup_suppress_capped",
    tier="T6×L2×U2 (BOUNDED-state streaming near-dup suppression: state_cap LRU, exact capped-replay oracle)",
    oracle=_neardup_suppress_capped_oracle(cap=1),
)
def streaming_neardup_suppress_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB deploy mode of `streaming_neardup_suppress` (VERDICT
    r15 #1): the SAME drain with ``state_cap=1`` — each band bucket
    retains only its newest entry (arrival-recency LRU), so end-of-
    batch state is ≤ 4×2^15 tuples REGARDLESS of corpus size, the
    property the uncapped certified drain cannot claim. cap=1 is the
    tightest legal cap, chosen so the cap BINDS at every fixture SF
    (extra admissions vs uncapped: 1 / 1 / 154 at sf0.001/0.01/0.1 —
    non-vacuous everywhere; superset admission — zero extra
    SUPPRESSIONS — holds by the r15 top-k monoid and is re-checked
    empirically in tests/test_streaming.py).

    The oracle is NOT the one-sided superset verdict: it replays the
    capped semantics exactly (`_neardup_suppress_capped_oracle`) using
    the monoid closed form — bucket state at end of batch b = the cap
    newest entries over batches ≤ b — so the hash gate certifies
    precisely which near-dups the cap is allowed to miss and which it
    must still catch. Everything else (md5 kernel, banding, id-ordered
    3-batch replay, per-batch reduce, idempotent sink) is shared with
    the uncapped query via `_neardup_suppress_run`.

    Scale: state is O(buckets × cap), per-newcomer work ≤ cap + same-
    batch bucket arrivals popcounts — both constant in corpus size;
    sig+banding map-only. This is the variant you run unbounded-
    horizon; the uncapped twin stays the full-history certification."""
    return _neardup_suppress_run(spark, sf_dir, state_cap=1)


@query(
    "streaming_blocklist_guard",
    tier="T-series×J3×L6 (stream-static LEFT ANTI join: ingest blocklist guard)",
    oracle="""
        WITH fp AS (
            SELECT doc_id,
                   MD5(ARRAY_TO_STRING(LIST_SORT(LIST_DISTINCT(
                       LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), x -> LENGTH(x) > 0))), ' ')) AS fp
            FROM documents
        )
        SELECT d.doc_id AS doc_id, d.fp AS fp
        FROM fp d
        WHERE d.doc_id >= 25
          AND NOT EXISTS (SELECT 1 FROM fp e WHERE e.doc_id < 25 AND e.fp = d.fp)
        ORDER BY doc_id
    """,
)
def streaming_blocklist_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static LEFT ANTI join — the join mode the other
    stream-static query (`streaming_static_enrich`) doesn't cover, in
    its canonical production role: an ingest guard that admits a
    streamed document only if its fingerprint is NOT in a static
    blocklist. Blocklist = the bag fingerprints (md5 over sorted
    distinct tokens — the same cross-engine kernel `dedup_bag_exact`
    certifies) of the benchmark docs (doc_id < 25, the
    `contamination_ngram_overlap` convention); the stream replays the
    training docs (doc_id ≥ 25) in three micro-batches, fingerprints
    each row-locally (pure expression, no shuffle), and anti-joins the
    broadcast blocklist — stateless, so unlike the stateful guards the
    filter needs NO state store and NO watermark: every micro-batch is
    independently guarded, the unbounded-deploy shape for exact
    blocklists. Admitted (doc_id, fp) rows cross the gate value-level;
    non-vacuous at all three SFs (28 / 2 / 311 blocked).

    Scale: the static side is |blocklist| fingerprints — broadcast by
    hint (the degradation path past the broadcast cap is the same as
    contamination_ngram_overlap's: drop the hint, shuffled hash join
    on the 32-char key). The stream side is map-only + the join."""
    from ..operators.text import bag_fingerprint
    from ..sources.tables import load_table

    base = scratch_dir("blg_")
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    blocklist = (
        docs.filter(F.col("doc_id") < 25)
        .select(bag_fingerprint("text").alias("fp"))
        .distinct()
    )
    stream = _id_chunked_stream(spark, docs.filter(F.col("doc_id") >= 25), base, n_chunks=3)
    admitted = (
        stream.select("doc_id", bag_fingerprint("text").alias("fp"))
        .join(F.broadcast(blocklist), "fp", "left_anti")
        .select("doc_id", "fp")
    )
    return run_to_memory(admitted, output_mode="append").orderBy("doc_id")


@query(
    "streaming_timeout_finalize",
    tier="T-series×U2 (GroupState EVENT-TIME TIMEOUT: idle keys finalize + evict, open keys withheld)",
    oracle="""
        -- closed-form replay of the timeout rule: a (type, week) key
        -- finalizes iff its ms-floored last event + the 5-day gap is
        -- strictly inside the final watermark (global max − 1 day);
        -- weeks still inside the horizon stay OPEN and never emit.
        WITH e AS (
            SELECT event_type,
                   (DAYOFMONTH(ts) - 1) // 7 AS week,
                   epoch_us(ts) AS us,
                   value
            FROM events
        )
        SELECT event_type,
               CAST(week AS BIGINT)                 AS week,
               CAST(COUNT(*) AS BIGINT)             AS n,
               ROUND(CAST(SUM(value) AS DOUBLE), 2) AS total
        FROM e
        GROUP BY event_type, week
        HAVING MAX(us) // 1000 + 432000000
               < (SELECT MAX(us) // 1000 FROM e) - 86400000
        ORDER BY event_type, week
    """,
)
def streaming_timeout_finalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The GroupStateTimeout surface, driver-certified: per (event_type,
    week-of-January) key, `timeout_finalized_totals` keeps running
    (n, total) state and emits ONLY via the `state.hasTimedOut` callback
    — when the event-time watermark passes the key's last event + a
    5-day inactivity gap — then REMOVES the state row. The events table
    replays as three ~10-day chunk files (week-1 keys span two chunks,
    so cross-batch accumulation is exercised too); weeks 0-2 go idle
    inside the replay and finalize, weeks 3-4 are still within the
    horizon when the drain ends and are withheld — the timeout-eviction
    form of the append twins' finalization cut, enforced by the
    callback instead of window eviction. Trigger.AvailableNow runs a
    terminal no-data batch (probed; timeouts eligible under the final
    watermark fire in-run), so the cut is the closed form the oracle
    replays: ms-floored last event + gap strictly < global max − delay.
    The boundary has multi-DAY margins at every SF (events span Jan
    1-30 with week-end last events; asserted in tests).

    Scale: state is one tuple per OPEN key, bounded by the timeout
    eviction — the unbounded-corpus shape for per-entity inactivity
    finalization (abandoned carts, ticket closure, ledger day-close)
    that session_window's intra-window gap rule can't express."""
    from ..sources.tables import load_table
    from ..streaming.ops import timeout_finalized_totals

    base = scratch_dir("tof_")
    ev = (
        load_table(spark, "events", sf_dir)
        .select("event_type", F.col("ts").cast("timestamp").alias("ts"), "value")
        .withColumn("week", ((F.dayofmonth("ts") - 1) / 7).cast("long"))
    )
    stream = _day_chunked_stream(spark, ev, base)
    finalized = timeout_finalized_totals(
        stream, keys=["event_type", "week"], gap_ms=5 * 86400 * 1000, watermark="1 day"
    )
    return run_to_memory(finalized, output_mode="update").orderBy("event_type", "week")


@query(
    "streaming_heavy_hitters",
    tier="T-series×A6 (SpaceSaving sketch IN streaming state: bounded-memory top-k)",
    oracle="""
        -- the two SpaceSaving theorems are pinned TRUE; the exact
        -- discriminating columns are the per-type event count and the
        -- true top bucket (guaranteed to be IN the summary because its
        -- share exceeds N/k — fixture margin asserted in tests).
        WITH b AS (
            SELECT event_type,
                   CAST(FLOOR(value / 10) AS BIGINT) AS bkt,
                   COUNT(*) AS c
            FROM events
            GROUP BY event_type, bkt
        ),
        r AS (
            SELECT event_type, bkt, c,
                   ROW_NUMBER() OVER (PARTITION BY event_type
                                      ORDER BY c DESC, bkt ASC) AS rn,
                   SUM(c)   OVER (PARTITION BY event_type) AS n,
                   COUNT(*) OVER (PARTITION BY event_type) AS nbkt
            FROM b
        )
        SELECT event_type,
               CAST(n AS BIGINT)            AS n_events,
               CAST(LEAST(8, nbkt) AS BIGINT) AS n_candidates,
               CAST(bkt AS BIGINT)          AS top1_bkt,
               CAST(c AS BIGINT)            AS top1_n,
               TRUE                         AS guarantee_ok,
               TRUE                         AS overcount_ok
        FROM r
        WHERE rn = 1
        ORDER BY event_type
    """,
)
def streaming_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-memory top-k over a stream, driver-certified via the
    sketch-tier recipe (r07: each engine audits its own sketch; the
    comparable surface is exact stats + theorem verdicts): events
    replay in three day-chunks, `heavy_hitters_stream` maintains an
    8-counter SpaceSaving summary per event_type IN THE STATE STORE
    (the scale point: a streaming groupBy(bucket).count() holds one
    state row per DISTINCT bucket forever; SpaceSaving holds k,
    period), and the last micro-batch's emission is the end-of-replay
    summary. Batch-side, the query computes the EXACT bucket counts
    (the in-query twin, the ann_ivf pattern) and certifies both
    SpaceSaving theorems as verdicts — (a) every bucket with true
    count > N/k is IN the summary, (b) every estimate overcounts by
    0..N/k — both in INTEGER form (8·c > n, 8·(est−c) ≤ n: no float
    division anywhere), plus two exact columns the hash gate
    discriminates on: n_events and the true top bucket (in-summary by
    theorem (a), since its measured share is ≥16.5% > 12.5% at every
    SF — margin asserted in tests). The summary itself is
    replay-deterministic: per-batch pre-aggregated weights applied in
    ascending bucket order, min-count eviction tie-broken on the
    smallest item.

    Scale: state is 5 keys × 8 counters — constant; the exact twin is
    fixture certification machinery, not the production path."""
    from ..sources.tables import load_table
    from ..streaming.ops import heavy_hitters_stream

    K = 8
    base = scratch_dir("shh_")
    ev = (
        load_table(spark, "events", sf_dir)
        .select(
            "event_type",
            F.col("ts").cast("timestamp").alias("ts"),
            F.floor(F.col("value") / 10).cast("long").alias("bkt"),
        )
    )
    stream = _day_chunked_stream(spark, ev, base)
    summaries = heavy_hitters_stream(stream, key="event_type", item_col="bkt", k=K)

    sink = f"{base}/summ"
    progress = {"last": -1}

    def drain(bdf: DataFrame, bid: int) -> None:
        if bdf.isEmpty():
            return
        bdf.withColumn("bid", F.lit(bid)).write.mode("overwrite").parquet(f"{sink}/{bid:05d}")
        progress["last"] = bid

    with drain_conf(spark):
        q = (
            summaries.writeStream.outputMode("update")
            .foreachBatch(drain)
            .trigger(availableNow=True)
            .option("checkpointLocation", f"{base}/ckpt")
            .start()
        )
        q.awaitTermination()
    assert progress["last"] >= 2, "expected >=3 data micro-batches (sketch merge unexercised)"

    # per-KEY latest emission, not the last batch's file: a key with no
    # events in the final chunk emits its (still-cumulative) summary in
    # an earlier batch and must not be dropped (code-review r14b).
    all_summ = spark.read.option("recursiveFileLookup", "true").parquet(sink)
    summ = (
        all_summ.withColumn(
            "rn_b", F.row_number().over(Window.partitionBy("event_type").orderBy(F.col("bid").desc()))
        )
        .filter(F.col("rn_b") == 1)
        .drop("rn_b", "bid")
    )
    cand = summ.select(
        "event_type",
        F.col("n").alias("n_events"),
        F.explode(F.arrays_zip("items", "counts")).alias("z"),
    ).select(
        "event_type", "n_events", F.col("z.items").alias("bkt"), F.col("z.counts").alias("est")
    ).localCheckpoint(eager=False)

    exact = ev.groupBy("event_type", "bkt").agg(F.count(F.lit(1)).alias("c")).localCheckpoint(eager=False)

    # theorem (a): every bucket with 8*c > n is in the summary
    heavy = exact.join(summ.select("event_type", "n"), "event_type").filter(8 * F.col("c") > F.col("n"))
    missed = heavy.join(cand.select("event_type", "bkt"), ["event_type", "bkt"], "left_anti")
    miss_per_type = missed.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_missed"))

    # theorem (b): 0 <= est - c <= n/k for every candidate
    joined = cand.join(exact, ["event_type", "bkt"])
    per_type = joined.groupBy("event_type").agg(
        F.first("n_events").alias("n_events"),
        F.count(F.lit(1)).alias("n_candidates"),
        F.max(
            F.when(
                (F.col("est") < F.col("c"))
                | (8 * (F.col("est") - F.col("c")) > F.col("n_events")),
                1,
            ).otherwise(0)
        ).alias("bound_broken"),
    )
    top1 = (
        joined.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("event_type").orderBy(F.col("c").desc(), F.col("bkt").asc())
            ),
        )
        .filter(F.col("rn") == 1)
        .select("event_type", F.col("bkt").alias("top1_bkt"), F.col("c").alias("top1_n"))
    )
    return (
        per_type.join(top1, "event_type")
        .join(miss_per_type, "event_type", "left")
        .select(
            "event_type",
            F.col("n_events").cast("long").alias("n_events"),
            F.col("n_candidates").cast("long").alias("n_candidates"),
            F.col("top1_bkt").cast("long").alias("top1_bkt"),
            F.col("top1_n").cast("long").alias("top1_n"),
            (F.coalesce(F.col("n_missed"), F.lit(0)) == 0).alias("guarantee_ok"),
            (F.col("bound_broken") == 0).alias("overcount_ok"),
        )
        .orderBy("event_type")
    )


@query(
    "streaming_late_data_drop",
    tier="T2 (event-time watermark: late arrivals dropped past finalized windows)",
    oracle="""
        -- the late file replays days 1-5 a SECOND time after the
        -- watermark passed their windows: accepted, they would DOUBLE
        -- those days' counts — the expected table is single-counted.
        -- The last open window (the max day) is withheld by append
        -- mode; same finalization cut as streaming_rollup_parquet.
        SELECT CAST(DATE_TRUNC('day', ts) AS DATE) AS date,
               CAST(COUNT(*) AS BIGINT)            AS n,
               ROUND(CAST(SUM(value) AS DOUBLE), 2) AS total_value
        FROM events
        WHERE CAST(DATE_TRUNC('day', ts) AS DATE) + INTERVAL 1 DAY
              <= (SELECT MAX(ts) FROM events)
        GROUP BY 1
    """,
)
def streaming_late_data_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2's defining behavior, driver-certified: rows arriving AFTER
    the event-time watermark passed their window are DROPPED, not
    double-counted. Batch 1 delivers days 1-20 (watermark advances to
    day 20); batch 2 replays days 1-5 verbatim — late by two weeks —
    plus the fresh tail. State for the replayed windows was already
    finalized and evicted, so the late copies hit no state and the
    per-day counts stay single-counted; a watermark that failed to
    evict (or a sink that re-opened closed windows) doubles days 1-5
    and fails the hash. This is the bounded-state contract that makes
    infinite streams aggregatable: state size follows the watermark
    horizon, not stream length. File order is pinned via mtimes;
    maxFilesPerTrigger=1 forces the batch schedule.

    The middle batch (days 21-25) is load-bearing: the late-record
    filter in batch N uses the watermark computed BEFORE batch N-1's
    data (one batch of lag, verified empirically — a replay arriving
    in the very batch where its windows get evicted is still MERGED,
    numRowsDroppedByWatermark=0), so the replay must trail the
    watermark-advancing data by two batches to exercise the drop."""
    from ..sources.tables import load_table

    base = scratch_dir("late_drop_")
    ev = load_table(spark, "events", sf_dir).select("event_id", "ts", "event_type", "value")
    d = F.to_date("ts")
    early = ev.filter(d <= "2024-01-20")
    middle = ev.filter((d > "2024-01-20") & (d <= "2024-01-25"))
    late_replay = ev.filter(d <= "2024-01-05")
    tail = ev.filter(d > "2024-01-25")
    stream = (
        _chunked_file_stream(spark, [early, middle, late_replay.unionByName(tail)], base)
        .withColumn("ts", F.col("ts").cast("timestamp"))  # watermark needs TimestampType, not NTZ
        .withWatermark("ts", "0 seconds")
    )
    agg = stream.groupBy(F.window("ts", "1 day").alias("w")).agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value")
    )
    drained = run_to_memory(agg, output_mode="append")
    return drained.select(
        F.col("w.start").cast("timestamp_ntz").cast("date").alias("date"), "n", "total_value"
    )


@query(
    "streaming_update_mode_totals",
    tier="T3+T7 (update output mode: per-batch revisions, last revision == batch truth)",
    oracle="""
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT)             AS n,
               ROUND(CAST(SUM(value) AS DOUBLE), 2) AS total_value
        FROM events
        GROUP BY event_type
    """,
)
def streaming_update_mode_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The third output mode, driver-certified (complete and append are
    covered elsewhere): UPDATE emits only the keys each micro-batch
    REVISED — the mode a downstream keyed store (Redis, a serving
    index) consumes, getting deltas instead of full snapshots. The
    events table drains in three file-batches, so the sink accumulates
    up to three revisions per key; the certified claim is that the
    LAST revision per key (selected by the strictly-increasing count —
    each revision of a key must grow it) equals the one-shot batch
    aggregate. A mode that dropped a batch's contribution, or
    re-emitted unrevised keys with stale values, breaks the selection
    or the totals."""
    from ..sources.tables import load_table

    base = scratch_dir("updmode_")
    ev = load_table(spark, "events", sf_dir).select("event_id", "event_type", "value")
    stream = _event_id_mod_stream(spark, ev, base)
    agg = stream.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value")
    )
    drained = run_to_memory(agg, output_mode="update")
    last = drained.groupBy("event_type").agg(
        F.max(F.struct("n", "total_value")).alias("__last")
    )
    return last.select(
        "event_type", F.col("__last.n").alias("n"), F.col("__last.total_value").alias("total_value")
    )


@query(
    "statestore_reader_audit",
    tier="T-ops (state data source: audit live streaming state against its expected content)",
    oracle="""
        -- append mode + 0s watermark evicts every finalized window;
        -- what REMAINS in the store is exactly the open last day
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT)             AS n,
               ROUND(CAST(SUM(value) AS DOUBLE), 2) AS total_value
        FROM events
        WHERE CAST(DATE_TRUNC('day', ts) AS DATE) + INTERVAL 1 DAY
              > (SELECT MAX(ts) FROM events)
        GROUP BY event_type
    """,
)
def statestore_reader_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming state is usually a black box until it misbehaves;
    Spark 4's state data source (`format("statestore")`) opens the
    checkpointed store as a DataFrame — the observability surface a
    100 TB streaming deployment debugs and right-sizes with (how many
    keys, which windows, how big). Certified as: after an append-mode
    drain with a 0-second watermark, the store must hold EXACTLY the
    open windows — the last day's partial aggregates, nothing else
    (every finalized window was emitted and evicted; leaked state rows
    here are the bug this audit exists to catch — the oracle is the
    eviction contract's complement, streaming_rollup_parquet certifies
    the emitted side)."""
    import uuid

    base = scratch_dir("ssaudit_")
    ck = f"{base}/ck"
    stream = events_stream(spark, _events_path(sf_dir)).withWatermark("ts", "0 seconds")
    agg = stream.groupBy(F.window("ts", "1 day").alias("w"), "event_type").agg(
        F.count(F.lit(1)).alias("n"), F.sum("value").alias("s")
    )
    name = "ss_" + uuid.uuid4().hex[:12]
    with drain_conf(spark):
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", ck)
            .start()
        )
        q.awaitTermination()
    state = spark.read.format("statestore").option("path", ck).load()
    return state.select(
        F.col("key.event_type").alias("event_type"),
        F.col("value.count").alias("n"),
        F.round(F.col("value.sum"), 2).alias("total_value"),
    )


@query(
    "streaming_rocksdb_stateful_rollup",
    tier="T-ops (RocksDB state store + changelog checkpointing: production state backend)",
    oracle="""
        SELECT CAST(DATE_TRUNC('day', ts) AS DATE) AS date,
               event_type,
               CAST(COUNT(*) AS BIGINT)             AS n,
               ROUND(CAST(SUM(value) AS DOUBLE), 2) AS total_value
        FROM events
        GROUP BY 1, 2
    """,
)
def streaming_rocksdb_stateful_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The default HDFS-backed state store keeps every key on the JVM
    heap — fine for fixtures, an OOM at 100 TB key cardinalities. The
    production backend is RocksDB: state lives off-heap/on-disk with
    bounded memory, and changelog checkpointing uploads per-batch
    DELTAS instead of full snapshots (checkpoint cost follows the
    update rate, not the state size). Both knobs are runtime confs
    picked up at query start, so the SAME rollup plan runs unchanged —
    certified here against the batch oracle, which is the whole point:
    swapping the state backend must never change results, only the
    resource envelope. (transformWithState's Python side needs
    protobuf, absent here — capability-gated in streaming/ops.py — but
    the RocksDB provider itself is JVM-only and fully exercisable.)"""
    confs = {
        "spark.sql.streaming.stateStore.providerClass": (
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
        ),
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": "true",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        stream = events_stream(spark, _events_path(sf_dir))
        agg = stream.groupBy(
            F.to_date(F.col("ts")).alias("date"), F.col("event_type")
        ).agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        # complete-mode drain materializes the memory table BEFORE the
        # finally-restore, so the provider conf is live for the whole run
        return run_to_memory(agg, output_mode="complete")
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


@query(
    "streaming_interval_join_fouter",
    tier="T-series J2 (stream-stream FULL OUTER interval join: both-side finalized nulls)",
    oracle="""
        -- completes the stream-stream join-mode matrix (inner and left
        -- outer are certified elsewhere). Null-extension is per SIDE:
        -- an unmatched click emits once wm > click_ts + interval (no
        -- purchase can still qualify); an unmatched purchase emits once
        -- wm > purchase_ts (no older click can still arrive). Matched
        -- rows emit immediately. Same strict-< boundary as the louter
        -- certification.
        WITH c AS (
            SELECT user_id, ts, value FROM events WHERE event_type = 'click'
        ), p AS (
            SELECT user_id, ts FROM events WHERE event_type = 'purchase'
        ), wm AS (
            SELECT LEAST((SELECT MAX(ts) FROM c), (SELECT MAX(ts) FROM p)) AS w
        ), j AS (
            SELECT c.user_id AS cu, c.ts AS cts, c.value, p.user_id AS pu, p.ts AS pts
            FROM c FULL JOIN p
              ON c.user_id = p.user_id
             AND c.ts > p.ts - INTERVAL 30 MINUTE
             AND c.ts <= p.ts
        ), emitted AS (
            SELECT j.* FROM j CROSS JOIN wm
            WHERE (j.cu IS NOT NULL AND j.pu IS NOT NULL)
               OR (j.pu IS NULL AND j.cts + INTERVAL 30 MINUTE < wm.w)
               OR (j.cu IS NULL AND j.pts < wm.w)
        )
        SELECT COALESCE(cu, pu) AS user_id,
               CAST(SUM(CASE WHEN cu IS NOT NULL AND pu IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_matched,
               CAST(SUM(CASE WHEN pu IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_click_only,
               CAST(SUM(CASE WHEN cu IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase_only,
               ROUND(CAST(SUM(value) AS DOUBLE), 4) AS click_value
        FROM emitted GROUP BY COALESCE(cu, pu)
    """,
)
def streaming_interval_join_fouter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER stream-stream interval join — both sides' unmatched
    rows null-extend, each on its OWN finalization clock derived from
    the join condition: a click waits out the whole interval (a future
    purchase could still claim it), a purchase only waits for the
    watermark to pass its own timestamp (qualifying clicks are never
    newer than the purchase). That asymmetry IS the state-eviction
    math Spark derives from the interval predicate, and the oracle
    reproduces it as two distinct cuts. Batch-drained in one
    AvailableNow run; the global watermark is the min of both inputs'
    max event times (0s delay)."""
    clicks = events_stream(spark, _events_path(sf_dir)).filter(F.col("event_type") == "click")
    purchases = events_stream(spark, _events_path(sf_dir)).filter(
        F.col("event_type") == "purchase"
    )
    joined = interval_self_join(
        clicks, purchases, upper="interval 30 minutes", watermark="0 seconds", how="full_outer"
    )
    drained = run_to_memory(joined, output_mode="append")
    return drained.groupBy(F.coalesce("l_user", "r_user").alias("user_id")).agg(
        F.sum(
            (F.col("l_user").isNotNull() & F.col("r_user").isNotNull()).cast("bigint")
        ).alias("n_matched"),
        F.sum(F.col("r_user").isNull().cast("bigint")).alias("n_click_only"),
        F.sum(F.col("l_user").isNull().cast("bigint")).alias("n_purchase_only"),
        F.round(F.sum("l_value"), 4).alias("click_value"),
    )


@query(
    "streaming_ohlc_candles",
    tier="T3+EXT (streaming OHLC candles: min_by/max_by state per window, batch-twin oracle)",
    oracle="""
        WITH ranked AS (
            SELECT event_type, DATE_TRUNC('hour', ts) AS h, value,
                   ROW_NUMBER() OVER (PARTITION BY event_type, DATE_TRUNC('hour', ts)
                                      ORDER BY ts, event_id) AS rf,
                   ROW_NUMBER() OVER (PARTITION BY event_type, DATE_TRUNC('hour', ts)
                                      ORDER BY ts DESC, event_id DESC) AS rl
            FROM events
        )
        SELECT h, event_type,
               MAX(CASE WHEN rf = 1 THEN value END) AS open,
               MAX(value) AS high,
               MIN(value) AS low,
               MAX(CASE WHEN rl = 1 THEN value END) AS close,
               CAST(COUNT(*) AS BIGINT) AS volume
        FROM ranked
        GROUP BY h, event_type
    """,
)
def streaming_ohlc_candles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tick-to-candle pipeline as a REAL stream (AvailableNow
    drain, complete mode): open/close are min_by/max_by over the
    (ts, event_id) struct — incrementally-maintained state, one row
    per live candle holding only the current best pair, never the
    window's events. The batch oracle derives the same candles with
    the two-sided-rank plan (ohlc_hourly_resample's shape), certifying
    stream/batch equivalence for a non-trivial ORDER-dependent
    aggregate — the fully tie-broken struct key is what makes the
    streaming and rank formulations provably pick the same row.

    Scale: each micro-batch does one map-side partial per candle, and a
    state row is one (best-pair, extremes, count) tuple — never the
    window's events. NOTE the certified drain runs COMPLETE mode (every
    candle re-emitted per batch, watermark declared but nothing
    evicted), which is the right shape for a bounded drain-and-compare
    but NOT for an unbounded deploy: state and emit volume grow with
    total candle count. The deploy shape — the SAME ohlc_candles() plan
    drained in append mode, where the watermark DOES evict closed
    candles and bounds state at |open candles|×|types| — is certified
    separately as streaming_ohlc_candles_append (r12)."""
    from ..streaming.ops import ohlc_candles

    stream = events_stream(spark, _events_path(sf_dir))
    return run_to_memory(ohlc_candles(stream), output_mode="complete")


@query(
    "streaming_ohlc_candles_append",
    tier="T2+T3+EXT (eviction-mode OHLC: append drain, watermark-finalized candles only)",
    oracle="""
        WITH wm AS (
            -- append emits a candle only once the watermark
            -- (max event time - 25 h) passes its END: for hour-grid
            -- starts h, h + 1h <= max_ts - 25h  <=>  h <= max_ts - 26h
            SELECT MAX(ts) - INTERVAL 26 HOUR AS cut FROM events
        ), ranked AS (
            SELECT event_type, DATE_TRUNC('hour', ts) AS h, value,
                   ROW_NUMBER() OVER (PARTITION BY event_type, DATE_TRUNC('hour', ts)
                                      ORDER BY ts, event_id) AS rf,
                   ROW_NUMBER() OVER (PARTITION BY event_type, DATE_TRUNC('hour', ts)
                                      ORDER BY ts DESC, event_id DESC) AS rl
            FROM events
        )
        SELECT h, event_type,
               MAX(CASE WHEN rf = 1 THEN value END) AS open,
               MAX(value) AS high,
               MIN(value) AS low,
               MAX(CASE WHEN rl = 1 THEN value END) AS close,
               CAST(COUNT(*) AS BIGINT) AS volume
        FROM ranked CROSS JOIN wm
        WHERE h <= wm.cut
        GROUP BY h, event_type
    """,
)
def streaming_ohlc_candles_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DEPLOY-shaped OHLC stream: the exact ohlc_candles() plan that
    streaming_ohlc_candles certifies in complete mode, drained in APPEND
    mode — the watermark now actually EVICTS: a candle is emitted once
    (when the 25-hour watermark passes its end) and its state row is
    dropped, so state is bounded at |open candles| x |types| no matter
    how long the stream runs. This is the unbounded-deploy shape the
    complete-mode twin's docstring defers to (VERDICT r11 item 2).

    Finalization cut (the streaming_daily_active_users discipline): with
    a 25 h delay, windows whose end > max_ts - 25 h never emit in a
    bounded AvailableNow drain, so the oracle applies the same cut in
    closed form — hour-grid starts satisfy h + 1h <= max_ts - 25h iff
    h <= max_ts - 26h. The fixture's max event time sits mid-hour at
    every SF (23:26/23:57/23:59 + microseconds), so the <= boundary and
    the engine's ms-floored watermark cannot disagree on any hour-grid
    point. The single-file source replays in ONE batch (watermark still
    zero, nothing late-dropped); the trailing no-data batch emits every
    finalized candle.

    100 TB: same state/emit math as the complete twin per batch, but
    emit volume is each candle ONCE and state never outlives the
    watermark horizon — the shape that survives an unbounded stream."""
    from ..streaming.ops import ohlc_candles

    stream = events_stream(spark, _events_path(sf_dir))
    return run_to_memory(ohlc_candles(stream, watermark="25 hours"), output_mode="append")


@query(
    "streaming_daily_active_users",
    tier="T6+T3 chained (two stateful operators in one stream: within-watermark dedup -> windowed count)",
    oracle="""
        WITH mx AS (SELECT MAX(CAST(ts AS DATE)) AS md FROM events)
        SELECT CAST(ts AS DATE) AS d,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS dau
        FROM events, mx
        WHERE CAST(ts AS DATE) < mx.md - 1
        GROUP BY CAST(ts AS DATE), mx.md
    """,
)
def streaming_daily_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming DAU via TWO CHAINED STATEFUL OPERATORS in one query —
    dropDuplicatesWithinWatermark on (user, day) feeding a 1-day
    tumbling count in append mode (legal since Spark 3.5; no other
    catalog query chains stateful operators). After the dedup, one
    surviving row per user-day means the window's plain COUNT(*) IS
    the exact DAU — the streaming twin of ``active_users_rolling_7d``'s
    dau column.

    The finalization cut: append mode emits a window only when the
    watermark passes its end, and the 25-hour delay (sized so any
    same-user-day duplicate is deduped even across micro-batches)
    leaves the last TWO fixture days unfinalized at drain end — the
    oracle applies the same cut in closed form (d < max_day − 1), the
    same batch-certified-finalization discipline as
    ``streaming_interval_join_louter``.

    100 TB: both operators key their state compatibly (user-day /
    window), state is evicted by the same watermark, and the emitted
    stream is |days| rows.
    """
    from ..streaming.ops import events_stream, run_to_memory

    stream = (
        events_stream(spark, _events_path(sf_dir))
        .select("ts", "user_id")
        .withColumn("day", F.col("ts").cast("date"))
    )
    deduped = stream.withWatermark("ts", "25 hours").dropDuplicatesWithinWatermark(
        ["user_id", "day"]
    )
    agg = deduped.groupBy(F.window("ts", "1 day")).agg(F.count(F.lit(1)).alias("dau"))
    drained = run_to_memory(agg, output_mode="append")
    return drained.select(F.col("window.start").cast("date").alias("d"), "dau")
