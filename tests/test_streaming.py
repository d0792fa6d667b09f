"""Streaming-tier tests (SURVEY.md §5.2 item 6): batch equivalence for
every streaming op, plus true late-data semantics with multi-batch
replay (watermark actually dropping rows)."""

from __future__ import annotations

import datetime
import os
import shutil
import tempfile

import pyspark.sql.functions as F
from pyspark.sql import Window

from energi_data_etl_spark.sources.tables import load_table
from energi_data_etl_spark.streaming.ops import (
    EVENTS_SCHEMA,
    dedup_within_watermark,
    events_stream,
    run_to_memory,
    session_window_stats,
    stream_to_parquet,
    tumbling_window_avg,
)


def test_ts_unit_canary_batch_and_stream(spark, sf_dir):
    """Unit canary (VERDICT r04 item 2): the fixture's events live in
    Jan 2024. If either read path mis-detects ns vs µs (off by 1000×),
    every timestamp collapses toward 1970 or explodes past 10⁵ AD —
    this sub-second assert turns that drift into a loud failure instead
    of four silent driver FAILs."""
    batch_min = load_table(spark, "events", sf_dir).agg(F.min("ts")).first()[0]
    assert batch_min.year == 2024, f"batch ts unit drift: min ts {batch_min}"
    stream_min = (
        run_to_memory(
            events_stream(spark, f"{sf_dir}/events.parquet").agg(F.min("ts").alias("mn")),
            output_mode="complete",
        ).first()[0]
    )
    assert stream_min.year == 2024, f"stream ts unit drift: min ts {stream_min}"
    assert stream_min == batch_min.replace(tzinfo=None) or stream_min == batch_min


def test_session_windows_match_batch_gap_derivation(spark, sf_dir):
    """Sessionization: streaming session_window == batch lag-gap islands."""
    out = run_to_memory(
        session_window_stats(events_stream(spark, f"{sf_dir}/events.parquet"), gap="30 minutes"),
        output_mode="complete",
    )
    got = {(r.user_id, r.session_start, r.n_events) for r in out.collect()}

    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts")
    batch = (
        ev.withColumn("prev", F.lag("ts").over(w))
        .withColumn(
            "new_sess",
            (
                F.col("prev").isNull()
                | (F.col("ts").cast("timestamp").cast("long") - F.col("prev").cast("timestamp").cast("long") > 1800)
            ).cast("int"),
        )
        .withColumn("sess_id", F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("user_id", "sess_id")
        .agg(F.min("ts").alias("session_start"), F.count(F.lit(1)).alias("n_events"))
    )
    want = {(r.user_id, r.session_start, r.n_events) for r in batch.collect()}
    assert got == want


def test_session_append_is_finalized_subset_of_complete(spark, sf_dir):
    """Eviction-mode certification (VERDICT r12 item 1): the append
    drain must equal the complete drain filtered to watermark-finalized
    sessions (end <= max_ts - delay), with a NON-EMPTY evicted tail —
    an append run that emitted everything would prove no eviction."""
    path = f"{sf_dir}/events.parquet"
    app = run_to_memory(
        session_window_stats(events_stream(spark, path), gap="30 minutes", watermark="25 hours"),
        output_mode="append",
    )
    got = {tuple(r) for r in app.collect()}
    comp = run_to_memory(
        session_window_stats(events_stream(spark, path), gap="30 minutes"),
        output_mode="complete",
    )
    comp_rows = [tuple(r) for r in comp.collect()]
    max_ts = load_table(spark, "events", sf_dir).agg(F.max("ts")).first()[0]
    cut = max_ts - datetime.timedelta(hours=25)
    want = {r for r in comp_rows if r[2] <= cut}  # r[2] == session_end
    assert got == want
    evicted = set(comp_rows) - got
    assert evicted, "append drain evicted nothing — watermark not exercised"
    assert got, "append drain emitted nothing — cut too aggressive"


def test_sliding_append_is_finalized_subset_of_complete(spark, sf_dir):
    """Same eviction contract for the sliding 2d/1d window (VERDICT r12
    item 3): append == complete filtered to win_start + 2d <= max_ts -
    25h, evicted tail non-empty."""
    from energi_data_etl_spark.streaming.ops import sliding_window_avg

    path = f"{sf_dir}/events.parquet"
    app = run_to_memory(
        sliding_window_avg(events_stream(spark, path), watermark="25 hours"),
        output_mode="append",
    )
    got = {tuple(r) for r in app.collect()}
    comp = run_to_memory(sliding_window_avg(events_stream(spark, path)), output_mode="complete")
    comp_rows = [tuple(r) for r in comp.collect()]
    max_ts = load_table(spark, "events", sf_dir).agg(F.max("ts")).first()[0]
    cut = max_ts - datetime.timedelta(hours=73)
    want = {
        r for r in comp_rows
        if datetime.datetime.combine(r[0], datetime.time()) <= cut  # r[0] == win_start
    }
    assert got == want
    assert set(comp_rows) - got, "append drain evicted nothing"
    assert got


def test_session_append_merges_across_micro_batches(spark, sf_dir):
    """Session state must MERGE across micro-batch boundaries before
    eviction: replaying the events table as THREE chronological files
    (maxFilesPerTrigger=1) puts every session that spans a file split
    into state across batches; the drained append result must still
    equal the single-batch drain (same watermark horizon, same
    finalization cut). A session store that closed sessions at batch
    boundaries — or re-emitted a merged session's partial — diverges
    here. The 25 h delay exceeds every intra-session gap, so no
    spanning session is evicted before its tail arrives."""
    import glob

    ev = load_table(spark, "events", sf_dir)
    # split points chosen to GUARANTEE spanning sessions: a
    # "continuation" event (gap to its user's previous event < 30 min)
    # belongs mid-session, so splitting the stream right before one
    # bisects that session. Take continuation events nearest the 1/3
    # and 2/3 time quantiles (fixture-agnostic — a midnight split at
    # sf0.001 cuts zero sessions; measured).
    w = Window.partitionBy("user_id").orderBy("ts")
    cont = (
        ev.withColumn("prev", F.lag("ts").over(w))
        .filter(
            F.col("prev").isNotNull()
            & (F.unix_micros(F.col("ts").cast("timestamp"))
               - F.unix_micros(F.col("prev").cast("timestamp")) < 1800 * 1_000_000)
        )
        .select("ts")
    )
    cts = sorted(r[0] for r in cont.collect())  # bounded: fixture-sized test frame
    assert len(cts) >= 3, "fixture has too few mid-session events to split on"
    s1, s2 = cts[len(cts) // 3], cts[2 * len(cts) // 3]
    assert s1 < s2

    base = tempfile.mkdtemp(prefix="sess_merge_")
    src = f"{base}/src"
    os.makedirs(src)
    parts = [
        ev.filter(F.col("ts") < F.lit(s1)),
        ev.filter((F.col("ts") >= F.lit(s1)) & (F.col("ts") < F.lit(s2))),
        ev.filter(F.col("ts") >= F.lit(s2)),
    ]
    for i, part in enumerate(parts):
        tmp_i = f"{base}/tmp{i}"
        part.coalesce(1).write.parquet(tmp_i)
        dest = f"{src}/{i:02d}.parquet"
        shutil.move(glob.glob(f"{tmp_i}/part-*.parquet")[0], dest)
        os.utime(dest, (1_700_000_000.0 + i * 100,) * 2)

    # NB the probe fixture writes ts as ns longs; load_table already
    # normalized to timestamp_ntz — re-derive a raw stream-compatible
    # frame by casting back through the batch schema
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    multi = run_to_memory(
        session_window_stats(stream, gap="30 minutes", watermark="25 hours"),
        output_mode="append",
    )
    got = {tuple(r) for r in multi.collect()}

    single = run_to_memory(
        session_window_stats(
            events_stream(spark, f"{sf_dir}/events.parquet"),
            gap="30 minutes",
            watermark="25 hours",
        ),
        output_mode="append",
    )
    want = {tuple(r) for r in single.collect()}
    assert got == want
    # non-vacuity: at least one EMITTED session spans each split — the
    # cross-batch merge path was actually exercised (split points are
    # mid-session by construction; sessions containing them finalize
    # well before the 25 h cut at every fixture SF)
    for s in (s1, s2):
        assert any(r[1] <= s < r[2] for r in want), f"no emitted session spans split {s}"
    shutil.rmtree(base, ignore_errors=True)


def test_session_append_cut_boundary_margin():
    """The session-append oracle's <= cut is load-bearing only on an
    exact microsecond tie between some session end (last_event + 30 min)
    and the cut (max_ts - 25 h). Assert every session end at EVERY
    fixture SF clears the cut by > 1 s, so a fixture regen can't
    silently land on the boundary (the ADVICE r12 ulp-margin
    discipline). Pure DuckDB — no Spark session needed."""
    import duckdb

    for sf in ("0.001", "0.01", "0.1"):
        d = f"/root/testdata/sf{sf}"
        if not os.path.isdir(d):
            continue
        margin = duckdb.sql(
            f"""
            WITH e AS (SELECT * FROM read_parquet('{d}/events.parquet')),
            wm AS (SELECT MAX(ts) - INTERVAL 25 HOUR AS cut FROM e),
            marked AS (
                SELECT user_id, ts,
                       CASE WHEN LAG(ts) OVER w IS NULL
                                 OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
                            THEN 1 ELSE 0 END AS new_sess
                FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)
            ), sess AS (
                SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                              ROWS UNBOUNDED PRECEDING) AS sid
                FROM marked
            ), ends AS (
                SELECT MAX(ts) + INTERVAL 30 MINUTE AS s_end
                FROM sess GROUP BY user_id, sid
            )
            SELECT MIN(ABS(EPOCH(s_end - (SELECT cut FROM wm)))) FROM ends
            """
        ).fetchone()[0]
        assert margin > 1.0, f"sf{sf}: session end within {margin}s of the append cut"


def test_watermark_drops_late_rows_across_batches(spark, tmp_path):
    """T2: with maxFilesPerTrigger=1 the watermark advances between
    micro-batches; a row arriving in batch 2 that is older than
    (max_ts_batch1 - delay) must be dropped from the aggregation."""
    import time

    d = str(tmp_path / "late_src")
    os.makedirs(d)
    base = datetime.datetime(2024, 1, 10, 12, 0, 0)

    def ns(dt):
        return int(dt.timestamp() * 1e9)

    # NB (measured): the late-event filter uses the watermark committed
    # BEFORE the previous batch, so the late row must arrive two batches
    # after the data that advanced the watermark.
    files = [
        [(1, ns(base), 1, "click", 10.0, "{}"), (2, ns(base + datetime.timedelta(hours=1)), 1, "click", 20.0, "{}")],
        [(3, ns(base + datetime.timedelta(days=2)), 1, "click", 30.0, "{}")],
        [(4, ns(base - datetime.timedelta(days=3)), 1, "click", 999.0, "{}")],  # 3 days late
    ]
    schema = "event_id long, ts long, user_id long, event_type string, value double, props string"
    flat = str(tmp_path / "flat")
    os.makedirs(flat)
    for i, rows in enumerate(files):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(f"{d}/f{i}")
        for f in os.listdir(f"{d}/f{i}"):
            if f.endswith(".parquet"):
                shutil.copy(f"{d}/f{i}/{f}", f"{flat}/{i:02d}_{f}")
                os.utime(f"{flat}/{i:02d}_{f}", (time.time() + i * 30, time.time() + i * 30))

    stream = events_stream(spark, flat, max_files_per_trigger=1)
    agg = (
        stream.withWatermark("ts", "1 day")
        .groupBy(F.window("ts", "1 day").alias("win"))
        .agg(F.sum("value").alias("total"))
        .select(F.col("win.start").cast("date").alias("date"), "total")
    )
    got = {(str(r.date), r.total) for r in run_to_memory(agg, output_mode="append").collect()}
    # late row's window (Jan 7) was below the watermark when it arrived → dropped
    assert ("2024-01-07", 999.0) not in got
    # the Jan 10 window closed once the watermark passed it → emitted
    assert ("2024-01-10", 30.0) in got


def test_streaming_dedup_drops_in_batch_duplicates(spark, tmp_path):
    d = str(tmp_path / "dup_src")
    os.makedirs(d)
    base = datetime.datetime(2024, 1, 10, 12, 0, 0)
    ns = lambda dt: int(dt.timestamp() * 1e9)  # noqa: E731
    rows = [
        (1, ns(base), 7, "click", 1.0, "{}"),
        (1, ns(base + datetime.timedelta(minutes=5)), 7, "click", 1.0, "{}"),  # dup event_id
        (2, ns(base), 7, "view", 2.0, "{}"),
    ]
    spark.createDataFrame(rows, "event_id long, ts long, user_id long, event_type string, value double, props string").coalesce(1).write.parquet(d + "/f")
    flat = str(tmp_path / "dflat")
    os.makedirs(flat)
    for f in os.listdir(f"{d}/f"):
        if f.endswith(".parquet"):
            shutil.copy(f"{d}/f/{f}", f"{flat}/{f}")
    stream = events_stream(spark, flat)
    out = run_to_memory(dedup_within_watermark(stream, ["event_id"], watermark="1 hour"), output_mode="append")
    assert sorted(r.event_id for r in out.collect()) == [1, 2]


def test_stream_to_parquet_exactly_once(spark, sf_dir, tmp_path):
    """T7: drain → parquet sink; re-running with the same checkpoint
    must be a no-op (exactly-once), not a duplicate append."""
    out_dir, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")
    src = f"{sf_dir}/events.parquet"
    stream_to_parquet(events_stream(spark, src), out_dir, ckpt)
    n1 = spark.read.parquet(out_dir).count()
    stream_to_parquet(events_stream(spark, src), out_dir, ckpt)  # replay: checkpoint says done
    n2 = spark.read.parquet(out_dir).count()
    assert n1 == n2 == load_table(spark, "events", sf_dir).count()


def test_stateful_totals_carry_state_across_batches(spark, tmp_path):
    """applyInPandasWithState: a user appearing in two micro-batches must
    have CUMULATIVE totals in the second emission (explicit GroupState,
    not per-batch aggregation)."""
    import time

    from energi_data_etl_spark.streaming.ops import stateful_user_totals

    base = datetime.datetime(2024, 1, 10, 12, 0, 0)
    ns = lambda dt: int(dt.timestamp() * 1e9)  # noqa: E731
    schema = "event_id long, ts long, user_id long, event_type string, value double, props string"
    flat = str(tmp_path / "sflat")
    os.makedirs(flat)
    files = [
        [(1, ns(base), 7, "click", 10.0, "{}"), (2, ns(base), 8, "view", 5.0, "{}")],
        [(3, ns(base + datetime.timedelta(hours=1)), 7, "click", 30.0, "{}")],
    ]
    for i, rows in enumerate(files):
        d = str(tmp_path / f"sf{i}")
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(d)
        for f in os.listdir(d):
            if f.endswith(".parquet"):
                shutil.copy(f"{d}/{f}", f"{flat}/{i:02d}_{f}")
                os.utime(f"{flat}/{i:02d}_{f}", (time.time() + i * 30, time.time() + i * 30))

    stream = events_stream(spark, flat, max_files_per_trigger=1)
    out = run_to_memory(stateful_user_totals(stream), output_mode="update").collect()
    by_user = {}
    for r in out:  # update mode: keep the row with the largest n_events per user
        cur = by_user.get(r.user_id)
        if cur is None or r.n_events > cur.n_events:
            by_user[r.user_id] = r
    assert by_user[7].n_events == 2 and by_user[7].total_value == 40.0  # state carried batch 1 → 2
    assert by_user[8].n_events == 1 and by_user[8].total_value == 5.0


def test_tumbling_matches_flagship_batch(spark, sf_dir):
    """T3 ≡ A1: the streaming tumbling daily average equals the batch
    daily_average (the reference's core transform) exactly."""
    stream_out = run_to_memory(
        tumbling_window_avg(events_stream(spark, f"{sf_dir}/events.parquet")), output_mode="complete"
    )
    got = {(str(r.date), r.event_type): (r.avg_value, r.n) for r in stream_out.collect()}
    ev = load_table(spark, "events", sf_dir)
    batch = ev.groupBy(F.col("ts").cast("date").alias("date"), "event_type").agg(
        F.round(F.avg("value"), 6).alias("avg_value"), F.count(F.lit(1)).alias("n")
    )
    want = {(str(r.date), r.event_type): (r.avg_value, r.n) for r in batch.collect()}
    assert got == want


def test_interval_join_pairs_within_window(spark, sf_dir):
    """Every joined (click, purchase) pair obeys the interval: click in
    (purchase - 30min, purchase], same user — asserted on the drained
    pairs themselves, not the aggregate."""
    from energi_data_etl_spark.streaming.ops import interval_self_join

    clicks = events_stream(spark, f"{sf_dir}/events.parquet").filter(F.col("event_type") == "click")
    buys = events_stream(spark, f"{sf_dir}/events.parquet").filter(F.col("event_type") == "purchase")
    pairs = run_to_memory(interval_self_join(clicks, buys), output_mode="append").collect()
    assert pairs, "fixture must produce at least one attributed pair"
    for r in pairs:
        delta = (r.r_ts - r.l_ts).total_seconds()
        assert 0 <= delta < 1800, r


def test_foreachbatch_merge_sink_is_idempotent_under_retry(spark, tmp_path):
    """Structured Streaming RE-RUNS a failed micro-batch with the same
    batch_id — a foreachBatch sink must therefore be idempotent per id.
    The merge sink keys inputs and outputs by batch_id (a retry reads
    the same predecessor version and overwrites its own output); replay
    batch 1 twice and the final table must still equal the one-shot
    aggregate, not double-count the replayed delta."""
    import pyspark.sql.functions as F

    from energi_data_etl_spark.streaming.ops import foreachbatch_merge_sink

    base = str(tmp_path / "sink")
    upsert, state = foreachbatch_merge_sink(base, key="k", value="v")
    full = spark.createDataFrame(
        [(i, "a" if i % 2 else "b", float(i)) for i in range(90)], "id long, k string, v double"
    )
    b0 = full.filter("id < 30")
    b1 = full.filter("id >= 30 and id < 60")
    b2 = full.filter("id >= 60")
    upsert(b0, 0)
    upsert(b1, 1)
    upsert(b1, 1)  # the retry — same batch id, same input
    upsert(b2, 2)
    got = {
        r.k: (r.n_events, round(r.total_value, 6))
        for r in spark.read.parquet(state["path"]).collect()
    }
    want = {
        r.k: (r.n_events, round(r.total_value, 6))
        for r in full.groupBy("k")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("v").alias("total_value"))
        .collect()
    }
    assert got == want, (got, want)


def test_chained_stateful_dau_equals_batch_dau(spark, sf_dir):
    """The two-stateful-operator stream (dedup -> windowed count) agrees
    exactly with the batch DAU on every finalized day."""
    from energi_data_etl_spark.queries.opsanalytics import active_users_rolling_7d
    from energi_data_etl_spark.queries.streaming import streaming_daily_active_users

    got = {r.d: r.dau for r in streaming_daily_active_users(spark, sf_dir).collect()}
    want = {r.d: r.dau for r in active_users_rolling_7d(spark, sf_dir).collect()}
    assert got  # the finalization cut leaves 28 of 30 fixture days
    for d, dau in got.items():
        assert want[d] == dau, d
    # exactly the last two days are unfinalized
    assert len(want) - len(got) == 2


def test_drain_partitions_default_derivation(spark, monkeypatch):
    """The drain state-task count: env knob when valid (clamped >= 1),
    otherwise the session's defaultParallelism — cluster-shaped, so a
    deployer who never sets the knob doesn't inherit the fixture-tuned
    4-task ceiling (r13 probe: 8.26x vs 4.36x at 20M events)."""
    from energi_data_etl_spark.streaming.ops import drain_partitions

    monkeypatch.setenv("SPARK_GRAFT_DRAIN_PARTITIONS", "7")
    assert drain_partitions(spark) == 7
    monkeypatch.setenv("SPARK_GRAFT_DRAIN_PARTITIONS", "-3")
    assert drain_partitions(spark) == 1  # clamp, never a 0-partition drain
    dp = spark.sparkContext.defaultParallelism
    monkeypatch.setenv("SPARK_GRAFT_DRAIN_PARTITIONS", "bogus")
    assert drain_partitions(spark) == dp  # malformed falls through, no raise
    monkeypatch.delenv("SPARK_GRAFT_DRAIN_PARTITIONS")
    assert drain_partitions(spark) == dp


def _assert_rocksdb_backend_invariant(spark, sf_dir, query_fns):
    """Shared backend-swap harness: run each query's full drain on the
    default HDFS-heap state provider and again on RocksDB + changelog
    checkpointing, asserting row-identical output. Both knobs are
    picked up at query start (each drain starts a fresh query on an
    ephemeral checkpoint), so the SAME plan runs on both backends;
    swapping the state store must change only the resource envelope,
    never a row."""
    confs = {
        "spark.sql.streaming.stateStore.providerClass": (
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
        ),
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": "true",
    }

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    for fn in query_fns:
        default_rows = rows(fn(spark, sf_dir))
        prev = {k: spark.conf.get(k, None) for k in confs}
        try:
            for k, v in confs.items():
                spark.conf.set(k, v)
            rocksdb_rows = rows(fn(spark, sf_dir))
        finally:
            for k, v in prev.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)
        assert len(default_rows) > 0, fn.__name__
        assert default_rows == rocksdb_rows, fn.__name__


def test_append_eviction_twins_value_equal_under_rocksdb(spark, sf_dir):
    """VERDICT r13 #5: the production deploy shape is the APPEND
    eviction drain, and the production state backend is RocksDB with
    changelog checkpointing — pin both eviction twins value-equal under
    that backend vs the default HDFS-heap provider."""
    from energi_data_etl_spark.queries.streaming import (
        streaming_session_windows_append,
        streaming_sliding_2d_1d_append,
    )

    _assert_rocksdb_backend_invariant(
        spark, sf_dir, (streaming_session_windows_append, streaming_sliding_2d_1d_append)
    )


def test_neardup_suppress_matches_batch_twin(spark, sf_dir):
    """The streaming first-seen-wins kept set must equal the batch
    derivation: admit doc d iff d is never the LATER member of a
    Hamming-<=3 candidate pair (banding completeness makes the pair set
    the full Hamming ball). Also asserts the suppression is non-vacuous
    and that admitted signatures round-trip."""
    from energi_data_etl_spark.operators.dedup import (
        simhash_candidate_pairs,
        simhash_signature,
    )
    from energi_data_etl_spark.operators.text import tokens
    from energi_data_etl_spark.queries.streaming import streaming_neardup_suppress

    got = streaming_neardup_suppress(spark, sf_dir).collect()
    kept_stream = {(r["doc_id"], r["simhash"]) for r in got}

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    sigs = docs.filter(F.size(tokens("text")) > 0).select("doc_id", simhash_signature("text").alias("simhash"))
    pairs = simhash_candidate_pairs(sigs, max_hamming=3)
    suppressed = {r["b"] for r in pairs.select("b").distinct().collect()}
    kept_batch = {
        (r["doc_id"], r["simhash"]) for r in sigs.collect() if r["doc_id"] not in suppressed
    }
    assert kept_stream == kept_batch
    assert 0 < len(suppressed) < docs.count()


def test_neardup_suppress_capped_query_superset_and_binding(spark, sf_dir):
    """The certified capped query (state_cap=1) must admit a STRICT
    superset of the uncapped admitted set on the fixture: superset by
    the top-k retention monoid (a capped bucket is a subset of the full
    bucket, so hits can only be missed), STRICT so the r16
    certification is non-vacuous — the oracle is exercising the capped
    semantics, not re-proving the uncapped ones. (Binding counts at
    sf0.001/0.01/0.1: 1 / 1 / 154 extra admissions.)"""
    from energi_data_etl_spark.queries.streaming import (
        streaming_neardup_suppress,
        streaming_neardup_suppress_capped,
    )

    kept_capped = {(r["doc_id"], r["simhash"]) for r in streaming_neardup_suppress_capped(spark, sf_dir).collect()}
    kept_uncapped = {(r["doc_id"], r["simhash"]) for r in streaming_neardup_suppress(spark, sf_dir).collect()}
    assert kept_uncapped < kept_capped, (
        f"expected strict superset: capped {len(kept_capped)} vs uncapped {len(kept_uncapped)}"
    )


def _drain_suppress_verdicts(spark, parts, base, state_cap=None):
    """Drain (doc_id, simhash) frames through neardup_suppress_stream
    (one part per micro-batch) and reduce the per-chunk verdicts to the
    admitted doc set. Update-mode memory sink: each doc is processed in
    exactly one batch, so its 4 chunk rows appear exactly once."""
    from energi_data_etl_spark.queries.streaming import _chunked_file_stream
    from energi_data_etl_spark.streaming.ops import neardup_suppress_stream

    stream = _chunked_file_stream(spark, parts, base)
    verdicts = neardup_suppress_stream(stream, max_hamming=3, state_cap=state_cap)
    rows = run_to_memory(verdicts, output_mode="update")
    kept = (
        rows.groupBy("doc_id")
        .agg(F.max(F.col("hit").cast("int")).alias("anyhit"))
        .filter(F.col("anyhit") == 0)
    )
    return {r["doc_id"] for r in kept.collect()}


def test_neardup_state_cap_admits_superset_on_fixture(spark, sf_dir, tmp_path):
    """VERDICT r14 #1: the capped-bucket mode must only ever ADMIT a
    superset of the unbounded mode's admitted docs (a retained set is a
    subset of the full bucket, so a cap can only MISS hits), and with a
    cap no fixture bucket ever reaches, the two modes must be
    IDENTICAL (the cap path is a pure retention policy, not a verdict
    change)."""
    from energi_data_etl_spark.operators.dedup import simhash_signature
    from energi_data_etl_spark.operators.text import tokens

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    sigs = (
        docs.filter(F.size(tokens("text")) > 0)
        .select("doc_id", simhash_signature("text").alias("simhash"))
        .orderBy("doc_id")
    )
    mx = sigs.agg(F.max("doc_id")).collect()[0][0]
    parts = [
        sigs.filter((F.col("doc_id") % 3) == i).orderBy("doc_id") for i in range(3)
    ]
    # NB: mod-3 chunking violates the id-ordered-replay contract on
    # purpose — the superset relation must hold under ANY arrival order
    # (both drains see the SAME order, so verdicts stay comparable).
    kept_unbounded = _drain_suppress_verdicts(spark, parts, str(tmp_path / "u"))
    kept_capped = _drain_suppress_verdicts(spark, parts, str(tmp_path / "c"), state_cap=2)
    kept_roomy = _drain_suppress_verdicts(spark, parts, str(tmp_path / "r"), state_cap=mx + 1)
    assert kept_unbounded <= kept_capped
    assert kept_roomy == kept_unbounded
    assert len(kept_unbounded) < sigs.count()  # suppression non-vacuous


def test_neardup_state_cap_eviction_is_one_sided(spark, tmp_path):
    """Constructed eviction: doc A and near-dup B (Hamming 1) share
    band buckets for chunks 0-2; seven fillers equal to A except ≥5
    flipped bits inside chunk 3 flood exactly those three buckets
    (Hamming ≥ 5 from A, ≥ 4 from B — never near-dups themselves to A
    or B). With cap=4 the fillers evict A from every shared bucket
    before B arrives, so the capped mode ADMITS B where the unbounded
    mode suppresses it — the documented one-sided completeness
    tradeoff, demonstrated strictly. A and the fillers are admitted in
    both modes (capping never suppresses what unbounded admits).

    Filler masks are a replicated-block code: bit b of j (j=1..7)
    sets the whole 5-bit block [5b, 5b+5) of the 15-bit chunk-3 mask,
    so pairwise filler distance = 5·popcount(i^j) ≥ 5 and distance to
    A (resp. B) is 5·popcount(j) ≥ 5 (resp. ±1) — fillers are never
    near-dups of anything."""
    A = (1 << 59) | 0x0123456789AB  # arbitrary 60-bit signature
    B = A ^ (1 << 59)  # Hamming(A, B) = 1, agrees on chunks 0-2

    def mask(j: int) -> int:
        return sum(0b11111 << (5 * b) for b in range(3) if j & (1 << b))

    rows = [(1, A)] + [(1 + j, A ^ (mask(j) << 45)) for j in range(1, 8)] + [(9, B)]
    df = spark.createDataFrame(rows, "doc_id long, simhash long")
    parts = [
        df.filter(F.col("doc_id") <= 5),
        df.filter((F.col("doc_id") > 5) & (F.col("doc_id") <= 8)),
        df.filter(F.col("doc_id") == 9),
    ]
    kept_unbounded = _drain_suppress_verdicts(spark, parts, str(tmp_path / "u"))
    kept_capped = _drain_suppress_verdicts(spark, parts, str(tmp_path / "c"), state_cap=4)
    assert kept_unbounded == set(range(1, 9))  # B suppressed by A
    assert kept_capped == set(range(1, 10))  # A evicted -> B admitted
    assert kept_unbounded <= kept_capped


def test_neardup_state_cap_bounds_store_contents(spark, tmp_path):
    """DIRECT pin of the cap bound (not memory inference): drain a
    crafted corpus whose low-45-bit signatures take only 4 values (so
    chunk-0/1/2 buckets hold ~25 entries each), read the checkpointed
    state back through the `statestore` data source, and assert (a)
    every capped bucket holds ≤ cap entries with at least one AT cap,
    (b) the uncapped twin genuinely exceeds cap, and (c) per shared
    bucket the capped (ids, sigs) are EXACTLY the cap newest (largest
    doc_id) entries of the uncapped store — the retention policy
    itself, verified against the store's actual contents."""
    from energi_data_etl_spark.queries.streaming import _chunked_file_stream
    from energi_data_etl_spark.streaming.ops import drain_conf, neardup_suppress_stream

    cap = 5
    sigs = spark.range(100).select(
        F.col("id").alias("doc_id"),
        (
            (F.abs(F.xxhash64("id")) % (1 << 15)) * F.lit(1 << 45)
            + (F.col("id") % 4) * F.lit(12345678901)
        ).alias("simhash"),
    )

    def drain(sub: str, state_cap):
        base = str(tmp_path / sub)
        parts = [sigs.filter(F.col("doc_id") < 50), sigs.filter(F.col("doc_id") >= 50)]
        stream = _chunked_file_stream(spark, parts, base)
        ck = f"{base}/ck"
        with drain_conf(spark):
            q = (
                neardup_suppress_stream(stream, state_cap=state_cap)
                .writeStream.format("noop")
                .outputMode("update")
                .trigger(availableNow=True)
                .option("checkpointLocation", ck)
                .start()
            )
            q.awaitTermination()
        rows = (
            spark.read.format("statestore")
            .option("path", ck)
            .load()
            .select(
                "key.chunk",
                F.col("key.key").alias("k"),
                F.col("value.groupState.ids").alias("ids"),
                F.col("value.groupState.sigs").alias("sigs"),
            )
            .collect()
        )
        return {(r["chunk"], r["k"]): (list(r["ids"]), list(r["sigs"])) for r in rows}

    capped = drain("c", cap)
    uncapped = drain("u", None)
    cap_sizes = [len(ids) for ids, _ in capped.values()]
    assert max(cap_sizes) == cap  # bound holds AND binds
    assert max(len(ids) for ids, _ in uncapped.values()) > cap  # non-vacuous
    assert set(capped) == set(uncapped)  # same buckets touched
    for bkt, (ids, sig_list) in capped.items():
        u_ids, u_sigs = uncapped[bkt]
        pairs = sorted(zip(u_ids, u_sigs))[-cap:] if len(u_ids) > cap else sorted(
            zip(u_ids, u_sigs)
        )
        assert sorted(zip(ids, sig_list)) == pairs, bkt


def test_neardup_state_cap_rejects_non_positive(spark):
    """cap=0 would slice [-0:] and keep EVERYTHING (silent unbounded
    growth on the exact deploy the lever exists for); the operator must
    fail at plan-build instead."""
    import pytest

    from energi_data_etl_spark.streaming.ops import neardup_suppress_stream

    df = spark.createDataFrame([(1, 2)], "doc_id long, simhash long")
    for bad in (0, -1):
        with pytest.raises(ValueError, match="state_cap"):
            neardup_suppress_stream(df, state_cap=bad)


def test_blocklist_guard_matches_batch_anti_join(spark, sf_dir):
    """The stream-static LEFT ANTI guard must admit exactly the docs a
    batch anti-join admits, and must actually block something (the
    fixture's cross-boundary bag-dups)."""
    from energi_data_etl_spark.operators.text import bag_fingerprint
    from energi_data_etl_spark.queries.streaming import streaming_blocklist_guard

    got = {(r["doc_id"], r["fp"]) for r in streaming_blocklist_guard(spark, sf_dir).collect()}

    docs = load_table(spark, "documents", sf_dir).select(
        "doc_id", bag_fingerprint("text").alias("fp")
    )
    block = docs.filter(F.col("doc_id") < 25).select("fp").distinct()
    train = docs.filter(F.col("doc_id") >= 25)
    want = {(r["doc_id"], r["fp"]) for r in train.join(block, "fp", "left_anti").collect()}
    assert got == want
    n_train = train.count()
    assert 0 < len(got) < n_train, (len(got), n_train)


def test_new_stateful_guards_value_equal_under_rocksdb(spark, sf_dir):
    """The new custom-stateful queries must be backend-invariant too:
    the per-bucket (ids, sigs) ARRAY state of neardup_suppress_stream,
    the TIMEOUT metadata of timeout_finalized_totals, and the
    (items, counts) ARRAY state of heavy_hitters_stream (VERDICT r14
    #2 — same array-state class) are exactly the shapes a
    state-backend swap could mangle — run each drain on the default
    HDFS-heap provider and again on RocksDB with changelog
    checkpointing and assert row-identical output."""
    from energi_data_etl_spark.queries.streaming import (
        streaming_heavy_hitters,
        streaming_neardup_suppress,
        streaming_timeout_finalize,
    )

    _assert_rocksdb_backend_invariant(
        spark,
        sf_dir,
        (streaming_neardup_suppress, streaming_timeout_finalize, streaming_heavy_hitters),
    )


def test_timeout_finalize_cut_margins_all_sfs():
    """The timeout finalization cut (last_ms + 5d gap vs global max_ms
    − 1d delay) is an arbitrary event-time boundary — per the r13
    append-twin rule it needs a fixture margin assert: no (type, week)
    key may sit within 1 hour of the cut at ANY SF, and the finalized
    set must be exactly weeks {0,1,2} (weeks {3,4} open) so the query
    is non-vacuous AND actually withholds something everywhere."""
    import duckdb

    GAP_MS = 5 * 86400 * 1000
    DELAY_MS = 86400 * 1000
    for sf in ("0.001", "0.01", "0.1"):
        rows = duckdb.sql(
            f"""
            WITH e AS (
                SELECT event_type, (DAYOFMONTH(ts)-1)//7 AS week, epoch_us(ts) AS us
                FROM '/root/testdata/sf{sf}/events.parquet'
            )
            SELECT event_type, week, MAX(us)//1000 AS last_ms,
                   (SELECT MAX(us)//1000 FROM e) AS max_ms
            FROM e GROUP BY 1, 2
            """
        ).fetchall()
        finalized, open_ = set(), set()
        for event_type, week, last_ms, max_ms in rows:
            cut = max_ms - DELAY_MS
            margin = abs((last_ms + GAP_MS) - cut)
            assert margin > 3_600_000, (sf, event_type, week, margin)
            (finalized if last_ms + GAP_MS < cut else open_).add(week)
        assert finalized == {0, 1, 2}, (sf, finalized)
        assert open_ == {3, 4}, (sf, open_)


def test_timeout_finalize_round_margins_all_sfs():
    """ADVICE r14: timeout_finalized_totals bridges its per-batch-sorted
    float sum to the oracle's ROUND(SUM(value),2) via
    floor(x*100+0.5)/100 — that bridge only absorbs the
    Spark-vs-DuckDB summation-order delta if no finalized (type, week)
    total sits within that error of a .005 boundary. Pin it: at every
    SF, each finalized total's distance (in cents) from the nearest
    half-cent boundary must exceed 1e-2 — five orders of magnitude
    above the ~1e-7 order-dependent float error measured on the
    fixture (the totals land near whole cents, margin ≈ 0.4999999)."""
    import math

    import duckdb

    GAP_MS = 5 * 86400 * 1000
    DELAY_MS = 86400 * 1000
    for sf in ("0.001", "0.01", "0.1"):
        rows = duckdb.sql(
            f"""
            WITH e AS (
                SELECT event_type, (DAYOFMONTH(ts)-1)//7 AS week, value, epoch_us(ts) AS us
                FROM '/root/testdata/sf{sf}/events.parquet'
            )
            SELECT event_type, week, SUM(value) AS total, MAX(us)//1000 AS last_ms,
                   (SELECT MAX(us)//1000 FROM e) AS max_ms
            FROM e GROUP BY 1, 2
            """
        ).fetchall()
        n_finalized = 0
        for event_type, week, total, last_ms, max_ms in rows:
            if last_ms + GAP_MS < max_ms - DELAY_MS:
                n_finalized += 1
                frac = (total * 100) - math.floor(total * 100)
                margin = abs(frac - 0.5)
                assert margin > 1e-2, (sf, event_type, week, total, margin)
        assert n_finalized == 15, (sf, n_finalized)  # 5 types × weeks {0,1,2}


def test_timeout_finalize_emits_only_idle_keys(spark, sf_dir):
    """End-to-end: the timeout query emits exactly the idle weeks (0-2,
    every event type), and withholds the open tail — state eviction via
    the hasTimedOut callback, not window finalization."""
    from energi_data_etl_spark.queries.streaming import streaming_timeout_finalize

    got = streaming_timeout_finalize(spark, sf_dir).collect()
    weeks = {r["week"] for r in got}
    types = {r["event_type"] for r in got}
    assert weeks == {0, 1, 2}
    assert len(got) == 3 * len(types)
    assert all(r["n"] > 0 for r in got)


def test_heavy_hitters_top_share_margin_all_sfs():
    """streaming_heavy_hitters' exact top1 columns rely on theorem (a)
    — the true top bucket is IN the SpaceSaving summary because its
    share exceeds N/k — so the fixture must keep that share safely
    above 1/8 at every SF and every event type (measured ≥16.5%;
    assert ≥ a 1.25/8 = 15.6% floor), and must have more than k
    distinct buckets so the summary is genuinely lossy."""
    import duckdb

    for sf in ("0.001", "0.01", "0.1"):
        rows = duckdb.sql(
            f"""
            WITH b AS (
                SELECT event_type, CAST(FLOOR(value/10) AS BIGINT) AS bkt, COUNT(*) c
                FROM '/root/testdata/sf{sf}/events.parquet' GROUP BY 1, 2
            )
            SELECT event_type, SUM(c) AS n, MAX(c) AS topc, COUNT(*) AS nbkt
            FROM b GROUP BY 1
            """
        ).fetchall()
        assert len(rows) == 5, sf
        for event_type, n, topc, nbkt in rows:
            assert 8 * topc > 1.25 * n, (sf, event_type, topc, n)
            assert nbkt > 8, (sf, event_type, nbkt)


def test_heavy_hitters_verdicts_and_exactness(spark, sf_dir):
    """End-to-end: both SpaceSaving theorems hold through the real
    drain, the summary is full (n_candidates == k), and the reported
    top1 equals the batch ground truth."""
    from energi_data_etl_spark.queries.streaming import streaming_heavy_hitters

    got = streaming_heavy_hitters(spark, sf_dir).collect()
    assert len(got) == 5
    for r in got:
        assert r["guarantee_ok"] and r["overcount_ok"], r
        assert r["n_candidates"] == 8, r
        assert r["top1_n"] > r["n_events"] / 8, r


def test_replay_chunks_build_in_one_job(spark, tmp_path):
    """The replay writer builds all chunks in ONE Spark job, whatever
    their shape: an overlapping part (streaming_late_data_drop's
    replayed head repeats rows of part 0), an empty part and a plain
    one. Each chunk is one file with a strictly increasing mtime, and
    each replays as one micro-batch of exactly its part's rows — the
    empty part as a 0-row batch, so later batches keep their numbers."""
    from energi_data_etl_spark.queries.streaming import _chunked_file_stream
    from energi_data_etl_spark.streaming.ops import drain_conf
    from perfbench.trace import Tracer

    rows = spark.range(30).select(F.col("id").alias("k"), (F.col("id") * 0.5).alias("v"))
    parts = [
        rows.filter(F.col("k") < 10),
        rows.filter(F.col("k") < 0),
        rows.filter(F.col("k") < 5).unionByName(rows.filter(F.col("k") >= 10)),
    ]
    tracer = Tracer(spark.sparkContext, "replay-build")
    tracer.enabled = True
    with tracer.span("build") as build:
        stream = _chunked_file_stream(spark, parts, str(tmp_path))
    assert build["jobs"] == 1, build

    src = tmp_path / "src"
    files = sorted(os.listdir(src))
    assert files == ["00.parquet", "01.parquet", "02.parquet"]
    mtimes = [os.stat(src / f).st_mtime for f in files]
    assert mtimes == sorted(set(mtimes)), mtimes

    with drain_conf(spark):
        q = (
            stream.writeStream.format("noop")
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        q.awaitTermination()
    batches = [(p["batchId"], p["numInputRows"]) for p in q.recentProgress]
    assert batches == [(0, 10), (1, 0), (2, 25)], batches


def test_replays_leave_nothing_under_home(spark, sf_dir, tmp_path, monkeypatch):
    """Replay inputs live in the query's own scratch dir: two replaying
    queries create nothing under ``~/.cache`` that could outlive the
    process."""
    from energi_data_etl_spark.queries.streaming import (
        streaming_foreachbatch_upsert,
        streaming_late_data_drop,
    )

    monkeypatch.setenv("HOME", str(tmp_path))
    assert streaming_late_data_drop(spark, sf_dir).count() > 0
    assert streaming_foreachbatch_upsert(spark, sf_dir).count() > 0
    assert not (tmp_path / ".cache").exists()
