"""Round-8 late batch: operational-analytics operators — the classic
"hard SQL interview" shapes a warehouse team reaches for weekly, each
re-expressed as the scale-correct Spark plan:

* ``active_users_rolling_7d`` — EXACT sliding-window distinct users
  (DAU / 7-day WAU / stickiness). The exact twin of the approximate
  ``hll_merge_weekly_users`` sketch path.
* ``max_concurrent_sessions`` — interval-overlap concurrency via the
  sweep-line (+1/−1 running sum), sessions split at day boundaries so
  the sweep parallelizes by day instead of one global total order.
* ``order_date_streaks`` — gaps-and-islands over calendar days (the
  date-minus-row_number grouping key), longest-streak report.
* ``run_length_collapse`` — RLE collapse of consecutive same-type
  events per user (the "dedup consecutive duplicates" cleaning op).
* ``pareto_frontier_lineitem`` — skyline / Pareto frontier as one sort
  + running-min window (O(n log n)); the oracle re-derives it from the
  definitional NOT EXISTS domination check.
* ``proration_largest_remainder`` — exact integer allocation of each
  order's total across its lineitems (largest-remainder rounding);
  conservation is exact by construction, all-BIGINT arithmetic.
* ``floored_running_balance`` — clamped-below running balance. The
  naive form needs a stateful scan (b_i = max(0, b_{i-1}+x_i)); the
  identity b_i = S_i − min(0, min_{j≤i} S_j) turns it into two plain
  windows over one partition order — no applyInPandas, pure codegen.
* ``ab_test_two_proportion`` — md5-hash-split A/B readout with the
  pooled two-proportion z statistic (IEEE-exact: +,−,×,÷,sqrt are all
  correctly rounded, so both engines produce the same double).
* ``sql_udf_surface`` — Spark 4 SQL scalar UDFs (CREATE TEMPORARY
  FUNCTION … RETURN expr): declarative reusable logic that inlines
  into the plan (still whole-stage codegen, unlike Python UDFs).
* ``revenue_bridge_monthly`` — the SaaS finance waterfall: MoM totals
  decomposed into new/resurrected/expansion/contraction/churn, the
  bridge identity exact in integer cents.
* ``weighted_median_by_flag`` — exact weighted median via the
  cumulative-weight crossing (2·cum ≥ tot in integers).
* ``km_conversion_hazard`` — Kaplan-Meier hazard table for
  time-to-conversion with right-censoring at corpus end.
* ``bfs_reachability_levels`` — multi-source BFS min-levels as a
  recursive CTE with a JOIN in the recursive term (depth-capped;
  the big-graph path is operators/graph.py's iterative loops).
* ``compaction_small_files`` — the small-files compaction rewrite
  with its file-layout arithmetic certified against COUNT(*).

Reference parity: the reference pipeline (scripts/energy_etl.py:69-70)
ends at a daily-mean dashboard; this tier is the EXT mandate's
"operations on the event/order warehouse a real team runs next".

Cross-engine discipline per CLAUDE.md: epoch seconds via
``ts.cast("timestamp").cast("long")`` == DuckDB ``CAST(FLOOR(EPOCH(ts))
AS BIGINT)``; every DuckDB integer SUM CAST to BIGINT (HUGEINT trap);
quotients FLOOR-truncated, never ROUND; cents via FLOOR(x*100 + 0.5)
on both engines (DuckDB CAST rounds, Spark truncates); windows fully
tie-broken on unique keys; struct extrema use named-literal structs.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..operators.arrays import sorted_pair_structs
from ..operators.graph import pagerank
from ..session import scratch_dir
from ..sources.tables import load_table
from .catalog import query

#: inactivity gap (seconds) that closes a session — same rule as
#: sessionize_events_batch so session populations are comparable.
SESSION_GAP_S = 1800


def _epoch_s(col: str = "ts"):
    return F.col(col).cast("timestamp").cast("long")


# --------------------------------------------------------------------------
# Exact rolling active users (DAU / WAU / stickiness)
# --------------------------------------------------------------------------


@query(
    "active_users_rolling_7d",
    tier="EXT ops-analytics (exact sliding-window COUNT DISTINCT: DAU/WAU/stickiness)",
    oracle="""
        WITH ud AS (
            SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events
        ), days AS (
            SELECT DISTINCT d FROM ud
        )
        SELECT days.d AS d,
               CAST(COUNT(DISTINCT CASE WHEN ud.d = days.d THEN ud.user_id END) AS BIGINT) AS dau,
               CAST(COUNT(DISTINCT ud.user_id) AS BIGINT) AS wau_7d,
               FLOOR(COUNT(DISTINCT CASE WHEN ud.d = days.d THEN ud.user_id END) * 10000.0
                     / COUNT(DISTINCT ud.user_id)) / 10000 AS stickiness
        FROM days JOIN ud ON ud.d BETWEEN days.d - 6 AND days.d
        GROUP BY days.d
    """,
)
def active_users_rolling_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact rolling 7-day active users per day, with same-day DAU and
    the DAU/WAU stickiness ratio, all from ONE pass: dedup events to
    (user, day) — a single map-side-combined shuffle — then band-join
    the tiny day spine (broadcast nested-loop: |spine| rows on the
    build side, each (user, day) row lands in ≤7 spine days), then one
    low-cardinality rollup whose partial aggregation collapses each map
    task to ≤|days| rows. No COUNT(DISTINCT) window (which Spark lacks)
    and no 7-way self-union.

    100 TB: the (user, day) dedup is the only fact-sized shuffle; the
    spine is always tiny (days, not rows). When exactness can be
    relaxed, ``hll_merge_weekly_users`` is the sketch-merge variant of
    this report — this query is its exact twin.
    """
    ud = (
        load_table(spark, "events", sf_dir)
        .select(F.col("ts").cast("date").alias("d"), "user_id")
        .distinct()
        .localCheckpoint(eager=False)  # feeds BOTH the spine and the join probe side
    )
    days = ud.select("d").distinct()
    j = F.broadcast(days.withColumnRenamed("d", "spine_d")).join(
        ud,
        (F.col("d") >= F.date_sub(F.col("spine_d"), 6)) & (F.col("d") <= F.col("spine_d")),
    )
    dau = F.countDistinct(F.when(F.col("d") == F.col("spine_d"), F.col("user_id")))
    wau = F.countDistinct("user_id")
    return (
        j.groupBy(F.col("spine_d").alias("d"))
        .agg(dau.alias("dau"), wau.alias("wau_7d"))
        .withColumn("stickiness", F.floor(F.col("dau") * 10000.0 / F.col("wau_7d")) / 10000)
    )


# --------------------------------------------------------------------------
# Sweep-line interval concurrency
# --------------------------------------------------------------------------


@query(
    "max_concurrent_sessions",
    tier="EXT ops-analytics (interval-overlap concurrency: day-partitioned sweep-line)",
    oracle=f"""
        WITH e AS (
            SELECT user_id, event_id, ts, CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS s FROM events
        ), l AS (
            SELECT *, LAG(s) OVER (PARTITION BY user_id ORDER BY s, event_id) AS ps FROM e
        ), f AS (
            SELECT *, CASE WHEN ps IS NULL OR s - ps > {SESSION_GAP_S} THEN 1 ELSE 0 END AS is_new
            FROM l
        ), sid AS (
            SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY s, event_id
                                        ROWS UNBOUNDED PRECEDING) AS session_id
            FROM f
        ), sess AS (
            SELECT user_id, session_id, MIN(s) AS st, MAX(s) AS en,
                   CAST(MIN(ts) AS DATE) AS st_d, CAST(MAX(ts) AS DATE) AS en_d
            FROM sid GROUP BY user_id, session_id
        ), sd AS (
            SELECT user_id, session_id, st, en, st_d + CAST(u.o AS INTEGER) AS day
            FROM sess, UNNEST(generate_series(0, en_d - st_d)) AS u(o)
        ), cl AS (
            SELECT user_id, session_id, day,
                   GREATEST(st, dep) AS st_c, LEAST(en, dep + 86399) AS en_c
            FROM (SELECT *, CAST(FLOOR(EPOCH(CAST(day AS TIMESTAMP))) AS BIGINT) AS dep FROM sd)
        ), sweep AS (
            SELECT day, st_c AS t, 1 AS delta, user_id, session_id FROM cl
            UNION ALL
            SELECT day, en_c + 1, -1, user_id, session_id FROM cl
        ), conc AS (
            SELECT day, delta, user_id,
                   SUM(delta) OVER (PARTITION BY day
                                    ORDER BY t, delta DESC, user_id, session_id
                                    ROWS UNBOUNDED PRECEDING) AS c
            FROM sweep
        )
        SELECT day,
               CAST(MAX(c) AS BIGINT) AS max_concurrent,
               CAST(SUM(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT) AS sessions_touching,
               CAST(COUNT(DISTINCT CASE WHEN delta = 1 THEN user_id END) AS BIGINT) AS users_touching
        FROM conc GROUP BY day
    """,
)
def max_concurrent_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions per day via the sweep-line: sessionize
    (same gap rule as ``sessionize_events_batch``), split each session
    at day boundaries, emit +1/−1 boundary events, running-sum per day.

    The split is what makes the sweep SCALE: the naive formulation is
    one global ordered cumsum (a single reducer forever). Clipping each
    session to the days it touches makes the partition key the day —
    sessions straddling midnight contribute a +1 at day start, so each
    day's carry-in is counted without any cross-partition prefix pass.
    Ties are swept +1-before-−1 (delta DESC) so touching intervals
    count as concurrent, and the within-tie order is pinned by
    (user_id, session_id); the per-day MAX is invariant either way.

    100 TB: one user_id shuffle (sessionize), one day shuffle (sweep).
    At extreme per-day event counts the refinement is a two-level sweep
    (hour partials + per-day prefix carry over 24 rows) — same algebra,
    documented here, not needed at any probed scale.
    """
    e = load_table(spark, "events", sf_dir).select(
        "user_id", "event_id", "ts", _epoch_s().alias("s")
    )
    wo = Window.partitionBy("user_id").orderBy("s", "event_id")
    sid = (
        e.withColumn("ps", F.lag("s").over(wo))
        .withColumn(
            "is_new",
            (F.col("ps").isNull() | ((F.col("s") - F.col("ps")) > SESSION_GAP_S)).cast("int"),
        )
        .withColumn("session_id", F.sum("is_new").over(wo.rowsBetween(Window.unboundedPreceding, 0)))
    )
    sess = sid.groupBy("user_id", "session_id").agg(
        F.min("s").alias("st"),
        F.max("s").alias("en"),
        F.min("ts").cast("date").alias("st_d"),
        F.max("ts").cast("date").alias("en_d"),
    )
    sd = sess.select(
        "user_id",
        "session_id",
        "st",
        "en",
        F.explode(F.sequence(F.col("st_d"), F.col("en_d"))).alias("day"),
    )
    cl = (
        sd.withColumn("dep", F.col("day").cast("timestamp").cast("long"))
        .select(
            "user_id",
            "session_id",
            "day",
            F.greatest("st", F.col("dep")).alias("st_c"),
            F.least("en", F.col("dep") + 86399).alias("en_c"),
        )
        # feeds both union branches of the sweep — checkpoint so the whole
        # sessionize pipeline doesn't execute twice (CLAUDE.md r07 rule)
        .localCheckpoint(eager=False)
    )
    starts = cl.select("day", F.col("st_c").alias("t"), F.lit(1).alias("delta"), "user_id", "session_id")
    ends = cl.select("day", (F.col("en_c") + 1).alias("t"), F.lit(-1).alias("delta"), "user_id", "session_id")
    sweep = starts.unionAll(ends)
    wd = Window.partitionBy("day").orderBy(
        F.col("t"), F.col("delta").desc(), F.col("user_id"), F.col("session_id")
    ).rowsBetween(Window.unboundedPreceding, 0)
    conc = sweep.withColumn("c", F.sum("delta").over(wd))
    return conc.groupBy("day").agg(
        F.max("c").alias("max_concurrent"),
        F.sum(F.when(F.col("delta") == 1, 1).otherwise(0)).alias("sessions_touching"),
        F.countDistinct(F.when(F.col("delta") == 1, F.col("user_id"))).alias("users_touching"),
    )


# --------------------------------------------------------------------------
# Gaps and islands over calendar days
# --------------------------------------------------------------------------


@query(
    "order_date_streaks",
    tier="EXT ops-analytics (gaps-and-islands: consecutive-day streaks per customer)",
    oracle="""
        WITH od AS (
            SELECT DISTINCT o_custkey, CAST(o_orderdate AS DATE) AS d FROM orders
        ), rn AS (
            SELECT o_custkey, d,
                   CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY d) AS INTEGER) AS r
            FROM od
        ), isl AS (
            SELECT o_custkey, d - r AS grp, COUNT(*) AS len, MIN(d) AS st
            FROM rn GROUP BY o_custkey, d - r
        )
        SELECT o_custkey,
               CAST(SUM(len) AS BIGINT) AS n_active_days,
               CAST(COUNT(*) AS BIGINT) AS n_streaks,
               CAST(MAX({'len': len, 'st': st}).len AS BIGINT) AS longest_streak,
               MAX({'len': len, 'st': st}).st AS longest_streak_start
        FROM isl GROUP BY o_custkey
    """,
)
def order_date_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consecutive-order-day streaks per customer — gaps-and-islands
    via the date-minus-row_number key: within a customer, consecutive
    days share (d − row_number), so one window plus one groupBy finds
    every island with no self-join. Longest streak is tie-broken
    toward the LATEST start via struct-MAX over (len, start) — the
    grouped-extrema idiom both engines order identically.

    100 TB: dedup, window, and both rollups all key on o_custkey — one
    Exchange reused end-to-end.
    """
    od = (
        load_table(spark, "orders", sf_dir)
        .select("o_custkey", F.col("o_orderdate").cast("date").alias("d"))
        .distinct()
    )
    w = Window.partitionBy("o_custkey").orderBy("d")
    isl = (
        od.withColumn("r", F.row_number().over(w))
        .withColumn("grp", F.expr("date_sub(d, r)"))
        .groupBy("o_custkey", "grp")
        .agg(F.count(F.lit(1)).alias("len"), F.min("d").alias("st"))
    )
    best = F.max(F.struct(F.col("len"), F.col("st")))
    return isl.groupBy("o_custkey").agg(
        F.sum("len").alias("n_active_days"),
        F.count(F.lit(1)).alias("n_streaks"),
        best.getField("len").alias("longest_streak"),
        best.getField("st").alias("longest_streak_start"),
    )


# --------------------------------------------------------------------------
# Run-length collapse of consecutive duplicate events
# --------------------------------------------------------------------------


@query(
    "run_length_collapse",
    tier="EXT ops-analytics (RLE collapse of consecutive same-type events per user)",
    oracle="""
        WITH e AS (
            SELECT user_id, event_id, event_type,
                   CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS s
            FROM events
        ), l AS (
            SELECT *, LAG(event_type) OVER (PARTITION BY user_id ORDER BY s, event_id) AS pt
            FROM e
        ), f AS (
            SELECT *, CASE WHEN pt IS NULL OR pt <> event_type THEN 1 ELSE 0 END AS is_new
            FROM l
        ), rid AS (
            SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY s, event_id
                                        ROWS UNBOUNDED PRECEDING) AS run_id
            FROM f
        ), runs AS (
            SELECT user_id, run_id, MIN(event_type) AS event_type, COUNT(*) AS len
            FROM rid GROUP BY user_id, run_id
        )
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_runs,
               CAST(MAX(len) AS BIGINT) AS longest_run,
               CAST(SUM(len) AS BIGINT) AS n_events,
               FLOOR(SUM(len) * 10000.0 / COUNT(*)) / 10000 AS avg_run_len
        FROM runs GROUP BY event_type
    """,
)
def run_length_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collapse consecutive same-type events per user into runs (the
    RLE form of "drop consecutive duplicates" — the event-stream
    cleaning op that exact dedup can't express because non-adjacent
    repeats are legitimate). Same islands build as sessionization but
    keyed on the VALUE changing rather than the time gap; reports
    per-type run statistics.

    100 TB: both windows and the run rollup share the user_id
    Exchange; the final per-type report partial-aggregates to
    |event_type| rows per task.
    """
    e = load_table(spark, "events", sf_dir).select(
        "user_id", "event_id", "event_type", _epoch_s().alias("s")
    )
    wo = Window.partitionBy("user_id").orderBy("s", "event_id")
    rid = (
        e.withColumn("pt", F.lag("event_type").over(wo))
        .withColumn(
            "is_new",
            (F.col("pt").isNull() | (F.col("pt") != F.col("event_type"))).cast("int"),
        )
        .withColumn("run_id", F.sum("is_new").over(wo.rowsBetween(Window.unboundedPreceding, 0)))
    )
    runs = rid.groupBy("user_id", "run_id").agg(
        F.min("event_type").alias("event_type"), F.count(F.lit(1)).alias("len")
    )
    return runs.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_runs"),
        F.max("len").alias("longest_run"),
        F.sum("len").alias("n_events"),
        (F.floor(F.sum("len") * 10000.0 / F.count(F.lit(1))) / 10000).alias("avg_run_len"),
    )


# --------------------------------------------------------------------------
# Skyline / Pareto frontier
# --------------------------------------------------------------------------


@query(
    "pareto_frontier_lineitem",
    tier="EXT ops-analytics (skyline operator: sort + running-min window vs the n-squared definition)",
    oracle="""
        WITH b AS (
            SELECT l_returnflag, l_quantity AS qty, MIN(l_extendedprice) AS best_price
            FROM lineitem GROUP BY l_returnflag, l_quantity
        )
        SELECT b1.l_returnflag AS l_returnflag, b1.qty AS qty, b1.best_price AS best_price
        FROM b b1
        WHERE NOT EXISTS (
            SELECT 1 FROM b b2
            WHERE b2.l_returnflag = b1.l_returnflag
              AND b2.qty > b1.qty AND b2.best_price <= b1.best_price
        )
    """,
)
def pareto_frontier_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto frontier (skyline) of lineitems per return flag —
    maximize quantity, minimize price. Only the min-price point at each
    quantity level can be on the frontier, so the fact table first
    collapses to ≤|quantity levels| rows per group (one partial-agg
    shuffle), then ONE running-min window over quantity-descending
    order decides frontier membership: a level survives iff its best
    price is strictly below every best price at strictly higher
    quantity. O(n log n) against the definitional O(n²) domination
    check, which the DuckDB oracle runs verbatim (NOT EXISTS over the
    same reduced set — both inner-query scopes qualified) — so the
    window formulation is certified against the definition itself.

    100 TB: the window runs over the REDUCED per-level frame (≤ levels
    per group), never the fact table; the only fact-sized operation is
    the initial map-side-combined groupBy.
    """
    best = (
        load_table(spark, "lineitem", sf_dir)
        .groupBy("l_returnflag", F.col("l_quantity").alias("qty"))
        .agg(F.min("l_extendedprice").alias("best_price"))
    )
    w = (
        Window.partitionBy("l_returnflag")
        .orderBy(F.col("qty").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    strict_min = F.min("best_price").over(w)
    return (
        best.withColumn("sm", strict_min)
        .filter(F.col("sm").isNull() | (F.col("best_price") < F.col("sm")))
        .select("l_returnflag", "qty", "best_price")
    )


# --------------------------------------------------------------------------
# Largest-remainder proration
# --------------------------------------------------------------------------


@query(
    "proration_largest_remainder",
    tier="EXT ops-analytics (exact integer allocation: largest-remainder rounding, conservation by construction)",
    oracle="""
        WITH oc AS (
            SELECT o_orderkey, CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS total_cents
            FROM orders
        ), li AS (
            SELECT l_orderkey, l_linenumber,
                   CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS w
            FROM lineitem
        ), j AS (
            SELECT o_orderkey, l_linenumber, w, total_cents,
                   CAST(SUM(w) OVER (PARTITION BY o_orderkey) AS BIGINT) AS wsum
            FROM li JOIN oc ON l_orderkey = o_orderkey
        ), sh AS (
            SELECT *, (total_cents * w) // wsum AS share,
                   (total_cents * w) % wsum AS rem
            FROM j
        ), rk AS (
            SELECT *,
                   CAST(total_cents - SUM(share) OVER (PARTITION BY o_orderkey) AS BIGINT) AS leftover,
                   ROW_NUMBER() OVER (PARTITION BY o_orderkey
                                      ORDER BY rem DESC, l_linenumber) AS rn
            FROM sh
        )
        SELECT o_orderkey, l_linenumber,
               CAST(share + CASE WHEN rn <= leftover THEN 1 ELSE 0 END AS BIGINT) AS alloc_cents
        FROM rk
    """,
)
def proration_largest_remainder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Allocate each order's total (in cents) across its lineitems
    proportionally to extended price, with largest-remainder rounding:
    floor shares first, then hand the leftover cents to the lines with
    the largest remainders (ties to the lowest line number). The
    allocation CONSERVES exactly — per-order sums equal the order total
    to the cent — because it is all BIGINT arithmetic: cents via
    FLOOR(x·100 + 0.5) (the cross-engine half-up idiom; DuckDB CAST
    rounds while Spark truncates), shares via integer division, never
    a float percentage.

    100 TB: the join, both windows, and the rank all key on the order
    key — Spark reuses one hash partitioning end-to-end (no extra
    Exchange after the join; verified in tests/test_opsanalytics.py).
    The int64 headroom is explicit: total_cents·w ≲ 5e14 ≪ 2^63, so
    ANSI mode never overflows.
    """
    oc = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", F.floor(F.col("o_totalprice") * 100 + 0.5).alias("total_cents")
    )
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey", "l_linenumber", F.floor(F.col("l_extendedprice") * 100 + 0.5).alias("w")
    )
    j = li.join(oc, li.l_orderkey == oc.o_orderkey).select(
        "o_orderkey", "l_linenumber", "w", "total_cents"
    )
    wp = Window.partitionBy("o_orderkey")
    sh = (
        j.withColumn("wsum", F.sum("w").over(wp))
        .withColumn("share", F.expr("(total_cents * w) div wsum"))
        .withColumn("rem", F.expr("(total_cents * w) % wsum"))
    )
    rk = sh.withColumn("leftover", F.col("total_cents") - F.sum("share").over(wp)).withColumn(
        "rn",
        F.row_number().over(wp.orderBy(F.col("rem").desc(), F.col("l_linenumber"))),
    )
    return rk.select(
        "o_orderkey",
        "l_linenumber",
        (F.col("share") + F.when(F.col("rn") <= F.col("leftover"), 1).otherwise(0)).alias(
            "alloc_cents"
        ),
    )


# --------------------------------------------------------------------------
# Clamped running balance as pure windows
# --------------------------------------------------------------------------


@query(
    "floored_running_balance",
    tier="EXT ops-analytics (stateful clamped cumsum via the running-min identity — no stateful scan)",
    oracle="""
        WITH e AS (
            SELECT user_id, event_id, CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS s,
                   CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
                     * CASE WHEN event_type = 'purchase' THEN -10 ELSE 1 END AS delta
            FROM events
        ), c AS (
            SELECT user_id, event_id, delta,
                   SUM(delta) OVER (PARTITION BY user_id ORDER BY s, event_id
                                    ROWS UNBOUNDED PRECEDING) AS rs
            FROM e
        ), m AS (
            SELECT *, LEAST(0, MIN(rs) OVER (PARTITION BY user_id ORDER BY s, event_id
                                             ROWS UNBOUNDED PRECEDING)) AS floor_sub,
                   s_ord.s AS s
            FROM c JOIN (SELECT user_id AS u2, event_id AS e2,
                                CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS s FROM events) s_ord
              ON c.user_id = s_ord.u2 AND c.event_id = s_ord.e2
        ), b AS (
            SELECT user_id, event_id, delta, s, rs - floor_sub AS bal FROM m
        )
        SELECT user_id,
               CAST(MAX({'s': s, 'e': event_id, 'b': bal}).b AS BIGINT) AS final_balance,
               CAST(MAX(bal) AS BIGINT) AS max_balance,
               CAST(SUM(CASE WHEN bal = 0 AND delta < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_clamps
        FROM b GROUP BY user_id
    """,
)
def floored_running_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Loyalty-points ledger per user: every non-purchase event accrues
    floor(value·100+0.5) points, every purchase redeems 10× that, and
    the balance is CLAMPED at zero — the classic "stateful scan" that
    b_i = max(0, b_{i-1} + x_i) seems to force row-at-a-time. The
    identity b_i = S_i − min(0, min_{j≤i} S_j) (floor-at-zero only;
    a two-sided cap has no such closed form and would need the
    applyInPandas path) re-expresses it as two plain running windows
    over ONE partition order — whole-stage codegen, no Python, no
    recursion. Reports final balance (struct-MAX argmax-by-time),
    peak balance, and clamp count.

    100 TB: one user_id Exchange feeds both windows and the rollup.
    """
    e = load_table(spark, "events", sf_dir).select(
        "user_id",
        "event_id",
        _epoch_s().alias("s"),
        (
            F.floor(F.col("value") * 100 + 0.5)
            * F.when(F.col("event_type") == "purchase", -10).otherwise(1)
        ).alias("delta"),
    )
    wo = Window.partitionBy("user_id").orderBy("s", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    b = (
        e.withColumn("rs", F.sum("delta").over(wo))
        .withColumn("floor_sub", F.least(F.lit(0), F.min("rs").over(wo)))
        .withColumn("bal", F.col("rs") - F.col("floor_sub"))
    )
    last = F.max(F.struct(F.col("s"), F.col("event_id").alias("e"), F.col("bal").alias("b")))
    return b.groupBy("user_id").agg(
        last.getField("b").alias("final_balance"),
        F.max("bal").alias("max_balance"),
        F.sum(F.when((F.col("bal") == 0) & (F.col("delta") < 0), 1).otherwise(0)).alias("n_clamps"),
    )


# --------------------------------------------------------------------------
# A/B experiment readout
# --------------------------------------------------------------------------


@query(
    "ab_test_two_proportion",
    tier="EXT ops-analytics (md5 hash-split A/B readout + pooled two-proportion z)",
    oracle="""
        WITH u AS (
            SELECT user_id,
                   MAX(CASE WHEN event_type = 'purchase' AND value >= 150 THEN 1 ELSE 0 END) AS conv,
                   CAST('0x' || SUBSTRING(MD5(CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT) % 2 AS v
            FROM events GROUP BY user_id
        ), agg AS (
            SELECT CAST(SUM(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                   CAST(SUM(CASE WHEN v = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
                   CAST(SUM(CASE WHEN v = 0 THEN conv ELSE 0 END) AS BIGINT) AS conv_a,
                   CAST(SUM(CASE WHEN v = 1 THEN conv ELSE 0 END) AS BIGINT) AS conv_b
            FROM u
        )
        SELECT n_a, n_b, conv_a, conv_b,
               FLOOR((conv_a / n_a) * 1000000) / 1000000 AS rate_a,
               FLOOR((conv_b / n_b) * 1000000) / 1000000 AS rate_b,
               CASE WHEN conv_a + conv_b > 0 AND conv_a + conv_b < n_a + n_b THEN
                 FLOOR(((conv_a / n_a) - (conv_b / n_b))
                       / SQRT((((conv_a + conv_b) / (n_a + n_b)) * (1.0 - ((conv_a + conv_b) / (n_a + n_b))))
                              * ((1.0 / n_a) + (1.0 / n_b)))
                       * 10000) / 10000
               END AS z_floor4
        FROM agg
    """,
)
def ab_test_two_proportion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout with a deterministic hash split: variant
    = first-8-hex-chars of md5(user_id) mod 2 (the CLAUDE.md
    cross-engine int-bucket kernel — the ONLY hash both engines
    share), conversion = user ever made a big-ticket purchase
    (value ≥ 150 — "ever purchased at all" is degenerate on this
    corpus: every user converts and the pooled variance vanishes).
    Emits per-variant counts and rates plus the pooled two-proportion
    z statistic, NULL-guarded for the all-or-none pools where the
    statistic is undefined (ANSI Spark throws on the 0-divide that
    DuckDB would quietly turn into inf/nan).

    The z is certifiable to 4dp WITHOUT any tolerance verdict because
    every operation in it — add, subtract, multiply, divide, sqrt — is
    correctly rounded under IEEE-754, so identical BIGINT inputs fed
    through the IDENTICAL expression tree produce the identical double
    in both engines; only the final quotient is FLOOR-truncated (the
    .5-boundary ROUND trap, CLAUDE.md). The Spark expression mirrors
    the oracle's parenthesization operation-for-operation.

    100 TB: one user_id shuffle (per-user conversion rollup), then a
    4-scalar global partial-agg; the z arithmetic is a 1-row project.
    """
    u = (
        load_table(spark, "events", sf_dir)
        .groupBy("user_id")
        .agg(
            F.max(
                F.when((F.col("event_type") == "purchase") & (F.col("value") >= 150), 1).otherwise(0)
            ).alias("conv")
        )
        .withColumn(
            "v",
            F.expr("cast(conv(substring(md5(cast(user_id as string)), 1, 8), 16, 10) as bigint) % 2"),
        )
    )
    agg = u.agg(
        F.sum(F.when(F.col("v") == 0, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("v") == 1, 1).otherwise(0)).alias("n_b"),
        F.sum(F.when(F.col("v") == 0, F.col("conv")).otherwise(0)).alias("conv_a"),
        F.sum(F.when(F.col("v") == 1, F.col("conv")).otherwise(0)).alias("conv_b"),
    )
    p_a = F.col("conv_a") / F.col("n_a")
    p_b = F.col("conv_b") / F.col("n_b")
    pool = (F.col("conv_a") + F.col("conv_b")) / (F.col("n_a") + F.col("n_b"))
    se = F.sqrt((pool * (F.lit(1.0) - pool)) * ((F.lit(1.0) / F.col("n_a")) + (F.lit(1.0) / F.col("n_b"))))
    return agg.select(
        "n_a",
        "n_b",
        "conv_a",
        "conv_b",
        (F.floor(p_a * 1000000) / 1000000).alias("rate_a"),
        (F.floor(p_b * 1000000) / 1000000).alias("rate_b"),
        F.when(
            ((F.col("conv_a") + F.col("conv_b")) > 0)
            & ((F.col("conv_a") + F.col("conv_b")) < (F.col("n_a") + F.col("n_b"))),
            F.floor(((p_a - p_b) / se) * 10000) / 10000,
        ).alias("z_floor4"),
    )


# --------------------------------------------------------------------------
# SQL UDF surface (Spark 4 CREATE FUNCTION ... RETURN)
# --------------------------------------------------------------------------


@query(
    "sql_udf_surface",
    tier="EXT Spark-4 surface (SQL scalar UDF: declarative reusable logic, codegen-inlined)",
    oracle="""
        SELECT CASE WHEN o_totalprice >= 300000 THEN 'premium'
                    WHEN o_totalprice >= 100000 THEN 'mid'
                    ELSE 'value' END AS band,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               ROUND(SUM(o_totalprice), 2) AS revenue
        FROM orders
        GROUP BY 1
    """,
)
def sql_udf_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL scalar UDF (CREATE TEMPORARY FUNCTION … RETURN
    expr): bands each order's price through a named reusable function.
    Unlike a Python UDF, the body INLINES into the plan — the grouped
    aggregate still runs in whole-stage codegen with zero interpreter
    crossings (plan asserted in tests/test_opsanalytics.py; the SQL
    table-UDF variant is exercised there too). The oracle simply
    inlines the CASE, which is exactly what Catalyst does.

    The function is created in the session catalog and NOT dropped:
    the returned plan references it lazily and the driver collects
    after this function returns (CLAUDE.md lazy-plan rule).
    """
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION eds_price_band(p DOUBLE) RETURNS STRING
        RETURN CASE WHEN p >= 300000 THEN 'premium'
                    WHEN p >= 100000 THEN 'mid'
                    ELSE 'value' END
        """
    )
    orders = load_table(spark, "orders", sf_dir)
    return (
        orders.select(F.expr("eds_price_band(o_totalprice)").alias("band"), "o_totalprice")
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


# --------------------------------------------------------------------------
# Monthly revenue bridge (SaaS-style waterfall decomposition)
# --------------------------------------------------------------------------


@query(
    "revenue_bridge_monthly",
    tier="EXT ops-analytics (MoM revenue waterfall: new/resurrected/expansion/contraction/churn)",
    oracle="""
        WITH cm AS (
            SELECT o_custkey,
                   EXTRACT(YEAR FROM o_orderdate) * 12 + EXTRACT(MONTH FROM o_orderdate) - 1 AS m_idx,
                   CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS rev
            FROM orders GROUP BY 1, 2
        ), w AS (
            SELECT *,
                   LAG(m_idx)  OVER (PARTITION BY o_custkey ORDER BY m_idx) AS prev_idx,
                   LAG(rev)    OVER (PARTITION BY o_custkey ORDER BY m_idx) AS prev_rev,
                   LEAD(m_idx) OVER (PARTITION BY o_custkey ORDER BY m_idx) AS next_idx
            FROM cm
        ), act AS (
            SELECT m_idx,
                   CAST(SUM(rev) AS BIGINT) AS total_rev,
                   CAST(COUNT(*) AS BIGINT) AS n_active,
                   CAST(SUM(CASE WHEN prev_idx IS NULL THEN rev ELSE 0 END) AS BIGINT) AS new_rev,
                   CAST(SUM(CASE WHEN prev_idx IS NOT NULL AND m_idx - prev_idx > 1 THEN rev ELSE 0 END) AS BIGINT) AS resurrected_rev,
                   CAST(SUM(CASE WHEN m_idx - prev_idx = 1 AND rev > prev_rev THEN rev - prev_rev ELSE 0 END) AS BIGINT) AS expansion_rev,
                   CAST(SUM(CASE WHEN m_idx - prev_idx = 1 AND rev < prev_rev THEN rev - prev_rev ELSE 0 END) AS BIGINT) AS contraction_rev
            FROM w GROUP BY m_idx
        ), churn AS (
            SELECT m_idx + 1 AS m_idx,
                   CAST(SUM(-rev) AS BIGINT) AS churned_rev
            FROM w
            WHERE next_idx IS NULL OR next_idx - m_idx > 1
            GROUP BY m_idx + 1
        )
        SELECT MAKE_DATE(CAST(COALESCE(act.m_idx, churn.m_idx) // 12 AS INTEGER),
                         CAST(COALESCE(act.m_idx, churn.m_idx) % 12 + 1 AS INTEGER), 1) AS month_start,
               COALESCE(total_rev, 0) AS total_rev,
               COALESCE(n_active, 0) AS n_active,
               COALESCE(new_rev, 0) AS new_rev,
               COALESCE(resurrected_rev, 0) AS resurrected_rev,
               COALESCE(expansion_rev, 0) AS expansion_rev,
               COALESCE(contraction_rev, 0) AS contraction_rev,
               COALESCE(churned_rev, 0) AS churned_rev
        FROM act FULL OUTER JOIN churn ON act.m_idx = churn.m_idx
    """,
)
def revenue_bridge_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue waterfall — the SaaS finance report:
    each month's total decomposed into new, resurrected (returning
    after a ≥1-month gap), expansion, contraction (adjacent-month
    delta split by sign) and churn (a customer's revenue leaves the
    bridge the month AFTER their last active month). The identity
    total(m) = total(m−1) + new + resurrected + expansion +
    contraction + churn(m) holds EXACTLY because everything is
    integer cents — asserted over every month pair in
    tests/test_opsanalytics.py.

    Months are integer indices (year·12 + month − 1): pure BIGINT
    arithmetic instead of cross-engine DATE+INTERVAL typing, rendered
    back via make_date only at the output edge.

    100 TB: one custkey shuffle for the per-customer month series
    (windows reuse it), then two month-keyed rollups over |customers|
    rows and a ≤|months| outer join — the fact table is touched once.
    """
    o = load_table(spark, "orders", sf_dir)
    cm = (
        o.select(
            "o_custkey",
            (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1).alias("m_idx"),
            F.floor(F.col("o_totalprice") * 100 + 0.5).alias("cents"),
        )
        .groupBy("o_custkey", "m_idx")
        .agg(F.sum("cents").alias("rev"))
    )
    wc = Window.partitionBy("o_custkey").orderBy("m_idx")
    w = (
        cm.withColumn("prev_idx", F.lag("m_idx").over(wc))
        .withColumn("prev_rev", F.lag("rev").over(wc))
        .withColumn("next_idx", F.lead("m_idx").over(wc))
        .localCheckpoint(eager=False)  # feeds the activity AND churn rollups
    )
    adj = F.col("m_idx") - F.col("prev_idx") == 1
    act = w.groupBy("m_idx").agg(
        F.sum("rev").alias("total_rev"),
        F.count(F.lit(1)).alias("n_active"),
        F.sum(F.when(F.col("prev_idx").isNull(), F.col("rev")).otherwise(0)).alias("new_rev"),
        F.sum(
            F.when(
                F.col("prev_idx").isNotNull() & (F.col("m_idx") - F.col("prev_idx") > 1),
                F.col("rev"),
            ).otherwise(0)
        ).alias("resurrected_rev"),
        F.sum(
            F.when(adj & (F.col("rev") > F.col("prev_rev")), F.col("rev") - F.col("prev_rev")).otherwise(0)
        ).alias("expansion_rev"),
        F.sum(
            F.when(adj & (F.col("rev") < F.col("prev_rev")), F.col("rev") - F.col("prev_rev")).otherwise(0)
        ).alias("contraction_rev"),
    )
    churn = (
        w.filter(F.col("next_idx").isNull() | (F.col("next_idx") - F.col("m_idx") > 1))
        .groupBy((F.col("m_idx") + 1).alias("m_idx"))
        .agg(F.sum(-F.col("rev")).alias("churned_rev"))
    )
    j = act.join(churn, "m_idx", "full_outer")
    return j.select(
        F.make_date(
            F.expr("m_idx div 12"), F.col("m_idx") % 12 + 1, F.lit(1)
        ).alias("month_start"),
        F.coalesce("total_rev", F.lit(0)).alias("total_rev"),
        F.coalesce("n_active", F.lit(0)).alias("n_active"),
        F.coalesce("new_rev", F.lit(0)).alias("new_rev"),
        F.coalesce("resurrected_rev", F.lit(0)).alias("resurrected_rev"),
        F.coalesce("expansion_rev", F.lit(0)).alias("expansion_rev"),
        F.coalesce("contraction_rev", F.lit(0)).alias("contraction_rev"),
        F.coalesce("churned_rev", F.lit(0)).alias("churned_rev"),
    )


# --------------------------------------------------------------------------
# Exact weighted median
# --------------------------------------------------------------------------


@query(
    "weighted_median_by_flag",
    tier="EXT ops-analytics (exact weighted median via cumulative-weight crossing)",
    oracle="""
        WITH b AS (
            SELECT l_returnflag, l_extendedprice AS price,
                   CAST(SUM(CAST(FLOOR(l_quantity) AS BIGINT)) AS BIGINT) AS w
            FROM lineitem GROUP BY l_returnflag, l_extendedprice
        ), c AS (
            SELECT *,
                   SUM(w) OVER (PARTITION BY l_returnflag ORDER BY price
                                ROWS UNBOUNDED PRECEDING) AS cum,
                   SUM(w) OVER (PARTITION BY l_returnflag) AS tot
            FROM b
        )
        SELECT l_returnflag,
               MIN(CASE WHEN 2 * cum >= tot THEN price END) AS weighted_median_price,
               CAST(MAX(tot) AS BIGINT) AS total_weight
        FROM c GROUP BY l_returnflag
    """,
)
def weighted_median_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact quantity-weighted median price per return flag — the
    lower weighted median: the smallest price whose cumulative weight
    reaches half the total (2·cum ≥ tot in integers, so the half-point
    is exact, never a float quotient). Spark has no weighted
    percentile aggregate; the cumulative-crossing build is the
    standard composition: collapse to distinct values (merging tied
    prices' weights — REQUIRED for determinism, a tie straddling the
    crossing is otherwise row-order-dependent), one running-sum
    window, one min-case rollup.

    100 TB: the fact table reduces to distinct (flag, price) rows in a
    map-side-combined groupBy — but prices are near-unique, so the
    frame stays ~|fact| and a window PARTITIONed by the 3-value flag
    is three single-reducer sorts forever (the r08 TWAP ceiling; this
    query measured 3.9-4.3× at 5× data because of it). r16 plan: the
    cumulative sum is DISTRIBUTED — range-exchange on (flag, price),
    per-(partition, flag) weight sums to the driver (bounded: P×|flags|
    rows), exclusive prefix offsets broadcast back, then the running
    sum is a window over each RANGE PARTITION (every task sorts only
    its slice) plus its offset. Integer weights make the split
    cumulative sums bit-identical to the single-sort plan — same
    oracle, same hash. The 100 TB relaxation is approx_percentile over
    exploded weights or a two-pass bisection; this exact form is the
    correctness baseline.
    """
    li = load_table(spark, "lineitem", sf_dir)
    b = li.groupBy("l_returnflag", F.col("l_extendedprice").alias("price")).agg(
        F.sum(F.floor("l_quantity")).alias("w")
    )
    parts = min(li.sparkSession.sparkContext.defaultParallelism, 32)
    ranged = (
        b.repartitionByRange(parts, "l_returnflag", "price")
        .withColumn("pid", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    psums = ranged.groupBy("pid", "l_returnflag").agg(F.sum("w").alias("pw")).collect()
    offsets: dict[tuple[int, str], int] = {}
    totals: dict[str, int] = {}
    for r in sorted(psums, key=lambda r: r["pid"]):
        key = (r["pid"], r["l_returnflag"])
        offsets[key] = totals.get(r["l_returnflag"], 0)
        totals[r["l_returnflag"]] = offsets[key] + int(r["pw"])
    off_df = F.broadcast(
        li.sparkSession.createDataFrame(
            [(p, f, off, totals[f]) for (p, f), off in offsets.items()],
            "pid int, l_returnflag string, off bigint, tot bigint",
        )
    )
    wf = Window.partitionBy("pid", "l_returnflag").orderBy("price")
    c = ranged.join(off_df, ["pid", "l_returnflag"]).withColumn(
        "cum", F.col("off") + F.sum("w").over(wf.rowsBetween(Window.unboundedPreceding, 0))
    )
    return c.groupBy("l_returnflag").agg(
        F.min(F.when(2 * F.col("cum") >= F.col("tot"), F.col("price"))).alias(
            "weighted_median_price"
        ),
        F.max("tot").alias("total_weight"),
    )


# --------------------------------------------------------------------------
# Kaplan-Meier hazard table (time-to-conversion with censoring)
# --------------------------------------------------------------------------


@query(
    "km_conversion_hazard",
    tier="EXT ops-analytics (Kaplan-Meier hazard table: time-to-convert with right-censoring)",
    oracle="""
        WITH e AS (
            SELECT user_id, event_type, CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS s FROM events
        ), t0 AS (
            SELECT user_id, MIN(CASE WHEN event_type = 'view' THEN s END) AS t0
            FROM e GROUP BY user_id
        ), tp AS (
            SELECT e.user_id, MIN(e.s) AS tp
            FROM e JOIN t0 ON e.user_id = t0.user_id
            WHERE e.event_type = 'purchase' AND e.s > t0.t0
            GROUP BY e.user_id
        ), tend AS (
            SELECT MAX(s) AS tend FROM e
        ), u AS (
            SELECT t0.user_id,
                   CASE WHEN tp.tp IS NOT NULL THEN (tp.tp - t0.t0) // 86400
                        ELSE (tend.tend - t0.t0) // 86400 END AS dur,
                   CASE WHEN tp.tp IS NOT NULL THEN 1 ELSE 0 END AS converted
            FROM t0 LEFT JOIN tp ON t0.user_id = tp.user_id CROSS JOIN tend
            WHERE t0.t0 IS NOT NULL
        ), g AS (
            SELECT dur, CAST(SUM(converted) AS BIGINT) AS d_events,
                   CAST(COUNT(*) AS BIGINT) AS m_total
            FROM u GROUP BY dur
        ), r AS (
            SELECT *, SUM(m_total) OVER (ORDER BY dur DESC ROWS UNBOUNDED PRECEDING) AS n_at_risk
            FROM g
        )
        SELECT dur AS dur_days,
               CAST(n_at_risk AS BIGINT) AS n_at_risk,
               d_events,
               FLOOR(d_events * 1000000.0 / n_at_risk) / 1000000 AS hazard
        FROM r WHERE d_events > 0
    """,
)
def km_conversion_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier style hazard table for first-view → first-purchase
    latency with right-censoring: users who never purchase after their
    first view are censored at the corpus end instead of dropped (the
    mistake that biases every naive conversion-latency report toward
    fast converters). Emits, per event day d: the at-risk count
    (everyone whose event/censor day ≥ d), the conversions at d, and
    the hazard d/n. All counts exact BIGINT; the hazard is the one
    FLOOR-truncated quotient. The cumulative survival CURVE is
    deliberately not emitted cross-engine: it is an ordered float
    product whose evaluation strategy differs by engine (DuckDB
    PRODUCT vs exp∘sum∘log), while the hazard table carries the same
    information exactly.

    100 TB: one user_id shuffle shared by the t0 rollup and the
    after-t0 purchase join; the KM table itself is ≤|distinct days|
    rows, and its reverse-cumulative window runs on that reduced
    frame. The global censor time is a 1-row broadcast.
    """
    e = load_table(spark, "events", sf_dir).select(
        "user_id", "event_type", _epoch_s().alias("s")
    )
    t0 = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("s"))).alias("t0")
    )
    tp = (
        e.filter(F.col("event_type") == "purchase")
        .join(t0, "user_id")
        .filter(F.col("s") > F.col("t0"))
        .groupBy("user_id")
        .agg(F.min("s").alias("tp"))
    )
    tend = e.agg(F.max("s").alias("tend"))
    u = (
        t0.filter(F.col("t0").isNotNull())
        .join(tp, "user_id", "left")
        .crossJoin(F.broadcast(tend))
        .select(
            F.when(F.col("tp").isNotNull(), F.expr("(tp - t0) div 86400"))
            .otherwise(F.expr("(tend - t0) div 86400"))
            .alias("dur"),
            F.when(F.col("tp").isNotNull(), 1).otherwise(0).alias("converted"),
        )
    )
    g = u.groupBy("dur").agg(
        F.sum("converted").alias("d_events"), F.count(F.lit(1)).alias("m_total")
    )
    r = g.withColumn(
        "n_at_risk",
        F.sum("m_total").over(
            Window.orderBy(F.col("dur").desc()).rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return r.filter(F.col("d_events") > 0).select(
        F.col("dur").alias("dur_days"),
        "n_at_risk",
        "d_events",
        (F.floor(F.col("d_events") * 1000000.0 / F.col("n_at_risk")) / 1000000).alias("hazard"),
    )


# --------------------------------------------------------------------------
# BFS reachability via recursive CTE
# --------------------------------------------------------------------------


@query(
    "bfs_reachability_levels",
    tier="EXT graph+SQL (multi-source BFS min-level via WITH RECURSIVE over a join)",
    oracle="""
        WITH RECURSIVE ed AS (
            SELECT DISTINCT 'S' || CAST(l_suppkey AS VARCHAR) AS a,
                            'P' || CAST(l_partkey AS VARCHAR) AS b
            FROM lineitem WHERE l_quantity = 1
        ), bi AS (
            SELECT a, b FROM ed UNION ALL SELECT b AS a, a AS b FROM ed
        ), seeds AS (
            SELECT DISTINCT a AS node FROM ed
            WHERE CAST(SUBSTRING(a, 2) AS BIGINT) % 10 = 0
        ),
        bfs(node, lvl) AS (
            SELECT node, 0 AS lvl FROM seeds
            UNION ALL
            SELECT bi.b, bfs.lvl + 1 FROM bfs JOIN bi ON bi.a = bfs.node
            WHERE bfs.lvl < 3
        ),
        dist AS (
            SELECT node, CAST(MIN(lvl) AS BIGINT) AS dist FROM bfs GROUP BY node
        )
        SELECT dist,
               CAST(COUNT(*) AS BIGINT) AS n_nodes,
               CAST(SUM(CASE WHEN SUBSTRING(node, 1, 1) = 'S' THEN 1 ELSE 0 END) AS BIGINT) AS n_suppliers,
               CAST(SUM(CASE WHEN SUBSTRING(node, 1, 1) = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_parts
        FROM dist GROUP BY dist
    """,
)
def bfs_reachability_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS distance labels over the (sparse) supplier-part
    bipartite graph — edges are the quantity-1 lineitems, seeds every
    10th supplier — expressed as WITH RECURSIVE with a JOIN in the
    recursive term (probed: this Spark 4.1 build runs it; recursive
    UNION-distinct is NOT yet supported, so min-level dedup happens in
    a post-aggregation and the frontier blowup is bounded by the depth
    cap lvl < 3 over a deliberately sparse edge set — the level-wise
    path count is Σ degree-products, measured thousands at fixture
    SFs). Reports node counts per BFS distance, split by node type.

    100 TB: recursive CTEs replay ALL paths without a visited set —
    the scalable form of this operator is the iterative frontier join
    with checkpointed lineage (operators/graph.py's connected
    components / PageRank loops); this query certifies the SQL-surface
    semantics cross-engine, not the big-graph path.
    """
    # recursion replays paths, not nodes: total rows ≈ Σ degree-products,
    # which passes Spark's 1M-row recursion guard around ~5M input rows
    # (measured: BASELINE.md "Round-8 ops-analytics scale probe"). Raise
    # it and LEAVE it set — the returned plan executes the recursion at
    # collect time (lazy-plan rule: never unset a conf the returned plan
    # still needs).
    spark.conf.set("spark.sql.cteRecursionRowLimit", str(50_000_000))
    li = load_table(spark, "lineitem", sf_dir)
    # r18 opt (VERDICT r17 #5, guide §2.3 narrower types): the recursion
    # used to join and aggregate on 'S123'/'P456' STRING node ids —
    # every frontier join key and the min-level groupBy key was a
    # variable-length string. Now the pagerank_integer_twin encoding
    # (2s / 2p+1, injective) runs BIGINT keys through the recursive
    # join; seeds suppkey%10==0 ⟺ a%20==0 (a=2·suppkey is even), node
    # type 'S'/'P' ⟺ even/odd. The output only aggregates counts per
    # (dist, type), and an injective node relabeling preserves every
    # per-node min-level, so the emitted rows are identical — the
    # oracle (string ids) is untouched.
    ed = (
        li.filter(F.col("l_quantity") == 1)
        .select(
            (F.col("l_suppkey") * 2).alias("a"),
            (F.col("l_partkey") * 2 + 1).alias("b"),
        )
        .distinct()
        .localCheckpoint(eager=False)  # feeds both edge directions and the seed scan
    )
    ed.createOrReplaceTempView("__bfs_ed")
    spark.sql(
        "SELECT a, b FROM __bfs_ed UNION ALL SELECT b AS a, a AS b FROM __bfs_ed"
    ).createOrReplaceTempView("__bfs_bi")
    spark.sql(
        "SELECT DISTINCT a AS node FROM __bfs_ed WHERE a % 20 = 0"
    ).createOrReplaceTempView("__bfs_seeds")
    return spark.sql(
        """
        WITH RECURSIVE bfs(node, lvl) AS (
            SELECT node, 0 AS lvl FROM __bfs_seeds
            UNION ALL
            SELECT bi.b, bfs.lvl + 1 FROM bfs JOIN __bfs_bi bi ON bi.a = bfs.node
            WHERE bfs.lvl < 3
        ),
        dist AS (
            SELECT node, CAST(MIN(lvl) AS BIGINT) AS dist FROM bfs GROUP BY node
        )
        SELECT dist,
               CAST(COUNT(*) AS BIGINT) AS n_nodes,
               CAST(SUM(CASE WHEN node % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_suppliers,
               CAST(SUM(CASE WHEN node % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_parts
        FROM dist GROUP BY dist
        """
    )


# --------------------------------------------------------------------------
# Small-files compaction (maintenance op with certifiable arithmetic)
# --------------------------------------------------------------------------


@query(
    "compaction_small_files",
    tier="EXT maintenance (compaction rewrite: bounded-size files, layout arithmetic certified)",
    oracle="""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST((COUNT(*) + 4095) // 4096 AS BIGINT) AS files_written,
               CAST(LEAST(COUNT(*), 4096) AS BIGINT) AS max_rows_per_file,
               CAST(4096 AS BIGINT) AS target_rows_per_file,
               TRUE AS layout_ok
        FROM events
    """,
)
def compaction_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The small-files compaction maintenance op — rewrite a table into
    bounded-row-count files — with its layout arithmetic CERTIFIED:
    the query actually performs the rewrite (maxRecordsPerFile=4096
    into a fresh directory), reads the result back, and emits the
    observed file statistics; the oracle pins the arithmetic the
    writer must satisfy (⌈n/4096⌉ files, no file above target) from
    COUNT(*) alone. ``layout_ok`` is COMPUTED from the observed
    layout on the Spark side and pinned TRUE by the oracle — the
    sketch-family verdict recipe applied to a storage op.

    r16 plan (VERDICT r15 #4): the r12 version serialized the whole
    rewrite through ``repartition(1)`` — exact but one task forever
    (measured 27 s at 5M rows, a pure serial wall at volume). Now the
    write is PARALLEL and still exact: a zip-index (the
    `global_row_index` recipe — range exchange, per-partition counts
    to the driver, prefix-sum offsets back) buckets rows into
    contiguous groups of exactly 4096·m, and any task composition of
    whole buckets holds a multiple of 4096 rows except the single
    global tail — Spark rolls files at precisely the record cap
    within a task, so Σ⌈rows_task/4096⌉ = ⌈n/4096⌉ and
    max_rows_per_file stays 4096, value-identical to the serial plan
    (same oracle, same hash). m sizes each task at ~⌈n/(4096·P)⌉
    files so the rewrite uses the cluster; this IS the 100 TB form,
    not a documented aspiration. Compaction is the everyday answer to
    streaming sinks' small-file problem (see streaming_rollup_parquet).
    """

    ev = load_table(spark, "events", sf_dir)
    base = scratch_dir("compact_")
    parts = min(spark.sparkContext.defaultParallelism, 32)
    ranged = (
        ev.repartitionByRange(parts, "event_id")
        .withColumn("pid", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    counts = {r["pid"]: r["c"] for r in ranged.groupBy("pid").agg(F.count(F.lit(1)).alias("c")).collect()}
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    m = max(1, -(-acc // (4096 * max(parts, 1))))  # files per task ≈ ceil(n / (4096·P))
    offset_df = F.broadcast(
        spark.createDataFrame([(pid, off) for pid, off in offsets.items()], "pid int, off bigint")
    )
    w = Window.partitionBy("pid").orderBy("event_id")
    bucketed = (
        ranged.join(offset_df, "pid")
        .withColumn("__idx", F.col("off") + F.row_number().over(w) - 1)
        .withColumn("__bucket", F.expr(f"__idx div {4096 * m}"))
        .drop("pid", "off", "__idx")
    )
    (
        bucketed.repartition("__bucket")
        .drop("__bucket")
        .write.mode("overwrite")
        .option("maxRecordsPerFile", 4096)
        .parquet(f"{base}/out")
    )
    per_file = (
        spark.read.parquet(f"{base}/out")
        .select(F.input_file_name().alias("f"))
        .groupBy("f")
        .agg(F.count(F.lit(1)).alias("rows_in_file"))
    )
    return per_file.agg(
        F.sum("rows_in_file").alias("n_rows"),
        F.count(F.lit(1)).alias("files_written"),
        F.max("rows_in_file").alias("max_rows_per_file"),
        F.lit(4096).cast("long").alias("target_rows_per_file"),
    ).select(
        "n_rows",
        "files_written",
        "max_rows_per_file",
        "target_rows_per_file",
        (
            (F.col("files_written") == F.expr("(n_rows + 4095) div 4096"))
            & (F.col("max_rows_per_file") <= F.col("target_rows_per_file"))
        ).alias("layout_ok"),
    )


# --------------------------------------------------------------------------
# Bag-semantics set operations (ALL variants)
# --------------------------------------------------------------------------


@query(
    "set_operations_bag",
    tier="§2.7+ (INTERSECT ALL / EXCEPT ALL: multiplicity-preserving set ops)",
    oracle="""
        WITH a AS (SELECT o_orderpriority AS pr FROM orders WHERE o_orderstatus = 'F'),
             b AS (SELECT o_orderpriority AS pr FROM orders WHERE o_orderstatus = 'O')
        SELECT 'intersect_all' AS op, pr, CAST(COUNT(*) AS BIGINT) AS n
        FROM (SELECT pr FROM a INTERSECT ALL SELECT pr FROM b) GROUP BY pr
        UNION ALL
        SELECT 'except_all' AS op, pr, CAST(COUNT(*) AS BIGINT) AS n
        FROM (SELECT pr FROM a EXCEPT ALL SELECT pr FROM b) GROUP BY pr
    """,
)
def set_operations_bag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multiplicity-preserving (bag) set operations — INTERSECT ALL
    keeps min(m_a, m_b) copies per value, EXCEPT ALL keeps
    max(0, m_a − m_b) — which the distinct-variant ``set_operations``
    query cannot express (and naive dedup silently corrupts: priority
    'F' vs 'O' order MIXES share every priority value, so the DISTINCT
    intersect is all-5-rows trivia while the bag counts carry the
    actual imbalance). Spark plans both as a single hash aggregation
    computing per-value multiplicities (map-side combined), not a
    join — the same shape DuckDB uses, certified value-for-value here.

    100 TB: one shuffle per operand pair on the value itself; output
    is bounded by distinct values, and the counts rollup rides the
    same partitioning.
    """
    o = load_table(spark, "orders", sf_dir)
    a = o.filter(F.col("o_orderstatus") == "F").select(F.col("o_orderpriority").alias("pr"))
    b = o.filter(F.col("o_orderstatus") == "O").select(F.col("o_orderpriority").alias("pr"))
    ia = (
        a.intersectAll(b)
        .groupBy("pr")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("intersect_all").alias("op"), "pr", "n")
    )
    ea = (
        a.exceptAll(b)
        .groupBy("pr")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("except_all").alias("op"), "pr", "n")
    )
    return ia.unionAll(ea)


# --------------------------------------------------------------------------
# SQL session variables (Spark 4 DECLARE / SET VAR)
# --------------------------------------------------------------------------


@query(
    "sql_variables_surface",
    tier="EXT Spark-4 surface (DECLARE VARIABLE / SET VAR: parameterized SQL without string templating)",
    oracle="""
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               ROUND(SUM(o_totalprice), 2) AS revenue
        FROM orders
        WHERE o_totalprice >= 250000 AND EXTRACT(YEAR FROM o_orderdate) >= 1998
        GROUP BY o_orderpriority
    """,
)
def sql_variables_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL session variables (DECLARE VARIABLE … / SET VAR):
    the sanctioned replacement for f-string SQL templating —
    parameters live in the session, are type-checked, and fold into
    the plan as literals at analysis time (so predicate pushdown sees
    the constant and the variable's value is captured when this
    function analyzes the query, satisfying the lazy-collect
    contract). The oracle inlines the same two thresholds.

    100 TB: nothing runtime-visible — the folded plan is identical to
    the literal query, filters pushed to the scan.
    """
    spark.sql("DECLARE OR REPLACE VARIABLE eds_min_price DOUBLE DEFAULT 0.0")
    spark.sql("DECLARE OR REPLACE VARIABLE eds_min_year INT DEFAULT 1990")
    spark.sql("SET VAR eds_min_price = 250000")
    spark.sql("SET VAR eds_min_year = 1998")
    load_table(spark, "orders", sf_dir).createOrReplaceTempView("__sqlvar_orders")
    return spark.sql(
        """
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               ROUND(SUM(o_totalprice), 2) AS revenue
        FROM __sqlvar_orders
        WHERE o_totalprice >= eds_min_price AND EXTRACT(YEAR FROM o_orderdate) >= eds_min_year
        GROUP BY o_orderpriority
        """
    )


# --------------------------------------------------------------------------
# Fixed-point integer PageRank twin (certifies the rows-only algorithm)
# --------------------------------------------------------------------------

#: fixed-point scale: total initial mass, integer micro-units
_PR_SCALE = 1_000_000_000_000
_PR_ITERS = 3


def _pr_oracle() -> str:
    """Three unrolled fixed-point iterations as chained CTEs (standard
    SQL forbids aggregation in a recursive term, so the loop unrolls)."""
    head = f"""
        WITH ed AS (
            SELECT DISTINCT 'S' || CAST(l_suppkey AS VARCHAR) AS a,
                            'P' || CAST(l_partkey AS VARCHAR) AS b
            FROM lineitem
        ), nodes AS (
            SELECT a AS id FROM ed UNION SELECT b FROM ed
        ), nn AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes
        ), deg AS (
            SELECT a AS id, CAST(COUNT(*) AS BIGINT) AS outdeg FROM ed GROUP BY a
        ), base AS (
            SELECT (15 * ({_PR_SCALE} // n)) // 100 AS b, n FROM nn
        ), r0 AS (
            SELECT id, {_PR_SCALE} // n AS rank FROM nodes, nn
        )"""
    steps = []
    for k in range(_PR_ITERS):
        steps.append(f"""
        , dg{k} AS (
            SELECT CAST(COALESCE(SUM(r.rank), 0) AS BIGINT) AS dg
            FROM r{k} r LEFT JOIN deg d ON d.id = r.id WHERE d.outdeg IS NULL
        ), in{k} AS (
            SELECT ed.b AS id, CAST(SUM(r.rank // d.outdeg) AS BIGINT) AS inc
            FROM ed JOIN r{k} r ON r.id = ed.a JOIN deg d ON d.id = ed.a
            GROUP BY ed.b
        ), r{k + 1} AS (
            SELECT n.id,
                   base.b + (85 * (COALESCE(i.inc, 0) + dg{k}.dg // base.n)) // 100 AS rank
            FROM nodes n LEFT JOIN in{k} i ON i.id = n.id, dg{k}, base
        )""")
    tail = f"""
        SELECT id AS node, CAST(rank AS BIGINT) AS rank_fp
        FROM r{_PR_ITERS} ORDER BY rank DESC, id LIMIT 20
    """
    return head + "".join(steps) + tail


@query(
    "pagerank_integer_twin",
    tier="EXT graph (fixed-point integer PageRank: the rows-only operator's algorithm, hash-certifiable)",
    oracle=_pr_oracle(),
)
def pagerank_integer_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fixed-point mode of the production PageRank operator
    (`operators/graph.py::pagerank` with `scale`), over the supplier ->
    part graph that `pagerank_supplier_part` ranks in float. The same
    damping / dangling-redistribution / contribution algebra runs in
    BIGINT with floor division, so every step is engine-exact and the
    driver can hash-certify the whole ranking — the oracle certifies
    the code path the float query runs. Rule per iteration:

        r'(v) = (15·(S div N)) div 100
              + (85·(Σ_{u→v} r(u) div outdeg(u) + DG div N)) div 100

    with S = 10^12 total mass and DG the dangling (part-side) mass.
    Three unrolled iterations — standard SQL forbids aggregation in a
    recursive term, so the oracle chains CTEs. Emits the top-20
    (rank, node) deterministically tie-broken.

    Node encoding is integer (supplier s -> 2s, part p -> 2p+1,
    injective) so join keys are bigints; the "S123"/"P456" ids are
    rebuilt only for the final 20-row projection, which keeps the
    (rank DESC, node) tie-break order of the oracle.
    """
    li = load_table(spark, "lineitem", sf_dir)
    ed = li.select(
        (F.col("l_suppkey") * 2).alias("a"),
        (F.col("l_partkey") * 2 + 1).alias("b"),
    ).distinct()
    ranks = pagerank(ed, src="a", dst="b", iterations=_PR_ITERS, scale=_PR_SCALE)
    node_str = F.concat(
        F.when(F.col("id") % 2 == 0, F.lit("S")).otherwise(F.lit("P")),
        F.expr("id div 2").cast("string"),
    )
    return (
        ranks.select(node_str.alias("node"), F.col("rank").alias("rank_fp"))
        .orderBy(F.col("rank_fp").desc(), F.col("node"))
        .limit(20)
    )


# --------------------------------------------------------------------------
# FIFO inventory matching (cumulative-interval allocation)
# --------------------------------------------------------------------------


@query(
    "fifo_inventory_matching",
    tier="EXT ops-analytics (FIFO supply/demand allocation via cumulative-interval overlap)",
    oracle="""
        WITH supply AS (
            SELECT l_partkey,
                   CAST(FLOOR(l_quantity) AS BIGINT) AS qty,
                   SUM(CAST(FLOOR(l_quantity) AS BIGINT)) OVER (
                       PARTITION BY l_partkey
                       ORDER BY l_shipdate, l_orderkey, l_linenumber
                   ) AS hi
            FROM lineitem WHERE l_returnflag = 'R'
        ),
        demand AS (
            SELECT l_partkey,
                   CAST(FLOOR(l_quantity) AS BIGINT) AS qty,
                   SUM(CAST(FLOOR(l_quantity) AS BIGINT)) OVER (
                       PARTITION BY l_partkey
                       ORDER BY l_shipdate, l_orderkey, l_linenumber
                   ) AS hi
            FROM lineitem WHERE l_returnflag = 'A'
        ),
        s AS (SELECT l_partkey, qty, hi, hi - qty AS lo FROM supply),
        d AS (SELECT l_partkey, qty, hi, hi - qty AS lo FROM demand),
        matches AS (
            SELECT s.l_partkey,
                   LEAST(s.hi, d.hi) - GREATEST(s.lo, d.lo) AS alloc
            FROM s JOIN d ON s.l_partkey = d.l_partkey
                         AND s.lo < d.hi AND d.lo < s.hi
        ),
        st AS (SELECT l_partkey, MAX(hi) AS supply_total FROM s GROUP BY l_partkey),
        dt AS (SELECT l_partkey, MAX(hi) AS demand_total FROM d GROUP BY l_partkey),
        ma AS (SELECT l_partkey, COUNT(*) AS n_matches, SUM(alloc) AS allocated
               FROM matches GROUP BY l_partkey)
        SELECT COALESCE(st.l_partkey, dt.l_partkey) AS partkey,
               CAST(COALESCE(st.supply_total, 0) AS BIGINT) AS supply_total,
               CAST(COALESCE(dt.demand_total, 0) AS BIGINT) AS demand_total,
               CAST(COALESCE(ma.n_matches, 0) AS BIGINT) AS n_matches,
               CAST(COALESCE(ma.allocated, 0) AS BIGINT) AS qty_allocated,
               CAST(COALESCE(st.supply_total, 0) - COALESCE(ma.allocated, 0) AS BIGINT)
                   AS unmatched_supply,
               CAST(COALESCE(dt.demand_total, 0) - COALESCE(ma.allocated, 0) AS BIGINT)
                   AS unmatched_demand
        FROM st FULL OUTER JOIN dt ON st.l_partkey = dt.l_partkey
        LEFT JOIN ma ON COALESCE(st.l_partkey, dt.l_partkey) = ma.l_partkey
        ORDER BY qty_allocated DESC, partkey ASC
        LIMIT 20
    """,
)
def fifo_inventory_matching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIFO matching of a supply stream against a demand stream per
    part (receipts = returnflag 'R' rows, issues = 'A' rows, both in
    shipdate order) WITHOUT iteration: each row becomes a half-open
    interval [cumsum − qty, cumsum) on its side's cumulative axis, and
    FIFO allocation is EXACTLY interval intersection — supply row s
    fills demand row d by min(hi_s, hi_d) − max(lo_s, lo_d) whenever
    the intervals overlap. The stateful queue simulation every
    imperative implementation runs (and the method test replays) falls
    out of two window cumsums and one bounded join.

    Emits the top-20 parts by allocated quantity with full conservation
    accounting (allocated == min(supply_total, demand_total) by
    construction; unmatched sides are the leftovers).

    Cross-engine: all-BIGINT (quantities are integral doubles —
    FLOOR'd before the cast per the CAST-rounds trap); full tie-broken
    window order (shipdate, orderkey, linenumber) — the lineitem PK.

    Scale (100 TB): the cumsum windows partition by part (millions of
    independent partitions, no global order); the match join is
    equi-on-part plus interval overlap, and FIFO structure bounds the
    fan-out at n_supply + n_demand − 1 matches per part (each match
    consumes at least one side's interval) — never quadratic. The
    rollups and the <=|parts|-row outer join are partial-aggregated.
    This is the bank-ledger / cost-basis / warehouse-picking shape."""
    li = load_table(spark, "lineitem", sf_dir)
    w = Window.partitionBy("l_partkey").orderBy("l_shipdate", "l_orderkey", "l_linenumber")

    def side(flag: str) -> DataFrame:
        return (
            li.where(F.col("l_returnflag") == flag)
            .select(
                "l_partkey",
                F.floor("l_quantity").cast("long").alias("qty"),
                "l_shipdate",
                "l_orderkey",
                "l_linenumber",
            )
            .select(
                "l_partkey",
                "qty",
                F.sum("qty").over(w).alias("hi"),
            )
            .select("l_partkey", "qty", "hi", (F.col("hi") - F.col("qty")).alias("lo"))
            .localCheckpoint(eager=False)  # consumed by the match join AND the totals rollup
        )

    s, d = side("R"), side("A")
    matches = (
        s.alias("s")
        .join(
            d.alias("d"),
            (F.col("s.l_partkey") == F.col("d.l_partkey"))
            & (F.col("s.lo") < F.col("d.hi"))
            & (F.col("d.lo") < F.col("s.hi")),
        )
        .select(
            F.col("s.l_partkey").alias("l_partkey"),
            (
                F.least(F.col("s.hi"), F.col("d.hi")) - F.greatest(F.col("s.lo"), F.col("d.lo"))
            ).alias("alloc"),
        )
    )
    st = s.groupBy("l_partkey").agg(F.max("hi").alias("supply_total"))
    dt = d.groupBy("l_partkey").agg(F.max("hi").alias("demand_total"))
    ma = matches.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("n_matches"), F.sum("alloc").alias("allocated")
    )
    joined = (
        st.alias("st")
        .join(dt.alias("dt"), F.col("st.l_partkey") == F.col("dt.l_partkey"), "full_outer")
        .select(
            F.coalesce(F.col("st.l_partkey"), F.col("dt.l_partkey")).alias("partkey"),
            F.coalesce(F.col("supply_total"), F.lit(0)).alias("supply_total"),
            F.coalesce(F.col("demand_total"), F.lit(0)).alias("demand_total"),
        )
        .join(ma, F.col("partkey") == ma.l_partkey, "left")
    )
    return (
        joined.select(
            "partkey",
            F.col("supply_total").cast("long").alias("supply_total"),
            F.col("demand_total").cast("long").alias("demand_total"),
            F.coalesce(F.col("n_matches"), F.lit(0)).cast("long").alias("n_matches"),
            F.coalesce(F.col("allocated"), F.lit(0)).cast("long").alias("qty_allocated"),
            (F.col("supply_total") - F.coalesce(F.col("allocated"), F.lit(0)))
            .cast("long")
            .alias("unmatched_supply"),
            (F.col("demand_total") - F.coalesce(F.col("allocated"), F.lit(0)))
            .cast("long")
            .alias("unmatched_demand"),
        )
        .orderBy(F.col("qty_allocated").desc(), F.col("partkey").asc())
        .limit(20)
    )


#: SLO burn-rate alerting dials: "bad" events (value >= threshold,
#: ~p99 of the fixture distribution), a 1% error budget, and the
#: multi-window rule burn_1h >= 3.0 AND burn_6h >= 1.5 (the Google SRE
#: workbook shape at this corpus's granularity).
SLO_BAD_THRESHOLD = 200
SLO_BURN1_PPM = 3_000_000
SLO_BURN6_PPM = 1_500_000


@query(
    "slo_burn_rate_alert",
    tier="EXT ops-analytics (multi-window SLO error-budget burn-rate alerting, all-integer)",
    oracle=f"""
        WITH hourly AS (
            SELECT epoch_us(ts) // 3600000000 AS h,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CASE WHEN value >= {SLO_BAD_THRESHOLD} THEN 1 ELSE 0 END)
                        AS BIGINT) AS bad
            FROM events GROUP BY 1
        ),
        roll AS (
            SELECT h, n, bad,
                   CAST(SUM(n) OVER w1 AS BIGINT) AS n1,
                   CAST(SUM(bad) OVER w1 AS BIGINT) AS b1,
                   CAST(SUM(n) OVER w6 AS BIGINT) AS n6,
                   CAST(SUM(bad) OVER w6 AS BIGINT) AS b6
            FROM hourly
            WINDOW w1 AS (ORDER BY h RANGE BETWEEN 0 PRECEDING AND CURRENT ROW),
                   w6 AS (ORDER BY h RANGE BETWEEN 5 PRECEDING AND CURRENT ROW)
        )
        SELECT h AS hour_epoch,
               n1 AS n_1h, b1 AS bad_1h,
               CAST(b1 * 100000000 // n1 AS BIGINT) AS burn1_ppm,
               n6 AS n_6h, b6 AS bad_6h,
               CAST(b6 * 100000000 // n6 AS BIGINT) AS burn6_ppm
        FROM roll
        WHERE b1 * 100000000 // n1 >= {SLO_BURN1_PPM}
          AND b6 * 100000000 // n6 >= {SLO_BURN6_PPM}
        ORDER BY hour_epoch
    """,
)
def slo_burn_rate_alert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-window error-budget burn-rate alerting (the SRE-workbook
    page rule): bucket events to hours, roll bad/total over 1 h and
    6 h RANGE windows (range-on-hour, so calendar gaps shrink the
    window instead of stretching it), and emit exactly the hours where
    BOTH windows burn faster than the alert line — the short window
    gives detection speed, the long one suppresses blips. Burn rate is
    (bad/total)/budget with a 1% budget, carried as an exact integer:
    bad*1e8 div total (ppm of budget) — Spark `div` == DuckDB `//`, so
    the alert predicate and every emitted column are ulp-free.

    Non-vacuous at every fixture SF (15/112/94 alert hours at
    sf0.001/0.01/0.1 — the dials are chosen against the fixture's p99).

    Scale (100 TB): the corpus collapses to hour grain in ONE
    partial-aggregated pass (<= 8760 rows/year regardless of event
    volume); the two rolling windows share one unpartitioned sort of
    that TIME-BOUNDED frame — deliberate: hour-grain cardinality grows
    with the calendar, not the data, so the single sort task is
    constant work at any corpus size (per-service alerting would
    partition by service and parallelize naturally)."""
    ev = load_table(spark, "events", sf_dir)
    hourly = (
        ev.select(
            F.expr("unix_micros(cast(ts as timestamp)) div 3600000000").alias("h"),
            F.when(F.col("value") >= SLO_BAD_THRESHOLD, 1).otherwise(0).alias("is_bad"),
        )
        .groupBy("h")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("is_bad").cast("long").alias("bad"),
        )
    )
    w1 = Window.orderBy("h").rangeBetween(0, 0)
    w6 = Window.orderBy("h").rangeBetween(-5, 0)
    roll = hourly.select(
        "h",
        F.sum("n").over(w1).cast("long").alias("n1"),
        F.sum("bad").over(w1).cast("long").alias("b1"),
        F.sum("n").over(w6).cast("long").alias("n6"),
        F.sum("bad").over(w6).cast("long").alias("b6"),
    )
    burn1 = F.expr("(b1 * 100000000) div n1")
    burn6 = F.expr("(b6 * 100000000) div n6")
    return (
        roll.withColumn("burn1_ppm", burn1.cast("long"))
        .withColumn("burn6_ppm", burn6.cast("long"))
        .filter(
            (F.col("burn1_ppm") >= SLO_BURN1_PPM) & (F.col("burn6_ppm") >= SLO_BURN6_PPM)
        )
        .select(
            F.col("h").alias("hour_epoch"),
            F.col("n1").alias("n_1h"),
            F.col("b1").alias("bad_1h"),
            "burn1_ppm",
            F.col("n6").alias("n_6h"),
            F.col("b6").alias("bad_6h"),
            "burn6_ppm",
        )
        .orderBy("hour_epoch")
    )


#: Weighted-DAG routing fixture: 25 nation nodes in 5 layers of 5
#: (layer = n_nationkey div 5), complete bipartite edges between
#: consecutive layers, md5-derived integer weights.
DAG_EDGE_W_SQL = (
    "1 + CAST('0x'||SUBSTRING(MD5(CAST(a.n_nationkey AS VARCHAR)||'-'||"
    "CAST(b.n_nationkey AS VARCHAR)),1,8) AS BIGINT) % 1000"
)


@query(
    "shortest_path_layered_dag",
    tier="EXT graph (weighted shortest path on a layered DAG: iterative relaxation vs definitional min-over-all-paths)",
    oracle=f"""
        WITH RECURSIVE
        edges AS (
            SELECT a.n_nationkey AS a, b.n_nationkey AS b,
                   {DAG_EDGE_W_SQL} AS w,
                   a.n_nationkey // 5 AS layer
            FROM nation a JOIN nation b
              ON b.n_nationkey // 5 = a.n_nationkey // 5 + 1
        ),
        paths AS (
            SELECT CAST(0 AS BIGINT) AS node, CAST(0 AS BIGINT) AS cost, 0 AS layer
            UNION ALL
            SELECT e.b, p.cost + e.w, p.layer + 1
            FROM paths p JOIN edges e ON e.a = p.node AND e.layer = p.layer
            WHERE p.layer < 4
        )
        SELECT node,
               CAST(node // 5 AS BIGINT) AS hops,
               CAST(MIN(cost) AS BIGINT) AS best_cost
        FROM paths WHERE layer > 0
        GROUP BY node ORDER BY node
    """,
)
def shortest_path_layered_dag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted shortest path (cheapest route) on a layered DAG — the
    multi-stage routing/planning shape (supply legs, ETL stage costs,
    travel segments): 25 nation nodes in 5 layers, complete bipartite
    md5-weighted edges between consecutive layers, source = node 0.
    The Spark side is the PRODUCTION pattern — iterative frontier
    relaxation, one broadcast-join + min-groupBy per layer (exactly
    Bellman-Ford restricted to the DAG's topological order; a fixed
    layer count, not connected_components' run-to-convergence loop,
    and bfs_reachability_levels is a WITH RECURSIVE CTE) — while the DuckDB
    oracle RECURSIVELY ENUMERATES every source path (5^4 = 625 on this
    fixture) and takes the definitional MIN per node, so the hash gate
    proves relaxation == min-over-all-paths, not twin agreement. All
    costs are exact BIGINTs from the cross-engine md5 kernel.

    Scale (100 TB): per layer the frontier is one equi-join on the
    edge tail + a partial-aggregated MIN — no all-pairs, no path
    materialization (the oracle's enumeration is the CERT, never the
    plan); layers beyond int bounds chain the same loop with
    localCheckpoint lineage truncation (pagerank rule)."""
    nation = load_table(spark, "nation", sf_dir).select("n_nationkey")
    # The relaxation loop below walks exactly layers 0..3 from source 0,
    # so only edges with tail layer < 4 (and head layer 1..4) are ever
    # consumed — bound the edge BUILD to those layers BEFORE the
    # localCheckpoint, not after (output-identical; without this the
    # checkpoint materializes |V|-sized edges of which a constant number
    # is used — measured 4.9x at 5x nodes, ~flat with the bound pushed
    # into the scan: BASELINE.md "Round-11 scale probe").
    a = nation.select(F.col("n_nationkey").alias("a"), F.expr("n_nationkey div 5").alias("layer")).filter(
        F.col("layer") < 4
    )
    b = nation.select(F.col("n_nationkey").alias("b"), F.expr("n_nationkey div 5").alias("bl")).filter(
        (F.col("bl") >= 1) & (F.col("bl") <= 4)
    )
    edges = (
        a.join(b, F.col("bl") == F.col("layer") + 1)
        .select(
            "a",
            "b",
            "layer",
            (
                1
                + F.expr(
                    "cast(conv(substring(md5(concat(cast(a as string),'-',cast(b as string))),1,8),16,10) as bigint) % 1000"
                )
            ).alias("w"),
        )
        .localCheckpoint(eager=False)  # consumed once per layer iteration
    )
    frontier = spark.createDataFrame([(0, 0)], "node long, cost long")
    out = None
    for layer in range(4):
        step = (
            frontier.join(
                F.broadcast(edges.filter(F.col("layer") == layer)),
                F.col("node") == F.col("a"),
            )
            .select(F.col("b").alias("node"), (F.col("cost") + F.col("w")).alias("cost"))
            .groupBy("node")
            .agg(F.min("cost").alias("cost"))
            .localCheckpoint(eager=False)  # lineage truncation per round
        )
        frontier = step
        out = step if out is None else out.unionByName(step)
    return (
        out.select(
            F.col("node").cast("long").alias("node"),
            F.expr("node div 5").cast("long").alias("hops"),
            F.col("cost").cast("long").alias("best_cost"),
        )
        .orderBy("node")
    )


# --------------------------------------------------------------------------
# Exact triangle census via the degree-oriented edge iterator
# --------------------------------------------------------------------------


def _copurchase_graph(spark: SparkSession, sf_dir: str):
    """(edges, deg, directed, adj) of the part co-purchase graph —
    the shared skeleton of the triangle queries. edges: distinct
    undirected (p1 < p2) pairs co-occurring in an order (bounded-clique
    build: one groupBy(orderkey), in-place JVM pair expansion). deg:
    undirected degrees. directed: every edge oriented from its
    lower-(degree, id) endpoint — out-degrees O(√E) under any skew.
    adj: sorted out-neighbor lists. All four localCheckpointed (each is
    consumed by 2+ downstream frames in every caller)."""
    li = load_table(spark, "lineitem", sf_dir)
    # r17 opt: the fixture parquet is single-row-group (1 scan task), so an
    # immediate groupBy ran its collect_set PARTIAL agg single-threaded in
    # the scan stage. Key-only repartition first: the groupBy reuses the
    # exchange (one shuffle total, r13 lesson) and the set-build runs on
    # all shuffle partitions; projection to the two needed columns keeps
    # the exchange narrow (guide §2.3).
    order_sets = (
        li.select("l_orderkey", "l_partkey")
        .repartition("l_orderkey")
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("ps"))
        .filter(F.size("ps") > 1)
    )
    pair_structs = sorted_pair_structs("ps", "p1", "p2")
    edges = (
        order_sets.select(F.explode(pair_structs).alias("e"))
        .select("e.p1", "e.p2")
        .distinct()
        .localCheckpoint(eager=False)
    )
    deg = (
        edges.select(F.col("p1").alias("v"))
        .unionAll(edges.select(F.col("p2").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
        .localCheckpoint(eager=False)
    )
    lower_first = (F.col("d1") < F.col("d2")) | (
        (F.col("d1") == F.col("d2")) & (F.col("p1") < F.col("p2"))
    )
    directed = (
        edges.join(deg.select(F.col("v").alias("p1"), F.col("d").alias("d1")), "p1")
        .join(deg.select(F.col("v").alias("p2"), F.col("d").alias("d2")), "p2")
        .select(
            F.when(lower_first, F.col("p1")).otherwise(F.col("p2")).alias("src"),
            F.when(lower_first, F.col("p2")).otherwise(F.col("p1")).alias("dst"),
        )
        .localCheckpoint(eager=False)
    )
    adj = (
        directed.groupBy("src").agg(F.sort_array(F.collect_list("dst")).alias("nbrs"))
        # r18 opt (guide §2.4, the r07 consumed-2+-times rule):
        # _edge_intersections joins adj for BOTH edge endpoints — without
        # the checkpoint the |E|-row exchange + collect_list aggregation
        # ran once per join side (two identical ObjectHashAggregate
        # subtrees in the r18 before-plan)
        .localCheckpoint(eager=False)
    )
    return edges, deg, directed, adj


def _edge_intersections(directed, adj):
    """Per directed edge (src, dst): the sorted set ws = N⁺(src) ∩
    N⁺(dst) — each w ∈ ws closes the triangle {src, dst, w} exactly
    once (src is its lowest-rank corner)."""
    return (
        directed.join(
            adj.select(F.col("src").alias("u"), F.col("nbrs").alias("nu")),
            F.col("src") == F.col("u"),
        )
        .join(
            adj.select(F.col("src").alias("w"), F.col("nbrs").alias("nv")),
            F.col("dst") == F.col("w"),
            "left",
        )
        .select(
            "src",
            "dst",
            F.array_intersect(F.col("nu"), F.coalesce(F.col("nv"), F.array())).alias("ws"),
        )
    )


@query(
    "graph_triangle_census",
    tier="EXT graph (exact triangle count + global clustering, degree-oriented edge iterator)",
    oracle="""
        WITH pairs AS (
            SELECT DISTINCT LEAST(a.l_partkey, b.l_partkey) AS p1,
                            GREATEST(a.l_partkey, b.l_partkey) AS p2
            FROM lineitem a JOIN lineitem b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        ), deg AS (
            SELECT v, COUNT(*) AS d FROM (
                SELECT p1 AS v FROM pairs UNION ALL SELECT p2 AS v FROM pairs
            ) GROUP BY v
        ), tri AS (
            SELECT COUNT(*) AS t FROM pairs e1
            JOIN pairs e2 ON e2.p1 = e1.p2
            JOIN pairs e3 ON e3.p1 = e1.p1 AND e3.p2 = e2.p2
        ), w AS (
            SELECT CAST(SUM(d * (d - 1) // 2) AS BIGINT) AS nw FROM deg
        )
        SELECT CAST((SELECT COUNT(*) FROM pairs) AS BIGINT) AS n_edges,
               nw AS n_wedges,
               CAST(t AS BIGINT) AS n_triangles,
               CAST((t * 1000000 // nw) * 3 + ((t * 1000000 % nw) * 3) // nw
                    AS BIGINT) AS clustering_ppm
        FROM w, tri
    """,
)
def graph_triangle_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle count + global clustering coefficient of the
    part co-purchase graph (parts are adjacent when some order contains
    both — each order's item set is a bounded clique, ≤7 parts, so the
    edge build is one groupBy(orderkey) with in-place JVM pair
    expansion, never a lineitem self-join).

    The count itself is the canonical DEGREE-ORIENTED edge iterator:
    orient every edge from its lower-(degree, id) endpoint to the
    higher one — out-degrees are then bounded by O(√E) regardless of
    skew (a celebrity vertex of degree d contributes d edges but at
    most O(√E) OUT-edges, so no reducer ever sees its full d² wedge
    set) — build each vertex's out-neighbor list once, and count each
    triangle exactly once at its lowest-rank corner as
    |N⁺(u) ∩ N⁺(v)| summed over directed edges (u,v). Work is
    Σ outdeg² ≲ E^1.5, the classic bound; at 100 TB that is three
    keyed shuffles (edge build, degree join, adjacency attach) and a
    map-side sorted-array intersect — no wedge materialization through
    a shuffle, no iteration. The oracle replays the definition as the
    unordered 3-way equi-join (fine at sf, quadratic-prone at scale —
    documented as the certification twin, not the production shape).
    Clustering ppm = 3T·10⁶/W staged as (T·10⁶ div W)·3 +
    ((T·10⁶ mod W)·3) div W — exact, and every intermediate stays
    under 2⁶³ while T < 9.2e12 (r11 three-factor-overflow rule).
    All-BIGINT output on both engines.
    """
    edges, deg, directed, adj = _copurchase_graph(spark, sf_dir)
    tri = (
        _edge_intersections(directed, adj)
        .select(F.size("ws").alias("c"))
        .agg(F.sum("c").cast("long").alias("n_triangles"))
    )
    n_edges = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    n_wedges = deg.agg(F.sum(F.expr("d * (d - 1) div 2")).cast("long").alias("n_wedges"))
    return (
        n_edges.crossJoin(n_wedges)  # three 1-row scalar frames
        .crossJoin(tri)
        .withColumn(
            "clustering_ppm",
            F.expr(
                "(n_triangles * 1000000L div n_wedges) * 3"
                " + ((n_triangles * 1000000L % n_wedges) * 3) div n_wedges"
            ).cast("long"),
        )
    )


@query(
    "graph_local_clustering_topk",
    tier="EXT graph (per-vertex triangle participation + local clustering, top-5 corners)",
    oracle="""
        WITH pairs AS (
            SELECT DISTINCT LEAST(a.l_partkey, b.l_partkey) AS p1,
                            GREATEST(a.l_partkey, b.l_partkey) AS p2
            FROM lineitem a JOIN lineitem b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        ), deg AS (
            SELECT v, COUNT(*) AS d FROM (
                SELECT p1 AS v FROM pairs UNION ALL SELECT p2 AS v FROM pairs
            ) GROUP BY v
        ), tris AS (
            SELECT e1.p1 AS a, e1.p2 AS b, e2.p2 AS c FROM pairs e1
            JOIN pairs e2 ON e2.p1 = e1.p2
            JOIN pairs e3 ON e3.p1 = e1.p1 AND e3.p2 = e2.p2
        ), corners AS (
            SELECT a AS v FROM tris
            UNION ALL SELECT b FROM tris
            UNION ALL SELECT c FROM tris
        ), tv AS (
            SELECT v, CAST(COUNT(*) AS BIGINT) AS n_triangles
            FROM corners GROUP BY v
        )
        SELECT tv.v AS part_key,
               CAST(deg.d AS BIGINT) AS degree,
               tv.n_triangles,
               CAST(tv.n_triangles * 1000000 // (deg.d * (deg.d - 1) // 2)
                    AS BIGINT) AS local_ppm
        FROM tv JOIN deg ON deg.v = tv.v
        ORDER BY tv.n_triangles DESC, tv.v
        LIMIT 5
    """,
)
def graph_local_clustering_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vertex triangle participation over the same co-purchase
    graph: the five parts sitting in the most triangles, with their
    degree and LOCAL clustering coefficient (triangles ÷ C(d,2), ppm,
    exact integer div — a triangle corner always has d ≥ 2, so the
    denominator is never zero). Corner counts fall out of the oriented
    edge iterator at no extra shuffle cost: each directed edge's
    intersection set ws closes |ws| triangles whose corners are src,
    dst, and every w ∈ ws — one union of three projections of the SAME
    intersection frame (localCheckpointed: computed once), then a
    single groupBy(vertex). At 100 TB the top-k is a partial-aggregated
    count + a 5-row ordered take, never a global sort of all vertices;
    the deterministic (n_triangles DESC, part_key) tie-break keeps
    LIMIT stable on both engines. Oracle replays corners from the
    3-way-join triangle list (certification twin)."""
    _edges, deg, directed, adj = _copurchase_graph(spark, sf_dir)
    inter = _edge_intersections(directed, adj).localCheckpoint(eager=False)
    corners = (
        inter.select(F.col("src").alias("v"), F.size("ws").alias("c"))
        .unionAll(inter.select(F.col("dst").alias("v"), F.size("ws").alias("c")))
        .unionAll(inter.select(F.explode("ws").alias("v"), F.lit(1).alias("c")))
    )
    # drop the c=0 rows that zero-intersection edges contribute for their
    # endpoints: tv must hold triangle CORNERS only (as the oracle's
    # triangle-list replay does) — a degree-1 endpoint would otherwise
    # reach the local_ppm division with C(d,2) = 0
    tv = (
        corners.groupBy("v")
        .agg(F.sum("c").cast("long").alias("n_triangles"))
        .filter(F.col("n_triangles") > 0)
    )
    return (
        tv.join(deg, "v")
        .select(
            F.col("v").alias("part_key"),
            F.col("d").cast("long").alias("degree"),
            "n_triangles",
            F.expr("(n_triangles * 1000000L) div (d * (d - 1L) div 2)")
            .cast("long")
            .alias("local_ppm"),
        )
        .orderBy(F.desc("n_triangles"), "part_key")
        .limit(5)
    )
