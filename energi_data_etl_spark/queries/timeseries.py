"""Time-series and incremental-maintenance queries: calendar-spine gap
filling with forward fill (the dashboard-continuity version of the
reference's daily table — a day with no ingested rows must still render,
energy_etl.py:69-70 never emits it), and the distributed MERGE/upsert
shape (the reference's append-only sink, energy_etl.py:105, upgraded to
keyed updates).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..sources.tables import load_table
from .catalog import query


@query(
    "gapfill_forward",
    tier="W4+F1 (calendar spine + forward fill over sparse daily series)",
    oracle="""
        WITH spine AS (
            SELECT CAST(UNNEST(GENERATE_SERIES(DATE '2024-01-01', DATE '2024-01-30', INTERVAL 1 DAY)) AS DATE) AS date
        ), types AS (
            SELECT DISTINCT event_type FROM events
        ), sparse AS (
            SELECT CAST(DATE_TRUNC('day', ts) AS DATE) AS date, event_type,
                   ROUND(AVG(value), 6) AS avg_value
            FROM events WHERE value > 180
            GROUP BY 1, 2
        ), joined AS (
            SELECT s.date, t.event_type, sp.avg_value
            FROM spine s CROSS JOIN types t
            LEFT JOIN sparse sp ON sp.date = s.date AND sp.event_type = t.event_type
        )
        SELECT date, event_type,
               LAST_VALUE(avg_value IGNORE NULLS) OVER (
                   PARTITION BY event_type ORDER BY date
                   ROWS UNBOUNDED PRECEDING) AS filled_value,
               CAST(avg_value IS NULL AS BOOLEAN) AS was_gap
        FROM joined
    """,
)
def gapfill_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense calendar × observed categories, left-joined to the sparse
    series, gaps forward-filled with last-known value (days before the
    first observation stay NULL — honest, not zero-filled). The spine is
    generated, not scanned (sequence + explode: no driver loop); the
    fill is one window per category. events spans exactly Jan 2024 at
    every SF (TESTDATA), so the spine bounds are constants."""
    ev = load_table(spark, "events", sf_dir)
    spine = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("2024-01-01").cast("date"), F.lit("2024-01-30").cast("date"), F.expr("interval 1 day")
            )
        ).alias("date")
    )
    types = ev.select("event_type").distinct()
    sparse = (
        ev.filter(F.col("value") > 180)
        .groupBy(F.col("ts").cast("date").alias("date"), "event_type")
        .agg(F.round(F.avg("value"), 6).alias("avg_value"))
    )
    joined = (
        spine.crossJoin(F.broadcast(types))
        .join(sparse, ["date", "event_type"], "left")
    )
    w = Window.partitionBy("event_type").orderBy("date").rowsBetween(Window.unboundedPreceding, 0)
    return joined.select(
        "date",
        "event_type",
        F.last("avg_value", ignorenulls=True).over(w).alias("filled_value"),
        F.col("avg_value").isNull().alias("was_gap"),
    )


@query(
    "merge_upsert_orders",
    tier="S5+J2 (distributed MERGE: full-outer coalesce upsert by key)",
    oracle="""
        WITH base AS (
            SELECT o_orderkey AS k, o_orderstatus AS status, o_totalprice AS price
            FROM orders WHERE o_orderkey % 3 != 0
        ), updates AS (
            -- raw IEEE product, NOT rounded per-row: ROUND(x*1.1, 2) hits
            -- .5-boundary cents where Spark HALF_UP and DuckDB scaled-double
            -- rounding diverge (ADVICE r05 high). Round only the wide SUM.
            SELECT o_orderkey AS k, o_orderstatus AS status, o_totalprice * 1.1 AS price
            FROM orders WHERE o_orderkey % 2 = 0
        ), merged AS (
            SELECT COALESCE(u.k, b.k) AS k,
                   COALESCE(u.status, b.status) AS status,
                   COALESCE(u.price, b.price) AS price,
                   CASE WHEN u.k IS NULL THEN 'kept'
                        WHEN b.k IS NULL THEN 'inserted'
                        ELSE 'updated' END AS op
            FROM base b FULL OUTER JOIN updates u ON b.k = u.k
        )
        SELECT status, op, COUNT(*) AS n, ROUND(SUM(price), 2) AS total_price
        FROM merged GROUP BY status, op
    """,
)
def merge_upsert_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO as a data-flow: base FULL OUTER JOIN updates on the
    key, COALESCE(update, base) per column, op tagged kept/updated/
    inserted. One shuffle on the merge key, linear, no driver state —
    the incremental-maintenance upgrade of the reference's append-only
    sink. At 100 TB both sides bucket by the key and the join is
    exchange-free (see operators/bucketing)."""
    o = load_table(spark, "orders", sf_dir)
    base = o.filter(F.col("o_orderkey") % 3 != 0).select(
        F.col("o_orderkey").alias("bk"),
        F.col("o_orderstatus").alias("bstatus"),
        F.col("o_totalprice").alias("bprice"),
    )
    updates = o.filter(F.col("o_orderkey") % 2 == 0).select(
        F.col("o_orderkey").alias("uk"),
        F.col("o_orderstatus").alias("ustatus"),
        # unrounded: per-row ROUND of a raw product diverges cross-engine
        # on .5-boundary cents; only the final wide SUM is rounded.
        (F.col("o_totalprice") * 1.1).alias("uprice"),
    )
    merged = base.join(updates, base.bk == updates.uk, "full_outer").select(
        F.coalesce("ustatus", "bstatus").alias("status"),
        F.coalesce("uprice", "bprice").alias("price"),
        F.when(F.col("uk").isNull(), "kept")
        .when(F.col("bk").isNull(), "inserted")
        .otherwise("updated")
        .alias("op"),
    )
    return merged.groupBy("status", "op").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("price"), 2).alias("total_price")
    )


@query(
    "scd2_customer_status",
    tier="S5+W2 (SCD Type-2 dimension build: collapse status runs into validity intervals)",
    oracle="""
        WITH h AS (
            SELECT o_custkey AS cust, o_orderdate AS d, o_orderkey AS k, o_orderstatus AS status,
                   LAG(o_orderstatus) OVER w AS prev_status
            FROM orders
            WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        ), runs AS (
            SELECT cust, d, status,
                   SUM(CASE WHEN prev_status IS NULL OR prev_status != status THEN 1 ELSE 0 END)
                       OVER (PARTITION BY cust ORDER BY d, k ROWS UNBOUNDED PRECEDING) AS version
            FROM h
        ), versions AS (
            SELECT cust, version, status, MIN(d) AS valid_from, MAX(d) AS last_seen, COUNT(*) AS n_orders
            FROM runs GROUP BY cust, version, status
        )
        SELECT cust AS c_custkey,
               COUNT(*) AS n_versions,
               CAST(MAX(version) AS BIGINT) AS current_version,
               CAST(SUM(n_orders) AS BIGINT) AS n_orders,
               MIN(valid_from) AS first_date,
               MAX(last_seen) AS last_date
        FROM versions GROUP BY cust
    """,
)
def scd2_customer_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-Changing-Dimension Type 2 built as a data-flow: per
    customer, consecutive same-status order runs collapse into one
    dimension version (change flag via LAG → running version id →
    per-version interval agg). ONE shuffle on the natural key feeds
    both windows AND the aggregations (same partitioning reused across
    stages — the co-partitioning pattern that matters at 100 TB); no
    self-join, no driver loop. Reported per customer: version count +
    validity span (the compact certifiable projection of the full SCD2
    table)."""
    # alias BEFORE the first window: a window over o_custkey followed by
    # one over its alias `cust` reads as the same partitioning to a
    # human but NOT to Catalyst — the r12 full-catalog probe caught the
    # resulting second Exchange+Sort pair (5.06x at 5M; one shared spec
    # is 2 window ops over ONE exchange + ONE sort)
    o = load_table(spark, "orders", sf_dir).select(
        F.col("o_custkey").alias("cust"),
        F.col("o_orderdate").alias("d"),
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("status"),
    )
    w = Window.partitionBy("cust").orderBy("d", "k")
    h = o.withColumn("prev_status", F.lag("status").over(w))
    runs = h.withColumn(
        "version",
        F.sum(
            (F.col("prev_status").isNull() | (F.col("prev_status") != F.col("status"))).cast("int")
        ).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    versions = runs.groupBy("cust", "version", "status").agg(
        F.min("d").alias("valid_from"),
        F.max("d").alias("last_seen"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    return versions.groupBy(F.col("cust").alias("c_custkey")).agg(
        F.count(F.lit(1)).alias("n_versions"),
        F.max("version").alias("current_version"),
        F.sum("n_orders").alias("n_orders"),
        F.min("valid_from").alias("first_date"),
        F.max("last_seen").alias("last_date"),
    )


@query(
    "anomaly_zscore_events",
    tier="A5+J1 (per-group z-score outlier screen: stats agg + broadcast join-back)",
    oracle="""
        WITH stats AS (
            SELECT event_type, AVG(value) AS mu, STDDEV_SAMP(value) AS sigma, COUNT(*) AS n
            FROM events GROUP BY event_type
        ), scored AS (
            -- z is a raw quotient: FLOOR-truncate (CLAUDE.md rule), never ROUND
            SELECT e.event_type,
                   FLOOR((e.value - s.mu) / s.sigma * 1000000.0) / 1000000.0 AS z
            FROM events e JOIN stats s ON e.event_type = s.event_type
        )
        SELECT event_type,
               COUNT(*) AS n_events,
               CAST(SUM(CASE WHEN ABS(z) > 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
               ROUND(MAX(z), 6) AS max_z,
               ROUND(MIN(z), 6) AS min_z
        FROM scored GROUP BY event_type
    """,
)
def anomaly_zscore_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality anomaly screen: per-type mean/σ in one
    partial-aggregated pass, then the tiny stats frame BROADCAST back
    onto the stream of events for scoring — the scale shape (a window
    over event_type would shuffle the full fact table into one
    partition per type; the broadcast join-back touches each row in
    place). STDDEV_SAMP on both engines; z floored at 1e-6 to dodge
    quotient-rounding divergence."""
    ev = load_table(spark, "events", sf_dir)
    stats = ev.groupBy("event_type").agg(
        F.avg("value").alias("mu"), F.stddev_samp("value").alias("sigma")
    )
    scored = ev.join(F.broadcast(stats), "event_type").select(
        "event_type",
        (F.floor((F.col("value") - F.col("mu")) / F.col("sigma") * 1000000.0) / 1000000.0).alias("z"),
    )
    return scored.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum((F.abs(F.col("z")) > 3).cast("bigint")).alias("n_outliers"),
        F.round(F.max("z"), 6).alias("max_z"),
        F.round(F.min("z"), 6).alias("min_z"),
    )


@query(
    "gapfill_linear_interpolate",
    tier="W3+W4+F1 (calendar spine + two-sided linear interpolation)",
    oracle="""
        WITH spine AS (
            SELECT CAST(UNNEST(GENERATE_SERIES(DATE '2024-01-01', DATE '2024-01-30', INTERVAL 1 DAY)) AS DATE) AS date
        ), types AS (
            SELECT DISTINCT event_type FROM events
        ), sparse AS (
            SELECT CAST(DATE_TRUNC('day', ts) AS DATE) AS date, event_type,
                   ROUND(AVG(value), 6) AS avg_value
            FROM events WHERE value > 180
            GROUP BY 1, 2
        ), joined AS (
            SELECT s.date, t.event_type, sp.avg_value
            FROM spine s CROSS JOIN types t
            LEFT JOIN sparse sp ON sp.date = s.date AND sp.event_type = t.event_type
        ), bounded AS (
            SELECT date, event_type, avg_value,
                   LAST_VALUE(avg_value IGNORE NULLS) OVER wb AS pv,
                   LAST_VALUE(CASE WHEN avg_value IS NOT NULL THEN date END IGNORE NULLS) OVER wb AS pd,
                   FIRST_VALUE(avg_value IGNORE NULLS) OVER wf AS nv,
                   FIRST_VALUE(CASE WHEN avg_value IS NOT NULL THEN date END IGNORE NULLS) OVER wf AS nd
            FROM joined
            WINDOW wb AS (PARTITION BY event_type ORDER BY date ROWS UNBOUNDED PRECEDING),
                   wf AS (PARTITION BY event_type ORDER BY date
                          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        )
        SELECT date, event_type,
               CASE
                   WHEN avg_value IS NOT NULL THEN avg_value
                   WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
                        -- interpolant is a raw quotient: FLOOR-truncate, never
                        -- ROUND (CLAUDE.md quotient rule)
                        FLOOR((pv + (nv - pv) * (DATEDIFF('day', pd, date) * 1.0
                                                 / DATEDIFF('day', pd, nd))) * 1000000.0) / 1000000.0
               END AS filled_value,
               CASE WHEN avg_value IS NOT NULL THEN 'observed'
                    WHEN pv IS NOT NULL AND nv IS NOT NULL THEN 'interpolated'
                    ELSE 'edge' END AS fill_kind
        FROM bounded
    """,
)
def gapfill_linear_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided linear interpolation over the dense calendar spine: the
    backward window carries the last observation (value + its date), the
    forward window the next one, and gap rows get the straight line
    between them; leading/trailing gaps stay NULL ('edge') rather than
    inventing data. Same single-shuffle shape as gapfill_forward — both
    windows share the (event_type, date) sort, so Spark plans ONE
    exchange + one sort feeding two frames. The interpolant is floored
    at 1e-6 on both engines (raw-quotient rule). At 100 TB the spine
    join stays broadcast (calendar x categories is tiny by construction)
    and the windows scale per category."""
    ev = load_table(spark, "events", sf_dir)
    spine = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("2024-01-01").cast("date"), F.lit("2024-01-30").cast("date"), F.expr("interval 1 day")
            )
        ).alias("date")
    )
    types = ev.select("event_type").distinct()
    sparse = (
        ev.filter(F.col("value") > 180)
        .groupBy(F.col("ts").cast("date").alias("date"), "event_type")
        .agg(F.round(F.avg("value"), 6).alias("avg_value"))
    )
    joined = spine.crossJoin(F.broadcast(types)).join(sparse, ["date", "event_type"], "left")
    wb = Window.partitionBy("event_type").orderBy("date").rowsBetween(Window.unboundedPreceding, 0)
    wf = Window.partitionBy("event_type").orderBy("date").rowsBetween(0, Window.unboundedFollowing)
    obs_date = F.when(F.col("avg_value").isNotNull(), F.col("date"))
    bounded = joined.select(
        "date",
        "event_type",
        "avg_value",
        F.last("avg_value", ignorenulls=True).over(wb).alias("pv"),
        F.last(obs_date, ignorenulls=True).over(wb).alias("pd"),
        F.first("avg_value", ignorenulls=True).over(wf).alias("nv"),
        F.first(obs_date, ignorenulls=True).over(wf).alias("nd"),
    )
    interior = F.col("pv").isNotNull() & F.col("nv").isNotNull()
    interp = (
        F.floor(
            (
                F.col("pv")
                + (F.col("nv") - F.col("pv"))
                * (F.datediff("date", "pd") * F.lit(1.0) / F.datediff("nd", "pd"))
            )
            * 1000000.0
        )
        / 1000000.0
    )
    return bounded.select(
        "date",
        "event_type",
        F.when(F.col("avg_value").isNotNull(), F.col("avg_value"))
        .when(interior, interp)
        .alias("filled_value"),
        F.when(F.col("avg_value").isNotNull(), F.lit("observed"))
        .when(interior, F.lit("interpolated"))
        .otherwise(F.lit("edge"))
        .alias("fill_kind"),
    )


@query(
    "scd2_pointintime_enrich",
    tier="J5+S5 (point-in-time fact enrichment against the SCD2 dimension)",
    oracle="""
        WITH h AS (
            SELECT o_custkey AS cust, o_orderdate AS d, o_orderkey AS k, o_orderstatus AS status,
                   LAG(o_orderstatus) OVER w AS prev_status
            FROM orders
            WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        ), runs AS (
            SELECT cust, d, status,
                   SUM(CASE WHEN prev_status IS NULL OR prev_status != status THEN 1 ELSE 0 END)
                       OVER (PARTITION BY cust ORDER BY d, k ROWS UNBOUNDED PRECEDING) AS version
            FROM h
        ), versions AS (
            SELECT cust, version, status, MIN(d) AS valid_from
            FROM runs GROUP BY cust, version, status
        ), dim AS (
            SELECT cust, version, status, valid_from,
                   LEAD(valid_from) OVER (PARTITION BY cust ORDER BY version) AS valid_to
            FROM versions
        ), fact AS (
            SELECT o.o_custkey AS cust, l.l_shipdate AS ship, l.l_extendedprice AS price
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        )
        SELECT d.status,
               CAST(COUNT(*) AS BIGINT) AS n_lines,
               CAST(COUNT(DISTINCT d.cust) AS BIGINT) AS n_custs,
               ROUND(SUM(f.price), 2) AS revenue
        FROM fact f JOIN dim d
          ON f.cust = d.cust
         AND d.valid_from <= f.ship
         AND (d.valid_to IS NULL OR f.ship < d.valid_to)
        GROUP BY d.status
    """,
)
def scd2_pointintime_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time correctness — the reason SCD2 exists: every fact
    row joins the dimension VERSION that was valid at the fact's event
    time (here: each lineitem gets the customer-status version valid at
    its ship date), never today's row. Dimension intervals come from
    the same run-collapse build as scd2_customer_status with
    valid_to = LEAD(valid_from) (half-open [from, to) — a same-day
    status flip yields an empty interval, deterministically skipped by
    both engines); the temporal join is an equi-join on the natural key
    with the interval residual as a post-join filter, so it plans as a
    co-partitioned SMJ on cust — at 100 TB the dimension is millions of
    rows against billions of facts and this shape shuffles each side
    once on the key it is already clustered by (no broadcast needed,
    no per-row subquery)."""
    o = load_table(spark, "orders", sf_dir)
    w = Window.partitionBy("cust").orderBy("d", "k")
    h = o.select(
        F.col("o_custkey").alias("cust"),
        F.col("o_orderdate").alias("d"),
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("status"),
    ).withColumn("prev_status", F.lag("status").over(
        Window.partitionBy("cust").orderBy("d", "k")
    ))
    runs = h.withColumn(
        "version",
        F.sum(
            (F.col("prev_status").isNull() | (F.col("prev_status") != F.col("status"))).cast("int")
        ).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    versions = runs.groupBy("cust", "version", "status").agg(F.min("d").alias("valid_from"))
    dim = versions.withColumn(
        "valid_to", F.lead("valid_from").over(Window.partitionBy("cust").orderBy("version"))
    )
    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_shipdate", "l_extendedprice")
    fact = li.join(
        o.select(F.col("o_orderkey"), F.col("o_custkey").alias("cust")),
        li.l_orderkey == F.col("o_orderkey"),
    ).select("cust", F.col("l_shipdate").alias("ship"), F.col("l_extendedprice").alias("price"))
    joined = fact.join(
        dim,
        (fact.cust == dim.cust)
        & (dim.valid_from <= fact.ship)
        & (dim.valid_to.isNull() | (fact.ship < dim.valid_to)),
    )
    return joined.groupBy("status").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.countDistinct(dim.cust).alias("n_custs"),
        F.round(F.sum("price"), 2).alias("revenue"),
    )


#: Truncated-EWMA weights: alpha=0.5, 7 taps. Every coefficient and the
#: normalizer (1 - 0.5^7) is an exact binary double, so the weighted sum
#: is the same expression tree over identical doubles in both engines.
_EWMA_ALPHA = 0.5
_EWMA_TAPS = 7
_EWMA_COEF = [_EWMA_ALPHA * (1.0 - _EWMA_ALPHA) ** k for k in range(_EWMA_TAPS)]
_EWMA_NORM = sum(_EWMA_COEF)  # == 1 - 0.5**7 == 0.9921875 exactly


@query(
    "ewma_value_smoothing",
    tier="W2+W3+A1 (truncated exponentially-weighted moving average via lag taps)",
    oracle=f"""
        WITH daily AS (
            SELECT event_type,
                   CAST(DATE_TRUNC('day', ts) AS DATE) AS date,
                   -- FLOOR-truncate the raw avg quotient (CLAUDE.md rule)
                   -- so both engines feed the filter identical doubles
                   FLOOR(SUM(value) / COUNT(value) * 1000000.0) / 1000000.0 AS x
            FROM events
            GROUP BY 1, 2
        ), lagged AS (
            SELECT event_type, date, x,
                   {", ".join(f"LAG(x, {k}) OVER (PARTITION BY event_type ORDER BY date) AS x{k}" for k in range(1, _EWMA_TAPS))},
                   ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY date) AS rn
            FROM daily
        )
        SELECT event_type, date,
               FLOOR(({" + ".join(f"{c!r} * x{k}" if k else f"{c!r} * x" for k, c in enumerate(_EWMA_COEF))})
                     / {_EWMA_NORM!r} * 1000000.0) / 1000000.0 AS ewma
        FROM lagged
        WHERE rn >= {_EWMA_TAPS}
        ORDER BY event_type, date
    """,
)
def ewma_value_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted smoothing is inherently sequential
    (EWMA_t depends on EWMA_{t-1}), which distributes badly; the
    truncated form re-expresses it as a FIXED tap filter — 7 lag
    columns, one window shuffle per series, no recursion — which is the
    form that scales: each series partition computes independently and
    the per-row work is a constant dot product. alpha=0.5 taps are
    exact binary doubles, the tail mass below 0.5^7 is renormalized
    away, and rows before the 7th are dropped (no partial windows).
    Certified term-for-term against DuckDB computing the identical
    expression tree."""
    daily = (
        load_table(spark, "events", sf_dir)
        .groupBy("event_type", F.to_date("ts").alias("date"))
        .agg(
            (
                F.floor(F.sum("value") / F.count("value") * F.lit(1000000.0)) / F.lit(1000000.0)
            ).alias("x")
        )
    )
    w = Window.partitionBy("event_type").orderBy("date")
    taps = daily.select(
        "event_type",
        "date",
        "x",
        *[F.lag("x", k).over(w).alias(f"x{k}") for k in range(1, _EWMA_TAPS)],
        F.row_number().over(w).alias("rn"),
    )
    weighted = sum(
        (F.lit(c) * F.col("x" if k == 0 else f"x{k}") for k, c in enumerate(_EWMA_COEF)),
        start=F.lit(0.0),
    )
    return (
        taps.filter(F.col("rn") >= _EWMA_TAPS)
        .select(
            "event_type",
            "date",
            (F.floor(weighted / F.lit(_EWMA_NORM) * F.lit(1000000.0)) / F.lit(1000000.0)).alias("ewma"),
        )
        .orderBy("event_type", "date")
    )


@query(
    "ivm_join_delta",
    tier="T1+J1 (incremental view maintenance: join delta algebra vs full recompute)",
    oracle="""
        WITH o_all AS (
            SELECT * FROM orders WHERE o_orderdate < DATE '1998-07-01'
        ), l_all AS (
            SELECT * FROM lineitem WHERE l_shipdate < DATE '1998-07-01'
        )
        SELECT o.o_orderpriority AS priority,
               CAST(COUNT(*) AS BIGINT) AS n_lines,
               ROUND(CAST(SUM(l.l_extendedprice * (1 - l.l_discount)) AS DOUBLE), 2) AS revenue
        FROM o_all o JOIN l_all l ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderpriority
    """,
)
def ivm_join_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A 100 TB join view is never recomputed from scratch when a day
    of data lands — it's maintained by the join delta rule
    Δ(O ⋈ L) = (ΔO ⋈ L_old) ∪ (O_old ⋈ ΔL) ∪ (ΔO ⋈ ΔL), where each
    term joins a DELTA-sized side against the base (broadcastable /
    DPP-prunable) instead of base×base. The deltas here arrive on
    DIFFERENT clocks deliberately — new orders by order date, new
    lineitems by ship date, so late-shipping lines of old orders
    populate the cross terms and the algebra is exercised for real
    (delta sides would be empty under a single clock and the test
    vacuous; asserted against). The four-term union, aggregated,
    must equal the oracle's one-shot full join — the correctness
    contract that lets incremental maintenance replace recompute."""
    cutoff, end = "1998-01-01", "1998-07-01"
    o = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    o_old = o.filter(F.col("o_orderdate") < cutoff)
    d_o = o.filter((F.col("o_orderdate") >= cutoff) & (F.col("o_orderdate") < end))
    l_old = li.filter(F.col("l_shipdate") < cutoff)
    d_l = li.filter((F.col("l_shipdate") >= cutoff) & (F.col("l_shipdate") < end))

    def j(os_, ls_):
        return ls_.join(os_, ls_.l_orderkey == os_.o_orderkey)

    parts = [j(o_old, l_old), j(d_o, l_old), j(o_old, d_l), j(d_o, d_l)]
    # the cross terms are the point — a vacuous delta would certify nothing
    assert j(o_old, d_l).limit(1).count() == 1, "O_old x dL cross term is empty"
    unioned = parts[0]
    for p in parts[1:]:
        unioned = unioned.unionByName(p)
    return unioned.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
    )


@query(
    "cdc_apply_log",
    tier="T1+J2+W1 (CDC apply: out-of-order change log -> latest-wins merge with deletes)",
    oracle="""
        WITH log AS (
            -- three updates (seq 1..3) for keys %5==0, a delete (seq 4)
            -- for keys %7==0: overlapping keys get U then D, so only
            -- latest-wins ordering produces the right survivors
            SELECT c_custkey AS k, 1 AS seq, 'U' AS op, c_acctbal + 10 AS bal
            FROM customer WHERE c_custkey % 5 = 0
            UNION ALL
            SELECT c_custkey, 2, 'U', c_acctbal + 20 FROM customer WHERE c_custkey % 5 = 0
            UNION ALL
            SELECT c_custkey, 3, 'U', c_acctbal + 30 FROM customer WHERE c_custkey % 5 = 0
            UNION ALL
            SELECT c_custkey, 4, 'D', NULL FROM customer WHERE c_custkey % 7 = 0
        ), latest AS (
            SELECT k, op, bal
            FROM (SELECT k, op, bal,
                         ROW_NUMBER() OVER (PARTITION BY k ORDER BY seq DESC) AS rn
                  FROM log)
            WHERE rn = 1
        ), applied AS (
            SELECT c.c_custkey, c.c_mktsegment,
                   COALESCE(l.bal, c.c_acctbal) AS bal,
                   CASE WHEN l.op = 'D' THEN 1 ELSE 0 END AS deleted
            FROM customer c LEFT JOIN latest l ON l.k = c.c_custkey
        )
        SELECT c_mktsegment AS segment,
               CAST(COUNT(*) AS BIGINT)       AS n_customers,
               ROUND(CAST(SUM(bal) AS DOUBLE), 2) AS total_bal
        FROM applied WHERE deleted = 0
        GROUP BY c_mktsegment
    """,
)
def cdc_apply_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Applying a change-data-capture log is merge_upsert_orders'
    harder sibling: the log carries MULTIPLE changes per key plus
    deletes, and arrival order is not application order — correctness
    hinges on latest-wins per key (one window by sequence number)
    BEFORE the merge, then a left join where 'D' drops the row and 'U'
    overrides the column. Collapsing the log first is also the scale
    move: the merge join carries one row per changed key, not one per
    change — at 100 TB the log collapse is a delta-sized shuffle and
    the base table is touched once. Keys %35==0 receive updates AND a
    later delete, so a wrong order (or an unstable dedup instead of
    the seq window) changes the survivor set and fails the hash."""
    c = load_table(spark, "customer", sf_dir)
    k5 = c.filter(F.col("c_custkey") % 5 == 0)
    log = None
    for seq, delta in ((1, 10), (2, 20), (3, 30)):
        part = k5.select(
            F.col("c_custkey").alias("k"),
            F.lit(seq).alias("seq"),
            F.lit("U").alias("op"),
            (F.col("c_acctbal") + delta).alias("bal"),
        )
        log = part if log is None else log.unionByName(part)
    log = log.unionByName(
        c.filter(F.col("c_custkey") % 7 == 0).select(
            F.col("c_custkey").alias("k"),
            F.lit(4).alias("seq"),
            F.lit("D").alias("op"),
            F.lit(None).cast("double").alias("bal"),
        )
    )
    w = Window.partitionBy("k").orderBy(F.col("seq").desc())
    latest = (
        log.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1).drop("rn", "seq")
    )
    applied = c.join(latest, c.c_custkey == latest.k, "left").filter(
        ~F.coalesce(F.col("op") == "D", F.lit(False))
    )
    return applied.select(
        F.col("c_mktsegment").alias("segment"),
        F.coalesce("bal", "c_acctbal").alias("b"),
    ).groupBy("segment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(F.sum("b"), 2).alias("total_bal"),
    )


@query(
    "time_weighted_average_daily",
    tier="EXT time-series (TWAP: duration-weighted daily mean over an irregular series)",
    oracle="""
        WITH seg AS (
            SELECT event_type, CAST(ts AS DATE) AS d, value,
                   LEAD(epoch_us(ts)) OVER (PARTITION BY event_type, CAST(ts AS DATE)
                                            ORDER BY epoch_us(ts), event_id)
                   - epoch_us(ts) AS w_us
            FROM events
        )
        SELECT event_type, d,
               CAST(COUNT(*) AS BIGINT) AS n_segments,
               ROUND(SUM(value * w_us) / SUM(w_us), 4) AS twap
        FROM seg
        WHERE w_us IS NOT NULL AND w_us > 0
        GROUP BY event_type, d
        ORDER BY event_type, d
    """,
)
def time_weighted_average_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWAP — the correct daily mean for an IRREGULAR series (the naive
    AVG over-weights bursts; energy/finance reporting is duration-
    weighted by definition). Each observation holds until the next one
    of the same type WITHIN ITS DAY: weight = µs until the intra-day
    successor (lead over the (type, day) window), each day's final
    segment (unknown tail duration) and zero-duration segments
    (simultaneous µs) dropped on both engines — standard intra-day
    TWAP semantics.

    Cross-engine: weights are EXACT integer µs (lead of epoch_us longs;
    Spark goes ntz→timestamp→unix_micros, the same UTC-session cast the
    certified behavior tier uses), per-term value*w products are IEEE
    multiplies of identical doubles, and the quotient is cut at
    ROUND(4). Scale: ONE shuffle to (type, day)-partitioned windows —
    parallelism grows with the calendar, never capped at |types| (a
    type-only window measured 4.8× at 5× events: five sort tasks, no
    headroom; this shape measured 2.7× — BASELINE.md "Round-8 event-tier
    scale probe") — then the rollup reuses the same keys, so Spark
    elides the second exchange."""
    ev = load_table(spark, "events", sf_dir).select(
        "event_type",
        "event_id",
        F.to_date("ts").alias("d"),
        "value",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    w = Window.partitionBy("event_type", "d").orderBy("us", "event_id")
    seg = ev.select(
        "event_type", "d", "value", (F.lead("us").over(w) - F.col("us")).alias("w_us")
    ).filter(F.col("w_us").isNotNull() & (F.col("w_us") > 0))
    return (
        seg.groupBy("event_type", "d")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_segments"),
            F.round(F.sum(F.col("value") * F.col("w_us")) / F.sum("w_us"), 4).alias("twap"),
        )
        .orderBy("event_type", "d")
    )


@query(
    "ohlc_hourly_resample",
    tier="EXT time-series (OHLC downsample: open/high/low/close/volume per hour)",
    oracle="""
        WITH ranked AS (
            SELECT event_type, DATE_TRUNC('hour', ts) AS h, value,
                   ROW_NUMBER() OVER (PARTITION BY event_type, DATE_TRUNC('hour', ts)
                                      ORDER BY ts, event_id) AS rf,
                   ROW_NUMBER() OVER (PARTITION BY event_type, DATE_TRUNC('hour', ts)
                                      ORDER BY ts DESC, event_id DESC) AS rl
            FROM events
        )
        SELECT event_type, h,
               MAX(CASE WHEN rf = 1 THEN value END) AS open,
               MAX(value) AS high,
               MIN(value) AS low,
               MAX(CASE WHEN rl = 1 THEN value END) AS close,
               CAST(COUNT(*) AS BIGINT) AS volume
        FROM ranked
        GROUP BY event_type, h
        ORDER BY event_type, h
    """,
)
def ohlc_hourly_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC resampling — the canonical irregular→regular downsample
    (ticks→candles, meter reads→hourly): first/last by event time plus
    extremes and volume per (type, hour). First/last are rank-1 rows
    under the (ts, event_id) total order within the bucket — fully
    tie-broken, so both engines pick the same row even at equal
    timestamps; open/high/low/close are RAW input doubles (bit-exact,
    no rounding needed anywhere).

    Scale: one shuffle partitioned by (type, hour) feeds both window
    ranks AND the final aggregation (same keys — Spark reuses the
    exchange); output is |types|×|hours|, dimension-bounded. The
    two-sided rank trick beats a sort-within-group collect because the
    window is WholeStageCodegen and never materializes the group."""
    ev = load_table(spark, "events", sf_dir).select(
        "event_type", F.date_trunc("hour", "ts").alias("h"), "value", "ts", "event_id"
    )
    wf = Window.partitionBy("event_type", "h").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    wl = Window.partitionBy("event_type", "h").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    ranked = ev.select(
        "event_type",
        "h",
        "value",
        F.row_number().over(wf).alias("rf"),
        F.row_number().over(wl).alias("rl"),
    )
    return (
        ranked.groupBy("event_type", "h")
        .agg(
            F.max(F.when(F.col("rf") == 1, F.col("value"))).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max(F.when(F.col("rl") == 1, F.col("value"))).alias("close"),
            F.count(F.lit(1)).cast("long").alias("volume"),
        )
        .orderBy("event_type", "h")
    )


@query(
    "seasonal_adjusted_anomaly",
    tier="EXT time-series (day-of-week-adjusted z-score outliers, top-3 per type)",
    oracle="""
        WITH daily AS (
            SELECT event_type, CAST(ts AS DATE) AS d, ROUND(SUM(value), 2) AS v
            FROM events GROUP BY 1, 2
        ),
        adj AS (
            SELECT event_type, d, v,
                   v - AVG(v) OVER (PARTITION BY event_type, DATE_PART('dow', d)) AS resid
            FROM daily
        ),
        scored AS (
            SELECT event_type, d, v,
                   (resid - AVG(resid) OVER (PARTITION BY event_type))
                   / STDDEV_SAMP(resid) OVER (PARTITION BY event_type) AS z
            FROM adj
        )
        SELECT event_type, d, v, ROUND(z, 4) AS z
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                                           ORDER BY ABS(z) DESC, d ASC) AS r
              FROM scored)
        WHERE r <= 3
        ORDER BY event_type, d
    """,
)
def seasonal_adjusted_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-aware outlier detection — the step after
    anomaly_zscore_events once weekly cadence exists: subtract each
    (type, day-of-week) mean from the daily series FIRST, then z-score
    the residuals per type and keep the top-3 |z| days. A Monday spike
    that is just "Mondays are big" no longer alarms; a Monday that is
    big FOR A MONDAY does.

    Cross-engine traps handled: Spark ``dayofweek`` is 1=Sunday while
    DuckDB ``DATE_PART('dow')`` is 0=Sunday — grouping uses
    ``dayofweek(d) - 1`` so both engines bucket identically (the
    grouped VALUE is never emitted, only used as a partition key);
    daily sums ROUND(2) first, z ROUND(4) at the end; |z| argmax
    margins are O(1) against last-ulp noise. Scale: one (type, day)
    partial rollup, then three windows over the tiny daily frame —
    the fact table is read once."""
    daily = (
        load_table(spark, "events", sf_dir)
        .groupBy("event_type", F.to_date("ts").alias("d"))
        .agg(F.round(F.sum("value"), 2).alias("v"))
    )
    wdow = Window.partitionBy("event_type", F.dayofweek("d") - 1)
    adj = daily.select(
        "event_type", "d", "v", (F.col("v") - F.avg("v").over(wdow)).alias("resid")
    )
    wt = Window.partitionBy("event_type")
    scored = adj.select(
        "event_type",
        "d",
        "v",
        (
            (F.col("resid") - F.avg("resid").over(wt)) / F.stddev_samp("resid").over(wt)
        ).alias("z"),
    )
    wr = Window.partitionBy("event_type").orderBy(F.abs(F.col("z")).desc(), F.col("d").asc())
    return (
        scored.select("*", F.row_number().over(wr).alias("r"))
        .filter(F.col("r") <= 3)
        .select("event_type", "d", "v", F.round("z", 4).alias("z"))
        .orderBy("event_type", "d")
    )


#: interval_coalesce_users: each event opens a 30-minute presence
#: window; coalescing merges overlap AND touch (half-open [s, e)).
PRESENCE_US = 30 * 60 * 1_000_000


@query(
    "interval_coalesce_users",
    tier="EXT timeseries (interval coalescing / gaps-and-islands by running-max watermark)",
    oracle=f"""
        WITH iv AS (
            SELECT user_id, event_id,
                   epoch_us(ts) AS s,
                   epoch_us(ts) + {PRESENCE_US} AS e
            FROM events
        ),
        marked AS (
            SELECT user_id, s, e,
                   CASE WHEN MAX(e) OVER (PARTITION BY user_id ORDER BY s, event_id
                                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                             IS NULL
                          OR s > MAX(e) OVER (PARTITION BY user_id ORDER BY s, event_id
                                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                        THEN 1 ELSE 0 END AS new_island
            FROM iv
        ),
        islands AS (
            SELECT user_id, s, e,
                   SUM(new_island) OVER (PARTITION BY user_id ORDER BY s, e
                                         ROWS UNBOUNDED PRECEDING) AS island
            FROM marked
        ),
        merged AS (
            SELECT user_id, island, MIN(s) AS st, MAX(e) AS en
            FROM islands GROUP BY user_id, island
        )
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_islands,
               CAST(SUM(en - st) AS BIGINT) AS coverage_us,
               CAST(MAX(en - st) AS BIGINT) AS max_island_us
        FROM merged GROUP BY user_id ORDER BY user_id
    """,
)
def interval_coalesce_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval coalescing (merge overlapping/touching spans) — the
    gaps-and-islands classic behind uptime accounting, presence
    sessions, and calendar free/busy merges: each event opens a
    30-minute half-open window; per user the merged islands' count,
    total coverage, and longest island are emitted. The island
    boundary is the running-max WATERMARK trick: a new island starts
    exactly when this interval's start passes the max end seen so far
    (shifted one row back), so no self-join and no iteration — two
    window passes in ONE partition order. All arithmetic is exact
    integer µs (epoch_us == unix_micros after the ntz cast, the r08
    certified idiom), ties broken by event_id on both engines.

    The island-id sum window orders by (s, e): once new_island is
    computed, island assignment is prefix-invariant under reordering
    of equal (s, e) rows, so both engines number islands identically
    without needing event_id in the second sort.

    Scale (100 TB): partitioned by user — millions of concurrent
    window partitions, no global sort; the two window functions share
    one shuffle+sort (same partition/order key), and the rollups
    partial-aggregate. The same plan shape serves ANY interval table
    (maintenance windows, ad sessions, sensor outages)."""
    iv = load_table(spark, "events", sf_dir).select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("s"),
        (F.unix_micros(F.col("ts").cast("timestamp")) + PRESENCE_US).alias("e"),
    )
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = iv.select(
        "user_id",
        "s",
        "e",
        F.when(
            F.max("e").over(w_prev).isNull() | (F.col("s") > F.max("e").over(w_prev)), 1
        )
        .otherwise(0)
        .alias("new_island"),
    )
    w_isl = (
        Window.partitionBy("user_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    islands = marked.select(
        "user_id", "s", "e", F.sum("new_island").over(w_isl).alias("island")
    )
    merged = islands.groupBy("user_id", "island").agg(
        F.min("s").alias("st"), F.max("e").alias("en")
    )
    return (
        merged.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_islands"),
            F.sum(F.col("en") - F.col("st")).cast("long").alias("coverage_us"),
            F.max(F.col("en") - F.col("st")).cast("long").alias("max_island_us"),
        )
        .orderBy("user_id")
    )


@query(
    "rolling_correlation_daily",
    tier="EXT timeseries (rolling Pearson correlation from integer window sums, closed form)",
    oracle="""
        WITH daily AS (
            SELECT epoch_us(ts) // 86400000000 AS d,
                   CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS x,
                   CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS y
            FROM events GROUP BY 1
        ),
        rolled AS (
            SELECT d, x, y,
                   CAST(COUNT(*) OVER w AS BIGINT) AS n,
                   CAST(SUM(x) OVER w AS BIGINT) AS sx,
                   CAST(SUM(y) OVER w AS BIGINT) AS sy,
                   CAST(SUM(x * y) OVER w AS BIGINT) AS sxy,
                   CAST(SUM(x * x) OVER w AS BIGINT) AS sxx,
                   CAST(SUM(y * y) OVER w AS BIGINT) AS syy
            FROM daily
            WINDOW w AS (ORDER BY d RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
        )
        SELECT d AS day_epoch, x AS views, y AS clicks,
               CAST(n * sxy - sx * sy AS BIGINT) AS cov_num,
               FLOOR(CAST(n * sxy - sx * sy AS DOUBLE) * 1000000
                     / NULLIF(SQRT(CAST(n * sxx - sx * sx AS DOUBLE))
                              * SQRT(CAST(n * syy - sy * sy AS DOUBLE)), 0)) / 1000000.0
                   AS corr_f6
        FROM rolled
        WHERE n = 7
        ORDER BY day_epoch
    """,
)
def rolling_correlation_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day Pearson correlation between two event streams'
    daily volumes (view vs click) — the co-movement monitor quant/ops
    dashboards track — computed in CLOSED FORM from integer window
    sums: n, Σx, Σy, Σxy, Σx², Σy² are exact BIGINTs (headroom to
    ~1.1e9 events/day/type before Σx² nears int64), the covariance
    numerator n·Σxy − Σx·Σy is emitted as an exact BIGINT witness, and
    only the final quotient touches floats — one mirrored expression
    tree (IEEE ÷/√ correctly rounded, r08 z-statistic precedent) under
    FLOOR-6dp. Degenerate windows (zero variance) yield NULL via the
    shared NULLIF guard. Only full 7-day windows emit.

    Scale (100 TB): the corpus collapses to day grain in one
    partial-aggregated pass; the six window sums share ONE sort of the
    time-bounded daily frame (calendar-sized, not data-sized — the
    slo_burn_rate_alert argument); everything downstream is
    arithmetic on that tiny frame."""
    ev = load_table(spark, "events", sf_dir)
    daily = (
        ev.select(
            F.expr("unix_micros(cast(ts as timestamp)) div 86400000000").alias("d"),
            F.when(F.col("event_type") == "view", 1).otherwise(0).alias("is_x"),
            F.when(F.col("event_type") == "click", 1).otherwise(0).alias("is_y"),
        )
        .groupBy("d")
        .agg(
            F.sum("is_x").cast("long").alias("x"),
            F.sum("is_y").cast("long").alias("y"),
        )
    )
    w = Window.orderBy("d").rangeBetween(-6, 0)
    rolled = daily.select(
        "d",
        "x",
        "y",
        F.count(F.lit(1)).over(w).cast("long").alias("n"),
        F.sum("x").over(w).cast("long").alias("sx"),
        F.sum("y").over(w).cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).over(w).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).over(w).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).over(w).cast("long").alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("long")
    den = F.sqrt((F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")) * F.sqrt(
        (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    )
    return (
        rolled.filter(F.col("n") == 7)
        .select(
            F.col("d").alias("day_epoch"),
            F.col("x").alias("views"),
            F.col("y").alias("clicks"),
            num.alias("cov_num"),
            (F.floor(num.cast("double") * 1000000 / F.nullif(den, F.lit(0.0))) / 1000000.0).alias(
                "corr_f6"
            ),
        )
        .orderBy("day_epoch")
    )
