"""Relational core (SURVEY.md §2.2 P1-P6, §2.3 A1-A8, §2.6 sorts/top-k,
§2.7 set ops). Each query certifies one operator family with a DuckDB
oracle twin.

Scale notes: every query here is a single declarative plan — filters and
projections reach the parquet scan (Catalyst pushdown, verified in
tests/test_plans.py), aggregations get map-side partial combine before
the shuffle, and top-k plans as TakeOrderedAndProject (no total sort).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..sources.tables import load_table
from .catalog import query


@query(
    "pricing_summary",
    tier="A1+A5+P3 (TPC-H Q1 shape)",
    oracle="""
        SELECT l_returnflag,
               l_linestatus,
               ROUND(SUM(l_quantity), 2)                                        AS sum_qty,
               ROUND(SUM(l_extendedprice), 2)                                   AS sum_base_price,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)                AS sum_disc_price,
               ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)  AS sum_charge,
               ROUND(AVG(l_quantity), 6)                                        AS avg_qty,
               ROUND(AVG(l_extendedprice), 6)                                   AS avg_price,
               ROUND(AVG(l_discount), 6)                                        AS avg_disc,
               COUNT(*)                                                         AS count_order
        FROM lineitem
        WHERE CAST(l_shipdate AS DATE) <= DATE '2000-12-01'
        GROUP BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical scan→filter→agg pipeline (reference transform shape
    generalized to TPC-H Q1): partial+final hash aggregate, pushed filter."""
    li = load_table(spark, "lineitem", sf_dir)
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.to_date("l_shipdate") <= F.lit("2000-12-01").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "filter_projection",
    tier="P1+P2+P3+P4+P6 (projection & predicate surface)",
    oracle="""
        SELECT o_orderkey,
               o_totalprice,
               o_orderpriority
        FROM orders
        WHERE o_orderstatus = 'F'
          AND o_totalprice BETWEEN 100000 AND 150000
          AND o_orderpriority LIKE '1%'
          AND CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
    """,
)
def filter_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column pruning + conjunctive predicates (=, BETWEEN, LIKE, date >=)
    — all pushed to the parquet scan (reference P3/P4 generalized)."""
    orders = load_table(spark, "orders", sf_dir)
    return orders.filter(
        (F.col("o_orderstatus") == "F")
        & F.col("o_totalprice").between(100000, 150000)
        & F.col("o_orderpriority").like("1%")
        & (F.to_date("o_orderdate") >= F.lit("1996-01-01").cast("date"))
    ).select("o_orderkey", "o_totalprice", "o_orderpriority")


@query(
    "predicate_membership",
    tier="P4+P6 (isin / IN, boolean combinators, negation)",
    oracle="""
        SELECT l_returnflag,
               COUNT(*) AS n,
               ROUND(SUM(l_extendedprice), 2) AS revenue
        FROM lineitem
        WHERE CAST(l_quantity AS INT) IN (1, 2, 3, 5, 8, 13, 21, 34)
          AND (l_linestatus = 'F' OR l_returnflag <> 'N')
          AND NOT (l_discount > 0.08)
        GROUP BY l_returnflag
    """,
)
def predicate_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    return (
        li.filter(
            F.col("l_quantity").cast("int").isin(1, 2, 3, 5, 8, 13, 21, 34)
            & ((F.col("l_linestatus") == "F") | (F.col("l_returnflag") != "N"))
            & ~(F.col("l_discount") > 0.08)
        )
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("l_extendedprice"), 2).alias("revenue"))
    )


@query(
    "agg_surface",
    tier="A5+A8 (sum/min/max/avg/stddev/var/count/count-distinct)",
    oracle="""
        SELECT l_returnflag,
               ROUND(SUM(l_extendedprice), 2)      AS sum_price,
               ROUND(MIN(l_extendedprice), 2)      AS min_price,
               ROUND(MAX(l_extendedprice), 2)      AS max_price,
               ROUND(AVG(l_extendedprice), 6)      AS avg_price,
               ROUND(STDDEV_SAMP(l_extendedprice), 4) AS std_price,
               ROUND(VAR_SAMP(l_discount), 6)      AS var_disc,
               COUNT(*)                            AS n_rows,
               COUNT(DISTINCT l_suppkey)           AS n_suppliers,
               COUNT(DISTINCT l_partkey)           AS n_parts
        FROM lineitem
        GROUP BY l_returnflag
    """,
)
def agg_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full aggregate surface over one grouping (SURVEY A5); two
    count-distincts in one agg → Spark plans expand + partial aggs."""
    li = load_table(spark, "lineitem", sf_dir)
    return li.groupBy("l_returnflag").agg(
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        F.round(F.min("l_extendedprice"), 2).alias("min_price"),
        F.round(F.max("l_extendedprice"), 2).alias("max_price"),
        F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
        F.round(F.stddev_samp("l_extendedprice"), 4).alias("std_price"),
        F.round(F.var_samp("l_discount"), 6).alias("var_disc"),
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("l_suppkey").alias("n_suppliers"),
        F.countDistinct("l_partkey").alias("n_parts"),
    )


@query(
    "approx_count_distinct",
    tier="A6 (HLL sketch; exact count + tolerance verdict, oracle-certified)",
    oracle="""
        SELECT l_returnflag,
               COUNT(DISTINCT l_partkey) AS exact_parts,
               ABS(APPROX_COUNT_DISTINCT(l_partkey) - COUNT(DISTINCT l_partkey))
                   <= 0.05 * COUNT(DISTINCT l_partkey) AS within_tol
        FROM lineitem
        GROUP BY l_returnflag
    """,
)
def approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cardinality sketch for 100 TB-scale distinct counts: one pass, no
    shuffle of distinct keys (HyperLogLog++, mergeable partial sketches).

    Each engine runs its OWN HLL (Spark HLL++ rsd=0.01, DuckDB HLL) —
    raw sketch outputs are engine-specific, so the comparable surface is
    the exact distinct count plus a 5%-relative tolerance verdict that
    must be true on both sides (the approx_percentile_sketch recipe,
    robustness.py). A sketch drifting out of band fails the hash compare.

    NEVER put the HLL and the countDistinct in ONE agg: Spark's
    distinct-rewrite then evaluates the HLL per (group, key) Expand
    group — one 16 KB rsd=0.01 sketch buffer PER DISTINCT KEY (measured
    r12: 31.1 s at 5M rows vs 1.46 + 0.73 s run separately). The manual
    two-phase below — pre-aggregate to distinct (flag, partkey) pairs,
    then count + HLL over the distinct frame — is 1.55 s at 5M, and the
    HLL value is IDENTICAL by construction (an insert-only sketch is
    invariant under duplicate inserts).
    """
    li = load_table(spark, "lineitem", sf_dir)
    pairs = li.groupBy("l_returnflag", "l_partkey").agg(F.count(F.lit(1)).alias("_m"))
    agg = pairs.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", 0.01).alias("approx_parts"),
        F.count(F.lit(1)).alias("exact_parts"),
    )
    return agg.select(
        "l_returnflag",
        "exact_parts",
        (F.abs(F.col("approx_parts") - F.col("exact_parts")) <= 0.05 * F.col("exact_parts")).alias(
            "within_tol"
        ),
    )


@query(
    "distinct_values",
    tier="A8 (distinct)",
    oracle="SELECT DISTINCT c_mktsegment, c_nationkey FROM customer WHERE c_nationkey < 10",
)
def distinct_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, "customer", sf_dir)
    return cust.filter(F.col("c_nationkey") < 10).select("c_mktsegment", "c_nationkey").distinct()


@query(
    "dropdup_subset",
    tier="A8 (dropDuplicates on key subset)",
    oracle="SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders",
)
def dropdup_subset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicates(subset) keeps an arbitrary survivor, so only the key
    columns are returned (deterministic cross-engine)."""
    orders = load_table(spark, "orders", sf_dir)
    return orders.dropDuplicates(["o_orderstatus", "o_orderpriority"]).select("o_orderstatus", "o_orderpriority")


@query(
    "topk_orders",
    tier="§2.6 top-k (TakeOrderedAndProject — no total sort)",
    oracle="""
        SELECT o_orderkey, o_custkey, ROUND(o_totalprice, 2) AS o_totalprice
        FROM orders
        ORDER BY o_totalprice DESC, o_orderkey ASC
        LIMIT 10
    """,
)
def topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orderBy+limit: Spark plans TakeOrderedAndProject — per-partition
    heaps, no global sort/shuffle; the tiebreak key makes it deterministic."""
    orders = load_table(spark, "orders", sf_dir)
    return (
        orders.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(10)
        .select("o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("o_totalprice"))
    )


@query(
    "sort_multi_key",
    tier="§2.6 total sort (range partitioning)",
    oracle="""
        SELECT c_custkey, c_nationkey, ROUND(c_acctbal, 2) AS c_acctbal
        FROM customer
        WHERE c_mktsegment = 'BUILDING'
        ORDER BY c_nationkey ASC, c_acctbal DESC, c_custkey
        LIMIT 200
    """,
)
def sort_multi_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, "customer", sf_dir)
    return (
        cust.filter(F.col("c_mktsegment") == "BUILDING")
        .orderBy(F.col("c_nationkey").asc(), F.col("c_acctbal").desc(), F.col("c_custkey"))
        .limit(200)
        .select("c_custkey", "c_nationkey", F.round("c_acctbal", 2).alias("c_acctbal"))
    )


@query(
    "set_operations",
    tier="§2.7 union / intersect / except",
    oracle="""
        SELECT 'both' AS src, n FROM
            (SELECT DISTINCT c_nationkey AS n FROM customer
             INTERSECT
             SELECT DISTINCT s_nationkey FROM supplier) t1
        UNION ALL
        SELECT 'customer_only' AS src, n FROM
            (SELECT DISTINCT c_nationkey AS n FROM customer
             EXCEPT
             SELECT DISTINCT s_nationkey FROM supplier) t2
    """,
)
def set_operations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """intersect / subtract(except) / unionByName — set semantics match
    ANSI INTERSECT/EXCEPT (distinct)."""
    cust_n = load_table(spark, "customer", sf_dir).select(F.col("c_nationkey").alias("n"))
    supp_n = load_table(spark, "supplier", sf_dir).select(F.col("s_nationkey").alias("n"))
    both = cust_n.intersect(supp_n).withColumn("src", F.lit("both"))
    only = cust_n.subtract(supp_n).withColumn("src", F.lit("customer_only"))
    return both.unionByName(only).select("src", "n")


@query(
    "rollup_events",
    tier="A7 (rollup / grouping sets)",
    oracle="""
        SELECT event_type,
               CAST(FLOOR((DAY(CAST(ts AS DATE)) - 1) / 7) AS INT) AS wk,
               ROUND(AVG(value), 6) AS avg_value,
               COUNT(*) AS n
        FROM events
        GROUP BY ROLLUP(event_type, CAST(FLOOR((DAY(CAST(ts AS DATE)) - 1) / 7) AS INT))
    """,
)
def rollup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-level totals (per type+week, per type, grand total) — the
    dashboard drill-down (SURVEY A7) in one pass: Spark plans an Expand."""
    ev = load_table(spark, "events", sf_dir)
    wk = F.floor((F.dayofmonth(F.to_date("ts")) - 1) / 7).cast("int").alias("wk")
    return (
        ev.select("event_type", wk, "value")
        .rollup("event_type", "wk")
        .agg(F.round(F.avg("value"), 6).alias("avg_value"), F.count(F.lit(1)).alias("n"))
    )


@query(
    "grouping_sets_events",
    tier="A7 (explicit GROUPING SETS + grouping flags)",
    oracle="""
        SELECT event_type,
               CAST(ts AS DATE) AS date,
               CAST(GROUPING(event_type) AS INT) AS g_type,
               CAST(GROUPING(CAST(ts AS DATE)) AS INT) AS g_date,
               ROUND(AVG(value), 6) AS avg_value,
               COUNT(*) AS n
        FROM events
        GROUP BY GROUPING SETS ((event_type), (CAST(ts AS DATE)), ())
    """,
)
def grouping_sets_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — the non-hierarchical sibling of rollup
    (per-type totals, per-date totals, grand total; NOT the cross
    product). One Expand + one aggregate exchange; GROUPING() flags
    disambiguate real NULLs from subtotal rows on both engines."""
    load_table(spark, "events", sf_dir).createOrReplaceTempView("events_gs")
    return spark.sql(
        """
        SELECT event_type,
               CAST(ts AS DATE) AS date,
               CAST(GROUPING(event_type) AS INT) AS g_type,
               CAST(GROUPING(CAST(ts AS DATE)) AS INT) AS g_date,
               ROUND(AVG(value), 6) AS avg_value,
               COUNT(*) AS n
        FROM events_gs
        GROUP BY GROUPING SETS ((event_type), (CAST(ts AS DATE)), ())
        """
    )


@query(
    "cube_lineitem",
    tier="A7 (cube)",
    oracle="""
        SELECT l_returnflag, l_linestatus,
               ROUND(SUM(l_quantity), 2) AS sum_qty,
               COUNT(*) AS n
        FROM lineitem
        GROUP BY CUBE(l_returnflag, l_linestatus)
    """,
)
def cube_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"), F.count(F.lit(1)).alias("n")
    )


@query(
    "conditional_buckets",
    tier="F8 (when/otherwise, coalesce, nullif)",
    oracle="""
        SELECT CASE WHEN c_acctbal < 0 THEN 'negative'
                    WHEN c_acctbal < 5000 THEN 'low'
                    ELSE 'high' END AS bucket,
               COALESCE(NULLIF(c_mktsegment, 'BUILDING'), '(other)') AS segment,
               COUNT(*) AS n,
               ROUND(AVG(c_acctbal), 6) AS avg_bal
        FROM customer
        GROUP BY 1, 2
    """,
)
def conditional_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, "customer", sf_dir)
    bucket = (
        F.when(F.col("c_acctbal") < 0, "negative").when(F.col("c_acctbal") < 5000, "low").otherwise("high")
    ).alias("bucket")
    segment = F.coalesce(F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")), F.lit("(other)")).alias("segment")
    return (
        cust.select(bucket, segment, "c_acctbal")
        .groupBy("bucket", "segment")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.avg("c_acctbal"), 6).alias("avg_bal"))
    )


@query(
    "watermark_incremental",
    tier="A2+T1 (high-watermark incremental read — the reference's signature pattern)",
    oracle="""
        SELECT CAST(MAX(CAST(ts AS DATE)) AS DATE) AS watermark,
               COUNT(*) AS total_rows,
               CAST(SUM(CASE WHEN CAST(ts AS DATE) > (SELECT MAX(CAST(ts AS DATE)) - 7 FROM events)
                             THEN 1 ELSE 0 END) AS BIGINT) AS rows_since_watermark
        FROM events
    """,
)
def watermark_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's MAX(date) watermark + incremental window
    (energy_etl.py:22-48) as one plan with a scalar subquery; on a
    date-partitioned table the CASE filter becomes partition pruning."""
    ev = load_table(spark, "events", sf_dir)
    ev.createOrReplaceTempView("events_wm")
    return spark.sql(
        """
        SELECT CAST(MAX(CAST(ts AS DATE)) AS DATE) AS watermark,
               COUNT(*) AS total_rows,
               SUM(CASE WHEN CAST(ts AS DATE) > (SELECT date_sub(MAX(CAST(ts AS DATE)), 7) FROM events_wm)
                        THEN 1 ELSE 0 END) AS rows_since_watermark
        FROM events_wm
        """
    )


@query(
    "hll_merge_weekly_users",
    tier="A6 (Datasketches HLL MERGE: daily sketches -> weekly rollup, tolerance verdict)",
    oracle="""
        SELECT CAST(DATE_TRUNC('week', ts) AS DATE) AS week,
               COUNT(DISTINCT user_id) AS exact_users,
               TRUE AS within_tol
        FROM events
        GROUP BY 1
    """,
)
def hll_merge_weekly_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sketch-REAGGREGATION pattern that makes distinct counts cheap
    at 100 TB: per-day Datasketches HLL sketches (hll_sketch_agg — what a
    daily rollup table would persist as a binary column), then weekly
    uniques via hll_union_agg over the stored sketches WITHOUT rescanning
    the fact table. approx_count_distinct certifies the one-shot sketch;
    this certifies mergeability — the property that lets a 365-row
    sketch table answer any date-range distinct query. Sketch bytes are
    engine-specific, so the certified surface is the exact count plus a
    2%-tolerance verdict (Datasketches lgK=12 ≈ 0.8% rsd): the oracle
    pins TRUE, so a union drifting out of band fails the hash compare."""
    ev = load_table(spark, "events", sf_dir)
    daily = ev.groupBy(
        F.date_trunc("week", "ts").cast("date").alias("week"),
        F.col("ts").cast("date").alias("day"),
    ).agg(F.hll_sketch_agg("user_id").alias("sketch"))
    weekly_est = daily.groupBy("week").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("est_users")
    )
    weekly_exact = ev.groupBy(F.date_trunc("week", "ts").cast("date").alias("week")).agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    return weekly_exact.join(F.broadcast(weekly_est), "week").select(
        "week",
        "exact_users",
        (F.abs(F.col("est_users") - F.col("exact_users")) <= 0.02 * F.col("exact_users")).alias(
            "within_tol"
        ),
    )


@query(
    "bitmap_distinct_users",
    tier="A6/A8-ext (bitmap index aggregation: exact mergeable distinct over dense int keys)",
    oracle="""
        SELECT event_type,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
               CAST(COUNT(*) AS BIGINT)                AS n_events
        FROM events
        GROUP BY event_type
    """,
)
def bitmap_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The third point on the distinct-count design space, between
    exact shuffle-the-keys COUNT(DISTINCT) and approximate HLL: for a
    DENSE integer key domain (user ids, surrogate keys), a fixed 4 KB
    bitmap per 32768-id bucket is an EXACT distinct that merges like a
    sum — partial aggregation ORs bitmaps map-side, the shuffle
    carries one bitmap per (group, bucket) instead of one row per
    distinct key, and re-aggregation across time slices is lossless
    (the roaring-bitmap warehouse pattern). Two-level plan:
    bucket-group bitmap_construct_agg, then bitmap_count summed per
    group. Certified equal — not merely within tolerance — to the
    oracle's COUNT(DISTINCT); the exact row count rides along from the
    same pass."""
    ev = load_table(spark, "events", sf_dir)
    buckets = ev.groupBy(
        "event_type", F.bitmap_bucket_number("user_id").alias("bkt")
    ).agg(
        F.bitmap_construct_agg(F.bitmap_bit_position("user_id")).alias("bm"),
        F.count(F.lit(1)).alias("n"),
    )
    return buckets.groupBy("event_type").agg(
        F.sum(F.bitmap_count("bm")).alias("n_users"),
        F.sum("n").alias("n_events"),
    )


@query(
    "hierarchy_rollup_recursive",
    tier="EXT SQL surface (WITH RECURSIVE: multi-level hierarchy walk + rollup, Spark 4)",
    oracle="""
        WITH RECURSIVE chain(custkey, anc, depth) AS (
            SELECT c_custkey, c_custkey, 0 FROM customer
            UNION ALL
            SELECT custkey, anc // 10, depth + 1 FROM chain WHERE anc > 0
        ),
        lineage AS (
            SELECT custkey, MAX(depth) AS lineage_len FROM chain GROUP BY custkey
        )
        SELECT CAST(lineage_len AS INT) AS lineage_len,
               CAST(COUNT(*) AS BIGINT) AS n_customers,
               ROUND(AVG(c.c_acctbal), 4) AS avg_acctbal
        FROM lineage l JOIN customer c ON l.custkey = c.c_custkey
        GROUP BY lineage_len
        ORDER BY lineage_len
    """,
)
def hierarchy_rollup_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE — the SQL surface every warehouse migration asks
    about first (org charts, BOM explosions, account trees) and a
    Spark 4 addition this engine now certifies (probed per the
    CLAUDE.md probe-before-assuming rule: WITH RECURSIVE executes in
    this 4.1 build). The hierarchy is derived, transparent, and
    engine-identical: each customer reports up the chain
    anc → anc div 10 until 0, so the recursion truly iterates
    (up to 4 levels at sf0.01) and the rollup groups customers by
    lineage length with an account-balance average per level.

    Cross-engine: integer division is `div` in Spark SQL and `//` in
    DuckDB (the CAST-rounds trap never enters); depths/counts exact,
    the avg ROUND(4). Scale: Spark executes the recursion as iterated
    unions with the WHERE pruning each step — each level is one
    map-side projection of the previous frame, no shuffle until the
    final rollup; depth is data-bounded (digits of the key), not
    row-bounded."""
    # Recursion produces N·(digits+1) rows — past ~125k customers that
    # crosses Spark's 1M-row recursion guard (hit at 1M customers,
    # BASELINE.md "Round-11b window-completion scale probe"). Raise it and LEAVE it set — the
    # returned plan executes the recursion at collect time (lazy-plan
    # rule: never unset a conf the returned plan still needs; same
    # pattern as bfs_reachability_levels).
    spark.conf.set("spark.sql.cteRecursionRowLimit", str(50_000_000))
    c = load_table(spark, "customer", sf_dir)
    c.createOrReplaceTempView("__rcte_customer")
    return spark.sql(
        """
        WITH RECURSIVE chain(custkey, anc, depth) AS (
            SELECT c_custkey, c_custkey, 0 FROM __rcte_customer
            UNION ALL
            SELECT custkey, anc div 10, depth + 1 FROM chain WHERE anc > 0
        ),
        lineage AS (
            SELECT custkey, MAX(depth) AS lineage_len FROM chain GROUP BY custkey
        )
        SELECT CAST(lineage_len AS INT) AS lineage_len,
               CAST(COUNT(*) AS BIGINT) AS n_customers,
               ROUND(AVG(c.c_acctbal), 4) AS avg_acctbal
        FROM lineage l JOIN __rcte_customer c ON l.custkey = c.c_custkey
        GROUP BY lineage_len
        ORDER BY lineage_len
        """
    )
