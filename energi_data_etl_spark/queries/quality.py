"""Round-8 data-quality / forecasting / sketch additions.

Six operators a production lake team runs daily that the catalog did
not yet cover as first-class queries:

* ``dq_expectation_suite`` — a declarative data-quality gate (the
  Great-Expectations shape): null rates, ranges, set membership, key
  uniqueness and referential integrity, each emitted as an
  (expectation, observed, passed) row.
* ``fuzzy_join_prefix_filtered`` — the SCALE form of the q-gram fuzzy
  join: per name keep only its P globally-rarest grams and join on
  those (prefix filtering), so no hot-gram quadratic ever forms.
* ``seasonal_naive_backtest`` — lag-7 seasonal-naive vs lag-1 naive
  forecast backtest over the daily event series (the "is there weekly
  seasonality worth modeling" gate before any real forecasting).
* ``char_lm_quality_bits`` — character-unigram LM cross-entropy per
  language (bits/char), the cheapest corpus-quality / gibberish filter.
* ``heavyhitters_misra_gries`` — distributed Misra-Gries heavy-hitter
  summaries with the sketch-family verdict recipe (exact counts
  certified, candidate-superset guarantee pinned).
* ``feature_equidepth_bins`` — NTILE equi-depth feature binning with
  per-bin stats (the feature-engineering / drift-monitoring primitive).

Cross-engine discipline per CLAUDE.md: counts CAST to BIGINT, rates
FLOOR-truncated quotients, wide float aggregates ROUND on both sides,
all orderings tie-broken on a unique key.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..sources.tables import load_table
from .catalog import query


# --------------------------------------------------------------------------
# Data-quality expectation suite
# --------------------------------------------------------------------------


@query(
    "dq_expectation_suite",
    tier="EXT data-eng (declarative data-quality gate: null/range/set/key/RI checks)",
    oracle="""
        SELECT 'orders_pk_unique' AS check_id,
               CAST((SELECT COUNT(*) - COUNT(DISTINCT o_orderkey) FROM orders) AS BIGINT) AS observed,
               CAST(0 AS BIGINT) AS allowed,
               (SELECT COUNT(*) - COUNT(DISTINCT o_orderkey) FROM orders) <= 0 AS passed
        UNION ALL
        SELECT 'orders_custkey_nulls',
               CAST((SELECT COUNT(*) FILTER (o_custkey IS NULL) FROM orders) AS BIGINT),
               CAST(0 AS BIGINT),
               (SELECT COUNT(*) FILTER (o_custkey IS NULL) FROM orders) <= 0
        UNION ALL
        SELECT 'orders_totalprice_positive',
               CAST((SELECT COUNT(*) FILTER (o_totalprice <= 0) FROM orders) AS BIGINT),
               CAST(0 AS BIGINT),
               (SELECT COUNT(*) FILTER (o_totalprice <= 0) FROM orders) <= 0
        UNION ALL
        SELECT 'lineitem_discount_range',
               CAST((SELECT COUNT(*) FILTER (l_discount < 0 OR l_discount > 0.1) FROM lineitem) AS BIGINT),
               CAST(0 AS BIGINT),
               (SELECT COUNT(*) FILTER (l_discount < 0 OR l_discount > 0.1) FROM lineitem) <= 0
        UNION ALL
        SELECT 'lineitem_quantity_range',
               CAST((SELECT COUNT(*) FILTER (l_quantity < 1 OR l_quantity > 50) FROM lineitem) AS BIGINT),
               CAST(0 AS BIGINT),
               (SELECT COUNT(*) FILTER (l_quantity < 1 OR l_quantity > 50) FROM lineitem) <= 0
        UNION ALL
        SELECT 'lineitem_orderkey_ri',
               CAST((SELECT COUNT(*) FROM (SELECT DISTINCT l_orderkey FROM lineitem) l
                     WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)) AS BIGINT),
               CAST(0 AS BIGINT),
               (SELECT COUNT(*) FROM (SELECT DISTINCT l_orderkey FROM lineitem) l
                WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)) <= 0
        UNION ALL
        SELECT 'events_type_domain',
               CAST((SELECT COUNT(*) FILTER (event_type NOT IN
                     ('view','click','purchase','signup','error')) FROM events) AS BIGINT),
               CAST(0 AS BIGINT),
               (SELECT COUNT(*) FILTER (event_type NOT IN
                ('view','click','purchase','signup','error')) FROM events) <= 0
        UNION ALL
        SELECT 'customer_acctbal_notnull',
               CAST((SELECT COUNT(*) FILTER (c_acctbal IS NULL) FROM customer) AS BIGINT),
               CAST(0 AS BIGINT),
               (SELECT COUNT(*) FILTER (c_acctbal IS NULL) FROM customer) <= 0
        ORDER BY check_id
    """,
)
def dq_expectation_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality gate over the lake (the
    Great-Expectations / dbt-test shape): each expectation emits
    (check_id, observed violation count, allowed, passed). Null rates,
    value ranges, set membership, primary-key uniqueness, and the one
    that needs a join — lineitem→orders referential integrity via a
    LEFT ANTI join on the key.

    Scale (100 TB): every single-table check is ONE partial-aggregated
    scan (violation predicates folded into conditional counts, so each
    table is read once per check group, map-side combined); the RI
    check is the only shuffle — a key-only anti join whose build side
    projects just o_orderkey. The union of 8 single-row frames is
    driver-free. No check ever materializes violating ROWS (that is the
    quarantine path's job, see validation.py) — the gate is counts."""
    orders = load_table(spark, "orders", sf_dir)
    lineitem = load_table(spark, "lineitem", sf_dir)
    events = load_table(spark, "events", sf_dir)
    customer = load_table(spark, "customer", sf_dir)

    def table_checks(frame: DataFrame, specs: list[tuple]) -> DataFrame:
        """ALL of a table's aggregate expectations in ONE scan (the
        violation counts fold into a single multi-aggregate, then
        stack() pivots the 1-row result into check rows)."""
        agg = frame.agg(
            *[col.cast("long").alias(f"__c{i}") for i, (_, col) in enumerate(specs)]
        )
        stack = "stack({}, {}) as (check_id, observed)".format(
            len(specs), ", ".join(f"'{name}', __c{i}" for i, (name, _) in enumerate(specs))
        )
        return agg.select(F.expr(stack))

    cnt = F.count(F.lit(1))
    ri_violations = (
        lineitem.select("l_orderkey")
        .distinct()
        .join(orders.select(F.col("o_orderkey").alias("l_orderkey")), "l_orderkey", "left_anti")
    )
    parts = [
        table_checks(
            orders,
            [
                ("orders_pk_unique", cnt - F.countDistinct("o_orderkey")),
                ("orders_custkey_nulls", F.count(F.when(F.col("o_custkey").isNull(), 1))),
                ("orders_totalprice_positive", F.count(F.when(F.col("o_totalprice") <= 0, 1))),
            ],
        ),
        table_checks(
            lineitem,
            [
                (
                    "lineitem_discount_range",
                    F.count(F.when((F.col("l_discount") < 0) | (F.col("l_discount") > 0.1), 1)),
                ),
                (
                    "lineitem_quantity_range",
                    F.count(F.when((F.col("l_quantity") < 1) | (F.col("l_quantity") > 50), 1)),
                ),
            ],
        ),
        table_checks(ri_violations, [("lineitem_orderkey_ri", cnt)]),
        table_checks(
            events,
            [
                (
                    "events_type_domain",
                    F.count(
                        F.when(
                            ~F.col("event_type").isin(
                                "view", "click", "purchase", "signup", "error"
                            ),
                            1,
                        )
                    ),
                )
            ],
        ),
        table_checks(
            customer,
            [("customer_acctbal_notnull", F.count(F.when(F.col("c_acctbal").isNull(), 1)))],
        ),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select(
        "check_id",
        "observed",
        F.lit(0).cast("long").alias("allowed"),
        (F.col("observed") <= 0).alias("passed"),
    ).orderBy("check_id")


# --------------------------------------------------------------------------
# Prefix-filtered fuzzy join (the q-gram join's 100 TB form)
# --------------------------------------------------------------------------


@query(
    "fuzzy_join_prefix_filtered",
    tier="EXT data-eng (entity resolution: prefix-filtered q-gram fuzzy join — the scale form)",
    oracle="""
        WITH names AS (SELECT DISTINCT p_name FROM part),
        grams AS (
            SELECT p_name, UNNEST(LIST_DISTINCT([p_name[i:i+1]
                   FOR i IN RANGE(1, LENGTH(p_name))])) AS g
            FROM names
        ),
        dfreq AS (SELECT g, COUNT(*) AS df FROM grams GROUP BY g),
        pref AS (
            SELECT p_name, g
            FROM (SELECT gr.p_name, gr.g,
                         ROW_NUMBER() OVER (PARTITION BY gr.p_name
                                            ORDER BY d.df, gr.g) AS r
                  FROM grams gr JOIN dfreq d ON gr.g = d.g)
            WHERE r <= 4
        ),
        cand AS (
            SELECT a.p_name AS name_a, b.p_name AS name_b,
                   CAST(COUNT(*) AS BIGINT) AS shared_prefix_grams
            FROM pref a JOIN pref b ON a.g = b.g AND a.p_name < b.p_name
            GROUP BY 1, 2
        )
        SELECT name_a, name_b, shared_prefix_grams,
               CAST(LEVENSHTEIN(name_a, name_b) AS BIGINT) AS lev_dist
        FROM cand
        WHERE LEVENSHTEIN(name_a, name_b) <= 6
        ORDER BY name_a, name_b
    """,
)
def fuzzy_join_prefix_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PREFIX-FILTERED q-gram fuzzy join — how
    ``fuzzy_join_qgram_candidates`` survives 100 TB. The raw postings
    self-join is quadratic inside hot grams (every name containing
    "re " pairs with every other); prefix filtering bounds it: rank
    each name's grams by GLOBAL document frequency (rarest first,
    gram-tiebreak — deterministic on both engines) and index only the
    P=4 rarest. Two names can then only meet through one of their rare
    grams, whose posting lists are df-biased-small by construction —
    candidate volume stays near-linear in names while high-overlap
    pairs (which share most grams, including the rare ones) still
    collide. Only candidates pay the levenshtein verify.

    Shuffles: gram df groupBy, the df join-back + per-name window
    (partitioned by name — never a global sort), the prefix-posting
    equi-join, the pair groupBy. All bounded; measured 100k→1M names
    (BASELINE.md "Round-8 retrieval-stack scale probe"). Certified end-to-end vs the
    identical algorithm in DuckDB."""
    names = load_table(spark, "part", sf_dir).select("p_name").distinct()
    idx = F.sequence(F.lit(1), F.length("p_name") - 1)
    grams = names.select(
        "p_name",
        F.explode(
            F.array_distinct(F.transform(idx, lambda i: F.col("p_name").substr(i, F.lit(2))))
        ).alias("g"),
    ).localCheckpoint(eager=False)
    dfreq = grams.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("p_name").orderBy("df", "g")
    pref = (
        grams.join(dfreq, "g")
        .select("p_name", "g", F.row_number().over(w).alias("r"))
        .filter(F.col("r") <= 4)
        .select("p_name", "g")
    )
    a = pref.select(F.col("p_name").alias("name_a"), "g")
    b = pref.select(F.col("p_name").alias("name_b"), "g")
    return (
        a.join(b, "g")
        .filter(F.col("name_a") < F.col("name_b"))
        .groupBy("name_a", "name_b")
        .agg(F.count(F.lit(1)).cast("long").alias("shared_prefix_grams"))
        .withColumn("lev_dist", F.levenshtein("name_a", "name_b").cast("long"))
        .filter(F.col("lev_dist") <= 6)
        .orderBy("name_a", "name_b")
    )


# --------------------------------------------------------------------------
# Seasonal-naive forecast backtest
# --------------------------------------------------------------------------


@query(
    "seasonal_naive_backtest",
    tier="EXT time-series (lag-7 seasonal-naive vs lag-1 naive backtest, per event type)",
    oracle="""
        WITH daily AS (
            SELECT event_type, CAST(ts AS DATE) AS d,
                   ROUND(SUM(value), 2) AS v
            FROM events GROUP BY 1, 2
        ),
        lagged AS (
            SELECT event_type, d, v,
                   LAG(v, 7) OVER (PARTITION BY event_type ORDER BY d) AS v7,
                   LAG(v, 1) OVER (PARTITION BY event_type ORDER BY d) AS v1
            FROM daily
        )
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_days,
               ROUND(AVG(ABS(v - v7)), 4) AS mae_seasonal,
               ROUND(AVG(ABS(v - v1)), 4) AS mae_naive,
               ROUND(AVG(ABS(v - v7)), 4) < ROUND(AVG(ABS(v - v1)), 4) AS seasonal_wins
        FROM lagged
        WHERE v7 IS NOT NULL
        GROUP BY event_type
        ORDER BY event_type
    """,
)
def seasonal_naive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The gate before any real forecasting work: does lag-7
    (seasonal-naive, "same weekday last week") beat lag-1 (naive,
    "same as yesterday") on the daily value series? Per event type the
    backtest scores both one-step forecasters over every day where the
    seasonal lag exists and reports MAE for each plus the verdict.
    Production forecast pipelines run exactly this before fitting
    anything heavier — a model that can't beat seasonal-naive is noise.

    Cross-engine: daily sums ROUND(2) on both sides (wide-aggregate
    rule) so the error terms are identical decimals; MAEs ROUND(4);
    the verdict compares the ROUNDED MAEs so it can never straddle an
    ulp. Scale: one shuffle to (type, day) partials — map-side
    combined — then a per-type window over ~days rows; the fact table
    is read once."""
    daily = (
        load_table(spark, "events", sf_dir)
        .groupBy("event_type", F.to_date("ts").alias("d"))
        .agg(F.round(F.sum("value"), 2).alias("v"))
    )
    w = Window.partitionBy("event_type").orderBy("d")
    lagged = daily.select(
        "event_type",
        "v",
        F.lag("v", 7).over(w).alias("v7"),
        F.lag("v", 1).over(w).alias("v1"),
    ).filter(F.col("v7").isNotNull())
    return (
        lagged.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.round(F.avg(F.abs(F.col("v") - F.col("v7"))), 4).alias("mae_seasonal"),
            F.round(F.avg(F.abs(F.col("v") - F.col("v1"))), 4).alias("mae_naive"),
        )
        .select(
            "event_type",
            "n_days",
            "mae_seasonal",
            "mae_naive",
            (F.col("mae_seasonal") < F.col("mae_naive")).alias("seasonal_wins"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Character-unigram LM quality (bits per char)
# --------------------------------------------------------------------------


@query(
    "char_lm_quality_bits",
    tier="L4 text quality (char-unigram LM cross-entropy per language, bits/char)",
    oracle="""
        WITH chars AS (
            SELECT lang, UNNEST(STRING_SPLIT(text, '')) AS c FROM documents
        ),
        corpus AS (
            SELECT c, COUNT(*) AS n FROM chars GROUP BY c
        ),
        total AS (SELECT SUM(n) AS tot FROM corpus),
        bylang AS (
            SELECT lang, c, COUNT(*) AS n FROM chars GROUP BY lang, c
        )
        SELECT b.lang,
               CAST(SUM(b.n) AS BIGINT) AS n_chars,
               ROUND(-SUM(b.n * LN(co.n / t.tot)) / SUM(b.n) / LN(2), 4) AS bits_per_char
        FROM bylang b JOIN corpus co ON b.c = co.c CROSS JOIN total t
        GROUP BY b.lang
        ORDER BY b.lang
    """,
)
def char_lm_quality_bits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cheapest corpus-quality signal there is: a character-unigram
    LM fit on the whole corpus, then each language's text scored as
    cross-entropy (bits/char) under it. Gibberish, encoding corruption
    and off-distribution text surface as entropy spikes — production
    pipelines run this (or its big sibling, a real LM perplexity
    filter) before paying for model-based quality scoring. The Spark
    plumbing is the point at scale: char frequencies are TWO
    low-cardinality groupBys (≤ alphabet keys — map-side partials
    collapse each partition to ≤|alphabet| rows, so the shuffle is
    partitions×alphabet scalars, never corpus-sized), the model join
    is a broadcast of ≤|alphabet| rows, and the per-(lang,char)
    weighted sum is again a tiny aggregation.

    Cross-engine: counts are exact; LN last-ulp differences between
    libm builds are ~1e-15 relative, far under the ROUND(4) cut."""
    # ONE pass over the exploded corpus: the (lang, char) counts are a
    # refinement of the corpus model, so corpus/total re-aggregate the
    # tiny bylang frame (≤ |langs|·|alphabet| rows) instead of scanning
    # the explode twice. The r11 probe caught the previous shape
    # (localCheckpoint of the EXPLODED corpus — |chars| skinny rows
    # materialized, 10.9× at 5× rows); checkpointing after the partial
    # agg keeps the shuffle at partitions×alphabet scalars and the
    # checkpoint at model size. Counts identical by construction.
    bylang = (
        load_table(spark, "documents", sf_dir)
        .select("lang", F.explode(F.split("text", "")).alias("c"))
        .filter(F.length("c") > 0)  # guard a possible trailing empty split token
        .groupBy("lang", "c")
        .agg(F.count(F.lit(1)).alias("n_lc"))
        .localCheckpoint(eager=False)  # feeds corpus, total AND the join
    )
    corpus = bylang.groupBy("c").agg(F.sum("n_lc").cast("long").alias("n"))
    total = corpus.agg(F.sum("n").alias("tot"))
    return (
        bylang.join(F.broadcast(corpus), "c")
        .crossJoin(F.broadcast(total))
        .groupBy("lang")
        .agg(
            F.sum("n_lc").cast("long").alias("n_chars"),
            F.round(
                -F.sum(F.col("n_lc") * F.log(F.col("n") / F.col("tot")))
                / F.sum("n_lc")
                / F.log(F.lit(2.0)),
                4,
            ).alias("bits_per_char"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# Misra-Gries heavy hitters (distributed, verdict-oracled)
# --------------------------------------------------------------------------


@query(
    "heavyhitters_misra_gries",
    tier="A6 sketch family (distributed Misra-Gries heavy hitters; exact counts + superset verdict)",
    oracle="""
        WITH counts AS (
            SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events FROM events GROUP BY 1
        ),
        tot AS (SELECT SUM(n_events) AS n FROM counts)
        SELECT c.event_type, c.n_events,
               c.n_events * 8 > t.n AS is_heavy,
               TRUE AS sketch_found_all_heavy
        FROM counts c CROSS JOIN tot t
        ORDER BY c.event_type
    """,
)
def heavyhitters_misra_gries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Misra-Gries heavy hitters with the sketch-family
    verdict recipe (same as approx_count_distinct / theta): the exact
    per-key counts and the is-heavy flags (freq > n/k, k=8) are
    hash-certified against DuckDB, and `sketch_found_all_heavy` pins
    the MG guarantee — the union of per-partition MG(k) candidate sets
    MUST contain every key with global frequency > n/k (pigeonhole: a
    key below the per-partition threshold everywhere is below it
    globally). A kernel bug that drops a heavy key flips the verdict
    and fails the gate; which LIGHT keys the sketch happens to retain
    is partitioning-dependent, so it is folded into the verdict, never
    emitted.

    Scale: the whole corpus reduces to ≤(k-1) (key, count) rows PER
    PARTITION inside one Arrow-batched pass — the shuffle after it
    carries partitions×k scalars, the exact per-key recount is one
    partial-aggregated groupBy over a low-cardinality key, and the
    verdict join is a broadcast of the candidate set. This is the
    operator you reach for when the key cardinality ISN'T low — user
    ids, URLs — where exact groupBy would shuffle millions of groups
    to find the top handful."""
    import pandas as pd

    k = 8
    ev = load_table(spark, "events", sf_dir).select(F.col("event_type").alias("key"))
    ev = ev.repartition(spark.sparkContext.defaultParallelism)

    def mg_partition(batches):
        counters: dict[str, int] = {}
        for pdf in batches:
            for v in pdf["key"]:
                if v in counters:
                    counters[v] += 1
                elif len(counters) < k - 1:
                    counters[v] = 1
                else:
                    for key in list(counters):
                        counters[key] -= 1
                        if counters[key] == 0:
                            del counters[key]
        yield pd.DataFrame({"key": list(counters.keys())})

    candidates = (
        ev.mapInPandas(mg_partition, schema="key string").distinct().localCheckpoint(eager=False)
    )
    counts = (
        ev.groupBy("key")
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
        .localCheckpoint(eager=False)  # |keys| rows, consumed by total + flag join
    )
    total = counts.agg(F.sum("n_events").alias("n"))
    flagged = (
        counts.crossJoin(F.broadcast(total))
        .withColumn("is_heavy", F.col("n_events") * k > F.col("n"))
        .join(F.broadcast(candidates.withColumn("in_sketch", F.lit(True))), "key", "left")
    )
    verdict = flagged.agg(
        F.coalesce(
            F.every(F.when(F.col("is_heavy"), F.coalesce(F.col("in_sketch"), F.lit(False)))),
            F.lit(True),
        ).alias("sketch_found_all_heavy")
    )
    return (
        flagged.select(F.col("key").alias("event_type"), "n_events", "is_heavy")
        .crossJoin(F.broadcast(verdict))
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Equi-depth feature binning
# --------------------------------------------------------------------------


@query(
    "feature_equidepth_bins",
    tier="EXT data-eng (NTILE equi-depth feature binning + per-bin stats)",
    oracle="""
        WITH binned AS (
            SELECT o_totalprice,
                   NTILE(10) OVER (ORDER BY o_totalprice, o_orderkey) AS bin
            FROM orders
        )
        SELECT CAST(bin AS INT) AS bin,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               MIN(o_totalprice) AS lo,
               MAX(o_totalprice) AS hi,
               ROUND(AVG(o_totalprice), 4) AS mean_price
        FROM binned GROUP BY bin ORDER BY bin
    """,
)
def feature_equidepth_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (quantile) binning of a numeric feature with per-bin
    stats — the feature-engineering primitive behind WOE encoding,
    drift monitors and histogram features. NTILE(10) with a unique-key
    tiebreak is deterministic and identical across engines (remainder
    rows go to the leading buckets in both).

    Scale note (deliberate, documented): exact global NTILE needs a
    total order — a single-reducer sort, the one plan shape this repo
    otherwise avoids. This query is the exact-semantics CORRECTNESS
    baseline; the 100 TB path is approx_percentile boundaries + a
    broadcast range join (see `approx_percentile_sketch` /
    `value_histogram_by_type`), which needs no global sort and is
    where a drift monitor actually runs. Same baseline-vs-scale split
    as exact_knn vs ann_lsh_topk."""
    w = Window.orderBy("o_totalprice", "o_orderkey")
    binned = load_table(spark, "orders", sf_dir).select(
        "o_totalprice", F.ntile(10).over(w).alias("bin")
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
            F.round(F.avg("o_totalprice"), 4).alias("mean_price"),
        )
        .select(F.col("bin").cast("int").alias("bin"), "n_rows", "lo", "hi", "mean_price")
        .orderBy("bin")
    )


@query(
    "feature_equidepth_bins_sketch",
    tier="EXT data-eng (equi-depth binning, 100 TB path: percentile sketch + broadcast bin assign)",
    oracle="""
        WITH b AS (
            SELECT approx_quantile(o_totalprice,
                       [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS bnd,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   MIN(o_totalprice) AS lo_global,
                   MAX(o_totalprice) AS hi_global
            FROM orders
        ), assigned AS (
            SELECT 1 + LEN(LIST_FILTER(b.bnd, x -> o.o_totalprice > x)) AS bin
            FROM orders o CROSS JOIN b
        ), counted AS (
            SELECT bin, CAST(COUNT(*) AS BIGINT) AS nb FROM assigned GROUP BY bin
        )
        SELECT CAST(d.range AS INT) AS bin,
               CAST(b.n // 10 AS BIGINT) AS expected_rows,
               (ABS(COALESCE(c.nb, 0) * 10 - b.n) * 5 <= b.n) AS within_tol,
               b.lo_global AS lo_global,
               b.hi_global AS hi_global
        FROM range(1, 11) d
        LEFT JOIN counted c ON c.bin = d.range
        CROSS JOIN b
        ORDER BY bin
    """,
)
def feature_equidepth_bins_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB path feature_equidepth_bins' docstring defers to
    (VERDICT r11 item 4): equi-depth binning WITHOUT the global sort —
    decile boundaries from a mergeable percentile sketch
    (approx_percentile, accuracy 10000; map-side partials, one bounded
    9-double + count driver collect, the k-means-fit precedent), then a
    per-row bin assign against the broadcast 9-element boundary array
    (a pure map stage) and a 10-group partial-agg count.

    Each engine runs its OWN sketch (Spark GK-style approx_percentile,
    DuckDB t-digest) — boundary values and per-bin counts are therefore
    engine-local, so the comparable surface is the KLL-audit recipe:
    exact BIGINT/double columns (bin id, expected_rows = n div 10, exact
    global min/max) plus a tolerance VERDICT per bin —
    |n_bin − n/10| ≤ 2% of n, staged as ABS(nb*10 − n)*5 ≤ n in exact
    BIGINTs on both engines (sketch rank error is ≤ n/10000 per
    boundary, so both verdicts hold with 200x headroom; a broken sketch
    or a lost bin flips the boolean).

    Scale: one scan with a mergeable sketch agg, one shuffle-free map
    stage (9 comparisons/row), a 10-row aggregate, a 10-row broadcast
    dimension join. No NTILE, no single-reducer total order — this is
    where the drift monitor actually runs at 100 TB."""
    orders = load_table(spark, "orders", sf_dir).select("o_totalprice")
    row = orders.agg(
        F.approx_percentile(
            "o_totalprice", F.array(*[F.lit(i / 10.0) for i in range(1, 10)]), F.lit(10000)
        ).alias("bnd"),
        F.count(F.lit(1)).cast("long").alias("n"),
        F.min("o_totalprice").alias("lo"),
        F.max("o_totalprice").alias("hi"),
    ).collect()[0]
    bnd = F.array(*[F.lit(float(x)) for x in row["bnd"]])
    n = int(row["n"])
    counted = (
        orders.select(
            (F.size(F.filter(bnd, lambda b: F.col("o_totalprice") > b)) + 1).alias("bin")
        )
        .groupBy("bin")
        .agg(F.count(F.lit(1)).cast("long").alias("nb"))
    )
    dim = spark.range(1, 11).select(F.col("id").cast("int").alias("bin"))
    return (
        dim.join(F.broadcast(counted), "bin", "left")
        .select(
            "bin",
            F.lit(n // 10).cast("long").alias("expected_rows"),
            (F.abs(F.coalesce("nb", F.lit(0)) * 10 - F.lit(n)) * 5 <= F.lit(n)).alias(
                "within_tol"
            ),
            F.lit(float(row["lo"])).alias("lo_global"),
            F.lit(float(row["hi"])).alias("hi_global"),
        )
        .orderBy("bin")
    )


# --------------------------------------------------------------------------
# Benford first-digit forensic audit
# --------------------------------------------------------------------------


@query(
    "benford_first_digit_audit",
    tier="EXT data-eng (forensic DQ: first-significant-digit distribution vs Benford's law)",
    oracle="""
        WITH digits AS (
            SELECT CAST(SUBSTRING(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit
            FROM orders WHERE o_totalprice >= 1
        ),
        counted AS (
            SELECT digit, CAST(COUNT(*) AS BIGINT) AS n_obs FROM digits GROUP BY digit
        ),
        tot AS (SELECT SUM(n_obs) AS n FROM counted)
        SELECT d.range AS digit,
               COALESCE(c.n_obs, 0) AS n_obs,
               FLOOR(COALESCE(c.n_obs, 0) * 1000000 / t.n) / 1000000.0 AS freq_obs,
               ROUND(LOG10(1.0 + 1.0 / d.range), 6) AS p_benford
        FROM range(1, 10) d
        LEFT JOIN counted c ON c.digit = d.range
        CROSS JOIN tot t
        ORDER BY digit
    """,
)
def benford_first_digit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law forensic audit of a monetary column — the
    fraud/synthetic-data detector auditors actually run: natural
    multiplicative amounts put digit d first with probability
    log10(1+1/d); fabricated or truncated data shows up as a flat or
    spiked profile. Emits all nine digits (zero-filled via a generated
    digit dimension) with observed counts, FLOOR-truncated observed
    frequency, and the Benford expectation.

    Cross-engine: the first digit comes from the INTEGER part's string
    head (every o_totalprice >= 1), never from LOG10-based magnitude
    math — FLOOR(LOG10(x)) flips at exact powers of ten per libm, the
    string head of an exact BIGINT cannot. freq_obs is the
    FLOOR-quotient of exact longs (bit-identical divisions); p_benford
    values all sit >= 2.4e-7 from their 6dp rounding cuts, far beyond
    libm's 1-ulp wobble. Scale: one conditional-count scan, map-side
    combined to <= 9 rows per partition; the digit dimension is a
    9-row broadcast."""
    digits = (
        load_table(spark, "orders", sf_dir)
        .filter(F.col("o_totalprice") >= 1)
        .select(
            F.substring(F.floor("o_totalprice").cast("long").cast("string"), 1, 1)
            .cast("int")
            .alias("digit")
        )
    )
    counted = (
        digits.groupBy("digit")
        .agg(F.count(F.lit(1)).cast("long").alias("n_obs"))
        .localCheckpoint(eager=False)  # 9 rows, consumed by total + join
    )
    total = counted.agg(F.sum("n_obs").alias("n"))
    dim = spark.range(1, 10).select(F.col("id").cast("int").alias("digit"))
    return (
        dim.join(counted, "digit", "left")
        .crossJoin(F.broadcast(total))
        .select(
            "digit",
            F.coalesce(F.col("n_obs"), F.lit(0)).cast("long").alias("n_obs"),
            (F.floor(F.coalesce(F.col("n_obs"), F.lit(0)) * 1000000 / F.col("n")) / 1000000.0).alias(
                "freq_obs"
            ),
            F.round(F.log10(1.0 + 1.0 / F.col("digit")), 6).alias("p_benford"),
        )
        .orderBy("digit")
    )


# --------------------------------------------------------------------------
# Population stability index (feature drift)
# --------------------------------------------------------------------------


@query(
    "psi_value_drift",
    tier="EXT data-eng (ML monitoring: population stability index, ref vs current fortnight)",
    oracle="""
        WITH binned AS (
            SELECT event_type,
                   LEAST(9, GREATEST(0, CAST(FLOOR(value / 50.0) AS INT))) AS bin,
                   CAST(ts AS DATE) < DATE '2024-01-16' AS is_ref
            FROM events
        ),
        grid AS (
            SELECT t.event_type, b.range AS bin
            FROM (SELECT DISTINCT event_type FROM events) t CROSS JOIN range(0, 10) b
        ),
        counts AS (
            SELECT g.event_type, g.bin,
                   CAST(COALESCE(SUM(CASE WHEN is_ref THEN 1 END), 0) AS BIGINT) AS n_ref,
                   CAST(COALESCE(SUM(CASE WHEN NOT is_ref THEN 1 END), 0) AS BIGINT) AS n_cur
            FROM grid g LEFT JOIN binned x ON x.event_type = g.event_type AND x.bin = g.bin
            GROUP BY g.event_type, g.bin
        ),
        tots AS (
            SELECT event_type, SUM(n_ref) AS tr, SUM(n_cur) AS tc FROM counts GROUP BY event_type
        )
        SELECT c.event_type,
               CAST(t.tr AS BIGINT) AS n_ref,
               CAST(t.tc AS BIGINT) AS n_cur,
               ROUND(SUM(
                   ((c.n_cur + 0.5) / (t.tc + 5.0) - (c.n_ref + 0.5) / (t.tr + 5.0))
                   * LN(((c.n_cur + 0.5) / (t.tc + 5.0)) / ((c.n_ref + 0.5) / (t.tr + 5.0)))
               ), 6) AS psi,
               ROUND(SUM(
                   ((c.n_cur + 0.5) / (t.tc + 5.0) - (c.n_ref + 0.5) / (t.tr + 5.0))
                   * LN(((c.n_cur + 0.5) / (t.tc + 5.0)) / ((c.n_ref + 0.5) / (t.tr + 5.0)))
               ), 6) > 0.2 AS drifted
        FROM counts c JOIN tots t USING (event_type)
        GROUP BY c.event_type, t.tr, t.tc
        ORDER BY c.event_type
    """,
)
def psi_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population stability index — THE production feature-drift metric
    (credit scoring, model monitoring): bin the feature identically in
    a reference window (first fortnight) and the current window (second
    fortnight), then PSI = sum (p_cur - p_ref) * ln(p_cur / p_ref) over
    the bins, Laplace-smoothed (+0.5/bin) so empty bins never produce
    infinities. PSI > 0.2 is the standard "investigate" threshold,
    emitted as the verdict off the ROUNDED psi.

    Bins are FIXED-width (10 x 50 over the value domain) — exactly what
    a deployed monitor uses (frozen at training time), and deterministic
    across engines, unlike data-dependent quantile edges. Scale: one
    conditional-count pass over the fact table collapsing to
    types x 10 rows, the zero-fill grid is a broadcast, the PSI fold is
    a 10-term aggregate. libm LN wobble is ~1e-16 relative against a
    6dp cut."""
    ev = load_table(spark, "events", sf_dir).select(
        "event_type",
        F.least(F.lit(9), F.greatest(F.lit(0), F.floor(F.col("value") / 50.0).cast("int"))).alias(
            "bin"
        ),
        (F.to_date("ts") < F.lit("2024-01-16").cast("date")).alias("is_ref"),
    )
    grid = (
        ev.select("event_type")
        .distinct()
        .crossJoin(spark.range(0, 10).select(F.col("id").cast("int").alias("bin")))
    )
    counts = (
        grid.join(ev, ["event_type", "bin"], "left")
        .groupBy("event_type", "bin")
        .agg(
            F.coalesce(F.sum(F.when(F.col("is_ref"), 1)), F.lit(0)).cast("long").alias("n_ref"),
            F.coalesce(F.sum(F.when(~F.col("is_ref"), 1)), F.lit(0)).cast("long").alias("n_cur"),
        )
        .localCheckpoint(eager=False)  # types x 10 rows, consumed by tots + PSI fold
    )
    tots = counts.groupBy("event_type").agg(
        F.sum("n_ref").alias("tr"), F.sum("n_cur").alias("tc")
    )
    p_cur = (F.col("n_cur") + 0.5) / (F.col("tc") + 5.0)
    p_ref = (F.col("n_ref") + 0.5) / (F.col("tr") + 5.0)
    term = (p_cur - p_ref) * F.log(p_cur / p_ref)
    return (
        counts.join(tots, "event_type")
        .groupBy("event_type", "tr", "tc")
        .agg(F.round(F.sum(term), 6).alias("psi"))
        .select(
            "event_type",
            F.col("tr").cast("long").alias("n_ref"),
            F.col("tc").cast("long").alias("n_cur"),
            "psi",
            (F.col("psi") > 0.2).alias("drifted"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Change-point detection (binary segmentation, depth 1)
# --------------------------------------------------------------------------


@query(
    "changepoint_binary_segmentation",
    tier="EXT time-series (depth-1 binary segmentation: best mean-shift split of the daily series)",
    oracle="""
        WITH daily AS (
            SELECT event_type, CAST(ts AS DATE) AS d, ROUND(SUM(value), 2) AS v
            FROM events GROUP BY 1, 2
        ),
        cum AS (
            SELECT event_type, d, v,
                   SUM(v) OVER w AS cs,
                   COUNT(*) OVER w AS cn,
                   SUM(v) OVER (PARTITION BY event_type) AS s,
                   COUNT(*) OVER (PARTITION BY event_type) AS n
            FROM daily
            WINDOW w AS (PARTITION BY event_type ORDER BY d ROWS UNBOUNDED PRECEDING)
        ),
        stats AS (
            SELECT event_type, d, cn, n,
                   ABS(cs / cn - (s - cs) / (n - cn))
                   * SQRT(CAST(cn * (n - cn) AS DOUBLE) / n) AS stat
            FROM cum WHERE cn < n
        )
        SELECT event_type,
               d AS split_day,
               CAST(cn AS BIGINT) AS left_days,
               CAST(n - cn AS BIGINT) AS right_days,
               ROUND(stat, 4) AS gap_stat
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                                           ORDER BY stat DESC, d ASC) AS r
              FROM stats)
        WHERE r = 1
        ORDER BY event_type
    """,
)
def changepoint_binary_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Depth-1 binary segmentation — the classical change-point scan:
    for every candidate split day t the statistic
    |mean(left) - mean(right)| * sqrt(n_l * n_r / n) (the two-sample
    CUSUM gap) is computed from running sums, and the argmax day wins
    (earliest day on ties). This is the alerting primitive behind
    "did the metric shift and when" — run after anomaly_zscore_events
    flags THAT something changed.

    Determinism across engines is by construction: daily sums are
    ROUND(2) decimals, the cumulative sums run in the window's forced
    order (bit-identical sequential adds), and the statistic uses only
    +,-,*,/,sqrt — IEEE correctly-rounded ops, so both engines compare
    bit-identical doubles in the argmax; no libm anywhere. Scale: one
    shuffle to (type, day) partials, per-type windows over ~days rows,
    a WindowGroupLimit-prunable rank — the fact table is read once."""
    daily = (
        load_table(spark, "events", sf_dir)
        .groupBy("event_type", F.to_date("ts").alias("d"))
        .agg(F.round(F.sum("value"), 2).alias("v"))
    )
    wc = Window.partitionBy("event_type").orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    wt = Window.partitionBy("event_type")
    cum = daily.select(
        "event_type",
        "d",
        F.sum("v").over(wc).alias("cs"),
        F.count(F.lit(1)).over(wc).alias("cn"),
        F.sum("v").over(wt).alias("s"),
        F.count(F.lit(1)).over(wt).alias("n"),
    ).filter(F.col("cn") < F.col("n"))
    stats = cum.withColumn(
        "stat",
        F.abs(F.col("cs") / F.col("cn") - (F.col("s") - F.col("cs")) / (F.col("n") - F.col("cn")))
        * F.sqrt((F.col("cn") * (F.col("n") - F.col("cn"))).cast("double") / F.col("n")),
    )
    wr = Window.partitionBy("event_type").orderBy(F.col("stat").desc(), F.col("d").asc())
    return (
        stats.select("*", F.row_number().over(wr).alias("r"))
        .filter(F.col("r") == 1)
        .select(
            "event_type",
            F.col("d").alias("split_day"),
            F.col("cn").cast("long").alias("left_days"),
            (F.col("n") - F.col("cn")).cast("long").alias("right_days"),
            F.round("stat", 4).alias("gap_stat"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Join-key skew audit
# --------------------------------------------------------------------------


@query(
    "key_skew_audit",
    tier="EXT data-eng (observability: per-key distribution stats + Gini for join-key skew)",
    oracle="""
        WITH audits AS (
            SELECT 'lineitem.l_partkey' AS key_name, CAST(l_partkey AS VARCHAR) AS k FROM lineitem
            UNION ALL
            SELECT 'lineitem.l_suppkey', CAST(l_suppkey AS VARCHAR) FROM lineitem
            UNION ALL
            SELECT 'events.user_id', CAST(user_id AS VARCHAR) FROM events
        ),
        counts AS (
            SELECT key_name, k, CAST(COUNT(*) AS BIGINT) AS c
            FROM audits GROUP BY key_name, k
        ),
        ranked AS (
            SELECT key_name, c,
                   ROW_NUMBER() OVER (PARTITION BY key_name ORDER BY c, k) AS i
            FROM counts
        )
        SELECT key_name,
               CAST(COUNT(*) AS BIGINT) AS n_keys,
               CAST(SUM(c) AS BIGINT) AS n_rows,
               CAST(MAX(c) AS BIGINT) AS max_count,
               FLOOR(MAX(c) * 1000000 / SUM(c)) / 1000000.0 AS top_share,
               FLOOR((2 * SUM(i * c) - (COUNT(*) + 1) * SUM(c)) * 1000000
                     / (COUNT(*) * SUM(c))) / 1000000.0 AS gini
        FROM ranked
        GROUP BY key_name
        ORDER BY key_name
    """,
)
def key_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The audit you run BEFORE a big join: per candidate join key, the
    per-key-count distribution summarized as key/row counts, the top
    key's share, and the Gini coefficient of the counts (0 = perfectly
    uniform, →1 = one mega-key). This is how join_skew_salted /
    join_skew_adaptive_salted decide they are needed — measured, not
    guessed; a Gini jump between runs is a data-drift alarm before it
    becomes a straggler task.

    Exactness: Gini is computed ENTIRELY in integers — counts c_i
    ranked ascending (key tiebreak), G = (2·Σi·c_i − (n+1)·Σc)/(n·Σc),
    numerator and denominator exact BIGINTs, one FLOOR-truncated
    division at the end — bit-identical across engines, no float
    accumulation anywhere. Scale: per-key counts are map-side-combined
    groupBys; the ranking window runs over KEY-COUNT rows (|distinct
    keys|, already reduced — never the fact table), one partition per
    audited key."""
    li = load_table(spark, "lineitem", sf_dir)
    ev = load_table(spark, "events", sf_dir)
    audits = (
        li.select(F.lit("lineitem.l_partkey").alias("key_name"), F.col("l_partkey").cast("string").alias("k"))
        .unionByName(
            li.select(F.lit("lineitem.l_suppkey").alias("key_name"), F.col("l_suppkey").cast("string").alias("k"))
        )
        .unionByName(
            ev.select(F.lit("events.user_id").alias("key_name"), F.col("user_id").cast("string").alias("k"))
        )
    )
    counts = audits.groupBy("key_name", "k").agg(F.count(F.lit(1)).cast("long").alias("c"))
    w = Window.partitionBy("key_name").orderBy("c", "k")
    ranked = counts.select("key_name", "c", F.row_number().over(w).alias("i"))
    n = F.count(F.lit(1))
    tot = F.sum("c")
    return (
        ranked.groupBy("key_name")
        .agg(
            n.cast("long").alias("n_keys"),
            tot.cast("long").alias("n_rows"),
            F.max("c").cast("long").alias("max_count"),
            (F.floor(F.max("c") * 1000000 / tot) / 1000000.0).alias("top_share"),
            (
                F.floor((2 * F.sum(F.col("i") * F.col("c")) - (n + 1) * tot) * 1000000 / (n * tot))
                / 1000000.0
            ).alias("gini"),
        )
        .orderBy("key_name")
    )


# --------------------------------------------------------------------------
# Mutual information (feature relevance)
# --------------------------------------------------------------------------


@query(
    "mutual_information_type_value",
    tier="EXT data-eng (feature relevance: MI between event type and value bin, nats)",
    oracle="""
        WITH binned AS (
            SELECT event_type AS t,
                   LEAST(9, GREATEST(0, CAST(FLOOR(value / 50.0) AS INT))) AS b
            FROM events
        ),
        joint AS (SELECT t, b, COUNT(*) AS n_tb FROM binned GROUP BY t, b),
        mt AS (SELECT t, SUM(n_tb) AS n_t FROM joint GROUP BY t),
        mb AS (SELECT b, SUM(n_tb) AS n_b FROM joint GROUP BY b),
        tot AS (SELECT SUM(n_tb) AS n FROM joint)
        SELECT CAST(t2.n AS BIGINT) AS n_events,
               ROUND(SUM((j.n_tb / t2.n) * LN((j.n_tb * t2.n)
                         / (CAST(mt.n_t AS DOUBLE) * mb.n_b))), 6) AS mi_nats,
               ROUND(-SUM_T.h, 6) AS h_type_nats,
               ROUND(-SUM_B.h, 6) AS h_bin_nats
        FROM joint j
        JOIN mt ON j.t = mt.t
        JOIN mb ON j.b = mb.b
        CROSS JOIN tot t2
        CROSS JOIN (SELECT SUM((n_t / t.n) * LN(n_t / t.n)) AS h
                    FROM mt CROSS JOIN tot t) SUM_T
        CROSS JOIN (SELECT SUM((n_b / t.n) * LN(n_b / t.n)) AS h
                    FROM mb CROSS JOIN tot t) SUM_B
        GROUP BY t2.n, SUM_T.h, SUM_B.h
    """,
)
def mutual_information_type_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between a categorical feature and a binned
    numeric one — the model-free "is this feature worth anything"
    screen (feature selection, leakage hunts: a near-h(type) MI says
    value basically encodes the type). Emits MI plus both marginal
    entropies (nats) so the reader can normalize either way.

    Plan shape: ONE conditional-count pass collapses the fact table to
    |types|×10 joint-count rows; marginals and totals are rollups OF
    THE JOINT frame (the corpus is read once); the entropy folds are
    ≤50-term aggregates. Cross-engine: counts exact, quotients into
    libm LN with a 6dp ROUND cut (relative wobble ~1e-16)."""
    binned = load_table(spark, "events", sf_dir).select(
        F.col("event_type").alias("t"),
        F.least(F.lit(9), F.greatest(F.lit(0), F.floor(F.col("value") / 50.0).cast("int"))).alias(
            "b"
        ),
    )
    joint = binned.groupBy("t", "b").agg(F.count(F.lit(1)).alias("n_tb")).localCheckpoint(
        eager=False
    )
    mt = joint.groupBy("t").agg(F.sum("n_tb").alias("n_t"))
    mb = joint.groupBy("b").agg(F.sum("n_tb").alias("n_b"))
    tot = joint.agg(F.sum("n_tb").alias("n"))
    h_t = (
        mt.crossJoin(F.broadcast(tot))
        .agg(F.sum((F.col("n_t") / F.col("n")) * F.log(F.col("n_t") / F.col("n"))).alias("h"))
        .select(F.col("h").alias("h_t"))
    )
    h_b = (
        mb.crossJoin(F.broadcast(tot))
        .agg(F.sum((F.col("n_b") / F.col("n")) * F.log(F.col("n_b") / F.col("n"))).alias("h"))
        .select(F.col("h").alias("h_b"))
    )
    return (
        joint.join(F.broadcast(mt), "t")
        .join(F.broadcast(mb), "b")
        .crossJoin(F.broadcast(tot))
        .agg(
            F.max("n").cast("long").alias("n_events"),
            F.round(
                F.sum(
                    (F.col("n_tb") / F.col("n"))
                    * F.log(
                        (F.col("n_tb") * F.col("n"))
                        / (F.col("n_t").cast("double") * F.col("n_b"))
                    )
                ),
                6,
            ).alias("mi_nats"),
        )
        .crossJoin(F.broadcast(h_t))
        .crossJoin(F.broadcast(h_b))
        .select(
            "n_events",
            "mi_nats",
            F.round(-F.col("h_t"), 6).alias("h_type_nats"),
            F.round(-F.col("h_b"), 6).alias("h_bin_nats"),
        )
    )


# --------------------------------------------------------------------------
# Chi-square independence (categorical association)
# --------------------------------------------------------------------------


@query(
    "chisq_independence_audit",
    tier="EXT data-eng (chi-square independence test: event type x day-of-week)",
    oracle="""
        WITH cells AS (
            SELECT event_type AS t,
                   (epoch_us(ts) // 86400000000) % 7 AS d,
                   COUNT(*) AS o
            FROM events GROUP BY t, d
        ),
        mt AS (SELECT t, SUM(o) AS n_t FROM cells GROUP BY t),
        md AS (SELECT d, SUM(o) AS n_d FROM cells GROUP BY d),
        tot AS (SELECT SUM(o) AS n FROM cells),
        -- COMPLETE grid: unobserved (t, d) cells are structural zeros
        -- whose (0-E)^2/E terms are part of the statistic
        grid AS (
            SELECT mt.t, md.d, mt.n_t, md.n_d, COALESCE(c.o, 0) AS o
            FROM mt CROSS JOIN md
            LEFT JOIN cells c ON c.t = mt.t AND c.d = md.d
        )
        SELECT CAST(t2.n AS BIGINT) AS n_events,
               CAST((SELECT COUNT(*) FROM mt) AS BIGINT) AS n_types,
               CAST((SELECT COUNT(*) FROM md) AS BIGINT) AS n_dows,
               CAST(((SELECT COUNT(*) FROM mt) - 1)
                    * ((SELECT COUNT(*) FROM md) - 1) AS BIGINT) AS dof,
               ROUND(SUM((g.o - CAST(g.n_t AS DOUBLE) * g.n_d / t2.n)
                         * (g.o - CAST(g.n_t AS DOUBLE) * g.n_d / t2.n)
                         / (CAST(g.n_t AS DOUBLE) * g.n_d / t2.n)), 6) AS chisq_stat,
               ROUND(SQRT(SUM((g.o - CAST(g.n_t AS DOUBLE) * g.n_d / t2.n)
                              * (g.o - CAST(g.n_t AS DOUBLE) * g.n_d / t2.n)
                              / (CAST(g.n_t AS DOUBLE) * g.n_d / t2.n))
                          / (t2.n * (LEAST((SELECT COUNT(*) FROM mt),
                                           (SELECT COUNT(*) FROM md)) - 1))), 6)
                   AS cramers_v
        FROM grid g
        CROSS JOIN tot t2
        GROUP BY t2.n
    """,
)
def chisq_independence_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square independence test between event type and
    day-of-week, plus Cramer's V effect size — the categorical cousin
    of mutual_information_type_value (DQ teams run exactly this to
    catch schedule-coupled event mixes: a batch job that only emits
    'error' on Sundays lights it up).

    Cross-engine: day-of-week is EPOCH-DAY ARITHMETIC ((epoch_us div
    86.4e9) % 7 — an anchor-arbitrary 0..6 index), never dayofweek()
    (Spark 1=Sunday vs DuckDB 0=Sunday, CLAUDE.md trap); counts are
    exact BIGINTs; expected counts and the statistic mirror the same
    expression tree on both engines with a 6dp ROUND cut over the
    <=35-term sum (the MI precedent — relative wobble ~1e-16).

    Scale: the fact table collapses to |types| x 7 cells in ONE
    partial-aggregated pass; marginals are rollups OF the cell frame
    (localCheckpoint'd, corpus read once); everything after is
    broadcast joins over a few dozen rows."""
    cells = (
        load_table(spark, "events", sf_dir)
        .groupBy(
            F.col("event_type").alias("t"),
            F.expr("(unix_micros(cast(ts as timestamp)) div 86400000000) % 7").alias("d"),
        )
        .agg(F.count(F.lit(1)).alias("o"))
        .localCheckpoint(eager=False)
    )
    mt = cells.groupBy("t").agg(F.sum("o").alias("n_t"))
    md = cells.groupBy("d").agg(F.sum("o").alias("n_d"))
    tot = cells.agg(F.sum("o").alias("n"))
    nt = mt.agg(F.count(F.lit(1)).alias("kt"))
    nd = md.agg(F.count(F.lit(1)).alias("kd"))
    e = F.col("n_t").cast("double") * F.col("n_d") / F.col("n")
    term = (F.col("o") - e) * (F.col("o") - e) / e
    # COMPLETE grid: a (t, d) combination with no events is a structural
    # zero whose (0-E)^2/E term belongs in the statistic (dropping it
    # understates dependence — caught by the planted-permutation test)
    grid = (
        mt.crossJoin(F.broadcast(md))
        .join(cells, ["t", "d"], "left")
        .select("t", "d", "n_t", "n_d", F.coalesce(F.col("o"), F.lit(0)).alias("o"))
    )
    return (
        grid.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(nt))
        .crossJoin(F.broadcast(nd))
        .groupBy()
        .agg(
            F.max("n").cast("long").alias("n_events"),
            F.max("kt").cast("long").alias("n_types"),
            F.max("kd").cast("long").alias("n_dows"),
            ((F.max("kt") - 1) * (F.max("kd") - 1)).cast("long").alias("dof"),
            F.round(F.sum(term), 6).alias("chisq_stat"),
            F.round(
                F.sqrt(
                    F.sum(term)
                    / (F.max("n") * (F.least(F.max("kt"), F.max("kd")) - 1))
                ),
                6,
            ).alias("cramers_v"),
        )
    )


def _profile_sql(col: str, kind: str, num_expr: str | None = None) -> str:
    """One UNION branch of the DuckDB ANALYZE twin: per-column n/nulls/
    exact-NDV plus type-appropriate min/max (numeric columns surface as
    DOUBLE, strings as VARCHAR with an exact integer-division mean
    length x100). Every COUNT/SUM is CAST to BIGINT (HUGEINT rule)."""
    ne = num_expr or col
    if kind == "num":
        minmax = (
            f"CAST(MIN({ne}) AS DOUBLE) AS min_num, CAST(MAX({ne}) AS DOUBLE) AS max_num,\n"
            "               CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str,\n"
            "               CAST(NULL AS BIGINT) AS avg_len_c"
        )
    else:
        minmax = (
            "CAST(NULL AS DOUBLE) AS min_num, CAST(NULL AS DOUBLE) AS max_num,\n"
            f"               MIN({col}) AS min_str, MAX({col}) AS max_str,\n"
            f"               CAST(CAST(SUM(LENGTH({col})) AS BIGINT) * 100 // COUNT({col}) AS BIGINT) AS avg_len_c"
        )
    return f"""
        SELECT '{col}' AS col_name,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(*) - COUNT({col}) AS BIGINT) AS n_null,
               CAST(COUNT(DISTINCT {col}) AS BIGINT) AS ndv,
               {minmax}
        FROM orders"""


_PROFILE_COLS = [
    ("o_orderkey", "num", None),
    ("o_custkey", "num", None),
    ("o_totalprice", "num", None),
    ("o_orderdate", "num", "DATEDIFF('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))"),
    ("o_orderstatus", "str", None),
    ("o_orderpriority", "str", None),
]


@query(
    "column_profile_report",
    tier="EXT quality (ANALYZE-style per-column statistics: exact NDV, nulls, min/max, mean length)",
    oracle="\n        UNION ALL\n".join(_profile_sql(c, k, e) for c, k, e in _PROFILE_COLS)
    + "\n        ORDER BY col_name",
)
def column_profile_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The statistics-collection pass behind every cost-based
    optimizer (ANALYZE TABLE ... COMPUTE STATISTICS FOR COLUMNS): per
    column of ``orders`` emit row count, null count, EXACT NDV, and
    type-appropriate extremes — numeric columns (timestamps via
    epoch-day) as raw DOUBLE min/max (bit-identical parquet values on
    both engines, so no rounding is needed or applied), string columns
    as binary min/max plus an exact integer-division mean length x100.

    Scale (100 TB): one branch per column, each a column-PRUNED
    parquet scan (ReadSchema carries exactly one column) with fully
    partial-aggregated min/max/count; the exact-NDV groupBy shuffles
    only distinct values. This is deliberately a union of independent
    single-column passes rather than one multi-distinct aggregate —
    Spark plans N simultaneous COUNT(DISTINCT)s as an N-way Expand
    (every row replicated N times BEFORE the shuffle), which loses to
    N pruned scans as soon as the table outgrows the page cache; at
    petabyte scale you'd swap the exact NDV for HLL partials
    (approx_count_distinct, certified separately) column-by-column."""
    orders = load_table(spark, "orders", sf_dir)
    frames = []
    for col, kind, _ in _PROFILE_COLS:
        if col == "o_orderdate":
            num = F.datediff(F.col(col).cast("date"), F.to_date(F.lit("1970-01-01")))
        else:
            num = F.col(col)
        base = orders.select(col)
        if kind == "num":
            frames.append(
                base.agg(
                    F.count(F.lit(1)).cast("long").alias("n_rows"),
                    (F.count(F.lit(1)) - F.count(col)).cast("long").alias("n_null"),
                    F.countDistinct(col).cast("long").alias("ndv"),
                    F.min(num).cast("double").alias("min_num"),
                    F.max(num).cast("double").alias("max_num"),
                ).select(
                    F.lit(col).alias("col_name"),
                    "n_rows",
                    "n_null",
                    "ndv",
                    "min_num",
                    "max_num",
                    F.lit(None).cast("string").alias("min_str"),
                    F.lit(None).cast("string").alias("max_str"),
                    F.lit(None).cast("long").alias("avg_len_c"),
                )
            )
        else:
            frames.append(
                base.agg(
                    F.count(F.lit(1)).cast("long").alias("n_rows"),
                    (F.count(F.lit(1)) - F.count(col)).cast("long").alias("n_null"),
                    F.countDistinct(col).cast("long").alias("ndv"),
                    F.min(col).alias("min_str"),
                    F.max(col).alias("max_str"),
                    F.sum(F.length(col)).cast("long").alias("sl"),
                    F.count(col).cast("long").alias("nn"),
                ).select(
                    F.lit(col).alias("col_name"),
                    "n_rows",
                    "n_null",
                    "ndv",
                    F.lit(None).cast("double").alias("min_num"),
                    F.lit(None).cast("double").alias("max_num"),
                    "min_str",
                    "max_str",
                    F.expr("(sl * 100) div nn").cast("long").alias("avg_len_c"),
                )
            )
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionByName(fr)
    return out.orderBy("col_name")
