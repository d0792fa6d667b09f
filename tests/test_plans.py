"""Physical-plan audits (SURVEY.md §4, the 100 TB mandate): these fail
if a plan regression would hurt at scale — filter not pushed to parquet,
dimension join not broadcast, projection not pruned."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from energi_data_etl_spark.plans.inspect import (
    assert_broadcast_join,
    assert_pushed_filter,
    explain_str,
    scan_read_schema,
)
from energi_data_etl_spark.queries import QUERIES


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    df = QUERIES["filter_projection"].fn(spark, sf_dir)
    assert_pushed_filter(df, "o_orderstatus")
    assert_pushed_filter(df, "o_totalprice")


def test_projection_prunes_read_schema(spark, sf_dir):
    df = QUERIES["filter_projection"].fn(spark, sf_dir)
    schema_line = scan_read_schema(df, "orders")
    # 3 projected + 2 filter-only columns; the untouched o_custkey must not be read
    assert "o_custkey" not in schema_line, schema_line


def test_star_join_broadcasts_dims(spark, sf_dir):
    df = QUERIES["join_star_revenue"].fn(spark, sf_dir)
    assert_broadcast_join(df, n_expected=3)


def test_topk_plans_take_ordered(spark, sf_dir):
    plan = explain_str(QUERIES["topk_orders"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan


def test_agg_has_partial_combine(spark, sf_dir):
    plan = explain_str(QUERIES["pricing_summary"].fn(spark, sf_dir))
    assert plan.count("HashAggregate") >= 2, plan  # partial + final


def test_whole_stage_codegen_covers_flagship(spark, sf_dir):
    # simple mode marks codegen stages with '*(n)'; AQE only materializes
    # the final (codegen-annotated) plan after execution
    df = QUERIES["flagship_daily_avg"].fn(spark, sf_dir)
    df.collect()
    plan = explain_str(df, mode="simple")
    assert "*(" in plan, plan


def test_asof_join_is_single_shuffle(spark, sf_dir):
    """The union+window rewrite must not plan a join (no pairwise blowup):
    exactly one Exchange on user_id for the window."""
    plan = explain_str(QUERIES["join_asof"].fn(spark, sf_dir), mode="simple")
    assert "Join" not in plan, plan
    assert plan.count("Exchange") == 1, plan


def test_exists_plans_semi_join(spark, sf_dir):
    """Correlated EXISTS (Q4) must decorrelate to a semi join, not a
    per-row subquery."""
    plan = explain_str(QUERIES["tpch_q4_order_priority"].fn(spark, sf_dir), mode="simple")
    assert "LeftSemi" in plan, plan


def test_not_in_plans_null_aware_anti_join(spark, sf_dir):
    """NOT IN (subquery) (Q16) must plan as a (null-aware) anti join."""
    plan = explain_str(QUERIES["tpch_q16_supplier_cnt"].fn(spark, sf_dir), mode="simple")
    assert "LeftAnti" in plan, plan


def test_q18_semi_join_and_topk(spark, sf_dir):
    """IN-with-HAVING (Q18): semi join + TakeOrderedAndProject (top-20
    without a total sort)."""
    plan = explain_str(QUERIES["tpch_q18_large_volume"].fn(spark, sf_dir), mode="simple")
    assert "LeftSemi" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_q8_dims_all_broadcast(spark, sf_dir):
    """The 7-way join (Q8) must broadcast every dimension — only the two
    fact tables may shuffle."""
    df = QUERIES["tpch_q8_market_share"].fn(spark, sf_dir)
    assert_broadcast_join(df, n_expected=5)
    plan = explain_str(df, mode="simple")
    assert "SortMergeJoin" not in plan or plan.count("SortMergeJoin") <= 2, plan


def test_q15_single_lineitem_scan(spark, sf_dir):
    """Q15's rank-for-max formulation must scan lineitem once (the SQL
    CTE form computes the revenue aggregate twice)."""
    plan = explain_str(QUERIES["tpch_q15_top_supplier"].fn(spark, sf_dir), mode="formatted")
    assert plan.count("lineitem.parquet") == 1, plan


def test_neardup_matmul_is_distributed(spark, sf_dir):
    """embedding_neardup_exact must be the block-paired kernel: the pair
    work happens in FlatMapGroupsInPandas over a block-pair shuffle —
    no BroadcastExchange of the corpus, no driver-side collect (there is
    no driver step in the plan at all)."""
    df = QUERIES["embedding_neardup_exact"].fn(spark, sf_dir)
    plan = explain_str(df, mode="simple")
    assert "FlatMapGroupsInPandas" in plan, plan
    assert "BroadcastExchange" not in plan, plan


def test_jaccard_join_is_prefix_filtered(spark, sf_dir):
    """ngram_jaccard_pairs must be the prefix-filter (AllPairs) shape:
    every join an equi-join on a high-cardinality key (the token or the
    pair ids) — no unconditional broadcast hint, no nested-loop /
    cartesian fallback, and the candidate generator joins on `tok`.
    AQE MAY still choose a broadcast at tiny SF from runtime sizes —
    that's fine; the hint (which ignores size) is what must be gone."""
    df = QUERIES["ngram_jaccard_pairs"].fn(spark, sf_dir)
    assert "ResolvedHint" not in explain_str(df, mode="extended")
    plan = explain_str(df, mode="simple")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "tok" in plan, plan


def test_split_assign_is_pure_map_stage(spark, sf_dir):
    """Hash-split assignment must add zero exchanges before the final
    agg: one scan, one partial+final aggregate pair, one shuffle."""
    df = QUERIES["split_train_val_test"].fn(spark, sf_dir)
    plan = explain_str(df, mode="simple")
    assert plan.count("Exchange") == 1, plan
    assert "Join" not in plan, plan


def test_contamination_broadcasts_benchmark_side(spark, sf_dir):
    """The benchmark shingle set must broadcast (it is the small side by
    construction); the corpus side must never be broadcast or looped."""
    df = QUERIES["contamination_ngram_overlap"].fn(spark, sf_dir)
    plan = explain_str(df, mode="simple")
    assert "BroadcastExchange" in plan, plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan


def test_merge_upsert_single_key_shuffle(spark, sf_dir):
    """The MERGE data-flow joins base and updates on the key once —
    SortMergeJoin FullOuter (or shuffled hash), never nested-loop."""
    plan = explain_str(QUERIES["merge_upsert_orders"].fn(spark, sf_dir), mode="simple")
    assert "FullOuter" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan, plan


def test_gapfill_spine_is_generated_not_scanned(spark, sf_dir):
    """The calendar spine must come from a generated sequence (a 1-row
    range + explode), not a scan; the only file scans are events."""
    plan = explain_str(QUERIES["gapfill_forward"].fn(spark, sf_dir), mode="formatted")
    assert plan.count("events.parquet") == 2, plan  # types + sparse series
    assert "Range" in plan, plan


def test_pii_redaction_is_pure_jvm(spark, sf_dir):
    """PII detect/redact must stay JVM-side (regexp_count/replace
    expressions) with map-side partial aggregation — no Python workers
    in the hot path of a compliance scrub that touches every byte."""
    plan = explain_str(QUERIES["pii_redaction_stats"].fn(spark, sf_dir), mode="simple")
    assert "EvalPython" not in plan, plan  # neither Batch- nor ArrowEvalPython
    assert plan.count("HashAggregate") >= 2, plan
    assert plan.count("Exchange") == 1, plan  # one shuffle: the per-source agg


def test_repetition_two_partial_agg_shuffles(spark, sf_dir):
    """2-gram counting: shuffles on (doc, gram) then doc then lang —
    every one partial-aggregated, no join, no Python."""
    plan = explain_str(QUERIES["repetition_topgram_stats"].fn(spark, sf_dir), mode="simple")
    assert "EvalPython" not in plan, plan
    assert "Join" not in plan, plan
    assert plan.count("HashAggregate") >= 4, plan  # partial+final per level


def test_domain_mixture_broadcasts_scalar_total(spark, sf_dir):
    """The 1-row corpus total must attach via broadcast (nested-loop
    over ONE row — the distributed scalar-subquery form), never a
    shuffle join, and the corpus is scanned once."""
    plan = explain_str(QUERIES["domain_mixture_plan"].fn(spark, sf_dir), mode="simple")
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_cleaning_funnel_no_python_one_window(spark, sf_dir):
    """Funnel = map-stage scoring + one fingerprint window + one
    groupBy: quality_score must compile to expressions (no Python),
    and the dedup rank must be a Window, not a self-join."""
    plan = explain_str(QUERIES["cleaning_funnel_report"].fn(spark, sf_dir), mode="simple")
    assert "EvalPython" not in plan, plan
    assert "Window" in plan, plan
    assert "Join" not in plan, plan


def test_sessionize_single_exchange(spark, sf_dir):
    """Gaps-and-islands sessionization: the LAG window, the running-sum
    window, the per-session agg AND the per-user agg all key on user_id
    — Spark must reuse ONE hash exchange for the whole chain (grouping
    keys are supersets of the partitioning), with no join."""
    plan = explain_str(QUERIES["sessionize_events_batch"].fn(spark, sf_dir), mode="simple")
    assert "EvalPython" not in plan, plan
    assert "Join" not in plan, plan
    assert plan.count("Exchange") == 1, plan


def test_funnel_chained_windows_no_self_join(spark, sf_dir):
    """The ordered funnel must be the chained-conditional-MIN-window
    form (3 Windows over one user_id exchange + one final single-
    partition agg), never the naive events-to-stage-agg self-join."""
    plan = explain_str(QUERIES["funnel_view_click_purchase"].fn(spark, sf_dir), mode="simple")
    assert "Join" not in plan, plan
    assert plan.count("Window") >= 1, plan  # chained specs may fuse into one op
    assert plan.count("Exchange") <= 2, plan  # user_id hash + final global agg


def test_cohort_join_back_no_cartesian(spark, sf_dir):
    """Cohort retention joins the fact back to the per-user first-week
    agg on the same key — an equi-join (SMJ or broadcast), never a
    cartesian, and the distinct+rollup stays partial-aggregated."""
    plan = explain_str(QUERIES["cohort_weekly_retention"].fn(spark, sf_dir), mode="simple")
    assert "CartesianProduct" not in plan, plan
    assert "EvalPython" not in plan, plan
    assert plan.count("HashAggregate") >= 4, plan


def test_transition_matrix_jvm_only(spark, sf_dir):
    """LAG-pair transition counts: one user_id window feeds the pair
    build; the normalizing share window runs on the tiny matrix. All
    JVM expressions, no Python, no join."""
    plan = explain_str(QUERIES["event_transition_matrix"].fn(spark, sf_dir), mode="simple")
    assert "EvalPython" not in plan, plan
    assert "Join" not in plan, plan
    assert plan.count("Window") >= 2, plan


def test_market_basket_topk_and_bounded_join(spark, sf_dir):
    """Pair generation is the r17 grouped set-expansion (collect_set +
    in-place sorted-array pair explode — see
    test_basket_pair_builds_are_single_shuffle_set_expansions, which
    pins Join OUT of the plan); this guard keeps the complementary
    invariants: never a cartesian, and the deterministic top-20 must
    plan as TakeOrderedAndProject (per-partition heaps, no global
    sort)."""
    plan = explain_str(QUERIES["market_basket_pairs"].fn(spark, sf_dir), mode="simple")
    assert "CartesianProduct" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_rfm_anchor_broadcast(spark, sf_dir):
    """The 1-row max-date anchor must attach via broadcast; the
    customer join must be an equi-join; tiles stay JVM windows."""
    plan = explain_str(QUERIES["rfm_customer_segments"].fn(spark, sf_dir), mode="simple")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "EvalPython" not in plan, plan


def test_embedding_centroids_single_shuffle(spark, sf_dir):
    """posexplode is a map-stage Generate; the (label, dim) centroid agg
    must partial-aggregate map-side and shuffle exactly once — no
    Python, no join, no vector materialized whole anywhere."""
    plan = explain_str(QUERIES["embedding_label_centroids"].fn(spark, sf_dir), mode="simple")
    assert "Generate" in plan, plan
    assert "EvalPython" not in plan, plan
    assert plan.count("Exchange") == 1, plan
    assert plan.count("HashAggregate") >= 2, plan


def test_histogram_broadcast_stats_no_sort(spark, sf_dir):
    """Histogram binning must be broadcast-stats + map-stage FLOOR —
    never a per-type sort or Python; two aggs (stats + counts)."""
    plan = explain_str(QUERIES["value_histogram_by_type"].fn(spark, sf_dir), mode="simple")
    assert "BroadcastExchange" in plan, plan
    assert "EvalPython" not in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_open_orders_sweep_is_linear(spark, sf_dir):
    """The sweep-line must stay linear: span agg + delta union + daily
    agg + one cumsum window over the bounded date spine. No cartesian
    day×order expansion anywhere."""
    plan = explain_str(QUERIES["open_orders_daily"].fn(spark, sf_dir), mode="simple")
    assert "CartesianProduct" not in plan, plan
    assert "Union" in plan, plan
    assert "Window" in plan, plan


def test_token_entropy_no_join_partial_aggs(spark, sf_dir):
    """Entropy = counts → per-doc normalize window → fold: pre-hashed
    int64 token keys, partial aggregation at every level, no Python,
    no join."""
    plan = explain_str(QUERIES["token_entropy_scores"].fn(spark, sf_dir), mode="simple")
    assert "EvalPython" not in plan, plan
    assert "Join" not in plan, plan
    assert "Window" in plan, plan
    assert plan.count("HashAggregate") >= 4, plan


def test_source_overlap_single_shuffle_no_join(spark, sf_dir):
    """The source-pair overlap must be the single-shuffle form —
    groupBy(shingle) → collect_set(source) → in-place JVM pair
    expansion — NOT the equi-self-join the oracle uses (which pays the
    shingle shuffle twice plus two sorts)."""
    plan = explain_str(QUERIES["source_overlap_matrix"].fn(spark, sf_dir), mode="simple")
    assert "Join" not in plan, plan
    assert "EvalPython" not in plan, plan
    assert "Generate" in plan, plan  # the pair explode


def test_winsorize_broadcast_cuts(spark, sf_dir):
    """P5/P95 cut points (|sources| rows) must broadcast back onto the
    corpus; clipping is a map stage."""
    plan = explain_str(QUERIES["length_winsorize_stats"].fn(spark, sf_dir), mode="simple")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "EvalPython" not in plan, plan


def test_global_row_index_no_single_reducer(spark, sf_dir):
    """The two-phase zip-index must never plan the oracle's shape (a
    Window over SinglePartition): the local row_number windows hash on
    pid and the offsets attach via broadcast."""
    plan = explain_str(QUERIES["global_row_index"].fn(spark, sf_dir), mode="simple")
    assert "SinglePartition" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "hashpartitioning(pid" in plan, plan


def test_doc_chunk_sliding_is_map_stage(spark, sf_dir):
    """Chunk accounting folds inside each row (no explode, no join):
    one partial-aggregated groupBy(lang) is the only exchange."""
    plan = explain_str(QUERIES["doc_chunk_sliding"].fn(spark, sf_dir), mode="simple")
    assert "Join" not in plan, plan
    assert "Generate" not in plan, plan
    assert plan.count("Exchange") == 1, plan


def test_skew_salted_join_shape(spark, sf_dir):
    """The salted join must actually exercise the shuffle-join path it
    demonstrates: SortMergeJoin on (key, salt) — never a broadcast —
    with the build side replicated by an explode."""
    plan = explain_str(QUERIES["join_skew_salted"].fn(spark, sf_dir), mode="simple")
    assert "SortMergeJoin" in plan, plan
    assert "BroadcastHashJoin" not in plan, plan
    assert "Generate" in plan, plan  # the S-way build-side replication


def test_zorder_audit_is_broadcast_plus_one_agg_exchange(spark, sf_dir):
    """The quantization stats must come back as a broadcast (no shuffle
    join on the fact), leaving only the final bucket agg's exchange plus
    the stats agg's own single-partition exchange."""
    df = QUERIES["zorder_layout_audit"].fn(spark, sf_dir)
    plan = explain_str(df, mode="simple")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_gapfill_linear_windows_share_one_sort(spark, sf_dir):
    """Backward and forward fill windows sort on the same (event_type,
    date) key — the plan must not pay two exchanges for them."""
    df = QUERIES["gapfill_linear_interpolate"].fn(spark, sf_dir)
    plan = explain_str(df, mode="simple")
    # all four fill frames (pv/pd/nv/nd) must collapse into ONE Window
    # operator over one sort — two Windows would mean a second exchange
    assert plan.count("Window") == 1, plan


def test_snapshot_diff_is_one_key_join_no_cartesian(spark, sf_dir):
    """The diff must be a single equi-join on the snapshot key (full
    outer SMJ — fine at any scale), never a nested-loop/cartesian
    comparison of snapshots."""
    plan = explain_str(QUERIES["snapshot_diff_orders"].fn(spark, sf_dir), mode="simple")
    assert "FullOuter" in plan, plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") == 1, plan


def test_drift_totals_are_broadcast_single_row(spark, sf_dir):
    """The period totals attach via a broadcast of a 1-row aggregate —
    the corpus-side plan must not shuffle to meet them."""
    plan = explain_str(QUERIES["event_type_drift"].fn(spark, sf_dir), mode="simple")
    assert "BroadcastExchange" in plan, plan
    # the only join is the scalar-attachment cross join against the
    # broadcast single-row totals
    assert plan.count("BroadcastNestedLoopJoin") == 1, plan


def test_survivorship_is_single_window_shuffle(spark, sf_dir):
    """Keep-best-copy dedup must cost exactly what min-id dedup costs:
    one Exchange on the cluster key for the ranking window, one for the
    report agg — no joins."""
    plan = explain_str(QUERIES["dedup_survivorship_quality"].fn(spark, sf_dir), mode="simple")
    assert "Join" not in plan, plan
    assert plan.count("Exchange") == 2, plan


def test_salting_spreads_hot_key_across_reducers(spark):
    """Counterfactual evidence for join_skew_salted: under plain
    hash(key) partitioning a 90%-hot key lands ~90% of rows on ONE
    reducer; salting by pmod(xxhash64(row-unique), S) provably spreads
    it. This is the quantitative claim the salted join's docstring
    makes — pinned on a constructed skew so it can't rot."""
    import pyspark.sql.functions as F

    P, S, N = 8, 8, 20000
    df = spark.range(N).select(
        F.when(F.col("id") % 10 < 9, F.lit(1)).otherwise(F.col("id")).alias("k"), "id"
    )
    mx_un = max(
        r["c"]
        for r in df.groupBy(F.pmod(F.hash("k"), F.lit(P)).alias("r"))
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    )
    mx_s = max(
        r["c"]
        for r in df.withColumn("salt", F.pmod(F.xxhash64("id"), F.lit(S)).cast("int"))
        .groupBy(F.pmod(F.hash("k", "salt"), F.lit(P)).alias("r"))
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    )
    assert mx_un >= int(0.9 * N), (mx_un, N)  # hot key concentrates
    assert mx_s <= mx_un // 2, (mx_s, mx_un)  # salt spreads it >=2x


def test_aqe_skew_split_fires_on_unsalted_counterfactual(spark):
    """The other half of the skew story (join_skew_salted docstring):
    AQE's runtime skew-split DOES cover the plain batch join — the
    executed adaptive plan marks the SortMergeJoin `skew=true` and
    splits the oversized partition. The manual salted form exists for
    where AQE cannot re-plan (deterministic co-partitioned pipelines,
    stream-stream state, bucketed writes); this test pins that the
    automatic path works so the manual recipe is a choice, not a
    workaround."""
    import pyspark.sql.functions as F

    confs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        big = spark.range(200000).select(
            F.when(F.col("id") % 10 < 9, F.lit(1)).otherwise(F.col("id")).alias("k"),
            F.col("id").alias("v"),
        )
        dim = spark.range(200000).select(F.col("id").alias("k"), (F.col("id") * 2).alias("w"))
        j = big.join(dim.hint("merge"), "k").groupBy().agg(F.count(F.lit(1)).alias("n"))
        j.collect()  # AQE decides at runtime — must execute, not just explain
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_boilerplate_blocklist_joins_by_broadcast(spark, sf_dir):
    """The df>=K blocklist is tiny by construction and must come back to
    the exploded grams as a broadcast — a shuffle join here would
    re-shuffle the corpus-sized gram stream; the only corpus-sized
    exchange allowed is the gram doc-frequency groupBy."""
    plan = explain_str(QUERIES["boilerplate_ngram_prune"].fn(spark, sf_dir), mode="simple")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_covariance_reads_corpus_once(spark, sf_dir):
    """The Gram kernel is the single corpus pass: the numpy MapInPandas
    fold lives inside a lazy localCheckpoint, so every downstream
    consumer (gram sum, column sums, count) scans the CHECKPOINTED
    partials RDD — partition-count sized — and the parquet corpus never
    appears in the reduction plan at all."""
    plan = explain_str(QUERIES["embedding_covariance_block"].fn(spark, sf_dir), mode="simple")
    assert "Scan ExistingRDD" in plan, plan  # consumers read the partials
    assert "parquet" not in plan, plan  # ...never the corpus again


def test_shuffle_shard_plan_no_global_sort(spark, sf_dir):
    """The reproducible shuffle must never plan a global order: shard
    windows hash-partition on the shard key (no SinglePartition
    anywhere) — the property that lets the permutation scale out."""
    plan = explain_str(QUERIES["shuffle_shard_plan"].fn(spark, sf_dir), mode="simple")
    assert "SinglePartition" not in plan, plan
    assert "hashpartitioning(shard" in plan, plan


def test_dynamic_partition_pruning_fires_on_partitioned_fact(spark, tmp_path):
    """The lifecycle sink writes the fact table partitionBy(date)
    (sources/sinks.py) precisely so dimension-filtered joins prune
    partitions at RUNTIME: a selective dim filter must inject a
    dynamicpruning subquery into the fact scan — at 100 TB this is the
    difference between scanning 3 days and 3 years."""
    import pyspark.sql.functions as F

    base = str(tmp_path)
    fact = spark.range(20000).select(
        (F.col("id") % 30 + 1).cast("int").alias("day"),
        F.col("id").alias("v"),
    )
    fact.write.partitionBy("day").parquet(f"{base}/fact")
    spark.range(30).select(
        (F.col("id") + 1).cast("int").alias("day"),
        F.when(F.col("id") < 3, "hot").otherwise("cold").alias("tag"),
    ).write.parquet(f"{base}/dim")
    f = spark.read.parquet(f"{base}/fact")
    d = spark.read.parquet(f"{base}/dim").filter(F.col("tag") == "hot")
    j = f.join(d, "day").groupBy().agg(F.sum("v").alias("s"))
    j.collect()
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan


def test_runtime_bloom_filter_reaches_probe_scan(spark, tmp_path):
    """Runtime bloom-filter injection (Spark 3.5+/4.x, on by default):
    a selective build side of a shuffle join plants might_contain on
    the probe side so non-matching rows die at the scan instead of
    riding the exchange — the automatic semi-join reduction that makes
    selective fact⋈dim shuffle joins viable at scale. Pinned here so a
    conf regression (someone disabling the optimizer flag) is caught."""
    import pyspark.sql.functions as F

    base = str(tmp_path)
    spark.range(20000).select((F.col("id") % 1000).alias("k"), F.col("id").alias("v")).write.parquet(
        f"{base}/fact"
    )
    spark.range(1000).select(
        F.col("id").alias("k2"),
        F.when(F.col("id") < 30, "hot").otherwise("cold").alias("tag"),
    ).write.parquet(f"{base}/dim")
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        # the injection needs a SELECTIVE filter on the creation side —
        # an unfiltered build table plants nothing (verified: same join
        # without the tag filter shows no might_contain)
        j = (
            spark.read.parquet(f"{base}/fact")
            .join(
                spark.read.parquet(f"{base}/dim").filter(F.col("tag") == "hot").hint("merge"),
                F.col("k") == F.col("k2"),
            )
            .groupBy()
            .count()
        )
        j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan.lower(), plan
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_scd2_pointintime_join_is_equi_on_key(spark, sf_dir):
    """The temporal join must plan as an EQUI join on the natural key
    with the interval residual as a post-join condition (broadcast at
    fixture scale, co-partitioned SMJ at real scale) — never a
    nested-loop or cartesian over the interval predicate."""
    plan = explain_str(QUERIES["scd2_pointintime_enrich"].fn(spark, sf_dir), mode="simple")
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "valid_from" in plan, plan  # residual rides the hash/merge join


def test_analyze_table_stats_feed_cbo(spark, sf_dir, tmp_path):
    """The cost-based-optimizer path at 100 TB starts with catalog
    statistics: ANALYZE TABLE COMPUTE STATISTICS must land an exact
    rowCount in the catalog, CBO must propagate it into the logical
    plan's stats, and a column-stats NDV must exist for the join key —
    without stats every size estimate degrades to file-size heuristics
    and join reordering flies blind."""
    warehouse = str(tmp_path / "wh")
    spark.sql(f"CREATE DATABASE IF NOT EXISTS cbo_t LOCATION '{warehouse}'")
    prev = spark.conf.get("spark.sql.cbo.enabled", None)
    try:
        spark.conf.set("spark.sql.cbo.enabled", "true")
        from energi_data_etl_spark.sources.tables import load_table

        load_table(spark, "nation", sf_dir).write.mode("overwrite").saveAsTable("cbo_t.nation")
        spark.sql(
            "ANALYZE TABLE cbo_t.nation COMPUTE STATISTICS FOR COLUMNS n_nationkey, n_regionkey"
        )
        exact = spark.table("cbo_t.nation").count()
        # catalog row count is exact and CBO propagates it into plan stats
        stats = (
            spark.table("cbo_t.nation")
            ._jdf.queryExecution()
            .optimizedPlan()
            .stats()
        )
        assert stats.rowCount().get() == exact, stats.toString()
        # column-level NDV recorded for the join key
        desc = {
            r.info_name: r.info_value
            for r in spark.sql(
                "DESCRIBE EXTENDED cbo_t.nation n_nationkey"
            ).collect()
        }
        assert int(desc["distinct_count"]) > 0, desc
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.cbo.enabled")
        else:
            spark.conf.set("spark.sql.cbo.enabled", prev)
        spark.sql("DROP TABLE IF EXISTS cbo_t.nation")
        spark.sql("DROP DATABASE IF EXISTS cbo_t")


def test_row_group_granularity_bounds_scan_parallelism(spark, tmp_path):
    """Parquet scans split at ROW-GROUP boundaries: a single-row-group
    file is one task no matter how small spark.sql.files.maxPartitionBytes
    gets — the root cause behind every 'repartition before the heavy
    map stage' fix in this repo (CLAUDE.md r07). The same data written
    with a small parquet block size carries many row groups and the
    scan fans out by itself; the difference is purely scheduling, the
    values must be identical."""
    import glob

    import pyarrow.parquet as pq

    df = spark.range(200000).selectExpr("id", "CAST(id AS DOUBLE) * 1.7 AS v", "uuid() AS s")
    one_rg = str(tmp_path / "one_rg")
    many_rg = str(tmp_path / "many_rg")
    df.coalesce(1).write.parquet(one_rg)
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    prev = {k: hconf.get(k) for k in ("parquet.block.size", "parquet.page.size")}
    hconf.setInt("parquet.block.size", 64 * 1024)
    hconf.setInt("parquet.page.size", 8 * 1024)
    try:
        df.coalesce(1).write.parquet(many_rg)
    finally:
        for k, v in prev.items():
            if v is None:
                hconf.unset(k)
            else:
                hconf.set(k, v)
    rgs = lambda p: pq.ParquetFile(glob.glob(f"{p}/part-*.parquet")[0]).metadata.num_row_groups  # noqa: E731
    assert rgs(one_rg) == 1
    assert rgs(many_rg) > 4, rgs(many_rg)

    prev_mpb = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(256 * 1024))
        n_tasks = lambda p: spark.read.parquet(p).rdd.getNumPartitions()  # noqa: E731
        assert n_tasks(many_rg) > 1, n_tasks(many_rg)
        a = spark.read.parquet(one_rg).agg({"v": "sum"}).collect()[0][0]
        b = spark.read.parquet(many_rg).agg({"v": "sum"}).collect()[0][0]
        assert abs(a - b) <= 1e-9 * abs(a)  # summation-order ulp across task layouts
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev_mpb)


def test_no_inferred_generate_filter_clones_shingle_pipeline(spark, sf_dir):
    """r17 optimization guard: exploding a withColumn'd COMPUTED array
    makes InferFiltersFromGenerate clone the whole generator child into
    a size(..)>0 filter that Catalyst pushes below the repartition —
    the tokenize+hash pipeline then runs twice, once single-threaded in
    the 1-task scan stage. The shingle queries explode the expression
    INLINE; this pins that no Filter condition in their plans contains
    the hash kernel."""
    import re

    for name in ("source_overlap_matrix", "contamination_ngram_overlap"):
        txt = explain_str(QUERIES[name].fn(spark, sf_dir))
        for cond in re.findall(r"Condition : (.*)", txt):
            assert "xxhash64" not in cond, f"{name}: heavy expr cloned into a filter: {cond[:200]}"


def test_basket_pair_builds_are_single_shuffle_set_expansions(spark, sf_dir):
    """r17 optimization guard: the basket/co-occurrence pair builds must
    stay the grouped set-expansion shape (one exchange feeding the
    order-set aggregate, pairs generated in place) — not the old
    distinct + self-join, which shuffled the fact projection three
    times and recomputed the distinct per join side."""
    plan = explain_str(QUERIES["market_basket_pairs"].fn(spark, sf_dir), mode="simple")
    assert "Join" not in plan, plan
    assert "Generate" in plan, plan
    assert plan.count("Exchange") == 2, plan  # order-set build + pair count


def test_q21_single_lineitem_scan_no_self_join(spark, sf_dir):
    """r17 optimization guard: Q21's EXISTS/NOT-EXISTS correlation is
    computed by chained per-order aggregations — exactly one lineitem
    scan in the plan and no lineitem self-join."""
    plan = explain_str(QUERIES["tpch_q21_waiting_supplier"].fn(spark, sf_dir))
    assert plan.count("lineitem.parquet") == 1, plan.count("lineitem.parquet")


@pytest.mark.parametrize("scale", [None, 10**12], ids=["float", "fixed"])
def test_pagerank_edge_cache_is_sorted_on_join_key(spark, monkeypatch, scale):
    """Optimization guard, for both arithmetic modes: pagerank's edge
    cache (edges + outdeg) must be persist()ed repartitioned AND sorted
    within partitions on src (localCheckpoint DISCARDS partitioning and
    ordering, so every iteration would re-exchange and re-sort |E|
    rows), and each iteration join must consume that cache in place:
    between the edge-cache InMemoryTableScan and the join above it there
    is NO hash exchange and NO sort. Only that path is pinned:
    exchanges elsewhere, such as the |V|-row rank frame meeting the
    cache, are free to change. The returned frame is a checkpoint scan,
    so persist() and localCheckpoint() are intercepted during a real
    pagerank() call and the iteration frames inspected directly."""
    import re

    from pyspark.sql.classic.dataframe import DataFrame as CDF

    from energi_data_etl_spark.operators.graph import pagerank

    persisted_plans: list[str] = []
    orig_persist = CDF.persist

    def spying_persist(self, *a, **kw):
        persisted_plans.append(explain_str(self, mode="simple"))
        return orig_persist(self, *a, **kw)

    monkeypatch.setattr(CDF, "persist", spying_persist)
    edges = spark.range(1000).select(
        (F.col("id") % 50).alias("src"), ((F.col("id") * 7) % 50).alias("dst")
    ).distinct()
    # at this size the planner would broadcast the edge cache and bypass
    # the sort-merge path under guard; at scale |E| is far above the
    # broadcast threshold
    prev_bhj = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        _, captured = _checkpoint_plans(
            monkeypatch, lambda: pagerank(edges, iterations=2, scale=scale).collect(), mode="simple"
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bhj)
    ew_plans = [p for p in persisted_plans if "Sort [src" in p and "hashpartitioning(src" in p]
    assert ew_plans, "no persisted frame is sorted+partitioned on src:\n" + "\n---\n".join(
        p[:400] for p in persisted_plans
    )

    def depth(ln: str) -> int:
        return len(ln) - len(ln.lstrip(" :+-"))

    n_scans = 0
    for plan in captured:
        lines = plan.splitlines()
        scans = [i for i, ln in enumerate(lines) if "InMemoryTableScan" in ln and "outdeg#" in ln]
        n_scans += len(scans)
        for i in scans:
            # walk the ancestors of the cache scan up to the join consuming it
            d, path = depth(lines[i]), []
            for ln in reversed(lines[:i]):
                if depth(ln) < d:
                    d = depth(ln)
                    node = ln.lstrip(" :+-")
                    if "Join" in node:
                        break
                    path.append(node)
            relayout = [n for n in path if re.match(r"(Sort \[|Exchange hashpartitioning)", n)]
            assert not relayout, f"edge cache re-exchanged/re-sorted per iteration: {relayout}\n{plan}"
    assert n_scans, "no iteration join reads the edge cache:\n" + "\n---\n".join(captured)


def _checkpoint_plans(monkeypatch, fn, mode: str = "formatted"):
    """Run fn() with DataFrame.localCheckpoint intercepted; returns
    (result, [plan of each frame at its checkpoint moment, in explain
    `mode`]).
    Checkpoint truncation hides these subtrees from every later explain
    (CLAUDE.md r17 lesson: sweep pre-checkpoint frames, not just final
    plans), so guards on checkpointed pipelines capture them here."""
    from pyspark.sql.classic.dataframe import DataFrame as CDF

    captured: list[str] = []
    orig = CDF.localCheckpoint

    def spying(self, *a, **kw):
        captured.append(explain_str(self, mode=mode))
        return orig(self, *a, **kw)

    monkeypatch.setattr(CDF, "localCheckpoint", spying)
    try:
        out = fn()
    finally:
        monkeypatch.undo()
    return out, captured


def test_sessionize_single_events_scan(spark, sf_dir, monkeypatch):
    """r18 guard (VERDICT r17 #4): sessionize_incremental_merge must
    scan events.parquet exactly ONCE — the narrow 4-column projection
    is checkpointed and the cut/old/new branches consume the
    materialized rows. The checkpoint truncates the final plan, so the
    scan count is asserted on the intercepted pre-checkpoint frames."""
    df, captured = _checkpoint_plans(
        monkeypatch, lambda: QUERIES["sessionize_incremental_merge"].fn(spark, sf_dir)
    )
    scans = sum(p.count("events.parquet") for p in captured)
    assert scans == 1, f"expected exactly 1 events scan across checkpointed frames, got {scans}"
    assert "events.parquet" not in explain_str(df), "final plan re-scans events.parquet"


def test_no_inferred_generate_filter_in_bm25_hybrid_tf(spark, sf_dir, monkeypatch):
    """r18 guard (VERDICT r17 #2): bm25/hybrid must tokenize once — no
    optimizer rule may clone the tokenize pipeline into a Filter
    condition (InferFiltersFromGenerate, the r17 shingle-query bug).
    Their tf/dl frames sit behind localCheckpoints, invisible to the
    final explain, so every pre-checkpoint frame is intercepted and its
    Filter conditions swept for the tokenize kernel."""
    import re

    for name in ("bm25_topk_search", "hybrid_retrieval_rrf"):
        df, captured = _checkpoint_plans(
            monkeypatch, lambda n=name: QUERIES[n].fn(spark, sf_dir)
        )
        for plan in captured + [explain_str(df)]:
            for cond in re.findall(r"Condition : (.*)", plan):
                assert "split(" not in cond and "xxhash64" not in cond, (
                    f"{name}: tokenize kernel cloned into a filter: {cond[:200]}"
                )
