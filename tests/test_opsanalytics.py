"""Method/invariant tests for the ops-analytics tier
(queries/opsanalytics.py): each operator is checked against an
independent reference — a brute-force python re-derivation, a conserved
quantity, or the definitional formulation — not just against its own
oracle SQL (which driver_sim already covers)."""

from __future__ import annotations

from collections import defaultdict

import pyspark.sql.functions as F

from energi_data_etl_spark.queries.opsanalytics import (
    ab_test_two_proportion,
    active_users_rolling_7d,
    floored_running_balance,
    max_concurrent_sessions,
    order_date_streaks,
    pareto_frontier_lineitem,
    proration_largest_remainder,
    run_length_collapse,
    sql_udf_surface,
)
from energi_data_etl_spark.sources.tables import load_table


def test_active_users_rolling_vs_bruteforce(spark, sf_dir):
    rows = (
        load_table(spark, "events", sf_dir)
        .select(F.col("ts").cast("date").alias("d"), "user_id")
        .collect()
    )
    by_day = defaultdict(set)
    for r in rows:
        by_day[r.d].add(r.user_id)
    days = sorted(by_day)
    got = {r.d: r for r in active_users_rolling_7d(spark, sf_dir).collect()}
    assert sorted(got) == days
    for d in days:
        window = set()
        for d2 in days:
            if 0 <= (d - d2).days <= 6:
                window |= by_day[d2]
        assert got[d].dau == len(by_day[d])
        assert got[d].wau_7d == len(window)
        assert 0 < got[d].stickiness <= 1.0


def test_max_concurrent_vs_global_bruteforce(spark, sf_dir):
    """Re-derive peak concurrency per day from raw sessions WITHOUT the
    day-splitting: for each day, sweep only that day's instants over
    ALL sessions. Certifies that the day-boundary split loses nothing."""
    ev = sorted(
        load_table(spark, "events", sf_dir)
        .select("user_id", "event_id", F.col("ts").cast("timestamp").cast("long").alias("s"))
        .collect(),
        key=lambda r: (r.user_id, r.s, r.event_id),
    )
    sessions = []
    prev_user, prev_s = None, None
    for r in ev:
        if r.user_id != prev_user or r.s - prev_s > 1800:
            sessions.append([r.s, r.s])
        else:
            sessions[-1][1] = r.s
        prev_user, prev_s = r.user_id, r.s
    got = {r.day: r.max_concurrent for r in max_concurrent_sessions(spark, sf_dir).collect()}
    # sweep each day's boundary instants against the full session list
    import datetime

    for day, want_max in got.items():
        day_start = int(datetime.datetime.combine(day, datetime.time()).timestamp())
        day_end = day_start + 86399
        instants = sorted(
            {max(st, day_start) for st, en in sessions if st <= day_end and en >= day_start}
        )
        brute = max(
            sum(1 for st, en in sessions if st <= t <= en) for t in instants
        )
        assert brute == want_max, (day, brute, want_max)


def test_order_date_streaks_longest_is_consistent(spark, sf_dir):
    df = order_date_streaks(spark, sf_dir)
    bad = df.filter(
        (F.col("longest_streak") < 1)
        | (F.col("longest_streak") > F.col("n_active_days"))
        | (F.col("n_streaks") > F.col("n_active_days"))
    )
    assert bad.count() == 0
    # brute-force a few customers
    rows = load_table(spark, "orders", sf_dir).select("o_custkey", F.col("o_orderdate").cast("date").alias("d")).collect()
    per = defaultdict(set)
    for r in rows:
        per[r.o_custkey].add(r.d)
    got = {r.o_custkey: r for r in df.collect()}
    for ck in list(per)[:50]:
        days = sorted(per[ck])
        streaks, cur = [], 1
        for a, b in zip(days, days[1:]):
            if (b - a).days == 1:
                cur += 1
            else:
                streaks.append(cur)
                cur = 1
        streaks.append(cur)
        assert got[ck].n_active_days == len(days)
        assert got[ck].n_streaks == len(streaks)
        assert got[ck].longest_streak == max(streaks)


def test_run_length_collapse_conserves_events(spark, sf_dir):
    df = run_length_collapse(spark, sf_dir)
    total = df.agg(F.sum("n_events")).first()[0]
    n_ev = load_table(spark, "events", sf_dir).count()
    assert total == n_ev  # RLE loses no events
    assert df.filter(F.col("longest_run") < 1).count() == 0


def test_pareto_frontier_vs_bruteforce(spark, sf_dir):
    pts = (
        load_table(spark, "lineitem", sf_dir)
        .groupBy("l_returnflag", "l_quantity")
        .agg(F.min("l_extendedprice").alias("p"))
        .collect()
    )
    by_flag = defaultdict(list)
    for r in pts:
        by_flag[r.l_returnflag].append((r.l_quantity, r.p))
    want = set()
    for flag, ps in by_flag.items():
        for q, p in ps:
            if not any(q2 > q and p2 <= p for q2, p2 in ps):
                want.add((flag, q, p))
    got = {
        (r.l_returnflag, r.qty, r.best_price)
        for r in pareto_frontier_lineitem(spark, sf_dir).collect()
    }
    assert got == want


def test_proration_conserves_to_the_cent(spark, sf_dir):
    alloc = proration_largest_remainder(spark, sf_dir)
    per_order = alloc.groupBy("o_orderkey").agg(F.sum("alloc_cents").alias("s"))
    oc = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", F.floor(F.col("o_totalprice") * 100 + 0.5).alias("total_cents")
    )
    joined = per_order.join(oc, "o_orderkey")
    assert joined.filter(F.col("s") != F.col("total_cents")).count() == 0
    assert alloc.filter(F.col("alloc_cents") < 0).count() == 0


def test_floored_balance_vs_stateful_loop(spark, sf_dir):
    rows = sorted(
        load_table(spark, "events", sf_dir)
        .select(
            "user_id",
            "event_id",
            F.col("ts").cast("timestamp").cast("long").alias("s"),
            (
                F.floor(F.col("value") * 100 + 0.5)
                * F.when(F.col("event_type") == "purchase", -10).otherwise(1)
            ).alias("delta"),
        )
        .collect(),
        key=lambda r: (r.user_id, r.s, r.event_id),
    )
    state = {}
    for r in rows:
        bal, mx, clamps = state.get(r.user_id, (0, 0, 0))
        bal = bal + r.delta
        if bal < 0:
            bal = 0
        if bal == 0 and r.delta < 0:
            clamps += 1
        state[r.user_id] = (bal, max(mx, bal), clamps)
    got = {r.user_id: r for r in floored_running_balance(spark, sf_dir).collect()}
    assert set(got) == set(state)
    for uid, (bal, mx, clamps) in state.items():
        assert got[uid].final_balance == bal, uid
        assert got[uid].max_balance == mx, uid
        assert got[uid].n_clamps == clamps, uid


def test_ab_split_is_deterministic_and_z_matches_scipy_form(spark, sf_dir):
    import math

    r = ab_test_two_proportion(spark, sf_dir).first()
    assert r.n_a > 0 and r.n_b > 0
    p_a, p_b = r.conv_a / r.n_a, r.conv_b / r.n_b
    pool = (r.conv_a + r.conv_b) / (r.n_a + r.n_b)
    se = math.sqrt(pool * (1 - pool) * (1 / r.n_a + 1 / r.n_b))
    want = math.floor((p_a - p_b) / se * 10000) / 10000
    assert r.z_floor4 == want


def test_sql_udf_inlines_into_codegen(spark, sf_dir):
    from energi_data_etl_spark.plans.inspect import explain_str

    df = sql_udf_surface(spark, sf_dir)
    plan = explain_str(df, mode="simple")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "WholeStageCodegen" in explain_str(df, mode="formatted") or "HashAggregate" in plan
    # SQL table UDF variant: parameterized over a temp view
    load_table(spark, "orders", sf_dir).createOrReplaceTempView("eds_orders_v")
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION eds_big_orders(thr DOUBLE)
        RETURNS TABLE(o_orderkey BIGINT, o_totalprice DOUBLE)
        RETURN SELECT o_orderkey, o_totalprice FROM eds_orders_v WHERE o_totalprice >= thr
        """
    )
    n_udtf = spark.sql("SELECT COUNT(*) AS n FROM eds_big_orders(300000.0)").first()["n"]
    n_direct = spark.sql("SELECT COUNT(*) AS n FROM eds_orders_v WHERE o_totalprice >= 300000.0").first()["n"]
    assert n_udtf == n_direct


# ---------------------------------------------------------------------------
# Plan evidence: docstring scale claims vs actual physical plans
# ---------------------------------------------------------------------------


def test_active_users_spine_is_broadcast_band_join(spark, sf_dir):
    """The day spine joins by broadcast nested loop (the band predicate
    is non-equi); the dedup'd (user, day) frame is checkpoint-truncated
    so it computes once for spine and probe."""
    from energi_data_etl_spark.plans.inspect import explain_str
    from energi_data_etl_spark.queries import QUERIES

    plan = explain_str(QUERIES["active_users_rolling_7d"].fn(spark, sf_dir), mode="simple")
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "Scan ExistingRDD" in plan, plan  # localCheckpoint: dedup computed once


def test_proration_windows_reuse_join_partitioning(spark, sf_dir):
    """Join + wsum window + leftover window + remainder rank all key on
    the order key: exactly the join's two input exchanges, none after."""
    from energi_data_etl_spark.plans.inspect import explain_str
    from energi_data_etl_spark.queries import QUERIES

    plan = explain_str(QUERIES["proration_largest_remainder"].fn(spark, sf_dir), mode="simple")
    assert plan.count("Exchange hashpartitioning") <= 2, plan


def test_balance_and_rle_single_user_exchange(spark, sf_dir):
    """floored_running_balance: ONE user_id exchange shared by both
    windows and the per-user rollup. run_length_collapse: the user_id
    exchange plus the final |event_type|-keyed report exchange, which
    is map-side combined (≤5 rows per task cross the wire)."""
    from energi_data_etl_spark.plans.inspect import explain_str
    from energi_data_etl_spark.queries import QUERIES

    plan = explain_str(QUERIES["floored_running_balance"].fn(spark, sf_dir), mode="simple")
    assert plan.count("Exchange hashpartitioning") == 1, plan
    plan = explain_str(QUERIES["run_length_collapse"].fn(spark, sf_dir), mode="simple")
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert "partial_count" in plan, plan  # report rollup combines map-side


def test_pareto_window_runs_on_reduced_frame(spark, sf_dir):
    """The running-min window consumes the per-(flag, qty) aggregate,
    not the fact table: the plan aggregates BEFORE the window sort."""
    from energi_data_etl_spark.plans.inspect import explain_str
    from energi_data_etl_spark.queries import QUERIES

    plan = explain_str(QUERIES["pareto_frontier_lineitem"].fn(spark, sf_dir), mode="simple")
    # the tree prints consumer-first: Window ABOVE (= downstream of) the
    # reducing HashAggregate means the window's input is the reduced frame
    assert "Window" in plan and "HashAggregate" in plan, plan
    assert plan.index("Window") < plan.index("HashAggregate"), plan


# ---------------------------------------------------------------------------
# Batch 10: revenue bridge / weighted median / KM hazard / BFS / compaction
# ---------------------------------------------------------------------------


def test_revenue_bridge_identity_holds_every_month(spark, sf_dir):
    """total(m) = total(m-1) + new + resurrected + expansion +
    contraction + churn(m), exactly, for every month index."""
    from energi_data_etl_spark.queries.opsanalytics import revenue_bridge_monthly

    rows = {r.month_start: r for r in revenue_bridge_monthly(spark, sf_dir).collect()}
    months = sorted(rows)
    for prev_m, m in zip(months, months[1:]):
        r, p = rows[m], rows[prev_m]
        assert (
            r.total_rev
            == p.total_rev
            + r.new_rev
            + r.resurrected_rev
            + r.expansion_rev
            + r.contraction_rev
            + r.churned_rev
        ), m
    first = rows[months[0]]
    assert first.total_rev == first.new_rev  # genesis month: everyone is new
    assert all(rows[m].churned_rev <= 0 and rows[m].contraction_rev <= 0 for m in months)


def test_weighted_median_vs_bruteforce(spark, sf_dir):
    from energi_data_etl_spark.queries.opsanalytics import weighted_median_by_flag

    li = (
        load_table(spark, "lineitem", sf_dir)
        .select("l_returnflag", "l_extendedprice", F.floor("l_quantity").alias("w"))
        .collect()
    )
    agg = defaultdict(lambda: defaultdict(int))
    for r in li:
        agg[r.l_returnflag][r.l_extendedprice] += r.w
    got = {r.l_returnflag: r for r in weighted_median_by_flag(spark, sf_dir).collect()}
    for flag, wm in agg.items():
        total = sum(wm.values())
        cum = 0
        want = None
        for price in sorted(wm):
            cum += wm[price]
            if 2 * cum >= total:
                want = price
                break
        assert got[flag].weighted_median_price == want
        assert got[flag].total_weight == total


def test_km_hazard_vs_bruteforce(spark, sf_dir):
    from energi_data_etl_spark.queries.opsanalytics import km_conversion_hazard

    ev = (
        load_table(spark, "events", sf_dir)
        .select("user_id", "event_type", F.col("ts").cast("timestamp").cast("long").alias("s"))
        .collect()
    )
    tend = max(r.s for r in ev)
    t0, tp = {}, {}
    for r in ev:
        if r.event_type == "view":
            t0[r.user_id] = min(t0.get(r.user_id, r.s), r.s)
    for r in ev:
        if r.event_type == "purchase" and r.user_id in t0 and r.s > t0[r.user_id]:
            tp[r.user_id] = min(tp.get(r.user_id, r.s), r.s)
    durs = []
    for uid, t in t0.items():
        if uid in tp:
            durs.append(((tp[uid] - t) // 86400, 1))
        else:
            durs.append(((tend - t) // 86400, 0))
    got = {r.dur_days: r for r in km_conversion_hazard(spark, sf_dir).collect()}
    event_days = sorted({d for d, c in durs if c == 1})
    assert sorted(got) == event_days
    for d in event_days:
        n_risk = sum(1 for dd, _ in durs if dd >= d)
        d_ev = sum(1 for dd, c in durs if dd == d and c == 1)
        assert got[d].n_at_risk == n_risk
        assert got[d].d_events == d_ev
        # hazard is monotone-bounded: d/n in (0, 1]
        assert 0 < got[d].hazard <= 1.0


def test_bfs_levels_vs_bruteforce(spark, sf_dir):
    from energi_data_etl_spark.queries.opsanalytics import bfs_reachability_levels

    ed = (
        load_table(spark, "lineitem", sf_dir)
        .filter(F.col("l_quantity") == 1)
        .select("l_suppkey", "l_partkey")
        .distinct()
        .collect()
    )
    adj = defaultdict(set)
    for r in ed:
        a, b = f"S{r.l_suppkey}", f"P{r.l_partkey}"
        adj[a].add(b)
        adj[b].add(a)
    seeds = {f"S{r.l_suppkey}" for r in ed if r.l_suppkey % 10 == 0}
    dist = {s: 0 for s in seeds}
    frontier = set(seeds)
    for lvl in (1, 2, 3):
        frontier = {n for f in frontier for n in adj[f] if n not in dist}
        for n in frontier:
            dist[n] = lvl
    want = defaultdict(lambda: [0, 0, 0])
    for node, d in dist.items():
        want[d][0] += 1
        want[d][1 if node.startswith("S") else 2] += 1
    got = {r.dist: r for r in bfs_reachability_levels(spark, sf_dir).collect()}
    assert sorted(got) == sorted(want)
    for d, (n, ns, np_) in want.items():
        assert (got[d].n_nodes, got[d].n_suppliers, got[d].n_parts) == (n, ns, np_), d


def test_compaction_layout_is_exact(spark, sf_dir):
    from energi_data_etl_spark.queries.opsanalytics import compaction_small_files

    r = compaction_small_files(spark, sf_dir).first()
    assert r.layout_ok
    assert r.files_written == (r.n_rows + 4095) // 4096
    assert r.max_rows_per_file <= 4096


def test_bag_set_ops_vs_counter(spark, sf_dir):
    from collections import Counter

    from energi_data_etl_spark.queries.opsanalytics import set_operations_bag

    o = load_table(spark, "orders", sf_dir).select("o_orderstatus", "o_orderpriority").collect()
    ca = Counter(r.o_orderpriority for r in o if r.o_orderstatus == "F")
    cb = Counter(r.o_orderpriority for r in o if r.o_orderstatus == "O")
    want_i = {p: min(ca[p], cb[p]) for p in ca if min(ca[p], cb[p]) > 0}
    want_e = {p: ca[p] - cb[p] for p in ca if ca[p] - cb[p] > 0}
    got = {(r.op, r.pr): r.n for r in set_operations_bag(spark, sf_dir).collect()}
    assert {k[1]: v for k, v in got.items() if k[0] == "intersect_all"} == want_i
    assert {k[1]: v for k, v in got.items() if k[0] == "except_all"} == want_e


def test_sql_variable_folds_into_pushed_filter(spark, sf_dir):
    """The variable's value must appear as a folded literal in the
    scan's pushed filters — proving parameterization costs nothing."""
    from energi_data_etl_spark.plans.inspect import explain_str
    from energi_data_etl_spark.queries.opsanalytics import sql_variables_surface

    plan = explain_str(sql_variables_surface(spark, sf_dir), mode="formatted")
    assert "250000" in plan, plan
    assert "PushedFilters" in plan and "GreaterThanOrEqual(o_totalprice,250000" in plan, plan


def test_pagerank_integer_twin_mass_and_float_agreement(spark, sf_dir):
    """The twin's top-20 is the head of the operator's full fixed-point
    rank frame, whose mass drift is bounded, and it agrees with the
    float ranking. Drift S - Σrank is >= 0 (floors only lose mass) and,
    per step, below |E| (each edge's `rank div outdeg` floor loses less
    than one unit per out-edge) + 3N (the DG div N, 85·x div 100 and
    base floors), on top of the initial S mod N < N."""
    from energi_data_etl_spark.operators.graph import pagerank
    from energi_data_etl_spark.queries.opsanalytics import (
        _PR_ITERS,
        _PR_SCALE,
        pagerank_integer_twin,
    )

    li = load_table(spark, "lineitem", sf_dir)
    ed = li.select(
        F.concat(F.lit("S"), F.col("l_suppkey").cast("string")).alias("a"),
        F.concat(F.lit("P"), F.col("l_partkey").cast("string")).alias("b"),
    ).distinct()
    n_edges = ed.count()

    top = pagerank_integer_twin(spark, sf_dir).collect()
    assert len(top) == 20 and top[0].rank_fp >= top[-1].rank_fp

    fixed = pagerank(ed, src="a", dst="b", iterations=_PR_ITERS, scale=_PR_SCALE)
    n, mass = fixed.agg(F.count(F.lit(1)), F.sum("rank")).first()
    drift = _PR_SCALE - mass
    assert 0 <= drift < n + _PR_ITERS * (n_edges + 3 * n), (drift, n, n_edges)
    fixed_top = fixed.orderBy(F.col("rank").desc(), "id").limit(20).collect()
    assert [(r.id, r.rank) for r in fixed_top] == [(r.node, r.rank_fp) for r in top]

    float_ranks = pagerank(ed, src="a", dst="b", iterations=_PR_ITERS)
    float_top = [r.id for r in float_ranks.orderBy(F.col("rank").desc(), "id").limit(20).collect()]
    overlap = len(set(float_top) & {r.node for r in top})
    assert overlap >= 15, (overlap, float_top, [r.node for r in top])


def test_fifo_matching_replays_queue_simulation(spark, sf_dir):
    """The interval-overlap formulation == a literal python FIFO queue
    simulation per part (the definitional algorithm), for every part in
    the fixture — totals, match counts, allocations, leftovers — plus
    the structural fan-out bound n_matches <= n_s + n_d - 1."""
    from energi_data_etl_spark.queries.opsanalytics import fifo_inventory_matching

    li = load_table(spark, "lineitem", sf_dir).select(
        "l_partkey", "l_returnflag", "l_quantity", "l_shipdate", "l_orderkey", "l_linenumber"
    ).collect()
    sides: dict[str, dict[int, list[int]]] = {"R": defaultdict(list), "A": defaultdict(list)}
    for r in sorted(li, key=lambda r: (r.l_shipdate, r.l_orderkey, r.l_linenumber)):
        if r.l_returnflag in sides:
            sides[r.l_returnflag][r.l_partkey].append(int(r.l_quantity))
    expect: dict[int, tuple] = {}
    for part in set(sides["R"]) | set(sides["A"]):
        sup = list(sides["R"].get(part, []))
        dem = list(sides["A"].get(part, []))
        n_s, n_d = len(sup), len(dem)
        i = j = 0
        s_left = sup[0] if sup else 0
        d_left = dem[0] if dem else 0
        n_matches = allocated = 0
        while i < len(sup) and j < len(dem):
            take = min(s_left, d_left)
            n_matches += 1
            allocated += take
            s_left -= take
            d_left -= take
            if s_left == 0:
                i += 1
                s_left = sup[i] if i < len(sup) else 0
            if d_left == 0:
                j += 1
                d_left = dem[j] if j < len(dem) else 0
        st, dt = sum(sup), sum(dem)
        assert n_matches <= max(0, n_s + n_d - 1)
        expect[part] = (st, dt, n_matches, allocated, st - allocated, dt - allocated)
    rows = fifo_inventory_matching(spark, sf_dir).collect()
    assert len(rows) == min(20, len(expect))
    want_order = sorted(expect.items(), key=lambda kv: (-kv[1][3], kv[0]))[: len(rows)]
    assert [(r.partkey, (r.supply_total, r.demand_total, r.n_matches, r.qty_allocated,
                         r.unmatched_supply, r.unmatched_demand)) for r in rows] == want_order
    for r in rows:
        assert r.qty_allocated == min(r.supply_total, r.demand_total)


def test_shortest_path_bounded_edge_build_on_large_graph(spark, tmp_path):
    """r11 regression guard for the bounded edge build: the frontier
    loop walks exactly layers 0-3, so the layer filters pushed in front
    of the edge localCheckpoint must be output-identical at ANY graph
    size (the fixture nation is always 25 rows at every SF, so the
    driver gate never exercises this). 5000 nodes = 1000 layers, of
    which the plan may touch only the first five; the DuckDB oracle
    enumerates paths definitionally over the same parquet."""
    import duckdb

    from energi_data_etl_spark.plans.parity import compare_frames
    from energi_data_etl_spark.queries import QUERIES

    d = str(tmp_path)
    (
        spark.range(5000)
        .select(F.col("id").alias("n_nationkey"))
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(f"{d}/nation.parquet")
    )
    q = QUERIES["shortest_path_layered_dag"]
    got = q.fn(spark, d).toPandas()
    assert len(got) == 20  # layers 1-4 x 5 nodes, regardless of graph size
    con = duckdb.connect()
    # Spark writes a parquet DIRECTORY; DuckDB needs the part-file glob
    con.execute(
        f"CREATE VIEW nation AS SELECT * FROM read_parquet('{d}/nation.parquet/*.parquet')"
    )
    want = con.execute(q.oracle).df()
    r = compare_frames("shortest_path_large_graph", got, want)
    assert r.ok, r.detail


def test_triangle_census_exact_on_planted_graph(spark, tmp_path):
    """graph_triangle_census on a hand-computed graph: order 1 is the
    clique K5 on parts {1..5} (10 triangles), order 3 overlays K4 on
    {3,4,5,6} (adds vertex 6 → 3 new triangles, 3 new edges; {3,4,5}
    must NOT double-count), order 2 is a bare edge {10,11}. Duplicate
    lineitem rows and the pair repeated across orders exercise both
    dedup layers. Expected: 14 edges; wedges Σ C(d,2) = 2·C(4,2) +
    3·C(5,2) + C(3,2) = 45; 13 triangles; clustering_ppm =
    ⌊3·13·10⁶/45⌋ = 866666 via the staged-div form."""
    from energi_data_etl_spark.queries.opsanalytics import graph_triangle_census

    rows = []
    for ok, parts in [(1, [1, 2, 3, 4, 5]), (2, [10, 11]), (3, [3, 4, 5, 6])]:
        rows += [(ok, p) for p in parts]
    # (1,3) duplicates an order-1 item; order 4 repeats the {3,4,5}
    # clique wholesale — every edge it implies already exists, so the
    # census must not change at all
    rows += [(1, 3), (4, 3), (4, 4), (4, 5)]
    df = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    df.write.parquet(str(tmp_path / "lineitem.parquet"))
    got = graph_triangle_census(spark, str(tmp_path)).collect()[0]
    assert (got.n_edges, got.n_wedges, got.n_triangles, got.clustering_ppm) == (
        14,
        45,
        13,
        866666,
    )

    # per-corner counts on the same graph: K5 members sit in C(4,2)=6
    # triangles each; {3,4,5} gain 2 more from vertex 6's K4 overlay
    # (v6 itself: 3). Top-5 by (triangles DESC, id): 3,4,5 then 1,2.
    # local_ppm: 8e6 // C(5,2) = 800000 and 6e6 // C(4,2) = 1000000.
    from energi_data_etl_spark.queries.opsanalytics import graph_local_clustering_topk

    top = [
        (r.part_key, r.degree, r.n_triangles, r.local_ppm)
        for r in graph_local_clustering_topk(spark, str(tmp_path)).collect()
    ]
    assert top == [
        (3, 5, 8, 800000),
        (4, 5, 8, 800000),
        (5, 5, 8, 800000),
        (1, 4, 6, 1000000),
        (2, 4, 6, 1000000),
    ]
