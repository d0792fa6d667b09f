from .catalog import QUERIES, Query, query, spark_queries, oracle_sqls  # noqa: F401

# Importing the query modules registers them in QUERIES.
from . import flagship  # noqa: F401,E402
from . import relational  # noqa: F401,E402
from . import functions  # noqa: F401,E402
from . import joins  # noqa: F401,E402
from . import windows  # noqa: F401,E402
from . import streaming  # noqa: F401,E402
from . import analytics  # noqa: F401,E402
from . import tpch  # noqa: F401,E402
from . import extensions  # noqa: F401,E402
from . import robustness  # noqa: F401,E402
from . import llm  # noqa: F401,E402
from . import datapipe  # noqa: F401,E402
from . import timeseries  # noqa: F401,E402
from . import lifecycle  # noqa: F401,E402
from . import behavior  # noqa: F401,E402
from . import quality  # noqa: F401
from . import opsanalytics  # noqa: F401,E402
from . import spatial  # noqa: F401,E402
from . import sketches  # noqa: F401,E402

# ORDER MATTERS: the driver's per-round correctness file records only the
# FIRST 50 queries in registration order, so the window is rotated
# round-to-round until every query has a driver-certified row.
#
# The rotation is SELF-EXECUTING as of r11: rounds 9 and 10 had no
# builder session, so the frozen r08 window ran three times and burned
# 100 certification slots re-proving already-green queries. FIRST_50 is
# now computed at import time from the driver's own committed
# CORRECTNESS_r*.json artifacts (repo root): entry canary first, then
# every oracled query with NO hash-green row anywhere in the ledger
# (ordered by the pinned PRIORITY list below — streaming/state first,
# then the heavy/stateful tiers; names not in PRIORITY, i.e. queries
# added in later rounds, follow in registration order), then — if slots
# remain — certified queries stalest-first (oldest last-green round,
# registration order within a round). A builder-less round therefore
# still advances the ledger: the driver commits CORRECTNESS_rN.json at
# round close, and the next import recomputes the window from it.
#
# At r11 (artifacts r01..r10 present) this computes exactly the window
# the r10 verdict ordered: canary + 49 of the 68 never-certified,
# front-loading streaming_ohlc_candles / streaming_daily_active_users /
# the api_sink pair / ann_ivf_topk (the one latest-row-is-an-error
# query) / the two rows-only algorithm twins. At r12 it self-selects
# the 19 deferred never-certified + the stalest 30 (the 16 r04 rows,
# then oldest r05) — SURVEY.md §13's rotation table.
#
# ROWS-ONLY QUERIES STAY OUT OF THE WINDOW: the driver records a
# no-oracle query as an `err: no_oracle` row (CORRECTNESS_r06
# lsh_bucket_stats), i.e. it consumes a slot without producing a
# certification. Rows-only queries are carried by exact-method
# tests in tests/ instead (SURVEY.md §5.2).

CANARY = "flagship_daily_avg"

#: The never-certified pool at r11 open (ledger recomputed 2026-08-15
#: from CORRECTNESS_r01..r10), priority-ordered: positions 0-48 are the
#: r11 window body, 49-67 the r12 carry-over. Queries that certify
#: drop out of the computed window automatically; ones that FAIL a
#: round stay never-certified and are retried next round ahead of any
#: staleness refresh.
PRIORITY = [
    # -- streaming / stream-sink family (first: highest value if the
    #    window truncates; the only streaming queries without a row) --
    "streaming_ohlc_candles", "streaming_daily_active_users",
    "api_sink_stream_roundtrip", "api_sink_roundtrip",
    # -- the one latest-row-is-an-error query (VERDICT r10 item 2) --
    "ann_ivf_topk",
    # -- algorithm twins justifying the 2 rows-only exemptions --
    "neardup_simhash_md5", "pagerank_integer_twin",
    # -- heavy / stateful / iterative tier --
    "semdedup_cell_prune", "entity_resolution_clusters",
    "sessionize_incremental_merge", "shortest_path_layered_dag",
    "bfs_reachability_levels", "fifo_inventory_matching",
    # -- spatial --
    "spatial_point_in_polygon", "spatial_grid_radius_join",
    "spatial_grid_nearest_neighbor",
    # -- sketches --
    "bloom_filter_prejoin", "countmin_frequency_audit",
    "cms_join_cardinality",
    # -- governance / data-eng --
    "masking_surface", "cascade_delete_audit", "target_encoding_loo",
    "split_temporal_embargo", "token_budget_apportionment",
    # -- recursive / format surfaces --
    "hierarchy_rollup_recursive", "xml_roundtrip_extract",
    # -- finance / stats tier --
    "revenue_bridge_monthly", "km_conversion_hazard",
    "weighted_median_by_flag", "chisq_independence_audit",
    "mutual_information_type_value",
    # -- timeseries tier --
    "time_weighted_average_daily", "ohlc_hourly_resample",
    "seasonal_adjusted_anomaly", "interval_coalesce_users",
    "rolling_correlation_daily", "seasonal_naive_backtest",
    # -- behavioral analytics tier --
    "event_sequence_detection", "user_path_topk",
    "conversion_latency_quantiles", "attribution_last_touch",
    "trending_users_decayed",
    # -- quality / drift tier --
    "dq_expectation_suite", "fuzzy_join_prefix_filtered",
    "char_lm_quality_bits", "heavyhitters_misra_gries",
    "feature_equidepth_bins", "benford_first_digit_audit",
    "psi_value_drift",
    # -- r12 carry-over (position 49+): the lighter SQL-surface /
    #    window-analytics never-certified queries --
    "ab_test_two_proportion", "active_users_rolling_7d",
    "association_rules_lift", "changepoint_binary_segmentation",
    "column_profile_report", "compaction_small_files",
    "floored_running_balance", "key_skew_audit",
    "max_concurrent_sessions", "order_date_streaks",
    "pareto_frontier_lineitem", "pipe_syntax_surface",
    "proration_largest_remainder", "run_length_collapse",
    "set_operations_bag", "slo_burn_rate_alert", "sql_sugar_surface",
    "sql_udf_surface", "sql_variables_surface",
]


#: Plan-changed re-certification tier (VERDICT r12 item 2): a query
#: whose PLAN was rewritten AFTER its last driver certification is
#: value-verified only by driver_sim until the rotation re-selects it —
#: under pure stalest-first that can take ~3 rounds (percentile_disc's
#: r12 histogram rewrite, commit 43edc3a, landed post-window while its
#: green row still certifies the OLD buffering plan). Entries map
#: query name -> the round whose window the rewrite MISSED; the query
#: is slotted right after the never-certified tier until it has a green
#: row from a LATER round, then drops out automatically. Remove entries
#: once re-certified (they become harmless no-ops, but the list should
#: reflect the live backlog).
RECERT: dict[str, int] = {
    # The nine r17 optimization-round entries (pagerank_integer_twin,
    # source/contamination overlap, bm25/hybrid, basket trio, q21) were
    # all inside the r17 window and re-certified green in
    # CORRECTNESS_r17 on the final optimized tree — removed per the
    # policy note above. Add name -> missed-round whenever a certified
    # query's PLAN is rewritten after its last green row.
    # r18 optimization-round plan rewrites (value-identical, verified vs
    # oracle in-session; queued so the next driver window re-certifies):
    # - pagerank_integer_twin: now a thin caller of the operator's
    #   fixed-point mode (graph.pagerank(scale=...)); the plan changed
    #   again after the r18 edge-cache persist, so the entry stays
    # - basket trio + copurchase pair (graph_*): pair expansion now the
    #   shared sorted_pair_structs helper (embeds the size>=2 guard;
    #   also covers ADVICE r17 #1's ask to re-confirm the r17
    #   _copurchase_graph rewrite)
    # - bfs: bigint recursion keys; sessionize/pipeline/doc_chunk:
    #   single-scan / tokenize-once shapes; streaming trio: replay
    #   chunks through the shared write-once cache
    "pagerank_integer_twin": 18,
    "market_basket_pairs": 18,
    "association_rules_lift": 18,
    "brand_cooccurrence_triangles": 18,
    "graph_triangle_census": 18,
    "graph_local_clustering_topk": 18,
    "bfs_reachability_levels": 18,
    "sessionize_incremental_merge": 18,
    # (pipeline_end_to_end's V8 rewrite was measured and REVERTED —
    # its plan is back to the last-certified shape, so no entry)
    "doc_chunk_sliding": 18,
    "streaming_late_data_drop": 18,
    "streaming_update_mode_totals": 18,
    "streaming_foreachbatch_upsert": 18,
}


def certified_rounds(ledgers=None) -> dict[str, int]:
    """name -> latest round with a fully-green driver row (rows+schema+
    hash), read from the committed CORRECTNESS_r*.json artifacts at the
    repo root. LATEST-ROW-WINS (VERDICT r16 item 8): a query whose most
    recent ledger row is an error/mismatch is treated as never-certified
    — an old green row does not certify a query the driver has since
    seen fail. Empty on any read problem — the window then degrades to
    pure PRIORITY order, never to an import failure.

    ``ledgers``: optional ``[(round, {name: row})]`` for unit tests;
    default reads the repo-root artifacts."""
    import json
    import re
    from pathlib import Path

    latest: dict[str, tuple[int, bool]] = {}
    try:
        if ledgers is None:
            ledgers = []
            root = Path(__file__).resolve().parents[2]
            for f in sorted(root.glob("CORRECTNESS_r*.json")):
                m = re.search(r"r(\d+)", f.name)
                if not m:
                    continue
                try:
                    data = json.loads(f.read_text())
                except (OSError, ValueError):
                    continue
                ledgers.append((int(m.group(1)), data))
        for rnd, data in ledgers:
            if not isinstance(data, dict):
                continue
            for name, row in data.items():
                if not isinstance(row, dict):
                    continue
                ok = bool(
                    row.get("hash_match")
                    and row.get("rows_match")
                    and row.get("schema_match")
                )
                prev = latest.get(name)
                if prev is None or rnd >= prev[0]:
                    latest[name] = (rnd, ok)
    except Exception:
        return {}
    return {n: rnd for n, (rnd, ok) in latest.items() if ok}


def compute_first_50(green: dict[str, int], recert: dict[str, int] | None = None) -> list[str]:
    """Pure selection rule (unit-tested on synthetic ledgers): canary,
    then never-certified oracled queries in PRIORITY order (unknown
    names last, registration order), then RECERT entries whose latest
    green row predates their plan rewrite, then certified
    stalest-first. ``recert`` overrides the module RECERT for tests."""
    if recert is None:
        recert = RECERT
    reg = {n: i for i, n in enumerate(QUERIES)}
    pri = {n: i for i, n in enumerate(PRIORITY)}
    oracled = [n for n, q in QUERIES.items() if q.oracle is not None and n != CANARY]
    never = [n for n in oracled if n not in green]
    never.sort(key=lambda n: (pri.get(n, len(PRIORITY)), reg[n]))
    # plan-changed tier: certified, but the green row predates the
    # rewrite (green round <= the round the rewrite missed)
    recert = [
        n for n in recert
        if n in oracled and n in green and green[n] <= recert[n]
    ]
    window = [CANARY] + never[:49]
    window += [n for n in recert if n not in window][: 50 - len(window)]
    if len(window) < 50:
        stale = sorted(
            (n for n in oracled if n in green and n not in window),
            key=lambda n: (green[n], reg[n]),
        )
        window += stale[: 50 - len(window)]
    return window


FIRST_50 = compute_first_50(certified_rounds())


def _rotate(first: list[str]) -> None:
    missing = [n for n in first if n not in QUERIES]
    assert not missing, f"rotation names not registered: {missing}"
    assert len(first) == len(set(first)) == 50, "rotation must pin exactly 50 distinct names"
    ordered = {n: QUERIES[n] for n in first}
    ordered.update((n, q) for n, q in list(QUERIES.items()) if n not in ordered)
    QUERIES.clear()
    QUERIES.update(ordered)


_rotate(FIRST_50)
