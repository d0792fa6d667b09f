"""Connected-components and salted-agg operator tests — topologies the
SQL-oracle query can't exercise (chains, multi-cluster merges)."""

from __future__ import annotations

from collections import Counter, defaultdict

import pyspark.sql.functions as F
import pytest

from energi_data_etl_spark.operators.graph import connected_components, pagerank
from energi_data_etl_spark.operators.skew import salted_agg


def test_cc_chain_merges_transitively(spark):
    """a-b, b-c, c-d is one component even though no single pair says so
    — the case a plain groupBy-on-fingerprint cannot solve."""
    pairs = spark.createDataFrame([(1, 2), (2, 3), (3, 4), (10, 11)], "a long, b long")
    got = {r.id: r.component for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_cc_handles_cluster_merge_through_late_edge(spark):
    # two cliques joined by one bridge edge
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (6, 7), (3, 5)], "a long, b long"
    )
    got = {r.id: r.component for r in connected_components(pairs).collect()}
    assert set(got.values()) == {1}


def test_cc_empty_edges(spark):
    pairs = spark.createDataFrame([], "a long, b long")
    assert connected_components(pairs).count() == 0


def test_salted_agg_equals_direct_agg_under_skew(spark):
    """90% of rows on one key (the skew shape): salted result must equal
    the direct groupBy exactly (sums of doubles merged identically)."""
    rows = [("hot", float(i % 7)) for i in range(9000)] + [("cold%d" % (i % 10), float(i)) for i in range(1000)]
    df = spark.createDataFrame(rows, "k string, v double").repartition(8)
    got = {r.k: (r.n, r.min_value, r.max_value) for r in salted_agg(df, ["k"], "v").collect()}
    want = {
        r.k: (r.n, r.min_value, r.max_value)
        for r in df.groupBy("k")
        .agg(F.count("v").alias("n"), F.min("v").alias("min_value"), F.max("v").alias("max_value"))
        .collect()
    }
    assert got == want
    assert got["hot"][0] == 9000


# small directed graph WITH a dangling node (4 has no out-edges)
_PR_EDGES = [(1, 2), (1, 3), (2, 3), (3, 1), (3, 4), (5, 1), (5, 4)]


def test_pagerank_matches_numpy_power_iteration(spark):
    """Exact-method check: the distributed fixed-iteration PageRank must
    reproduce a dense numpy power iteration (same damping, same dangling
    redistribution) to 1e-9 on a small directed graph WITH a dangling
    node (4 has no out-edges — its mass spreads uniformly)."""
    import numpy as np

    edge_list = _PR_EDGES
    pairs = spark.createDataFrame(edge_list, "src long, dst long")
    got = {r.id: r.rank for r in pagerank(pairs, iterations=8, damping=0.85).collect()}

    ids = sorted({n for e in edge_list for n in e})
    idx = {n: i for i, n in enumerate(ids)}
    n = len(ids)
    out = np.zeros(n)
    m = np.zeros((n, n))
    for s, d in edge_list:
        out[idx[s]] += 1
    for s, d in edge_list:
        m[idx[d], idx[s]] = 1.0 / out[idx[s]]
    r = np.full(n, 1.0 / n)
    for _ in range(8):
        dangling = r[out == 0].sum()
        r = (1 - 0.85) / n + 0.85 * (m @ r + dangling / n)
    want = {ids[i]: r[i] for i in range(n)}

    assert set(got) == set(want)
    for k in want:
        assert abs(got[k] - want[k]) < 1e-9, (k, got[k], want[k])
    assert abs(sum(got.values()) - 1.0) < 1e-9  # mass conservation


def test_pagerank_fixed_point_matches_floor_division_power_iteration(spark):
    """Exact-method check of the fixed-point mode: on the same graph the
    BIGINT ranks must EQUAL a pure-Python power iteration with floor
    division at every step (the algebra the integer-twin oracle
    certifies only through its top-20)."""
    scale = 10**12
    pairs = spark.createDataFrame(_PR_EDGES, "src long, dst long")
    got = {r.id: r.rank for r in pagerank(pairs, iterations=8, damping=0.85, scale=scale).collect()}

    ids = sorted({n for e in _PR_EDGES for n in e})
    n = len(ids)
    outdeg = Counter(s for s, _ in _PR_EDGES)
    base = (15 * (scale // n)) // 100
    r = {v: scale // n for v in ids}
    for _ in range(8):
        dg = sum(r[v] for v in ids if v not in outdeg)
        inc: dict[int, int] = defaultdict(int)
        for s, d in _PR_EDGES:
            inc[d] += r[s] // outdeg[s]
        r = {v: base + (85 * (inc[v] + dg // n)) // 100 for v in ids}

    assert got == r


@pytest.mark.parametrize("case", ["float", "fixed", "twin"])
def test_pagerank_releases_every_cache(spark, sf_dir, case):
    """No cache entry outlives the call: once the result is collected,
    the session's CacheManager holds nothing the call added — for both
    arithmetic modes and for the integer-twin query built on them."""
    from energi_data_etl_spark.queries.opsanalytics import pagerank_integer_twin

    spark.catalog.clearCache()
    if case == "twin":
        df = pagerank_integer_twin(spark, sf_dir)
    else:
        pairs = spark.createDataFrame(_PR_EDGES, "src long, dst long")
        df = pagerank(pairs, iterations=2, scale=None if case == "float" else 10**12)
    df.collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_pagerank_uniform_on_symmetric_cycle(spark):
    """On a symmetric cycle every node must end exactly uniform — any
    asymmetry in the contribution join would break this immediately."""
    edge_list = [(i, (i + 1) % 6) for i in range(6)]
    pairs = spark.createDataFrame(edge_list, "src long, dst long")
    got = [r.rank for r in pagerank(pairs, iterations=4).collect()]
    assert all(abs(x - 1.0 / 6) < 1e-12 for x in got)
