"""Extension-tier queries (SURVEY.md §2.10 U2/U3 + §4.3 skew + graph):
custom UDAF via applyInPandas, Python UDTF, salted aggregation, and
iterative connected-components dedup clustering.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..operators import text as X
from ..operators.arrays import sorted_pair_structs
from ..operators.graph import connected_components, pagerank
from ..operators.skew import salted_agg
from ..sources.tables import load_table
from .catalog import query


@query(
    "grouped_median_udaf",
    tier="U2 (custom UDAF via applyInPandas — Arrow-batched grouped kernel)",
    oracle="""
        SELECT event_type, ROUND(MEDIAN(value), 4) AS median_value, COUNT(*) AS n
        FROM events
        GROUP BY event_type
    """,
)
def grouped_median_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact grouped median through applyInPandas: each group arrives as
    one Arrow batch in pandas. (Spark 3.4+ has a native F.median — used
    in production; this query certifies the custom-UDAF path itself.)
    Scale note: a group must fit in one executor's memory — medians over
    mega-groups want percentile_approx or two-pass selection instead."""
    import pandas as pd

    ev = load_table(spark, "events", sf_dir).select("event_type", "value")

    def med(pdf: "pd.DataFrame") -> "pd.DataFrame":
        return pd.DataFrame(
            {
                "event_type": [pdf["event_type"].iloc[0]],
                "median_value": [round(float(pdf["value"].median()), 4)],
                "n": [len(pdf)],
            }
        )

    return ev.groupBy("event_type").applyInPandas(med, "event_type string, median_value double, n long")


@query(
    "tokenize_udtf",
    tier="U3 (Python UDTF — one row in, N rows out with position)",
    oracle="""
        SELECT doc_id,
               GENERATE_SUBSCRIPTS(l, 1) - 1 AS pos,
               UNNEST(l) AS token
        FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS l FROM documents WHERE doc_id < 30) t
    """,
)
def tokenize_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-valued tokenizer via a real Python UDTF (Spark 3.5+ / 4.x),
    joined laterally per document. The built-in equivalent is
    posexplode(split(...)) — kept JVM-side in the other queries; this
    query certifies the UDTF extension point for logic that genuinely
    needs Python per-row generation."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos int, token string")
    class Tokenize:
        def eval(self, text: str):  # noqa: ANN001
            for i, tok in enumerate((text or "").split(" ")):
                yield i, tok

    spark.udtf.register("tokenize_udtf_fn", Tokenize)
    d = load_table(spark, "documents", sf_dir).filter(F.col("doc_id") < 30)
    d.createOrReplaceTempView("docs_for_udtf")
    return spark.sql(
        "SELECT d.doc_id, CAST(t.pos AS BIGINT) AS pos, t.token FROM docs_for_udtf d, LATERAL tokenize_udtf_fn(d.text) t"
    )


@query(
    "salted_aggregation",
    tier="§4.3 (two-stage salted agg — hot-key skew mitigation)",
    oracle="""
        SELECT event_type,
               ROUND(SUM(value), 2)  AS sum_value,
               COUNT(value)          AS n,
               ROUND(MIN(value), 4)  AS min_value,
               ROUND(MAX(value), 4)  AS max_value,
               ROUND(AVG(value), 6)  AS avg_value
        FROM events
        GROUP BY event_type
    """,
)
def salted_aggregation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted two-stage aggregation MUST equal the direct groupBy — the
    oracle is the direct form; the Spark side runs the salted plan."""
    ev = load_table(spark, "events", sf_dir)
    out = salted_agg(ev, ["event_type"], "value", salt_buckets=16)
    return out.select(
        "event_type",
        F.round("sum_value", 2).alias("sum_value"),
        "n",
        F.round("min_value", 4).alias("min_value"),
        F.round("max_value", 4).alias("max_value"),
        F.round("avg_value", 6).alias("avg_value"),
    )


@query(
    "dedup_clusters",
    tier="L2+graph (near-dup pairs → connected components → cluster reps)",
    oracle="""
        WITH fps AS (
            SELECT doc_id,
                   MD5(ARRAY_TO_STRING(LIST_SORT(LIST_DISTINCT(
                       LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), x -> LENGTH(x) > 0))), ' ')) AS fp
            FROM documents
        ), dup_groups AS (
            SELECT fp FROM fps GROUP BY fp HAVING COUNT(*) > 1
        )
        SELECT f.doc_id AS id,
               MIN(f.doc_id) OVER (PARTITION BY f.fp) AS component
        FROM fps f JOIN dup_groups g ON f.fp = g.fp
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup endgame: bag-identical pair graph → iterative
    min-label connected components → (doc, cluster representative).
    On this fixture components coincide with fingerprint groups, which
    is exactly what makes the iterative result SQL-checkable; the chain
    topology (where one groupBy would NOT suffice) is covered in
    tests/test_graph_ops.py."""
    d = load_table(spark, "documents", sf_dir)
    # persist: both sides of the pair self-join read this (and without it
    # the tokenize+sort+md5 fingerprint runs twice per CC iteration)
    fps = d.select("doc_id", X.bag_fingerprint("text").alias("fp")).localCheckpoint(eager=False)
    a, b = fps.alias("a"), fps.alias("b")
    pairs = a.join(b, (F.col("a.fp") == F.col("b.fp")) & (F.col("a.doc_id") < F.col("b.doc_id"))).select(
        F.col("a.doc_id").alias("a"), F.col("b.doc_id").alias("b")
    )
    return connected_components(pairs).select("id", "component")


@query(
    "pagerank_supplier_part",
    tier="graph (fixed-iteration PageRank over the supplier-part supply graph)",
    oracle=None,
    doc="float power iteration: per-node contribution sums are "
    "FP-order-dependent across engines, so no SQL oracle; exactness is "
    "pinned vs a numpy power iteration (1e-9) plus mass-conservation "
    "invariants in tests/test_graph_ops.py",
)
def pagerank_supplier_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Node-importance ranking over the bipartite supplier<->part graph
    induced by lineitem (who supplies what): 3 power-method rounds of
    PageRank (operators/graph.py:pagerank — enough to separate hubs on a
    diameter-2 bipartite graph; the operator takes any count and its
    exactness is pinned at 8 rounds in tests), undirected via both edge
    directions. Node encoding keeps it one integer column: supplier s ->
    2s, part p -> 2p+1. Output is the top-50 hub nodes with rank floored
    at 1e-9 and a deterministic (rank desc, id) order — the 'which
    suppliers/parts anchor the supply network' analytics a warehouse
    team derives from the same fact table."""
    li = load_table(spark, "lineitem", sf_dir)
    # fixture files are single-row-group: fan the scan out before distinct
    supply = (
        li.repartition(spark.sparkContext.defaultParallelism, "l_suppkey")
        .select((F.col("l_suppkey") * 2).alias("s"), (F.col("l_partkey") * 2 + 1).alias("p"))
        .distinct()
    )
    # both directions via ONE explode pass — the union form duplicated the
    # whole repartition+distinct subtree into each branch (r17 opt, guide
    # §2.4: the persisted edge frame's one-time materialization halves)
    edges = supply.select(
        F.explode(
            F.array(
                F.struct(F.col("s").alias("src"), F.col("p").alias("dst")),
                F.struct(F.col("p").alias("src"), F.col("s").alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    # distinct, as the operator requires: supply is distinct and the two
    # directions cannot collide (even vs odd ids). Every node is a src,
    # so the operator finds no dangling nodes and skips that term.
    ranks = pagerank(edges, iterations=3, damping=0.85)
    return (
        ranks.select(
            F.when(F.col("id") % 2 == 0, F.lit("supplier")).otherwise(F.lit("part")).alias("node_kind"),
            F.floor(F.col("id") / 2).cast("bigint").alias("entity_id"),
            (F.floor(F.col("rank") * 1e9) / 1e9).alias("rank"),
        )
        .orderBy(F.col("rank").desc(), F.col("node_kind"), F.col("entity_id"))
        .limit(50)
    )


class MeltNumericUDTF:
    """Polymorphic UDTF: output schema decided at ANALYZE time from the
    table argument's schema — integer columns pass through as keys,
    double columns melt to (col_name, value) rows. The schema contract
    lives in `analyze`, so the same function melts ANY table without a
    per-table registration (Spark resolves it per call site)."""

    @staticmethod
    def analyze(t):  # noqa: ANN001, ANN205 - pyspark's UDTF analyze protocol
        from pyspark.sql.types import DoubleType, IntegerType, LongType, StringType, StructType
        from pyspark.sql.udtf import AnalyzeResult

        s = StructType()
        for f in t.dataType.fields:
            if isinstance(f.dataType, (LongType, IntegerType)):
                s = s.add(f.name, f.dataType)
        return AnalyzeResult(schema=s.add("col_name", StringType()).add("value", DoubleType()))

    def eval(self, row):  # noqa: ANN001
        keys, melts = [], []
        for name, v in zip(row.__fields__, row):
            if isinstance(v, bool):
                continue
            if isinstance(v, int):
                keys.append(v)
            elif isinstance(v, float):
                melts.append((name, v))
        for name, v in melts:  # null measures are dropped by contract
            yield (*keys, name, v)


@query(
    "melt_udtf_polymorphic",
    tier="U3-ext (polymorphic UDTF: TABLE argument + analyze-time dynamic schema)",
    oracle="""
        SELECT l_orderkey, l_linenumber, col_name, value FROM (
            SELECT l_orderkey, l_linenumber, 'l_quantity' AS col_name, l_quantity AS value
            FROM lineitem WHERE l_orderkey < 80
            UNION ALL
            SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
            FROM lineitem WHERE l_orderkey < 80
            UNION ALL
            SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
            FROM lineitem WHERE l_orderkey < 80
            UNION ALL
            SELECT l_orderkey, l_linenumber, 'l_tax', l_tax
            FROM lineitem WHERE l_orderkey < 80
        ) m WHERE value IS NOT NULL
    """,
)
def melt_udtf_polymorphic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U3 beyond the fixed-schema tokenizer: a TABLE-argument UDTF whose
    output schema is computed at analyze time from the argument's
    schema (int columns → keys, double columns → melted rows). This is
    the UDTF shape reusable libraries need — schema-generic operators
    registered once. Row-at-a-time Python is the cost (the UDTF
    protocol is per-row by definition); the input is filtered FIRST so
    the slow path sees only the slice, and the wide-to-long semantics
    are certified against a static 4-way UNION ALL oracle."""
    from pyspark.sql.functions import udtf

    spark.udtf.register("melt_numeric", udtf(MeltNumericUDTF))
    li = load_table(spark, "lineitem", sf_dir).filter(F.col("l_orderkey") < 80)
    li.select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_discount", "l_tax"
    ).createOrReplaceTempView("__melt_li")
    return spark.sql("SELECT * FROM melt_numeric(TABLE(SELECT * FROM __melt_li))")


@query(
    "brand_cooccurrence_triangles",
    tier="Graph-ext (triangle enumeration on a co-occurrence graph, exact)",
    oracle="""
        WITH ob AS (
            SELECT DISTINCT l.l_orderkey AS o, p.p_brand AS b
            FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        ), edges AS (
            -- relative support gate (2.2% of orders) so the filter has
            -- discriminating power at EVERY scale factor: absolute
            -- thresholds either pass everything or nothing as |orders|
            -- scales, and a complete graph makes triangle logic vacuous
            SELECT x.b AS u, y.b AS v, CAST(COUNT(*) AS BIGINT) AS support
            FROM ob x JOIN ob y ON x.o = y.o AND x.b < y.b
            GROUP BY x.b, y.b
            HAVING COUNT(*) >= 0.022 * (SELECT COUNT(DISTINCT o) FROM ob)
        )
        SELECT e1.u AS a, e1.v AS b, e2.v AS c,
               LEAST(e1.support, e2.support, e3.support) AS min_support
        FROM edges e1
        JOIN edges e2 ON e2.u = e1.v
        JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
    """,
)
def brand_cooccurrence_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle enumeration — the canonical graph primitive behind
    clustering coefficients and community seeds — on the brand
    co-purchase graph (brands co-appearing in an order; an edge needs
    support in >= 2.2% of orders — a RELATIVE gate, so the filter
    splits the edge set at any scale factor instead of saturating). The compact-then-join shape is the scalable one:
    the corpus collapses to DISTINCT (order, brand) first, the
    per-order self-join is bounded by brands-per-order (never corpus²),
    and the triangle join runs on the EDGE LIST with the a<b<c
    orientation so each triangle materializes exactly once and every
    join is an equi-join on node keys (shuffle by vertex — the
    standard distributed triangle algorithm). Exact DuckDB twin, no
    tolerance."""
    li = load_table(spark, "lineitem", sf_dir)
    p = load_table(spark, "part", sf_dir)
    # r17 opt (guide §2.4, the basket-rewrite shape): per-order sorted
    # brand sets via ONE key-only repartition + groupBy (collect_set ==
    # the old distinct; the part join broadcasts below it), u<v pairs
    # expanded in place — replaces distinct + an orderkey self-join that
    # shuffled the distinct frame twice. n_orders falls out of the same
    # checkpointed frame (row count) instead of a second distinct pass.
    osets = (
        li.join(p, li.l_partkey == p.p_partkey)
        .select(F.col("l_orderkey").alias("o"), F.col("p_brand").alias("b"))
        .repartition("o")
        .groupBy("o")
        .agg(F.sort_array(F.collect_set("b")).alias("bs"))
        .localCheckpoint(eager=False)  # feeds the pair expansion + the order count
    )
    n_orders = osets.count()  # bounded driver scalar (one int)
    pair_structs = sorted_pair_structs("bs", "u", "v")
    edges = (
        osets.filter(F.size("bs") > 1)
        .select(F.explode(pair_structs).alias("e"))
        .select("e.u", "e.v")
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= 0.022 * n_orders)
        .localCheckpoint(eager=False)  # consumed three times by the triangle join
    )
    e1 = edges.select(F.col("u").alias("a"), F.col("v").alias("b1"), F.col("support").alias("s1"))
    e2 = edges.select(F.col("u").alias("b2"), F.col("v").alias("c1"), F.col("support").alias("s2"))
    e3 = edges.select(F.col("u").alias("a3"), F.col("v").alias("c3"), F.col("support").alias("s3"))
    tri = (
        e1.join(e2, e1.b1 == e2.b2)
        .join(e3, (F.col("a") == F.col("a3")) & (F.col("c1") == F.col("c3")))
    )
    return tri.select(
        "a",
        F.col("b1").alias("b"),
        F.col("c1").alias("c"),
        F.least("s1", "s2", "s3").alias("min_support"),
    )


@query(
    "cogroup_order_reconciliation",
    tier="U2-ext (cogrouped applyInPandas: two keyed frames, one Arrow kernel per key group)",
    oracle="""
        SELECT o.o_orderkey AS orderkey,
               o.o_orderstatus AS status,
               CAST(COUNT(l.l_orderkey) AS BIGINT) AS n_lines,
               ROUND(CAST(COALESCE(SUM(l.l_extendedprice), 0) AS DOUBLE), 2) AS lines_total,
               ROUND(CAST(o.o_totalprice - COALESCE(SUM(l.l_extendedprice), 0) AS DOUBLE), 2)
                   AS recon_delta
        FROM orders o LEFT JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderkey < 500
        GROUP BY o.o_orderkey, o.o_orderstatus, o.o_totalprice
    """,
)
def cogroup_order_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cogroup API: TWO keyed frames arrive at one pandas kernel as
    separate DataFrames per key — the shape reconciliation, as-of, and
    custom-join logic takes when it outgrows SQL (here: header-vs-lines
    totals reconciliation per order, the classic ledger audit). Arrow
    batches per key group, one shuffle per side on the key; the
    certified claim is that the kernel's output equals the plain
    LEFT JOIN aggregate — including headers with NO lines (empty right
    pandas frame, the edge cogroup kernels mishandle first)."""
    import pandas as pd

    o = load_table(spark, "orders", sf_dir).filter(F.col("o_orderkey") < 500)
    li = load_table(spark, "lineitem", sf_dir).filter(F.col("l_orderkey") < 500)

    def recon(key, odf: "pd.DataFrame", ldf: "pd.DataFrame") -> "pd.DataFrame":
        total = float(ldf["l_extendedprice"].sum()) if len(ldf) else 0.0
        return pd.DataFrame(
            {
                "orderkey": [key[0]],
                "status": [odf["o_orderstatus"].iloc[0]],
                "n_lines": [len(ldf)],
                "lines_total": [round(total, 2)],
                "recon_delta": [round(float(odf["o_totalprice"].iloc[0]) - total, 2)],
            }
        )

    return (
        o.select("o_orderkey", "o_orderstatus", "o_totalprice")
        .groupBy("o_orderkey")
        .cogroup(li.select("l_orderkey", "l_extendedprice").groupBy("l_orderkey"))
        .applyInPandas(
            recon,
            "orderkey long, status string, n_lines bigint, lines_total double, recon_delta double",
        )
    )
