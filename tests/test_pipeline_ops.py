"""Training-data pipeline operator invariants (operators/pipeline.py):
split determinism/stability, leakage-safety, packing conservation."""

from __future__ import annotations

import pyspark.sql.functions as F

from energi_data_etl_spark.operators import pipeline as P
from energi_data_etl_spark.operators.text import fingerprint
from energi_data_etl_spark.sources.tables import load_table


def test_split_is_stable_under_corpus_growth(spark, sf_dir):
    """Hash-split membership is a pure function of the key: computing
    splits on a PREFIX of the corpus and on the full corpus must agree
    on every shared doc (appends never reshuffle old docs)."""
    d = load_table(spark, "documents", sf_dir)
    full = {r.doc_id: r.split for r in d.withColumn("split", P.assign_split(F.col("doc_id"))).select("doc_id", "split").collect()}
    prefix = {
        r.doc_id: r.split
        for r in d.filter(F.col("doc_id") < 200)
        .withColumn("split", P.assign_split(F.col("doc_id")))
        .select("doc_id", "split")
        .collect()
    }
    assert prefix == {k: v for k, v in full.items() if k < 200}


def test_split_proportions_roughly_hold(spark, sf_dir):
    d = load_table(spark, "documents", sf_dir)
    n = d.count()
    counts = dict(
        d.withColumn("s", P.assign_split(F.col("doc_id"))).groupBy("s").count().collect()
    )
    assert counts["train"] / n > 0.7 and counts["test"] / n < 0.2, counts


def test_cluster_split_never_leaks_duplicates(spark):
    """Two byte-identical docs with different ids must land in the same
    split when splitting by fingerprint (and may diverge by doc_id)."""
    rows = [(i, "identical near dup payload text") for i in range(50)] + [
        (100 + i, f"unique text {i}") for i in range(50)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string").withColumn("f", fingerprint("text"))
    by_fp = df.withColumn("s", P.assign_split(F.col("f")))
    leaked = (
        by_fp.groupBy("f").agg(F.countDistinct("s").alias("ns")).filter(F.col("ns") > 1).count()
    )
    assert leaked == 0


def test_packing_conserves_docs_and_tokens(spark, sf_dir):
    """Every doc lands in exactly one chunk; chunk token sums equal the
    corpus total; chunk ids are dense from 0."""
    d = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    from energi_data_etl_spark.operators.text import token_count

    packed = P.pack_into_chunks(d, token_count("text").cast("bigint"), "doc_id", budget=512)
    total_docs, total_toks = d.count(), packed.agg(F.sum("n_tok")).first()[0]
    assert packed.count() == total_docs
    chunks = packed.groupBy("chunk_id").agg(F.sum("n_tok").alias("t")).collect()
    assert sum(r.t for r in chunks) == total_toks
    ids = sorted(r.chunk_id for r in chunks)
    assert ids == list(range(len(ids)))
    # every chunk except possibly the last begins within budget of its
    # predecessor: chunk boundaries advance monotonically
    assert all(b - a >= 1 for a, b in zip(ids, ids[1:])) or len(ids) == 1


def test_hashed_shingles_detect_containment(spark):
    from energi_data_etl_spark.operators.dedup import hashed_shingles, shingles

    a = "alpha beta gamma delta epsilon zeta"
    b = "prefix words then alpha beta gamma delta epsilon zeta and more"
    c = "completely different tokens everywhere here now"
    df = spark.createDataFrame([(1, a), (2, b), (3, c)], "doc_id long, text string")
    hs = {r.doc_id: set(r.h) for r in df.select("doc_id", hashed_shingles(shingles("text", 3)).alias("h")).collect()}
    assert hs[1] <= hs[2], "every shingle of a substring-doc must appear in the container"
    assert not (hs[1] & hs[3])


# --- r06-late maintenance/monitoring tier invariants --------------------


def test_snapshot_diff_classes_partition_the_key_space(spark, sf_dir):
    """The diff classes must partition the union of snapshot keys, and
    every 'changed' key is exactly a both-sides %97 bump (the invariant
    the oracle can't prove because it recomputes the same way)."""
    from energi_data_etl_spark.queries.datapipe import snapshot_diff_orders

    res = {r.change_type: r for r in snapshot_diff_orders(spark, sf_dir).collect()}
    o = load_table(spark, "orders", sf_dir).select("o_orderkey")
    in_old = F.col("o_orderkey") % 13 != 0
    in_new = F.col("o_orderkey") % 17 != 0
    expect_added = o.filter(~in_old & in_new).count()
    expect_removed = o.filter(in_old & ~in_new).count()
    expect_changed = o.filter(in_old & in_new & (F.col("o_orderkey") % 97 == 0)).count()
    assert res["added"].n_rows == expect_added
    assert res["removed"].n_rows == expect_removed
    assert res["changed"].n_rows == expect_changed
    # every changed row moved exactly +500 cents
    assert res["changed"].net_cents_delta == 500 * expect_changed
    assert res["unchanged"].net_cents_delta == 0
    total = sum(r.n_rows for r in res.values())
    assert total == o.filter(in_old | in_new).count()


def test_survivorship_keeps_the_max_quality_member(spark, sf_dir):
    """Per cluster: exactly one survivor, and no dropped member has a
    strictly higher quality score than its cluster's survivor."""
    from energi_data_etl_spark.operators import text as X
    from energi_data_etl_spark.queries.datapipe import _prefix_cluster_key

    d = load_table(spark, "documents", sf_dir).select(
        "doc_id", _prefix_cluster_key().alias("ck"), X.quality_score("text").alias("q")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("ck").orderBy(F.col("q").desc(), "doc_id")
    ranked = d.withColumn("rn", F.row_number().over(w))
    per_cluster = ranked.groupBy("ck").agg(
        F.sum((F.col("rn") == 1).cast("int")).alias("n_surv"),
        F.max("q").alias("max_q"),
        F.max(F.when(F.col("rn") == 1, F.col("q"))).alias("surv_q"),
    )
    bad = per_cluster.filter((F.col("n_surv") != 1) | (F.col("surv_q") != F.col("max_q"))).count()
    assert bad == 0


def test_leakage_audit_counts_are_consistent(spark, sf_dir):
    """Leaked docs ≤ docs, leaked clusters ≤ clusters, and the naive
    split DOES leak on this corpus (the audit has real signal — the
    cluster-aware split exists precisely to zero this out)."""
    from energi_data_etl_spark.queries.datapipe import crosssplit_leakage_audit

    rows = crosssplit_leakage_audit(spark, sf_dir).collect()
    assert {r.split for r in rows} == {"train", "val", "test"}
    for r in rows:
        assert 0 <= r.n_leaked_clusters <= r.n_clusters
        assert 0 <= r.n_leaked_docs <= r.n_docs
    assert sum(r.n_leaked_docs for r in rows) > 0


def test_drift_kl_terms_sum_nonnegative(spark, sf_dir):
    """Sum of per-type KL terms = KL(new‖old) ≥ 0 (Gibbs), and the
    probability columns are valid distributions up to the documented
    1e-6 truncation."""
    from energi_data_etl_spark.queries.datapipe import event_type_drift

    rows = event_type_drift(spark, sf_dir).collect()
    assert abs(sum(r.p_old for r in rows) - 1.0) < 1e-4
    assert abs(sum(r.p_new for r in rows) - 1.0) < 1e-4
    assert sum(r.kl_term for r in rows) >= -1e-9
