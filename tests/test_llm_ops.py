"""Exact-method verification for the approximate LLM-pipeline operators
(SURVEY.md §5.2 item 3): MinHash/SimHash/ANN are declared rows-only for
the driver, so THESE tests are their correctness gate."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from energi_data_etl_spark.operators import dedup as D
from energi_data_etl_spark.operators import multimodal as M
from energi_data_etl_spark.operators import similarity as S
from energi_data_etl_spark.operators import text as X
from energi_data_etl_spark.sources.tables import load_table


# --------------------------------------------------------------------------
# MinHash + LSH vs brute-force Jaccard
# --------------------------------------------------------------------------


def _exact_pairs(spark, sf_dir, threshold=0.5):
    d = load_table(spark, "documents", sf_dir)
    base = d.select("doc_id", D.shingles("text", 3).alias("sh"))
    a, b = base.alias("a"), base.alias("b")
    jac = F.size(F.array_intersect("a.sh", "b.sh")) / F.greatest(F.size(F.array_union("a.sh", "b.sh")), F.lit(1))
    return {
        (r.a, r.b)
        for r in (
            a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
            .select(F.col("a.doc_id").alias("a"), F.col("b.doc_id").alias("b"), jac.alias("j"))
            .filter(F.col("j") >= threshold)
        ).collect()
    }


def test_minhash_recall_and_precision_vs_exact(spark, sf_dir):
    exact = _exact_pairs(spark, sf_dir, 0.5)
    assert exact, "fixture should contain near-dup pairs"
    d = load_table(spark, "documents", sf_dir)
    found = {(r.a, r.b) for r in D.near_dup_minhash(d, threshold=0.5).collect()}
    # precision is 1.0 by construction (exact-Jaccard verify stage)
    assert found <= exact | found and all(p in exact for p in found), "false positives escaped verify stage"
    recall = len(found & exact) / len(exact)
    assert recall >= 0.9, f"minhash recall {recall} (found {len(found)}/{len(exact)})"


def test_minhash_finds_synthetic_near_dups(spark):
    base = "the quick brown fox jumps over the lazy dog again and again every single day"
    rows = [
        (1, base),
        (2, base.replace("lazy", "sleepy")),  # one-word edit → high jaccard
        (3, "completely different words about spark shuffles and parquet footers here"),
        (4, base),  # exact copy
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {(r.a, r.b): r.jaccard for r in D.near_dup_minhash(df, threshold=0.4).collect()}
    assert (1, 4) in pairs and pairs[(1, 4)] == 1.0
    assert (1, 2) in pairs
    assert not any(3 in p for p in pairs)


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------


def _simhash_sigs(df):
    return df.select("doc_id", D.simhash_signature("text").alias("simhash"))


def _md5_60_simhash(text):
    """Pure-Python md5-60 SimHash: bit i is set iff more tokens have it
    set than clear (a tie clears it); no tokens → 0."""
    import hashlib

    hs = [int(hashlib.md5(t.encode()).hexdigest()[:15], 16) for t in text.lower().split(" ") if t]
    tallies = [sum(1 if (h >> i) & 1 else -1 for h in hs) for i in range(D.SIMHASH_BITS)]
    return sum(1 << i for i, t in enumerate(tallies) if t > 0), tallies


def test_simhash_signature_matches_pure_python_md5_60(spark):
    """The one SimHash kernel, checked bit for bit against a
    pure-Python md5-60 SimHash: a token-less doc signs to 0, and the
    two-token doc has tied bit tallies, which must come out cleared."""
    texts = ["", "   ", "Alpha beta", "alpha  alpha beta gamma", "the quick brown fox jumps over the lazy dog"]
    rows = [(i, t) for i, t in enumerate(texts)]
    got = {r.doc_id: r.simhash for r in _simhash_sigs(spark.createDataFrame(rows, "doc_id long, text string")).collect()}
    want = {i: _md5_60_simhash(t)[0] for i, t in rows}
    assert got == want
    assert got[0] == got[1] == 0
    assert 0 in _md5_60_simhash(texts[2])[1], "the two-token doc must exercise a tied tally"


def test_simhash_identical_docs_distance_zero(spark):
    rows = [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"), (3, "zeta eta theta iota kappa")]
    sigs = _simhash_sigs(spark.createDataFrame(rows, "doc_id long, text string"))
    s = {r.doc_id: r.simhash for r in sigs.collect()}
    assert s[1] == s[2] != s[3]
    pairs = D.simhash_candidate_pairs(sigs, max_hamming=3).collect()
    assert {(r.a, r.b, r.hamming) for r in pairs} == {(1, 2, 0)}


def test_simhash_small_edit_small_distance(spark):
    base = ["w%d" % i for i in range(60)]
    edited = base[:-1] + ["different"]
    df = spark.createDataFrame([(1, " ".join(base)), (2, " ".join(edited))], "doc_id long, text string")
    sigs = {r.doc_id: r.simhash for r in _simhash_sigs(df).collect()}
    from energi_data_etl_spark.operators.dedup import hamming64  # noqa: F401

    dist = bin(sigs[1] ^ sigs[2]).count("1")
    assert dist <= 16, f"1/60-word edit should move few bits, got {dist}"


# --------------------------------------------------------------------------
# ANN vs exact kNN
# --------------------------------------------------------------------------


def test_ann_recall_vs_exact(spark, sf_dir):
    e = load_table(spark, "embeddings", sf_dir)
    q = e.filter(F.col("vec_id") < 20)
    exact = {(r.query_id, r.neighbor_id) for r in S.exact_knn(q, e, k=5).collect()}
    approx = {(r.query_id, r.neighbor_id) for r in S.ann_lsh_knn(q, e, k=5).collect()}
    recall = len(approx & exact) / len(exact)
    # near-orthogonal random vectors are LSH's worst case; 12×3 tables
    # measured ≈0.94 here — gate at 0.75 for seed robustness
    assert recall >= 0.75, f"ANN recall {recall}"


def test_ann_ivf_recall_vs_exact(spark, sf_dir):
    """Pins the IVF operating envelope documented in ann_ivf_knn's
    docstring, on its worst case (i.i.d.-random vectors, no cluster
    structure): the 4/16 default probes 1/4 of the corpus (floor 0.5,
    measured ≈0.6), and widening to 8/16 must buy recall ≥0.8 —
    verifying the nprobe dial actually trades cost for recall."""
    e = load_table(spark, "embeddings", sf_dir)
    q = e.filter(F.col("vec_id") < 20)
    exact = {(r.query_id, r.neighbor_id) for r in S.exact_knn(q, e, k=5).collect()}
    approx_default = {(r.query_id, r.neighbor_id) for r in S.ann_ivf_knn(q, e, k=5).collect()}
    recall_default = len(approx_default & exact) / len(exact)
    assert recall_default >= 0.5, f"IVF recall at default 4/16: {recall_default}"
    approx_wide = {(r.query_id, r.neighbor_id) for r in S.ann_ivf_knn(q, e, k=5, nprobe=8).collect()}
    recall_wide = len(approx_wide & exact) / len(exact)
    assert recall_wide >= 0.8, f"IVF recall at nprobe=8: {recall_wide}"
    assert recall_wide >= recall_default, "widening nprobe must not lose recall"


def _twin_corpus(spark, n_base=150, dim=8):
    """n_base random vectors, each stored twice: vec_id i and its exact
    copy i + n_base, so every cosine ties with the twin's."""
    import numpy as np

    X = np.random.RandomState(5).randn(n_base, dim)
    rows = [(i + off, [float(x) for x in X[i]]) for off in (0, n_base) for i in range(n_base)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


@pytest.mark.parametrize("two_level", [False, True], ids=["one_level", "two_level"])
def test_ann_ivf_probing_every_cell_is_exact_knn(spark, two_level):
    """nprobe = n_centroids probes every cell, so IVF must return
    exact_knn's rows: the same ranks (twin ties to the smaller id, the
    self-pair dropped for queries drawn from the corpus) and cosines."""
    e = _twin_corpus(spark)
    q = e.filter(F.col("vec_id") % 7 == 0)
    exact = {(r.query_id, r.neighbor_id, r.rank): r.cos_sim for r in S.exact_knn(q, e, k=5).collect()}
    got = {
        (r.query_id, r.neighbor_id, r.rank): r.cos_sim
        for r in S.ann_ivf_knn(q, e, k=5, n_centroids=16, nprobe=16, two_level=two_level).collect()
    }
    assert got.keys() == exact.keys()
    for key, cos in exact.items():
        assert got[key] == pytest.approx(cos, abs=1e-4), key


def test_ann_ivf_empty_query_batch(spark):
    e = _twin_corpus(spark)
    assert S.ann_ivf_knn(e.filter(F.col("vec_id") < 0), e, k=5).collect() == []


def test_ann_ivf_search_scans_the_corpus_once(spark, monkeypatch):
    """The search shuffles only for the top-k window (by query_id): no
    join carries the corpus to the queries, and no broadcast is made."""
    from pyspark import SparkContext

    from energi_data_etl_spark.plans.inspect import explain_str

    calls = []
    broadcast = SparkContext.broadcast
    monkeypatch.setattr(SparkContext, "broadcast", lambda sc, value: calls.append(value) or broadcast(sc, value))
    e = _twin_corpus(spark)
    plan = explain_str(S.ann_ivf_knn(e.filter(F.col("vec_id") < 10), e, k=5), mode="simple")
    assert calls == []
    assert "Join" not in plan, plan
    exchanges = [ln for ln in plan.splitlines() if "Exchange" in ln]
    assert len(exchanges) == 1 and "hashpartitioning(query_id" in exchanges[0], plan


def test_ann_is_deterministic(spark, sf_dir):
    e = load_table(spark, "embeddings", sf_dir)
    q = e.filter(F.col("vec_id") < 5)
    r1 = sorted(map(tuple, S.ann_lsh_knn(q, e, k=3).collect()))
    r2 = sorted(map(tuple, S.ann_lsh_knn(q, e, k=3).collect()))
    assert r1 == r2


def test_exact_knn_self_excluded_and_ranked(spark, sf_dir):
    e = load_table(spark, "embeddings", sf_dir)
    out = S.exact_knn(e.filter(F.col("vec_id") < 3), e, k=5).collect()
    by_q = {}
    for r in out:
        assert r.query_id != r.neighbor_id
        by_q.setdefault(r.query_id, []).append((r.rank, r.cos_sim))
    for q, rows in by_q.items():
        rows.sort()
        sims = [s for _, s in rows]
        assert sims == sorted(sims, reverse=True), f"ranks not by similarity for {q}"
        assert [r for r, _ in rows] == [1, 2, 3, 4, 5]


# --------------------------------------------------------------------------
# multimodal plumbing
# --------------------------------------------------------------------------


def test_payload_meta_types_and_checksum(spark, sf_dir):
    d = load_table(spark, "documents", sf_dir).limit(20)
    p = M.attach_payload(d)
    assert dict(p.dtypes)["payload"] == "binary"
    row = p.select("text", "payload", "payload_meta").first()
    assert row.payload == row.text.encode("utf-8")
    assert row.payload_meta.n_bytes == len(row.payload)


def test_decode_features_schema_and_determinism(spark, sf_dir):
    d = load_table(spark, "documents", sf_dir).limit(10)
    feats = M.decode_features(M.attach_payload(d), dim=8)
    rows = {r.doc_id: r for r in feats.collect()}
    rows2 = {r.doc_id: r for r in M.decode_features(M.attach_payload(d), dim=8).collect()}
    assert dict(feats.dtypes)["features"] == "array<float>"
    for k in rows:
        assert rows[k].feature_dim == 8 and len(rows[k].features) == 8
        assert 0.0 <= rows[k].mean_byte <= 255.0
        assert rows[k].features == rows2[k].features


def test_decode_kernel_capability_selection(monkeypatch):
    """The r17 capability gate (VERDICT r16 item 4): auto-selection
    resolves to the real Pillow kernel iff PIL.Image imports, the stub
    otherwise; explicit pins always win; asking for 'real' without the
    codec fails at plan build. Exercised by planting a fake PIL in
    sys.modules — no codec ships in this container."""
    import sys
    import types

    # this container has no Pillow: auto must resolve to the stub
    assert M.has_image_codec() is False
    assert M._select_decode_kernel(None) is M._decode_stub
    assert M._select_decode_kernel("stub") is M._decode_stub
    with pytest.raises(ImportError):
        M._select_decode_kernel("real")
    with pytest.raises(ValueError):
        M._select_decode_kernel("jpeg")

    fake_pil = types.ModuleType("PIL")
    fake_image = types.ModuleType("PIL.Image")
    fake_pil.Image = fake_image
    monkeypatch.setitem(sys.modules, "PIL", fake_pil)
    monkeypatch.setitem(sys.modules, "PIL.Image", fake_image)
    assert M.has_image_codec() is True
    assert M._select_decode_kernel(None) is M._decode_real
    assert M._select_decode_kernel("real") is M._decode_real
    # explicit stub pin (the @query surface) survives a codec-bearing env
    assert M._select_decode_kernel("stub") is M._decode_stub


def test_decode_real_falls_back_per_payload(monkeypatch):
    """Non-image bytes through the real kernel degrade row-by-row to
    the deterministic stub instead of aborting the batch (mixed-corpus
    contract). Faked PIL: open() raises the way Pillow does on
    undecodable bytes."""
    import sys
    import types

    fake_image = types.ModuleType("PIL.Image")

    def _open(_buf):
        raise OSError("cannot identify image file")

    fake_image.open = _open
    fake_image.NEAREST = 0
    fake_pil = types.ModuleType("PIL")
    fake_pil.Image = fake_image
    monkeypatch.setitem(sys.modules, "PIL", fake_pil)
    monkeypatch.setitem(sys.modules, "PIL.Image", fake_image)
    payload = b"definitely not a JPEG"
    assert M._decode_real(payload, 8) == M._decode_stub(payload, 8)


def test_frame_sample_plumbing(spark, sf_dir):
    d = load_table(spark, "documents", sf_dir).limit(5)
    framed = M.frame_sample(M.attach_payload(d), n_frames=4, frame_bytes=16)
    for r in framed.select("frames", "n_frames").collect():
        assert r.n_frames == 4
        assert all(isinstance(f, (bytes, bytearray)) and len(f) <= 16 for f in r.frames)


# --------------------------------------------------------------------------
# text ops
# --------------------------------------------------------------------------


def test_language_scores_on_planted_text(spark):
    rows = [
        (1, "the cat and the dog went to the park in the morning"),
        (2, "le chat et le chien vont au parc dans la matinee pour une promenade des amis"),
    ]
    out = {r.doc_id: r for r in X.language_scores(spark.createDataFrame(rows, "doc_id long, text string")).collect()}
    assert out[1].predicted_lang == "en"
    assert out[2].predicted_lang == "fr"


def test_quality_score_orders_garbage_below_prose(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog and runs through the quiet forest to find some food for its family " * 2),
        (2, "x y z"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string").withColumn("q", X.quality_score("text"))
    q = {r.doc_id: r.q for r in df.collect()}
    assert q[1] > q[2]


def test_winnowing_is_edit_robust(spark):
    """A one-word edit perturbs only nearby windows: the winnowing
    fingerprint sets overlap heavily for near-dups, not at all for
    unrelated docs."""
    base = " ".join(f"w{i}" for i in range(60))
    edited = base.replace("w30", "CHANGED")
    other = " ".join(f"z{i}" for i in range(60))
    df = spark.createDataFrame([(1, base), (2, edited), (3, other)], "doc_id long, text string")
    fps = {r.doc_id: set(r.fp) for r in df.select("doc_id", X.winnowing_fingerprint("text").alias("fp")).collect()}
    sim_near = len(fps[1] & fps[2]) / len(fps[1] | fps[2])
    sim_far = len(fps[1] & fps[3]) / len(fps[1] | fps[3])
    assert sim_near > 0.6, sim_near
    assert sim_far == 0.0


def test_fingerprints_detect_reorder(spark):
    rows = [(1, "alpha beta gamma"), (2, "gamma beta alpha"), (3, "alpha beta delta")]
    df = spark.createDataFrame(rows, "doc_id long, text string").select(
        "doc_id", X.fingerprint("text").alias("fp"), X.bag_fingerprint("text").alias("bfp")
    )
    r = {x.doc_id: x for x in df.collect()}
    assert r[1].fp != r[2].fp  # different order → different exact fp
    assert r[1].bfp == r[2].bfp  # same token set → same bag fp
    assert r[1].bfp != r[3].bfp


def test_covariance_matrix_matches_numpy_exactly(spark, sf_dir):
    """The distributed one-pass Gram kernel must reproduce the FULL
    64x64 population covariance of the corpus to float64 round-off
    (1e-9) against an in-memory numpy reference — the exact-method
    check behind embedding_covariance_block's 8-dim certified slice.
    Also pins symmetry, which the flat-index reduction must preserve."""
    import numpy as np

    from energi_data_etl_spark.operators.similarity import covariance_matrix
    from energi_data_etl_spark.sources.tables import load_table

    e = load_table(spark, "embeddings", sf_dir).repartition(8)
    got = np.zeros((64, 64))
    for r in covariance_matrix(e, "embedding").collect():
        got[r.i, r.j] = r.cov
    x = np.vstack([np.asarray(r.embedding, dtype=np.float64) for r in e.select("embedding").collect()])
    want = np.cov(x, rowvar=False, bias=True)  # population (divide by n)
    assert np.abs(got - want).max() < 1e-9
    assert np.abs(got - got.T).max() < 1e-12


def test_covariance_matrix_reads_the_vector_width_from_the_data(spark):
    """An 8-d column gives the 8x8 population covariance: the width is
    the data's, not a parameter."""
    import numpy as np

    from energi_data_etl_spark.operators.similarity import covariance_matrix

    x = np.random.default_rng(7).normal(size=(200, 8))
    df = spark.createDataFrame([(v.tolist(),) for v in x], "embedding array<double>").repartition(3)
    got = np.zeros((8, 8))
    rows = covariance_matrix(df, "embedding").collect()
    for r in rows:
        got[r.i, r.j] = r.cov
    assert len(rows) == 64
    assert np.abs(got - np.cov(x, rowvar=False, bias=True)).max() < 1e-9


def test_quantize_error_int8_matches_numpy_exactly(spark, sf_dir):
    """The int8 quantization kernel must reproduce the numpy reference
    bit-for-bit per vector (same floor(x/s + 0.5) clamp formula), and
    every per-vector MSE must respect the analytic worst-case bound for
    symmetric uniform quantization, (scale/2)^2 — the error of a value
    sitting exactly between two codes."""
    import numpy as np

    from energi_data_etl_spark.operators.similarity import quantize_error_int8
    from energi_data_etl_spark.sources.tables import load_table

    e = load_table(spark, "embeddings", sf_dir)
    got = (
        quantize_error_int8(e.select(F.col("vec_id").alias("label"), "embedding"))
        .toPandas()
        .sort_values("label")
        .reset_index(drop=True)
    )
    x = {
        r.vec_id: np.asarray(r.embedding, dtype=np.float64)
        for r in e.select("vec_id", "embedding").collect()
    }
    for _, row in got.iterrows():
        v = x[row.label]
        scale = np.abs(v).max() / 127.0
        q = np.clip(np.floor(v / scale + 0.5), -127.0, 127.0)
        err = v - q * scale
        # exact == is safe here: the kernel's (err*err).sum(axis=1) and this
        # 1D .sum() are the same numpy pairwise reduction over the same-length
        # float64 row — identical expression tree, unlike a hand-rolled loop
        mse = float((err * err).sum() / v.size)
        assert row.scale == scale
        assert row.mse == mse
        assert row.mse <= (scale / 2.0) ** 2 + 1e-18
    assert len(got) == len(x)  # no zero vectors dropped in this corpus


# ---------------------------------------------------------------------------
# semdedup_prune — the linear-at-scale SemDeDup path (r11). The certified
# fixed-K twin is queries/llm.py::semdedup_cell_prune; these tests pin the
# scaled operator's DECISION exactness and recall on planted duplicates.
# ---------------------------------------------------------------------------


def _planted_corpus(spark, n_base=400, n_dups=40, dim=16, eps=0.001):
    """n_base deterministic pseudo-random vectors + n_dups near-copies of
    the first n_dups (one coordinate nudged by eps -> cosine ~ 1)."""
    base = spark.range(n_base).select(
        F.col("id").alias("vec_id"),
        F.expr(
            f"transform(sequence(1, {dim}), j -> "
            "cast((abs(xxhash64(id, j)) % 2001 - 1000) / 1000.0 as float))"
        ).alias("embedding"),
    )
    dup = spark.range(n_dups).select(
        (F.col("id") + n_base).alias("vec_id"),
        F.expr(
            f"transform(sequence(1, {dim}), j -> "
            f"cast((abs(xxhash64(id, j)) % 2001 - 1000) / 1000.0 "
            f"+ if(j = 1, {eps}, 0.0) as float))"
        ).alias("embedding"),
    )
    return base.unionByName(dup)


def test_semdedup_prune_partition_and_planted_recall(spark):
    n_base, n_dups = 400, 40
    corpus = _planted_corpus(spark, n_base, n_dups)
    out = S.semdedup_prune(corpus, threshold=0.95, target_cell=64).toPandas()
    # partition property: one row per vector, pruned/kept disjoint cover
    assert len(out) == n_base + n_dups
    assert out["vec_id"].is_unique
    # a duplicate and its original share (by construction) near-identical
    # vectors; same-cell assignment is the algorithm's recall surface.
    dup_rows = out[out["vec_id"] >= n_base]
    pruned_dups = int(dup_rows["pruned"].sum())
    # the higher id of each planted pair is the duplicate -> it is the
    # one pruned whenever the pair lands in one cell. Require >= 90%
    # same-cell recall on near-identical vectors (they quantize to the
    # same centroid unless they sit exactly on a Voronoi boundary).
    assert pruned_dups >= 0.9 * n_dups, f"only {pruned_dups}/{n_dups} planted dups pruned"
    # originals (ids < n_dups) must be KEPT (keep-lowest-id rule) unless
    # they collide with an unplanted near-dup, which eps-random vectors
    # in 16 dims essentially never do at 0.95.
    originals = out[out["vec_id"] < n_dups]
    assert int(originals["pruned"].sum()) == 0


def test_semdedup_prune_decisions_match_exact_cosine(spark):
    corpus = _planted_corpus(spark, 200, 20)
    out = S.semdedup_prune(corpus, threshold=0.95, target_cell=64)
    # every pruned vector must have an exact-cosine > threshold partner
    # with a LOWER id inside its own cell (decision exactness: the
    # operator never prunes on a fabricated similarity).
    a = out.select(F.col("vec_id").alias("a_id"), F.col("cell").alias("a_cell"))
    b = out.filter("pruned").select(F.col("vec_id").alias("b_id"), F.col("cell").alias("b_cell"))
    vecs = corpus.select("vec_id", "embedding")
    pairs = (
        b.join(a, (F.col("a_cell") == F.col("b_cell")) & (F.col("a_id") < F.col("b_id")))
        .join(vecs.withColumnsRenamed({"vec_id": "a_id", "embedding": "va"}), "a_id")
        .join(vecs.withColumnsRenamed({"vec_id": "b_id", "embedding": "vb"}), "b_id")
        .select("b_id", S.cosine(F.col("va"), F.col("vb")).alias("cos"))
        .groupBy("b_id")
        .agg(F.max("cos").alias("best"))
        .toPandas()
    )
    n_pruned = out.filter("pruned").count()
    assert len(pairs) == n_pruned
    assert (pairs["best"] > 0.95 - 1e-9).all()


def test_semdedup_prune_is_deterministic(spark):
    corpus = _planted_corpus(spark, 150, 15)
    r1 = S.semdedup_prune(corpus, threshold=0.9, target_cell=64).toPandas().sort_values("vec_id")
    r2 = S.semdedup_prune(corpus, threshold=0.9, target_cell=64).toPandas().sort_values("vec_id")
    assert (r1["pruned"].to_numpy() == r2["pruned"].to_numpy()).all()
    assert (r1["cell"].to_numpy() == r2["cell"].to_numpy()).all()


def test_semdedup_two_level_twin_boundary_margins():
    """The semdedup_two_level_twin hash gate relies on both engines'
    sequential dot-product folds producing IEEE-identical values; that
    is exact, but a fixture whose cosine landed within ulps of the 0.4
    cutoff — or whose argmax top-2 scores tied within ulps — would make
    the gate fragile to any fold-order change (ADVICE r12). Assert the
    fixture clears all three boundaries by >= 1e-8 at both hash-gate
    SFs (measured: gaps ~1e-4, pair margin ~1e-3), so a fixture regen
    cannot silently land on a boundary. Pure DuckDB."""
    import os

    import duckdb

    for sf in ("0.001", "0.01"):
        d = f"/root/testdata/sf{sf}"
        if not os.path.isdir(d):
            continue
        coarse_gap, fine_gap, pair_margin = duckdb.sql(
            f"""
            WITH e AS (
                SELECT vec_id, embedding::DOUBLE[] AS v,
                       LIST_SUM(LIST_TRANSFORM(embedding::DOUBLE[], x -> x * x)) AS nrm
                FROM read_parquet('{d}/embeddings.parquet')
            ), cc AS (
                SELECT vec_id AS cid, v AS cv, nrm AS cnrm FROM e WHERE vec_id < 6
            ), fc AS (
                SELECT (vec_id - 6) // 6 AS fcid, (vec_id - 6) % 6 AS fid, v AS fv, nrm AS fnrm
                FROM e WHERE vec_id >= 6 AND vec_id < 42
            ), cscore AS (
                SELECT e.vec_id, e.v, e.nrm, cc.cid,
                       LIST_SUM(LIST_TRANSFORM(GENERATE_SERIES(1, 64),
                           i -> e.v[i] * cc.cv[i])) / SQRT(cc.cnrm) AS s
                FROM e CROSS JOIN cc
            ), cgap AS (
                SELECT s - LEAD(s) OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS gap,
                       ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
                FROM cscore
            ), cassign AS (
                SELECT vec_id, v, nrm, cid FROM (
                    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
                    FROM cscore) WHERE rn = 1
            ), fscore AS (
                SELECT a.vec_id, a.v, a.nrm, a.cid, f.fid,
                       LIST_SUM(LIST_TRANSFORM(GENERATE_SERIES(1, 64),
                           i -> a.v[i] * f.fv[i])) / SQRT(f.fnrm) AS s
                FROM cassign a JOIN fc f ON f.fcid = a.cid
            ), fgap AS (
                SELECT s - LEAD(s) OVER (PARTITION BY vec_id ORDER BY s DESC, fid) AS gap,
                       ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s DESC, fid) AS rn
                FROM fscore
            ), members AS (
                SELECT vec_id, v, nrm, cid * 6 + fid AS cell FROM (
                    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s DESC, fid) AS rn
                    FROM fscore) WHERE rn = 1
            ), pairmargin AS (
                SELECT MIN(ABS(LIST_SUM(LIST_TRANSFORM(GENERATE_SERIES(1, 64),
                           i -> a.v[i] * b.v[i]))
                       / (SQRT(a.nrm) * SQRT(b.nrm)) - 0.4)) AS m
                FROM members a JOIN members b ON a.cell = b.cell AND a.vec_id < b.vec_id
            )
            SELECT (SELECT MIN(gap) FROM cgap WHERE rn = 1),
                   (SELECT MIN(gap) FROM fgap WHERE rn = 1),
                   (SELECT m FROM pairmargin)
            """
        ).fetchone()
        assert coarse_gap > 1e-8, f"sf{sf}: coarse argmax gap {coarse_gap}"
        assert fine_gap > 1e-8, f"sf{sf}: fine argmax gap {fine_gap}"
        assert pair_margin > 1e-8, f"sf{sf}: pair cosine within {pair_margin} of 0.4 cutoff"


def test_semdedup_prune_two_level_quantizer(spark, monkeypatch):
    """The coarse x fine assign path (auto-on above TWO_LEVEL_MIN_CELLS,
    forced here) must satisfy the same partition / recall / exactness
    contract as single-level: identical-by-construction duplicates follow
    the same quantization path through both levels, so same-cell recall
    holds."""
    monkeypatch.setattr(S, "TWO_LEVEL_MIN_CELLS", 0)
    n_base, n_dups = 400, 40
    corpus = _planted_corpus(spark, n_base, n_dups)
    out = S.semdedup_prune(corpus, threshold=0.95, target_cell=64).toPandas()
    assert len(out) == n_base + n_dups and out["vec_id"].is_unique
    dup_rows = out[out["vec_id"] >= n_base]
    assert int(dup_rows["pruned"].sum()) >= 0.9 * n_dups
    assert int(out[out["vec_id"] < n_dups]["pruned"].sum()) == 0
    # decision exactness: a pruned vector has a lower-id same-cell
    # partner above the threshold under EXACT cosine
    a = spark.createDataFrame(out).select(
        F.col("vec_id").alias("a_id"), F.col("cell").alias("a_cell")
    )
    b = spark.createDataFrame(out[out["pruned"]]).select(
        F.col("vec_id").alias("b_id"), F.col("cell").alias("b_cell")
    )
    vecs = corpus.select("vec_id", "embedding")
    pairs = (
        b.join(a, (F.col("a_cell") == F.col("b_cell")) & (F.col("a_id") < F.col("b_id")))
        .join(vecs.withColumnsRenamed({"vec_id": "a_id", "embedding": "va"}), "a_id")
        .join(vecs.withColumnsRenamed({"vec_id": "b_id", "embedding": "vb"}), "b_id")
        .select("b_id", S.cosine(F.col("va"), F.col("vb")).alias("cos"))
        .groupBy("b_id")
        .agg(F.max("cos").alias("best"))
        .toPandas()
    )
    assert len(pairs) == int(out["pruned"].sum())
    assert (pairs["best"] > 0.95 - 1e-9).all()


def test_ann_ivf_two_level_recall_and_probe_width(spark, sf_dir):
    """VERDICT r13 #7: the two-level (IMI-shaped) quantizer option on
    the IVF index. On the fixture's worst-case i.i.d. vectors with the
    SAME flat-codebook size (16 cells), forcing two_level=True must
    (a) keep the nprobe dial honest — widening probes never loses
    recall — and (b) stay within the documented envelope: the IMI probe
    covers >= nprobe cells (nc*nf >= nprobe), so recall at the 4/16
    default must not collapse below the single-level floor's 0.5.
    Determinism: same seed => same result, both modes."""
    e = load_table(spark, "embeddings", sf_dir)
    q = e.filter(F.col("vec_id") < 20)
    exact = {(r.query_id, r.neighbor_id) for r in S.exact_knn(q, e, k=5).collect()}
    tl = {
        (r.query_id, r.neighbor_id)
        for r in S.ann_ivf_knn(q, e, k=5, two_level=True).collect()
    }
    recall_tl = len(tl & exact) / len(exact)
    assert recall_tl >= 0.5, f"two-level IVF recall at default 4/16: {recall_tl}"
    tl_wide = {
        (r.query_id, r.neighbor_id)
        for r in S.ann_ivf_knn(q, e, k=5, nprobe=8, two_level=True).collect()
    }
    recall_wide = len(tl_wide & exact) / len(exact)
    assert recall_wide >= recall_tl, "widening nprobe must not lose recall (two-level)"
    tl2 = {
        (r.query_id, r.neighbor_id)
        for r in S.ann_ivf_knn(q, e, k=5, two_level=True).collect()
    }
    assert tl == tl2, "two-level IVF must be deterministic under a fixed seed"


@pytest.mark.slow
def test_ann_imi_operating_point_floor(spark):
    """VERDICT r15 #2: pin the RAISED IMI operating point at a scale
    the slow tier can afford — the 250k-vector / K=488 / nprobe=128
    twin of the published 1M/K=1953/nprobe=384 point (same probed-cell
    fraction ≈ 20-26%). Worst-case i.i.d. vectors (the same xxhash
    generator as scripts/probe.py --ann-sweep, so the corpus IS the
    probe's). Two r16 levers moved the curve: the multi-sequence
    refined probe (global top-nprobe cells by fine-centroid similarity
    from a pooled coarse set — query-side only, corpus assignment
    untouched) and the 24-points-per-cell fit-sample floor. Measured
    corpus recall@5 = 0.86 (was 0.57 at the r15 np=64 point) — gate at
    0.7 so a quantizer or probe-selection regression trips it while
    k-means fit-sample jitter cannot."""
    n_vec, n_q = 250_000, 20
    e = (
        spark.range(n_vec)
        .repartition(64)
        .select(
            F.col("id").alias("vec_id"),
            F.transform(
                F.sequence(F.lit(1), F.lit(64)),
                lambda i: ((F.xxhash64("id", i) % 2001) / 1000.0).cast("float"),
            ).alias("embedding"),
        )
        .persist()
    )
    e.count()
    q = e.filter(F.col("vec_id") < n_q)
    exact = {(r.query_id, r.neighbor_id) for r in S.exact_knn(q, e, k=5).collect()}
    got = {
        (r.query_id, r.neighbor_id)
        for r in S.ann_ivf_knn(
            q, e, k=5, n_centroids=n_vec // 512, nprobe=128,
            corpus_count=n_vec, two_level=True,
        ).collect()
    }
    e.unpersist()
    recall = len(got & exact) / len(exact)
    assert recall >= 0.7, f"IMI recall at 250k/K=488/nprobe=128: {recall}"


# ---------------------------------------------------------------------------
# fit_centroids_distributed — the distributed quantizer fit (VERDICT r16 #1):
# removes the 500k driver-collect cap that starved K > ~20k cells of fit
# quality. These tests pin the selection rule, the fit's cluster recovery on
# structured data, and end-to-end parity of the distributed path (forced by
# lowering DISTRIBUTED_FIT_THRESHOLD) through ann_ivf_knn and semdedup_prune.
# ---------------------------------------------------------------------------


def test_use_distributed_fit_selection():
    """The fit flips exactly where 24 pts/cell exceeds the 500k
    sampled-fit collect cap (K > ~20.8k)."""
    assert S._use_distributed_fit(20_833) is False  # 24*K = 499,992
    assert S._use_distributed_fit(20_834) is True   # 24*K = 500,016


def _clustered_corpus(spark, n_clusters=8, per_cluster=250, dim=16, noise=0.15, seed=7):
    """Mixture-of-Gaussians corpus with KNOWN centers: cluster c's center
    is a deterministic pseudo-random unit vector, members = center +
    noise. Returns (df, centers ndarray)."""
    import numpy as np

    rng = np.random.RandomState(seed)
    centers = rng.randn(n_clusters, dim)
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    X = np.repeat(centers, per_cluster, axis=0) + noise * rng.randn(
        n_clusters * per_cluster, dim
    )
    pdf = __import__("pandas").DataFrame(
        {
            "vec_id": np.arange(len(X)),
            "embedding": [[float(v) for v in r] for r in X],
        }
    )
    return spark.createDataFrame(pdf, "vec_id long, embedding array<float>"), centers


def test_fit_centroids_distributed_recovers_clusters(spark):
    """On a K-cluster mixture, the distributed Lloyd fit lands one unit
    centroid near every true center (min best-cosine per centroid and
    per-center coverage both bounded)."""
    import numpy as np

    df, centers = _clustered_corpus(spark)
    C = S.fit_centroids_distributed(df, 8, kmeans_iters=5, seed=1, two_level=False)
    assert C.shape == (8, centers.shape[1])
    assert np.allclose(np.linalg.norm(C, axis=1), 1.0)
    sims = C @ centers.T
    # every fitted centroid sits inside some true cluster...
    assert sims.max(axis=1).min() > 0.8
    # ...and every true center is represented by some centroid
    assert sims.max(axis=0).min() > 0.8


def test_fit_centroids_distributed_two_level_shape_contract(spark):
    """The two-level return drops into the existing broadcast layout:
    (Cc, Cf, k_fine, n_valid), rectangular Cf with alias padding, all
    rows unit-norm, ceil(sqrt(K)) coarse cells."""
    import numpy as np

    df, _ = _clustered_corpus(spark)
    K = 9
    Cc, Cf, k_fine, n_valid = S.fit_centroids_distributed(
        df, K, kmeans_iters=4, seed=1, two_level=True
    )
    k_coarse = Cc.shape[0]
    assert k_coarse == 3 and k_fine == 3  # ceil(sqrt(9)), ceil(9/3)
    assert Cf.shape == (k_coarse, k_fine, Cc.shape[1])
    assert n_valid.shape == (k_coarse,) and (n_valid >= 1).all() and (n_valid <= k_fine).all()
    assert np.allclose(np.linalg.norm(Cc, axis=1), 1.0)
    assert np.allclose(np.linalg.norm(Cf.reshape(-1, Cf.shape[2]), axis=1), 1.0)
    for ci in range(k_coarse):
        for fi in range(int(n_valid[ci]), k_fine):  # padded slots alias slot 0
            assert np.array_equal(Cf[ci, fi], Cf[ci, 0])


def test_ann_ivf_distributed_fit_recall_matches_sampled(spark, monkeypatch):
    """The distributed fit through the full ann_ivf_knn path: same
    output contract, and recall vs exact within noise of the sampled
    fit on a clustered corpus (both quantizers recover the mixture)."""
    df, _ = _clustered_corpus(spark)
    q = df.filter(F.col("vec_id") % 250 < 2)  # 16 queries, 2 per cluster
    exact = {(r.query_id, r.neighbor_id) for r in S.exact_knn(q, df, k=5).collect()}

    def recall():
        got = {
            (r.query_id, r.neighbor_id)
            for r in S.ann_ivf_knn(
                q, df, k=5, n_centroids=8, nprobe=2, corpus_count=2000, two_level=False,
            ).collect()
        }
        return len(got & exact) / len(exact)

    r_sample = recall()
    monkeypatch.setattr(S, "DISTRIBUTED_FIT_THRESHOLD", 0)
    r_dist = recall()
    assert r_dist >= 0.85, f"distributed-fit recall {r_dist}"
    assert r_dist >= r_sample - 0.1, f"distributed {r_dist} vs sampled {r_sample}"


def test_semdedup_prune_distributed_fit_planted_recall(spark, monkeypatch):
    """semdedup_prune with the distributed fit keeps the partition
    property and the planted-duplicate recall bar of the sampled path."""
    monkeypatch.setattr(S, "DISTRIBUTED_FIT_THRESHOLD", 0)
    n_base, n_dups = 400, 40
    corpus = _planted_corpus(spark, n_base, n_dups)
    out = S.semdedup_prune(corpus, threshold=0.95, target_cell=64).toPandas()
    assert len(out) == n_base + n_dups
    assert out["vec_id"].is_unique
    dup_rows = out[out["vec_id"] >= n_base]
    assert int(dup_rows["pruned"].sum()) >= 0.9 * n_dups
    originals = out[out["vec_id"] < n_dups]
    assert int(originals["pruned"].sum()) == 0


# ---------------------------------------------------------------------------
# The one IVF quantizer: _fit_quantizer + _nearest_cell serve ann_ivf_knn
# and semdedup_prune alike.
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("two_level", [False, True], ids=["one_level", "two_level"])
def test_fit_quantizer_survives_zero_vector_in_sample(spark, two_level):
    """A zero vector in the fit sample must not poison a centroid: an
    unguarded normalisation turns it into a NaN row, whose NaN dot
    products win every argmax, so one centroid goes NaN and every point
    lands in that single cell."""
    import numpy as np

    rng = np.random.RandomState(3)
    X = rng.randn(500, 16)
    X[0] = 0.0
    df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(X)], "vec_id long, embedding array<double>"
    )
    Q = S._fit_quantizer(df, 16, "embedding", 10_000, 10, 42, 500, two_level=two_level)
    assert isinstance(Q, tuple) is two_level
    for part in (Q[:2] if two_level else (Q,)):
        assert np.isfinite(part).all()
    assert len(np.unique(S._nearest_cell(S._unit_rows(X), Q))) > 1


@pytest.mark.parametrize("min_cells", [256, 0], ids=["one_level", "two_level"])
def test_semdedup_prune_cells_are_shared_kernel_of_shared_fit(spark, monkeypatch, min_cells):
    """semdedup_prune's `cell` column is `_nearest_cell` applied to
    `_fit_quantizer` with the operator's own fit arguments — one
    quantizer for both IVF operators, at one and at two levels."""
    import numpy as np

    monkeypatch.setattr(S, "TWO_LEVEL_MIN_CELLS", min_cells)
    corpus = _planted_corpus(spark, 400, 40)
    out = S.semdedup_prune(corpus, threshold=0.95, target_cell=64).toPandas().sort_values("vec_id")
    Q = S._fit_quantizer(corpus, 32, "embedding", 20_000, 5, 42, 440)  # K = max(32, 440 // 64)
    assert isinstance(Q, tuple) is (min_cells == 0)
    rows = sorted(corpus.collect())
    X = S._unit_rows(np.array([r.embedding for r in rows], dtype=np.float64))
    assert [r.vec_id for r in rows] == out["vec_id"].tolist()
    assert (S._nearest_cell(X, Q) == out["cell"].to_numpy()).all()


@pytest.mark.parametrize("op", ["exact_knn", "ann_ivf_knn", "ann_lsh_knn"])
def test_knn_scores_zero_vector_as_zero(spark, op):
    """One all-zero embedding neither aborts the query (ANSI
    DIVIDE_BY_ZERO on its norm) nor changes other scores; it scores 0 as
    query and as neighbour. LSH may fill fewer than k slots per query."""
    import numpy as np

    X = np.random.RandomState(11).randn(200, 8)
    X[5] = 0.0
    e = spark.createDataFrame([(i, row.tolist()) for i, row in enumerate(X)], "vec_id long, embedding array<double>")
    rows = getattr(S, op)(e.filter(F.col("vec_id") < 10), e, k=5).collect()
    unit = S._unit_rows(X)
    for r in rows:
        assert r.cos_sim == pytest.approx(unit[r.query_id] @ unit[r.neighbor_id], abs=1e-4), r
    assert {r.cos_sim for r in rows if 5 in (r.query_id, r.neighbor_id)} == {0.0}
    counts = np.bincount([r.query_id for r in rows], minlength=10)
    assert (counts == 5).all() or (op == "ann_lsh_knn" and counts[5] > 0), counts
