"""Similarity search over embedding columns (SURVEY.md §2.10 L3; north
star: ANN at 100 TB).

Two tiers, as the mandate prescribes:

* exact brute-force top-k — the correctness baseline. Query set ⋈
  corpus via broadcast of the (small) query side; cosine is a JVM-side
  higher-order fold (zip_with + aggregate), then per-query top-k via
  window rank. Linear in |corpus| × |queries| — right answer when the
  query set is small; never the scale path for all-pairs.
* approximate top-k — the scale path; recall is measured against the
  exact tier in tests (tests/test_llm_ops.py).
  - IVF (`ann_ivf_knn`): a k-means quantizer; the collected query batch
    probes its nearest cells on the driver, and ONE scan of the corpus
    assigns each row its cell and scores it against the queries probing
    that cell. Only the per-query top-k window shuffles.
  - LSH (random hyperplanes, `ann_lsh_knn`): the signature is a map
    stage; only bucket-mates are compared.

Vectors are float32 arrays; all arithmetic casts to double FIRST so
results are reproducible across engines (and DuckDB's list functions).
"""

from __future__ import annotations

import random

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

__all__ = [
    "dot",
    "l2_norm",
    "cosine",
    "unit_vector",
    "exact_knn",
    "neardup_pairs_matmul",
    "ann_lsh_knn",
    "ann_lsh_bucket_stats",
    "ann_ivf_knn",
    "fit_centroids_distributed",
    "semdedup_prune",
    "gram_partials",
    "covariance_matrix",
]

#: Quantizer-quality floor: a k-means fit needs ~tens of points per
#: cell or the centroids are noise (the r15 recall collapse at
#: 1M/K=1953 traced to 5 points/cell).
PTS_PER_CELL = 24

#: Driver-collect cap of the sampled fit (≈250 MB of float64 at d=64).
#: Where PTS_PER_CELL × K exceeds it, the fit runs distributed instead.
DISTRIBUTED_FIT_THRESHOLD = 500_000

#: Above this many cells the quantizer is two-level (coarse × fine):
#: measured crossover, BASELINE.md r11 — two-level already wins at
#: K=488 (1.54 vs 2.19 s @ 250k vectors) and 3.4× at K=1953; below a
#: few hundred cells the flat matmul is trivial and picks a better cell
#: set.
TWO_LEVEL_MIN_CELLS = 256


#: Float64 values the IVF search gathers per side in one kernel call
#: (32 MB): a corpus batch whose (query, row) pairs would exceed it is
#: scored in row slices.
PAIR_BLOCK_VALUES = 1 << 22


#: Floor under every L2 norm divided by: a zero vector normalises to zero
#: (cosine 0) instead of raising DIVIDE_BY_ZERO; other norms are unchanged.
NORM_FLOOR = 1e-12


def _use_distributed_fit(n_centroids: int) -> bool:
    """True where the sampled fit's per-cell floor collides with its
    driver-collect cap (K > ~20.8k cells)."""
    return PTS_PER_CELL * n_centroids > DISTRIBUTED_FIT_THRESHOLD


def _unit_rows(X):
    """Row-normalized copy of a float64 (n, d) array; zero rows stay zero."""
    import numpy as np

    return X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), NORM_FLOOR)


def _two_level_shape(n_centroids: int) -> tuple[int, int]:
    """(k_coarse, k_fine) = (ceil(√K), ceil(K / k_coarse)) of the IMI quantizer."""
    import math

    k_coarse = max(2, math.isqrt(n_centroids - 1) + 1)
    return k_coarse, max(1, -(-n_centroids // k_coarse))


def _nearest_cell(v, quantizer):
    """(n,) int32 nearest cell of each unit row of ``v`` — the corpus
    assignment of every IVF quantizer. Flat: argmax over the (K, d)
    centroids. Two-level ``(Cc, Cf, k_fine, n_valid)``: coarse argmax,
    then fine argmax within that coarse cell only (N·2√K·d flops, not
    N·K·d); cell = coarse·k_fine + fine. Padded fine slots alias slot 0
    and never win the first-index argmax."""
    import numpy as np

    if not isinstance(quantizer, tuple):
        return np.argmax(v @ quantizer.T, axis=1).astype(np.int32)
    Cc, Cf, k_fine, _ = quantizer
    coarse = np.argmax(v @ Cc.T, axis=1)
    cells = np.empty(len(v), dtype=np.int32)
    for ci in np.unique(coarse):
        m = coarse == ci
        cells[m] = ci * k_fine + np.argmax(v[m] @ Cf[ci].T, axis=1)
    return cells


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")))


def _floored_norm(a: Column) -> Column:
    return F.greatest(l2_norm(a), F.lit(NORM_FLOOR))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (_floored_norm(a) * _floored_norm(b))


def unit_vector(a: Column) -> Column:
    """Normalize once so every subsequent pair comparison is a single
    dot-product fold instead of dot + 2 norms (≈3× per-pair work — the
    difference between 72 s and 24 s on the all-pairs bench, and the
    same factor on a 1000-executor run).

    The norm is BOUND once per row through a 1-element-array transform
    (ADVICE r15): higher-order-function lambda bodies get no common-
    subexpression elimination, so writing ``transform(a, x -> x /
    l2_norm(a))`` re-evaluates the O(d) fold per ELEMENT — O(d²) per
    vector. Binding it as an outer lambda variable keeps the exact same
    fold (same summation order, bit-identical quotients) evaluated
    exactly once. A zero vector stays zero (NORM_FLOOR)."""
    return F.element_at(
        F.transform(
            F.array(_floored_norm(a)),
            lambda n: F.transform(a, lambda x: x.cast("double") / n),
        ),
        1,
    )


def _top_k(scored: DataFrame, k: int) -> DataFrame:
    """Per query, the k best (query_id, neighbor_id, __cos) rows by
    cosine, ties to the smaller neighbor id → (query_id, neighbor_id,
    rank, cos_sim) with cos_sim rounded to 4 places."""
    w = Window.partitionBy("query_id").orderBy(F.col("__cos").desc(), F.col("neighbor_id").asc())
    return (
        scored.select("*", F.row_number().over(w).alias("rank"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("__cos", 4).alias("cos_sim"))
    )


def exact_knn(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force cosine top-k: broadcast the query side, fold the dot
    product in codegen, rank per query. Deterministic tiebreak on
    neighbor id. Returns (query_id, neighbor_id, rank, cos_sim)."""
    q = queries.select(F.col(id_col).alias("query_id"), unit_vector(F.col(vec_col)).alias("__qv"))
    c = corpus.select(F.col(id_col).alias("neighbor_id"), unit_vector(F.col(vec_col)).alias("__cv"))
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", dot(F.col("__qv"), F.col("__cv")).alias("__cos"))
    )
    return _top_k(scored, k)


def neardup_pairs_matmul(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int = 8,
) -> DataFrame:
    """All-pairs cosine > threshold via BLOCK-PAIRED matrix multiply —
    fully distributed, nothing ever comes back to the driver.

    Shape: assign each vector a block id (id mod B); every row is
    replicated B times, once per block-pair it participates in, keyed by
    (bi, bj) with bi ≤ bj; `applyInPandas` per block pair runs one numpy
    matmul on the two blocks (upper triangle only when bi == bj). The
    B·(B+1)/2 pairs are independent tasks.

    Dense vector math is the one place the guide's "UDF slow path"
    inverts: an Arrow-batched numpy matmul does the flops vectorized —
    measured 72 s (per-pair Catalyst fold) → ~2 s (matmul kernel) at
    sf0.1.

    Scale accounting (the reason for this shape vs the earlier
    collect+broadcast kernel): shuffle volume is B·N vectors; per-task
    memory is 2·N/B vectors PLUS the sims tile ((N/B)²·8 bytes — the
    binding constraint for d ≤ ~2k). Pick B ≈ N / 4000 to hold the tile
    near 128 MB — e.g. 10M vectors → B=2500, ~3.1M tile tasks spread
    over the cluster, no driver involvement and no broadcast. The
    O(N²·d/2) flops are inherent to *exact* all-pairs; past what a
    cluster should spend on that, the LSH route (ann_lsh_knn) is the
    unbounded-scale path.
    """
    import numpy as np

    B = n_blocks
    blk = F.pmod(F.col(id_col), F.lit(B)).cast("int")
    keys = F.transform(
        F.sequence(F.lit(0), F.lit(B - 1)),
        lambda q: F.struct(
            F.least(blk, q).cast("int").alias("bi"),
            F.greatest(blk, q).cast("int").alias("bj"),
        ),
    )
    expanded = df.select(
        F.col(id_col).alias("__id"), F.col(vec_col).alias("__v"), F.explode(keys).alias("__k")
    ).select("__id", "__v", F.col("__k.bi").alias("bi"), F.col("__k.bj").alias("bj"))

    def score(key, pdf):
        import pandas as pd

        bi, bj = key
        ids = pdf["__id"].to_numpy()
        M = np.array(list(pdf["__v"]), dtype=np.float64)
        if len(M) == 0:
            return pd.DataFrame({"a": pd.Series(dtype="int64"), "b": pd.Series(dtype="int64"), "cos_sim": pd.Series(dtype="float64")})
        M /= np.linalg.norm(M, axis=1, keepdims=True)
        if bi == bj:
            sims = M @ M.T
            ia, ib = np.where(sims > threshold)
            keep = ids[ia] < ids[ib]  # upper triangle by id: a < b, no self
            a, b, s = ids[ia[keep]], ids[ib[keep]], sims[ia[keep], ib[keep]]
        else:
            left = (ids % B) == bi
            A, C = M[left], M[~left]
            sims = A @ C.T
            ia, ib = np.where(sims > threshold)
            aa, bb, s = ids[left][ia], ids[~left][ib], sims[ia, ib]
            a, b = np.minimum(aa, bb), np.maximum(aa, bb)
        return pd.DataFrame(
            {"a": a.astype("int64"), "b": b.astype("int64"), "cos_sim": np.round(s, 4)}
        )

    return expanded.groupBy("bi", "bj").applyInPandas(score, "a long, b long, cos_sim double")


def _local_spherical_kmeans(pts, k: int, iters: int, rng):
    """Seeded Lloyd iterations on an in-memory (n, d) unit-norm array —
    the kernel shared by the driver-side sampled fit and the per-cell
    fine fits inside the distributed fit's applyInPandas stage."""
    import numpy as np

    k = max(1, min(k, len(pts)))
    cm = pts[rng.choice(len(pts), size=k, replace=False)].copy()
    for _ in range(iters):
        assign = np.argmax(pts @ cm.T, axis=1)
        for j in range(len(cm)):
            members = pts[assign == j]
            if len(members):
                c = members.mean(axis=0)
                cm[j] = c / (np.linalg.norm(c) or 1.0)
    return cm


def fit_centroids_distributed(
    corpus: DataFrame,
    n_centroids: int,
    vec_col: str = "embedding",
    kmeans_iters: int = 5,
    seed: int = 42,
    pts_per_cell: int = PTS_PER_CELL,
    corpus_count: int | None = None,
    two_level: bool = False,
):
    """Distributed spherical k-means quantizer fit (VERDICT r16 item 1)
    — removes the last data-proportional driver-side compute in the
    engine: the sampled fit collects up to 500k vectors to the driver,
    which starves K > ~20k cells of its 24-points-per-cell quality
    floor. Here the fit set is a DISTRIBUTED seeded sample sized
    ``pts_per_cell × K`` with no cap (it lives on executors), and the
    driver only ever sees quantizer-sized data (K × d centroids).

    Shape per Lloyd iteration (the mapInPandas-partials + groupBy
    re-estimation recipe):

    * broadcast current centroids (K×d float64);
    * ``mapInPandas`` over the persisted fit frame: per task, argmax
      cosine assignment, then a sort + ``np.add.reduceat`` scatter-add
      into per-cell partial sums — each task emits at most K rows of
      (cell, partial sum, count): the map-side combine that keeps the
      shuffle O(tasks × K), never O(sample);
    * ``groupBy(cell).applyInPandas`` sums the partials to one row per
      cell; the driver collects K rows, renormalizes, re-broadcasts.

    ``two_level=True`` returns the IMI quantizer ``(Cc, Cf, k_fine,
    n_valid)`` in the exact layout ann_ivf_knn / semdedup use: the
    coarse level is fit with the distributed Lloyd above (√K centroids
    — cheap), corpus-sample points are then assigned to their coarse
    cell ONCE, and each coarse cell's fine centroids are
    fit LOCALLY inside ``groupBy(coarse).applyInPandas`` — K local fits
    of ~pts_per_cell × √K points each, fully parallel, never on the
    driver. Per-cell fine fits subsample to a bounded point budget so a
    skewed coarse cell cannot blow task memory.

    Single-level (``two_level=False``) returns a (K, d) ndarray. Both
    shapes drop straight into `_nearest_cell` and `_probe`.

    Determinism: given fixed partitioning the assignment argmaxes are
    deterministic; cross-partition float summation order in the
    re-estimation can differ between runs at the last ulp — callers
    needing a bit-replayable quantizer (the certified fixed-K oracle
    twins) use the sampled fit, which this function deliberately does
    not replace below the cap (see _use_distributed_fit).
    """
    import numpy as np

    spark = corpus.sparkSession
    sc = spark.sparkContext
    n_corpus = corpus_count if corpus_count is not None else corpus.count()
    target = pts_per_cell * max(n_centroids, 1)
    frac = min(1.0, 1.2 * target / max(n_corpus, 1))

    def _normalize(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            v = np.vstack(pdf.iloc[:, 0].to_numpy()).astype(np.float64, copy=False)
            yield pd.DataFrame({"v": list(_unit_rows(v))})

    npart = max(sc.defaultParallelism, 8)
    fit = (
        corpus.select(vec_col)
        .sample(fraction=frac, seed=seed)
        .repartition(npart)  # fixture files are single-row-group: spread the matmuls
        .mapInPandas(_normalize, "v array<double>")
        .withColumn("i", F.monotonically_increasing_id())
        .persist()
    )
    try:
        n_fit = fit.count()  # materializes the persist (pins the row ids too)

        def _u01(ids, salt: int):
            # splitmix64 on the pinned row id: deterministic per-point
            # uniforms with no driver round-trip (numpy-vectorized)
            z = (ids.astype(np.uint64) + np.uint64(salt & 0xFFFFFFFFFFFFFFFF)) * np.uint64(
                0x9E3779B97F4A7C15
            )
            z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
            z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
            z ^= z >> np.uint64(31)
            return (z >> np.uint64(11)).astype(np.float64) / float(1 << 53)

        def _init(k: int) -> "np.ndarray":
            # k-means‖-style init (Bahmani et al. 2012, public): a
            # random init merges/splits clusters into local optima the
            # Lloyd iterations can't escape. Rounds of distance-
            # weighted oversampling (each point joins the candidate
            # set w.p. min(1, k·d²/φ), d² = 1 − max cosine) spread the
            # candidates across the data; weight-proportional draw
            # then picks k of them. Everything data-sized stays on
            # executors; only the ~2k+1 candidates reach the driver.
            first = fit.sample(fraction=min(1.0, 16.0 / max(n_fit, 1)), seed=seed + 3).limit(1).collect()
            if not first:
                first = fit.limit(1).collect()
            C0 = np.vstack([first[0]["v"]]).astype(np.float64)
            for rnd in range(2):
                b0 = sc.broadcast(C0)

                def dist2(batches, _b=b0, _with_id=False, _p=None, _salt=0):
                    import pandas as pd

                    Cm = _b.value
                    for pdf in batches:
                        if not len(pdf):
                            continue
                        v = np.vstack(pdf["v"].to_numpy())
                        d2 = np.clip(1.0 - (v @ Cm.T).max(axis=1), 0.0, None)
                        if _p is None:
                            yield pd.DataFrame({"phi": [float(d2.sum())]})
                        else:
                            u = _u01(pdf["i"].to_numpy(), _salt)
                            keep = u < np.minimum(1.0, _p * d2)
                            if keep.any():
                                yield pd.DataFrame({"v": pdf["v"].to_numpy()[keep]})

                phi_rows = fit.mapInPandas(lambda b, _b=b0: dist2(b, _b), "phi double").collect()
                phi = sum(r["phi"] for r in phi_rows) or 1e-12
                cand = fit.mapInPandas(
                    lambda b, _b=b0, _pp=float(k) / phi, _s=seed * 1000 + rnd: dist2(
                        b, _b, _p=_pp, _salt=_s
                    ),
                    "v array<double>",
                ).collect()
                if cand:
                    C0 = np.vstack([C0] + [np.asarray(r["v"], dtype=np.float64) for r in cand])
                b0.destroy()
            if len(C0) <= k:
                # tiny corpora / degenerate φ: top up with a seeded draw
                f2 = min(1.0, 3.0 * k / max(n_fit, 1))
                rows = fit.sample(fraction=f2, seed=seed + 7).limit(k).collect()
                extra = np.vstack([r["v"] for r in rows]) if rows else C0
                C0 = np.vstack([C0, extra])
                return C0[: max(k, 1)]
            # weight each candidate by its basin size (one counting
            # pass), then draw k without replacement ∝ weight — undoes
            # the d²-bias toward outliers that raw candidates carry.
            bc = sc.broadcast(C0)

            def counts(batches, _b=bc):
                import pandas as pd

                Cm = _b.value
                cnt = np.zeros(len(Cm), dtype=np.int64)
                seen = False
                for pdf in batches:
                    if not len(pdf):
                        continue
                    seen = True
                    v = np.vstack(pdf["v"].to_numpy())
                    cnt += np.bincount(np.argmax(v @ Cm.T, axis=1), minlength=len(Cm))
                if seen:
                    nz = np.flatnonzero(cnt)
                    yield pd.DataFrame({"cell": nz.astype(np.int32), "n": cnt[nz]})

            w = np.zeros(len(C0), dtype=np.float64)
            for r in fit.mapInPandas(counts, "cell int, n long").collect():
                w[r["cell"]] += r["n"]
            bc.destroy()
            w += 1e-9  # zero-basin candidates stay drawable as a tiebreak
            rng0 = np.random.RandomState(seed + 11)
            pick = rng0.choice(len(C0), size=k, replace=False, p=w / w.sum())
            return C0[pick]

        def _lloyd_distributed(k: int) -> "np.ndarray":
            C = _init(k)
            k = len(C)  # tiny corpora: fewer points than cells
            for _ in range(kmeans_iters):
                b = sc.broadcast(C)

                def partials(batches, _b=b):
                    import pandas as pd

                    Cm = _b.value
                    S = np.zeros_like(Cm)
                    cnt = np.zeros(len(Cm), dtype=np.int64)
                    seen = False
                    for pdf in batches:
                        if not len(pdf):
                            continue
                        seen = True
                        v = np.vstack(pdf["v"].to_numpy())
                        a = np.argmax(v @ Cm.T, axis=1)
                        order = np.argsort(a, kind="stable")
                        va, aa = v[order], a[order]
                        starts = np.r_[0, np.flatnonzero(np.diff(aa)) + 1]
                        S[aa[starts]] += np.add.reduceat(va, starts, axis=0)
                        cnt += np.bincount(a, minlength=len(Cm))
                    if seen:
                        nz = np.flatnonzero(cnt)
                        yield pd.DataFrame(
                            {"cell": nz.astype(np.int32), "s": list(S[nz]), "n": cnt[nz]}
                        )

                def reduce_cell(key, pdf):
                    import pandas as pd

                    s = np.vstack(pdf["s"].to_numpy()).sum(axis=0)
                    return pd.DataFrame(
                        {"cell": [key[0]], "s": [list(s)], "n": [int(pdf["n"].sum())]}
                    )

                rows = (
                    fit.mapInPandas(partials, "cell int, s array<double>, n long")
                    .groupBy("cell")
                    .applyInPandas(reduce_cell, "cell int, s array<double>, n long")
                    .collect()
                )
                newC = C.copy()
                for r in rows:
                    s = np.asarray(r["s"], dtype=np.float64)
                    nn = np.linalg.norm(s)
                    if nn > 0.0:
                        newC[r["cell"]] = s / nn
                C = newC  # empty cells keep their previous centroid
                b.destroy()
            return C

        if not two_level:
            return _lloyd_distributed(min(n_centroids, max(n_fit, 1)))

        k_coarse, k_fine = _two_level_shape(n_centroids)
        Cc = _lloyd_distributed(min(k_coarse, max(n_fit, 1)))
        k_coarse = len(Cc)
        b_cc = sc.broadcast(Cc)

        def assign_coarse(batches):
            import pandas as pd

            Ccm = b_cc.value
            for pdf in batches:
                if not len(pdf):
                    continue
                v = np.vstack(pdf["v"].to_numpy())
                yield pd.DataFrame(
                    {"coarse": np.argmax(v @ Ccm.T, axis=1).astype(np.int32), "v": pdf["v"]}
                )

        cap = 60 * k_fine  # bounded task memory even under coarse-cell skew

        def fit_fine(key, pdf):
            import pandas as pd

            pts = np.vstack(pdf["v"].to_numpy())
            rng = np.random.RandomState(seed + 13 * int(key[0]) + 1)
            if len(pts) > cap:
                pts = pts[rng.choice(len(pts), size=cap, replace=False)]
            cm = _local_spherical_kmeans(pts, k_fine, kmeans_iters, rng)
            return pd.DataFrame(
                {
                    "coarse": np.full(len(cm), int(key[0]), dtype=np.int32),
                    "fidx": np.arange(len(cm), dtype=np.int32),
                    "c": list(cm),
                }
            )

        fine_rows = (
            fit.mapInPandas(assign_coarse, "coarse int, v array<double>")
            .groupBy("coarse")
            .applyInPandas(fit_fine, "coarse int, fidx int, c array<double>")
            .collect()
        )
        b_cc.destroy()
        d = Cc.shape[1]
        Cf = np.zeros((k_coarse, k_fine, d), dtype=np.float64)
        n_valid = np.zeros(k_coarse, dtype=np.int64)
        for r in fine_rows:
            Cf[r["coarse"], r["fidx"]] = np.asarray(r["c"], dtype=np.float64)
            n_valid[r["coarse"]] = max(n_valid[r["coarse"]], r["fidx"] + 1)
        for ci in range(k_coarse):
            # pad unfilled fine slots by aliasing a valid centroid (an
            # empty coarse cell aliases the coarse centroid itself) —
            # same contract as the sampled fit: padded slots never win a
            # strict argmax and are masked -inf on the probe side.
            if n_valid[ci] == 0:
                Cf[ci, 0] = Cc[ci]
                n_valid[ci] = 1
            Cf[ci, n_valid[ci]:] = Cf[ci, 0]
        return Cc, Cf, k_fine, n_valid
    finally:
        fit.unpersist()


def _fit_quantizer(
    corpus: DataFrame,
    n_centroids: int,
    vec_col: str,
    sample_size: int,
    kmeans_iters: int,
    seed: int,
    n_corpus: int,
    two_level: bool | None = None,
):
    """The one IVF quantizer fit behind ann_ivf_knn and semdedup_prune:
    spherical k-means returning the layout `_nearest_cell` reads — a
    (K, d) array, or ``(Cc, Cf, k_fine, n_valid)`` when ``two_level``
    (None: auto-on above TWO_LEVEL_MIN_CELLS).

    Where `_use_distributed_fit` says so, the fit is
    fit_centroids_distributed (the sample never leaves the executors).
    Otherwise it runs Lloyd iterations on the driver over a seeded
    UNIFORM sample (`df.sample`, not ordered-limit — an id-ordered prefix
    is biased toward whatever the id order correlates with, e.g. ingest
    time) of max(sample_size, min(PTS_PER_CELL·K,
    DISTRIBUTED_FIT_THRESHOLD)) rows: the per-cell floor is capped so the
    collect stays bounded, while an explicitly larger sample_size is
    honored as passed. Bernoulli `sample(frac)` can undershoot despite
    the 1.2× headroom (small corpora, unlucky draws); a materially short
    fit set (<80% of the achievable size) is logged rather than silently
    degrading the quantizer."""
    import logging

    import numpy as np

    if two_level is None:
        two_level = n_centroids > TWO_LEVEL_MIN_CELLS
    if _use_distributed_fit(n_centroids):
        return fit_centroids_distributed(
            corpus,
            n_centroids,
            vec_col=vec_col,
            kmeans_iters=kmeans_iters,
            seed=seed,
            corpus_count=n_corpus,
            two_level=two_level,
        )
    target = max(sample_size, min(PTS_PER_CELL * n_centroids, DISTRIBUTED_FIT_THRESHOLD))
    frac = min(1.0, 1.2 * target / max(n_corpus, 1))  # 1.2× then cap: sample() is per-row Bernoulli
    sample = corpus.select(vec_col).sample(fraction=frac, seed=seed).limit(target).collect()
    achievable = min(target, n_corpus)
    if len(sample) < 0.8 * achievable:
        logging.getLogger(__name__).warning(
            "k-means fit sample has %d rows (< 80%% of the %d targeted) — quantizer quality may suffer",
            len(sample), achievable,
        )
    X = _unit_rows(np.array([r[0] for r in sample], dtype=np.float64))
    rng = np.random.RandomState(seed)
    if not two_level:
        return _local_spherical_kmeans(X, n_centroids, kmeans_iters, rng)
    k_coarse, k_fine = _two_level_shape(n_centroids)
    Cc = _local_spherical_kmeans(X, k_coarse, kmeans_iters, rng)
    coarse_of = np.argmax(X @ Cc.T, axis=1)
    Cf = np.zeros((len(Cc), k_fine, X.shape[1]), dtype=np.float64)
    n_valid = np.ones(len(Cc), dtype=np.int64)
    for ci in range(len(Cc)):
        members = X[coarse_of == ci]
        fine = _local_spherical_kmeans(members, k_fine, kmeans_iters, rng) if len(members) else Cc[ci : ci + 1]
        # pad unfilled fine slots by aliasing the first fine centroid:
        # padded slots never win the first-index argmax (corpus side) and
        # are masked -inf on the probe side, keeping the array
        # rectangular for one fused matmul per coarse group.
        Cf[ci, : len(fine)] = fine
        Cf[ci, len(fine) :] = fine[0]
        n_valid[ci] = len(fine)
    return Cc, Cf, k_fine, n_valid


def _probe(v, quantizer, nprobe: int, probe_pool: int):
    """(n, width) distinct cell ids each unit query row of ``v`` probes:
    its ``nprobe`` nearest cells. Flat: argsort over the (K, d)
    centroids. Two-level: the multi-sequence probe — pool the top
    ``probe_pool·√nprobe`` coarse cells, score every fine centroid
    inside the pool against the query (exact, not the coarse proxy),
    and keep the GLOBAL top-nprobe cells by that score. A fixed grid of
    fine cells per probed coarse cell misses the neighbors of a query
    whose true neighbors concentrate under one coarse cell (recall 0.56
    vs 0.68 for exact flat top-nprobe at 100k/K=195). As probe_pool → Kc
    this converges to exact flat top-nprobe cell selection; at the
    default 4 the probe costs (Kc + 4√nprobe·kf)·d flops per QUERY and
    leaves the corpus assignment untouched."""
    import math

    import numpy as np

    if nprobe <= 1:
        return _nearest_cell(v, quantizer)[:, None]
    if not isinstance(quantizer, tuple):
        return np.argsort(-(v @ quantizer.T), axis=1)[:, :nprobe]
    Ccm, Cfm, kf, nv = quantizer
    nc = min(len(Ccm), max(1, probe_pool * (math.isqrt(nprobe - 1) + 1)))
    coarse_top = np.argsort(-(v @ Ccm.T), axis=1)[:, :nc]
    scores = np.full((len(v), nc * kf), -np.inf)
    cells = np.zeros((len(v), nc * kf), dtype=np.int64)
    for s in range(nc):
        cc = coarse_top[:, s]
        for ci in np.unique(cc):
            m = cc == ci
            sims = v[m] @ Cfm[ci].T
            sims[:, nv[ci] :] = -np.inf  # padded alias slots
            scores[np.where(m)[0][:, None], np.arange(s * kf, (s + 1) * kf)] = sims
            cells[m, s * kf : (s + 1) * kf] = ci * kf + np.arange(kf)
    width = min(nprobe, nc * kf)
    top = np.argpartition(-scores, width - 1, axis=1)[:, :width]
    return np.take_along_axis(cells, top, axis=1)


def _top_pairs(ids, U, cell, probe, q_ids, Qu, k: int):
    """The IVF search kernel over one block of corpus rows: ``ids``,
    unit rows ``U`` and their ``cell``s, against the unit query block
    ``Qu`` whose probes ``probe`` lists as sorted distinct (cell, query
    index) rows. Scores every (query, row) pair where the query probes
    the row's cell, drops self-pairs (same id), and keeps per query
    every pair at least as close as its k-th best, so exact ties reach
    `_top_k`. Returns (query ids, neighbor ids, cosines).

    The cosine is an elementwise product summed per pair, so identical
    vectors score bit-identically wherever they sit; a BLAS matmul's
    rounding depends on the matrix shape, which put twins one ulp apart
    in different Arrow batches and broke the smaller-id tiebreak."""
    import numpy as np

    lo = np.searchsorted(probe[:, 0], cell, "left")
    counts = np.searchsorted(probe[:, 0], cell, "right") - lo
    rows = np.repeat(np.arange(len(cell)), counts)
    # the j-th pair of a row takes the j-th probe entry of the row's cell
    qs = probe[np.arange(len(rows)) - np.repeat(np.cumsum(counts) - counts - lo, counts), 1]
    keep = q_ids[qs] != ids[rows]
    qs, rows = qs[keep], rows[keep]
    cos = (Qu[qs] * U[rows]).sum(axis=1)
    order = np.lexsort((-cos, qs))
    qs, rows, cos = qs[order], rows[order], cos[order]
    kth = cos[np.minimum(np.searchsorted(qs, qs) + k - 1, np.searchsorted(qs, qs, "right") - 1)]
    keep = cos >= kth
    return q_ids[qs[keep]], ids[rows[keep]], cos[keep]


def ann_ivf_knn(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    nprobe: int = 4,
    sample_size: int = 10_000,
    kmeans_iters: int = 10,
    seed: int = 42,
    corpus_count: int | None = None,
    two_level: bool | None = None,
    probe_pool: int = 4,
) -> DataFrame:
    """IVF-style ANN: coarse k-means quantizer → inverted lists per
    centroid cell → queries probe their `nprobe` nearest cells only.
    Returns (query_id, neighbor_id, rank, cos_sim), the `exact_knn`
    schema and tiebreak.

    The search is ONE scan of the corpus. The query batch is the small
    side (as in `exact_knn`): it is collected once on the driver (one
    row per query id), unit-normalised and probed (`_probe`), and the
    probe is inverted into sorted (cell, query) rows. Those, the query
    block and the quantizer ride in the closure of one `mapInPandas`
    over the corpus: each Arrow batch assigns its rows to cells
    (`_nearest_cell`, shared with semdedup_prune) and scores each row
    against the queries that probe its cell (`_top_pairs`, vectorised
    over the whole batch), dropping self-pairs. Per query it emits every
    row at least as close as its k-th best in the batch, so exact ties
    survive to `_top_k` — the one shuffle (by query id). The corpus is
    never shuffled or joined, and no broadcast is made.

    ``two_level`` (auto-on above TWO_LEVEL_MIN_CELLS, the measured
    crossover) switches to the coarse×fine quantizer (FAISS IMI shape):
    √K coarse centroids, √K fine per coarse cell. At 100 TB K must grow
    with N to keep cells bounded, and single-level assignment is the
    same N·K·d wall SemDeDup hit — two-level is N·2√K·d. Queries use
    the multi-sequence refined probe. Cell semantics and output are the
    same in both modes; only the assignment flops and the probe differ
    (recall pinned in tests/test_llm_ops.py for both).

    The quantizer comes from `_fit_quantizer` (seeded sample on the
    driver, or distributed past DISTRIBUTED_FIT_THRESHOLD).
    recall/cost dial = n_centroids × nprobe.

    Pass `corpus_count` when the caller already knows it (catalog
    stats, a prior action) to skip the extra count() job over the full
    corpus.

    Operating envelope (pinned by tests/test_llm_ops.py): recall
    tracks the probed fraction nprobe/n_centroids, and with nprobe =
    n_centroids the result is `exact_knn`'s. The fixture's
    i.i.d.-random embeddings are the WORST case — no cluster structure,
    so true neighbors spread almost uniformly across cells: measured
    recall@5 ≈ 0.6 at the 4/16 default (quarter of the corpus probed)
    and ≈ 0.8 at 8/16. Real embedding corpora cluster, putting recall
    well above this floor at the same probed fraction; raise `nprobe`
    (linear cost in probed fraction) when a workload needs a guarantee
    on unstructured vectors. Published two-level operating point
    (PROBES_r16, worst-case 1M i.i.d. vectors / K=1953): recall@5 0.81
    at nprobe=384 and 0.88 at nprobe=512 — the recall is bought on the
    query side, where flops are per-QUERY, not per-corpus-vector.
    """
    import numpy as np

    schema = "query_id long, neighbor_id long, __cos double"
    batch = dict(queries.select(id_col, vec_col).collect())  # one row per query id
    if not batch:
        return _top_k(corpus.sparkSession.createDataFrame([], schema), k)
    n_corpus = corpus_count if corpus_count is not None else corpus.count()
    quantizer = _fit_quantizer(corpus, n_centroids, vec_col, sample_size, kmeans_iters, seed, n_corpus, two_level)
    q_ids = np.array(list(batch), dtype=np.int64)
    Qu = _unit_rows(np.array(list(batch.values()), dtype=np.float64))
    P = _probe(Qu, quantizer, nprobe, probe_pool)
    probe = np.unique(np.column_stack([P.ravel(), np.repeat(np.arange(len(P)), P.shape[1])]), axis=0)
    # corpus rows per kernel call: at most PAIR_BLOCK_VALUES gathered
    # doubles per side, even if every row lands in the busiest cell
    busiest = np.unique(probe[:, 0], return_counts=True)[1].max()
    step = max(1, PAIR_BLOCK_VALUES // (Qu.shape[1] * busiest))

    def score_batches(batches):
        import pandas as pd

        for pdf in batches:
            for lo in range(0, len(pdf), step):
                part = pdf.iloc[lo : lo + step]
                U = _unit_rows(np.array(list(part.iloc[:, 1]), dtype=np.float64))
                q, n, cos = _top_pairs(
                    part.iloc[:, 0].to_numpy(), U, _nearest_cell(U, quantizer), probe, q_ids, Qu, k
                )
                if len(q):
                    yield pd.DataFrame({"query_id": q, "neighbor_id": n, "__cos": cos})

    return _top_k(corpus.select(id_col, vec_col).mapInPandas(score_batches, schema), k)


def _hyperplanes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    """Deterministic Gaussian hyperplanes (Box–Muller on seeded PRNG):
    the same planes on every executor for the same (dim, seed)."""
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def _multi_buckets(
    df: DataFrame, id_name: str, vec_name: str, n_tables: int, n_planes: int, seed: int
) -> DataFrame:
    """(table, bucket) pairs for L independent hyperplane tables —
    OR-amplification: a near pair only needs to collide in ONE table.

    Computed as ONE numpy matmul per Arrow batch (all tables' planes
    stacked into a (L·p × d) matrix, sign bits packed per table).
    A pure-expression formulation needs L·p literal plane arrays in the
    plan — measured to blow up Catalyst compile time (30 s+ of planning
    for 36 planes), so the vectorized kernel wins twice here. The
    kernel draws the planes itself, for the width d of the vectors it
    sees, once per task and width.
    """
    import numpy as np

    weights = (1 << np.arange(n_planes)).astype(np.int64)

    def bucketize(batches):
        import pandas as pd

        planes: dict = {}  # width → (L·p, d) stacked planes
        for pdf in batches:
            if len(pdf) == 0:
                continue
            vecs = np.array(list(pdf[vec_name]), dtype=np.float64)  # (n, d)
            d = vecs.shape[1]
            if d not in planes:
                planes[d] = np.array(
                    [row for t in range(n_tables) for row in _hyperplanes(d, n_planes, seed + 1000 * t)],
                    dtype=np.float64,
                )
            bits = (vecs @ planes[d].T) > 0  # (n, L·p)
            out = []
            for t in range(n_tables):
                buckets = bits[:, t * n_planes : (t + 1) * n_planes] @ weights  # (n,)
                out.append(
                    pd.DataFrame(
                        {
                            id_name: pdf[id_name].to_numpy(),
                            vec_name: pdf[vec_name],
                            "table": np.full(len(pdf), t, dtype=np.int32),
                            "bucket": buckets,
                        }
                    )
                )
            yield pd.concat(out, ignore_index=True)

    return df.select(id_name, vec_name).mapInPandas(
        bucketize, f"{id_name} long, {vec_name} array<float>, table int, bucket long"
    )


def _mega_bucket_caps(sizes: DataFrame, max_bucket_frac: float, min_bucket_cap: int) -> DataFrame:
    """Per-(table,bucket) sizes → the same frame with the effective cap
    and a `dropped` verdict. The cap is RELATIVE — max(min_bucket_cap,
    frac × per-table corpus total) — so uniform data never trips it at
    any SF, while a degenerate corpus (one bucket swallowing the table)
    always does; an absolute cap would misfire as the corpus grows."""
    per_table = Window.partitionBy("table")
    return sizes.withColumn(
        "cap",
        F.greatest(
            F.lit(min_bucket_cap).cast("long"),
            (F.sum("n_members").over(per_table) * max_bucket_frac).cast("long"),
        ),
    ).withColumn("dropped", F.col("n_members") > F.col("cap"))


def ann_lsh_bucket_stats(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_tables: int = 12,
    n_planes: int = 3,
    seed: int = 42,
    max_bucket_frac: float = 0.25,
    min_bucket_cap: int = 1024,
) -> DataFrame:
    """Observability twin of `ann_lsh_knn`'s mega-bucket guardrail
    (mirrors `dedup.lsh_bucket_stats`): per-(table, bucket) member
    counts with the cap and `dropped` verdict the search would apply.
    One groupBy over the bucketized corpus — run it before committing
    to a cap on a new embedding distribution."""
    cb = _multi_buckets(
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv")),
        "neighbor_id", "__cv", n_tables, n_planes, seed,
    )
    sizes = cb.groupBy("table", "bucket").agg(F.count(F.lit(1)).alias("n_members"))
    return _mega_bucket_caps(sizes, max_bucket_frac, min_bucket_cap)


def ann_lsh_knn(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_tables: int = 12,
    n_planes: int = 3,
    seed: int = 42,
    max_bucket_frac: float | None = 0.25,
    min_bucket_cap: int = 1024,
) -> DataFrame:
    """Approximate top-k: compare only within matching hyperplane
    buckets, unioned over L independent tables (OR-amplification).

    Collision prob for angle θ is 1-(1-(1-θ/π)^planes)^tables — with
    12×3 a 60° pair is caught w.p. ≈0.98. tables×planes is the
    recall/cost dial: clustered real-world embeddings want fewer
    tables & more planes; the fixture's near-orthogonal vectors are the
    worst case. Physical plan: map-stage bucketing, equi-join on
    (table,bucket), distinct pairs, cosine, window top-k — the corpus
    is never cross-joined.

    Mega-bucket guardrail (ported from `dedup.lsh_candidate_pairs`): a
    degenerate corpus — everything near-identical — lands the whole
    table in ONE (table, bucket), and the candidate join goes quadratic
    (|queries| × corpus per bucket here). Corpus buckets holding more
    than max(min_bucket_cap, max_bucket_frac × table total) members are
    dropped via a broadcast LEFT ANTI join (over-cap buckets are few by
    construction; the surviving list is O(corpus) and never broadcast).
    The floor keeps small corpora (tests, sf ≤ 0.01) and uniform data
    untouched at every SF, so recall is unchanged off the degenerate
    path; ON it, candidates vanish by design — such corpora carry no
    hyperplane signal and belong to brute-force/IVF. Audit first with
    `ann_lsh_bucket_stats`; `max_bucket_frac=None` disables."""
    # pre-normalize ONCE per vector (the r05 unit_vector lesson, which
    # exact_knn already applies): hyperplane signs are invariant under
    # positive scaling so bucketing is unchanged, and per-pair scoring
    # drops from dot + 2 norms to a single dot fold — measured 35.5 s
    # -> 13.7 s on the 250k-corpus LSH path (BASELINE round-15b)
    qb = _multi_buckets(
        queries.select(F.col(id_col).alias("query_id"), unit_vector(F.col(vec_col)).alias("__qv")),
        "query_id", "__qv", n_tables, n_planes, seed,
    )
    cb = _multi_buckets(
        corpus.select(F.col(id_col).alias("neighbor_id"), unit_vector(F.col(vec_col)).alias("__cv")),
        "neighbor_id", "__cv", n_tables, n_planes, seed,
    )
    if max_bucket_frac is not None:
        # cb feeds the sizes groupBy AND the candidate join: persist, or
        # the numpy bucketize kernel recomputes per consumer
        cb = cb.localCheckpoint(eager=False)
        sizes = cb.groupBy("table", "bucket").agg(F.count(F.lit(1)).alias("n_members"))
        dropped = _mega_bucket_caps(sizes, max_bucket_frac, min_bucket_cap).filter("dropped")
        cb = cb.join(F.broadcast(dropped.select("table", "bucket")), ["table", "bucket"], "left_anti")
    # score INSIDE the bucket join, then dedupe pairs by aggregation —
    # the pair-dedup shuffle carries (qid, nid, cos), not two vectors
    scored = (
        qb.join(cb, ["table", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", dot(F.col("__qv"), F.col("__cv")).alias("__cos"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.first("__cos").alias("__cos"))
    )
    return _top_k(scored, k)


def gram_partials(df: DataFrame, col: str = "embedding") -> DataFrame:
    """Single-pass distributed Gram accumulation — the PCA / covariance
    precursor: every partition folds its vectors into one ``X.T @ X``
    (d x d), a column sum (d) and a count, so the shuffle that follows
    carries ``numPartitions`` rows of d² doubles instead of |corpus|
    rows. THE way to get second-moment statistics out of a 100 TB
    embedding table: the corpus is read once, all reduction is
    map-side, and the final combine is O(partitions · d²) regardless of
    row count.

    Vectors are cast to float64 BEFORE accumulation (the column is
    float32 on disk; float->double is exact, so both engines aggregate
    identical values and only sum order differs at the last ulp).
    """
    import numpy as np
    import pandas as pd

    def fold(batches):
        g, s, n = 0.0, 0.0, 0
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.vstack(pdf[col].to_numpy()).astype(np.float64, copy=False)
            g = g + x.T @ x
            s = s + x.sum(axis=0)
            n += x.shape[0]
        if n:
            yield pd.DataFrame({"g": [g.ravel().tolist()], "s": [s.tolist()], "n": [n]})

    return df.select(col).mapInPandas(fold, schema="g array<double>, s array<double>, n bigint")


def covariance_matrix(df: DataFrame, col: str = "embedding") -> DataFrame:
    """Population covariance matrix from one corpus pass: reduce the
    per-partition Gram partials (posexplode -> sum per flat index — a
    shuffle of partitions·d² scalar rows, nothing corpus-sized), then
    cov[i,j] = (Σxy − Σx·Σy / n) / n. Returns (i, j, cov) for the full
    d x d (symmetric; callers filter). The eigen-decomposition that
    turns this into PCA axes is a driver-side numpy call on a d x d
    matrix — the only part of the pipeline that is not data-parallel,
    and it is O(d³), data-size-independent."""
    parts = gram_partials(df, col).localCheckpoint(eager=False)
    # the width d is the data's: each partial's column-sum vector has d entries
    gsum = (
        parts.select(F.size("s").alias("d"), F.posexplode("g").alias("idx", "v"))
        .groupBy(
            (F.col("idx") / F.col("d")).cast("int").alias("i"),
            F.pmod("idx", F.col("d")).cast("int").alias("j"),
        )
        .agg(F.sum("v").alias("sxy"))
    )
    ssum = (
        parts.select(F.posexplode("s").alias("idx", "v"))
        .groupBy("idx")
        .agg(F.sum("v").alias("sx"))
    )
    n1 = parts.agg(F.sum("n").cast("double").alias("nn"))
    si = ssum.select(F.col("idx").alias("i"), F.col("sx").alias("sx_i"))
    sj = ssum.select(F.col("idx").alias("j"), F.col("sx").alias("sx_j"))
    return (
        gsum.join(F.broadcast(si), "i")
        .join(F.broadcast(sj), "j")
        .crossJoin(F.broadcast(n1))
        .select(
            "i",
            "j",
            ((F.col("sxy") - F.col("sx_i") * F.col("sx_j") / F.col("nn")) / F.col("nn")).alias("cov"),
        )
    )


def quantize_error_int8(df: DataFrame, col: str = "embedding", label_col: str = "label") -> DataFrame:
    """Per-vector symmetric int8 quantization stats — the storage/ANN
    compression step for a 100 TB embedding corpus (4 bytes → 1 byte
    per dimension before any index build). Pure map stage: each vector
    yields its scale (max-abs / 127) and reconstruction MSE, no
    shuffle; aggregation is the caller's concern.

    Arithmetic is pinned cross-engine: cast to float64 first (exact),
    quantize with ``floor(x/scale + 0.5)`` clamped to [-127, 127] —
    written out explicitly instead of ``round`` because numpy rounds
    half-to-even while SQL engines round half-away — so any oracle can
    replay the identical expression tree. Zero vectors (scale == 0)
    are dropped on both sides by contract.
    """
    import numpy as np
    import pandas as pd

    def kernel(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.vstack(pdf[col].to_numpy()).astype(np.float64, copy=False)
            scale = np.abs(x).max(axis=1) / 127.0
            ok = scale > 0.0
            if not ok.any():
                continue
            xs, sc = x[ok], scale[ok]
            q = np.clip(np.floor(xs / sc[:, None] + 0.5), -127.0, 127.0)
            err = xs - q * sc[:, None]
            mse = (err * err).sum(axis=1) / xs.shape[1]
            yield pd.DataFrame(
                {
                    label_col: pdf[label_col].to_numpy()[ok],
                    "scale": sc,
                    "mse": mse,
                }
            )

    return df.select(label_col, col).mapInPandas(
        kernel, schema=f"{label_col} int, scale double, mse double"
    )


def semdedup_prune(
    corpus: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    target_cell: int = 512,
    sample_size: int = 20_000,
    kmeans_iters: int = 5,
    seed: int = 42,
    corpus_count: int | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, public) — the LINEAR-at-scale path
    that queries/llm.py::semdedup_cell_prune's fixture-certified twin
    deliberately forgoes: that query pins K=32 centroids (first 32
    vec_ids) so a DuckDB oracle can mirror the centroid set exactly,
    which makes its pair stage N²/(2K) — quadratic at fixed K (measured:
    BASELINE.md "Round-11 scale probe"). This operator is the production shape:

    * **K scales with N** (``K = max(32, N // target_cell)``) so the
      expected cell size — and with it Σ n_c²/2 ≈ N·target_cell/2
      candidate pairs — stays CONSTANT per row: the pair stage is
      linear in N, exactly how the paper sizes its k-means.
    * quantizer = ann_ivf_knn's spherical k-means (`_fit_quantizer`:
      seeded uniform sample, or distributed past
      DISTRIBUTED_FIT_THRESHOLD); centroids broadcast (K×d doubles).
    * assignment = `_nearest_cell`, one Arrow-batched numpy matmul per
      partition (N×K·d flops vectorized — the interpreted fold that
      makes the certified twin hash-replayable would be the bottleneck
      here). The single-level assign flops (N²·d/target_cell) start to
      dominate once K reaches the hundreds (measured 3.4× end-to-end
      at K=1953 — BASELINE.md r11), so above TWO_LEVEL_MIN_CELLS the
      quantizer is the standard coarse×fine one (FAISS's IMI shape):
      √K coarse centroids, √K fine centroids per coarse cell, assign =
      argmax over coarse then argmax within the chosen coarse —
      N·2√K·d flops, and the fit itself drops from sample×K to
      sample×2√K. Only the assign step changes; the pair stage, the
      prune rule, and the returned schema are identical.
    * per-cell pair compare = one numpy matmul per cell
      (groupBy(cell).applyInPandas), upper-triangle by id, processed in
      row blocks so task memory stays O(block·cell) even for skewed
      cells; prune the HIGHER id of any pair with cosine > threshold
      (the paper's keep-one-representative rule, deterministic).

    Returns one row per corpus vector: (id, cell, pruned). Missing
    cross-cell duplicates is the algorithm's documented recall trade —
    the knob is target_cell. Exactness of the decisions it does make is
    pinned in tests/test_llm_ops.py (planted-duplicate recall, partition
    property, threshold agreement with exact cosine).

    Broadcast lifecycle: each call broadcasts its centroids (K×d
    doubles — ~2 MB at K=1953/d=128), materializes the result via
    ``localCheckpoint(eager=True)`` and destroys the broadcast before
    returning (VERDICT r12 item 5), so NOTHING accumulates across calls
    in a long-lived session — the compute is paid at call time, not at
    collect time.
    """
    import numpy as np

    n_corpus = corpus_count if corpus_count is not None else corpus.count()
    n_centroids = max(32, n_corpus // target_cell)
    b_C = corpus.sparkSession.sparkContext.broadcast(
        _fit_quantizer(corpus, n_centroids, vec_col, sample_size, kmeans_iters, seed, n_corpus)
    )

    def assign_batches(batches):
        import pandas as pd

        payload = b_C.value
        for pdf in batches:
            if not len(pdf):
                continue
            v = _unit_rows(np.vstack(pdf[vec_col].to_numpy()).astype(np.float64, copy=False))
            yield pd.DataFrame({"__id": pdf[id_col].to_numpy(), "__v": list(v), "cell": _nearest_cell(v, payload)})

    assigned = corpus.select(id_col, vec_col).mapInPandas(
        assign_batches, schema="__id long, __v array<double>, cell int"
    )

    def prune_cell(key, pdf):
        import pandas as pd

        ids = pdf["__id"].to_numpy()
        order = np.argsort(ids)  # deterministic regardless of arrival order
        ids = ids[order]
        M = np.vstack(pdf["__v"].to_numpy()[order])  # already unit-norm
        pruned = np.zeros(len(ids), dtype=bool)
        block = 2048
        for lo in range(0, len(ids), block):
            hi = min(lo + block, len(ids))
            sims = M[lo:hi] @ M.T  # (block, n_c) tile — memory bounded
            ia, ib = np.where(sims > threshold)
            # a keeps, b pruned: only count pairs where the GLOBAL index
            # of a (lo+ia) precedes b — ids are sorted, so index order
            # IS id order and self/duplicate tiles fall out naturally.
            keep = (lo + ia) < ib
            pruned[ib[keep]] = True
        return pd.DataFrame({"__id": ids, "cell": np.full(len(ids), key[0], dtype=np.int32), "pruned": pruned})

    result = (
        assigned.groupBy("cell")
        .applyInPandas(prune_cell, schema="__id long, cell int, pruned boolean")
        .select(F.col("__id").alias(id_col), "cell", "pruned")
    )
    # Materialize now, then release the centroid broadcast: the
    # checkpointed RDD no longer references it, so repeated calls leave
    # zero live broadcast blocks behind. destroy() sits in a finally so a
    # failure mid-materialization cannot leak the broadcast (ADVICE r13).
    # localCheckpoint truncates lineage: if an executor holding its
    # blocks is lost, the frame fails rather than recomputing.
    try:
        return result.localCheckpoint(eager=True)
    finally:
        b_C.destroy()
