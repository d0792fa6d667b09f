"""Deduplication operators for LLM-data pipelines (SURVEY.md §2.10
L1/L2; north star: exact + near-dup dedup at 100 TB).

Design for scale (the whole point of these formulations):

* exact dedup          — hash-groupBy: one shuffle on the fingerprint.
* MinHash + LSH        — signatures are a pure map stage (xxhash64,
  JVM-side); banding turns O(n²) pair search into a groupBy on
  (band, band_hash) buckets; only bucket-mates generate candidate
  pairs, then exact Jaccard verifies. No cartesian product anywhere.
* SimHash              — 60-bit md5 signature folded inside the row
  (map stage, batch and stream alike); Hamming-≤k matching via the
  band-exact-match trick (pigeonhole): split the 60 bits into k+1
  chunks, at least one chunk equal → same bucket, verify Hamming
  inside buckets only.
* n-gram Jaccard       — exact pairwise, but only inside cheap blocks
  (lang × length bucket) — the blocking key is the scale lever.

MinHash hashing is Spark's xxhash64 (deterministic, seedable via
literal prefix); SimHash hashes tokens with md5, which DuckDB
reproduces — signatures are reproducible run-to-run, satisfying the
"fix seeds" requirement (SURVEY §7 watch list).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from .text import tokens, word_kgrams

__all__ = [
    "exact_dedup",
    "shingles",
    "minhash_signature",
    "lsh_candidate_pairs",
    "lsh_bucket_stats",
    "exact_jaccard",
    "near_dup_minhash",
    "SIMHASH_BITS",
    "simhash_signature",
    "band_key_structs",
    "simhash_candidate_pairs",
    "hamming64",
]


# --------------------------------------------------------------------------
# exact (L1)
# --------------------------------------------------------------------------


def exact_dedup(df: DataFrame, key: Column, id_col: str = "doc_id") -> DataFrame:
    """Keep the min-id representative per exact key — deterministic
    survivor (dropDuplicates keeps an arbitrary row; groupBy+min is
    reproducible and costs the same single shuffle)."""
    return df.withColumn("__fp", key).groupBy("__fp").agg(
        F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_copies")
    )


# --------------------------------------------------------------------------
# MinHash + LSH (L2)
# --------------------------------------------------------------------------


def shingles(text_col: str | Column, n: int = 3) -> Column:
    """Word n-gram shingles as array<string> (distinct)."""
    return F.array_distinct(word_kgrams(tokens(text_col), n))


def hashed_shingles(sh: Column) -> Column:
    """Shingle strings → distinct int64 hashes (xxhash64), ONE string
    hash per shingle. All downstream MinHash/Jaccard work runs on longs:
    the signature permutations become integer arithmetic and the verify
    join ships ~8-byte elements instead of shingle strings."""
    return F.array_distinct(F.transform(sh, lambda s: F.xxhash64(s)))


def minhash_signature(sh: Column, num_hashes: int = 64) -> Column:
    """MinHash signature over HASHED shingles (array<long>): permutation
    i is xxhash64(i, h) — re-hashing an int64 is a fixed two-word mix,
    far cheaper than the naive 64× full-string hashing, and avoids the
    two traps of a linear a·h+b family under ANSI mode: wrap-multiply
    throws ARITHMETIC_OVERFLOW, and without wrap the map is monotone
    (every "permutation" would pick the same min shingle).
    Pure expression — map stage, no shuffle."""

    def perm(i: int):
        return lambda h: F.xxhash64(F.lit(i), h)

    return F.array(*[F.array_min(F.transform(sh, perm(i))) for i in range(num_hashes)])


def lsh_bucket_stats(
    sig_df: DataFrame,
    id_col: str = "doc_id",
    sig_col: str = "sig",
    bands: int = 16,
    rows: int = 4,
    max_bucket_size: int = 256,
) -> DataFrame:
    """Observability twin of `lsh_candidate_pairs`: per-(band, bucket)
    member counts with the `dropped` verdict the guardrail would apply.
    Run this (cheap: one groupBy) to see what a cap is discarding before
    committing to a threshold on a new corpus."""
    banded = _banded(sig_df, id_col, sig_col, bands, rows)
    return (
        banded.groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("n_members"))
        .withColumn("dropped", F.col("n_members") > max_bucket_size)
    )


def _banded(sig_df: DataFrame, id_col: str, sig_col: str, bands: int, rows: int) -> DataFrame:
    return sig_df.select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.xxhash64(F.concat_ws(",", F.transform(F.slice(sig_col, b * rows + 1, rows), lambda x: x.cast("string")))).alias("bucket"),
                ),
            )
        ).alias("bb"),
    ).select(id_col, "bb.band", "bb.bucket")


def lsh_candidate_pairs(
    sig_df: DataFrame,
    id_col: str = "doc_id",
    sig_col: str = "sig",
    bands: int = 16,
    rows: int = 4,
    max_bucket_size: int | None = 256,
) -> DataFrame:
    """LSH banding: docs agreeing on ALL rows of ≥1 band become a
    candidate pair. Returns distinct (a, b) with a < b.

    Plan shape: explode to (doc, band, band_hash) → self-equi-join on
    (band, band_hash) → distinct. The join key is the bucket, so only
    true bucket collisions shuffle together — the O(n²) pair space is
    never materialized.

    Mega-bucket guardrail: a boilerplate flood (k near-identical docs)
    puts all k in one bucket of every band → k²·bands/2 candidate pairs
    — the quadratic blowup that kills a 100 TB dedup run. Buckets with
    more than `max_bucket_size` members are dropped before the pair
    join. The trade is explicit: an over-cap bucket's pairs are LOST
    from the LSH output. EXACT duplicates inside it are still caught by
    the linear `exact_dedup`/bag pass, but a flood of near-identical-
    yet-not-bag-equal docs (templated pages with varying dates/ids —
    see tests/test_dedup_guardrails.py) is genuinely sacrificed for
    boundedness — the standard big-corpus call, made visible here via
    `lsh_bucket_stats` before committing to a cap on a new corpus.
    `max_bucket_size=None` disables the cap. No action runs here.

    Plan shape with the cap on: `banded` is persisted (it feeds the
    sizes groupBy AND both sides of the pair join — unpersisted, the
    upstream signature map stage recomputes per consumer), and the cap
    is applied as a LEFT ANTI join against the over-cap bucket keys,
    broadcast: mega-buckets are few BY CONSTRUCTION (each holds >cap
    members), while the surviving-bucket list is O(corpus) and must
    never ship driver-side.
    """
    banded = _banded(sig_df, id_col, sig_col, bands, rows)
    if max_bucket_size is not None:
        banded = banded.localCheckpoint(eager=False)
        sizes = banded.groupBy("band", "bucket").agg(F.count(F.lit(1)).alias("__n"))
        dropped_keys = sizes.filter(F.col("__n") > max_bucket_size)
        banded = banded.join(
            F.broadcast(dropped_keys.select("band", "bucket")), ["band", "bucket"], "left_anti"
        )
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("a"), F.col(f"b.{id_col}").alias("b"))
        .distinct()
    )


def exact_jaccard(pairs: DataFrame, docs: DataFrame, id_col: str = "doc_id", set_col: str = "sh") -> DataFrame:
    """Attach exact Jaccard over the shingle sets to candidate pairs —
    two broadcast-able (or shuffled) equi-joins + array intersect math."""
    left = docs.select(F.col(id_col).alias("a"), F.col(set_col).alias("__sa"))
    right = docs.select(F.col(id_col).alias("b"), F.col(set_col).alias("__sb"))
    inter = F.size(F.array_intersect("__sa", "__sb"))
    union = F.size(F.array_union("__sa", "__sb"))
    return (
        pairs.join(left, "a")
        .join(right, "b")
        .withColumn("jaccard", F.round(inter / F.greatest(union, F.lit(1)), 6))
        .drop("__sa", "__sb")
    )


def near_dup_minhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    max_bucket_size: int | None = 256,
) -> DataFrame:
    """End-to-end MinHash near-dup detector: shingle → sign → band →
    candidate pairs → exact-Jaccard verify ≥ threshold.

    With b=16 bands × r=4 rows, the LSH S-curve crosses ~50% capture at
    j ≈ (1/b)^(1/r) ≈ 0.5 — matched to the default threshold.

    The whole pipeline runs on hashed shingles (int64): Jaccard over the
    hash sets equals Jaccard over the shingle sets up to xxhash64
    collisions (~n²/2⁶⁴ — vanishing), and both the signature map stage
    and the verify join get severalfold cheaper.
    """
    # A small-file corpus arrives as ONE input partition — spread the
    # compute-heavy shingle/signature map stage across the cluster, and
    # persist it: the plan consumes it three times (signatures + both
    # sides of the verify join), and without the cache Spark recomputes
    # the shingling each time.
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    base = (
        df.repartition(parallelism, id_col)
        .select(id_col, hashed_shingles(shingles(text_col, shingle_n)).alias("sh"))
        .localCheckpoint(eager=False)
    )
    sigs = base.select(id_col, minhash_signature(F.col("sh"), num_hashes).alias("sig"))
    cands = lsh_candidate_pairs(
        sigs, id_col=id_col, bands=bands, rows=num_hashes // bands, max_bucket_size=max_bucket_size
    )
    verified = exact_jaccard(cands, base, id_col=id_col, set_col="sh")
    return verified.filter(F.col("jaccard") >= threshold).select("a", "b", "jaccard")


# --------------------------------------------------------------------------
# SimHash (L2 variant)
# --------------------------------------------------------------------------


#: SimHash signature width: the top 15 hex digits of a token's md5.
SIMHASH_BITS = 60


def simhash_signature(text_col: str | Column = "text") -> Column:
    """SimHash signature of a document's tokens, computed inside the
    row: per token the top 15 hex digits of md5 parsed base-16 (60
    bits, JVM-side ``F.transform``), then an Arrow-batched pandas UDF
    folds the ±1 bit tallies in numpy and sets bit i iff its tally is
    > 0 (a tie clears the bit). DuckDB reproduces every step
    (``CAST('0x'||SUBSTRING(MD5(tok),1,15) AS BIGINT)``), so
    the signature — and therefore the candidate pair set — is oracle-
    checkable. The same Column serves the batch pair search and the
    streaming suppressor.

    Token-less docs fold to signature 0; callers that mirror the
    GROUP BY oracle (which drops them) filter ``size(tokens(text)) > 0``
    first.

    Scale: a map stage — no shuffle, no state; the Python cost is one
    vectorized (n_tokens × 60) fold per doc per Arrow batch."""
    import pandas as pd  # noqa: F401 — pandas_udf import-time dependency

    hashes = F.transform(
        tokens(text_col), lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long")
    )

    @F.pandas_udf("long")
    def fold(hs):  # type: ignore[no-untyped-def]
        import numpy as np
        import pandas as pd

        shifts = np.arange(SIMHASH_BITS, dtype=np.int64)
        out = np.zeros(len(hs), dtype=np.int64)
        for i, row in enumerate(hs):
            if row is None or len(row) == 0:
                continue
            a = np.asarray(row, dtype=np.int64)
            ones = ((a[:, None] >> shifts) & 1).sum(axis=0, dtype=np.int64)
            tally = 2 * ones - np.int64(len(a))
            out[i] = int(((tally > 0).astype(np.int64) << shifts).sum())
        return pd.Series(out)

    return fold(hashes)


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def band_key_structs(sig_col: Column, chunks: int) -> Column:
    """Array of struct(chunk, key): a signature's pigeonhole band keys
    (chunk c = bits [c·width, (c+1)·width)). This expression IS the
    completeness argument — any Hamming-≤(chunks−1) pair agrees exactly
    on ≥1 chunk — shared by the batch pair search
    (`simhash_candidate_pairs`) and the streaming suppressor
    (streaming/ops.py::neardup_suppress_stream) so the two can't
    drift apart."""
    width = SIMHASH_BITS // chunks
    return F.array(
        *[
            F.struct(
                F.lit(c).alias("chunk"),
                F.shiftrightunsigned(sig_col, c * width)
                .bitwiseAND(F.lit((1 << width) - 1))
                .alias("key"),
            )
            for c in range(chunks)
        ]
    )


def simhash_candidate_pairs(
    sig_df: DataFrame, id_col: str = "doc_id", max_hamming: int = 3
) -> DataFrame:
    """Hamming-≤k pair search via the pigeonhole band trick: split the
    signature into k+1 chunks; any pair within distance k agrees exactly
    on ≥1 chunk → equi-join per chunk, verify Hamming on candidates.

    The signature frame is checkpointed first: both sides of the
    self-join read it, and without the checkpoint each side recomputes
    the tokenize + md5 + fold signature stage."""
    chunks = max_hamming + 1
    sig_df = sig_df.localCheckpoint(eager=False)
    banded = sig_df.select(
        id_col,
        "simhash",
        F.explode(band_key_structs(F.col("simhash"), chunks)).alias("cb"),
    ).select(id_col, "simhash", "cb.chunk", "cb.key")
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("a"),
            F.col(f"b.{id_col}").alias("b"),
            hamming64(F.col("a.simhash"), F.col("b.simhash")).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )
