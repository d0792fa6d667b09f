"""LLM-data-pipeline query tier (SURVEY.md §2.10, BASELINE.json north
star): dedup, similarity search, text analysis, multimodal columns —
each declared with a DuckDB oracle where ANSI-SQL-expressible, rows-only
otherwise (LSH machinery is verified against exact methods in
tests/test_llm_ops.py instead).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..operators import dedup as D
from ..operators import multimodal as M
from ..operators import similarity as S
from ..operators import text as X
from ..sources.tables import load_table
from .catalog import query

# --------------------------------------------------------------------------
# L1 exact dedup
# --------------------------------------------------------------------------


@query(
    "dedup_exact",
    tier="L1 (exact dedup via content fingerprint groupBy)",
    oracle="""
        SELECT MD5(LOWER(TRIM(text))) AS fp,
               MIN(doc_id) AS doc_id,
               COUNT(*)    AS n_copies
        FROM documents
        GROUP BY 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: min-id survivor per md5 fingerprint — ONE shuffle on
    the hash, the only formulation that holds at 100 TB (no sort, no
    pairwise compare). md5 (not xxhash) so both engines agree."""
    d = load_table(spark, "documents", sf_dir)
    return D.exact_dedup(d, X.fingerprint("text")).withColumnRenamed("__fp", "fp")


@query(
    "dedup_bag_exact",
    tier="L1 (order-insensitive dedup: sorted token-set fingerprint)",
    oracle="""
        SELECT fp, MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
        FROM (
            SELECT doc_id,
                   MD5(ARRAY_TO_STRING(LIST_SORT(LIST_DISTINCT(
                       LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), x -> LENGTH(x) > 0))), ' ')) AS fp
            FROM documents
        ) t
        GROUP BY fp
        HAVING COUNT(*) > 1
    """,
)
def dedup_bag_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffled-copy detection: same token SET ⇒ same fingerprint (the
    fixture contains bag-identical docs with different word order —
    classic shuffled-boilerplate near-dups caught exactly)."""
    d = load_table(spark, "documents", sf_dir)
    groups = D.exact_dedup(d, X.bag_fingerprint("text")).withColumnRenamed("__fp", "fp")
    return groups.filter(F.col("n_copies") > 1)


# --------------------------------------------------------------------------
# L2 near-dup dedup (MinHash LSH, SimHash) — rows-only, exact-verified in tests
# --------------------------------------------------------------------------


@query(
    "neardup_minhash",
    tier="L2 (MinHash+LSH near-dup, verdict-oracled: exact twin + recall gate)",
    oracle="""
        WITH toks AS (
            SELECT doc_id,
                   LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), x -> LENGTH(x) > 0) AS t
            FROM documents
        ),
        sh AS (
            SELECT doc_id,
                   LIST_DISTINCT([ARRAY_TO_STRING(t[i+1:i+3], ' ')
                                  FOR i IN RANGE(0, GREATEST(LEN(t) - 3, 0) + 1)]) AS s
            FROM toks
        ),
        pairs AS (
            SELECT LEN(LIST_INTERSECT(a.s, b.s)) AS shared,
                   LEN(a.s) + LEN(b.s) - LEN(LIST_INTERSECT(a.s, b.s)) AS un
            FROM sh a JOIN sh b ON a.doc_id < b.doc_id
            WHERE 2 * LEN(LIST_INTERSECT(a.s, b.s))
                  >= LEN(a.s) + LEN(b.s) - LEN(LIST_INTERSECT(a.s, b.s))
        )
        SELECT CAST(COUNT(*) AS BIGINT)                 AS n_exact_pairs,
               CAST(COALESCE(SUM(shared), 0) AS BIGINT) AS sum_shared,
               CAST(COALESCE(SUM(un), 0) AS BIGINT)     AS sum_union,
               TRUE                                     AS recall_ok
        FROM pairs
    """,
)
def neardup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup with a driver-checkable verdict (VERDICT r07
    item 3, same recipe as the sketch family): the query computes the
    EXACT Jaccard-≥0.5 pair set via a shingle inverted index (explode →
    equi-join on the hashed shingle → shared-count ≥ half the union, an
    all-integer predicate immune to float rounding), runs the LSH
    pipeline (`near_dup_minhash`: shingle→minhash(64)→band(16×4)→
    bucket-join→exact-verify), and emits the exact pair count /
    shared / union sums (hash-certified vs DuckDB's brute-force twin
    over the same word-3-gram shingles) plus `recall_ok` = LSH found
    ≥90% of the exact pairs. DuckDB has no MinHash, so the oracle pins
    the verdict TRUE — an LSH recall regression flips it false and
    fails the gate. Measured at sf0.01: 25/25 pairs, recall 1.0.

    Scale note: the exact twin joins on individual shingle hashes —
    linear in total postings, quadratic only within one shingle's
    posting list (rare by Zipf); the LSH side stays the bounded
    bucket-join. Both reuse ONE checkpointed shingle frame."""
    d = load_table(spark, "documents", sf_dir)
    par = spark.sparkContext.defaultParallelism
    base = (
        d.repartition(par, "doc_id")
        .select("doc_id", D.hashed_shingles(D.shingles("text", 3)).alias("sh"))
        .localCheckpoint(eager=False)
    )
    sizes = base.select("doc_id", F.size("sh").alias("sz"))
    posts = base.select("doc_id", F.explode("sh").alias("h"))
    exact = (
        posts.alias("a")
        .join(
            posts.alias("b"),
            (F.col("a.h") == F.col("b.h")) & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("a"), F.col("b.doc_id").alias("b"))
        .agg(F.count(F.lit(1)).alias("shared"))
        .join(sizes.select(F.col("doc_id").alias("a"), F.col("sz").alias("sa")), "a")
        .join(sizes.select(F.col("doc_id").alias("b"), F.col("sz").alias("sb")), "b")
        .withColumn("un", F.col("sa") + F.col("sb") - F.col("shared"))
        .filter(2 * F.col("shared") >= F.col("un"))
        .localCheckpoint(eager=False)
    )
    lsh = D.near_dup_minhash(d, threshold=0.5)
    hits = exact.select("a", "b").join(lsh.select("a", "b"), ["a", "b"], "left_semi")
    stats = exact.agg(
        F.count(F.lit(1)).cast("long").alias("n_exact_pairs"),
        F.coalesce(F.sum("shared"), F.lit(0)).cast("long").alias("sum_shared"),
        F.coalesce(F.sum("un"), F.lit(0)).cast("long").alias("sum_union"),
    )
    n_hit = hits.agg(F.count(F.lit(1)).alias("__hits"))
    return stats.crossJoin(n_hit).select(
        "n_exact_pairs",
        "sum_shared",
        "sum_union",
        (F.col("__hits") >= 0.9 * F.col("n_exact_pairs")).alias("recall_ok"),
    )


# The SimHash the oracle certifies is the one that runs: batch and
# stream share `operators/dedup.py::simhash_signature` (md5 token hash,
# 60 bits, row-local fold), which runs neardup_simhash_md5 in
# 1.10-1.18 s where an explode + groupBy kernel took 2.38 s (sf0.1,
# local[4], min of 3, BASELINE.md). There is no xxhash64 mode: it would
# sign 40k docs in 0.79 s vs md5's 1.37 s, but DuckDB cannot replay it,
# so no oracle could check it.


def simhash_md5_sig_cte() -> str:
    """The shared DuckDB CTE chain rebuilding the md5-kernel SimHash
    signature per document (top 15 md5 hex chars → base-16 long, ±1 bit
    tallies, sign bits — the cross-engine kernel, CLAUDE.md). Used by
    `neardup_simhash_md5`'s brute-force-pairs oracle and by
    queries/streaming.py::streaming_neardup_suppress's first-seen-wins
    replay oracle. Yields CTEs ``toks``, ``hashed``, ``sig`` — callers
    append their own SELECT; token-less docs are DROPPED by the
    GROUP BY (mirror that on the Spark side)."""
    sig_terms = " + ".join(
        f"(CASE WHEN SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) > 0 "
        f"THEN (CAST(1 AS BIGINT) << {i}) ELSE 0 END)"
        for i in range(D.SIMHASH_BITS)
    )
    return f"""
        WITH toks AS (
            SELECT doc_id,
                   UNNEST(LIST_FILTER(STRING_SPLIT(LOWER(text), ' '),
                                      x -> LENGTH(x) > 0)) AS tok
            FROM documents
        ),
        hashed AS (
            SELECT doc_id, CAST('0x' || SUBSTRING(MD5(tok), 1, 15) AS BIGINT) AS h
            FROM toks
        ),
        sig AS (
            SELECT doc_id, {sig_terms} AS simhash
            FROM hashed GROUP BY doc_id
        )"""


def _simhash_md5_oracle(max_hamming: int = 3) -> str:
    """DuckDB replica of the md5-kernel SimHash: same 60-bit signature
    per document (`simhash_md5_sig_cte`), then BRUTE-FORCE all-pairs
    Hamming — so the oracle certifies the Spark pigeonhole banding finds
    EXACTLY the Hamming-≤k pair set, completeness included."""
    return f"""{simhash_md5_sig_cte()}
        SELECT s1.doc_id AS a, s2.doc_id AS b,
               CAST(BIT_COUNT(XOR(s1.simhash, s2.simhash)) AS BIGINT) AS hamming
        FROM sig s1 JOIN sig s2 ON s1.doc_id < s2.doc_id
        WHERE BIT_COUNT(XOR(s1.simhash, s2.simhash)) <= {max_hamming}
        ORDER BY a, b
    """


@query(
    "neardup_simhash_md5",
    tier="L2 (SimHash near-dup, md5 cross-engine kernel — banding EXACTLY oracled vs brute force)",
    oracle=_simhash_md5_oracle(),
)
def neardup_simhash_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: token → md5 hash → ±1 bit tallies → sign
    signature (`D.simhash_signature`, folded inside the row) →
    pigeonhole chunk-band join → Hamming verify. DuckDB reproduces the
    md5 kernel (top 15 hex chars → 60 bits) bit-for-bit. The
    oracle rebuilds the SAME signatures and brute-forces ALL pairs — a
    hash match therefore certifies both directions of the banding: no
    false pair survives the verify AND no Hamming-≤3 pair escapes the
    pigeonhole bands (completeness, the part tests could only sample).
    Token-less docs are dropped before signing, as the oracle's
    GROUP BY drops them.

    Scale: signatures are a map stage over the scan's own splits,
    candidates one chunk-band equi-join; the oracle's all-pairs check is
    the DuckDB side only, never the Spark plan. The fixture is one row
    group, yet fanning it out costs more than it saves: at sf0.1 a
    repartition to 32 threads on a 4-core host runs 32 Python tasks and
    took 3.1-4.1 s against 1.1-1.7 s for the single scan task (same at
    4 threads, ~1.1 s)."""
    d = load_table(spark, "documents", sf_dir)
    sigs = d.filter(F.size(X.tokens("text")) > 0).select(
        "doc_id", D.simhash_signature("text").alias("simhash")
    )
    return (
        D.simhash_candidate_pairs(sigs, max_hamming=3)
        .select("a", "b", F.col("hamming").cast("long").alias("hamming"))
        .orderBy("a", "b")
    )


@query(
    "lsh_bucket_stats",
    tier="L2 observability (per-band LSH bucket audit, verdict-oracled)",
    oracle="""
        SELECT CAST(b.band AS INT) AS band,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM documents) AS n_members,
               CAST(0 AS BIGINT) AS n_dropped,
               CAST(0 AS BIGINT) AS members_dropped,
               TRUE AS healthy
        FROM (SELECT UNNEST(RANGE(16)) AS band) b
        ORDER BY band
    """,
)
def lsh_bucket_stats_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The operating-point audit run BEFORE committing to a bucket cap
    on a new corpus (VERDICT r05 #6): per band, total bucket membership,
    what a cap of 256 would drop, and a `healthy` verdict. On a healthy
    corpus n_dropped is 0; a boilerplate flood shows up here as a
    mega-bucket BEFORE it quadratically blows up the candidate join
    (operators/dedup.py:lsh_candidate_pairs guardrail). Same signature
    pipeline as `neardup_minhash` — one groupBy over the banded frame,
    no pair join anywhere.

    Verdict-oracle design (VERDICT r07 item 3): the xxhash64 bucket ids
    are engine-local, but three INVARIANTS are engine-checkable exactly
    — every doc lands in exactly one bucket per band (n_members ==
    COUNT(documents) for each of the 16 bands), nothing is dropped at
    cap 256 on this corpus, and `healthy` folds the engine-local stats
    (max bucket ≤ cap, ≥1 bucket) into a pinned boolean; a banding bug
    (doc skipped/duplicated, mega-bucket) breaks the hash gate."""
    d = load_table(spark, "documents", sf_dir)
    parallelism = spark.sparkContext.defaultParallelism
    base = d.repartition(parallelism, "doc_id").select(
        "doc_id", D.hashed_shingles(D.shingles("text", 3)).alias("sh")
    )
    sigs = base.select("doc_id", D.minhash_signature(F.col("sh"), 64).alias("sig"))
    stats = D.lsh_bucket_stats(sigs, bands=16, rows=4, max_bucket_size=256)
    return (
        stats.groupBy("band")
        .agg(
            F.sum("n_members").cast("long").alias("n_members"),
            F.sum(F.col("dropped").cast("int")).cast("long").alias("n_dropped"),
            F.sum(F.when(F.col("dropped"), F.col("n_members")).otherwise(0))
            .cast("long")
            .alias("members_dropped"),
            F.max("n_members").alias("__max_members"),
            F.count(F.lit(1)).alias("__n_buckets"),
        )
        .select(
            F.col("band").cast("int").alias("band"),
            "n_members",
            "n_dropped",
            "members_dropped",
            (
                (F.col("n_dropped") == 0)
                & (F.col("__max_members") <= 256)
                & (F.col("__n_buckets") >= 1)
            ).alias("healthy"),
        )
        .orderBy("band")
    )


@query(
    "ngram_jaccard_pairs",
    tier="L2 (exact Jaccard pairs via prefix filtering — AllPairs/PPJoin candidates)",
    oracle="""
        WITH d AS (
            SELECT doc_id, lang, n_chars // 100 AS len_bucket,
                   LIST_DISTINCT(LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), x -> LENGTH(x) > 0)) AS toks
            FROM documents
        )
        SELECT a.doc_id AS a, b.doc_id AS b,
               ROUND(LEN(LIST_INTERSECT(a.toks, b.toks)) * 1.0 /
                     GREATEST(LEN(LIST_DISTINCT(LIST_CONCAT(a.toks, b.toks))), 1), 6) AS jaccard
        FROM d a JOIN d b
          ON a.lang = b.lang AND a.len_bucket = b.len_bucket AND a.doc_id < b.doc_id
        WHERE LEN(LIST_INTERSECT(a.toks, b.toks)) * 1.0 /
              GREATEST(LEN(LIST_DISTINCT(LIST_CONCAT(a.toks, b.toks))), 1) >= 0.8
    """,
)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-set Jaccard ≥ τ=0.8 pairs within the declared
    (lang × length-bucket) scope — same RESULT as rounds 1–3, but
    candidates now come from PREFIX FILTERING (Bayardo et al. "Scaling
    Up All Pairs Similarity Search", WWW'07; PPJoin): order tokens by
    global rarity (document frequency asc) and index each doc only
    under its ⌊(1-τ)·|toks|⌋+1 rarest tokens — any pair with J ≥ τ
    shares a prefix token (pigeonhole on the ≥τ overlap), so candidate
    generation is LOSSLESS and the oracle stays the plain blocked
    quadratic.

    This replaces the salted (lang × len/100) self-join whose per-block
    work was quadratic in corpus size (BASELINE.md LLM probe: 58× cost
    at 10× docs): candidate volume per doc is now the summed df of its
    ~20% RAREST tokens — rare-token df grows sublinearly with corpus
    (Zipf), and frequent tokens (the mega-block makers) sort last and
    almost never enter a prefix. The AllPairs size filter
    (τ|A| ≤ |B| ≤ |A|/τ) prunes further for free. A genuine boilerplate
    flood has quadratic OUTPUT (all its pairs truly match ≥ τ) — no
    exact method avoids that; route such corpora to near_dup_minhash
    and its bucket cap.

    Plan: explode tokens → df groupBy → rarity rank (window by doc) →
    prefix self-equi-join on (tok, lang, len_bucket) → distinct pairs →
    one verify join against the (persisted) hashed token sets. Every
    join is an equi-join keyed by a high-cardinality token; no salt
    needed."""
    tau = 0.8
    d = load_table(spark, "documents", sf_dir)
    toks = F.array_distinct(F.transform(X.tokens("text"), lambda t: F.xxhash64(t)))
    parallelism = spark.sparkContext.defaultParallelism
    # small-file corpus = 1 input partition: spread the tokenize map
    # stage; persisted — consumed by the prefix derivation and both
    # sides of the verify join
    base = (
        d.repartition(parallelism, "doc_id")
        .select(
            "doc_id",
            "lang",
            F.floor(F.col("n_chars") / 100).alias("len_bucket"),
            toks.alias("toks"),
            F.size(toks).alias("sz"),
        )
        # lazy localCheckpoint (r07 cache-hygiene pattern): computed once,
        # gc-cleaned, no CacheManager entry lingering across the session
        .localCheckpoint(eager=False)
    )
    tok = base.select("doc_id", "lang", "len_bucket", "sz", F.explode("toks").alias("tok"))
    df_counts = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    from pyspark.sql import Window

    rarity = Window.partitionBy("doc_id").orderBy(F.col("df").asc(), F.col("tok").asc())
    # persisted: both sides of the candidate self-join consume it, and
    # the df groupBy + rarity window would otherwise run twice
    prefix = (
        tok.join(df_counts, "tok")
        .withColumn("rn", F.row_number().over(rarity))
        .filter(F.col("rn") <= F.floor((1 - tau) * F.col("sz")) + 1)
        .select("doc_id", "lang", "len_bucket", "sz", "tok")
        .localCheckpoint(eager=False)
    )
    cands = (
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.len_bucket") == F.col("b.len_bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            # AllPairs size filter: J ≥ τ forces τ|A| ≤ |B| ≤ |A|/τ
            & (F.col("b.sz") >= F.ceil(tau * F.col("a.sz")))
            & (F.col("b.sz") <= F.floor(F.col("a.sz") / tau)),
        )
        .select(F.col("a.doc_id").alias("a"), F.col("b.doc_id").alias("b"))
        .distinct()
    )
    left = base.select(F.col("doc_id").alias("a"), F.col("toks").alias("__ta"))
    right = base.select(F.col("doc_id").alias("b"), F.col("toks").alias("__tb"))
    jac = F.size(F.array_intersect("__ta", "__tb")) / F.greatest(
        F.size(F.array_union("__ta", "__tb")), F.lit(1)
    )
    return (
        cands.join(left, "a")
        .join(right, "b")
        .select("a", "b", F.round(jac, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= tau)
    )


# --------------------------------------------------------------------------
# L3 similarity search
# --------------------------------------------------------------------------


@query(
    "knn_exact_cosine",
    tier="L3 (brute-force cosine top-k — the exact baseline)",
    oracle="""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        scored AS (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   LIST_COSINE_SIMILARITY(q.v, c.v) AS cos_raw
            FROM e q JOIN e c ON q.vec_id < 10 AND q.vec_id <> c.vec_id
        )
        SELECT query_id, neighbor_id,
               CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_raw DESC, neighbor_id ASC) AS INT) AS rank,
               ROUND(cos_raw, 4) AS cos_sim
        FROM scored
        QUALIFY rank <= 5
    """,
)
def knn_exact_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 cosine neighbors for 10 query vectors: broadcast queries,
    JVM-side fold for the dot product, per-query window top-k."""
    e = load_table(spark, "embeddings", sf_dir)
    return S.exact_knn(e.filter(F.col("vec_id") < 10), e, k=5)


@query(
    "embedding_neardup_exact",
    tier="L2/L3 (embedding-cosine near-dup pairs, exact)",
    oracle="""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
        SELECT a.vec_id AS a, b.vec_id AS b,
               ROUND(LIST_COSINE_SIMILARITY(a.v, b.v), 4) AS cos_sim
        FROM e a JOIN e b ON a.vec_id < b.vec_id
        WHERE LIST_COSINE_SIMILARITY(a.v, b.v) > 0.4
    """,
)
def embedding_neardup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs cosine > 0.4 (fixture max ≈ 0.51, so sparse output).
    Exact tier for correctness; the LSH route is the unbounded-scale
    path. Executed as a broadcast block matrix multiply (Arrow-batched
    numpy): measured 72 s (per-pair cosine fold) → 27 s (pre-normalized
    fold) → ~2 s (matmul kernel) at sf0.1."""
    e = load_table(spark, "embeddings", sf_dir)
    return S.neardup_pairs_matmul(e, threshold=0.4)


#: The IVF queries' shared verdict oracle. DuckDB has no IVF, so it pins
#: the exact top-1 columns (hash-certified) plus n_ann=5 and
#: corpus_recall_ok TRUE; a quantizer or probe regression fails the gate
#: through the recall verdict.
_IVF_VERDICT_ORACLE = """
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        scored AS (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   LIST_COSINE_SIMILARITY(q.v, c.v) AS cos_raw
            FROM e q JOIN e c ON q.vec_id < 10 AND q.vec_id <> c.vec_id
        ),
        topk AS (
            SELECT query_id, neighbor_id, cos_raw,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY cos_raw DESC, neighbor_id ASC) AS rnk
            FROM scored
            QUALIFY rnk <= 5
        )
        SELECT query_id,
               CAST(MAX(CASE WHEN rnk = 1 THEN neighbor_id END) AS BIGINT) AS exact_top1_id,
               ROUND(MAX(CASE WHEN rnk = 1 THEN cos_raw END), 4) AS exact_top1_cos,
               CAST(COUNT(*) AS BIGINT) AS n_exact,
               CAST(5 AS BIGINT) AS n_ann,
               TRUE AS corpus_recall_ok
        FROM topk
        GROUP BY query_id
    """


def _ivf_verdict(spark: SparkSession, sf_dir: str, recall_floor: float, **ivf) -> DataFrame:
    """Exact top-5 of query vectors 0-9 compared inside the query with
    ``ann_ivf_knn(k=5, **ivf)``. Per query vector the output carries the
    exact top-1 neighbor and cosine and the exact/ANN result counts; the
    verdict is CORPUS-level — mean top-5 recall over the query set ≥
    ``recall_floor`` — because per-query recall is legitimately spiky
    for a coarse quantizer (a query whose true neighbors sit just across
    a Voronoi face probes the wrong cells)."""
    e = load_table(spark, "embeddings", sf_dir)
    q = e.filter(F.col("vec_id") < 10)
    ex = S.exact_knn(q, e, k=5).localCheckpoint(eager=False)
    ann = S.ann_ivf_knn(q, e, k=5, **ivf).localCheckpoint(eager=False)
    hits = ex.select("query_id", "neighbor_id").join(
        ann.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"], "left_semi"
    )
    corpus = hits.agg(F.count(F.lit(1)).alias("__hits")).crossJoin(
        ex.agg(F.count(F.lit(1)).alias("__n_exact_all"))
    )
    ann_n = ann.groupBy("query_id").agg(F.count(F.lit(1)).cast("long").alias("n_ann"))
    ex_agg = ex.groupBy("query_id").agg(
        F.max(F.when(F.col("rank") == 1, F.col("neighbor_id"))).cast("long").alias("exact_top1_id"),
        F.max(F.when(F.col("rank") == 1, F.col("cos_sim"))).alias("exact_top1_cos"),
        F.count(F.lit(1)).cast("long").alias("n_exact"),
    )
    return (
        ex_agg.join(ann_n, "query_id", "left")
        .crossJoin(F.broadcast(corpus))
        .select(
            "query_id",
            "exact_top1_id",
            "exact_top1_cos",
            "n_exact",
            F.coalesce(F.col("n_ann"), F.lit(0)).cast("long").alias("n_ann"),
            (F.col("__hits") >= recall_floor * F.col("__n_exact_all")).alias("corpus_recall_ok"),
        )
    )


@query(
    "ann_ivf_topk",
    tier="L3 (IVF coarse-quantizer ANN — the clustered-data scale path; verdict-oracled vs exact twin)",
    oracle=_IVF_VERDICT_ORACLE,
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with a driver-checkable verdict (VERDICT r07 item 3,
    completing the ANN tier): spherical k-means coarse quantizer
    (16 cells, seeded ≤10k driver-side sample), inverted cell lists,
    nprobe=4, gated at a 0.4 corpus recall floor (`_ivf_verdict`).
    Measured per-query recall at sf0.1 spans 0.0–1.0, mean 0.5;
    sf0.001/0.01 means 0.64/0.68 — all deterministic, seeded.
    Recall-vs-nprobe dials stay in tests/test_llm_ops.py."""
    return _ivf_verdict(spark, sf_dir, 0.4)


@query(
    "ann_ivf_two_level_topk",
    tier="L3 (two-level IMI quantizer IVF ANN — the corpus-scaled-K path; verdict-oracled vs exact twin)",
    oracle=_IVF_VERDICT_ORACLE,
)
def ann_ivf_two_level_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The r14 two-level (IMI-shaped) IVF quantizer certified at the
    driver surface, same verdict as ann_ivf_topk (`_ivf_verdict`):
    coarse×fine spherical k-means (√K coarse, √K fine per coarse),
    corpus vectors assigned coarse-argmax→fine-argmax, queries probed
    with the multi-sequence refined probe — pool the top
    probe_pool·√nprobe coarse cells, score every fine centroid in the
    pool, keep the global top nprobe. At the fixture's K=16 (4×4) with
    nprobe=8 the pool holds all 4 coarse cells, so the probe is the
    exact flat top-8 of 16 cells. At 100 TB this is the assignment shape
    that survives K ∝ N: probe at 1M vectors / K=1953 measured 3.44 s
    two-level vs 10.60 s single-level at EQUAL corpus recall
    (PROBES_r14.json). Fixture recall (worst-case i.i.d. vectors,
    measured 0.74/0.90/0.72 at sf0.001/0.01/0.1) gates at the 0.5
    corpus floor."""
    return _ivf_verdict(spark, sf_dir, 0.5, nprobe=8, two_level=True)


@query(
    "ann_lsh_topk",
    tier="L3 (LSH-bucketed ANN — the 100 TB path; verdict-oracled vs exact twin)",
    oracle="""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        scored AS (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   LIST_COSINE_SIMILARITY(q.v, c.v) AS cos_raw
            FROM e q JOIN e c ON q.vec_id < 10 AND q.vec_id <> c.vec_id
        ),
        topk AS (
            SELECT query_id, neighbor_id, cos_raw,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY cos_raw DESC, neighbor_id ASC) AS rnk
            FROM scored
            QUALIFY rnk <= 5
        )
        SELECT query_id,
               CAST(MAX(CASE WHEN rnk = 1 THEN neighbor_id END) AS BIGINT) AS exact_top1_id,
               ROUND(MAX(CASE WHEN rnk = 1 THEN cos_raw END), 4) AS exact_top1_cos,
               CAST(COUNT(*) AS BIGINT) AS n_exact,
               CAST(5 AS BIGINT) AS n_ann,
               TRUE AS recall_ok
        FROM topk
        GROUP BY query_id
    """,
)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH ANN with a per-query driver-checkable verdict (VERDICT r07
    item 3): random-hyperplane buckets (12 tables × 3 planes, seed 42),
    join within bucket, top-5 — compared inside the query against the
    exact brute-force top-5 (`exact_knn`, the certified baseline). Per
    query vector the output carries the exact top-1 neighbor and cosine
    (hash-certified vs DuckDB), the exact and ANN result counts, and
    `recall_ok` = ANN recovered ≥60% of the exact top-5 (measured
    per-query recall at sf0.01: min 0.8, mean 0.96 — deterministic,
    seeded). DuckDB has no LSH, so the oracle pins n_ann=5 and the
    verdict TRUE; a bucketing regression (short results, recall drop)
    fails the gate. Recall-vs-dial trades stay in tests/test_llm_ops.py."""
    e = load_table(spark, "embeddings", sf_dir)
    q = e.filter(F.col("vec_id") < 10)
    ex = S.exact_knn(q, e, k=5).localCheckpoint(eager=False)
    ann = S.ann_lsh_knn(q, e, k=5).localCheckpoint(eager=False)
    hits = ex.select("query_id", "neighbor_id").join(
        ann.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"], "left_semi"
    )
    per_q_hits = hits.groupBy("query_id").agg(F.count(F.lit(1)).alias("__hits"))
    ann_n = ann.groupBy("query_id").agg(F.count(F.lit(1)).cast("long").alias("n_ann"))
    ex_agg = ex.groupBy("query_id").agg(
        F.max(F.when(F.col("rank") == 1, F.col("neighbor_id"))).cast("long").alias("exact_top1_id"),
        F.max(F.when(F.col("rank") == 1, F.col("cos_sim"))).alias("exact_top1_cos"),
        F.count(F.lit(1)).cast("long").alias("n_exact"),
    )
    return (
        ex_agg.join(per_q_hits, "query_id", "left")
        .join(ann_n, "query_id", "left")
        .select(
            "query_id",
            "exact_top1_id",
            "exact_top1_cos",
            "n_exact",
            F.coalesce(F.col("n_ann"), F.lit(0)).cast("long").alias("n_ann"),
            (F.coalesce(F.col("__hits"), F.lit(0)) >= 0.6 * F.col("n_exact")).alias("recall_ok"),
        )
    )


# --------------------------------------------------------------------------
# L4 text analysis
# --------------------------------------------------------------------------


@query(
    "text_stats_by_lang",
    tier="L4 (token/length stats per language)",
    oracle="""
        SELECT lang,
               COUNT(*) AS n_docs,
               ROUND(AVG(n_chars), 6) AS avg_chars,
               ROUND(AVG(LEN(LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), x -> LENGTH(x) > 0))), 6) AS avg_tokens,
               ROUND(AVG(LEN(LIST_DISTINCT(LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), x -> LENGTH(x) > 0)))), 6) AS avg_distinct_tokens
        FROM documents
        GROUP BY lang
    """,
)
def text_stats_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, "documents", sf_dir)
    toks = X.tokens("text")
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("n_chars"), 6).alias("avg_chars"),
        F.round(F.avg(F.size(toks)), 6).alias("avg_tokens"),
        F.round(F.avg(F.size(F.array_distinct(toks))), 6).alias("avg_distinct_tokens"),
    )


@query(
    "lang_id_scores",
    tier="L4 (heuristic language ID: stopword-hit scores + argmax)",
    oracle="""
        WITH t AS (
            SELECT doc_id, lang,
                   LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), x -> LENGTH(x) > 0) AS toks
            FROM documents WHERE doc_id < 200
        ), s AS (
            SELECT doc_id, lang,
                   ROUND(LEN(LIST_FILTER(toks, x -> x IN ('the','a','and','of','to','in','is','that','it','for'))) * 1.0 / GREATEST(LEN(toks), 1), 6) AS score_en,
                   ROUND(LEN(LIST_FILTER(toks, x -> x IN ('le','la','les','de','et','un','une','des','que','pour'))) * 1.0 / GREATEST(LEN(toks), 1), 6) AS score_fr,
                   ROUND(LEN(LIST_FILTER(toks, x -> x IN ('el','la','los','de','y','un','una','que','en','por'))) * 1.0 / GREATEST(LEN(toks), 1), 6) AS score_es,
                   ROUND(LEN(LIST_FILTER(toks, x -> x IN ('der','die','das','und','ein','eine','von','zu','mit','ist'))) * 1.0 / GREATEST(LEN(toks), 1), 6) AS score_de
            FROM t
        )
        SELECT doc_id, lang, score_en, score_fr, score_es, score_de,
               CASE WHEN GREATEST(score_en, score_fr, score_es, score_de) = 0 THEN 'und'
                    WHEN score_en = GREATEST(score_en, score_fr, score_es, score_de) THEN 'en'
                    WHEN score_fr = GREATEST(score_en, score_fr, score_es, score_de) THEN 'fr'
                    WHEN score_es = GREATEST(score_en, score_fr, score_es, score_de) THEN 'es'
                    ELSE 'de' END AS predicted_lang
        FROM s
    """,
)
def lang_id_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-ratio language scores, argmax prediction (earlier
    language wins ties — mirrored in the CASE ordering)."""
    d = load_table(spark, "documents", sf_dir).filter(F.col("doc_id") < 200)
    scored = X.language_scores(d)
    return scored.select("doc_id", "lang", "score_en", "score_fr", "score_es", "score_de", "predicted_lang")


@query(
    "quality_scores",
    tier="L4 (document quality scoring)",
    oracle="""
        WITH t AS (
            SELECT doc_id, lang,
                   LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), x -> LENGTH(x) > 0) AS toks
            FROM documents
        ), m AS (
            SELECT doc_id, lang,
                   LEN(toks) AS n,
                   LIST_AGGREGATE(LIST_TRANSFORM(toks, x -> LENGTH(x) * 1.0), 'sum') / GREATEST(LEN(toks), 1) AS awl,
                   LEN(LIST_FILTER(toks, x -> x IN ('the','a','and','of','to','in','is','that','it','for'))) * 1.0 / GREATEST(LEN(toks), 1) AS sw
            FROM t
        )
        SELECT lang,
               ROUND(AVG(ROUND(0.4 * LEAST(n / 50.0, 1.0)
                             + 0.3 * LEAST(awl / 6.0, 1.0)
                             + 0.3 * LEAST(sw * 5, 1.0), 6)), 6) AS avg_quality,
               COUNT(*) AS n_docs
        FROM m
        GROUP BY lang
    """,
)
def quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, "documents", sf_dir)
    return (
        d.withColumn("q", X.quality_score("text"))
        .groupBy("lang")
        .agg(F.round(F.avg("q"), 6).alias("avg_quality"), F.count(F.lit(1)).alias("n_docs"))
    )


@query(
    "token_counts_per_doc",
    tier="L4 (per-doc token counting: whitespace + BPE-ish word-piece regex)",
    oracle="""
        SELECT doc_id,
               LEN(LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), x -> LENGTH(x) > 0)) AS n_ws_tokens,
               LEN(REGEXP_EXTRACT_ALL(LOWER(text), '[a-z]+|[0-9]+|[^a-z0-9 ]'))     AS n_bpeish_tokens,
               LENGTH(text) AS n_chars
        FROM documents
        WHERE doc_id < 300
    """,
)
def token_counts_per_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two tokenizers: whitespace and a BPE-ish regex segmentation
    (letters / digits / other) — the token-budget accounting every
    LLM-data pipeline needs."""
    d = load_table(spark, "documents", sf_dir).filter(F.col("doc_id") < 300)
    return d.select(
        "doc_id",
        F.size(X.tokens("text")).cast("long").alias("n_ws_tokens"),
        F.size(F.regexp_extract_all(F.lower("text"), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9 ]"), 0)).cast("long").alias("n_bpeish_tokens"),
        F.length("text").cast("long").alias("n_chars"),
    )


@query(
    "winnowing_fingerprints",
    tier="L4 (rolling-hash winnowing document fingerprints)",
    oracle="""
        WITH t AS (
            SELECT doc_id,
                   LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), x -> LENGTH(x) > 0) AS toks
            FROM documents WHERE doc_id < 120
        ), h AS (
            SELECT doc_id,
                   LIST_TRANSFORM(
                       GENERATE_SERIES(0, GREATEST(LEN(toks) - 3, 0)),
                       i -> MD5(ARRAY_TO_STRING(toks[i + 1 : i + 3], ' '))
                   ) AS kh
            FROM t
        )
        SELECT doc_id,
               ARRAY_TO_STRING(LIST_SORT(LIST_DISTINCT(LIST_TRANSFORM(
                   GENERATE_SERIES(1, GREATEST(LEN(kh) - 4 + 1, 1)),
                   i -> LIST_AGGREGATE(kh[i : i + 3], 'min')
               ))), ',') AS fp,
               CAST(LEN(LIST_SORT(LIST_DISTINCT(LIST_TRANSFORM(
                   GENERATE_SERIES(1, GREATEST(LEN(kh) - 4 + 1, 1)),
                   i -> LIST_AGGREGATE(kh[i : i + 3], 'min')
               )))) AS BIGINT) AS n_fp
        FROM h
    """,
)
def winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (rolling k-gram hash, window-min selection) per doc —
    the edit-robust fingerprint family. DuckDB list slicing a[i:j] is
    END-INCLUSIVE, so the oracle's i+2 / i+3 bounds equal Spark's
    slice(_, i, 3) / slice(_, i, 4).

    The fingerprint set is emitted as a comma-joined STRING on both
    engines (fp is already sorted+distinct md5 hex, so the join is
    order-stable): raw array columns crash the driver canonicalizer —
    the array_surface recipe (queries/functions.py)."""
    # fan out past the single-row-group scan: the rolling-hash transform
    # is the cost (~md5 per k-gram per doc) and otherwise runs as ONE
    # task (same lesson as split_cluster_aware, CLAUDE.md)
    d = (
        load_table(spark, "documents", sf_dir)
        .filter(F.col("doc_id") < 120)
        .repartition(spark.sparkContext.defaultParallelism)
    )
    fp = X.winnowing_fingerprint("text", k=3, w=4)
    return d.select(
        "doc_id",
        F.concat_ws(",", fp).alias("fp"),
        F.size(fp).cast("long").alias("n_fp"),
    )


@query(
    "udf_text_normalize",
    tier="U1 (scalar pandas UDF, Arrow-vectorized)",
    oracle="""
        SELECT doc_id,
               REGEXP_REPLACE(TRIM(LOWER(text)), '\\s+', ' ', 'g') AS norm_text,
               LENGTH(REGEXP_REPLACE(TRIM(LOWER(text)), '\\s+', ' ', 'g')) AS norm_len
        FROM documents
        WHERE doc_id < 150
    """,
)
def udf_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The U1 extension point: a scalar @pandas_udf normalizer whose
    output is certified against the built-in lower/trim/regexp pipeline
    (the oracle) — proving the Arrow batch path is value-identical."""
    d = load_table(spark, "documents", sf_dir).filter(F.col("doc_id") < 150)
    norm = X.normalize_text_udf()(F.col("text"))
    return d.select("doc_id", norm.alias("norm_text"), F.length(norm).cast("long").alias("norm_len"))


# --------------------------------------------------------------------------
# L5 multimodal columns
# --------------------------------------------------------------------------


@query(
    "multimodal_payload_meta",
    tier="L5 (binary payload + typed metadata struct)",
    oracle="""
        SELECT doc_id,
               OCTET_LENGTH(ENCODE(text)) AS n_bytes,
               MD5(text)                  AS checksum,
               'application/octet-stream' AS media_type
        FROM documents
        WHERE doc_id < 100
    """,
)
def multimodal_payload_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multimodal column contract: opaque binary + metadata struct
    (flattened here for the SQL oracle)."""
    d = load_table(spark, "documents", sf_dir).filter(F.col("doc_id") < 100)
    p = M.attach_payload(d)
    return p.select(
        "doc_id",
        F.col("payload_meta.n_bytes").alias("n_bytes"),
        F.col("payload_meta.checksum").alias("checksum"),
        F.col("payload_meta.media_type").alias("media_type"),
    )


@query(
    "multimodal_decode_features",
    tier="L5+U1 (Arrow-batched decode via mapInPandas; deterministic stub kernel, SQL-twinned)",
    oracle="""
        WITH t AS (
            SELECT doc_id, text,
                   OCTET_LENGTH(ENCODE(text)) AS n_bytes,
                   GREATEST(OCTET_LENGTH(ENCODE(text)) // 8, 1) AS step
            FROM documents WHERE doc_id < 100
        )
        SELECT doc_id,
               n_bytes,
               ROUND(LIST_AGGREGATE(LIST_TRANSFORM(REGEXP_EXTRACT_ALL(text, '(?s).'),
                                                   x -> CAST(UNICODE(x) AS DOUBLE)), 'sum') / n_bytes, 6) AS mean_byte,
               CAST(8 AS INT) AS feature_dim,
               ARRAY_TO_STRING(
                   LIST_TRANSFORM(GENERATE_SERIES(0, 7),
                       i -> PRINTF('%.4f', ROUND(CAST(UNICODE(SUBSTRING(text, LEAST(i * step, n_bytes - 1) + 1, 1)) AS DOUBLE) / 255.0, 4))),
                   ',') AS features_str
        FROM t
    """,
)
def multimodal_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stub decode kernel is deterministic over the payload BYTES, so
    it has an exact SQL twin: the oracle recomputes byte means and the
    sampled-byte features char-by-char (fixture text is pure ASCII, so
    UNICODE(char) == byte value — asserted cheap via n_bytes equality).

    The `features array<float>` operator output is formatted to a
    rounded comma-joined string for the driver (canonicalizer cannot
    sort array cells — the array_surface recipe); the raw array stays
    the operator contract and is exercised in tests/test_llm_ops.py.
    float32/double drift cannot flip the 4dp rounding: k/255 is never an
    odd multiple of 5e-5 (20000k even vs 255(2j+1) odd), and the nearest
    boundary is ≥1.9e-7 away while float32 error here is <6e-8."""
    d = load_table(spark, "documents", sf_dir).filter(F.col("doc_id") < 100)
    # kernel pinned to the certified deterministic stub: on a cluster
    # that ships Pillow, auto-selection would swap in the real decoder
    # and break the byte-replay oracle (r17 capability gate).
    feats = M.decode_features(M.attach_payload(d), kernel="stub")
    return feats.select(
        "doc_id",
        "n_bytes",
        F.round("mean_byte", 6).alias("mean_byte"),
        "feature_dim",
        F.concat_ws(
            ",", F.transform("features", lambda x: F.format_string("%.4f", F.round(x.cast("double"), 4)))
        ).alias("features_str"),
    )


@query(
    "multimodal_frame_sample",
    tier="L5 (keyframe-sampling plumbing: payload -> array<binary> frames)",
    oracle="""
        WITH t AS (
            SELECT doc_id, text, OCTET_LENGTH(ENCODE(text)) AS total
            FROM documents WHERE doc_id < 100
        )
        SELECT doc_id,
               CAST(4 AS INT) AS n_frames,
               ARRAY_TO_STRING(
                   LIST_TRANSFORM(GENERATE_SERIES(0, 3),
                       i -> SUBSTRING(text, CAST(FLOOR(i * GREATEST((total - 16) / 3.0, 0)) AS INT) + 1, 16)),
                   '|') AS frames_str
        FROM t
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-style keyframe sampling over binary payloads: 4 evenly
    spaced 16-byte frames per payload (operators/multimodal.py
    frame_sample — pure JVM expression, zero Python). Frames are binary
    slices; the oracle recomputes them as text substrings (fixture is
    ASCII so byte offsets == char offsets) and both sides emit a
    '|'-joined string. Spark's double→int cast truncates while DuckDB's
    rounds, so the oracle wraps the frame offset in FLOOR explicitly
    (the CLAUDE.md cast trap)."""
    d = load_table(spark, "documents", sf_dir).filter(F.col("doc_id") < 100)
    framed = M.frame_sample(M.attach_payload(d), n_frames=4, frame_bytes=16)
    return framed.select(
        "doc_id",
        F.col("n_frames").cast("int").alias("n_frames"),
        F.concat_ws("|", F.transform("frames", lambda b: F.decode(b, "UTF-8"))).alias("frames_str"),
    )


@query(
    "embedding_covariance_block",
    tier="L3-ext (single-pass distributed covariance: the PCA precursor)",
    oracle="""
        WITH e AS (
            SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ), p AS (
            SELECT gi.i AS i, gj.j AS j, e.v[gi.i + 1] AS vi, e.v[gj.j + 1] AS vj
            FROM e, GENERATE_SERIES(0, 7) gi(i), GENERATE_SERIES(0, 7) gj(j)
            WHERE gj.j <= gi.i
        )
        SELECT i, j,
               -- same naive two-sum formula as the Spark kernel (NOT
               -- COVAR_POP's streaming estimator), so only float sum
               -- order differs; FLOOR-truncate per the quotient rule
               FLOOR((SUM(vi * vj) - SUM(vi) * SUM(vj) / COUNT(*)) / COUNT(*) * 1000000.0)
                   / 1000000.0 AS cov
        FROM p GROUP BY i, j
    """,
)
def embedding_covariance_block(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Certifies operators/similarity.py::covariance_matrix — the
    one-pass second-moment kernel behind PCA whitening / decorrelation
    of an embedding corpus. Each partition folds its vectors into
    X.T @ X + column sums via a numpy mapInPandas kernel, so the only
    shuffle carries partitions x d² scalars (corpus read ONCE, no
    row-level shuffle at any scale); the d x d eigen step that follows
    in production is a driver-side O(d³) numpy call, data-independent.
    The certified block is the lower triangle of the first 8 dims
    (36 entries) against DuckDB's unnested pair aggregation — the same
    naive formula, so the comparison pins the distributed fold's math,
    while tests/test_llm_ops.py pins the FULL 64-dim matrix against
    numpy at 1e-9."""
    e = load_table(spark, "embeddings", sf_dir).repartition(
        spark.sparkContext.defaultParallelism
    )
    cov = S.covariance_matrix(e, "embedding")
    return cov.filter((F.col("i") < 8) & (F.col("j") <= F.col("i"))).select(
        "i", "j", (F.floor(F.col("cov") * 1000000.0) / 1000000.0).alias("cov")
    )


@query(
    "embedding_quantization_error",
    tier="L3/L5 (int8 embedding compression: per-label reconstruction error audit)",
    oracle="""
        WITH e AS (
            SELECT label, embedding::DOUBLE[] AS v FROM embeddings
        ), per AS (
            SELECT label, v,
                   list_max(list_transform(v, x -> ABS(x))) / 127.0 AS scale
            FROM e
        ), errs AS (
            SELECT label, scale,
                   list_transform(
                       v, x -> x - GREATEST(LEAST(FLOOR(x / scale + 0.5), 127.0), -127.0) * scale
                   ) AS err
            FROM per WHERE scale > 0
        ), mses AS (
            SELECT label, scale,
                   list_sum(list_transform(err, d -> d * d)) / CAST(len(err) AS DOUBLE) AS mse
            FROM errs
        )
        SELECT label,
               CAST(COUNT(*) AS BIGINT) AS n_vecs,
               FLOOR(AVG(scale) * 1000000.0) / 1000000.0 AS avg_scale,
               FLOOR(AVG(mse) * 1000000000000.0) / 1000000.0 AS mse_ppm
        FROM mses
        GROUP BY label
    """,
)
def embedding_quantization_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization (max-abs/127 scale per vector) with a
    per-label reconstruction-error audit — the gate you run BEFORE
    swapping a float32 ANN index for an int8 one at corpus scale. The
    kernel (operators/similarity.py::quantize_error_int8) is a pure
    numpy map stage; the only shuffle is the 10-group label aggregate.
    mse_ppm is the average per-dimension squared error ×1e6,
    FLOOR-truncated (quotient rule) so both engines compare identical
    doubles despite summation-order ulp drift."""
    e = load_table(spark, "embeddings", sf_dir)
    per = S.quantize_error_int8(e)
    return per.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        (F.floor(F.avg("scale") * F.lit(1000000.0)) / F.lit(1000000.0)).alias("avg_scale"),
        (F.floor(F.avg("mse") * F.lit(1000000000000.0)) / F.lit(1000000.0)).alias("mse_ppm"),
    )


@query(
    "multimodal_resize_stub",
    tier="L5 (resize plumbing: nearest-neighbor byte downsample, size accounting)",
    oracle="""
        WITH t AS (
            SELECT doc_id, text, OCTET_LENGTH(ENCODE(text)) AS total
            FROM documents WHERE doc_id < 100
        )
        SELECT doc_id,
               CAST(total AS BIGINT)               AS in_bytes,
               CAST(CEIL(total / 4.0) AS BIGINT)   AS out_bytes,
               ARRAY_TO_STRING(
                   LIST_TRANSFORM(GENERATE_SERIES(0, CAST(CEIL(total / 4.0) AS INT) - 1),
                       i -> SUBSTRING(text, i * 4 + 1, 1)),
                   '') AS resized_str
        FROM t
    """,
)
def multimodal_resize_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The resize leg of the multimodal tier (decode/feature-extract/
    resize/frame-sample, SURVEY §2.10): 4x nearest-neighbor byte
    downsample with in/out size accounting — the operator is pure JVM
    (operators/multimodal.py::resize_stub), certified byte-for-byte:
    the oracle re-derives every sampled byte as a text substring (ASCII
    fixture, so byte offsets == char offsets) and both sides emit the
    concatenated result. CEIL(double) is DOUBLE in DuckDB but BIGINT in
    Spark — both sides cast explicitly (the cast-matrix trap)."""
    d = load_table(spark, "documents", sf_dir).filter(F.col("doc_id") < 100)
    resized = M.resize_stub(M.attach_payload(d), factor=4)
    return resized.select(
        "doc_id",
        "in_bytes",
        "out_bytes",
        F.concat_ws("", F.transform("resized_frames", lambda b: F.decode(b, "UTF-8"))).alias(
            "resized_str"
        ),
    )


@query(
    "vocabulary_growth_curve",
    tier="L4 (Heaps-law audit: cumulative distinct vocabulary by corpus decile)",
    oracle="""
        WITH toks AS (
            SELECT doc_id,
                   LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), x -> LENGTH(x) > 0) AS t
            FROM documents
        ), firsts AS (
            SELECT gram, MIN(CAST(FLOOR(doc_id * 10 / (SELECT MAX(doc_id) + 1 FROM documents)) AS INT)) AS first_bucket
            FROM (
                SELECT doc_id,
                       UNNEST(LIST_TRANSFORM(
                           GENERATE_SERIES(0, GREATEST(LEN(t) - 3, 0)),
                           i -> ARRAY_TO_STRING(t[i + 1 : i + 3], ' ')
                       )) AS gram
                FROM toks
            ) g
            GROUP BY gram
        ), per_bucket AS (
            SELECT first_bucket AS bucket, CAST(COUNT(*) AS BIGINT) AS n_new_tokens
            FROM firsts GROUP BY first_bucket
        )
        SELECT bucket, n_new_tokens,
               CAST(SUM(n_new_tokens) OVER (ORDER BY bucket
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS vocab_size
        FROM per_bucket
    """,
)
def vocabulary_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How fast does the vocabulary saturate as the corpus grows — the
    Heaps-law curve a data-collection effort reads to decide whether
    the next 10 TB adds new content or repeats the old. The scalable
    formulation is the insight: 'distinct tokens among the first k
    docs, for 10 values of k' is NOT ten distinct-counts (ten corpus
    scans) — it is ONE pass: each token's FIRST-appearance bucket
    (min-reduce per token, a single shuffle), bucket counts, and a
    10-row cumulative sum. The unit is the 3-gram shingle (same
    construction as the contamination scan) — the fixture's WORD pool
    saturates within two documents, gram space is where growth is
    observable; buckets are corpus deciles by doc_id so the curve is
    scale-relative."""
    d = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    # single-row-group fixture: fan out BEFORE the gram explode or the
    # corpus-linear stage runs as one task (CLAUDE.md r07 rule)
    d = d.repartition(spark.sparkContext.defaultParallelism)
    max_id = d.agg(F.max("doc_id")).collect()[0][0] + 1  # bounded driver scalar
    grams = X.word_kgrams(X.tokens("text"), 3)
    words = d.select(
        (F.col("doc_id") * 10 / F.lit(max_id)).cast("int").alias("bucket"),
        F.explode(grams).alias("gram"),
    )
    firsts = words.groupBy("gram").agg(F.min("bucket").alias("bucket"))
    per_bucket = firsts.groupBy("bucket").agg(F.count(F.lit(1)).alias("n_new_tokens"))
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return per_bucket.select(
        "bucket", "n_new_tokens", F.sum("n_new_tokens").over(w).alias("vocab_size")
    )


@query(
    "kmeans_lloyd_assign",
    tier="L3-ext (k-means Lloyd step: nearest-centroid assign + update statistics)",
    oracle="""
        WITH e AS (
            SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ), c AS (
            SELECT vec_id AS cid, embedding::DOUBLE[] AS cv FROM embeddings WHERE vec_id < 4
        ), dists AS (
            SELECT e.vec_id, c.cid,
                   LIST_SUM(LIST_TRANSFORM(GENERATE_SERIES(1, 64),
                       i -> (e.v[i] - c.cv[i]) * (e.v[i] - c.cv[i]))) AS d
            FROM e CROSS JOIN c
        ), assigned AS (
            SELECT vec_id, cid, d,
                   ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
            FROM dists
        )
        SELECT cid,
               CAST(COUNT(*) AS BIGINT) AS n_assigned,
               ROUND(CAST(SUM(d) AS DOUBLE), 4) AS inertia
        FROM assigned WHERE rn = 1
        GROUP BY cid
    """,
)
def kmeans_lloyd_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd iteration's assign step — the inner loop of every
    distributed k-means: nearest centroid per vector (K broadcast
    centroids, deterministic seed = the first K vectors), per-cluster
    membership counts and inertia (the objective k-means descends).
    The distance fold is a SEQUENTIAL zip_with+aggregate, not numpy —
    deliberately, so both engines sum the 64 terms in identical order
    and the argmin ranking needs no rounding guard (ties broken by
    centroid id regardless). The argmin itself is MIN over the
    lexicographic struct (d, cid) — value-identical to ranking by
    (d, cid) and taking rank 1 (the r08 struct-argmax idiom), but a
    hash aggregate with map-side partials instead of a full sort
    window over N·K rows: the r15 stale-tier probe measured the
    window plan 36× at 5× data (0.68 → 24.7 s at 250k vectors); the
    struct-min plan removes the sort entirely. At scale: centroids
    broadcast (K·d doubles), assignment is a map stage + one
    per-vector hash agg, the update is one K-group shuffle — the plan
    shape of Spark MLlib's own k-means."""
    e = load_table(spark, "embeddings", sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    c = e.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv")
    )
    dist = F.aggregate(
        F.zip_with("v", "cv", lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    dists = e.crossJoin(F.broadcast(c)).select("vec_id", "cid", dist.alias("d"))
    nearest = dists.groupBy("vec_id").agg(F.min(F.struct("d", "cid")).alias("m"))
    return nearest.groupBy(F.col("m.cid").alias("cid")).agg(
        F.count(F.lit(1)).alias("n_assigned"),
        F.round(F.sum("m.d"), 4).alias("inertia"),
    )


@query(
    "inverted_index_postings",
    tier="L4 (inverted index build: gram -> sorted posting list + document frequency)",
    oracle="""
        WITH toks AS (
            SELECT doc_id,
                   LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), x -> LENGTH(x) > 0) AS t
            FROM documents
        ), pairs AS (
            SELECT DISTINCT doc_id,
                   UNNEST(LIST_TRANSFORM(
                       GENERATE_SERIES(0, GREATEST(LEN(t) - 2, 0)),
                       i -> ARRAY_TO_STRING(t[i + 1 : i + 2], ' '))) AS gram
            FROM toks
        ), postings AS (
            SELECT gram,
                   CAST(COUNT(*) AS BIGINT) AS df,
                   LIST(doc_id ORDER BY doc_id) AS docs
            FROM pairs GROUP BY gram
            -- relative df gate: keeps the term list stable across SFs
            HAVING COUNT(*) >= 0.05 * (SELECT COUNT(*) FROM documents)
        )
        SELECT gram, df, ARRAY_TO_STRING(docs[1:5], ',') AS head_postings
        FROM postings
    """,
)
def inverted_index_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The retrieval-side index build — the exact structure behind both
    BM25 search and the q-gram fuzzy join's candidate generation:
    distinct (gram, doc) pairs, grouped by gram into a document
    frequency and a SORTED posting list (bigrams with df >= 5% of the
    corpus — a relative gate so the indexed term list is stable at
    every SF; head of 5 ids as the certified sample — full lists would
    be the real artifact). One shuffle keyed by gram; posting lists are the
    collect_set-bounded-by-df structure, and df skew (stop grams) is
    the same hazard, and same cap lever, as everywhere else in the
    text tier."""
    d = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    d = d.repartition(spark.sparkContext.defaultParallelism)  # fan out the gram explode
    n_docs = d.count()  # bounded driver scalar for the relative gate
    grams = X.word_kgrams(X.tokens("text"), 2)
    pairs = d.select("doc_id", F.explode(grams).alias("gram")).distinct()
    postings = (
        pairs.groupBy("gram")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.sort_array(F.collect_list("doc_id")).alias("docs"),
        )
        .filter(F.col("df") >= 0.05 * n_docs)
    )
    return postings.select(
        "gram",
        "df",
        F.concat_ws(",", F.transform(F.slice("docs", 1, 5), lambda x: x.cast("string"))).alias(
            "head_postings"
        ),
    )


@query(
    "bm25_topk_search",
    tier="L4 (BM25 ranked retrieval: tf-idf's production successor, end to end)",
    oracle="""
        WITH q AS (
            SELECT UNNEST(['red', 'widget', 'small']) AS term
        ), toks AS (
            SELECT doc_id,
                   LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), x -> LENGTH(x) > 0) AS t
            FROM documents
        ), dl AS (
            SELECT doc_id, LEN(t) AS doclen FROM toks
        ), stats AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                   FLOOR(SUM(doclen) * 1000000.0 / COUNT(*)) / 1000000.0 AS avgdl
            FROM dl
        ), tf AS (
            SELECT x.doc_id, x.word AS term, CAST(COUNT(*) AS BIGINT) AS tf
            FROM (SELECT doc_id, UNNEST(t) AS word FROM toks) x
            JOIN q ON q.term = x.word
            GROUP BY x.doc_id, x.word
        ), df AS (
            SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term
        ), scored AS (
            SELECT tf.doc_id,
                   SUM(
                       LN(1 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))
                       * (tf.tf * 2.2)
                       / (tf.tf + 1.2 * (0.25 + 0.75 * dl.doclen / s.avgdl))
                   ) AS score
            FROM tf
            JOIN df USING (term)
            JOIN dl USING (doc_id)
            CROSS JOIN stats s
            GROUP BY tf.doc_id
        )
        SELECT doc_id, FLOOR(score * 1000000.0) / 1000000.0 AS bm25
        FROM scored
        ORDER BY score DESC, doc_id
        LIMIT 20
    """,
)
def bm25_topk_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranked retrieval over the corpus — BM25 (k1=1.2, b=0.75), the
    scoring function behind every production lexical search engine and
    the hard half of hybrid (lexical+vector) retrieval for RAG
    corpora. Everything derives in-frame: document lengths and the
    corpus average (one tiny aggregate, broadcast), per-term document
    frequencies, term frequencies ONLY for the query's terms (the
    query filter lands before the groupBy, so the corpus-sized shuffle
    carries |query| terms' postings, not the vocabulary). The score
    sum has at most |query| terms per doc, added in groupBy order —
    both engines' SUM over <= 3 doubles agrees to the last ulp far
    below the FLOOR-6dp output cut; ranking ties break by doc_id.
    At scale the tf/df frames ARE the inverted index
    (inverted_index_postings) built once and served, not recomputed
    per query."""
    d = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    terms = ["red", "widget", "small"]
    toks = d.select("doc_id", X.tokens("text").alias("t"))
    dl = toks.select("doc_id", F.size("t").alias("doclen")).localCheckpoint(eager=False)
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.floor(F.sum("doclen") * F.lit(1000000.0) / F.count(F.lit(1))) / F.lit(1000000.0)).alias(
            "avgdl"
        ),
    )
    tf = (
        # r17 opt: filter INSIDE the array, then explode the inline
        # expression — the explode("t")+row-filter form (a) made
        # InferFiltersFromGenerate clone the whole tokenize into a
        # size(..)>0 filter in the 1-task scan stage and (b) generated
        # one row per token only to drop all but the query terms;
        # explode(filter(t, in-set)) tokenizes once and generates only
        # matching tokens (multiplicity identical, tokens non-null)
        toks.select(
            "doc_id",
            F.explode(F.filter(F.col("t"), lambda x: x.isin(terms))).alias("term"),
        )
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    ).localCheckpoint(eager=False)
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(1 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
    term_score = idf * (F.col("tf") * 2.2) / (
        F.col("tf") + 1.2 * (0.25 + 0.75 * F.col("doclen") / F.col("avgdl"))
    )
    scored = (
        tf.join(F.broadcast(df), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.sum(term_score).alias("score"))
    )
    return (
        scored.orderBy(F.col("score").desc(), "doc_id")
        .limit(20)
        .select("doc_id", (F.floor(F.col("score") * 1000000.0) / 1000000.0).alias("bm25"))
    )


@query(
    "hybrid_retrieval_rrf",
    tier="L3+L4 (hybrid search: BM25 + vector cosine fused by reciprocal rank)",
    oracle="""
        WITH uni AS (
            SELECT d.doc_id, d.text, e.embedding::DOUBLE[] AS v
            FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
        ), toks AS (
            SELECT doc_id, LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), x -> LENGTH(x) > 0) AS t
            FROM uni
        ), dl AS (
            SELECT doc_id, LEN(t) AS doclen FROM toks
        ), stats AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                   FLOOR(SUM(doclen) * 1000000.0 / COUNT(*)) / 1000000.0 AS avgdl
            FROM dl
        ), tf AS (
            SELECT x.doc_id, x.word AS term, CAST(COUNT(*) AS BIGINT) AS tf
            FROM (SELECT doc_id, UNNEST(t) AS word FROM toks) x
            WHERE x.word IN ('red', 'widget', 'small')
            GROUP BY x.doc_id, x.word
        ), df AS (
            SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term
        ), lex AS (
            SELECT tf.doc_id,
                   CAST(ROW_NUMBER() OVER (ORDER BY SUM(
                       LN(1 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))
                       * (tf.tf * 2.2)
                       / (tf.tf + 1.2 * (0.25 + 0.75 * dl.doclen / s.avgdl))
                   ) DESC, tf.doc_id) AS BIGINT) AS lex_rank
            FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats s
            GROUP BY tf.doc_id
        ), qv AS (
            SELECT v AS q FROM uni WHERE doc_id = 0
        ), vec AS (
            SELECT u.doc_id,
                   CAST(ROW_NUMBER() OVER (ORDER BY
                       LIST_SUM(LIST_TRANSFORM(GENERATE_SERIES(1, 64), i -> u.v[i] * q.q[i]))
                       / (SQRT(LIST_SUM(LIST_TRANSFORM(GENERATE_SERIES(1, 64), i -> u.v[i] * u.v[i])))
                          * SQRT(LIST_SUM(LIST_TRANSFORM(GENERATE_SERIES(1, 64), i -> q.q[i] * q.q[i]))))
                       DESC, u.doc_id) AS BIGINT) AS vec_rank
            FROM uni u CROSS JOIN qv q
        ), fused AS (
            SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id,
                   l.lex_rank, v.vec_rank,
                   COALESCE(1.0 / (60 + l.lex_rank), 0) + COALESCE(1.0 / (60 + v.vec_rank), 0) AS rrf
            FROM lex l FULL JOIN vec v ON v.doc_id = l.doc_id
        )
        SELECT doc_id, lex_rank, vec_rank,
               FLOOR(rrf * 1000000.0) / 1000000.0 AS rrf_score
        FROM fused
        ORDER BY rrf DESC, doc_id
        LIMIT 10
    """,
)
def hybrid_retrieval_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The RAG retrieval capstone: lexical (BM25) and vector (cosine)
    legs fused by reciprocal-rank fusion, rrf = Σ 1/(60 + rank) —
    rank-space fusion needs no score calibration between legs, which
    is exactly why it is the production default for hybrid search.
    Both legs run over the embedded subset of the corpus; each leg is
    the scale plan proven elsewhere (query-term-filtered postings for
    BM25; broadcast query vector + sequential cosine folds matching
    DuckDB's evaluation order for the ANN leg), the fusion is a 2-way
    outer join on doc_id with absent legs contributing zero. Top-10
    by fused score, doc-id tiebreak, FLOOR-cut output."""
    d = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    e = load_table(spark, "embeddings", sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    uni = d.join(e, d.doc_id == e.vec_id).select("doc_id", "text", "v").localCheckpoint(
        eager=False
    )
    terms = ["red", "widget", "small"]
    toks = uni.select("doc_id", X.tokens("text").alias("t"))
    dl = toks.select("doc_id", F.size("t").alias("doclen")).localCheckpoint(eager=False)
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.floor(F.sum("doclen") * F.lit(1000000.0) / F.count(F.lit(1))) / F.lit(1000000.0)).alias(
            "avgdl"
        ),
    )
    tf = (
        # r17 opt: filter INSIDE the array, then explode the inline
        # expression — the explode("t")+row-filter form (a) made
        # InferFiltersFromGenerate clone the whole tokenize into a
        # size(..)>0 filter in the 1-task scan stage and (b) generated
        # one row per token only to drop all but the query terms;
        # explode(filter(t, in-set)) tokenizes once and generates only
        # matching tokens (multiplicity identical, tokens non-null)
        toks.select(
            "doc_id",
            F.explode(F.filter(F.col("t"), lambda x: x.isin(terms))).alias("term"),
        )
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    ).localCheckpoint(eager=False)
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(1 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
    term_score = idf * (F.col("tf") * 2.2) / (
        F.col("tf") + 1.2 * (0.25 + 0.75 * F.col("doclen") / F.col("avgdl"))
    )
    wlex = Window.orderBy(F.col("score").desc(), "doc_id")
    lex = (
        tf.join(F.broadcast(dfreq), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.sum(term_score).alias("score"))
        .select("doc_id", F.row_number().over(wlex).cast("bigint").alias("lex_rank"))
    )
    qv = uni.filter(F.col("doc_id") == 0).select(F.col("v").alias("q"))

    def fold(col):
        return F.aggregate(col, F.lit(0.0), lambda acc, x: acc + x)

    cos = fold(F.zip_with("v", "q", lambda a, b: a * b)) / (
        F.sqrt(fold(F.zip_with("v", "v", lambda a, b: a * b)))
        * F.sqrt(fold(F.zip_with("q", "q", lambda a, b: a * b)))
    )
    wvec = Window.orderBy(F.col("cos").desc(), "doc_id")
    vec = (
        uni.crossJoin(F.broadcast(qv))
        .select("doc_id", cos.alias("cos"))
        .select("doc_id", F.row_number().over(wvec).cast("bigint").alias("vec_rank"))
    )
    fused = (
        lex.withColumnRenamed("doc_id", "ld")
        .join(vec, F.col("ld") == vec.doc_id, "full_outer")
        .select(
            F.coalesce("ld", "doc_id").alias("doc_id"),
            "lex_rank",
            "vec_rank",
            (
                F.coalesce(F.lit(1.0) / (60 + F.col("lex_rank")), F.lit(0.0))
                + F.coalesce(F.lit(1.0) / (60 + F.col("vec_rank")), F.lit(0.0))
            ).alias("rrf"),
        )
    )
    return (
        fused.orderBy(F.col("rrf").desc(), "doc_id")
        .limit(10)
        .select(
            "doc_id",
            "lex_rank",
            "vec_rank",
            (F.floor(F.col("rrf") * 1000000.0) / 1000000.0).alias("rrf_score"),
        )
    )


@query(
    "semdedup_cell_prune",
    tier="L2-ext (SemDeDup: centroid-cell-blocked semantic dedup prune over embeddings)",
    oracle="""
        WITH e AS (
            SELECT vec_id, embedding::DOUBLE[] AS v,
                   LIST_SUM(LIST_TRANSFORM(embedding::DOUBLE[], x -> x * x)) AS nrm
            FROM embeddings
        ), c AS (
            SELECT vec_id AS cid, embedding::DOUBLE[] AS cv FROM embeddings WHERE vec_id < 32
        ), dists AS (
            SELECT e.vec_id, e.v, e.nrm, c.cid,
                   LIST_SUM(LIST_TRANSFORM(GENERATE_SERIES(1, 64),
                       i -> (e.v[i] - c.cv[i]) * (e.v[i] - c.cv[i]))) AS d
            FROM e CROSS JOIN c
        ), assigned AS (
            SELECT vec_id, v, nrm, cid,
                   ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
            FROM dists
        ), members AS (
            SELECT vec_id, v, nrm, cid FROM assigned WHERE rn = 1
        ), dup_pairs AS (
            SELECT a.cid, a.vec_id AS a_id, b.vec_id AS b_id
            FROM members a JOIN members b
              ON a.cid = b.cid AND a.vec_id < b.vec_id
            WHERE LIST_SUM(LIST_TRANSFORM(GENERATE_SERIES(1, 64),
                      i -> a.v[i] * b.v[i]))
                  / (SQRT(a.nrm) * SQRT(b.nrm)) > 0.4
        ), cell_pairs AS (
            SELECT cid,
                   CAST(COUNT(*) AS BIGINT) AS n_dup_pairs,
                   CAST(COUNT(DISTINCT b_id) AS BIGINT) AS n_pruned
            FROM dup_pairs GROUP BY cid
        )
        SELECT m.cid AS cell,
               CAST(COUNT(*) AS BIGINT) AS n_vecs,
               CAST(COALESCE(MAX(p.n_dup_pairs), 0) AS BIGINT) AS n_dup_pairs,
               CAST(COALESCE(MAX(p.n_pruned), 0) AS BIGINT) AS n_pruned,
               CAST(COUNT(*) - COALESCE(MAX(p.n_pruned), 0) AS BIGINT) AS n_kept
        FROM members m LEFT JOIN cell_pairs p ON m.cid = p.cid
        GROUP BY m.cid ORDER BY cell
    """,
)
def semdedup_cell_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, public) — semantic deduplication of
    an embedding corpus WITHOUT the all-pairs product: coarse-quantize
    every vector to its nearest of K=32 seed centroids (the IVF assign
    step), compare pairs only WITHIN a cell, and prune the higher
    vec_id of any pair with cosine > 0.4; emits the per-cell audit
    (members, duplicate pairs, pruned, kept). Missing cross-cell dups
    is the algorithm's documented recall trade — the knob is K.

    Cross-engine exactness: every distance/dot is the SEQUENTIAL
    zip_with+aggregate fold (the kmeans_lloyd_assign idiom — both
    engines sum the 64 terms in identical order), the cosine keeps one
    mirrored expression tree dot/(sqrt(na)*sqrt(nb)) used ONLY as a
    strict threshold predicate, and the output is pure BIGINT counts —
    no float column ever crosses the driver hash.

    Scale (100 TB): centroids broadcast (K*d doubles); assignment is a
    map stage; the pair join is an equi-join on cell id with Σ n_c²/2
    candidates (N²/(2K) balanced — K scales with N to hold cell size
    constant, exactly how production SemDeDup sizes its k-means), and
    the per-cell rollup partial-aggregates. The numpy-matmul kernel
    (operators/similarity.py) is the drop-in for the fold when cells
    grow past interpreter comfort; the fold form is what makes the
    algorithm hash-certifiable end-to-end."""
    e = load_table(spark, "embeddings", sf_dir).select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("v"),
    ).withColumn(
        "nrm",
        F.aggregate(F.transform("v", lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x),
    )
    c = e.filter(F.col("vec_id") < 32).select(F.col("vec_id").alias("cid"), F.col("v").alias("cv"))
    d = F.aggregate(
        F.zip_with("v", "cv", lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    dists = e.crossJoin(F.broadcast(c)).select("vec_id", "v", "nrm", "cid", d.alias("d"))
    rn = F.row_number().over(Window.partitionBy("vec_id").orderBy("d", "cid"))
    members = (
        dists.withColumn("rn", rn)
        .filter(F.col("rn") == 1)
        .select("vec_id", "v", "nrm", "cid")
        # consumed by BOTH sides of the pair join + the per-cell rollup
        .localCheckpoint(eager=False)
    )
    a = members.select(
        F.col("cid").alias("cid"),
        F.col("vec_id").alias("a_id"),
        F.col("v").alias("va"),
        F.col("nrm").alias("na"),
    )
    b = members.select(
        F.col("cid").alias("cid"),
        F.col("vec_id").alias("b_id"),
        F.col("v").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    dup_pairs = (
        a.join(b, "cid")
        .filter(F.col("a_id") < F.col("b_id"))
        .withColumn("cos", dot / (F.sqrt("na") * F.sqrt("nb")))
        .filter(F.col("cos") > 0.4)
        .select("cid", "a_id", "b_id")
    )
    cell_pairs = dup_pairs.groupBy("cid").agg(
        F.count(F.lit(1)).cast("long").alias("n_dup_pairs"),
        F.countDistinct("b_id").cast("long").alias("n_pruned"),
    )
    return (
        members.groupBy("cid")
        .agg(F.count(F.lit(1)).cast("long").alias("n_vecs"))
        .join(F.broadcast(cell_pairs), "cid", "left")
        .select(
            F.col("cid").cast("long").alias("cell"),
            "n_vecs",
            F.coalesce("n_dup_pairs", F.lit(0)).cast("long").alias("n_dup_pairs"),
            F.coalesce("n_pruned", F.lit(0)).cast("long").alias("n_pruned"),
            (F.col("n_vecs") - F.coalesce("n_pruned", F.lit(0))).cast("long").alias("n_kept"),
        )
        .orderBy("cell")
    )


@query(
    "semdedup_two_level_twin",
    tier="L2-ext (two-level coarse x fine quantizer assign -> cell-blocked prune, oracle-replayable)",
    oracle="""
        WITH e AS (
            SELECT vec_id, embedding::DOUBLE[] AS v,
                   LIST_SUM(LIST_TRANSFORM(embedding::DOUBLE[], x -> x * x)) AS nrm
            FROM embeddings
        ), cc AS (
            SELECT vec_id AS cid, v AS cv, nrm AS cnrm FROM e WHERE vec_id < 6
        ), fc AS (
            SELECT (vec_id - 6) // 6 AS fcid, (vec_id - 6) % 6 AS fid,
                   v AS fv, nrm AS fnrm
            FROM e WHERE vec_id >= 6 AND vec_id < 42
        ), cscore AS (
            SELECT e.vec_id, e.v, e.nrm, cc.cid,
                   LIST_SUM(LIST_TRANSFORM(GENERATE_SERIES(1, 64),
                       i -> e.v[i] * cc.cv[i])) / SQRT(cc.cnrm) AS s
            FROM e CROSS JOIN cc
        ), cassign AS (
            SELECT vec_id, v, nrm, cid FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
                FROM cscore) WHERE rn = 1
        ), fscore AS (
            SELECT a.vec_id, a.v, a.nrm, a.cid, f.fid,
                   LIST_SUM(LIST_TRANSFORM(GENERATE_SERIES(1, 64),
                       i -> a.v[i] * f.fv[i])) / SQRT(f.fnrm) AS s
            FROM cassign a JOIN fc f ON f.fcid = a.cid
        ), members AS (
            SELECT vec_id, v, nrm, cid * 6 + fid AS cell FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s DESC, fid) AS rn
                FROM fscore) WHERE rn = 1
        ), dup_pairs AS (
            SELECT a.cell, a.vec_id AS a_id, b.vec_id AS b_id
            FROM members a JOIN members b
              ON a.cell = b.cell AND a.vec_id < b.vec_id
            WHERE LIST_SUM(LIST_TRANSFORM(GENERATE_SERIES(1, 64),
                      i -> a.v[i] * b.v[i]))
                  / (SQRT(a.nrm) * SQRT(b.nrm)) > 0.4
        ), cell_pairs AS (
            SELECT cell,
                   CAST(COUNT(*) AS BIGINT) AS n_dup_pairs,
                   CAST(COUNT(DISTINCT b_id) AS BIGINT) AS n_pruned
            FROM dup_pairs GROUP BY cell
        )
        SELECT m.cell AS cell,
               CAST(COUNT(*) AS BIGINT) AS n_vecs,
               CAST(COALESCE(MAX(p.n_dup_pairs), 0) AS BIGINT) AS n_dup_pairs,
               CAST(COALESCE(MAX(p.n_pruned), 0) AS BIGINT) AS n_pruned,
               CAST(COUNT(*) - COALESCE(MAX(p.n_pruned), 0) AS BIGINT) AS n_kept
        FROM members m LEFT JOIN cell_pairs p ON m.cell = p.cell
        GROUP BY m.cell ORDER BY cell
    """,
)
def semdedup_two_level_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TWO-LEVEL coarse x fine quantizer assign path under the
    driver's hash gate (VERDICT r11 item 3): semdedup_prune auto-switches
    to this FAISS-IMI-shaped assignment above TWO_LEVEL_MIN_CELLS
    (operators/similarity.py::_nearest_cell — measured 3.4x at K=1953,
    BASELINE.md r11), but that operator's k-means fit is numpy-RNG and
    not oracle-replayable; this twin pins the SAME two-stage assign
    topology with md5-free deterministic seeds (the semdedup_cell_prune
    recipe): 6 coarse centroids = vec_ids 0-5, a 6x6 fine grid =
    vec_ids 6-41 keyed fine(c, f) = 6 + c*6 + f.

    Assignment mirrors the operator's SPHERICAL scoring (argmax dot over
    unit-norm vectors — the cell_prune twin certifies the Euclidean
    variant): coarse = argmax_c dot(v, cv)/sqrt(|cv|²) (the row's own
    norm is rank-constant and cancelled), then fine = argmax WITHIN the
    chosen coarse group only — never over all K cells, which is exactly
    the N·2·sqrt(K)·d flop shape being certified — and
    cell = coarse*6 + fine. Pair stage, prune rule (cosine > 0.4, higher
    vec_id pruned) and the BIGINT-only audit schema are byte-identical
    to semdedup_cell_prune.

    Cross-engine exactness: every dot/norm is the SEQUENTIAL
    zip_with+aggregate fold; scores feed ONLY ROW_NUMBER ranking
    (identical IEEE values rank identically; ties break on centroid id);
    no float column crosses the driver hash.

    Scale (100 TB): both argmax stages are broadcast map stages (6 + 6
    scored centroids per row vs 36 single-level — the sqrt(K) saving),
    and the pair join inherits cell_prune's N²/(2K)-bounded shape. The
    production operator with fitted centroids and numpy-matmul assign is
    semdedup_prune (exact-method tests in tests/test_llm_ops.py)."""
    e = (
        load_table(spark, "embeddings", sf_dir)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
        .withColumn(
            "nrm",
            F.aggregate(F.transform("v", lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x),
        )
    )
    cc = e.filter(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv"), F.col("nrm").alias("cnrm")
    )
    fc = e.filter((F.col("vec_id") >= 6) & (F.col("vec_id") < 42)).select(
        F.expr("(vec_id - 6) div 6").alias("fcid"),
        F.expr("(vec_id - 6) % 6").alias("fid"),
        F.col("v").alias("fv"),
        F.col("nrm").alias("fnrm"),
    )
    dot_cv = F.aggregate(
        F.zip_with("v", "cv", lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x
    )
    cassign = (
        e.crossJoin(F.broadcast(cc))
        .withColumn("s", dot_cv / F.sqrt("cnrm"))
        .withColumn(
            "rn", F.row_number().over(Window.partitionBy("vec_id").orderBy(F.desc("s"), "cid"))
        )
        .filter(F.col("rn") == 1)
        .select("vec_id", "v", "nrm", "cid")
    )
    dot_fv = F.aggregate(
        F.zip_with("v", "fv", lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x
    )
    members = (
        cassign.join(F.broadcast(fc), cassign["cid"] == fc["fcid"])
        .withColumn("s", dot_fv / F.sqrt("fnrm"))
        .withColumn(
            "rn", F.row_number().over(Window.partitionBy("vec_id").orderBy(F.desc("s"), "fid"))
        )
        .filter(F.col("rn") == 1)
        .select("vec_id", "v", "nrm", (F.col("cid") * 6 + F.col("fid")).alias("cell"))
        # consumed by BOTH sides of the pair join + the per-cell rollup
        .localCheckpoint(eager=False)
    )
    a = members.select(
        "cell", F.col("vec_id").alias("a_id"), F.col("v").alias("va"), F.col("nrm").alias("na")
    )
    b = members.select(
        "cell", F.col("vec_id").alias("b_id"), F.col("v").alias("vb"), F.col("nrm").alias("nb")
    )
    dot_ab = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    dup_pairs = (
        a.join(b, "cell")
        .filter(F.col("a_id") < F.col("b_id"))
        .withColumn("cos", dot_ab / (F.sqrt("na") * F.sqrt("nb")))
        .filter(F.col("cos") > 0.4)
        .select("cell", "a_id", "b_id")
    )
    cell_pairs = dup_pairs.groupBy("cell").agg(
        F.count(F.lit(1)).cast("long").alias("n_dup_pairs"),
        F.countDistinct("b_id").cast("long").alias("n_pruned"),
    )
    return (
        members.groupBy("cell")
        .agg(F.count(F.lit(1)).cast("long").alias("n_vecs"))
        .join(F.broadcast(cell_pairs), "cell", "left")
        .select(
            F.col("cell").cast("long").alias("cell"),
            "n_vecs",
            F.coalesce("n_dup_pairs", F.lit(0)).cast("long").alias("n_dup_pairs"),
            F.coalesce("n_pruned", F.lit(0)).cast("long").alias("n_pruned"),
            (F.col("n_vecs") - F.coalesce("n_pruned", F.lit(0))).cast("long").alias("n_kept"),
        )
        .orderBy("cell")
    )


@query(
    "semdedup_prune_scaled",
    tier="L2-ext (semdedup_prune operator surface: fitted quantizer + numpy assign, rows-only)",
    oracle=None,  # k-means fit is numpy-RNG — not SQL-replayable; the
    # assign TOPOLOGY is hash-certified by semdedup_two_level_twin /
    # semdedup_cell_prune, the operator's decisions by exact-method
    # tests (tests/test_llm_ops.py: planted-duplicate recall, partition
    # property, threshold agreement, two-level contract).
)
def semdedup_prune_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production semdedup_prune operator (CLAUDE.md invariant:
    every operator gets a @query surface) run end-to-end on the fixture
    corpus: seeded spherical-k-means quantizer (K = N/target_cell),
    broadcast centroids, Arrow numpy assign, per-cell blocked prune —
    operators/similarity.py::semdedup_prune. Emits the per-cell audit rollup (pure
    counts, deterministic given the seeded fit) rather than the per-row
    frame so the bench row stays small."""
    corpus = load_table(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    out = S.semdedup_prune(corpus, threshold=0.4, target_cell=64, seed=42)
    return (
        out.groupBy("cell")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            F.sum(F.col("pruned").cast("long")).alias("n_pruned"),
        )
        .orderBy("cell")
    )
