"""Training-data pipeline queries (the corpus→shards operations of an
LLM data pipeline, first-class per the engine mandate): deterministic
splits, leakage-safe cluster splits, contamination detection,
token-budget packing, stratified sampling. All DuckDB-oracle-certified
— the split/packing math is exact cross-engine because md5 is the one
hash both engines share (operators/pipeline.py).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..operators import dedup as D
from ..operators import pipeline as P
from ..operators import text as X
from ..sources.tables import load_table
from .catalog import query

#: DuckDB twin of operators.pipeline.hash_bucket
_DUCK_BUCKET = "CAST(CONCAT('0x', SUBSTRING(MD5(CAST({key} AS VARCHAR)), 1, 8)) AS BIGINT) % 100"


@query(
    "split_train_val_test",
    tier="L-pipeline (deterministic 80/10/10 hash split)",
    oracle=f"""
        WITH assigned AS (
            SELECT n_chars,
                   CASE WHEN {_DUCK_BUCKET.format(key='doc_id')} < 80 THEN 'train'
                        WHEN {_DUCK_BUCKET.format(key='doc_id')} < 90 THEN 'val'
                        ELSE 'test' END AS split
            FROM documents
        )
        SELECT split, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS n_chars_total
        FROM assigned GROUP BY split
    """,
)
def split_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-of-key splits: membership is a pure function of doc_id, so
    appends never reshuffle old docs across splits and the assignment is
    a map stage (no shuffle, no sampling state)."""
    d = load_table(spark, "documents", sf_dir)
    return (
        d.withColumn("split", P.assign_split(F.col("doc_id")))
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("n_chars_total"))
    )


@query(
    "split_cluster_aware",
    tier="L-pipeline (leakage-safe split: duplicates share a split)",
    oracle=f"""
        WITH fp AS (
            SELECT doc_id, MD5(LOWER(TRIM(text))) AS f FROM documents
        ), assigned AS (
            SELECT doc_id, f,
                   CASE WHEN {_DUCK_BUCKET.format(key='f')} < 80 THEN 'train'
                        WHEN {_DUCK_BUCKET.format(key='f')} < 90 THEN 'val'
                        ELSE 'test' END AS split
            FROM fp
        )
        SELECT split,
               COUNT(*) AS n_docs,
               COUNT(DISTINCT f) AS n_clusters,
               (SELECT COUNT(*) FROM (
                   SELECT f FROM assigned GROUP BY f HAVING COUNT(DISTINCT split) > 1
               ) leaks) AS n_leaked_clusters
        FROM assigned GROUP BY split
    """,
)
def split_cluster_aware(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Splitting by hash of the DEDUP FINGERPRINT (not doc_id) puts
    every copy of a document in the same split — the train/test-leakage
    guard an i.i.d. split lacks. n_leaked_clusters (fingerprints seen in
    >1 split) is emitted and must be 0 by construction; the oracle
    recomputes it independently rather than trusting the invariant."""
    # fan out BEFORE the md5 map stage: the fixture file is a single row
    # group, so without this the fingerprint hash runs as ONE task
    # (measured 2.07 s vs 0.49 s across 32 at sf0.1 — the r06 "regression"
    # was exactly this serial stage meeting a contended host)
    d = (
        load_table(spark, "documents", sf_dir)
        .repartition(spark.sparkContext.defaultParallelism)
        .withColumn("f", X.fingerprint("text"))
    )
    assigned = d.withColumn("split", P.assign_split(F.col("f"))).localCheckpoint(eager=False)
    leaks = (
        assigned.groupBy("f")
        .agg(F.countDistinct("split").alias("__ns"))
        .filter(F.col("__ns") > 1)
        .agg(F.count(F.lit(1)).alias("n_leaked_clusters"))
    )
    per_split = assigned.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("f").alias("n_clusters"),
    )
    return per_split.crossJoin(F.broadcast(leaks)).select(
        "split", "n_docs", "n_clusters", "n_leaked_clusters"
    )


@query(
    "contamination_ngram_overlap",
    tier="L-pipeline (benchmark contamination via shingle-hash join)",
    oracle="""
        WITH toks AS (
            SELECT doc_id,
                   LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), x -> LENGTH(x) > 0) AS t
            FROM documents
        ), sh AS (
            SELECT doc_id,
                   LIST_DISTINCT(LIST_TRANSFORM(
                       GENERATE_SERIES(0, GREATEST(LEN(t) - 3, 0)),
                       i -> CAST(CONCAT('0x', SUBSTRING(MD5(ARRAY_TO_STRING(t[i + 1 : i + 3], ' ')), 1, 15)) AS BIGINT)
                   )) AS hs
            FROM toks
        ), bench AS (
            SELECT DISTINCT UNNEST(hs) AS h FROM sh WHERE doc_id < 25
        ), train AS (
            SELECT doc_id, UNNEST(hs) AS h FROM sh WHERE doc_id >= 25
        )
        SELECT t.doc_id, COUNT(*) AS n_shared_shingles
        FROM train t JOIN bench b ON t.h = b.h
        GROUP BY t.doc_id
    """,
)
def contamination_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/benchmark contamination scan: 3-gram shingles of both
    sides, hashed to int64, equi-joined — per training doc, how many
    distinct shingles also appear anywhere in the benchmark. The
    benchmark shingle set is tiny → broadcast; the train side explodes
    once and joins without shuffle. Never all-pairs: cost is linear in
    total shingles (the dedup-tier discipline applied to eval hygiene).

    Hashing is xxhash64, not the cross-engine md5 kernel: both join
    sides are hashed by THIS engine in the same job, and the oracle
    compares only the COUNT of shared distinct shingles — a
    hash-function-independent quantity (same trick as
    repetition_topgram_stats; md5+hex-parse was the query's whole
    hot-path cost).

    Broadcast-size fallback (VERDICT r07 item 5): benchmarks are small
    by nature, but a full eval-suite UNION could push the distinct
    shingle set past spark.sql.autoBroadcastJoinThreshold / the 8 GB
    broadcast hard cap. The degradation path is to DROP the
    F.broadcast() hint and let AQE pick a shuffled hash join on the
    int64 shingle hash — still linear in total shingles (the join key
    is already a uniform hash, so no skew), just one extra shuffle of
    the exploded train side. Nothing else in the query changes."""
    # r17 opt: shingle expression exploded INLINE in each branch — the
    # withColumn+explode form made InferFiltersFromGenerate clone the
    # whole tokenize+hash pipeline into a pushed-down size(..)>0 filter
    # (evaluated twice per branch, once single-threaded below the
    # repartition); inline, no filter is inferred and each branch hashes
    # its slice exactly once, post-shuffle
    sh = D.hashed_shingles(D.shingles("text", 3))
    d = load_table(spark, "documents", sf_dir).repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    bench = (
        d.filter(F.col("doc_id") < 25)
        .select(F.explode(sh).alias("h"))
        .distinct()
    )
    train = d.filter(F.col("doc_id") >= 25).select("doc_id", F.explode(sh).alias("h"))
    return (
        train.join(F.broadcast(bench), "h")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared_shingles"))
    )


@query(
    "token_budget_packing",
    tier="L-pipeline (concat-then-chunk packing into 512-token shards)",
    oracle="""
        WITH counted AS (
            SELECT doc_id,
                   LEN(LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), x -> LENGTH(x) > 0)) AS n_tok
            FROM documents WHERE doc_id < 2000
        ), packed AS (
            SELECT doc_id, n_tok,
                   CAST(FLOOR((SUM(n_tok) OVER (ORDER BY doc_id
                                ROWS UNBOUNDED PRECEDING) - n_tok) / 512.0) AS BIGINT) AS chunk_id
            FROM counted
        )
        SELECT chunk_id,
               COUNT(*) AS n_docs,
               CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
               MIN(doc_id) AS first_doc,
               MAX(doc_id) AS last_doc
        FROM packed GROUP BY chunk_id
    """,
)
def token_budget_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pretraining shard layout: docs laid end-to-end in doc_id order,
    cut every 512 tokens, a doc charged to the chunk where its first
    token lands. One global-order window here (bounded by the doc_id
    filter); at scale the window partitions by shard so packing stays
    parallel — see operators/pipeline.py::pack_into_chunks."""
    d = load_table(spark, "documents", sf_dir).filter(F.col("doc_id") < 2000).select("doc_id", "text")
    packed = P.pack_into_chunks(d, X.token_count("text").cast("bigint"), "doc_id", budget=512)
    return packed.groupBy("chunk_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("n_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


@query(
    "stratified_sample_by_lang",
    tier="L-pipeline (deterministic 10% stratified sample + rates)",
    oracle=f"""
        WITH s AS (
            SELECT lang,
                   CASE WHEN {_DUCK_BUCKET.format(key='doc_id')} < 10 THEN 1 ELSE 0 END AS keep
            FROM documents
        )
        SELECT lang,
               COUNT(*) AS n_total,
               CAST(SUM(keep) AS BIGINT) AS n_sampled,
               ROUND(SUM(keep) * 1.0 / COUNT(*), 4) AS sample_rate
        FROM s GROUP BY lang
    """,
)
def stratified_sample_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible downsampling with per-stratum accounting: the keep
    decision is hash(doc_id) < p — no RNG state, no sampling seed drift
    across retries/executors, rerun-stable. Emits realized rates per
    lang so skew against the 10% target is observable."""
    d = load_table(spark, "documents", sf_dir)
    keep = (P.hash_bucket(F.col("doc_id"), 100) < 10).cast("bigint")
    return (
        d.withColumn("keep", keep)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum("keep").alias("n_sampled"),
            F.round(F.sum("keep") / F.count(F.lit(1)), 4).alias("sample_rate"),
        )
    )


@query(
    "pipeline_end_to_end",
    tier="L-pipeline (composite: quality filter -> dedup -> split -> packing stats)",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, text,
                   LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), x -> LENGTH(x) > 0) AS t
            FROM documents
        ), scored AS (
            SELECT doc_id, text, LEN(t) AS n_tok,
                   ROUND(0.4 * LEAST(LEN(t) / 50.0, 1.0)
                       + 0.3 * LEAST((LIST_AGGREGATE(LIST_TRANSFORM(t, x -> LENGTH(x) * 1.0), 'sum')
                                      / GREATEST(LEN(t), 1)) / 6.0, 1.0)
                       + 0.3 * LEAST(LEN(LIST_FILTER(t, x -> x IN ('the','a','and','of','to','in','is','that','it','for')))
                                     * 1.0 / GREATEST(LEN(t), 1) * 5, 1.0), 6) AS q
            FROM toks
        ), kept AS (
            SELECT doc_id, n_tok, MD5(LOWER(TRIM(text))) AS f
            FROM scored WHERE q >= 0.5
        ), survivors AS (
            SELECT doc_id, n_tok, f,
                   ROW_NUMBER() OVER (PARTITION BY f ORDER BY doc_id) AS rn
            FROM kept
        ), assigned AS (
            SELECT doc_id, n_tok,
                   CASE WHEN {_DUCK_BUCKET.format(key='f')} < 80 THEN 'train'
                        WHEN {_DUCK_BUCKET.format(key='f')} < 90 THEN 'val'
                        ELSE 'test' END AS split
            FROM survivors WHERE rn = 1
        )
        SELECT split,
               COUNT(*) AS n_docs,
               CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
               CAST(CEIL(SUM(n_tok) / 512.0) AS BIGINT) AS n_chunks
        FROM assigned GROUP BY split
    """,
)
def pipeline_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole data-prep DAG in one declared plan — quality-filter the
    corpus, drop exact duplicates (min-id survivor), assign leakage-safe
    splits by fingerprint hash, report per-split token volume and the
    512-token chunk count a packer would emit. Composes the tier's
    operators end-to-end exactly as a user would; one shuffle per stage
    (fingerprint groupBy, split agg), everything else map-side."""
    d = load_table(spark, "documents", sf_dir)
    # r18 note (VERDICT r17 #8, MEASURED AND DECLINED): the q >= 0.5
    # filter on the computed quality column is pushed below the
    # projection, so the tokenize+aggregate quality expression evaluates
    # twice per row (Filter clone + Project). The checkpoint-the-scored-
    # frame rewrite that removes the duplication was implemented and
    # measured — warm interleaved it wins ~13%, but the checkpoint's
    # extra materialization job costs ~+0.4 s on every COLD run (the
    # bench's single-shot shape), it is absolutely slower at 250k docs
    # (probe 0.88/0.79 s vs 0.60/0.63), and at 100k × 300-token docs the
    # two shapes tie (1.494 vs 1.496 s min, same session). No measured
    # scale wins the extra job back, so the pushdown duplication stays —
    # see OPTIMIZATION_r18.md §V8 for the full numbers.
    scored = d.withColumn("q", X.quality_score("text")).withColumn(
        "n_tok", X.token_count("text").cast("bigint")
    )
    kept = scored.filter(F.col("q") >= 0.5).withColumn("f", X.fingerprint("text"))
    from pyspark.sql import Window

    w = Window.partitionBy("f").orderBy("doc_id")
    survivors = kept.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    assigned = survivors.withColumn("split", P.assign_split(F.col("f")))
    return assigned.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("n_tokens"),
        F.ceil(F.sum("n_tok") / 512.0).cast("bigint").alias("n_chunks"),
    )


@query(
    "dedup_incremental_delta",
    tier="L1+J3 (incremental dedup: delta anti-joined against base corpus)",
    oracle="""
        WITH base AS (
            SELECT DISTINCT MD5(LOWER(TRIM(text))) AS f
            FROM documents WHERE doc_id < 400
        ), delta AS (
            SELECT doc_id, MD5(LOWER(TRIM(text))) AS f
            FROM documents WHERE doc_id >= 400
        ), novel AS (
            SELECT doc_id, f,
                   ROW_NUMBER() OVER (PARTITION BY f ORDER BY doc_id) AS rn
            -- NOT EXISTS (not NOT IN): matches anti-join NULL semantics —
            -- a NULL fingerprint would empty NOT IN via three-valued logic
            -- while the Spark left_anti keeps the row (ADVICE r05).
            FROM delta d WHERE NOT EXISTS (SELECT 1 FROM base b WHERE b.f = d.f)
        )
        SELECT COUNT(*) AS n_delta_docs,
               (SELECT COUNT(*) FROM novel WHERE rn = 1) AS n_novel,
               COUNT(*) - (SELECT COUNT(*) FROM novel WHERE rn = 1) AS n_dropped
        FROM delta
    """,
)
def dedup_incremental_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production dedup is incremental: a new delta batch is checked
    against the already-deduped base (anti join on fingerprint — one
    shuffle on the hash, never a rescan-and-redo of the corpus), then
    deduped within itself (min-id survivor per novel fingerprint).
    Reports delta size, novel survivors, and drops. At 100 TB the base
    fingerprint set is a bucketed table so the anti join is
    exchange-free on the delta side only."""
    d = load_table(spark, "documents", sf_dir).withColumn("f", X.fingerprint("text"))
    base = d.filter(F.col("doc_id") < 400).select("f").distinct()
    delta = d.filter(F.col("doc_id") >= 400).select("doc_id", "f")
    novel = (
        delta.join(base, "f", "left_anti")
        .groupBy("f")
        .agg(F.min("doc_id").alias("survivor"))
    )
    counts = delta.agg(F.count(F.lit(1)).alias("n_delta_docs"))
    novel_n = novel.agg(F.count(F.lit(1)).alias("n_novel"))
    return (
        counts.crossJoin(F.broadcast(novel_n))
        .select(
            "n_delta_docs",
            "n_novel",
            (F.col("n_delta_docs") - F.col("n_novel")).alias("n_dropped"),
        )
    )


# --------------------------------------------------------------------------
# Corpus-cleaning tier (r06): PII, repetition, mixture planning, funnel
# --------------------------------------------------------------------------

#: Java and RE2 agree on these (no lookaround, no backrefs)
_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PHONE_RE = r"\+[0-9]{2}-[0-9]{2}-[0-9]{3}-[0-9]{4}"


@query(
    "pii_redaction_stats",
    tier="L-pipeline (PII detect + redact: regex scrub before training)",
    oracle=f"""
        WITH aug AS (
            -- deterministic PII injection so the detector has real work:
            -- the corpus fixture is synthetic prose with no PII of its own
            SELECT source,
                   text
                   || CASE WHEN doc_id % 7 = 0
                           THEN ' contact user' || doc_id || '@example.com' ELSE '' END
                   || CASE WHEN doc_id % 11 = 0
                           THEN ' tel +46-70-123-' || LPAD(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
                   AS text
            FROM documents
        ), hits AS (
            SELECT source,
                   LEN(REGEXP_EXTRACT_ALL(text, '{_EMAIL_RE}')) AS n_emails,
                   LEN(REGEXP_EXTRACT_ALL(text, '{_PHONE_RE}')) AS n_phones,
                   LENGTH(text) - LENGTH(REGEXP_REPLACE(REGEXP_REPLACE(text, '{_EMAIL_RE}', '[EMAIL]', 'g'), '{_PHONE_RE}', '[PHONE]', 'g')) AS chars_removed
            FROM aug
        )
        SELECT source,
               COUNT(*) AS n_docs,
               CAST(SUM(CASE WHEN n_emails + n_phones > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_pii,
               CAST(SUM(n_emails) AS BIGINT) AS total_emails,
               CAST(SUM(n_phones) AS BIGINT) AS total_phones,
               CAST(SUM(chars_removed) AS BIGINT) AS chars_removed
        FROM hits GROUP BY source
    """,
)
def pii_redaction_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing — the compliance pass every training corpus runs
    before tokenization. Detection and redaction are pure map-stage
    regex (JVM regexp_count/regexp_replace — no Python in the path);
    the per-source report is one partial-aggregated groupBy. The
    fixture corpus carries no organic PII, so a deterministic injection
    (emails on doc_id%7, phone numbers on doc_id%11) gives the detector
    measurable, oracle-checkable work. Patterns avoid lookaround so the
    Java and RE2 engines agree."""
    d = load_table(spark, "documents", sf_dir)
    aug = d.select(
        "source",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 7 == 0,
                   F.concat(F.lit(" contact user"), F.col("doc_id").cast("string"), F.lit("@example.com"))
                   ).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 11 == 0,
                   F.concat(F.lit(" tel +46-70-123-"), F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"))
                   ).otherwise(F.lit("")),
        ).alias("text"),
    )
    hits = aug.select(
        "source",
        F.regexp_count("text", F.lit(_EMAIL_RE)).alias("n_emails"),
        F.regexp_count("text", F.lit(_PHONE_RE)).alias("n_phones"),
        (
            F.length("text")
            - F.length(F.regexp_replace(F.regexp_replace("text", _EMAIL_RE, "[EMAIL]"), _PHONE_RE, "[PHONE]"))
        ).alias("chars_removed"),
    )
    return hits.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(((F.col("n_emails") + F.col("n_phones")) > 0).cast("bigint")).alias("docs_with_pii"),
        F.sum("n_emails").alias("total_emails"),
        F.sum("n_phones").alias("total_phones"),
        F.sum("chars_removed").alias("chars_removed"),
    )


@query(
    "repetition_topgram_stats",
    tier="L-pipeline (Gopher-style repetition rule: top-2-gram mass per doc)",
    oracle="""
        WITH t AS (
            SELECT doc_id, lang,
                   LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), x -> LENGTH(x) > 0) AS toks
            FROM documents
        ), g AS (
            SELECT doc_id, lang,
                   LIST_TRANSFORM(GENERATE_SERIES(1, LEN(toks) - 1), i -> toks[i] || ' ' || toks[i + 1]) AS grams
            FROM t WHERE LEN(toks) >= 2
        ), counts AS (
            SELECT doc_id, lang, gram, COUNT(*) AS c
            FROM g, UNNEST(grams) AS u(gram)
            GROUP BY doc_id, lang, gram
        ), per_doc AS (
            -- FLOOR-truncate the raw quotient (CLAUDE.md rule): a .5-boundary
            -- max/total would diverge between the engines under ROUND
            SELECT doc_id, lang,
                   FLOOR(MAX(c) * 1000000.0 / SUM(c)) / 1000000.0 AS top_gram_ratio
            FROM counts GROUP BY doc_id, lang
        )
        SELECT lang,
               COUNT(*) AS n_docs,
               ROUND(AVG(top_gram_ratio), 6) AS avg_top_gram_ratio,
               CAST(SUM(CASE WHEN top_gram_ratio > 0.2 THEN 1 ELSE 0 END) AS BIGINT) AS n_repetitive
        FROM per_doc GROUP BY lang
    """,
)
def repetition_topgram_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition filtering (the Gopher/MassiveText rule family): a doc
    whose single most frequent 2-gram carries >20% of all its 2-grams
    is boilerplate/looping text. Plan: build 2-grams in a map stage
    (transform over token indices — duplicates KEPT, unlike shingles),
    explode, count per (doc, gram), then per-doc max/total — two
    partial-aggregated shuffles on (doc_id, gram) then doc_id, both on
    pre-hashed small keys; linear in corpus 2-grams at 100 TB.

    Perf (CLAUDE.md lessons): the fixture parquet is one row group, so
    the explode is repartitioned up front or it runs as ONE task; and
    the count shuffle keys an int64 ``xxhash64(tok_i, tok_i+1)``
    instead of the concatenated gram string (identity of the gram
    never leaves the executor — only counts feed the ratio, so the
    oracle is unaffected; 64-bit collisions within one doc's ~10²
    grams are ~1e-16)."""
    d = load_table(spark, "documents", sf_dir).repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    toks = X.tokens("text")
    grams = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - 2),
            lambda i: F.xxhash64(F.get(toks, i), F.get(toks, i + 1)),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    g = d.select("doc_id", "lang", F.explode(grams).alias("gram"))
    counts = g.groupBy("doc_id", "lang", "gram").agg(F.count(F.lit(1)).alias("c"))
    per_doc = counts.groupBy("doc_id", "lang").agg(
        (F.floor(F.max("c") * 1000000.0 / F.sum("c")) / 1000000.0).alias("top_gram_ratio")
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("top_gram_ratio"), 6).alias("avg_top_gram_ratio"),
        F.sum((F.col("top_gram_ratio") > 0.2).cast("bigint")).alias("n_repetitive"),
    )


@query(
    "domain_mixture_plan",
    tier="L-pipeline (training-mixture planning: per-domain quotas + sampling rates)",
    oracle="""
        WITH per AS (
            SELECT source, COUNT(*) AS n_docs,
                   SUM(LEN(LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), x -> LENGTH(x) > 0))) AS n_tokens
            FROM documents GROUP BY source
        ), tot AS (
            SELECT SUM(n_docs) AS total_docs FROM per
        ), weighted AS (
            SELECT p.source, p.n_docs, p.n_tokens,
                   CASE p.source WHEN 'web' THEN 0.5 WHEN 'wiki' THEN 0.2
                                 WHEN 'books' THEN 0.2 ELSE 0.1 END AS target_weight,
                   t.total_docs
            FROM per p CROSS JOIN tot t
        )
        SELECT source, n_docs, CAST(n_tokens AS BIGINT) AS n_tokens,
               CAST(target_weight AS DOUBLE) AS target_weight,
               CAST(FLOOR(target_weight * total_docs) AS BIGINT) AS planned_docs,
               -- sampling rate is a raw quotient -> FLOOR-truncate, and cap at 1
               LEAST(FLOOR(target_weight * total_docs * 1000000.0 / n_docs) / 1000000.0, 1.0) AS sampling_rate
        FROM weighted
    """,
)
def domain_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain/source mixture planning — deciding how much of each
    source feeds the training run (the data-mixing step every LLM
    pipeline runs between cleaning and sharding). Per-source doc and
    token counts (one partial-aggregated groupBy over the corpus), a
    broadcast 1-row total, literal target weights, and the implied
    per-source quota + Bernoulli sampling rate. The rate then drives a
    hash-threshold sampler (see stratified_sample_by_lang) — no
    shuffling of the corpus itself at any scale."""
    d = load_table(spark, "documents", sf_dir)
    per = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(X.tokens("text"))).alias("n_tokens"),
    )
    tot = per.agg(F.sum("n_docs").alias("total_docs"))
    weighted = per.crossJoin(F.broadcast(tot)).withColumn(
        "target_weight",
        F.when(F.col("source") == "web", 0.5)
        .when(F.col("source") == "wiki", 0.2)
        .when(F.col("source") == "books", 0.2)
        .otherwise(0.1),
    )
    return weighted.select(
        "source",
        "n_docs",
        "n_tokens",
        "target_weight",
        F.floor(F.col("target_weight") * F.col("total_docs")).cast("bigint").alias("planned_docs"),
        F.least(
            F.floor(F.col("target_weight") * F.col("total_docs") * 1000000.0 / F.col("n_docs")) / 1000000.0,
            F.lit(1.0),
        ).alias("sampling_rate"),
    )


@query(
    "cleaning_funnel_report",
    tier="L-pipeline (corpus-cleaning funnel: cumulative survivor counts per stage)",
    oracle="""
        WITH t AS (
            SELECT doc_id, source, n_chars,
                   LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), x -> LENGTH(x) > 0) AS toks,
                   MD5(LOWER(TRIM(text))) AS f
            FROM documents
        ), m AS (
            SELECT doc_id, source, n_chars, f,
                   ROUND(0.4 * LEAST(LEN(toks) / 50.0, 1.0)
                       + 0.3 * LEAST(LIST_AGGREGATE(LIST_TRANSFORM(toks, x -> LENGTH(x) * 1.0), 'sum') / GREATEST(LEN(toks), 1) / 6.0, 1.0)
                       + 0.3 * LEAST(LEN(LIST_FILTER(toks, x -> x IN ('the','a','and','of','to','in','is','that','it','for'))) * 5.0 / GREATEST(LEN(toks), 1), 1.0), 6) AS q,
                   ROW_NUMBER() OVER (PARTITION BY f ORDER BY doc_id) AS rn
            FROM t
        )
        SELECT source,
               COUNT(*) AS n_total,
               CAST(SUM(CASE WHEN n_chars >= 150 THEN 1 ELSE 0 END) AS BIGINT) AS n_len_ok,
               CAST(SUM(CASE WHEN n_chars >= 150 AND q >= 0.4 THEN 1 ELSE 0 END) AS BIGINT) AS n_quality_ok,
               CAST(SUM(CASE WHEN n_chars >= 150 AND q >= 0.4 AND rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_survivors
        FROM m GROUP BY source
    """,
)
def cleaning_funnel_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cleaning funnel every corpus run reports: how many docs
    survive each cumulative stage (length floor → quality floor →
    exact-dedup survivor). Length and quality are map-stage columns
    (operators/text.quality_score, certified in `quality_scores`);
    dedup rank is one window over the fingerprint (same shuffle the
    real dedup pays); the report is one groupBy. Cumulative (not
    independent) counts so the report reads as attrition."""
    d = load_table(spark, "documents", sf_dir)
    m = d.select(
        "doc_id",
        "source",
        "n_chars",
        X.quality_score("text").alias("q"),
        X.fingerprint("text").alias("f"),
    ).withColumn(
        "rn",
        F.row_number().over(Window.partitionBy("f").orderBy("doc_id")),
    )
    len_ok = F.col("n_chars") >= 150
    q_ok = len_ok & (F.col("q") >= 0.4)
    survivor = q_ok & (F.col("rn") == 1)
    return m.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(len_ok.cast("bigint")).alias("n_len_ok"),
        F.sum(q_ok.cast("bigint")).alias("n_quality_ok"),
        F.sum(survivor.cast("bigint")).alias("n_survivors"),
    )


@query(
    "token_entropy_scores",
    tier="L6 (quality: per-doc token-distribution entropy, low-entropy = looping text)",
    oracle="""
        WITH t AS (
            SELECT doc_id, lang,
                   UNNEST(LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), x -> LENGTH(x) > 0)) AS tok
            FROM documents
        ), c AS (
            SELECT doc_id, lang, tok, COUNT(*) AS c FROM t GROUP BY doc_id, lang, tok
        ), agg AS (
            SELECT doc_id, lang, ROUND(SUM(-p * LN(p)), 6) AS entropy
            FROM (
                SELECT doc_id, lang, c * 1.0 / SUM(c) OVER (PARTITION BY doc_id) AS p
                FROM c
            )
            GROUP BY doc_id, lang
        )
        SELECT lang,
               COUNT(*) AS n_docs,
               ROUND(AVG(entropy), 6) AS avg_entropy,
               ROUND(MIN(entropy), 6) AS min_entropy,
               ROUND(MAX(entropy), 6) AS max_entropy
        FROM agg GROUP BY lang
    """,
)
def token_entropy_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each doc's token distribution — the
    perplexity-proxy quality score (low entropy ⇒ repetitive/looping
    text, high ⇒ diverse vocabulary). Same physical shape as the
    repetition rule: per-(doc, token) counts, per-doc normalize+fold,
    per-lang report — partial-aggregated shuffles on pre-hashed keys,
    linear in corpus tokens. Entropy summands are tiny (≤|vocab| terms
    ~1e-2 each) so ROUND(6) absorbs cross-engine summation order."""
    d = load_table(spark, "documents", sf_dir).repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    t = d.select("doc_id", "lang", F.explode(X.tokens("text")).alias("tok"))
    c = t.groupBy("doc_id", "lang", F.xxhash64("tok").alias("tok")).agg(
        F.count(F.lit(1)).alias("c")
    )
    wdoc = Window.partitionBy("doc_id")
    p = c.select("doc_id", "lang", (F.col("c") * 1.0 / F.sum("c").over(wdoc)).alias("p"))
    agg = p.groupBy("doc_id", "lang").agg(
        F.round(F.sum(-F.col("p") * F.log("p")), 6).alias("entropy")
    )
    return agg.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("entropy"), 6).alias("avg_entropy"),
        F.round(F.min("entropy"), 6).alias("min_entropy"),
        F.round(F.max("entropy"), 6).alias("max_entropy"),
    )


@query(
    "source_overlap_matrix",
    tier="L2-obs (cross-source content-overlap audit: 3-gram shingles shared between source pairs)",
    oracle="""
        WITH toks AS (
            SELECT source,
                   LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), x -> LENGTH(x) > 0) AS t
            FROM documents
        ), sh AS (
            SELECT DISTINCT source,
                   UNNEST(LIST_TRANSFORM(
                       GENERATE_SERIES(0, GREATEST(LEN(t) - 3, 0)),
                       i -> CAST(CONCAT('0x', SUBSTRING(MD5(ARRAY_TO_STRING(t[i + 1 : i + 3], ' ')), 1, 15)) AS BIGINT)
                   )) AS h
            FROM toks
        )
        SELECT a.source AS source_a, b.source AS source_b,
               COUNT(*) AS n_shared_shingles
        FROM sh a JOIN sh b ON a.h = b.h AND a.source < b.source
        GROUP BY a.source, b.source
    """,
)
def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which sources share content — the pairwise observability twin of
    the contamination scan: distinct (shingle-hash, source) pairs, a
    self-join on the int64 shingle key (fan-out per shingle bounded by
    |sources| — never quadratic in docs), |sources|²-cell report. The
    fixture corpus has zero EXACT duplicate docs, so the audit runs at
    shingle granularity where overlap is real and measurable. At
    100 TB: ONE shuffle on the shingle hash — groupBy(h) →
    collect_set(source) (bounded by |sources|) → JVM pair expansion in
    place, then a |sources|²-cell agg. The equi-self-join form the
    oracle uses would pay that shuffle twice plus two sorts. Hashing is
    xxhash64 (engine-local): the oracle compares only per-pair COUNTS
    of shared distinct shingles, which any collision-free hash
    reproduces — the md5 kernel's hex-parse was this query's hot-path
    cost."""
    # r17 opt: explode the shingle expression INLINE — explode of a
    # withColumn'd array column makes InferFiltersFromGenerate clone the
    # whole tokenize+hash pipeline into a size(..)>0 filter that Catalyst
    # pushes below the repartition (heavy expression evaluated twice, the
    # filter copy single-threaded in the 1-task scan stage); with the
    # expression inline no filter is inferred and it runs once,
    # post-shuffle (plans/r17/source_overlap_matrix_{before,after}.txt)
    d = load_table(spark, "documents", sf_dir).repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    per_h = (
        d.select("source", F.explode(D.hashed_shingles(D.shingles("text", 3))).alias("h"))
        .groupBy("h")
        .agg(F.sort_array(F.collect_set("source")).alias("ss"))
        .filter(F.size("ss") > 1)
    )
    pair_structs = F.flatten(
        F.transform(
            F.sequence(F.lit(0), F.size("ss") - 2),
            lambda i: F.transform(
                F.sequence(i + 1, F.size("ss") - 1),
                lambda j: F.struct(
                    F.get("ss", i).alias("source_a"), F.get("ss", j).alias("source_b")
                ),
            ),
        )
    )
    pairs = per_h.select(F.explode(pair_structs).alias("p")).select("p.source_a", "p.source_b")
    return pairs.groupBy("source_a", "source_b").agg(
        F.count(F.lit(1)).alias("n_shared_shingles")
    )


@query(
    "length_winsorize_stats",
    tier="L6+A6 (winsorization: per-source P5/P95 clipping of doc length)",
    oracle="""
        WITH cuts AS (
            SELECT source,
                   QUANTILE_CONT(n_chars, 0.05) AS lo,
                   QUANTILE_CONT(n_chars, 0.95) AS hi
            FROM documents GROUP BY source
        )
        SELECT d.source,
               COUNT(*) AS n_docs,
               CAST(SUM(CASE WHEN d.n_chars < c.lo THEN 1 ELSE 0 END) AS BIGINT) AS n_below,
               CAST(SUM(CASE WHEN d.n_chars > c.hi THEN 1 ELSE 0 END) AS BIGINT) AS n_above,
               ROUND(SUM(LEAST(GREATEST(d.n_chars, c.lo), c.hi)), 2) AS clipped_char_sum
        FROM documents d JOIN cuts c ON d.source = c.source
        GROUP BY d.source
    """,
)
def length_winsorize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlier clipping before length-sensitive downstream stages:
    per-source P5/P95 cutoffs (exact linear-interpolation percentile —
    Spark `percentile` and DuckDB `QUANTILE_CONT` share the
    rank = p·(n-1) definition, so the cut points are bit-identical on
    integer inputs), broadcast back, map-stage clip, one report. The
    scale path swaps `percentile` for `approx_percentile` with zero
    plan changes (documented, not certified — the sketch is
    engine-specific)."""
    d = load_table(spark, "documents", sf_dir)
    cuts = d.groupBy("source").agg(
        F.expr("percentile(n_chars, 0.05)").alias("lo"),
        F.expr("percentile(n_chars, 0.95)").alias("hi"),
    )
    j = d.join(F.broadcast(cuts), "source")
    return j.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("n_chars") < F.col("lo")).cast("bigint")).alias("n_below"),
        F.sum((F.col("n_chars") > F.col("hi")).cast("bigint")).alias("n_above"),
        F.round(F.sum(F.least(F.greatest(F.col("n_chars"), F.col("lo")), F.col("hi"))), 2).alias(
            "clipped_char_sum"
        ),
    )


@query(
    "doc_chunk_sliding",
    tier="L-pipeline (sliding-window chunking: size-64/stride-48 doc splitter)",
    oracle="""
        WITH t AS (
            SELECT lang,
                   LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), x -> LENGTH(x) > 0) AS toks
            FROM documents
        ), d AS (
            SELECT lang, LEN(toks) AS n FROM t WHERE LEN(toks) > 0
        ), per AS (
            SELECT lang, n,
                   LEN(GENERATE_SERIES(0, n - 1, 48)) AS n_chunks,
                   LIST_SUM(LIST_TRANSFORM(GENERATE_SERIES(0, n - 1, 48),
                                           s -> LEAST(64, n - s))) AS emitted
            FROM d
        )
        SELECT lang,
               COUNT(*) AS n_docs,
               CAST(SUM(n_chunks) AS BIGINT) AS n_chunks,
               CAST(SUM(emitted) AS BIGINT) AS emitted_tokens,
               CAST(SUM(emitted - n) AS BIGINT) AS overlap_tokens
        FROM per GROUP BY lang
    """,
)
def doc_chunk_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking — the context-window splitter
    (RAG indexing / long-doc pretraining), distinct from
    `token_budget_packing`'s concat-then-chunk: here every chunk stays
    within ONE doc and consecutive chunks overlap by size-stride tokens
    so no boundary context is lost. Chunk starts are
    ``sequence(0, n-1, stride)``; the last chunk is short
    (``least(size, n-start)``), never padded.

    Scale: pure map stage — tokenize, per-doc start/length arrays, one
    partial-aggregated groupBy(lang). No explode is needed for the
    audit (counts fold inside the row); the materializing form explodes
    starts into (doc_id, chunk_id, slice(toks, s+1, len)) rows, still
    shuffle-free. Reference has no chunker (its rows are API
    observations, scripts/energy_etl.py:69-70); this certifies the
    Spark-side op an LLM corpus needs."""
    size, stride = 64, 48
    d = load_table(spark, "documents", sf_dir)
    toks = X.tokens("text")
    n = F.size(toks)
    # r18 opt (VERDICT r17 #8): filtering on the COMPUTED n pushed the
    # predicate below the projection, so the tokenize ran twice per row
    # (Filter condition + Project — plans/r18/doc_chunk_sliding_before
    # node (2)). Pre-filter on the raw text instead: n > 0 ⟺ the text
    # has any non-space character (tokens split on the literal single
    # space; NULL/empty text drops on both forms), so the pushed filter
    # is a cheap string scan and the tokenize runs ONCE, in the
    # projection. Row set and every n value are identical.
    base = d.filter(F.length(F.translate("text", " ", "")) > 0).select("lang", n.alias("n"))
    starts = F.sequence(F.lit(0), F.col("n") - 1, F.lit(stride))
    emitted = F.aggregate(
        F.transform(starts, lambda s: F.least(F.lit(size), F.col("n") - s)),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    per = base.select(
        "lang",
        F.col("n"),
        F.size(starts).cast("bigint").alias("n_chunks"),
        emitted.alias("emitted"),
    )
    return per.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chunks").alias("n_chunks"),
        F.sum("emitted").alias("emitted_tokens"),
        F.sum(F.col("emitted") - F.col("n")).alias("overlap_tokens"),
    )


@query(
    "global_row_index",
    tier="L-pipeline (distributed contiguous row ids: two-phase zip-index)",
    oracle="""
        SELECT doc_id, ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS global_idx
        FROM documents
    """,
)
def global_row_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous global ids (shard-stable sample numbering for
    training manifests) WITHOUT the single-partition
    ``ROW_NUMBER() OVER (ORDER BY ...)`` that serializes the corpus
    through one task. Two-phase zip-index recipe:

    1. ``repartitionByRange(doc_id)`` — range exchange, so partition i
       holds strictly smaller keys than partition i+1; persist so the
       partition ids seen by the count pass and the final plan are the
       same materialized ones.
    2. per-partition counts → driver (bounded: one row per partition,
       like the IVF sample collect) → exclusive-prefix-sum offsets,
       broadcast back.
    3. local ``row_number`` partitioned by ``spark_partition_id`` —
       every window fits one partition, no global sort, no single
       reducer. ``global_idx = offset[pid] + local_rank - 1``.

    Equivalent to RDD ``zipWithIndex`` but staying in DataFrame land
    (columnar, AQE-visible). The oracle is the naive global
    ROW_NUMBER — identical mapping, scale-hostile plan."""
    d = load_table(spark, "documents", sf_dir).select("doc_id")
    parts = min(spark.sparkContext.defaultParallelism, 8)
    ranged = (
        d.repartitionByRange(parts, "doc_id")
        .withColumn("pid", F.spark_partition_id())
        # lazy localCheckpoint (not persist): materialized by the bounded
        # counts .collect() below, reused by the returned frame, and
        # gc-cleaned instead of lingering in the CacheManager
        .localCheckpoint(eager=False)
    )
    counts = {r["pid"]: r["c"] for r in ranged.groupBy("pid").agg(F.count(F.lit(1)).alias("c")).collect()}
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    offset_df = F.broadcast(
        spark.createDataFrame([(pid, off) for pid, off in offsets.items()], "pid int, off bigint")
    )
    w = Window.partitionBy("pid").orderBy("doc_id")
    return (
        ranged.join(offset_df, "pid")
        .select("doc_id", (F.col("off") + F.row_number().over(w) - 1).alias("global_idx"))
    )


@query(
    "zorder_layout_audit",
    tier="§4 data layout (Z-order interleave + per-file min/max skipping audit)",
    oracle="""
        WITH dims AS (
            SELECT CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS price_cents,
                   DATEDIFF('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS date_days
            FROM orders
        ), stats AS (
            SELECT MIN(price_cents) AS plo, MAX(price_cents) AS phi,
                   MIN(date_days) AS dlo, MAX(date_days) AS dhi
            FROM dims
        ), quant AS (
            SELECT price_cents, date_days,
                   CAST(((price_cents - plo) * 255) // (phi - plo) AS BIGINT) AS qp,
                   CAST(((date_days  - dlo) * 255) // (dhi - dlo) AS BIGINT) AS qd
            FROM dims CROSS JOIN stats
        ), zvals AS (
            SELECT price_cents, date_days,
                   (((qp >> 0) & 1) << 1)  + (((qd >> 0) & 1) << 0)  +
                   (((qp >> 1) & 1) << 3)  + (((qd >> 1) & 1) << 2)  +
                   (((qp >> 2) & 1) << 5)  + (((qd >> 2) & 1) << 4)  +
                   (((qp >> 3) & 1) << 7)  + (((qd >> 3) & 1) << 6)  +
                   (((qp >> 4) & 1) << 9)  + (((qd >> 4) & 1) << 8)  +
                   (((qp >> 5) & 1) << 11) + (((qd >> 5) & 1) << 10) +
                   (((qp >> 6) & 1) << 13) + (((qd >> 6) & 1) << 12) +
                   (((qp >> 7) & 1) << 15) + (((qd >> 7) & 1) << 14) AS z
            FROM quant
        )
        SELECT z >> 10 AS zfile, COUNT(*) AS n_rows,
               MIN(price_cents) AS price_lo, MAX(price_cents) AS price_hi,
               MIN(date_days) AS date_lo, MAX(date_days) AS date_hi
        FROM zvals GROUP BY 1
    """,
)
def zorder_layout_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) data layout for multi-dimensional file skipping —
    the write-side optimization that makes BOTH price-range and
    date-range predicates prunable from parquet min/max footer stats at
    100 TB (a lexicographic sort serves only its leading column). Each
    dim is quantized to 8 bits against its global min/max (integer
    arithmetic end-to-end: exact cross-engine), bits interleaved into a
    16-bit Morton code, rows bucketed by the code's top 6 bits — one
    bucket ≈ one output file under `df.sort(z).write`. The audit emits
    each would-be file's row count and per-dim min/max envelope: tight,
    non-spanning envelopes on BOTH dims are the skipping property
    itself. Quantization stats are one partial-agg pass broadcast back
    (no window, no driver round-trip); the interleave is 16 JVM bit-ops
    fused into one codegen stage."""
    o = load_table(spark, "orders", sf_dir)
    dims = o.select(
        F.floor(F.col("o_totalprice") * 100).cast("bigint").alias("price_cents"),
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date")).alias("date_days"),
    )
    stats = F.broadcast(
        dims.agg(
            F.min("price_cents").alias("plo"), F.max("price_cents").alias("phi"),
            F.min("date_days").alias("dlo"), F.max("date_days").alias("dhi"),
        )
    )
    quant = dims.crossJoin(stats).select(
        "price_cents",
        "date_days",
        F.expr("((price_cents - plo) * 255) div (phi - plo)").alias("qp"),
        F.expr("((date_days  - dlo) * 255) div (dhi - dlo)").alias("qd"),
    )
    bit = lambda col, i, pos: F.shiftleft(F.shiftright(F.col(col), i).bitwiseAND(F.lit(1)), pos)  # noqa: E731
    z = bit("qp", 0, 1) + bit("qd", 0, 0)
    for i in range(1, 8):
        z = z + bit("qp", i, 2 * i + 1) + bit("qd", i, 2 * i)
    zvals = quant.select("price_cents", "date_days", z.alias("z"))
    return (
        zvals.groupBy(F.shiftright(F.col("z"), 10).alias("zfile"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("price_cents").alias("price_lo"), F.max("price_cents").alias("price_hi"),
            F.min("date_days").alias("date_lo"), F.max("date_days").alias("date_hi"),
        )
    )


# --------------------------------------------------------------------------
# Pipeline maintenance & monitoring tier (r06-late): snapshot diff,
# survivorship dedup, naive-split leakage audit, distribution drift
# --------------------------------------------------------------------------


@query(
    "snapshot_diff_orders",
    tier="L-pipeline (run-to-run snapshot diff: added/removed/changed via row-hash full-outer join)",
    oracle="""
        WITH old_snap AS (
            SELECT o_orderkey AS k, o_orderstatus AS s,
                   CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS c
            FROM orders WHERE o_orderkey % 13 <> 0
        ), new_snap AS (
            SELECT o_orderkey AS k, o_orderstatus AS s,
                   CAST(FLOOR(o_totalprice * 100) AS BIGINT)
                   + CASE WHEN o_orderkey % 97 = 0 THEN 500 ELSE 0 END AS c
            FROM orders WHERE o_orderkey % 17 <> 0
        ), j AS (
            SELECT o.k AS ok, n.k AS nk,
                   MD5(o.s || '|' || CAST(o.c AS VARCHAR)) AS oh,
                   MD5(n.s || '|' || CAST(n.c AS VARCHAR)) AS nh,
                   COALESCE(o.c, 0) AS oc, COALESCE(n.c, 0) AS nc
            FROM old_snap o FULL OUTER JOIN new_snap n ON o.k = n.k
        )
        SELECT CASE WHEN ok IS NULL THEN 'added'
                    WHEN nk IS NULL THEN 'removed'
                    WHEN oh <> nh THEN 'changed'
                    ELSE 'unchanged' END AS change_type,
               COUNT(*) AS n_rows,
               CAST(SUM(nc - oc) AS BIGINT) AS net_cents_delta
        FROM j GROUP BY 1
    """,
)
def snapshot_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run-to-run table diff — the regression check a pipeline runs
    between yesterday's output snapshot and today's before publishing.
    Each side carries a map-stage row hash (md5 over the value columns,
    prices as exact integer cents per the FLOOR rule), so arbitrarily
    wide rows compare via ONE string; the diff itself is a single
    full-outer join on the key — one shuffle, or zero when both
    snapshots are bucketed by key on disk. added/removed fall out of
    the null sides, changed = both present with differing hashes;
    net_cents_delta audits the money moved by the diff (exact bigint
    arithmetic). Snapshots are simulated from `orders` deterministically
    (drop keys %13 on the old side, %17 on the new, bump cents +500 on
    %97) so every change class is populated and oracle-checkable."""
    o = load_table(spark, "orders", sf_dir)
    cents = F.floor(F.col("o_totalprice") * 100).cast("bigint")
    old_snap = (
        o.filter(F.col("o_orderkey") % 13 != 0)
        .select(F.col("o_orderkey").alias("k"), F.col("o_orderstatus").alias("s"), cents.alias("c"))
    )
    new_snap = (
        o.filter(F.col("o_orderkey") % 17 != 0)
        .select(
            F.col("o_orderkey").alias("k"),
            F.col("o_orderstatus").alias("s"),
            (cents + F.when(F.col("o_orderkey") % 97 == 0, 500).otherwise(0)).alias("c"),
        )
    )
    row_hash = lambda: F.md5(F.concat(F.col("s"), F.lit("|"), F.col("c").cast("string")))  # noqa: E731
    classified = P.snapshot_diff(
        old_snap.withColumn("h", row_hash()),
        new_snap.withColumn("h", row_hash()),
        key="k",
        row_hash="h",
        measure="c",
    )
    return classified.groupBy("change_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("delta").alias("net_cents_delta"),
    )


#: 5-token-prefix cluster key — the fixture corpus has zero EXACT
#: duplicates (every doc's full-text fingerprint is unique), so the
#: survivorship and leakage ops cluster on the first-5-token prefix
#: instead: coarse enough to form real multi-doc clusters, still a pure
#: map-stage md5 both engines compute identically.
_DUCK_PREFIX_KEY = (
    "MD5(ARRAY_TO_STRING(LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), x -> LENGTH(x) > 0)[1:5], ' '))"
)


def _prefix_cluster_key() -> "F.Column":
    return F.md5(F.array_join(F.slice(X.tokens("text"), 1, 5), " "))


@query(
    "dedup_survivorship_quality",
    tier="L1 (survivorship dedup: keep the highest-quality copy per cluster)",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, source, n_chars,
                   LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), x -> LENGTH(x) > 0) AS toks,
                   {_DUCK_PREFIX_KEY} AS ck
            FROM documents
        ), m AS (
            SELECT doc_id, source, n_chars, ck,
                   ROUND(0.4 * LEAST(LEN(toks) / 50.0, 1.0)
                       + 0.3 * LEAST(LIST_AGGREGATE(LIST_TRANSFORM(toks, x -> LENGTH(x) * 1.0), 'sum') / GREATEST(LEN(toks), 1) / 6.0, 1.0)
                       + 0.3 * LEAST(LEN(LIST_FILTER(toks, x -> x IN ('the','a','and','of','to','in','is','that','it','for'))) * 5.0 / GREATEST(LEN(toks), 1), 1.0), 6) AS q
            FROM t
        ), ranked AS (
            SELECT source, n_chars, q,
                   ROW_NUMBER() OVER (PARTITION BY ck ORDER BY q DESC, doc_id) AS rn
            FROM m
        )
        SELECT source,
               COUNT(*) AS n_docs,
               CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_survivors,
               CAST(COUNT(*) - SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
               ROUND(AVG(CASE WHEN rn = 1 THEN q END), 6) AS avg_survivor_q,
               CAST(SUM(CASE WHEN rn = 1 THEN n_chars ELSE 0 END) AS BIGINT) AS survivor_chars
        FROM ranked GROUP BY source
    """,
)
def dedup_survivorship_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship-policy dedup: production corpus dedup keeps the BEST
    copy of each cluster, not the first-seen — rank cluster members by
    quality score (ties → min doc_id; q is rounded to 6dp so the
    ordering is cross-engine exact) and keep rank 1. Same physical
    shape as min-id dedup (`dedup_exact`): ONE shuffle on the cluster
    key for the window, everything else map-side; at 100 TB the window
    swaps for a groupBy(ck).agg(max_by(doc, (q, -doc_id))) with partial
    aggregation. Reports the per-source attrition and the realized
    survivor quality the policy is buying."""
    d = load_table(spark, "documents", sf_dir)
    m = d.select(
        "doc_id",
        "source",
        "n_chars",
        _prefix_cluster_key().alias("ck"),
        X.quality_score("text").alias("q"),
    )
    w = Window.partitionBy("ck").orderBy(F.col("q").desc(), "doc_id")
    ranked = m.withColumn("rn", F.row_number().over(w))
    is_surv = (F.col("rn") == 1).cast("bigint")
    return ranked.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(is_surv).alias("n_survivors"),
        (F.count(F.lit(1)) - F.sum(is_surv)).alias("n_dropped"),
        F.round(F.avg(F.when(F.col("rn") == 1, F.col("q"))), 6).alias("avg_survivor_q"),
        F.sum(F.when(F.col("rn") == 1, F.col("n_chars")).otherwise(0)).alias("survivor_chars"),
    )


@query(
    "crosssplit_leakage_audit",
    tier="L-pipeline (leakage audit: clusters spanning naive i.i.d. splits)",
    oracle=f"""
        WITH assigned AS (
            SELECT doc_id,
                   {_DUCK_PREFIX_KEY} AS ck,
                   CASE WHEN {_DUCK_BUCKET.format(key='doc_id')} < 80 THEN 'train'
                        WHEN {_DUCK_BUCKET.format(key='doc_id')} < 90 THEN 'val'
                        ELSE 'test' END AS split
            FROM documents
        ), spread AS (
            SELECT ck, COUNT(DISTINCT split) AS ns FROM assigned GROUP BY ck
        )
        SELECT a.split,
               COUNT(*) AS n_docs,
               COUNT(DISTINCT a.ck) AS n_clusters,
               COUNT(DISTINCT CASE WHEN s.ns > 1 THEN a.ck END) AS n_leaked_clusters,
               CAST(SUM(CASE WHEN s.ns > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_leaked_docs
        FROM assigned a JOIN spread s ON a.ck = s.ck
        GROUP BY a.split
    """,
)
def crosssplit_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantifies the train/test leakage a naive hash-of-doc_id split
    produces: near-dup clusters (5-token-prefix key) whose members land
    in more than one split are exactly the contamination
    `split_cluster_aware` prevents by construction — this is the
    measurement side of that pair, run as an audit over any existing
    split column. Two shuffles on the cluster key (spread agg + join
    back — co-partitioned, so AQE plans the second exchange-free),
    one report agg. At 100 TB the spread side is tiny (one row per
    cluster) relative to the corpus and the join stays on the same
    key partitioning the dedup pass already established."""
    d = load_table(spark, "documents", sf_dir)
    assigned = d.select(
        "doc_id",
        _prefix_cluster_key().alias("ck"),
        P.assign_split(F.col("doc_id")).alias("split"),
        # lazy localCheckpoint, not persist: consumed by spread AND the
        # join-back (computed once at first action), but leaves no
        # CacheManager entry to accumulate across a 157-query session
        # (ADVICE r06 — query-level persists here were never unpersisted)
    ).localCheckpoint(eager=False)
    spread = assigned.groupBy("ck").agg(F.countDistinct("split").alias("ns"))
    j = assigned.join(spread, "ck")
    return j.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("ck").alias("n_clusters"),
        F.countDistinct(F.when(F.col("ns") > 1, F.col("ck"))).alias("n_leaked_clusters"),
        F.sum((F.col("ns") > 1).cast("bigint")).alias("n_leaked_docs"),
    )


@query(
    "event_type_drift",
    tier="L-pipeline (distribution-drift monitor: per-type KL terms between halves)",
    oracle="""
        WITH labeled AS (
            SELECT event_type,
                   CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16' THEN 'old' ELSE 'new' END AS period
            FROM events
        ), c AS (
            SELECT event_type,
                   SUM(CASE WHEN period = 'old' THEN 1 ELSE 0 END) AS n_old,
                   SUM(CASE WHEN period = 'new' THEN 1 ELSE 0 END) AS n_new
            FROM labeled GROUP BY event_type
        ), tot AS (
            SELECT SUM(n_old) AS t_old, SUM(n_new) AS t_new FROM c
        ), p AS (
            -- FLOOR-truncate the raw count/total quotients (CLAUDE.md rule)
            -- so both engines feed LN identical doubles
            SELECT event_type, n_old, n_new,
                   FLOOR(n_old * 1000000.0 / t_old) / 1000000.0 AS p_old,
                   FLOOR(n_new * 1000000.0 / t_new) / 1000000.0 AS p_new
            FROM c CROSS JOIN tot
        )
        SELECT event_type, CAST(n_old AS BIGINT) AS n_old,
               CAST(n_new AS BIGINT) AS n_new, p_old, p_new,
               ROUND(ABS(p_new - p_old), 6) AS abs_shift,
               ROUND(p_new * LN(p_new / p_old), 6) AS kl_term
        FROM p
    """,
)
def event_type_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Input-distribution drift monitor — the check a production
    pipeline runs before retraining on a new data window: compare the
    event-type mix of the trailing period against the baseline period
    and emit each type's probability shift plus its KL-divergence term
    (sum of kl_term = KL(new‖old)). One partial-aggregated groupBy
    builds both period counts in a single corpus pass (conditional
    sums, no second scan); totals are a broadcast 1-row cross join;
    ratios are FLOOR-truncated per the cross-engine quotient rule so
    LN sees bit-identical inputs. Every type occurs in both halves of
    the fixture, so no zero-probability guard clutters the certified
    plan (production adds Laplace smoothing at the p computation)."""
    ev = load_table(spark, "events", sf_dir)
    labeled = ev.select(
        "event_type",
        F.when(F.to_date("ts") < F.lit("2024-01-16").cast("date"), "old").otherwise("new").alias("period"),
    )
    c = labeled.groupBy("event_type").agg(
        F.sum((F.col("period") == "old").cast("bigint")).alias("n_old"),
        F.sum((F.col("period") == "new").cast("bigint")).alias("n_new"),
    ).localCheckpoint(eager=False)  # one row per type; totals derive from
    # it, not a rescan — lazy checkpoint instead of a never-unpersisted
    # persist (ADVICE r06: no lingering CacheManager entry)
    tot = c.agg(F.sum("n_old").alias("t_old"), F.sum("n_new").alias("t_new"))
    p = c.crossJoin(F.broadcast(tot)).select(
        "event_type",
        "n_old",
        "n_new",
        (F.floor(F.col("n_old") * 1000000.0 / F.col("t_old")) / 1000000.0).alias("p_old"),
        (F.floor(F.col("n_new") * 1000000.0 / F.col("t_new")) / 1000000.0).alias("p_new"),
    )
    return p.select(
        "event_type",
        "n_old",
        "n_new",
        "p_old",
        "p_new",
        F.round(F.abs(F.col("p_new") - F.col("p_old")), 6).alias("abs_shift"),
        F.round(F.col("p_new") * F.log(F.col("p_new") / F.col("p_old")), 6).alias("kl_term"),
    )


@query(
    "skew_diagnosis_report",
    tier="§4.3-obs (key-skew diagnosis: per-type hot-key distribution metrics)",
    oracle="""
        WITH per_key AS (
            SELECT event_type, user_id, COUNT(*) AS c
            FROM events GROUP BY event_type, user_id
        )
        SELECT event_type,
               COUNT(*) AS n_keys,
               CAST(SUM(c) AS BIGINT) AS n_events,
               MAX(c) AS max_key_count,
               -- hot-key share is a raw quotient -> FLOOR-truncate
               FLOOR(MAX(c) * 1000000.0 / SUM(c)) / 1000000.0 AS max_key_share,
               QUANTILE_CONT(c, 0.5) AS p50_key_count,
               QUANTILE_CONT(c, 0.99) AS p99_key_count,
               FLOOR(QUANTILE_CONT(c, 0.99) * 1000000.0 / QUANTILE_CONT(c, 0.5)) / 1000000.0 AS skew_ratio
        FROM per_key GROUP BY event_type
    """,
)
def skew_diagnosis_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The measurement side of the skew story (`join_skew_salted` /
    `salted_aggregation` are the mitigations; this tells you WHEN to
    reach for them): per-key cardinalities, hot-key share, and the
    p99/p50 key-count ratio that predicts straggler tasks in any
    groupBy/join on that key. Two partial-aggregated shuffles — per-key
    counts, then the per-type distribution fold; the percentile over
    per-key counts uses Spark `percentile` == DuckDB QUANTILE_CONT
    (shared rank = p·(n-1) linear interpolation, exact on integer
    counts — the length_winsorize_stats recipe); quotients are
    FLOOR-truncated per the cross-engine rule. At 100 TB the per-key
    frame is |keys|-sized (≪ events) and the report swaps `percentile`
    for `approx_percentile` with no plan change."""
    ev = load_table(spark, "events", sf_dir)
    per_key = ev.groupBy("event_type", "user_id").agg(F.count(F.lit(1)).alias("c"))
    return per_key.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("c").alias("n_events"),
        F.max("c").alias("max_key_count"),
        (F.floor(F.max("c") * 1000000.0 / F.sum("c")) / 1000000.0).alias("max_key_share"),
        F.expr("percentile(c, 0.5)").alias("p50_key_count"),
        F.expr("percentile(c, 0.99)").alias("p99_key_count"),
        (
            F.floor(F.expr("percentile(c, 0.99)") * 1000000.0 / F.expr("percentile(c, 0.5)"))
            / 1000000.0
        ).alias("skew_ratio"),
    )


@query(
    "boilerplate_ngram_prune",
    tier="L6 (C4-style cross-doc boilerplate blocklist: frequent-3-gram prune accounting)",
    oracle="""
        WITH toks AS (
            SELECT doc_id, source,
                   LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), x -> LENGTH(x) > 0) AS t
            FROM documents
        ), g AS (
            -- per-doc DISTINCT 3-grams: boilerplate df counts documents,
            -- not occurrences
            SELECT DISTINCT doc_id, source, u.g
            FROM toks, UNNEST(LIST_TRANSFORM(
                GENERATE_SERIES(1, GREATEST(LEN(t) - 2, 0)),
                i -> ARRAY_TO_STRING(t[i:i+2], ' '))) AS u(g)
        ), df AS (
            SELECT g, COUNT(*) AS df FROM g GROUP BY g
        ), boiler AS (
            SELECT g FROM df WHERE df >= 5
        ), hits AS (
            SELECT g.doc_id, g.source, g.g FROM g JOIN boiler USING (g)
        )
        SELECT t.source,
               CAST(COUNT(DISTINCT t.doc_id) AS BIGINT) AS n_docs,
               CAST(COUNT(DISTINCT h.doc_id) AS BIGINT) AS n_docs_hit,
               CAST(COUNT(DISTINCT h.g) AS BIGINT) AS n_boiler_grams,
               CAST(COUNT(h.g) AS BIGINT) AS n_hits
        FROM toks t LEFT JOIN hits h ON t.doc_id = h.doc_id
        GROUP BY t.source
    """,
)
def boilerplate_ngram_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The C4/RefinedWeb boilerplate rule at corpus level: a 3-gram that
    appears in >= 5 DISTINCT documents is boilerplate (nav bars, legal
    footers, scraping artifacts), and every document is audited for how
    much of it a blocklist prune would remove. Complements
    repetition_topgram_stats (WITHIN-doc repetition) with the CROSS-doc
    frequency rule.

    Plan shape for 100 TB: the gram explode is a map stage (fanned out
    past the single-row-group fixture scan); doc-frequency is one
    partial-aggregated groupBy on the gram; the blocklist (df >= K) is
    tiny by construction — broadcast back to the exploded grams, so the
    audit join adds NO shuffle; the per-source report is a second small
    agg. The gram->df frame is the only corpus-sized shuffle.
    """
    par = spark.sparkContext.defaultParallelism
    toks = (
        load_table(spark, "documents", sf_dir)
        .repartition(par)
        .select("doc_id", "source", X.tokens("text").alias("t"))
    )
    grams = toks.select(
        "doc_id",
        "source",
        F.explode(
            F.array_distinct(
                F.when(F.size("t") >= 3, X.word_kgrams("t", 3)).otherwise(
                    F.array().cast("array<string>")
                )
            )
        ).alias("g"),
    ).localCheckpoint(eager=False)  # feeds df-count AND the audit join-back
    df_counts = grams.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    boiler = df_counts.filter(F.col("df") >= 5).select("g")
    hits = grams.join(F.broadcast(boiler), "g")
    per_doc = toks.select("doc_id", "source")
    h = hits.select(F.col("doc_id").alias("h_doc"), F.col("g").alias("h_g"))
    audited = per_doc.join(h, per_doc.doc_id == h.h_doc, "left")
    return audited.groupBy("source").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.countDistinct("h_doc").alias("n_docs_hit"),
        F.countDistinct("h_g").alias("n_boiler_grams"),
        F.count("h_g").alias("n_hits"),
    )


@query(
    "sample_exact_k_per_stratum",
    tier="L-pipeline (exact-k deterministic per-stratum sample: fixed SIZE, not fixed rate)",
    oracle="""
        WITH ranked AS (
            SELECT lang, n_chars,
                   ROW_NUMBER() OVER (
                       PARTITION BY lang ORDER BY MD5(CAST(doc_id AS VARCHAR))
                   ) AS rk,
                   COUNT(*) OVER (PARTITION BY lang) AS n_total
            FROM documents
        )
        SELECT lang,
               CAST(MAX(n_total) AS BIGINT) AS n_total,
               CAST(SUM(CASE WHEN rk <= 40 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
               CAST(SUM(CASE WHEN rk <= 40 THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars
        FROM ranked GROUP BY lang
    """,
)
def sample_exact_k_per_stratum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-SIZE sampling: keep exactly min(k, |stratum|) docs per lang,
    chosen by md5(doc_id) rank — reproducible across runs and engines,
    and the fixed-budget complement of stratified_sample_by_lang's
    fixed-RATE Bernoulli sampler (eval sets and ablation corpora are
    specced as '40 docs per language', not '10%').

    One window shuffle on the stratum key. At 100 TB the full sort per
    stratum is wasteful when k << |stratum|: pre-filter with an
    approx_percentile threshold on the hash (keeping ~2k candidates per
    stratum, a map stage against a broadcast threshold table), then run
    this exact rank on the survivors — same output, window input
    bounded by ~2k per stratum. The certified plan is the exact tail of
    that pipeline."""
    d = load_table(spark, "documents", sf_dir).select(
        "lang", "n_chars", F.md5(F.col("doc_id").cast("string")).alias("hk")
    )
    w = Window.partitionBy("lang").orderBy("hk")
    ranked = d.select(
        "lang",
        "n_chars",
        F.row_number().over(w).alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy("lang")).alias("n_total"),
    )
    return ranked.groupBy("lang").agg(
        F.max("n_total").alias("n_total"),
        F.sum((F.col("rk") <= 40).cast("bigint")).alias("n_kept"),
        F.sum(F.when(F.col("rk") <= 40, F.col("n_chars")).otherwise(F.lit(0))).alias("kept_chars"),
    )


@query(
    "shuffle_shard_plan",
    tier="L-pipeline (reproducible global training shuffle: seeded shard + in-shard hash order)",
    oracle="""
        WITH a AS (
            SELECT doc_id, n_chars,
                   MD5(CONCAT('seed42:', CAST(doc_id AS VARCHAR))) AS k
            FROM documents
        ), s AS (
            SELECT doc_id, n_chars, k,
                   CAST(CONCAT('0x', SUBSTRING(k, 1, 8)) AS BIGINT) % 16 AS shard
            FROM a
        ), r AS (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY shard ORDER BY k) AS rk FROM s
        )
        SELECT shard,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS shard_chars,
               STRING_AGG(CASE WHEN rk <= 3 THEN CAST(doc_id AS VARCHAR) END, ',' ORDER BY k) AS head_docs
        FROM r GROUP BY shard
    """,
)
def shuffle_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible GLOBAL training shuffle without a global sort — the
    order-randomization step between packing and training. A seeded md5
    of the doc id gives every document a pseudorandom rank; shard = the
    rank's top 32 bits mod S is a pure map stage, and sorting WITHIN
    each shard by the full hash yields a deterministic permutation of
    the corpus (shard-major order) that is independent of input
    partitioning, cluster size, and row arrival order — rerun it
    anywhere, same epoch order. No stage ever holds a global order:
    the one exchange is the shard partitioning, the sort is per-shard
    (what writers do per output file anyway). Changing the seed string
    is a fresh epoch permutation.

    Certified surface: per-shard doc/char totals (assignment) plus the
    first three doc ids IN HASH ORDER per shard (the order itself, via
    a per-shard window — same sort the shard writer performs)."""
    d = load_table(spark, "documents", sf_dir).select("doc_id", "n_chars")
    k = F.md5(F.concat(F.lit("seed42:"), F.col("doc_id").cast("string")))
    s = d.select(
        "doc_id",
        "n_chars",
        k.alias("k"),
        (F.conv(F.substring(k, 1, 8), 16, 10).cast("bigint") % 16).alias("shard"),
    )
    totals = s.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("shard_chars"),
    )
    w = Window.partitionBy("shard").orderBy("k")
    heads = (
        s.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .groupBy("shard")
        .agg(
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("k", "doc_id"))),
                    lambda x: x["doc_id"].cast("string"),
                ),
            ).alias("head_docs")
        )
    )
    return totals.join(heads, "shard")


@query(
    "fuzzy_match_blocked_pairs",
    tier="L-pipeline (entity resolution: blocked levenshtein candidate pairs)",
    oracle="""
        WITH names AS (
            SELECT p_name, CAST(COUNT(*) AS BIGINT) AS n_rows
            FROM part GROUP BY p_name
        ), pairs AS (
            SELECT a.p_name AS name_a, b.p_name AS name_b,
                   a.n_rows AS n_a, b.n_rows AS n_b,
                   CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS lev_dist
            FROM names a JOIN names b
              ON SUBSTRING(a.p_name, 1, 1) = SUBSTRING(b.p_name, 1, 1)
             AND a.p_name < b.p_name
        )
        SELECT name_a, name_b, lev_dist, n_a, n_b
        FROM pairs
        WHERE lev_dist <= 3
        ORDER BY name_a, name_b
    """,
)
def fuzzy_match_blocked_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution at scale is never all-pairs: O(N²) edit
    distance over a 100 TB entity table is intractable, so the standard
    shape is (1) canonicalize to DISTINCT keys first — the distinct set
    is orders of magnitude smaller than the row count and carries a
    support count for survivorship — then (2) generate candidate pairs
    only WITHIN a blocking key (here the name's first character; in
    production a phonetic code or q-gram bucket), then (3) score the
    candidates with the expensive metric. Recall is bounded by the
    blocking choice (pairs differing in the block key are never
    compared) — that tradeoff is the design, and the oracle certifies
    the SAME blocked algorithm, not all-pairs ground truth. The block
    self-join shuffles once on the block key; skewed blocks are the
    known hazard (mitigate with a second blocking char or bucket caps,
    as operators/dedup.py does for LSH buckets)."""
    names = (
        load_table(spark, "part", sf_dir)
        .groupBy("p_name")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .withColumn("blk", F.substring("p_name", 1, 1))
    )
    a = names.select(
        F.col("blk"), F.col("p_name").alias("name_a"), F.col("n_rows").alias("n_a")
    )
    b = names.select(
        F.col("blk"), F.col("p_name").alias("name_b"), F.col("n_rows").alias("n_b")
    )
    pairs = a.join(b, "blk").filter(F.col("name_a") < F.col("name_b"))
    return (
        pairs.withColumn("lev_dist", F.levenshtein("name_a", "name_b").cast("bigint"))
        .filter(F.col("lev_dist") <= 3)
        .select("name_a", "name_b", "lev_dist", "n_a", "n_b")
        .orderBy("name_a", "name_b")
    )


@query(
    "sample_weighted_reservoir",
    tier="L-pipeline (Efraimidis-Spirakis A-RES: distributed weighted sampling without replacement)",
    oracle="""
        WITH keyed AS (
            SELECT source, doc_id, n_chars,
                   POWER(
                       (CAST('0x' || SUBSTRING(MD5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) + 0.5)
                           / 4294967296.0,
                       1.0 / CAST(n_chars AS DOUBLE)
                   ) AS k
            FROM documents
        ), ranked AS (
            SELECT source, doc_id, n_chars,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY source ORDER BY k DESC, doc_id
                   ) AS BIGINT) AS rk
            FROM keyed
        )
        SELECT source, rk, doc_id, n_chars
        FROM ranked WHERE rk <= 10
    """,
)
def sample_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement, the Efraimidis-Spirakis
    way: give every row the key u^(1/w) for a per-row uniform u and
    weight w (here n_chars — longer docs proportionally likelier), and
    the global top-k by key IS an exact weighted sample. This is THE
    distributed formulation — no sequential reservoir, no rejection
    loop: keys are a pure map stage, selection is one per-stratum
    top-k window (and at 100 TB the window prunes map-side: each
    partition keeps its local top-k before the shuffle, so the
    exchange carries k rows per partition per stratum, not the
    corpus). u derives from md5 (the one hash both engines share,
    offset +0.5 so u is never 0) making the whole sample REPRODUCIBLE
    — reruns and backfills pick identical docs, which is what a
    training-data pipeline needs from its samplers. The full selected
    roster (not just counts) is the certified surface."""
    d = load_table(spark, "documents", sf_dir)
    h = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast("bigint")
    u = (h + F.lit(0.5)) / F.lit(4294967296.0)
    keyed = d.select(
        "source",
        "doc_id",
        "n_chars",
        F.pow(u, F.lit(1.0) / F.col("n_chars").cast("double")).alias("k"),
    )
    w = Window.partitionBy("source").orderBy(F.col("k").desc(), F.col("doc_id"))
    return (
        keyed.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= 10)
        .select("source", "rk", "doc_id", "n_chars")
    )


@query(
    "fuzzy_join_qgram_candidates",
    tier="L-pipeline (q-gram postings fuzzy join: count-filtered candidates + edit verify)",
    oracle="""
        WITH names AS (
            SELECT DISTINCT p_name FROM part
        ), grams AS (
            SELECT p_name,
                   UNNEST(LIST_DISTINCT(LIST_TRANSFORM(
                       GENERATE_SERIES(1, LENGTH(p_name) - 1),
                       i -> SUBSTRING(p_name, CAST(i AS INT), 2)))) AS g
            FROM names
        ), cand AS (
            SELECT a.p_name AS name_a, b.p_name AS name_b,
                   CAST(COUNT(*) AS BIGINT) AS shared_grams
            FROM grams a JOIN grams b ON a.g = b.g AND a.p_name < b.p_name
            GROUP BY a.p_name, b.p_name
            HAVING COUNT(*) >= 4
        )
        SELECT name_a, name_b, shared_grams,
               CAST(levenshtein(name_a, name_b) AS BIGINT) AS lev_dist
        FROM cand
        WHERE levenshtein(name_a, name_b) <= 4
        ORDER BY name_a, name_b
    """,
)
def fuzzy_join_qgram_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fuzzy_match_blocked_pairs' scalable upgrade: first-character
    blocking can only ever split the corpus |alphabet| ways — q-gram
    POSTINGS blocking is how production fuzzy joins bound candidates.
    Each distinct name explodes into its 2-grams (an inverted index),
    the postings self-join surfaces pairs sharing grams, a count filter
    (>= 4 shared grams — the count-filtering principle: edit distance
    <= k forces >= |s| - 1 - 2k shared grams, so high-overlap pairs
    survive) prunes to candidates, and ONLY candidates pay the
    levenshtein verify. Shuffle is by gram; hot grams (stop-grams) are
    the known hazard — cap or drop the most frequent grams at scale,
    exactly like LSH bucket caps. Certified end-to-end against the
    identical blocked algorithm in DuckDB."""
    names = load_table(spark, "part", sf_dir).select("p_name").distinct()
    idx = F.sequence(F.lit(1), F.length("p_name") - 1)
    grams = names.select(
        "p_name",
        F.explode(
            F.array_distinct(F.transform(idx, lambda i: F.col("p_name").substr(i, F.lit(2))))
        ).alias("g"),
    )
    a = grams.select(F.col("p_name").alias("name_a"), "g")
    b = grams.select(F.col("p_name").alias("name_b"), "g")
    cand = (
        a.join(b, "g")
        .filter(F.col("name_a") < F.col("name_b"))
        .groupBy("name_a", "name_b")
        .agg(F.count(F.lit(1)).alias("shared_grams"))
        .filter(F.col("shared_grams") >= 4)
    )
    return (
        cand.withColumn("lev_dist", F.levenshtein("name_a", "name_b").cast("bigint"))
        .filter(F.col("lev_dist") <= 4)
        .select("name_a", "name_b", "shared_grams", "lev_dist")
        .orderBy("name_a", "name_b")
    )


@query(
    "k_anonymity_audit",
    tier="L-pipeline (privacy: k-anonymity over quasi-identifiers, suppression accounting)",
    oracle="""
        WITH qi AS (
            SELECT c_mktsegment AS segment, n.n_name AS nation,
                   CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS bal_band,
                   CAST(COUNT(*) AS BIGINT) AS group_size
            FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
            GROUP BY 1, 2, 3
        )
        SELECT CAST(COUNT(*) AS BIGINT)                                        AS n_groups,
               CAST(SUM(CASE WHEN group_size < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating_groups,
               CAST(SUM(CASE WHEN group_size < 5 THEN group_size ELSE 0 END) AS BIGINT)
                   AS n_rows_at_risk,
               CAST(MIN(group_size) AS BIGINT)                                 AS k_actual
        FROM qi
    """,
)
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy gate for releasing or training on user-adjacent data:
    a record is k-anonymous when its QUASI-IDENTIFIER combination
    (here segment x nation x coarsened balance band — individually
    innocent columns that jointly fingerprint a person) is shared by
    at least k records. The audit is one groupBy over the QI tuple:
    k_actual (the dataset's real anonymity level), violating-group and
    rows-at-risk counts — the numbers that decide between suppression
    (drop the risky rows) and further generalization (widen the
    bands). Embarrassingly scalable: the QI cardinality, not the row
    count, bounds the shuffle; banding (FLOOR to 1000s) is itself the
    generalization knob."""
    c = load_table(spark, "customer", sf_dir)
    n = load_table(spark, "nation", sf_dir)
    qi = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.col("n_name").alias("nation"),
            F.floor(F.col("c_acctbal") / 1000).alias("bal_band"),
        )
        .agg(F.count(F.lit(1)).alias("group_size"))
    )
    at_risk = F.col("group_size") < 5
    return qi.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum(at_risk.cast("bigint")).alias("n_violating_groups"),
        F.sum(F.when(at_risk, F.col("group_size")).otherwise(0)).alias("n_rows_at_risk"),
        F.min("group_size").alias("k_actual"),
    )


@query(
    "entity_resolution_clusters",
    tier="L-pipeline+graph (fuzzy candidates -> iterative CC vs definitional reachability oracle)",
    oracle="""
        WITH RECURSIVE names AS (
            SELECT p_name, CAST(COUNT(*) AS BIGINT) AS n_rows
            FROM part GROUP BY p_name
        ),
        pairs AS (
            SELECT a.p_name AS name_a, b.p_name AS name_b
            FROM names a JOIN names b
              ON SUBSTRING(a.p_name, 1, 1) = SUBSTRING(b.p_name, 1, 1)
             AND a.p_name < b.p_name
            WHERE levenshtein(a.p_name, b.p_name) <= 3
        ),
        edges AS (
            SELECT name_a AS a, name_b AS b FROM pairs
            UNION
            SELECT name_b, name_a FROM pairs
        ),
        reach(a, b) AS (
            SELECT a, a FROM (SELECT DISTINCT a FROM edges)
            UNION
            SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
        ),
        comp AS (SELECT a AS name, MIN(b) AS component FROM reach GROUP BY a),
        stats AS (
            SELECT component,
                   CAST(COUNT(*) AS BIGINT) AS cluster_size,
                   CAST(SUM(n.n_rows) AS BIGINT) AS cluster_rows
            FROM comp JOIN names n ON comp.name = n.p_name
            GROUP BY component
        )
        SELECT c.name, c.component, s.cluster_size, s.cluster_rows
        FROM comp c JOIN stats s ON c.component = s.component
        ORDER BY c.component, c.name
    """,
)
def entity_resolution_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The entity-resolution endgame as one composite: blocked fuzzy
    candidate pairs (fuzzy_match_blocked_pairs' plan) -> ITERATIVE
    min-label connected components (operators/graph.py — the
    production path) -> per-cluster canonicalization with survivorship
    row counts.

    What the oracle certifies is the strong part: DuckDB recomputes
    components as a RECURSIVE transitive closure (component = MIN
    reachable vertex — the DEFINITION of a component), so a hash match
    proves the iterative label-propagation loop equals definitional
    reachability on this graph. The fixture's fuzzy graph is 8
    three-node PATHS — precisely the chain topology where one groupBy
    round is insufficient and propagation across iterations is what's
    being tested (dedup_clusters' oracle could only check the
    degenerate components==fingerprint-groups case; this closes the
    gap VERDICT r07 noted). Recursive UNION here is DISTINCT-semantics
    (DuckDB converges; closure size is bounded by sum of
    cluster_size^2 — tiny for ER graphs, whose clusters are near-
    cliques of duplicates by nature).

    Scale (100 TB): candidate generation is the blocked join (never
    all-pairs); CC is O(diameter) rounds of one shuffle each with
    lineage-truncated labels, and ER cluster diameters are small by
    construction (duplicates of one entity all resemble each other).
    Survivorship stats ride the same |clusters|-sized rollup."""
    from ..operators.graph import connected_components

    names = (
        load_table(spark, "part", sf_dir)
        .groupBy("p_name")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .withColumn("blk", F.substring("p_name", 1, 1))
        .localCheckpoint(eager=False)  # feeds pairs (twice) + the survivorship join
    )
    a = names.select("blk", F.col("p_name").alias("name_a"))
    b = names.select("blk", F.col("p_name").alias("name_b"))
    pairs = (
        a.join(b, "blk")
        .filter(F.col("name_a") < F.col("name_b"))
        .filter(F.levenshtein("name_a", "name_b") <= 3)
        .select("name_a", "name_b")
    )
    comp = connected_components(pairs, a="name_a", b="name_b").select(
        F.col("id").alias("name"), "component"
    )
    enriched = comp.join(
        names.select(F.col("p_name").alias("name"), "n_rows"), "name"
    )
    stats = enriched.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size"),
        F.sum("n_rows").cast("long").alias("cluster_rows"),
    )
    return (
        enriched.select("name", "component")
        .join(F.broadcast(stats), "component")
        .select("name", "component", "cluster_size", "cluster_rows")
        .orderBy("component", "name")
    )


#: token_budget_apportionment: global token budget to split across
#: sources (largest-remainder / Hamilton method).
APPORTION_BUDGET = 10_000_000


@query(
    "token_budget_apportionment",
    tier="L-pipeline (largest-remainder integer apportionment of a global token budget)",
    oracle=f"""
        WITH per AS (
            SELECT source,
                   CAST(SUM(LEN(LIST_FILTER(STRING_SPLIT(LOWER(text), ' '),
                                            x -> LENGTH(x) > 0))) AS BIGINT) AS n_tokens
            FROM documents GROUP BY source
        ),
        tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS t FROM per),
        quotas AS (
            SELECT p.source, p.n_tokens,
                   ({APPORTION_BUDGET} * p.n_tokens) // tot.t AS quota_floor,
                   ({APPORTION_BUDGET} * p.n_tokens) % tot.t AS remainder
            FROM per p CROSS JOIN tot
        ),
        leftover AS (
            SELECT {APPORTION_BUDGET} - CAST(SUM(quota_floor) AS BIGINT) AS l FROM quotas
        ),
        ranked AS (
            SELECT q.*, l.l,
                   ROW_NUMBER() OVER (ORDER BY q.remainder DESC, q.source ASC) AS rk
            FROM quotas q CROSS JOIN leftover l
        )
        SELECT source, n_tokens,
               CAST(quota_floor AS BIGINT) AS quota_floor,
               CAST(remainder AS BIGINT) AS remainder,
               rk <= l AS got_extra,
               CAST(quota_floor + CASE WHEN rk <= l THEN 1 ELSE 0 END AS BIGINT) AS final_alloc
        FROM ranked ORDER BY source
    """,
)
def token_budget_apportionment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder (Hamilton) apportionment of a fixed global
    token budget across corpus sources — the integer-exact step after
    mixture planning (domain_mixture_plan emits float rates; a real
    sharding job must hand each source a WHOLE number of tokens that
    sums EXACTLY to the budget). Floor quotas via integer division
    (Spark ``div`` == DuckDB ``//``), then the budget's unassigned
    residue goes +1-at-a-time to the largest remainders (ties broken
    by source name) — every emitted number is a BIGINT derived from
    integer arithmetic only; the final_alloc column sums to the budget
    by construction, so a division or ranking bug shifts a whole token
    between sources and fails the hash gate.

    Scale (100 TB): token counting is the only corpus-sized work — one
    partial-aggregated groupBy(source); everything after runs on
    |sources| rows (the window sort is over that tiny frame, never the
    corpus), with the total and leftover as broadcast one-row frames."""
    per = (
        load_table(spark, "documents", sf_dir)
        .groupBy("source")
        .agg(F.sum(F.size(X.tokens("text"))).cast("long").alias("n_tokens"))
        .localCheckpoint(eager=False)  # tiny; feeds total + quotas
    )
    tot = per.agg(F.sum("n_tokens").cast("long").alias("t"))
    quotas = per.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_tokens",
        F.expr(f"({APPORTION_BUDGET} * n_tokens) div t").alias("quota_floor"),
        (F.lit(APPORTION_BUDGET) * F.col("n_tokens") % F.col("t")).alias("remainder"),
    ).localCheckpoint(eager=False)  # feeds leftover + ranked
    leftover = quotas.agg(
        (F.lit(APPORTION_BUDGET) - F.sum("quota_floor")).cast("long").alias("l")
    )
    rk = F.row_number().over(Window.orderBy(F.col("remainder").desc(), F.col("source").asc()))
    return (
        quotas.crossJoin(F.broadcast(leftover))
        .select("*", rk.alias("rk"))
        .select(
            "source",
            "n_tokens",
            F.col("quota_floor").cast("long").alias("quota_floor"),
            F.col("remainder").cast("long").alias("remainder"),
            (F.col("rk") <= F.col("l")).alias("got_extra"),
            (F.col("quota_floor") + F.when(F.col("rk") <= F.col("l"), 1).otherwise(0))
            .cast("long")
            .alias("final_alloc"),
        )
        .orderBy("source")
    )


@query(
    "cascade_delete_audit",
    tier="EXT governance (GDPR right-to-be-forgotten: FK-cascade delete impact audit)",
    oracle="""
        WITH victims AS (
            SELECT c_custkey FROM customer
            WHERE CAST('0x'||SUBSTRING(MD5(CAST(c_custkey AS VARCHAR)||'gdpr'),1,8) AS BIGINT) % 20 = 0
        ),
        del_orders AS (
            SELECT o_orderkey FROM orders WHERE o_custkey IN (SELECT c_custkey FROM victims)
        ),
        stats AS (
            SELECT 'customer' AS tbl,
                   CAST(COUNT(*) AS BIGINT) AS n_total,
                   CAST(SUM(CASE WHEN c_custkey IN (SELECT c_custkey FROM victims)
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_delete
            FROM customer
            UNION ALL
            SELECT 'orders', CAST(COUNT(*) AS BIGINT),
                   CAST(SUM(CASE WHEN o_custkey IN (SELECT c_custkey FROM victims)
                            THEN 1 ELSE 0 END) AS BIGINT)
            FROM orders
            UNION ALL
            SELECT 'lineitem', CAST(COUNT(*) AS BIGINT),
                   CAST(SUM(CASE WHEN l_orderkey IN (SELECT o_orderkey FROM del_orders)
                            THEN 1 ELSE 0 END) AS BIGINT)
            FROM lineitem
            UNION ALL
            SELECT 'events', CAST(COUNT(*) AS BIGINT),
                   CAST(SUM(CASE WHEN user_id IN (SELECT c_custkey FROM victims)
                            THEN 1 ELSE 0 END) AS BIGINT)
            FROM events
        )
        SELECT tbl, n_total, n_delete,
               CAST(n_total - n_delete AS BIGINT) AS n_survive
        FROM stats ORDER BY tbl
    """,
)
def cascade_delete_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten impact audit: given a deletion cohort (an
    md5-deterministic 5% of customers standing in for a GDPR request
    list), walk the FK graph customer → orders → lineitem plus the
    behavioral side customer → events, and report per table how many
    rows the cascade deletes vs survives — the dry-run every
    governance pipeline executes before the destructive MERGE/DELETE.

    Scale (100 TB): the victim-key set is the only thing that crosses
    stages — broadcast into LEFT SEMI membership probes on each fact
    scan (a deletion cohort is small by nature; if it weren't, drop
    the broadcast hint and AQE picks a shuffled semi join). The
    second-level key set (orders-to-delete) is derived once and
    reused; each fact table is read exactly once, column-pruned to
    its keys."""
    victims = (
        load_table(spark, "customer", sf_dir)
        .where(
            F.expr(
                "cast(conv(substring(md5(concat(cast(c_custkey as string),'gdpr')),1,8),16,10) as bigint) % 20"
            )
            == 0
        )
        .select("c_custkey")
        .localCheckpoint(eager=False)  # probed by customer/orders/events branches
    )
    orders = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_custkey")
    del_orders = (
        orders.join(F.broadcast(victims), orders.o_custkey == victims.c_custkey, "left_semi")
        .select("o_orderkey")
        .localCheckpoint(eager=False)  # probed by the lineitem branch
    )

    def branch(tbl: str, frame, key_col: str, keyset, set_col: str) -> DataFrame:
        flagged = frame.join(
            F.broadcast(keyset.withColumnRenamed(set_col, "__k")),
            F.col(key_col) == F.col("__k"),
            "left",
        )
        return flagged.agg(
            F.lit(tbl).alias("tbl"),
            F.count(F.lit(1)).cast("long").alias("n_total"),
            F.sum(F.when(F.col("__k").isNotNull(), 1).otherwise(0)).cast("long").alias("n_delete"),
        ).select(
            "tbl",
            "n_total",
            "n_delete",
            (F.col("n_total") - F.col("n_delete")).cast("long").alias("n_survive"),
        )
    out = (
        branch("customer", load_table(spark, "customer", sf_dir).select("c_custkey"), "c_custkey", victims, "c_custkey")
        .unionByName(branch("orders", orders.select("o_custkey"), "o_custkey", victims, "c_custkey"))
        .unionByName(
            branch(
                "lineitem",
                load_table(spark, "lineitem", sf_dir).select("l_orderkey"),
                "l_orderkey",
                del_orders,
                "o_orderkey",
            )
        )
        .unionByName(
            branch("events", load_table(spark, "events", sf_dir).select("user_id"), "user_id", victims, "c_custkey")
        )
    )
    return out.orderBy("tbl")


@query(
    "masking_surface",
    tier="EXT governance (column masking / pseudonymization: mask(), salted SHA-256, value generalization)",
    oracle="""
        SELECT c_custkey,
               REGEXP_REPLACE(REGEXP_REPLACE(REGEXP_REPLACE(
                   c_name, '[A-Z]', 'X', 'g'), '[a-z]', 'x', 'g'), '[0-9]', 'n', 'g')
                   AS name_masked,
               SHA256(c_name || '#pepper') AS name_pseudo,
               CAST(FLOOR(c_acctbal / 1000) AS BIGINT) * 1000 AS acctbal_band,
               c_mktsegment AS segment_kept
        FROM customer
        WHERE c_custkey < 50
        ORDER BY c_custkey
    """,
)
def masking_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The column-protection toolbox a governed lake applies before
    sharing data sideways: format-preserving masking (Spark 4's
    `mask()` — upper→X, lower→x, digit→n, punctuation kept, so
    downstream format validators still pass), salted-SHA-256
    pseudonymization (deterministic — joins on the pseudonym still
    work across tables, but the identity needs the pepper), and
    numeric generalization to 1000-unit bands (the k-anonymity
    coarsening move; the band arithmetic is one shared expression
    tree, floor of the same IEEE quotient on both engines). The DuckDB
    twin rebuilds mask() from its regex definition, so the hash gate
    certifies the masking SEMANTICS, not just that some function ran.

    Scale (100 TB): all three protections are per-row codegen'd
    projections — no shuffle, no UDF; pushdown unaffected. Bounded to
    50 output rows here purely to keep the certified frame small."""
    return (
        load_table(spark, "customer", sf_dir)
        .where(F.col("c_custkey") < 50)
        .select(
            "c_custkey",
            F.expr("mask(c_name)").alias("name_masked"),
            F.sha2(F.concat(F.col("c_name"), F.lit("#pepper")), 256).alias("name_pseudo"),
            (F.floor(F.col("c_acctbal") / 1000).cast("long") * 1000).alias("acctbal_band"),
            F.col("c_mktsegment").alias("segment_kept"),
        )
        .orderBy("c_custkey")
    )


@query(
    "target_encoding_loo",
    tier="EXT ML-prep (leave-one-out target encoding, exact integer-cent arithmetic)",
    oracle="""
        WITH t AS (
            SELECT o_orderkey, o_orderpriority,
                   CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
            FROM orders
        ),
        stats AS (
            SELECT o_orderpriority,
                   CAST(SUM(cents) AS BIGINT) AS cat_sum,
                   CAST(COUNT(*) AS BIGINT) AS cat_n
            FROM t GROUP BY o_orderpriority
        )
        SELECT t.o_orderkey, t.o_orderpriority, t.cents,
               s.cat_n,
               CAST((s.cat_sum - t.cents) // (s.cat_n - 1) AS BIGINT) AS loo_mean_cents,
               FLOOR((s.cat_sum - t.cents) * 10000 / (s.cat_n - 1)) / 10000.0
                   AS loo_mean_cents_f4
        FROM t JOIN stats s USING (o_orderpriority)
        WHERE t.o_orderkey < 100
        ORDER BY t.o_orderkey
    """,
)
def target_encoding_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding — the categorical-feature
    engineering step that replaces a category with the mean target of
    the OTHER rows in its category (plain per-category means leak the
    row's own label into its feature; LOO is the standard fix). The
    target rides the explicit half-up cent kernel FLOOR(x*100+0.5)
    (CLAUDE.md: Spark CAST truncates where DuckDB rounds — never cast
    a float to int across engines), making every per-category sum an
    exact BIGINT; the LOO mean is then an exact integer division plus
    a FLOOR-4dp float twin of the same quotient. Bounded to 100 output
    rows for the certified frame.

    Scale (100 TB): one partial-aggregated groupBy over the category
    column (|categories| rows out), broadcast back onto the row scan —
    the LOO adjustment is per-row arithmetic, NOT a self-join; this is
    the only shape that survives a trillion-row encode."""
    t = load_table(spark, "orders", sf_dir).select(
        "o_orderkey",
        "o_orderpriority",
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long").alias("cents"),
    )
    stats = t.groupBy("o_orderpriority").agg(
        F.sum("cents").cast("long").alias("cat_sum"),
        F.count(F.lit(1)).cast("long").alias("cat_n"),
    )
    return (
        t.join(F.broadcast(stats), "o_orderpriority")
        .where(F.col("o_orderkey") < 100)
        .select(
            "o_orderkey",
            "o_orderpriority",
            "cents",
            "cat_n",
            F.expr("(cat_sum - cents) div (cat_n - 1)").cast("long").alias("loo_mean_cents"),
            (
                F.floor((F.col("cat_sum") - F.col("cents")) * 10000 / (F.col("cat_n") - 1))
                / 10000.0
            ).alias("loo_mean_cents_f4"),
        )
        .orderBy("o_orderkey")
    )


#: Temporal-embargo split dials: last 10 days are test, with a 2-day
#: embargo gap wiped between train and test.
EMBARGO_TEST_DAYS = 10
EMBARGO_GAP_DAYS = 2


@query(
    "split_temporal_embargo",
    tier="EXT ML-prep (time-series train/test split with embargo gap; leakage-proof by construction)",
    oracle=f"""
        WITH t AS (
            SELECT user_id, epoch_us(ts) // 86400000000 AS d FROM events
        ),
        cut AS (
            SELECT MAX(d) - {EMBARGO_TEST_DAYS} + 1 AS test_start FROM t
        ),
        tagged AS (
            SELECT t.user_id, t.d,
                   CASE WHEN t.d >= c.test_start THEN 'test'
                        WHEN t.d >= c.test_start - {EMBARGO_GAP_DAYS} THEN 'embargo'
                        ELSE 'train' END AS split
            FROM t CROSS JOIN cut c
        )
        SELECT split,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
               CAST(MIN(d) AS BIGINT) AS min_day,
               CAST(MAX(d) AS BIGINT) AS max_day
        FROM tagged GROUP BY split ORDER BY split
    """,
)
def split_temporal_embargo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series train/test split with an EMBARGO gap (the financial-
    ML leakage fix: rows within the gap are dropped entirely so no
    label window can straddle the boundary — a hash split is leakage-
    proof for i.i.d. data but WRONG for autocorrelated series, where
    temporally-adjacent rows share information). Cut points derive
    from the observed max day (a broadcast one-row frame), tags are
    pure integer-day comparisons, and the emitted per-split
    min_day/max_day make the no-overlap guarantee VISIBLE: train's
    max_day < embargo's min_day <= embargo's max_day < test's min_day
    holds by construction, so a boundary bug reorders whole rows and
    fails the gate.

    Scale (100 TB): one scan, one broadcast scalar, a codegen'd CASE,
    and a partial-aggregated 3-group rollup — the split ASSIGNMENT is
    a zero-shuffle map stage a writer would fold into its partition
    column (the distinct-user count is the only shuffle here, and it's
    audit-only)."""
    t = load_table(spark, "events", sf_dir).select(
        "user_id", F.expr("unix_micros(cast(ts as timestamp)) div 86400000000").alias("d")
    )
    cut = t.agg((F.max("d") - EMBARGO_TEST_DAYS + 1).alias("test_start"))
    tagged = t.crossJoin(F.broadcast(cut)).select(
        "user_id",
        "d",
        F.when(F.col("d") >= F.col("test_start"), "test")
        .when(F.col("d") >= F.col("test_start") - EMBARGO_GAP_DAYS, "embargo")
        .otherwise("train")
        .alias("split"),
    )
    return (
        tagged.groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
            F.min("d").cast("long").alias("min_day"),
            F.max("d").cast("long").alias("max_day"),
        )
        .orderBy("split")
    )
