"""Text-analysis operators for LLM-data pipelines (SURVEY.md §2.10 L4;
BASELINE.json north star: "text analysis" at 100 TB).

Everything here is pure JVM-side expression (split / higher-order array
functions / hash builtins) — no Python UDF anywhere, so the hot path
stays inside whole-stage codegen and scales linearly with executors.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

__all__ = [
    "tokens",
    "word_kgrams",
    "token_count",
    "stopword_ratio",
    "language_scores",
    "quality_score",
    "fingerprint",
    "bag_fingerprint",
    "STOPWORDS",
]

#: Tiny per-language function-word lists for the n-gram/stopword
#: heuristic language ID (public-knowledge word lists).
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of", "to", "in", "is", "that", "it", "for"),
    "fr": ("le", "la", "les", "de", "et", "un", "une", "des", "que", "pour"),
    "es": ("el", "la", "los", "de", "y", "un", "una", "que", "en", "por"),
    "de": ("der", "die", "das", "und", "ein", "eine", "von", "zu", "mit", "ist"),
}


def tokens(col: str | Column, lowercase: bool = True) -> Column:
    """Whitespace tokenization → array<string>, empties removed."""
    c = F.col(col) if isinstance(col, str) else col
    if lowercase:
        c = F.lower(c)
    return F.filter(F.split(c, " "), lambda t: F.length(t) > 0)


def word_kgrams(toks: str | Column, k: int) -> Column:
    """Ordered word k-grams of a token array → array<string>, each the
    k tokens joined by one space, duplicates kept. A doc with fewer
    than k tokens yields one gram of all its tokens (an empty array
    yields ``[""]``). THE k-gram expression: shingles, winnowing and the
    gram-counting queries all call it."""
    t = F.col(toks) if isinstance(toks, str) else toks
    idx = F.sequence(F.lit(0), F.greatest(F.size(t) - k, F.lit(0)))
    return F.transform(idx, lambda i: F.concat_ws(" ", F.slice(t, i + 1, k)))


def token_count(col: str | Column) -> Column:
    return F.size(tokens(col))


def stopword_ratio(toks: Column, words: tuple[str, ...]) -> Column:
    """Fraction of tokens that are function words — the core signal for
    both language ID and boilerplate/quality scoring."""
    hits = F.size(F.filter(toks, lambda t: t.isin(*words)))
    return hits / F.greatest(F.size(toks), F.lit(1))


def language_scores(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-language stopword-hit scores + argmax prediction (heuristic
    language ID). One projection, no shuffle; at 100 TB this is a pure
    map stage."""
    toks = tokens(text_col)
    out = df.withColumn("__toks", toks)
    for lang, words in STOPWORDS.items():
        out = out.withColumn(f"score_{lang}", F.round(stopword_ratio(F.col("__toks"), words), 6))
    score_cols = [f"score_{lang}" for lang in STOPWORDS]
    best = F.greatest(*[F.col(c) for c in score_cols])
    pred = F.lit("und")
    # reversed so earlier languages win ties deterministically
    for lang in reversed(list(STOPWORDS)):
        pred = F.when(F.col(f"score_{lang}") == best, F.lit(lang)).otherwise(pred)
    return out.withColumn("predicted_lang", F.when(best > 0, pred).otherwise(F.lit("und"))).drop("__toks")


def quality_score(text_col: str = "text") -> Column:
    """Deterministic document-quality heuristic in [0,1]: rewards
    mid-length docs, penalizes very short tokens and stopword-free soup
    (boilerplate/garbage signals used by LLM data pipelines)."""
    toks = tokens(text_col)
    n = F.size(toks)
    avg_word_len = F.aggregate(toks, F.lit(0.0), lambda acc, t: acc + F.length(t)) / F.greatest(n, F.lit(1))
    sw = stopword_ratio(toks, STOPWORDS["en"])
    len_component = F.least(n / F.lit(50.0), F.lit(1.0))
    word_len_component = F.least(avg_word_len / F.lit(6.0), F.lit(1.0))
    return F.round(0.4 * len_component + 0.3 * word_len_component + 0.3 * F.least(sw * 5, F.lit(1.0)), 6)


def normalize_text_udf():
    """Scalar pandas UDF (SURVEY U1): Arrow-vectorized text
    normalization — lowercase, trim, collapse whitespace runs.

    Exists to certify the @pandas_udf extension point; the same
    semantics ARE expressible with built-ins (lower/trim/
    regexp_replace, which is what the DuckDB oracle uses) — prefer the
    built-ins in hot paths, reach for the pandas UDF when the kernel
    needs a Python library (tokenizers, unicode normalization, ...).
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def normalize(s):  # s: pd.Series → pd.Series (hints omitted: the
        # stringified-annotation form isn't accepted by the UDF resolver)
        return s.str.lower().str.strip().str.replace(r"\s+", " ", regex=True)

    return normalize


def fingerprint(text_col: str = "text") -> Column:
    """Exact-content fingerprint: md5 of the lowercased, trimmed text.
    (md5 builtin → identical across engines, unlike xxhash64.)"""
    return F.md5(F.lower(F.trim(F.col(text_col))))


def winnowing_fingerprint(text_col: str = "text", k: int = 3, w: int = 4) -> Column:
    """Rolling-hash document fingerprint (winnowing): hash every k-gram
    shingle, slide a w-wide window over the hash sequence, keep each
    window's minimum, dedupe+sort. The standard plagiarism/near-dup
    fingerprint: robust to local edits (an edit perturbs only nearby
    windows), ~|tokens|/w selected hashes per doc.

    md5 (not xxhash) as the k-gram hash so the fingerprint is
    reproducible across engines; lexicographic min over hex digests is
    a valid uniform selector. Pure expression — map stage.
    """
    kgram_hashes = F.transform(word_kgrams(tokens(text_col), k), F.md5)
    n_h = F.size(kgram_hashes)
    win_idx = F.sequence(F.lit(1), F.greatest(n_h - w + 1, F.lit(1)))
    mins = F.transform(win_idx, lambda i: F.array_min(F.slice(kgram_hashes, i, w)))
    return F.array_sort(F.array_distinct(mins))


def bag_fingerprint(text_col: str = "text") -> Column:
    """Order-insensitive fingerprint: md5 over the sorted distinct token
    set — catches shuffled/reordered near-copies exactly."""
    return F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(tokens(text_col)))))
