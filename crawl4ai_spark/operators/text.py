"""Text analysis for training-data pipelines — all pure Catalyst columns.

Language-ID (stopword n-gram heuristic), quality scoring (length / punct /
stopword ratios), token counting (whitespace + BPE-ish subword estimate),
and document fingerprinting. Everything stays in whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Small built-in stopword profiles (top function words per language).
LANG_PROFILES: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "a", "that", "it", "for"],
    "es": ["el", "la", "de", "que", "y", "en", "los", "una", "por", "con"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "von", "mit", "ein", "zu"],
    "fr": ["le", "la", "et", "les", "des", "est", "une", "dans", "que", "pour"],
}


def tokens_col(text: Column) -> Column:
    return F.filter(F.split(F.lower(text), r"\s+"), lambda t: t != "")


def token_count(text: Column) -> Column:
    """Whitespace token count."""
    return F.size(tokens_col(text))


def subword_count(text: Column) -> Column:
    """BPE-ish token estimate: alnum runs + punctuation marks each count
    one, long words count ceil(len/6) pieces — a deterministic stand-in
    for a real tokenizer's piece count."""
    words = F.filter(F.split(F.lower(text), r"[^a-z0-9]+"), lambda t: t != "")
    pieces = F.aggregate(
        words, F.lit(0), lambda acc, wd: acc + F.ceil(F.length(wd) / 6.0).cast("int")
    )
    punct = F.size(F.filter(F.split(text, ""), lambda c: c.rlike(r"[^\w\s]")))
    return pieces + punct


def stopword_hits(text: Column, lang: str) -> Column:
    toks = tokens_col(text)
    words = LANG_PROFILES[lang]
    return F.size(F.filter(toks, lambda t: t.isin(words)))


def lang_id(text: Column) -> Column:
    """Heuristic language ID: argmax of stopword-profile hit counts; CJK
    codepoint presence short-circuits to 'zh'; no hits → 'und'."""
    has_cjk = text.rlike(r"[一-鿿]")
    scores = [(lang, stopword_hits(text, lang)) for lang in LANG_PROFILES]
    best = F.lit("und")
    best_score = F.lit(0)
    for lang, s in scores:
        is_better = s > best_score
        best = F.when(is_better, F.lit(lang)).otherwise(best)
        best_score = F.when(is_better, s).otherwise(best_score)
    return F.when(has_cjk, F.lit("zh")).otherwise(best)


def quality_score(text: Column) -> Column:
    """[0,1] composite: length band + punctuation ratio + stopword ratio +
    mean word length sanity — the usual cheap pretraining-quality gates."""
    toks = tokens_col(text)
    n_toks = F.size(toks)
    n_chars = F.length(text)
    s_len = (
        F.when((n_toks >= 20) & (n_toks <= 5000), 1.0)
        .when(n_toks >= 5, 0.5)
        .otherwise(0.0)
    )
    punct = F.length(F.regexp_replace(text, r"[^.!?,;:]", ""))
    punct_ratio = punct.cast("double") / F.greatest(n_chars, F.lit(1)).cast("double")
    s_punct = F.when((punct_ratio > 0.001) & (punct_ratio < 0.2), 1.0).otherwise(0.3)
    stop_ratio = stopword_hits(text, "en").cast("double") / F.greatest(
        n_toks, F.lit(1)
    ).cast("double")
    s_stop = F.when(stop_ratio > 0.05, 1.0).when(stop_ratio > 0.01, 0.6).otherwise(0.2)
    mean_wlen = F.greatest(n_chars - n_toks + 1, F.lit(0)).cast("double") / F.greatest(
        n_toks, F.lit(1)
    ).cast("double")
    s_wlen = F.when((mean_wlen >= 2.5) & (mean_wlen <= 12.0), 1.0).otherwise(0.4)
    return (s_len * 0.4 + s_punct * 0.2 + s_stop * 0.2 + s_wlen * 0.2).cast("double")


def fingerprint_md5(text: Column) -> Column:
    """Stable content fingerprint: md5 of whitespace-normalized lowercase
    text (md5 exists in both Spark and DuckDB → oracle-checkable)."""
    return F.md5(F.lower(F.trim(F.regexp_replace(text, r"\s+", " "))))


def heavy_hitters(df, text_col: str = "text", id_col: str = "doc_id",
                  k: int = 50):
    """Vocabulary heavy hitters: the k terms with the highest DOCUMENT
    frequency (distinct docs containing the term — the stat that drives
    stopword lists, boilerplate detection and df-based dedup caps).

    Shape: explode per-doc DISTINCT tokens → one partial-aggregating
    groupBy (map-side combine absorbs hot terms — counting is O(df)) →
    TakeOrdered k.  Ties break lexicographically so the result is
    deterministic."""
    from pyspark.sql import functions as F

    toks = tokens_col(F.col(text_col))
    posting = df.select(
        F.col(id_col), F.explode(F.array_distinct(toks)).alias("term")
    )
    return (
        posting.groupBy("term")
        .agg(F.count("*").alias("df"))
        .orderBy(F.col("df").desc(), F.col("term"))
        .limit(k)
    )


def corpus_stats(docs, text_col: str = "text",
                 lang_col: str = "lang"):
    """Dataset-card summary: per-language (plus the '*' grand-total
    rollup row) document / token / char counts and token extremes — the
    numbers a training-data release publishes (dataset cards, mixture
    weights, length screens).

    ONE partial-aggregating rollup pass — map-side combine makes it
    O(rows) with a ≤ |langs|+1-row output; everything except
    ``mean_tokens`` is exact integer arithmetic, and the mean is a single
    division of two exact longs (identical on any engine/partitioning)."""
    toks = token_count(F.col(text_col))
    base = docs.select(
        F.coalesce(F.col(lang_col), F.lit("?")).alias("lang"),
        toks.alias("nt"),
        F.length(F.col(text_col)).alias("nc"),
    )
    return (
        base.rollup("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("nt").cast("long").alias("n_tokens"),
            F.sum("nc").cast("long").alias("n_chars"),
            F.max("nt").cast("long").alias("max_tokens"),
            F.min("nt").cast("long").alias("min_tokens"),
        )
        .select(
            F.coalesce("lang", F.lit("*")).alias("lang"),
            "n_docs", "n_tokens", "n_chars", "max_tokens", "min_tokens",
            F.round(F.col("n_tokens") / F.col("n_docs"), 6)
             .alias("mean_tokens"),
        )
    )
