"""Content-filter scoring (G9, SURVEY §2.7) as pure Catalyst columns.

Reference: PruningContentFilter
(crawl4ai/content_filter_strategy.py:525-770) — a composite
text-density / link-density / tag-weight / class-id / text-length metric per
DOM node, pruned below a fixed threshold (default 0.48).  The reference
walks a BeautifulSoup tree; the set-oriented form scores *chunk rows*
carrying the node metrics the walk would compute:

    (tag_name, text_len, tag_len, link_text_len, classes, elem_id[, text])

which is exactly what a scrape pass emits per top-level block.  All
arithmetic stays in whole-stage codegen; the fixed-threshold decision is
one filter.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# content_filter_strategy.py:603-616
TAG_WEIGHTS = {
    "div": 0.5, "p": 1.0, "article": 1.5, "section": 1.0, "span": 0.3,
    "li": 0.5, "ul": 0.5, "ol": 0.5, "h1": 1.2, "h2": 1.1, "h3": 1.0,
    "h4": 0.9, "h5": 0.8, "h6": 0.7,
}
# :114-116 (re.I); reference uses .match → anchored at start
NEGATIVE_PATTERN = r"(?i)^(?:nav|footer|header|sidebar|ads|comment|promo|advert|social|share)"
# :585-601
METRIC_WEIGHTS = {
    "text_density": 0.4, "link_density": 0.2, "tag_weight": 0.2,
    "class_id_weight": 0.1, "text_length": 0.1,
}
DEFAULT_THRESHOLD = 0.48  # :556


def _tag_weight_col(tag: Column) -> Column:
    m = F.create_map(*[F.lit(v) for kv in TAG_WEIGHTS.items() for v in kv])
    return F.coalesce(m[tag], F.lit(0.5))


def class_id_weight(classes: Column, elem_id: Column) -> Column:
    """:759-770 — −0.5 per negative-pattern hit on classes / id."""
    neg_c = F.when(F.coalesce(classes, F.lit("")).rlike(NEGATIVE_PATTERN), -0.5).otherwise(0.0)
    neg_i = F.when(F.coalesce(elem_id, F.lit("")).rlike(NEGATIVE_PATTERN), -0.5).otherwise(0.0)
    return neg_c + neg_i


def pruning_score(tag_name: Column, text_len: Column, tag_len: Column,
                  link_text_len: Column, classes: Column | None = None,
                  elem_id: Column | None = None,
                  text: Column | None = None,
                  min_word_threshold: int | None = None) -> Column:
    """_compute_composite_score (:721-757), weight-for-weight."""
    tl = text_len.cast("double")
    gl = tag_len.cast("double")
    ll = link_text_len.cast("double")
    density = F.when(gl > 0, tl / gl).otherwise(F.lit(0.0))
    link_density = F.lit(1.0) - F.when(tl > 0, ll / tl).otherwise(F.lit(0.0))
    tag_w = _tag_weight_col(tag_name)
    cls = class_id_weight(
        classes if classes is not None else F.lit(None),
        elem_id if elem_id is not None else F.lit(None),
    )
    score = (
        F.lit(METRIC_WEIGHTS["text_density"]) * density
        + F.lit(METRIC_WEIGHTS["link_density"]) * link_density
        + F.lit(METRIC_WEIGHTS["tag_weight"]) * tag_w
        + F.lit(METRIC_WEIGHTS["class_id_weight"]) * F.greatest(F.lit(0.0), cls)
        + F.lit(METRIC_WEIGHTS["text_length"]) * F.log(tl + 1.0)
    )  # total_weight == 1.0
    if min_word_threshold is not None and text is not None:
        # :723-728 — word_count = text.count(' ') + 1
        wc = F.length(text) - F.length(F.regexp_replace(text, " ", "")) + 1
        return F.when(wc < min_word_threshold, F.lit(-1.0)).otherwise(score)
    return score


def prune_keep(score: Column, threshold: float = DEFAULT_THRESHOLD) -> Column:
    """Fixed-threshold keep decision (:697-698: remove when score < t)."""
    return score >= F.lit(threshold)


# ---------------------------------------------------------------------------
# BM25ContentFilter (content_filter_strategy.py:382-523): chunk-level BM25
# with priority-tag boosts.  The reference scores a page's text chunks with
# rank_bm25.BM25Okapi over snowball-stemmed, clean_tokens-filtered tokens,
# multiplies by priority-tag weight, keeps chunks >= bm25_threshold (1.0)
# in document order.  Set-oriented form: score CHUNK ROWS (doc_id,
# chunk_idx, chunk, tag) — the per-page corpus is the doc_id group — in two
# Catalyst passes (tokenize+tf, then one groupBy(doc) for N/avgdl/df joined
# back).  Divergences, both deliberate and documented: the snowball stemmer
# (unavailable offline) is replaced by a single deterministic suffix rule,
# and rank_bm25's epsilon-floored idf (negative for df > N/2) by the
# non-negative Lucene form ln(1 + (N-df+0.5)/(df+0.5)) — same monotonicity,
# no corpus-wide second pass.
# ---------------------------------------------------------------------------

# utils.py:2359-2573 clean_tokens noise + STOP_WORDS, merged (public
# constant table, reproduced verbatim; emoji arrows dropped — edge-stripping
# removes them before this filter applies)
CLEAN_STOP_WORDS = sorted({
    "ccp", "up", "a", "an", "at", "by", "in", "of", "on", "to", "the",
    "and", "are", "as", "be", "for", "from", "has", "he", "is", "it", "its",
    "that", "was", "were", "will", "with",
    "i", "you", "she", "we", "they", "me", "him", "her", "us", "them",
    "my", "your", "his", "our", "their", "mine", "yours", "hers", "ours",
    "theirs", "myself", "yourself", "himself", "herself", "itself",
    "ourselves", "themselves",
    "am", "been", "being", "have", "had", "having", "do", "does", "did",
    "doing",
    "about", "above", "across", "after", "against", "along", "among",
    "around", "before", "behind", "below", "beneath", "beside", "between",
    "beyond", "down", "during", "except", "inside", "into", "near", "off",
    "out", "outside", "over", "past", "through", "toward", "under",
    "underneath", "until", "upon", "within",
    "but", "or", "nor", "yet", "so", "although", "because", "since",
    "unless",
    "this", "these", "those", "what", "which", "who", "whom", "whose",
    "when", "where", "why", "how", "all", "any", "both", "each", "few",
    "more", "most", "other", "some", "such", "can", "cannot", "can't",
    "could", "couldn't", "may", "might", "must", "mustn't", "shall",
    "should", "shouldn't", "won't", "would", "wouldn't", "not", "n't",
    "no", "none",
})

# content_filter_strategy.py:424-436
BM25_PRIORITY_TAGS = {
    "h1": 5.0, "h2": 4.0, "h3": 3.0, "title": 4.0, "strong": 2.0,
    "b": 1.5, "em": 1.5, "blockquote": 2.0, "code": 2.0, "pre": 1.5,
    "th": 1.5,
}
BM25_K1 = 1.5  # rank_bm25 BM25Okapi defaults
BM25_B = 0.75
BM25_THRESHOLD = 1.0  # content_filter_strategy.py:407

_STRIP_EDGES = r"^[^a-z0-9]+|[^a-z0-9]+$"
_STEM_SUFFIX = r"(ing|ed|es|s)$"


def bm25_token_col(col: Column) -> Column:
    """Canonical BM25 token pipeline (identical expression in the DuckDB
    oracle): lower → \\s+ split → strip non-alnum edges → drop short/stop
    tokens (clean_tokens rule: len > 2) → suffix-stem when len > 4."""
    raw = F.filter(F.split(F.lower(col), r"\s+"), lambda t: t != "")
    stripped = F.transform(raw, lambda t: F.regexp_replace(t, _STRIP_EDGES, ""))
    kept = F.filter(
        stripped,
        lambda t: (t != "") & (F.length(t) > 2) & ~t.isin(CLEAN_STOP_WORDS),
    )
    return F.transform(
        kept,
        lambda t: F.when(
            F.length(t) > 4, F.regexp_replace(t, _STEM_SUFFIX, "")
        ).otherwise(t),
    )


def py_bm25_tokens(text: str) -> list[str]:
    """Driver twin of bm25_token_col (query-side tokenization)."""
    import re

    out = []
    for t in re.split(r"\s+", text.lower()):
        if not t:
            continue
        t = re.sub(_STRIP_EDGES, "", t)
        if not t or len(t) <= 2 or t in CLEAN_STOP_WORDS:
            continue
        out.append(re.sub(_STEM_SUFFIX, "", t) if len(t) > 4 else t)
    return out


def bm25_chunk_filter(chunks, query: str, id_col: str = "doc_id",
                      idx_col: str = "chunk_idx", chunk_col: str = "chunk",
                      tag_col: str = "tag", k1: float = BM25_K1,
                      b: float = BM25_B,
                      threshold: float = BM25_THRESHOLD):
    """Score every chunk row; returns the input plus ``bm25_score``,
    ``adjusted_score`` (tag-boosted) and ``keep``.  One shuffle total: the
    per-doc stats aggregate (N, avgdl, per-query-term df) joins back on the
    doc key; tf/dl are per-row Catalyst expressions, so at 100 TB the work
    is a map pass + one co-keyed agg-join."""
    qterms = sorted(set(py_bm25_tokens(query)))
    t = chunks.withColumn("__toks", bm25_token_col(F.col(chunk_col)))
    t = t.withColumn("__dl", F.size("__toks").cast("double"))
    def _eq(term):
        return lambda x: x == F.lit(term)

    for i, qt in enumerate(qterms):
        t = t.withColumn(
            f"__tf{i}",
            F.size(F.filter(F.col("__toks"), _eq(qt))).cast("double"),
        )
    aggs = [F.count("*").cast("double").alias("__N"), F.avg("__dl").alias("__avgdl")]
    for i in range(len(qterms)):
        aggs.append(
            F.sum((F.col(f"__tf{i}") > 0).cast("double")).alias(f"__df{i}")
        )
    stats = t.groupBy(id_col).agg(*aggs)
    j = t.join(stats, id_col)
    avgdl = F.when(F.col("__avgdl") > 0, F.col("__avgdl")).otherwise(F.lit(1.0))
    norm = F.col("__dl") / avgdl
    score = F.lit(0.0)
    for i in range(len(qterms)):
        tf = F.col(f"__tf{i}")
        df = F.col(f"__df{i}")
        idf = F.log(
            F.lit(1.0) + (F.col("__N") - df + F.lit(0.5)) / (df + F.lit(0.5))
        )
        score = score + idf * (
            tf * F.lit(k1 + 1.0)
            / (tf + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * norm))
        )
    m = F.create_map(*[F.lit(v) for kv in BM25_PRIORITY_TAGS.items() for v in kv])
    boost = F.coalesce(m[F.col(tag_col)], F.lit(1.0))
    out = j.withColumn("bm25_score", score).withColumn(
        "adjusted_score", score * boost
    ).withColumn("keep", F.col("adjusted_score") >= F.lit(threshold))
    drop = ["__toks", "__dl", "__N", "__avgdl"]
    drop += [f"__tf{i}" for i in range(len(qterms))]
    drop += [f"__df{i}" for i in range(len(qterms))]
    return out.drop(*drop)
