"""Text analysis column helpers — tokenization, shingling, fingerprints.

The fixture corpus is single-space-separated lowercase words, so
``split(text, ' ')`` is the parity-safe tokenizer (FIXTURES.md).
Fingerprints use md5 (present and identical in Spark and DuckDB) rather
than xxhash64/murmur (which are engine-specific).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def tokens(text: Column | str) -> Column:
    """Whitespace tokens (exact parity with SQL string_split)."""
    return F.split(_c(text), " ")


def word_shingles(text: Column | str, n: int = 3) -> tuple[Column, Column]:
    """Distinct n-word shingles as strings (input to MinHash/SimHash).

    Returns (tokens_projection, shingles_column): callers MUST project
    the tokens column first (``df.select(..., proj).select(...,
    shingles)``) — inlining the split into the transform lambda
    re-evaluates it per shingle element (no CSE inside HOF lambdas;
    O(len·n) splits per doc — the r15 class fix). A document of w
    words yields max(w-n+1, 0) shingles.
    """
    toks = F.col("_ws_toks")
    k = F.size(toks) - (n - 1)
    # sequence(1, 0) is DESCENDING [1,0] in Spark, not empty — guard short docs
    idx = F.when(k >= 1, F.sequence(F.lit(1), k)).otherwise(F.array().cast("array<int>"))
    shingles = F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j) for j in range(n)]))
    )
    return tokens(text).alias("_ws_toks"), shingles


def fingerprint_md5(text: Column | str, normalized: bool = False) -> Column:
    """Content fingerprint. ``normalized=True`` hashes the sorted set of
    words — stable under word reordering (bag-of-words identity)."""
    t = _c(text)
    if normalized:
        t = F.concat_ws(" ", F.array_sort(F.array_distinct(tokens(t))))
    return F.md5(t)


#: Per-language stopword lists for the n-gram/stopword language-ID
#: heuristic. Shared with the DuckDB oracle generator (queries/llmscale.py).
STOPWORDS: dict[str, list[str]] = {
    "de": ["der", "die", "das", "und", "ist", "von", "ein", "zu", "mit", "nicht"],
    "en": ["the", "a", "of", "and", "to", "in", "is", "it", "for", "on"],
    "es": ["el", "la", "de", "los", "que", "en", "un", "es", "por", "una"],
    "fr": ["le", "la", "les", "de", "et", "un", "une", "est", "pour", "dans"],
    "zh": ["的", "是", "了", "在", "我", "有", "和", "就", "不", "人"],
}


def lang_scores(text: Column | str) -> dict[str, Column]:
    """Stopword-hit-ratio score per candidate language.

    score_L = (#tokens in L's stopword list) / (#tokens). Occurrence
    counts (not distinct membership) so repeated function words weigh
    in — the standard cheap language-ID signal. Pure array expressions
    (filter + size), fully codegen'd.
    """
    toks = tokens(text)
    n = F.size(toks).cast("double")
    return {
        lang: F.size(F.filter(toks, lambda t: t.isin(*words))) / n
        for lang, words in sorted(STOPWORDS.items())
    }


def predict_lang(text: Column | str) -> tuple[Column, Column]:
    """(pred_lang, best_score): argmax over lang_scores with ties going
    to the alphabetically-first language — deterministic, matching the
    oracle's CASE chain exactly."""
    scores = lang_scores(text)
    langs = sorted(scores)
    pred = None
    for lang in reversed(langs):  # build CASE chain: first-true-wins, alphabetical
        cond = None
        for other in langs:
            if other == lang:
                continue
            c = scores[lang] >= scores[other]
            cond = c if cond is None else cond & c
        pred = F.when(cond, F.lit(lang)) if pred is None else F.when(cond, F.lit(lang)).otherwise(pred)
    best = F.greatest(*scores.values())
    return pred, best


def token_stats(text: Column | str) -> dict[str, Column]:
    """Cheap quality signals: token count, distinct ratio, mean word len."""
    toks = tokens(text)
    n = F.size(toks)
    n_distinct = F.size(F.array_distinct(toks))
    mean_len = F.aggregate(
        toks, F.lit(0.0), lambda acc, w: acc + F.length(w).cast("double")
    ) / n.cast("double")
    return {
        "n_tokens": n,
        "n_distinct": n_distinct,
        "distinct_ratio": n_distinct.cast("double") / n.cast("double"),
        "mean_word_len": mean_len,
    }
