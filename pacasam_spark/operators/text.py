"""Text analysis operators for training-data pipelines: tokenization,
quality scoring, language ID, fingerprinting.

All pure column expressions (codegen'd, no UDF): at 100 TB these run
inside the scan with zero shuffles until the final aggregation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny function-word lists for the n-gram/stopword language heuristic.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is", "that", "with"],
    "fr": ["le", "la", "et", "des", "est", "que", "avec"],
    "de": ["der", "die", "und", "das", "ist", "mit", "nicht"],
    "es": ["el", "la", "los", "es", "que", "con", "para"],
}

EN_STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it", "that", "for"]


def words_col(text: Column) -> Column:
    """Whitespace tokenization, empty tokens dropped."""
    return F.filter(F.split(text, " "), lambda w: w != F.lit(""))


def word_ngrams(words: Column, n: int) -> Column:
    """Word n-gram shingles as an array of space-joined strings."""
    count = F.size(words) - F.lit(n - 1)
    return F.when(
        count > 0,
        F.transform(
            F.sequence(F.lit(1), count),
            lambda i: F.concat_ws(" ", F.slice(words, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def token_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Token counting + quality metrics: n_tokens, distinct tokens,
    type-token ratio, mean token length, stopword ratio, BPE-ish subword
    estimate (chars/4 heuristic used by tokenizer-budget planning)."""
    w = words_col(F.col(text_col))
    n = F.size(w)
    stop_arr = F.array([F.lit(s) for s in EN_STOPWORDS])
    n_stop = F.size(F.filter(w, lambda x: F.array_contains(stop_arr, x)))
    total_chars = F.aggregate(
        F.transform(w, lambda x: F.length(x)), F.lit(0), lambda a, x: a + x
    )
    return df.select(
        id_col,
        n.alias("n_tokens"),
        F.size(F.array_distinct(w)).alias("n_distinct"),
        (F.size(F.array_distinct(w)).cast("double") / n).alias("type_token_ratio"),
        (total_chars.cast("double") / n).alias("mean_token_len"),
        (n_stop.cast("double") / n).alias("stopword_ratio"),
        F.ceil(F.length(F.col(text_col)) / 4).cast("long").alias("est_bpe_tokens"),
    )


def lang_scores(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Language-ID heuristic: per-language function-word hit ratio +
    argmax with deterministic tiebreak (language name)."""
    w = words_col(F.col(text_col))
    n = F.size(w)
    cols = [F.col(id_col)]
    for lang, markers in sorted(LANG_MARKERS.items()):
        arr = F.array([F.lit(m) for m in markers])
        hits = F.size(F.filter(w, lambda x: F.array_contains(arr, x)))
        cols.append((hits.cast("double") / n).alias(f"score_{lang}"))
    scored = df.select(*cols)
    langs = sorted(LANG_MARKERS)
    best = F.greatest(*[F.col(f"score_{lg}") for lg in langs])
    pred = F.coalesce(
        *[F.when(F.col(f"score_{lg}") == best, F.lit(lg)) for lg in langs]
    )
    return scored.withColumn("pred_lang", pred)


def doc_fingerprint(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3, k: int = 4
) -> DataFrame:
    """Document fingerprint: the k lexicographically smallest md5 hashes of
    word n-gram shingles (a k-min sketch — the rolling-hash/winnowing
    analogue expressible without a UDF), joined into one string."""
    w = words_col(F.col(text_col))
    hashes = F.transform(word_ngrams(w, n), lambda s: F.md5(s))
    fp = F.concat_ws("|", F.slice(F.array_sort(hashes), 1, k))
    return df.select(id_col, fp.alias("fingerprint"))


def gopher_quality_flags(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_len: float = 3.0,
    max_mean_len: float = 10.0,
    max_ellipsis_line_frac: float = 0.3,
    max_bullet_line_frac: float = 0.9,
    min_alpha_word_frac: float = 0.8,
    min_stopword_hits: int = 2,
    max_dup_line_frac: float = 0.3,
) -> DataFrame:
    """Gopher-style document quality rules (Rae et al. 2021, "Scaling
    Language Models", Appendix A — the repetition/format/coherence
    filters every web-corpus pipeline applies before training), each as
    a pure column expression over one scan — no UDF, no shuffle:

    - ok_n_words:       word count within [min_words, max_words]
    - ok_mean_len:      mean word length within [min_mean_len, max]
    - ok_bullets:       < max_bullet_line_frac of lines start with a
                        bullet ('-' or '*')
    - ok_ellipsis:      < max_ellipsis_line_frac of lines end in '...'
    - ok_alpha:         > min_alpha_word_frac of words contain a letter
    - ok_stopwords:     >= min_stopword_hits DISTINCT stopwords appear
    - ok_repetition:    duplicate-line fraction <= max_dup_line_frac

    ``keep`` is their conjunction. Returns the flags too, so a caller
    can count how many documents each rule drops.
    """
    w = words_col(F.col(text_col))
    n = F.size(w)
    total_chars = F.aggregate(
        F.transform(w, lambda x: F.length(x)), F.lit(0), lambda a, x: a + x
    )
    # n = 0 guards: empty docs fail ok_n_words anyway; keep the ratio
    # expressions finite so the flags stay boolean, never NULL/NaN
    mean_len = F.when(n > 0, total_chars.cast("double") / n).otherwise(F.lit(0.0))
    lines = F.filter(F.split(F.col(text_col), "\n"), lambda x: x != F.lit(""))
    n_lines = F.size(lines)
    bullet_frac = F.when(
        n_lines > 0,
        F.size(
            F.filter(
                lines,
                lambda x: x.startswith("-") | x.startswith("*"),
            )
        ).cast("double")
        / n_lines,
    ).otherwise(F.lit(0.0))
    ellipsis_frac = F.when(
        n_lines > 0,
        F.size(F.filter(lines, lambda x: x.endswith("..."))).cast("double")
        / n_lines,
    ).otherwise(F.lit(0.0))
    dup_line_frac = F.when(
        n_lines > 0,
        F.lit(1.0) - F.size(F.array_distinct(lines)).cast("double") / n_lines,
    ).otherwise(F.lit(0.0))
    alpha_frac = F.when(
        n > 0,
        F.size(F.filter(w, lambda x: x.rlike("[A-Za-z]"))).cast("double") / n,
    ).otherwise(F.lit(0.0))
    stop_arr = F.array([F.lit(s) for s in EN_STOPWORDS])
    stop_hits = F.size(F.array_intersect(F.array_distinct(w), stop_arr))

    flags = {
        "ok_n_words": (n >= min_words) & (n <= max_words),
        "ok_mean_len": (mean_len >= min_mean_len) & (mean_len <= max_mean_len),
        "ok_bullets": bullet_frac < max_bullet_line_frac,
        "ok_ellipsis": ellipsis_frac < max_ellipsis_line_frac,
        "ok_alpha": alpha_frac > min_alpha_word_frac,
        "ok_stopwords": stop_hits >= min_stopword_hits,
        "ok_repetition": dup_line_frac <= max_dup_line_frac,
    }
    keep = None
    for c in flags.values():
        keep = c if keep is None else keep & c
    return df.select(
        id_col,
        n.cast("long").alias("n_words"),
        *[c.alias(name) for name, c in flags.items()],
        keep.alias("keep"),
    )
