"""Text-analysis column functions for the documents corpus.

All native column expressions (split / higher-order functions / regexp) —
the scale path for per-document scoring over 100 TB of text. The shared
hashing primitive is md5-prefix -> integer, chosen because both Spark
(``conv(substr(md5(s),1,k),16,10)``) and DuckDB (``('0x'||substr(md5(s),1,k))
::BIGINT``) compute it identically, making every operator oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

HASH_PRIME = 1_000_000_007  # < 2^30, so a*h+b stays far from int64 overflow

# tiny per-language stopword profiles for the heuristic language classifier
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "that", "it", "for"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "por", "con", "los"),
    "de": ("der", "die", "das", "und", "ist", "von", "mit", "den", "nicht", "ein"),
    "fr": ("le", "la", "de", "et", "les", "des", "est", "une", "dans", "que"),
    "zh": ("的", "是", "了", "在", "和", "有", "我", "不", "这", "他"),
}

# BPE-ish token pattern: word pieces, numbers, or single non-space symbols
TOKEN_PATTERN = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"


def words(text: Column) -> Column:
    """Whitespace tokenization (empty strings filtered out)."""
    return F.filter(F.split(text, r"\s+"), lambda w: w != "")


def hash64(s: Column, *, hex_chars: int = 8) -> Column:
    """Deterministic positive int hash from an md5 prefix (cross-engine)."""
    return F.conv(F.substring(F.md5(s), 1, hex_chars), 16, 10).cast("long")


def word_hashes(text: Column) -> Column:
    """array<long> of per-word hashes mod HASH_PRIME."""
    return F.transform(words(text), lambda w: hash64(w) % HASH_PRIME)


def shingles_of(ws: Column, n: int = 3) -> Column:
    """Word n-gram shingles from an already-tokenized word-array column.

    ``ws`` should be a materialized column reference (``.select(words(text)
    .alias("ws"))`` first), not an inline ``words(text)`` expression: an
    inline expression is substituted into the ``transform`` lambda and
    re-tokenizes the text once per shingle — O(words^2) regex work per
    document (measured 7.7x slower at sf0.1)."""
    k = F.size(ws) - (n - 1)
    return F.when(k <= 0, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), k),
            lambda i: F.concat_ws(" ", F.slice(ws, i, n)),
        )
    )


def token_count(text: Column) -> Column:
    """BPE-ish token count via regexp (SURVEY/north-star token counting)."""
    return F.regexp_count(text, F.lit(TOKEN_PATTERN)).cast("long")


def fingerprint(text: Column) -> Column:
    """Order-sensitive document fingerprint: polynomial rolling hash over the
    word-hash sequence, ``h = (h*31 + wh) % p`` — a content signature that is
    stable across partitioning (unlike any builtin hash of concatenation,
    this is oracle-computable in SQL as a list fold)."""
    return F.aggregate(
        word_hashes(text),
        F.lit(0).cast("long"),
        lambda acc, x: (acc * 31 + x) % HASH_PRIME,
    )


def stopword_ratio(text: Column, lang: str = "en") -> Column:
    ws = words(text)
    profile = F.array(*[F.lit(w) for w in LANG_PROFILES[lang]])
    n = F.size(ws)
    return F.when(n == 0, F.lit(0.0)).otherwise(
        F.size(F.filter(ws, lambda w: F.array_contains(profile, F.lower(w)))) / n.cast("double")
    )


def lang_scores(text: Column) -> dict[str, Column]:
    """Per-language stopword-hit fraction (the n-gram-heuristic classifier)."""
    return {lang: stopword_ratio(text, lang) for lang in LANG_PROFILES}


def detect_lang(text: Column) -> Column:
    """argmax over lang_scores with deterministic lexicographic tiebreak;
    'und' (undetermined) when no profile hits at all."""
    scores = lang_scores(text)
    best_lang, best_score = F.lit("und"), F.lit(0.0)
    # iterate in reverse-sorted order so ties resolve to the alphabetically
    # first language, deterministically
    for lang in sorted(scores, reverse=True):
        s = scores[lang]
        cond = s >= best_score  # >= : later (alphabetically earlier) wins ties
        best_lang = F.when((s > 0) & cond, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(cond, s).otherwise(best_score)
    return best_lang


def quality_features(text: Column) -> dict[str, Column]:
    """Length/punctuation/stopword quality signals for corpus filtering."""
    ws = words(text)
    n_chars = F.length(text).cast("long")
    n_words = F.size(ws).cast("long")
    return {
        "n_chars": n_chars,
        "n_words": n_words,
        "avg_word_len": F.when(n_words == 0, F.lit(0.0)).otherwise(
            F.aggregate(ws, F.lit(0.0), lambda acc, w: acc + F.length(w))
            / n_words.cast("double")
        ),
        "punct_ratio": F.when(n_chars == 0, F.lit(0.0)).otherwise(
            F.length(F.regexp_replace(text, r"[^!-/:-@\[-`{-~]", ""))
            / n_chars.cast("double")
        ),
        "stopword_ratio_en": stopword_ratio(text, "en"),
        "alpha_ratio": F.when(n_chars == 0, F.lit(0.0)).otherwise(
            F.length(F.regexp_replace(text, r"[^a-zA-Z]", "")) / n_chars.cast("double")
        ),
    }


# the 8 "stop words" the Gopher quality rules require >= 2 of (Rae et al.
# 2021, "Scaling Language Models: ... Gopher", App. A1.1 — public paper)
GOPHER_STOPWORDS: tuple[str, ...] = (
    "the", "be", "to", "of", "and", "that", "have", "with",
)


def lines_of(text: Column) -> Column:
    """Non-empty trimmed lines (the unit of the line-level corpus filters)."""
    return F.filter(
        F.transform(F.split(text, "\n"), lambda l: F.trim(l)),
        lambda l: l != "",
    )


def gopher_features(text: Column) -> dict[str, Column]:
    """The Gopher corpus-quality rule set as native columns — word count,
    mean word length, symbol ratios, bullet/ellipsis line fractions, alpha
    word fraction, stopword presence, and the conjunctive ``gopher_pass``
    flag. Per-row expressions only: zero shuffles, scales linearly."""
    ws = words(text)
    lower_ws = F.transform(ws, lambda w: F.lower(w))
    n_words = F.size(ws).cast("long")
    lines = lines_of(text)
    n_lines = F.size(lines)
    mean_word_len = F.when(n_words == 0, F.lit(0.0)).otherwise(
        F.aggregate(ws, F.lit(0.0), lambda acc, w: acc + F.length(w))
        / n_words.cast("double")
    )
    n_hash = F.length(text) - F.length(F.replace(text, F.lit("#"), F.lit("")))
    n_ellipsis = (
        (F.length(text) - F.length(F.replace(text, F.lit("..."), F.lit("")))) / 3
    ).cast("long")
    symbol_word_ratio = F.when(n_words == 0, F.lit(0.0)).otherwise(
        (n_hash + n_ellipsis) / n_words.cast("double")
    )
    frac_alpha_words = F.when(n_words == 0, F.lit(0.0)).otherwise(
        F.size(F.filter(ws, lambda w: w.rlike("[a-zA-Z]"))) / n_words.cast("double")
    )
    n_stop_present = sum(
        F.array_contains(lower_ws, s).cast("int") for s in GOPHER_STOPWORDS
    ).cast("long")
    bullet_line_frac = F.when(n_lines == 0, F.lit(0.0)).otherwise(
        F.size(F.filter(lines, lambda l: F.substring(l, 1, 1).isin("-", "*", "•")))
        / n_lines.cast("double")
    )
    ellipsis_line_frac = F.when(n_lines == 0, F.lit(0.0)).otherwise(
        F.size(F.filter(lines, lambda l: l.endswith("...")))
        / n_lines.cast("double")
    )
    return {
        "n_words": n_words,
        "mean_word_len": mean_word_len,
        "symbol_word_ratio": symbol_word_ratio,
        "frac_alpha_words": frac_alpha_words,
        "n_stop_present": n_stop_present,
        "bullet_line_frac": bullet_line_frac,
        "ellipsis_line_frac": ellipsis_line_frac,
        "gopher_pass": (
            n_words.between(50, 100_000)
            & mean_word_len.between(3.0, 10.0)
            & (symbol_word_ratio <= 0.1)
            & (bullet_line_frac <= 0.9)
            & (ellipsis_line_frac <= 0.3)
            & (frac_alpha_words >= 0.8)
            & (n_stop_present >= 2)
        ),
    }


def c4_features(text: Column) -> dict[str, Column]:
    """The C4 line/document cleaning rules (Raffel et al. 2020 §2.2, public)
    as native columns: a line is KEPT iff it ends in terminal punctuation
    (. ! ? \"), has >= 5 words, and doesn't mention javascript; a document
    is kept iff it has no 'lorem ipsum', no '{', and >= 3 kept lines."""
    lines = lines_of(text)

    def _kept(l: Column) -> Column:
        line_words = F.filter(F.split(l, r"\s+"), lambda w: w != "")
        return (
            F.substring(l, -1, 1).isin(".", "!", "?", '"')
            & (F.size(line_words) >= 5)
            & ~F.contains(F.lower(l), F.lit("javascript"))
        )

    kept = F.filter(lines, _kept)
    n_kept = F.size(kept).cast("long")
    has_lorem = F.contains(F.lower(text), F.lit("lorem ipsum"))
    has_brace = F.contains(text, F.lit("{"))
    return {
        "n_lines": F.size(lines).cast("long"),
        "n_kept_lines": n_kept,
        "kept_chars": F.aggregate(
            kept, F.lit(0).cast("long"), lambda acc, l: acc + F.length(l)
        ),
        "has_lorem": has_lorem,
        "has_brace": has_brace,
        "c4_keep_doc": ~has_lorem & ~has_brace & (n_kept >= 3),
    }
