"""Text-analysis column functions for the LLM-data-pipeline surface.

All pure Catalyst expressions (no UDFs): tokenization, quality
features, language-ID scoring, fingerprinting.
Designed so the same logic is expressible in ANSI SQL for the DuckDB
oracle — deterministic, engine-portable (md5-based hashing only).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny stopword list used for quality scoring + language ID; chosen to be
# unambiguous per language for the heuristic scorer.
STOPWORDS_EN = ("the", "and", "of", "to", "a", "in", "is", "for", "on", "with")


def normalize_text(col: Column) -> Column:
    """Lowercase, collapse whitespace, strip non-alphanumerics (keep spaces)."""
    lowered = F.lower(col)
    cleaned = F.regexp_replace(lowered, r"[^a-z0-9\s]", " ")
    return F.trim(F.regexp_replace(cleaned, r"\s+", " "))


def tokenize_ws(col: Column) -> Column:
    """Whitespace tokenizer → array<string> (empty tokens removed)."""
    return F.filter(F.split(F.trim(col), r"\s+"), lambda t: t != "")


def token_count(col: Column) -> Column:
    return F.size(tokenize_ws(col))


# GPT-2-style pretokenizer, restricted to the lookahead-free subset so
# RE2 (DuckDB) and Java regex (Spark) agree token-for-token: a token is
# a letter run, a digit run, or a punctuation run, each with an
# optional single leading space.  The real BPE merge table is a model
# artifact; this pretokenization is what the token-budget accounting
# of a training pipeline needs (counts track BPE counts closely).
BPE_ISH_PATTERN = r" ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\s]+"


def tokenize_bpe_ish(col: Column) -> Column:
    """BPE-style pretokenizer → array<string> (JVM regex, no UDF)."""
    return F.regexp_extract_all(col, F.lit(BPE_ISH_PATTERN), 0)


def fingerprint_md5(col: Column) -> Column:
    """Document fingerprint: md5 of sorted unique normalized tokens.

    Robust to token order / duplication — the classic "fingerprint"
    dedup key (key collapsing), portable to any SQL engine with md5.
    """
    toks = F.array_sort(F.array_distinct(tokenize_ws(normalize_text(col))))
    return F.md5(F.concat_ws(" ", toks))


def quality_features(col: Column) -> dict[str, Column]:
    """Quality-scoring feature columns for a text column.

    Returns dict of named columns: n_chars, n_tokens, mean_token_len,
    punct_ratio, digit_ratio, stopword_ratio, upper_ratio.
    """
    toks = tokenize_ws(col)
    n_tokens = F.size(toks)
    n_chars = F.length(col)
    safe_chars = F.greatest(n_chars, F.lit(1))
    safe_tokens = F.greatest(n_tokens, F.lit(1))
    n_punct = n_chars - F.length(F.regexp_replace(col, r"[^\w\s]", ""))
    n_digit = n_chars - F.length(F.regexp_replace(col, r"[0-9]", ""))
    n_upper = n_chars - F.length(F.regexp_replace(col, r"[A-Z]", ""))
    n_stop = F.size(F.filter(toks, lambda t: F.lower(t).isin(*STOPWORDS_EN)))
    return {
        "n_chars": n_chars.cast("long"),
        "n_tokens": n_tokens.cast("long"),
        "mean_token_len": (
            (n_chars - (n_tokens - 1)).cast("double") / safe_tokens.cast("double")
        ),
        "punct_ratio": n_punct.cast("double") / safe_chars.cast("double"),
        "digit_ratio": n_digit.cast("double") / safe_chars.cast("double"),
        "stopword_ratio": n_stop.cast("double") / safe_tokens.cast("double"),
        "upper_ratio": n_upper.cast("double") / safe_chars.cast("double"),
    }


# Language-ID heuristic: per-language marker-word lists; score = fraction
# of tokens that are markers; argmax wins (ties broken lexicographically).
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "is", "with"),
    "de": ("der", "und", "die", "das", "mit"),
    "es": ("el", "la", "los", "que", "con"),
    "fr": ("le", "la", "les", "des", "avec"),
    "zh": ("de5", "shi4", "zai4", "he2", "le5"),
}


def langid_scores(col: Column) -> dict[str, Column]:
    """Per-language marker-hit-ratio scores (n-gram-free heuristic).

    r14 perf shape: marker hits are counted with ONE codegen
    ``regexp_count`` per language over the normalized text instead of
    five interpreted higher-order array filters over a token array
    (hot per-element work — the CLAUDE.md HOF rule).  Counts are
    identical: ``normalize_text`` yields space-separated ``[a-z0-9]``
    runs, so a whole-token occurrence of marker ``w`` is exactly a
    ``\\bw\\b`` regex match (no marker contains a non-word char, so
    the boundary cannot fire inside a token).  The token-count
    denominator comes from the collapsed single-space form:
    ``spaces + 1`` when non-empty — byte-equal to
    ``size(tokenize_ws(norm))`` because the normalized string has no
    leading/trailing/double spaces.  NULL text: every count is NULL →
    every score NULL → langid_best falls through to 'und', same as
    the array shape.
    """
    norm = normalize_text(col)
    n_toks = F.when(norm == "", F.lit(0)).otherwise(
        F.length(norm) - F.length(F.replace(norm, F.lit(" "), F.lit(""))) + 1
    )
    safe = F.greatest(n_toks, F.lit(1))
    return {
        lang: F.regexp_count(
            norm, F.lit(r"\b(" + "|".join(markers) + r")\b")
        ).cast("double")
        / safe.cast("double")
        for lang, markers in LANG_MARKERS.items()
    }


ROLLING_BASE = 257
ROLLING_MOD = 1_000_000_007


def rolling_hashes(df, text_col: str, id_col: str, k: int = 8):
    """Per-document polynomial rolling hashes of char k-grams.

    hash(i) = Σ_j ord(s[i+j]) · B^j  (mod P) over the normalized text —
    the Rabin-Karp fingerprint family.  Plan: explode positions to rows
    (one shuffle-free Generate), then the k ascii terms are plain
    column arithmetic in codegen — NOT a higher-order-function fold
    (interpreted, measured slow).  Returns (id, pos, rhash).
    Deterministic and reproducible in ANSI SQL (ORD + arithmetic).
    """
    from pyspark.sql import functions as F

    s = normalize_text(F.col(text_col))
    base = df.select(
        F.col(id_col).alias("id"), s.alias("__s"), F.length(s).alias("__n")
    ).filter(F.col("__n") >= k)
    pos = base.select(
        "id",
        "__s",
        F.explode(F.sequence(F.lit(1), F.col("__n") - (k - 1))).alias("pos"),
    )
    terms = [
        # ascii() is int32: cast before multiplying by ~1e9 constants
        # or ANSI mode raises ARITHMETIC_OVERFLOW
        F.ascii(F.col("__s").substr(F.col("pos") + j, F.lit(1))).cast("long")
        * F.lit(pow(ROLLING_BASE, j, ROLLING_MOD))
        for j in range(k)
    ]
    total = terms[0]
    for t in terms[1:]:
        total = total + t
    return pos.select("id", "pos", F.pmod(total, F.lit(ROLLING_MOD)).alias("rhash"))


def langid_best(col: Column) -> Column:
    """Argmax language (lexicographic tiebreak); 'und' when all scores 0."""
    scores = langid_scores(col)
    pairs = F.array(
        *[
            F.struct(score.alias("score"), F.lit(lang).alias("lang"))
            for lang, score in sorted(scores.items())
        ]
    )
    best = F.array_max(pairs)
    return F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("und"))
