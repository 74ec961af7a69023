"""Text-analysis column functions for training-data pipelines.

All hot-path functions are built-in Spark SQL expressions (JVM-side,
whole-stage-codegen) — no Python UDFs: at 100 TB a row-at-a-time UDF on the
documents table is the difference between hours and days. The operators
composed from these live in ``dedup/`` and the registry.

Function surface: whitespace tokenization (plus the BPE-ish split pattern
the corpus queries use), quality metrics (length/ratio features), md5
fingerprinting, and a rule-based language-ID heuristic (script ranges +
stopword voting).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = [
    "tokens",
    "token_count",
    "fingerprint_md5",
    "rolling_fingerprint",
    "clean_text",
    "redact_pii",
    "repetition_ratio",
    "quality_features",
    "lang_id",
]

# A BPE-ish pre-tokenizer: word pieces or single non-space punctuation —
# the classic GPT-2-style split, minus byte fallback (regex kept portable
# across Spark/DuckDB/RE2 dialects).
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def tokens(col: Column) -> Column:
    """Whitespace tokenization of already-clean text (array<string>)."""
    return F.split(F.trim(col), r"\s+")


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


def fingerprint_md5(col: Column) -> Column:
    """Deterministic document fingerprint: md5 of whitespace-normalized,
    lowercased text. md5 (not xxhash64) so external engines can recompute it
    byte-for-byte — the exact-dedup key."""
    return F.md5(F.lower(F.regexp_replace(F.trim(col), r"\s+", " ")))


def clean_text(col: Column) -> Column:
    """Interchange-grade text cleanup: strip HTML-ish tags, collapse
    whitespace runs, trim. Patterns are deliberately RE2-safe (no
    backrefs/lookaround) so external engines running the same regexes get
    byte-identical output — cleanup must be reproducible wherever the
    corpus is reprocessed."""
    no_tags = F.regexp_replace(col, r"<[^>]*>", " ")
    return F.trim(F.regexp_replace(no_tags, r"\s+", " "))


# Conservative, RE2-safe PII patterns (emails, international-ish phone
# numbers). Conservative on purpose: a redaction pass wants precision —
# recall comes from stacking more patterns, not loosening these.
EMAIL_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_PATTERN = r"\+[0-9]{1,3}[- ]?[0-9]{3}[- ]?[0-9]{3,4}[- ]?[0-9]{3,4}"


def redact_pii(col: Column) -> Column:
    """Replace emails/phones with typed placeholder tokens (not deletion —
    downstream tokenization keeps sentence structure)."""
    no_email = F.regexp_replace(col, EMAIL_PATTERN, "<EMAIL>")
    return F.regexp_replace(no_email, PHONE_PATTERN, "<PHONE>")


def repetition_ratio(col: Column, n: int = 2) -> Column:
    """Share of duplicate n-grams: 1 − distinct/total over token n-grams —
    the standard repetition-quality signal (boilerplate and degenerate
    generations score high). Pure count arithmetic → engine-reproducible.

    The tokenize runs once behind a single-element transform (a positional
    lambda referencing a raw split expression re-evaluates the regex split
    per sequence element — O(len²) per doc; binding it to the outer
    lambda's argument evaluates it once per row)."""
    return F.element_at(
        F.transform(
            F.array(tokens(col)),
            lambda tok: _repetition_from_tokens(tok, n),
        ),
        1,
    )


def _repetition_from_tokens(tok: Column, n: int) -> Column:
    total = F.greatest(F.size(tok) - (n - 1), F.lit(1))
    grams = F.transform(
        F.sequence(F.lit(1), total),
        lambda i: F.concat_ws(" ", F.slice(tok, i, n)),
    )
    return F.round(
        F.lit(1.0) - F.size(F.array_distinct(grams)).cast("double") / total.cast("double"),
        6,
    )


def rolling_fingerprint(col: Column, base: int = 31, mod: int = 2147483647) -> Column:
    """Polynomial rolling-hash fingerprint: fold (acc·base + codepoint) mod M
    over the characters — the classic Rabin-Karp document signature.

    Pure codegen'd expression (sequence → per-char codepoint → aggregate
    fold); mod 2³¹−1 keeps every intermediate within long range (acc < 2³¹,
    acc·31 + 127 < 2³⁶). Deterministic and recomputable by external SQL
    engines (DuckDB: list_reduce over the same codepoint list), unlike
    seeded xxhash. Empty/null-safe: empty text fingerprints to 0.
    """
    codes = F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(col), F.lit(1))),
        lambda i: F.ascii(F.substr(col, i, F.lit(1))).cast("long"),
    )
    h = F.aggregate(
        codes, F.lit(0).cast("long"), lambda acc, c: (acc * base + c) % mod
    )
    return (
        F.when(col.isNull(), F.lit(None).cast("long"))
        .when(F.length(col) > 0, h)
        .otherwise(F.lit(0).cast("long"))
    )


def quality_features(col: Column) -> dict[str, Column]:
    """Length/ratio quality signals used for corpus filtering.

    Returns named expressions; callers select the ones they need. All are
    deterministic arithmetic on counts, so an external SQL engine reproduces
    them exactly (division on identical operands is IEEE-identical).
    """
    tok = tokens(col)
    n_tok = F.size(tok)
    n_chars = F.length(col)
    alpha_chars = F.length(F.regexp_replace(col, r"[^A-Za-z]", ""))
    punct_chars = F.length(F.regexp_replace(col, r"[^.,;:!?'\"()\[\]{}-]", ""))
    return {
        "n_chars": n_chars.cast("long"),
        "n_tokens": n_tok.cast("long"),
        "n_distinct_tokens": F.size(F.array_distinct(tok)).cast("long"),
        "type_token_ratio": F.round(
            F.size(F.array_distinct(tok)).cast("double") / n_tok.cast("double"), 6
        ),
        "mean_token_len": F.round(
            F.aggregate(
                tok, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
            ).cast("double")
            / n_tok.cast("double"),
            6,
        ),
        # greatest(n_chars, 1): an empty/NULL text has n_chars = 0 and ANSI
        # double division throws DIVIDE_BY_ZERO — one empty doc must not
        # kill the corpus job (the oracle twins guard identically, so both
        # engines report ratio 0 for empty docs)
        "alpha_ratio": F.round(
            alpha_chars.cast("double")
            / F.greatest(n_chars, F.lit(1)).cast("double"),
            6,
        ),
        "punct_ratio": F.round(
            punct_chars.cast("double")
            / F.greatest(n_chars, F.lit(1)).cast("double"),
            6,
        ),
    }


# --- language identification (rule-based, script ranges + stopword voting) --

# Minimal, high-precision stopword sets for latin-script voting. Sets are
# disjoint where possible so a single hit is a strong vote.
_STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "was", "with"],
    "es": ["el", "la", "los", "las", "una", "por", "con", "para", "es", "como"],
    "fr": ["le", "les", "des", "une", "est", "dans", "pour", "que", "qui", "avec"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "mit", "ein", "eine", "auf"],
    "pt": ["os", "um", "uma", "com", "não", "por", "mais", "dos", "como", "mas"],
    "it": ["il", "di", "che", "non", "per", "sono", "della", "con", "una", "più"],
}

# Script-range rules checked before stopword voting, in precedence order:
# (lang, single-char class pattern, char-ratio threshold). Shared with the
# generated DuckDB oracle so both engines evaluate the identical rule table.
_SCRIPT_RULES = [
    ("ja", r"[぀-ヿ]", 0.05),
    ("zh", r"[一-鿿]", 0.10),
    ("ko", r"[가-힯]", 0.10),
    ("ru", r"[Ѐ-ӿ]", 0.10),
    ("ar", r"[؀-ۿ]", 0.10),
    ("hi", r"[ऀ-ॿ]", 0.10),
    ("el", r"[Ͱ-Ͽ]", 0.10),
]


def lang_id(col: Column) -> Column:
    """Heuristic language ID: script-range detection first (CJK, kana,
    hangul, cyrillic, arabic, devanagari, greek), then stopword voting among
    latin-script languages; 'und' when nothing matches.

    Entirely JVM-side: regexp_count for script ranges, array_intersect for
    votes — O(tokens) per row, no shuffle, no UDF.
    """
    n_chars = F.greatest(F.length(col), F.lit(1))

    def ratio(pattern: str) -> Column:
        return F.regexp_count(col, F.lit(pattern)).cast("double") / n_chars

    tok = F.array_distinct(tokens(F.lower(col)))
    votes = {
        lang: F.size(F.array_intersect(tok, F.array(*[F.lit(w) for w in words])))
        for lang, words in _STOPWORDS.items()
    }
    best_latin = F.greatest(*votes.values())
    latin_pick = F.lit("und")
    # later entries win ties only if strictly greater → deterministic order
    for lang in reversed(list(_STOPWORDS)):
        latin_pick = F.when(votes[lang] == best_latin, F.lit(lang)).otherwise(latin_pick)

    out = None
    for lang, pattern, threshold in _SCRIPT_RULES:
        cond = ratio(pattern) > threshold
        out = F.when(cond, F.lit(lang)) if out is None else out.when(cond, F.lit(lang))
    return out.when(best_latin > 0, latin_pick).otherwise(F.lit("und"))
