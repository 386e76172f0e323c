"""Text-analysis column functions for large-scale corpus pipelines.

All pure Column expressions (JVM-side, codegen-friendly) — no Python UDFs: at
100 TB a per-row Python tokenizer is the difference between hours and days.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

# A small multilingual stopword sample per language for the n-gram/stopword
# language-ID heuristic. Public common words only.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it", "that", "for"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "por", "con", "los"],
    "fr": ["le", "la", "de", "et", "les", "des", "un", "une", "du", "est"],
    "de": ["der", "die", "und", "das", "ist", "von", "mit", "den", "ein", "zu"],
}

TOKEN_PATTERN = r"[A-Za-z0-9_]+"
# BPE-ish word-piece pattern: words, numbers, or single non-space symbols —
# approximates subword tokenizer pre-splitting (GPT-2-style regex, public).
BPE_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\x0B\f\r]"  # explicit Java-\s set: RE2 \s omits \x0B — oracles spell the same class


def tokens(text: Column) -> Column:
    """Lower-cased word tokens."""
    return F.filter(
        F.split(F.lower(text), r"[^a-z0-9_]+"), lambda t: t != ""
    )


def token_count(text: Column) -> Column:
    """Whitespace token count."""
    return F.size(
        F.filter(F.split(text, r"[ \t\n\x0B\f\r]+"), lambda t: t != "")
    )  # explicit Java-\s set (see BPE_PATTERN note)


def bpe_token_count(text: Column) -> Column:
    """Count of BPE-ish pieces (regex pre-tokenization approximation)."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_PATTERN), 0))


def punct_ratio(text: Column) -> Column:
    stripped = F.regexp_replace(text, r"[^\p{Punct}]", "")
    return F.length(stripped) / F.greatest(F.length(text), F.lit(1))


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality heuristic: length band + low punctuation +
    reasonable mean word length. Deterministic and JVM-only."""
    n_tok = token_count(text)
    mean_word = F.length(text) / F.greatest(n_tok, F.lit(1))
    len_ok = (n_tok >= 10) & (n_tok <= 100000)
    word_ok = (mean_word >= 2.0) & (mean_word <= 12.0)
    p = punct_ratio(text)
    return (
        len_ok.cast("double") * 0.4
        + word_ok.cast("double") * 0.3
        + (p < 0.2).cast("double") * 0.3
    )


def lang_id(text: Column) -> Column:
    """Stopword-voting language ID over the supported set; 'und' if no votes.

    Convenience form: tokenizes inline, which repeats the tokenizer subtree
    once per language vote inside the single expression tree (no common-
    subexpression reuse for interpreted HOFs). Hot paths should project the
    token array once and call lang_id_from_tokens — measured ~4x at sf1
    (the mapper.py let-binding discipline)."""
    return lang_id_from_tokens(tokens(text))


def lang_id_from_tokens(toks: Column) -> Column:
    """lang_id over a PRE-PROJECTED token array column — the staged form:
    the tokenizer runs once per row and all four language votes read the
    same attribute."""
    scores = []
    for lang, words in STOPWORDS.items():
        sw = F.array(*[F.lit(w) for w in words])
        scores.append(
            F.struct(
                F.size(F.filter(toks, lambda t: F.array_contains(sw, t))).alias("hits"),
                F.lit(lang).alias("lang"),
            )
        )
    best = F.array_max(F.array(*scores))
    return F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und"))


def _gram_join(toks: Column, n: int) -> Column:
    """All positional n-grams of a token array via n shifted slices +
    arrays_zip — O(n * len) with exactly n array copies per doc. The obvious
    per-index formulation (transform over indices, slice(toks, i+1, n) inside
    the lambda) is O(len) interpreted slice materializations per doc and
    measured 25-40x slower at corpus scale (10 s vs 0.4 s for the trigram
    explode of 5k docs at sf0.1) — HOF lambdas are CodegenFallback, so every
    inner slice is an interpreted ArrayData copy."""
    m = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    z = F.arrays_zip(*[F.slice(toks, i + 1, m) for i in range(n)])
    return F.transform(z, lambda s: F.concat_ws(" ", *[s[str(i)] for i in range(n)]))


def pos_ngrams(text: Column, n: int = 3) -> Column:
    """Positional (non-distinct) word n-grams — the repetition-analysis unit:
    duplicate-gram fractions need every occurrence, unlike the distinct
    shingle set MinHash uses. Empty for docs shorter than n tokens."""
    toks = tokens(text)
    return F.when(F.size(toks) >= n, _gram_join(toks, n)).otherwise(
        F.array().cast("array<string>")
    )


def fingerprint(text: Column) -> Column:
    """Deterministic 64-bit document fingerprint (normalized-token rolling hash):
    xxhash64 over the canonical token stream — key for exact near-layout dedup."""
    return F.xxhash64(F.array_join(tokens(text), " "))


def shingles(text: Column, n: int = 3) -> Column:
    """Word n-gram shingle set (distinct), the MinHash input unit. Built via
    the linear shifted-slice zip (_gram_join), not per-index slicing — see the
    measurement note there."""
    toks = tokens(text)
    return F.array_distinct(
        F.when(F.size(toks) >= n, _gram_join(toks, n)).otherwise(
            F.array(F.array_join(toks, " "))
        )
    )


# PII patterns chosen to parse identically under Java regex (Spark) and RE2
# (DuckDB): character classes + bounded repetition only, no lookaround.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\(?[0-9]{3}\)?[-. ][0-9]{3}[-. ][0-9]{4}",
    "ip": r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}",
}


def pii_count(text: Column, kind: str) -> Column:
    """Occurrences of one PII pattern — counted on the ORIGINAL text, before
    any redaction reshapes it."""
    return F.size(F.regexp_extract_all(text, F.lit(PII_PATTERNS[kind]), 0))


def redact_pii(text: Column) -> Column:
    """Scrub emails, then phones, then IPs with typed placeholder tokens.
    Order matters and is part of the contract: the email pattern can span
    digit runs a phone/IP pattern would otherwise claim, and the placeholder
    tokens are digit-free so later passes never match inside earlier ones.
    Pure JVM regexp_replace chain — the scan-stage scrub a governance pipeline
    runs over every ingested document."""
    out = F.regexp_replace(text, PII_PATTERNS["email"], "<EMAIL>")
    out = F.regexp_replace(out, PII_PATTERNS["phone"], "<PHONE>")
    return F.regexp_replace(out, PII_PATTERNS["ip"], "<IP>")
