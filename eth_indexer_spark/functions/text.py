"""Text-analysis column functions for training-data pipelines: token
counting, quality scoring, language identification, fingerprinting.

All pure Column expressions (codegen'd, no UDF), each designed to be
reproducible in ANSI SQL so the DuckDB oracle can verify them exactly:
counts are integers, ratios are ROUND(x, 4) doubles.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col) -> Column:
    return F.col(col) if isinstance(col, str) else col


def token_count(col) -> Column:
    """Whitespace token count."""
    return F.size(F.split(_c(col), "\\s+"))


def word_token_count(col) -> Column:
    """BPE-ish subword proxy: runs of letters, runs of digits, or single
    non-alphanumeric-non-space characters each count as one token."""
    return F.size(F.regexp_extract_all(_c(col), F.lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"), 0))


def char_count(col) -> Column:
    return F.length(_c(col))


def alpha_ratio(col) -> Column:
    alpha = F.size(F.regexp_extract_all(_c(col), F.lit("[a-zA-Z]"), 0))
    return F.round(alpha / F.length(_c(col)), 4)


_EN_STOPWORDS = ("the", "a", "and", "of", "to", "in", "is", "it", "that", "for")


def stopword_ratio(col, stopwords: tuple[str, ...] = _EN_STOPWORDS) -> Column:
    """Stopword tokens / total tokens, rounded to 4."""
    words = F.split(F.lower(_c(col)), "\\s+")
    stops = F.size(F.filter(words, lambda w: w.isin(*stopwords)))
    return F.round(stops / F.size(words), 4)


def quality_score(col) -> Column:
    """Composite [0,1] quality heuristic: favors mid-length documents with
    some stopwords and mostly alphabetic content — the standard cheap
    pre-filter shape for web-scale corpora. Deterministic and
    oracle-reproducible; weights are engineering choices, not science.

    Rounded to 5 decimals, not 4: every term lies exactly on the 1e-5 grid
    (0.4×(t/64) is a 0.00625 multiple, the 4dp ratios ×0.4/×0.2 are 1e-5
    multiples), so rounding at 5 is noise-removal with no half-boundary —
    engines with different half-rounding modes agree bit-exactly. Rounding
    at 4 hits exact halves systematically."""
    t = token_count(col)
    len_score = F.least(t / F.lit(64.0), F.lit(1.0))
    return F.round(
        0.4 * len_score + 0.4 * alpha_ratio(col) + 0.2 * F.least(stopword_ratio(col) * 5, F.lit(1.0)),
        5,
    )


_LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "is", "to"),
    "fr": ("le", "la", "et", "les", "des"),
    "es": ("el", "la", "los", "que", "de"),
    "de": ("der", "die", "und", "das", "ist"),
}


def lang_id(col) -> Column:
    """N-gram-free heuristic language ID: count marker stopwords per
    language; CJK characters trump all (→ 'zh'); ties/no-marker → 'und'.
    Deterministic argmax with fixed language priority order."""
    c = _c(col)
    words = F.split(F.lower(c), "\\s+")
    counts = {
        lang: F.size(F.filter(words, lambda w: w.isin(*marks)))
        for lang, marks in _LANG_MARKERS.items()
    }
    cjk = F.size(F.regexp_extract_all(c, F.lit("[\\x{4e00}-\\x{9fff}]"), 0))
    best = F.greatest(*counts.values())
    expr = F.when(cjk > 0, "zh").when(best == 0, "und")
    for lang in _LANG_MARKERS:  # fixed priority: en, fr, es, de
        expr = expr.when(counts[lang] == best, lang)
    return expr.otherwise("und")


#: PII scrub rules applied in order: (kind, regex, replacement token). The
#: patterns deliberately use only RE2∩Java regex constructs (char classes,
#: bounded repeats, \b, non-capturing groups) so Spark and the ANSI-SQL
#: oracle agree byte-for-byte. Order matters: IPs are scrubbed before the
#: phone rule so a dotted quad can't half-match as a dotted phone number.
PII_RULES: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\b\d{3}[-. ]\d{3}[-. ]\d{4}\b", "<PHONE>"),
)


def scrub_pii(col) -> Column:
    """Redact emails, IPv4 addresses, and US-style phone numbers with typed
    placeholder tokens — the standard pre-training privacy scrub (the same
    regex-tier approach as BigScience ROOTS / Dolma; ML-based NER scrubbing
    sits behind the same column contract). Chained ``regexp_replace``
    (global, codegen'd, no UDF): cost is one map-side pass over the text."""
    out = _c(col)
    for _, pat, repl in PII_RULES:
        out = F.regexp_replace(out, pat, repl)
    return out


def pii_count(col, kind: str) -> Column:
    """How many ``kind`` ('email' | 'ip' | 'phone') placeholder tokens
    :func:`scrub_pii` emits for this text, as a long. Counted against the
    text with all PRIOR rules already applied — counting every kind on the
    raw text would over-report when matches overlap (an email whose local
    part looks like a phone number is consumed whole by the email rule and
    never yields a <PHONE> token, so it must not count as one)."""
    out = _c(col)
    for k, pat, repl in PII_RULES:
        if k == kind:
            return F.regexp_count(out, F.lit(pat)).cast("long")
        out = F.regexp_replace(out, pat, repl)
    raise KeyError(f"unknown PII kind {kind!r}")


def fingerprint(col) -> Column:
    """Content fingerprint: md5 of case-folded, whitespace-collapsed text —
    catches trivially-reformatted duplicates that byte-exact hashing misses."""
    normalized = F.trim(F.regexp_replace(F.lower(_c(col)), "\\s+", " "))
    return F.md5(normalized)
