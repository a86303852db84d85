"""Text analysis: tokenize, n-grams, stopword/quality metrics, lang-ID,
fingerprints.

The reference's only text-adjacent operation is exploding a pre-split
``hashtags: array<string>`` column (``App.java:97``); everything here is
the [EXT] text surface (SURVEY.md §2.2) a training-data pipeline needs.

All pure Catalyst expressions — no shuffle and no Python boundary, which
is what makes them viable over 100 TB of text.  The array higher-order
functions some of them use (``filter`` / ``transform`` with a lambda) are
NOT codegen'd: Spark interprets the lambda per element.  Hot paths avoid
them — :func:`ngrams` builds every gram in one regex pass over the text.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

TOKEN_PATTERN = r"\s+"

# Tiny per-language stopword sets for the heuristic language identifier.
# Deliberately small and deterministic: lang-ID here is a cheap heuristic
# gate (the real pipeline would plug a model UDF into the same slot).
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "on", "for", "it"],
    "fr": ["le", "la", "les", "de", "et", "un", "une", "est", "pour", "dans"],
    "es": ["el", "la", "los", "de", "y", "un", "una", "es", "para", "en"],
    "de": ["der", "die", "das", "und", "ein", "eine", "ist", "zu", "mit", "auf"],
    "zh": ["的", "了", "是", "在", "我", "有", "和", "就", "不", "人"],
}

ENGLISH_STOPWORDS = LANG_STOPWORDS["en"]


def tokenize(text: Column | str) -> Column:
    """Split on ``TOKEN_PATTERN`` and drop empty tokens → ``array<string>``."""
    col = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(col, TOKEN_PATTERN), lambda t: t != F.lit(""))


def token_count(tokens: Column) -> Column:
    """Number of tokens, as LongType (matches SQL BIGINT counts)."""
    return F.size(tokens).cast("long")


def ngrams(text: Column | str, n: int) -> Column:
    """Word n-grams of ``text`` as an array of space-joined strings, in
    order; [] when it has < n tokens, NULL for NULL text.

    The grams are exactly ``" ".join`` of each n consecutive
    :func:`tokenize` tokens, built in ONE codegen'd regex pass: collapse
    ``TOKEN_PATTERN`` runs to one space, then a zero-width match at every
    token start whose lookahead captures the next n tokens.  The anchor
    is a lookbehind on ``^`` or a space, not ``(?<!\\S)``: after an
    empty match Java steps one UTF-16 unit forward, which can land
    inside a surrogate pair (an emoji), where ``(?<!\\S)`` would match
    and emit a lone-surrogate gram.
    """
    if n < 1:
        raise ValueError("n must be >= 1")
    col = F.col(text) if isinstance(text, str) else text
    norm = F.regexp_replace(col, TOKEN_PATTERN, " ")
    gram = r"(?<=^| )(?=(\S+(?: \S+){%d}))" % (n - 1)
    return F.regexp_extract_all(norm, F.lit(gram), F.lit(1))


def shingles(text: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles of ``text`` (the near-dedup unit)."""
    return F.array_distinct(ngrams(text, n))


def stopword_ratio(tokens: Column, stopwords: list[str] | None = None) -> Column:
    """Fraction of tokens that are stopwords; 0.0 for empty docs."""
    stops = F.array(*[F.lit(s) for s in (stopwords or ENGLISH_STOPWORDS)])
    n_stop = F.size(F.filter(tokens, lambda t: F.array_contains(stops, t)))
    return F.when(F.size(tokens) > 0, n_stop / F.size(tokens)).otherwise(F.lit(0.0))


def punct_ratio(text: Column | str) -> Column:
    """Fraction of characters that are not alphanumeric/space."""
    col = F.col(text) if isinstance(text, str) else text
    stripped = F.regexp_replace(col, r"[A-Za-z0-9\s]", "")
    return F.when(
        F.length(col) > 0, F.length(stripped) / F.length(col)
    ).otherwise(F.lit(0.0))


def quality_score(text: Column | str, tokens: Column) -> Column:
    """Deterministic [0,1] doc-quality heuristic.

    Blend of: token count in a healthy band, mean token length in a
    healthy band, low punctuation ratio. The exact weights are arbitrary
    but fixed — downstream filters depend on reproducibility, not on the
    score being "true".
    """
    col = F.col(text) if isinstance(text, str) else text
    n_tok = F.size(tokens)
    mean_len = F.when(n_tok > 0, F.length(F.concat_ws("", tokens)) / n_tok).otherwise(0.0)
    len_ok = F.when((n_tok >= 10) & (n_tok <= 5000), 1.0).otherwise(
        F.when(n_tok > 0, 0.5).otherwise(0.0)
    )
    tok_ok = F.when((mean_len >= 2.0) & (mean_len <= 12.0), 1.0).otherwise(0.5)
    punct_ok = 1.0 - F.least(punct_ratio(col) * 4.0, F.lit(1.0))
    return F.round(0.4 * len_ok + 0.3 * tok_ok + 0.3 * punct_ok, 6)


def language_id(tokens: Column) -> Column:
    """Heuristic language ID: argmax of per-language stopword hits.

    Ties resolve by language-code order (deterministic). Returns 'und'
    when no stopword from any language matches.
    """
    scores: list[tuple[str, Column]] = []
    for lang in sorted(LANG_STOPWORDS):
        stops = F.array(*[F.lit(s) for s in LANG_STOPWORDS[lang]])
        scores.append(
            (lang, F.size(F.filter(tokens, lambda t: F.array_contains(stops, t))))
        )
    best = F.greatest(*[s for _, s in scores])
    expr = F.lit("und")
    # Build right-to-left so earlier languages win ties.
    for lang, score in reversed(scores):
        expr = F.when((score == best) & (best > 0), F.lit(lang)).otherwise(expr)
    return expr


def fingerprint(text: Column | str, length: int = 16) -> Column:
    """Canonical content fingerprint: md5 of case/space-normalized text.

    Normalization: lowercase, collapse whitespace runs, trim. A stable
    16-hex-char prefix (64 bits) is plenty below ~4B docs (birthday
    bound); use the full digest beyond that.
    """
    col = F.col(text) if isinstance(text, str) else text
    normalized = F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))
    return F.substring(F.md5(normalized), 1, length)


# PII patterns, conservative syntax shared by Java regex (Spark) and RE2
# (DuckDB) — \x escapes, \b, \d, bounded repetition only.  Order
# matters: SSN (3-2-4) before phone (3-3-4) is not required (disjoint),
# but email must run before the IP rule would see its host part.
PII_PATTERNS: list[tuple[str, str]] = [
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    (r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", "<PHONE>"),
    (r"\b\d{1,3}(\.\d{1,3}){3}\b", "<IP>"),
]


def normalize_text(text: Column | str) -> Column:
    """Training-corpus text normalization, fully JVM-side:
    control characters (incl. U+0085 NEL) -> space, whitespace runs —
    ASCII ``\\s`` plus the Unicode separator category ``\\p{Z}``
    (NBSP, en/em spaces U+2000-200A, line/para separators, ideographic
    space) — collapsed to one space, trimmed, lowercased.  (The
    C4/RefinedWeb-style cheap cleanup that runs before any expensive
    scoring; explicit ``\\x`` ranges and the one-letter ``\\p{Z}``
    class mean the same thing under Java regex and RE2, so the DuckDB
    oracle replays it verbatim.  Plain ``\\s`` alone is ASCII-only in
    both engines and would leave U+2000-style spaces untouched.)"""
    col = F.col(text) if isinstance(text, str) else text
    no_ctrl = F.regexp_replace(col, r"[\x00-\x1F\x7F\x85]", " ")
    collapsed = F.regexp_replace(no_ctrl, r"[\s\p{Z}]+", " ")
    return F.lower(F.trim(collapsed))


def redact_pii(text: Column | str) -> Column:
    """Replace email / SSN / phone / IPv4 literals with typed
    placeholders — chained ``regexp_replace``, no Python, so the scrub
    runs at scan throughput over 100 TB."""
    col = F.col(text) if isinstance(text, str) else text
    out = col
    for pat, tag in PII_PATTERNS:
        out = F.regexp_replace(out, pat, tag)
    return out


def pii_count(text: Column | str) -> Column:
    """How many replacements :func:`redact_pii` actually performs.

    Counts SEQUENTIALLY on the progressively-redacted text, exactly
    mirroring the replace chain: counting every pattern independently
    on the original would over-count when one PII literal embeds
    another (e.g. a phone-shaped local part inside an email — the email
    rule consumes it first, so the phone rule never fires)."""
    cur = F.col(text) if isinstance(text, str) else text
    n = F.lit(0)
    for pat, tag in PII_PATTERNS:
        n = n + F.size(F.regexp_extract_all(cur, F.lit(pat), F.lit(0)))
        cur = F.regexp_replace(cur, pat, tag)
    return n.cast("long")


def pseudonymize(col: Column | str, secret: str, length: int = 16) -> Column:
    """Deterministic keyed pseudonym: ``sha256(secret || ':' || value)``
    truncated to ``length`` hex chars.

    The privacy primitive redaction (``pii_redact``) can't provide:
    the identifier becomes unrecognizable but STABLE, so joins,
    group-bys, and dedup keyed on it still work across tables and
    runs — pseudonymization in the GDPR sense, with the secret as the
    re-identification key held outside the data.  Pure JVM (sha2),
    replayable in any engine with sha256, which is what the oracle
    does.  NULL stays NULL (a pseudonym for "unknown" would collide
    all unknowns into one identity).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.when(
        c.isNotNull(),
        F.substring(
            F.sha2(F.concat(F.lit(secret + ":"), c.cast("string")), 256),
            1,
            length,
        ),
    )
