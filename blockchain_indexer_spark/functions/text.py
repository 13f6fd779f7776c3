"""Text-analysis column functions (JVM-side, no Python UDFs).

Everything here is built from pyspark.sql.functions so it stays inside
whole-stage codegen — these run in the hot path of 100 TB document
pipelines, so per-row Python is off the table.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Small, fixed English stopword list for the n-gram/stopword language
# heuristic. Deliberately tiny and frozen: it is part of the operator's
# contract (changing it changes fingerprints downstream).
EN_STOPWORDS = (
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "are",
    "was", "for", "on", "with", "as", "at", "by", "it", "this", "that",
)

PUNCT_CLASS = r"[.,!?;:]"

# Explicit whitespace class instead of \s: Java's \s includes \x0b
# (vertical tab) but RE2's — the DuckDB oracle engine — does not.
# Spelling the class out keeps both engines normalizing identically;
# every oracle SQL uses the same literal class.
WS_CLASS = "[ \\t\\n\\x0b\\f\\r]"


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization of lowercased, trimmed text.

    Empty elements are filtered out: F.trim strips only SPACES, so a
    leading/trailing tab or newline leaves split() emitting phantom ''
    tokens ('' for the empty doc, ['','hi'] for '\thi') that inflate
    token_count and pollute shingles. Every oracle applies the
    matching list_filter."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(
        F.split(F.trim(F.lower(c)), WS_CLASS + "+"), lambda x: x != ""
    )


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col)).cast("bigint")


# GPT-2-style pre-tokenizer classes: letter runs, digit runs, single
# other-symbol chars. The whitespace chars are spelled out (not \s)
# so Java regex (Spark) and RE2 (DuckDB oracle) agree — they differ
# on \x0b; verified on unicode.
BPE_TOKEN_PATTERN = r"\p{L}+|\p{N}+|[^ \t\n\x0b\f\r\p{L}\p{N}]"


def bpe_token_count(col: Column | str) -> Column:
    """BPE-ish token count: matches of the pre-tokenizer classes. A
    closer proxy for LLM token cost than whitespace words (punctuation
    and digit runs count separately)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(BPE_TOKEN_PATTERN), F.lit(0))).cast("bigint")


def stopword_count(col: Column | str) -> Column:
    """Number of tokens (with duplicates) that are EN stopwords."""
    return F.size(
        F.filter(tokens(col), lambda t: t.isin(*EN_STOPWORDS))
    ).cast("bigint")


def punct_count(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return (F.length(c) - F.length(F.regexp_replace(c, PUNCT_CLASS, ""))).cast("bigint")


def digit_count(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return (F.length(c) - F.length(F.regexp_replace(c, r"[0-9]", ""))).cast("bigint")


def normalized_text(col: Column | str) -> Column:
    """Canonical form for fingerprinting: lowercase, collapsed whitespace."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), WS_CLASS + "+", " "))


def fingerprint_md5(col: Column | str) -> Column:
    """Deterministic document fingerprint over the normalized text."""
    return F.md5(normalized_text(col))


def rolling_fingerprint(
    col: Column | str, base: int = 131, mod: int = 2_147_483_647
) -> Column:
    """Rabin-Karp rolling polynomial fingerprint of the normalized text:
    fold (h * base + codepoint) mod 2^31-1 over the characters.

    Unlike md5, the polynomial structure supports incremental /
    windowed update (append a char: one multiply-add; the classic
    rolling property), and the modulus keeps every intermediate below
    2^38 so the arithmetic is exact in BIGINT on any engine — the
    DuckDB oracle reproduces it with list_reduce bit-for-bit. Empty
    text fingerprints to 0.
    """
    norm = normalized_text(col)
    codes = F.transform(F.split(norm, ""), lambda c: F.ascii(c).cast("bigint"))
    fp = F.aggregate(
        codes,
        F.lit(0).cast("bigint"),
        lambda acc, c: (acc * base + c) % mod,
    )
    return F.when(F.length(norm) == 0, F.lit(0).cast("bigint")).otherwise(fp)


def doc_lines(col: Column | str) -> Column:
    """Non-empty trimmed lines of the document (split on newline).

    The unit of the repetition heuristics below — kept raw-case, unlike
    tokens(), because duplicate-line detection should not merge lines
    differing only in case.
    """
    c = F.col(col) if isinstance(col, str) else col
    # whitespace-class trim, not F.trim (spaces only): CRLF documents
    # would otherwise keep trailing \r — '\r'-only blanks count as
    # lines and 'foo\r' never matches 'foo' across mixed endings
    ws_trim = lambda l: F.regexp_replace(  # noqa: E731
        l, "^" + WS_CLASS + "+|" + WS_CLASS + "+$", ""
    )
    return F.filter(
        F.transform(F.split(c, "\n"), ws_trim),
        lambda l: F.length(l) > 0,
    )


def _sum_lengths(arr: Column) -> Column:
    return F.aggregate(
        F.transform(arr, lambda x: F.length(x).cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda a, b: a + b,
    )


def dup_line_fraction(col: Column | str) -> Column:
    """Fraction of lines that are repeats of an earlier line
    (n_lines - n_distinct_lines) / n_lines; 0.0 for line-less docs.

    The Gopher-style repetition signal: boilerplate and templated spam
    score high. Pure array expression — no explode, no shuffle; the
    whole metric rides in the scan projection.
    """
    ls = doc_lines(col)
    # NULL text means no lines: coalesce so the 0-line guard fires and
    # the metric is 0.0 rather than NULL-propagating (oracles mirror
    # the COALESCE)
    n = F.coalesce(F.size(ls), F.lit(0))
    return F.when(n == 0, F.lit(0.0)).otherwise(
        (n - F.size(F.array_distinct(ls))).cast("double") / n.cast("double")
    )


def dup_line_char_fraction(col: Column | str) -> Column:
    """Character-weighted duplicate-line fraction: chars inside repeated
    lines / chars inside all lines (0.0 when there are no line chars).
    Weighting by length separates one long boilerplate block from many
    short repeats."""
    ls = doc_lines(col)
    # NULL text → NULL line array → NULL sums would dodge the == 0
    # guard and NaN-propagate; coalesce to 0 so NULL text scores 0.0
    # like any other line-less doc (oracles mirror the COALESCE)
    total = F.coalesce(_sum_lengths(ls), F.lit(0).cast("bigint"))
    distinct_chars = F.coalesce(_sum_lengths(F.array_distinct(ls)), F.lit(0).cast("bigint"))
    return F.when(total == 0, F.lit(0.0)).otherwise(
        (total - distinct_chars).cast("double") / total.cast("double")
    )


def mean_word_length(col: Column | str) -> Column:
    """Mean token length (characters / token over whitespace tokens).
    Extreme values either way are a quality red flag."""
    toks = tokens(col)
    # NULL for token-less docs: ANSI mode makes x/0 an error, and a
    # mean over zero tokens has no value anyway (oracles mirror the
    # CASE)
    return F.when(
        F.size(toks) > 0, _sum_lengths(toks).cast("double") / F.size(toks).cast("double")
    )


def shingles_from_tokens(toks: Column | str, k: int = 3) -> Column:
    """Array of k-word shingles from an ALREADY-MATERIALIZED token
    array column; empty when < k tokens.

    Built with sequence+transform so it stays a JVM expression; the
    short-text guard matters because F.sequence(0, -1) would produce a
    descending sequence, not an empty one.

    Takes a column reference, not a tokenizer expression, on purpose:
    higher-order-function lambdas are interpreted and get no
    subexpression elimination, so an inline `split(...)` here would
    re-tokenize the document for every element_at — O(words²) per doc
    (measured 3.4× slower at sf0.1). Materialize tokens in a prior
    projection and pass the attribute.
    """
    toks = F.col(toks) if isinstance(toks, str) else toks
    n = F.size(toks)
    idx = F.sequence(F.lit(0), n - k)
    mk = F.transform(
        idx,
        lambda i: F.concat_ws(" ", *[F.element_at(toks, (i + j + 1).cast("int")) for j in range(k)]),
    )
    return F.when(n >= k, mk).otherwise(F.array().cast("array<string>"))


# PII patterns, written to the common subset of Java regex (Spark) and
# RE2 (DuckDB) so counts and redactions are engine-identical: no
# backrefs, no lookaround, only \d, \b, bounded classes.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_ID16_RE = r"\b\d{16}\b"


def pii_counts(col: Column | str) -> tuple[Column, Column, Column]:
    """(n_emails, n_ips, n_ids) match counts — the audit half of a
    redaction pass (what a pipeline logs per shard before dropping or
    scrubbing documents)."""
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.regexp_count(c, F.lit(PII_EMAIL_RE)).cast("bigint"),
        F.regexp_count(c, F.lit(PII_IPV4_RE)).cast("bigint"),
        F.regexp_count(c, F.lit(PII_ID16_RE)).cast("bigint"),
    )


def pii_redact(col: Column | str) -> Column:
    """Replace emails/IPv4s/16-digit ids with typed placeholders —
    the standard pretraining scrub (C4/Dolma-style), as three chained
    JVM regexp_replace projections: linear, no shuffle, no Python.
    Email first: its digit runs must not be half-eaten by the id rule.
    """
    c = F.col(col) if isinstance(col, str) else col
    c = F.regexp_replace(c, PII_EMAIL_RE, "<EMAIL>")
    c = F.regexp_replace(c, PII_IPV4_RE, "<IP>")
    return F.regexp_replace(c, PII_ID16_RE, "<ID>")
