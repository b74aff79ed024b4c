"""Text functions — the reference tokenizer, generalized.

The reference's sole text transform is the word-count mapper
(``/root/reference/src/app/wc.rs:6-13``): strip ``[^\\w\\s]`` with a
regex, split on whitespace, emit each token. Case-sensitive; ``\\w``
keeps digits/underscore. These are pure Column expressions so they
stay inside whole-stage codegen — no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Reference tokenizer rules (wc.rs:7-10): strip punctuation, split on
# runs of whitespace. Java regex \w == ASCII [A-Za-z0-9_]. DOCUMENTED
# DIVERGENCE: the reference's Rust regex crate (1.9, default features)
# is Unicode-aware for \w, so non-ASCII letters survive there but are
# stripped here — ASCII is pinned for Spark↔DuckDB oracle parity;
# identical behavior on ASCII text.
PUNCT_RE = r"[^\w\s]"
WS_RE = r"\s+"


def tokens(col) -> Column:
    """``array<string>`` of reference-rule tokens (may contain one
    leading '' if the text starts with whitespace — filter after
    explode, as the reference's empty-line filter does)."""
    return F.split(F.regexp_replace(col, PUNCT_RE, ""), WS_RE)


def whitespace_tokens(col) -> Column:
    """``array<string>`` of the whitespace-split tokens, empty strings
    dropped (no punctuation strip)."""
    return F.filter(F.split(col, WS_RE), lambda t: t != F.lit(""))


def whitespace_token_count(col) -> Column:
    """Cheap whitespace token count (no punctuation strip)."""
    return F.size(whitespace_tokens(col))


def normalized(col) -> Column:
    """Canonical form for fingerprinting/dedup: lowercase, punctuation
    stripped, whitespace collapsed, trimmed."""
    return F.trim(
        F.regexp_replace(F.regexp_replace(F.lower(col), PUNCT_RE, ""), WS_RE, " ")
    )


def fingerprint(col) -> Column:
    """Deterministic 128-bit document fingerprint over the normalized
    text (md5 hex). Identical-content docs collide by construction —
    the exact-dedup key."""
    return F.md5(normalized(col))


def char_ngrams(col, n: int) -> Column:
    """``array<string>`` of character n-grams (shingles) over the
    normalized text — the MinHash/Jaccard input. Expressed with
    sequence+transform so it stays JVM-side."""
    norm = normalized(col)
    return F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(norm) - (n - 1), F.lit(1))),
        lambda i: norm.substr(i, F.lit(n)),
    )
