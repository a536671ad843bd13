"""Portable deterministic hashing + shingling (Catalyst expressions).

``stable_hash64`` is a 60-bit hash built from md5 so the *identical*
value is computable in ANSI SQL / DuckDB
(``('0x' || substr(md5(s),1,15))::BIGINT``) — this keeps MinHash /
SimHash / fingerprint operators oracle-checkable.  At 100 TB the cost
vs xxhash64 is a few extra ns/row inside codegen; swap to
``F.xxhash64`` via ``fast=True`` when cross-engine parity is not needed.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# Mersenne prime 2^61 - 1: modulus for the universal-hash family used by MinHash.
MERSENNE_61 = (1 << 61) - 1

# The whitespace-token rule: trim spaces, lower-case, split on runs of
# Java's \s, which is [ \t\n\x0B\f\r] (Spark's regex engine).  The
# other two engines need it spelled differently:
# - DuckDB's RE2 \s lacks \x0B, so oracle texts use SQL_WS, which
#   adds \v (RE2's name for \x0B);
# - Python's str \s (and str.strip()) also match Unicode separators
#   such as \x1c-\x1f, \xa0 and \u2003, so Python kernels split on
#   the ASCII class below and strip spaces only, as Spark's trim does.
SQL_WS = r"[\s\v]"
PY_WS = re.compile(r"\s+", re.ASCII)


def tokens(c: Column | str) -> Column:
    """Whitespace tokens of a string column (see the rule above)."""
    c = F.col(c) if isinstance(c, str) else c
    return F.split(F.lower(F.trim(c)), r"\s+")


def tokens_sql(expr: str) -> str:
    """DuckDB SQL text computing the same list as ``tokens``."""
    return f"string_split_regex(lower(trim({expr})), '{SQL_WS}+')"


def stable_hash64(c: Column | str, fast: bool = False) -> Column:
    """Deterministic 60-bit non-negative hash of a string column.

    fast=False (default): md5-based, reproducible in DuckDB.
    fast=True: xxhash64 (JVM-native, faster, not oracle-portable).
    """
    c = F.col(c) if isinstance(c, str) else c
    if fast:
        return F.xxhash64(c)
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("bigint")


def stable_hash64_sql(expr: str) -> str:
    """DuckDB SQL text computing the same value as ``stable_hash64``."""
    return f"(('0x' || substr(md5({expr}), 1, 15))::BIGINT)"


def minhash_value(h: Column, a: int, b: int) -> Column:
    """One member of the universal hash family h_i(x) = (a·x + b) mod p.

    Computed in double space would lose precision; (a*h + b) with
    a,b < 2^31 and h < 2^60 overflows int64, so we reduce h mod p first
    and use the identity (a·h+b) mod p with 128-bit-safe decimal math is
    unnecessary: we instead use (a · (h mod 2^30) + b) mod p which stays
    within int64 (a < 2^31, h mod 2^30 < 2^30 → product < 2^61).
    The family is still pairwise-close-to-universal for MinHash purposes
    and — crucially — bit-identical in DuckDB.
    """
    return (F.lit(a) * (h % F.lit(1 << 30)) + F.lit(b)) % F.lit(MERSENNE_61)


def minhash_value_sql(h_expr: str, a: int, b: int) -> str:
    return f"(({a}::BIGINT * ({h_expr} % {1 << 30}) + {b}) % {MERSENNE_61})"


def word_ngrams(text: Column | str, n: int) -> Column:
    """Distinct word n-gram shingles of lower-cased whitespace tokens.

    One regex pass instead of the split → transform/slice/array_join
    HOF pipeline it replaces: whitespace is normalized to single
    spaces, then a zero-width lookahead captures the n-token window at
    every token start while the match itself consumes exactly one
    token — overlapping windows from a single left-to-right scan, all
    inside the JVM regex engine (the HOF form runs interpreted:
    measured 9.4× slower on the documents fixture, and shingling
    dominates every dedup/decontamination plan).  Mid-token positions
    can never yield a spurious window: a suffix of a token sees the
    same number of space-separated pieces as the token start, and
    token starts are consumed by the previous match.  Produces the
    identical distinct list (same first-occurrence order) as the HOF
    form; texts with fewer than n tokens yield [] — agreeing with
    ``word_ngrams_sql``'s ``greatest(len - n + 1, 0)`` clamp.
    """
    text = F.col(text) if isinstance(text, str) else text
    norm = F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")
    pat = "(?=(" + "[^ ]+ " * (n - 1) + "[^ ]+))[^ ]+ ?"
    return F.array_distinct(F.regexp_extract_all(norm, F.lit(pat), 1))


def word_ngrams_all(text: Column | str, n: int) -> Column:
    """ALL word n-gram windows (within-doc repeats kept, unlike
    ``word_ngrams``): the occurrence-counting form tokenizer fitting
    needs — merge-pair frequencies count every occurrence.  Same
    single-pass regex-lookahead scan."""
    text = F.col(text) if isinstance(text, str) else text
    norm = F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")
    pat = "(?=(" + "[^ ]+ " * (n - 1) + "[^ ]+))[^ ]+ ?"
    return F.regexp_extract_all(norm, F.lit(pat), 1)


def word_ngrams_all_sql(text_expr: str, n: int) -> str:
    """DuckDB SQL producing the same non-distinct window list."""
    toks = tokens_sql(text_expr)
    return (
        f"list_transform(range(0, greatest(len({toks}) - {n} + 1, 0)), "
        f"i -> array_to_string(array_slice({toks}, i + 1, i + {n}), ' '))"
    )


def word_ngrams_sql(text_expr: str, n: int) -> str:
    """DuckDB SQL producing the same distinct word n-gram list."""
    toks = tokens_sql(text_expr)
    return (
        f"list_distinct(list_transform(range(0, greatest(len({toks}) - {n} + 1, 0)), "
        f"i -> array_to_string(array_slice({toks}, i + 1, i + {n}), ' ')))"
    )
