"""Portable text primitives shared by the text-analysis and dedup
operators.

Everything here has an exactly-equivalent DuckDB SQL rendering so the
driver's oracle can value-match the operators built on top. The
string→int bridge is the first 8 hex digits of md5 (identical bytes in
Spark, DuckDB and Python's hashlib), after which the portable numeric
hash (``functions/hashing.py``) derives salted hash families for
MinHash/SimHash.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from approximatequeryengine_spark.functions.hashing import portable_hash_sql

# BPE-ish tokenizer: letter runs, digit runs, single punctuation marks.
TOKEN_REGEX = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"


def str_hash32_col(col: Column) -> Column:
    """First 32 bits of md5 as a bigint (portable string hash)."""
    return F.conv(F.substring(F.md5(col.cast("binary")), 1, 8), 16, 10).cast("long")


def str_hash32_sql(expr: str) -> str:
    return f"(('0x' || substring(md5({expr}), 1, 8))::BIGINT)"


def minhash_sql(shingle_ints_expr: str, salt: int) -> str:
    return f"list_min(list_transform({shingle_ints_expr}, s -> {portable_hash_sql('s', salt)}))"


def ws_tokens_col(text: Column) -> Column:
    """Whitespace tokens of trimmed text; empty text → empty array."""
    t = F.trim(text)
    return F.when(F.length(t) == 0, F.array().cast("array<string>")).otherwise(
        F.split(t, "\\s+")
    )


def ws_tokens_sql(expr: str) -> str:
    return (
        f"(CASE WHEN length(trim({expr})) = 0 THEN []::VARCHAR[] "
        f"ELSE string_split_regex(trim({expr}), '\\s+') END)"
    )


def word_shingles_col(tokens: Column, n: int = 3) -> Column:
    """Word n-gram shingles as strings (space-joined); fewer than n
    tokens → the whole text as one shingle; NULL tokens → NULL
    (concat_ws SWALLOWS a NULL array into '' — without the isNotNull
    gate every NULL-text document would share the [''] shingle, i.e. a
    phantom n-gram that cross-matches all contentless docs, while the
    SQL rendering NULL-propagates and sees no shingle at all)."""
    joined = F.concat_ws(" ", tokens)
    grams = F.transform(
        F.sequence(F.lit(0), F.size(tokens) - n),
        lambda i: F.concat_ws(
            " ", *[F.element_at(tokens, i + j + 1) for j in range(n)]
        ),
    )
    return F.when(F.size(tokens) >= n, grams).when(
        tokens.isNotNull(), F.array(joined)
    )


def word_shingles_sql(tokens_ident: str, n: int = 3) -> str:
    """DuckDB expression over an in-scope list column ``tokens_ident``
    (use inside a CTE that already computed the tokens)."""
    t = tokens_ident
    parts = " || ' ' || ".join(f"{t}[i + {j + 1}]" for j in range(n))
    grams = f"list_transform(range(0, len({t}) - {n} + 1), i -> {parts})"
    return (
        f"(CASE WHEN len({t}) >= {n} THEN {grams} "
        f"ELSE [array_to_string({t}, ' ')] END)"
    )


def str_hash60_sql(expr: str) -> str:
    return f"(('0x' || substring(md5({expr}), 1, 15))::BIGINT)"
