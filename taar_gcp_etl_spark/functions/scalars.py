"""Scalar column functions (SURVEY.md §2.7, F1-F21)."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def sha256_key(col: Column | str) -> Column:
    """F1 — sha256 hex digest of a UTF-8 string, bit-identical to
    hashlib.sha256(x.encode('utf8')).hexdigest()
    (reference: taar_etl/taar_utils.py:110-116,
    taar_etl/taar_profile_bigtable.py:304-307)."""
    return F.sha2(F.col(col) if isinstance(col, str) else col, 256)


def try_long(col: Column | str) -> Column:
    """F2 — BigQuery SAFE_CAST(x AS int64): NULL on failure, never raises
    (reference: taar_etl/taar_profile_bigtable.py:78)."""
    c = F.col(col) if isinstance(col, str) else col
    return c.try_cast("long")


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization of lowercased text — the shared primitive for
    the text-analysis and dedup operator families. Pure Column expression
    (codegen'd); no Python."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.trim(F.lower(c)), r"\s+")


def token_ngrams(toks: Column, n: int, step: int = 1) -> Column:
    """Space-joined windows of `n` tokens, one every `step` tokens, over a
    token-array column: step=1 gives the overlapping n-grams (none for a
    document shorter than n tokens), step=n the consecutive segments (the
    last one may be short).

    Pass a column a projection below has already computed (select
    `tokens(text).alias("_toks")`, then `token_ngrams(F.col("_toks"), n)`),
    not the `tokens(...)` expression itself: Catalyst does not eliminate
    common subexpressions inside higher-order-function lambdas, so an
    inline split runs again for every window — O(tokens²) per document."""
    count = F.ceil((F.size(toks) - (n - step)) / F.lit(step)).cast("int")
    # guarded: Spark's sequence(0, -1) is a DESCENDING [0, -1], not []
    return F.when(
        count > 0,
        F.transform(
            F.sequence(F.lit(0), count - 1),
            lambda i: F.array_join(F.slice(toks, i * step + 1, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
