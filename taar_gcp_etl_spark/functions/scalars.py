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
