"""Column-level scalar helpers (SURVEY.md §2.7).

All JVM-side Column expressions — no Python UDFs in the hot path. Each helper
cites the reference function it reproduces (F1-F21 in SURVEY.md §2.7).
"""

from taar_gcp_etl_spark.functions.scalars import (
    sha256_key,
    token_ngrams,
    tokens,
    try_long,
)

__all__ = [
    "sha256_key",
    "try_long",
    "tokens",
    "token_ngrams",
]
