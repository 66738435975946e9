"""taar_gcp_etl_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of mozilla/taar_gcp_etl, rebuilt Spark-first.

Layout:
  session.py    SparkSession builder (UTC, AQE, ANSI-off for SAFE_CAST parity)
  io.py         table loaders, JSON artifact dual-write sink, serving table
  schemas.py    StructTypes for the AMO catalog / client profile data model
  functions/    column-level scalar helpers (sha256 keys, hex→int, tokenize)
  operators/    the operator inventory from SURVEY.md §2 + north-star ops
  sources/      ingestion fan-out (REST scan as mapInPandas) — offline-testable
  plans/        plan-inspection helpers (pushdown / broadcast assertions)
  queries.py    the registry consumed by __spark_entry__.py
"""

__version__ = "0.1.0"
