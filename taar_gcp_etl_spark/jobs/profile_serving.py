"""profile_serving — the clients_last_seen → keyed serving table pipeline.

Reference: taar_etl/taar_profile_bigtable.py — a 5-stage Airflow DAG
(fill-bq CTAS :70-96 → Avro export :112-132 → Beam/Dataflow BigTable load
:166-191 → tmp-table wipe :98-110 → opt-out delete :193-223). In Spark this
is ONE lazy plan with two actions: write the serving table, and (on the
deletion cadence) rewrite it minus opt-out keys. No interchange
materialization, no separate cluster hop (SURVEY.md §3.1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from taar_gcp_etl_spark.io import write_serving_table
from taar_gcp_etl_spark.operators.filters import (
    bernoulli_sample,
    profile_projection,
)
from taar_gcp_etl_spark.operators.joins import anti_join_delete
from taar_gcp_etl_spark.operators.serving import (
    distinct_optout_keys,
    pack_serving_rows,
)


def build_profiles(
    clients: DataFrame,
    date: str,
    sample_rate: float = 1.0,
    seed: int = 42,
) -> DataFrame:
    """fill-bq stage as a DataFrame plan: P2 date filter (partition pruning)
    → P3 non-empty addons → P4 seeded sample → P1 projection
    (taar_etl/taar_profile_bigtable.py:76-96)."""
    out = clients.filter(
        (F.col("submission_date") == F.lit(date))
        & (F.size("active_addons") > 0)
    )
    if sample_rate < 1.0:
        out = bernoulli_sample(out, sample_rate, seed)
    return profile_projection(out)


def write_serving(profiles: DataFrame, path: str) -> None:
    """gcs-to-bigtable stage: sha256 key + packed JSON payload, written as
    key-sorted range files (taar_etl/taar_profile_bigtable.py:295-329)."""
    packed = pack_serving_rows(profiles, "client_id")
    write_serving_table(packed, path)


def delete_opt_out(
    spark: SparkSession,
    serving_path: str,
    deletions: DataFrame,
    end_date: str,
    lookback_days: int = 28,
    out_path: str | None = None,
) -> DataFrame:
    """bigtable-delete-opt-out stage: distinct opt-out client_ids over the
    lookback window → sha256 keys → broadcast anti-join rewrite
    (taar_etl/taar_profile_bigtable.py:193-223). The whole table is scanned
    and rewritten to `out_path` through the same sink (or the plan is
    returned when None, for the caller to write). A table in the older
    `key_prefix=xx/` directory layout reads too: `key_prefix` comes back
    from the path and is dropped before the rewrite recomputes it."""
    serving = spark.read.parquet(serving_path)
    keys = distinct_optout_keys(
        deletions, "client_id", "deletion_date", end_date, lookback_days
    )
    remaining = anti_join_delete(serving, keys, "key")
    if out_path is not None:
        write_serving_table(remaining.drop("key_prefix"), out_path)
    return remaining
