"""guid_ranking — install-count ranking of addons from daily telemetry.

Reference: taar_etl/taar_lite_guid_ranking.py — one BigQuery GROUP BY over
`telemetry.addons` for a single submission_date (:19-27), emitted as a
guid→count JSON map (:29,40) named guid_install_ranking.json.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from taar_gcp_etl_spark.io import write_json_artifact
from taar_gcp_etl_spark.operators.ranking import grouped_count, top_k

ARTIFACT = "guid_install_ranking"


def rank(
    addons: DataFrame,
    date: str,
    date_col: str = "submission_date",
    guid_col: str = "addon_id",
    client_col: str = "client_id",
) -> DataFrame:
    """P2 date filter (partition pruning) + A1 grouped count
    (taar_etl/taar_lite_guid_ranking.py:19-27)."""
    return grouped_count(
        addons.filter(F.col(date_col) == F.lit(date)),
        F.col(guid_col).alias("addon_guid"),
        client_col,
        "install_count",
    )


def run(
    addons: DataFrame,
    date: str,
    out_base: str,
    artifact_date: dt.date,
    k: int | None = None,
) -> DataFrame:
    """rank → (optional explicit top-k, the contract the downstream filename
    only_guids_top_200 implies, SURVEY.md §2.5 O2) → artifact."""
    ranked = rank(addons, date)
    if k is not None:
        ranked = top_k(
            ranked, [F.desc("install_count"), F.asc("addon_guid")], k
        )
    write_json_artifact(
        ranked, out_base, ARTIFACT, date=artifact_date, key_col="addon_guid"
    )
    return ranked
