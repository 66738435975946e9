"""update_whitelist — distinct, validated, sorted guid list from the AMO
editorial ("recommended") feed.

Reference: taar_etl/taar_update_whitelist.py — REST scan with the
`recommended=true` server-side predicate (:28-43), row-validity filter
(:46-48), set-build distinct (:58-62), ascending sort (:68), short-list gate
(:70-73), sorted JSON array artifact only_guids_top_200.json (:19,90).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame

from taar_gcp_etl_spark.io import write_json_artifact
from taar_gcp_etl_spark.operators.filters import valid_guid_predicate
from taar_gcp_etl_spark.operators.quality import require_min_rows

ARTIFACT = "only_guids_top_200"
MIN_WHITELIST = 100  # taar_etl/taar_update_whitelist.py:22-24


def distinct_sorted_guids(editorial: DataFrame) -> DataFrame:
    """P8 validity filter + A3 distinct + O1 ascending sort."""
    return (
        editorial.filter(valid_guid_predicate("addon.guid"))
        .select("addon.guid")
        .distinct()
        .orderBy("guid")
    )


def validate_against_catalog(guids: DataFrame, catalog: DataFrame) -> None:
    """S4 re-expressed: the reference's optional per-guid HTTP 200 probe
    (taar_etl/taar_update_whitelist.py:51-54,64-67) becomes one anti-join
    against the catalog — raises listing the unknown guids instead of N
    network round-trips."""
    unknown = guids.join(catalog.select("guid"), "guid", "left_anti")
    missing = [r.guid for r in unknown.limit(20).collect()]
    if missing:
        raise RuntimeError(f"guids not in AMO catalog: {missing}")


def run(
    editorial: DataFrame,
    out_base: str,
    date: dt.date,
    allow_shortlist: bool = False,
    catalog: DataFrame | None = None,
) -> DataFrame:
    guids = distinct_sorted_guids(editorial)
    require_min_rows(guids, MIN_WHITELIST, allow_short=allow_shortlist)
    if catalog is not None:
        validate_against_catalog(guids, catalog)
    write_json_artifact(guids, out_base, ARTIFACT, date=date)
    return guids
