"""update_whitelist — distinct, validated, sorted guid list from the AMO
editorial ("recommended") feed.

Reference: taar_etl/taar_update_whitelist.py — REST scan with the
`recommended=true` server-side predicate (:28-43), row-validity filter
(:46-48), set-build distinct (:58-62), ascending sort (:68), short-list gate
(:70-73), sorted JSON array artifact only_guids_top_200.json (:19,90).
Written as JSON lines, one `{"guid": ...}` object per line in guid order.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from taar_gcp_etl_spark.io import write_json_records
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


def run(
    editorial: DataFrame,
    out_base: str,
    date: dt.date,
    allow_shortlist: bool = False,
    catalog: DataFrame | None = None,
) -> DataFrame:
    """One Spark action collects the distinct valid guids, each flagged
    by whether the AMO catalog knows it (S4: a left join against the
    catalog's distinct guids replaces the reference's per-guid HTTP 200
    probe, taar_etl/taar_update_whitelist.py:51-54,64-67; always true
    without a catalog). In guid order, those rows feed the A4 short-list
    gate, then the unknown-guid check, then the artifact. Returns the
    distinct sorted guids (lazy)."""
    guids = distinct_sorted_guids(editorial)
    known = F.lit(True).alias("known")
    flagged = (
        guids.select("guid", known) if catalog is None
        else guids.join(catalog.select("guid", known).distinct(), "guid",
                        "left")
    )
    rows = sorted(flagged.collect())
    require_min_rows(rows, MIN_WHITELIST, allow_short=allow_shortlist)
    missing = [r.guid for r in rows if not r.known][:20]
    if missing:
        raise RuntimeError(f"guids not in AMO catalog: {missing}")
    records = [{"guid": r.guid} for r in rows]
    write_json_records(records, out_base, ARTIFACT, date)
    return guids
