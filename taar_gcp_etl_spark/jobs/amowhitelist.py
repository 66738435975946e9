"""amowhitelist — single-scan, triple-output filter pipeline.

Reference: taar_etl/taar_amowhitelist.py — one pass over the addon catalog
feeding three accumulators (whitelist P5 / featured P6 / featured∩whitelist
P7, `transform()` at :144-162) then three artifacts (:190-193).

Spark-first shape (SURVEY.md §3.3): cache the catalog once (scan sharing —
Catalyst does not share scans across actions without it), derive the three
filtered views, write three artifacts. At 100 TB the cache spills to disk
per-executor; the alternative (three scans) is strictly worse.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame

from taar_gcp_etl_spark.io import write_json_artifact
from taar_gcp_etl_spark.operators.filters import (
    featured_predicate,
    whitelist_predicate,
)
from taar_gcp_etl_spark.operators.quality import require_non_empty

WHITELIST = "whitelist_addons_database"
FEATURED = "featured_addons_database"
FEATURED_WHITELIST = "featured_whitelist_addons"


def transform(catalog: DataFrame, as_of: dt.date) -> dict[str, DataFrame]:
    """The three filtered views as of the run date. P7 ≡ P5 ∧ P6; the
    conjunction form is used (identical to the reference's subclass
    chaining, taar_etl/taar_amowhitelist.py:100-113) — the semi-join
    equivalence is asserted in tests."""
    whitelist = catalog.filter(whitelist_predicate(as_of))
    featured = catalog.filter(featured_predicate())
    featured_whitelist = catalog.filter(
        whitelist_predicate(as_of) & featured_predicate()
    )
    return {
        WHITELIST: whitelist,
        FEATURED: featured,
        FEATURED_WHITELIST: featured_whitelist,
    }


def run(
    catalog: DataFrame,
    out_base: str,
    date: dt.date,
) -> dict[str, DataFrame]:
    """extract → transform → load (3 artifacts, dual-write latest+snapshot,
    taar_etl/taar_amowhitelist.py:173-178). ``date`` is both the whitelist's
    as-of date and the snapshot stamp. The empty-whitelist gate (A5)
    guards emission."""
    catalog = catalog.cache()
    views = transform(catalog, date)
    require_non_empty(views[WHITELIST])
    for name, df in views.items():
        write_json_artifact(df, out_base, name, date=date, key_col="guid")
    return views
