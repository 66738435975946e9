"""amowhitelist — single-scan, triple-output filter pipeline.

Reference: taar_etl/taar_amowhitelist.py — one pass over the addon catalog
feeding three accumulators (whitelist P5 / featured P6 / featured∩whitelist
P7, `transform()` at :144-162) then three artifacts (:190-193).

Spark-first shape (SURVEY.md §3.3): derive the three filtered views, tag
each row with its artifact name and collect the union of the three in one
Spark action, so their scans run in one job (no cache to build or
release). The rows are split by tag on the driver, the empty-whitelist
gate judges them, and the three map artifacts are published.
"""

from __future__ import annotations

import datetime as dt
import json
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from taar_gcp_etl_spark.io import write_json_records
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
    guards emission: it runs before any file is written."""
    views = transform(catalog, date)
    rows = reduce(DataFrame.unionByName, [
        df.select(F.lit(name).alias("artifact"),
                  F.to_json(F.struct(*df.columns)).alias("record"))
        for name, df in views.items()
    ]).collect()
    records = {name: [json.loads(r.record) for r in rows if r.artifact == name]
               for name in views}
    require_non_empty(records[WHITELIST])
    for name, recs in records.items():
        write_json_records(recs, out_base, name, date=date, key_col="guid")
    return views
