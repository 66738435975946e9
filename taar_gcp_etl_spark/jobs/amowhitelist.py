"""amowhitelist — single-scan, triple-output filter pipeline.

Reference: taar_etl/taar_amowhitelist.py — one pass over the addon catalog
feeding three accumulators (whitelist P5 / featured P6 / featured∩whitelist
P7, `transform()` at :144-162) then three artifacts (:190-193).

Spark-first shape (SURVEY.md §3.3), the reference's one pass: a single
scan of the catalog collects each row's JSON record with two predicate
flags (whitelist, featured) in one Spark action (no cache to build or
release). The three views are split on the driver — P5 is the whitelist
flag, P6 the featured flag, P7 both — the empty-whitelist gate judges
them, and the three map artifacts are published.
"""

from __future__ import annotations

import datetime as dt
import json

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
    flagged = catalog.select(
        F.to_json(F.struct(*catalog.columns)).alias("record"),
        F.coalesce(whitelist_predicate(date), F.lit(False)).alias("w"),
        F.coalesce(featured_predicate(), F.lit(False)).alias("f"),
    )
    rows = [
        (json.loads(r.record), r.w, r.f)
        for r in flagged.filter(F.col("w") | F.col("f")).collect()
    ]
    records = {
        WHITELIST: [rec for rec, w, _ in rows if w],
        FEATURED: [rec for rec, _, f in rows if f],
        FEATURED_WHITELIST: [rec for rec, w, f in rows if w and f],
    }
    require_non_empty(records[WHITELIST])
    for name, recs in records.items():
        write_json_records(recs, out_base, name, date=date, key_col="guid")
    return transform(catalog, date)
