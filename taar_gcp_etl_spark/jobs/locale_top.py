"""locale_top — top-N addons per locale (the taar_locale sibling job).

Reference contract only (code lived in mozilla/python_mozetl):
`top10_dict.json` — {locale: [top-10 addon guids]} (README.md:102-105).

Spark shape: grouped count → windowed top-k per locale (one shuffle on
locale) → map-of-arrays artifact. The artifact is locale-cardinality-sized
(hundreds of keys) — the one bounded driver-side collect the artifact layer
allows (SURVEY.md §7 hard part 1).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from taar_gcp_etl_spark.io import write_bz2_json
from taar_gcp_etl_spark.operators.ranking import grouped_top_k

ARTIFACT = "top10_dict"


def top_addons_per_locale(
    clients: DataFrame,
    k: int = 10,
    locale_col: str = "locale",
    addon_col: str = "addon_id",
    client_col: str = "client_id",
) -> DataFrame:
    """Count distinct installs per (locale, addon), keep top-k per locale
    with deterministic tie-break, collect the ordered guid list per locale."""
    counts = (
        clients.select(locale_col, addon_col, client_col)
        .distinct()
        .groupBy(locale_col, addon_col)
        .agg(F.count("*").alias("n"))
    )
    ranked = grouped_top_k(
        counts, locale_col, [F.desc("n"), F.asc(addon_col)], k
    )
    return ranked.groupBy(locale_col).agg(
        F.collect_list(F.struct("rnk", addon_col)).alias("_pairs")
    ).select(
        locale_col,
        F.transform(
            F.array_sort("_pairs"), lambda p: p[addon_col]
        ).alias("top_addons"),
    )


def run(
    clients: DataFrame,
    out_base: str,
    k: int = 10,
    *,
    date: dt.date,
) -> DataFrame:
    """top-k per locale → {locale: [guid, ...]} dual-write artifact."""
    top = top_addons_per_locale(clients, k)
    write_bz2_json(
        {r[0]: list(r[1]) for r in top.collect()}, out_base, ARTIFACT, date
    )
    return top
