"""Projection / predicate family (SURVEY.md §2.2, P1-P12).

These are the whitelist-pipeline semantics re-expressed as composable Column
predicates. Everything is a native Catalyst expression: filters push down to
the parquet scan, struct-field access prunes to the referenced leaves.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from taar_gcp_etl_spark.functions import try_long

PIONEER_GUID = "pioneer-opt-in@mozilla.org"  # taar_etl/taar_amowhitelist.py:28
MIN_RATING = 3.0  # taar_etl/taar_amowhitelist.py:29 (via MIN_RATING)
MIN_AGE_DAYS = 60  # taar_etl/taar_amowhitelist.py:28 (via MIN_AGE)


def profile_projection(df: DataFrame) -> DataFrame:
    """P1 — the clients_last_seen CTAS select list: project, rename, SAFE_CAST
    (reference: taar_etl/taar_profile_bigtable.py:76-86). Column pruning means
    the parquet scan reads exactly these columns."""
    return df.select(
        F.col("client_id"),
        F.col("city").alias("geo_city"),
        try_long(F.col("subsession_hours_sum") * 3600).alias("subsession_length"),
        F.col("locale"),
        F.col("os"),
        F.col("places_bookmarks_count_mean").alias("bookmark_count"),
        F.col("scalar_parent_browser_engagement_tab_open_event_count_sum").alias(
            "tab_open_count"
        ),
        F.col("scalar_parent_browser_engagement_total_uri_count_sum").alias(
            "total_uri"
        ),
        F.col("scalar_parent_browser_engagement_unique_domains_count_mean").alias(
            "unique_tlds"
        ),
        F.col("active_addons"),
    )


def date_partition_predicate(col: str, date: str) -> Column:
    """P2 — `WHERE submission_date = d` (taar_etl/taar_profile_bigtable.py:91,
    taar_etl/taar_lite_guid_ranking.py:25). On date-partitioned parquet this
    is partition pruning: non-matching files are never opened."""
    return F.col(col) == F.lit(date)


def nonempty_array_predicate(col: str) -> Column:
    """P3 — array_length(x) > 0 (taar_etl/taar_profile_bigtable.py:89)."""
    return F.size(col) > 0


def bernoulli_sample(df: DataFrame, rate: float, seed: int = 42) -> DataFrame:
    """P4 — `RAND() < rate` (taar_etl/taar_profile_bigtable.py:90), with a
    fixed seed: the reference is non-deterministic, the engine is not
    (SURVEY.md §7 hard part 2)."""
    return df.sample(fraction=rate, seed=seed)


def whitelist_predicate(
    as_of: dt.date,
    guid: str = "guid",
    current_version: str = "current_version",
    ratings: str = "ratings",
    first_create_date: str = "first_create_date",
) -> Column:
    """P5 — the AMO whitelist conjunction
    (reference: taar_etl/taar_amowhitelist.py:70-97):
      guid != pioneer  AND  len(files) > 0  AND  files[0].is_webextension
      AND ratings.average >= 3.0  AND  first_create_date <= as_of - 60d.
    The reference reads today's date here; ``as_of`` is the run date passed
    in, so a rerun or backfill of a given day classifies the same way.
    NB: files[0] (first element) — distinct from the ANY-file variant P11."""
    files = F.col(f"{current_version}.files")
    return (
        (F.col(guid) != F.lit(PIONEER_GUID))
        & (F.size(files) > 0)
        & F.coalesce(F.element_at(files, 1)["is_webextension"], F.lit(False))
        & (F.coalesce(F.col(f"{ratings}.average"), F.lit(0.0)) >= F.lit(MIN_RATING))
        & (
            F.to_timestamp(F.col(first_create_date))
            <= F.date_sub(F.lit(as_of), MIN_AGE_DAYS).cast("timestamp")
        )
    )


def featured_predicate(promoted: str = "promoted") -> Column:
    """P6 — promoted.category == 'recommended'
    (taar_etl/taar_amowhitelist.py:50-55); struct access null-propagates, so
    null `promoted` rows are dropped without an explicit null check."""
    return F.col(f"{promoted}.category") == F.lit("recommended")


def valid_guid_predicate(col: str = "addon.guid") -> Column:
    """P8 — guid not in (None, 'null', '')
    (taar_etl/taar_update_whitelist.py:46-48,58-62)."""
    c = F.col(col)
    return c.isNotNull() & ~c.isin("null", "")


def has_first_create_date(col: str = "first_create_date") -> Column:
    """P9 — keep addons whose version fetch succeeded
    (taar_etl/taar_amodump.py:95-99)."""
    return F.col(col).isNotNull()


def webextension_any_predicate(current_version: str = "current_version") -> Column:
    """P11 — ANY file is a webextension (taar_etl/taar_utils.py:89-93) —
    deliberately different from P5's files[0] check; both ship in the
    reference and both are preserved here (SURVEY.md §7 hard part 3)."""
    return F.exists(
        F.col(f"{current_version}.files"), lambda f: f["is_webextension"]
    )


def _stringly(dtype: T.DataType) -> T.DataType:
    """Structural twin of a schema with every scalar leaf as StringType —
    lets from_json capture values verbatim so coercion is a separate,
    SAFE_CAST-semantics pass (marshal's Python-constructor casts,
    taar_etl/taar_amodump.py:290-291, null out instead of raising)."""
    if isinstance(dtype, T.StructType):
        return T.StructType(
            [T.StructField(f.name, _stringly(f.dataType)) for f in dtype.fields]
        )
    if isinstance(dtype, T.ArrayType):
        return T.ArrayType(_stringly(dtype.elementType))
    if isinstance(dtype, T.MapType):
        return T.MapType(T.StringType(), _stringly(dtype.valueType))
    return T.StringType()


def _coerce(col: Column, dtype: T.DataType) -> Column:
    """Recursive elementwise coercion (taar_etl/taar_amodump.py:278-291):
    structs rebuild only declared fields, arrays/maps coerce elementwise,
    scalars try_cast (NULL on failure)."""
    if isinstance(dtype, T.StructType):
        rebuilt = F.struct(
            *[
                _coerce(col[f.name], f.dataType).alias(f.name)
                for f in dtype.fields
            ]
        )
        return F.when(col.isNull(), F.lit(None).cast(dtype)).otherwise(rebuilt)
    if isinstance(dtype, T.ArrayType):
        elem = dtype.elementType
        return F.transform(col, lambda x: _coerce(x, elem))
    if isinstance(dtype, T.MapType):
        vt = dtype.valueType
        return F.transform_values(col, lambda _k, v: _coerce(v, vt))
    return col.try_cast(dtype)


def marshal(df: DataFrame, schema: T.StructType) -> DataFrame:
    """P12 — schema projection + coercion, the reference's `marshal`
    (taar_etl/taar_amodump.py:255-291): unknown keys dropped (only declared
    fields parsed), missing keys null (Undefined sentinel), scalars
    constructor-cast ("123" → 123) with SAFE_CAST nulling where the
    reference's bare int()/float() would raise.
    Input: a DataFrame with a single JSON string column named `raw`."""
    raw = F.from_json(F.col("raw"), _stringly(schema)).alias("rec")
    coerced = df.select(raw).select(
        *[
            _coerce(F.col(f"rec.{f.name}"), f.dataType).alias(f.name)
            for f in schema.fields
        ]
    )
    return coerced
