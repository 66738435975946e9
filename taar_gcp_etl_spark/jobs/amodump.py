"""amodump — AMO catalog ingestion: schema-coerce raw JSON records, enrich
with per-guid first_create_date, filter to enriched rows, emit the catalog
artifact.

Reference: taar_etl/taar_amodump.py — threaded REST fan-out (:102-124) →
addon_map (:211-226) → versions enrichment merge (:192-209) → P9 filter
(:95-99) → GCS artifact (:305-307).

Spark-first shape (SURVEY.md §3.2): the HTTP fan-out is an ingestion source
(sources/rest.py — partition-parallel mapInPandas replaces the 100-thread
pool); this module owns everything after bytes arrive: `from_json` marshal
(P12), J2 left-join enrichment, P9 filter, artifact sink.
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from taar_gcp_etl_spark.io import write_json_artifact
from taar_gcp_etl_spark.operators.filters import has_first_create_date, marshal
from taar_gcp_etl_spark.operators.joins import enrich_left_join
from taar_gcp_etl_spark.schemas import AMO_ADDON

ARTIFACT = "extended_addons_database"

# S2 — per-guid versions endpoint (taar_etl/taar_amodump.py:134-135).
VERSIONS_URL = "https://addons.mozilla.org/api/v4/addons/addon/{guid}/versions/"

# Schema-on-read for a versions page: only the fields the extraction needs
# (page_count probe :232-238; results[-1].files[0].created :196-205) —
# unknown keys drop for free.
VERSIONS_PAGE_SCHEMA = T.StructType(
    [
        T.StructField("page_count", T.IntegerType()),
        T.StructField(
            "results",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField(
                            "files",
                            T.ArrayType(
                                T.StructType(
                                    [T.StructField("created", T.StringType())]
                                )
                            ),
                        )
                    ]
                )
            ),
        ),
    ]
)


def versions_urls(catalog: DataFrame, guid_col: str = "guid") -> DataFrame:
    """S2 fan-out input: one versions-endpoint URL per catalog guid
    (taar_etl/taar_amodump.py:134-135). The guid is percent-ENCODED into
    the path — the exact inverse of parse_versions_fetches' url_decode, so
    guids with reserved characters ('@', '+', '%') survive the
    build-URL → fetch → parse-URL roundtrip byte-identical."""
    return catalog.select(
        F.col(guid_col).alias("guid"),
        F.concat(
            F.lit(VERSIONS_URL.split("{guid}")[0]),
            F.url_encode(F.col(guid_col)),
            F.lit(VERSIONS_URL.split("{guid}")[1]),
        ).alias("url"),
    )


def parse_versions_fetches(fetched: DataFrame) -> DataFrame:
    """Decode fetched versions pages into (guid, page, page_count, created):

      - guid from the URL path segment, percent-decoded
        (taar_etl/taar_amodump.py:199-201: split('addon/')[1] + unquote);
      - page from the ?page=N suffix the last-page re-fetch appends
        (:232-238), defaulting to 1 for the probe fetch;
      - page_count + results[-1].files[0].created via schema-on-read
        from_json (:196-205, :234) — all Column expressions, no Python in
        the row path.

    Non-200 rows and unparseable bodies yield NULL fields and fall out of
    the join in first_dates_from_fetches — the reference's skip-and-log
    tolerance (:206-208)."""
    parsed = F.from_json("body", VERSIONS_PAGE_SCHEMA)
    page = F.regexp_extract("url", r"[?&]page=(\d+)", 1)
    return fetched.filter(F.col("status") == 200).select(
        F.url_decode(
            F.regexp_extract("url", r"addon/([^/]+)/versions", 1)
        ).alias("guid"),
        F.when(page == "", F.lit(1)).otherwise(page.cast("int")).alias("page"),
        parsed["page_count"].alias("page_count"),
        F.element_at(parsed["results"], -1)["files"][0]["created"].alias(
            "created"
        ),
    )


def first_dates_from_fetches(fetched: DataFrame) -> DataFrame:
    """S2 end-to-end extraction over a set of fetched versions pages (page-1
    probes plus any last-page re-fetches): per guid, first_create_date =
    results[-1].files[0].created of the LAST page (page_count from the
    page-1 probe decides which page that is; page 1 itself when
    page_count <= 1 — taar_etl/taar_amodump.py:228-243).

    Offline-replayable: feed recorded (url, status, body) rows and the same
    extraction runs with no network. Both sides of the join are the narrow
    parsed projection; the probe side is one row per guid."""
    parsed = parse_versions_fetches(fetched).dropDuplicates(["guid", "page"])
    probes = parsed.filter(F.col("page") == 1).select(
        "guid",
        F.greatest(F.lit(1), F.coalesce("page_count", F.lit(1))).alias(
            "_needed_page"
        ),
    )
    return (
        parsed.join(probes, "guid")
        .filter(F.col("page") == F.col("_needed_page"))
        .filter(F.col("created").isNotNull())
        .select("guid", F.col("created").alias("first_create_date"))
    )


def fetch_first_dates(
    catalog: DataFrame,
    fetcher: Callable[[str], tuple[int, str]] | None = None,
    workers: int = 100,
) -> DataFrame:
    """Online two-phase S2 scan: fan out the page-1 probes, derive last-page
    URLs for multi-page guids (page_count > 1 → url + '?page=N',
    taar_etl/taar_amodump.py:232-238), fetch those, and extract over the
    union. Single-page guids reuse the probe body instead of re-fetching the
    same URL (the reference re-fetches; same bytes, one fewer round-trip).
    The fetcher is injectable so tests replay recorded fixtures offline."""
    from taar_gcp_etl_spark.sources.rest import fetch_with_retry

    page1 = fetch_with_retry(
        versions_urls(catalog).select("url"), workers, fetcher
    )
    needs_more = (
        parse_versions_fetches(page1)
        .filter(F.col("page_count") > 1)
        .select(
            F.concat(
                F.lit(VERSIONS_URL.split("{guid}")[0]),
                # guid column is the DECODED value — re-encode so the
                # last-page URL hits the same endpoint as the probe
                F.url_encode(F.col("guid")),
                F.lit(VERSIONS_URL.split("{guid}")[1]),
                F.lit("?page="),
                F.col("page_count").cast("string"),
            ).alias("url")
        )
    )
    last_pages = fetch_with_retry(needs_more, workers, fetcher)
    return first_dates_from_fetches(page1.unionByName(last_pages))


def parse_catalog(raw: DataFrame) -> DataFrame:
    """P12 — marshal raw JSON (one string column `raw`) against the declared
    AMO schema: unknown keys dropped, missing keys null, scalars coerced
    (taar_etl/taar_amodump.py:255-291)."""
    return marshal(raw, AMO_ADDON).filter(F.col("guid").isNotNull())


def enrich_first_create_date(
    catalog: DataFrame, first_dates: DataFrame
) -> DataFrame:
    """J2 — merge per-guid first_create_date (from the versions endpoint,
    taar_etl/taar_amodump.py:192-209). The enrichment is catalog-sized or
    smaller → broadcast. Where the catalog row already carries a date the
    fetched one wins (the reference overwrites, :204-205)."""
    fd = first_dates.select(
        "guid", F.col("first_create_date").alias("_fetched_date")
    )
    return (
        enrich_left_join(catalog, fd, "guid", broadcast_enrichment=True)
        .withColumn(
            "first_create_date",
            F.coalesce(F.col("_fetched_date"), F.col("first_create_date")),
        )
        .drop("_fetched_date")
    )


def run(
    raw: DataFrame,
    first_dates: DataFrame,
    out_base: str,
    date: dt.date,
) -> DataFrame:
    """parse → enrich → P9 filter (keep only rows whose version fetch
    succeeded, taar_etl/taar_amodump.py:95-99) → map-shaped artifact."""
    catalog = enrich_first_create_date(parse_catalog(raw), first_dates)
    catalog = catalog.filter(has_first_create_date())
    write_json_artifact(catalog, out_base, ARTIFACT, date=date, key_col="guid")
    return catalog


def run_end_to_end(
    raw: DataFrame,
    versions_fetched: DataFrame,
    out_base: str,
    date: dt.date,
) -> DataFrame:
    """Full S2 amodump from raw bytes: recorded (or live-fetched) versions
    pages → first_dates → catalog artifact. This is the replay path a user
    runs against recorded fixtures (CLI: amodump --versions <fetches>)."""
    return run(raw, first_dates_from_fetches(versions_fetched), out_base, date)
