"""profile_serving job: build_profiles → write_serving → delete_opt_out
(taar_etl/taar_profile_bigtable.py), checked against a hashlib oracle."""

from __future__ import annotations

import datetime as dt
import glob
import hashlib

from pyspark.sql import functions as F

from taar_gcp_etl_spark.jobs.profile_serving import (
    build_profiles,
    delete_opt_out,
    write_serving,
)
from taar_gcp_etl_spark.schemas import ACTIVE_ADDON, CLIENTS_PROFILE

DAY = dt.date(2026, 8, 13)
LOOKBACK = 28


def _sha(client_id: str) -> str:
    return hashlib.sha256(client_id.encode("utf8")).hexdigest()


def _addon(guid: str) -> tuple:
    return (guid,) + (None,) * (len(ACTIVE_ADDON.fields) - 1)


def _clients(spark):
    """40 clients on DAY with addons, plus rows the profile build drops:
    an empty addon list on DAY and a client seen only the day before."""
    rows = [
        (f"c{i:02d}", DAY, "Berlin", 1.5, "de", "Linux", 1.0, 2.0, 3.0, 4.0,
         [_addon(f"a{i}@x")])
        for i in range(40)
    ]
    rows.append(("empty", DAY, None, None, None, None, None, None, None,
                 None, []))
    rows.append(("yesterday", DAY - dt.timedelta(1), None, None, None, None,
                 None, None, None, None, [_addon("y@x")]))
    return spark.createDataFrame(rows, CLIENTS_PROFILE)


def _deletions(spark):
    """Requests on both edges of the [DAY-28, DAY] window and just outside
    it, a duplicate request, and an id that never reported."""
    rows = [
        ("c00", DAY),                                  # window end
        ("c01", DAY - dt.timedelta(LOOKBACK)),         # window start
        ("c02", DAY - dt.timedelta(LOOKBACK + 1)),     # one day too old
        ("c03", DAY + dt.timedelta(1)),                # after the run date
        ("c04", DAY - dt.timedelta(7)),
        ("c04", DAY - dt.timedelta(3)),                # filed twice
        ("ghost", DAY),
    ]
    return spark.createDataFrame(rows, "client_id string, deletion_date date")


def _keys(spark, path: str) -> list[str]:
    return sorted(r.key for r in spark.read.parquet(path).select("key").collect())


def _oracle() -> tuple[set[str], set[str]]:
    """(all serving keys, keys left after the opt-out rewrite)."""
    written = {_sha(f"c{i:02d}") for i in range(40)}
    return written, written - {_sha(c) for c in ("c00", "c01", "c04")}


def _assert_new_layout(spark, path: str) -> None:
    assert glob.glob(f"{path}/*.parquet")
    assert not glob.glob(f"{path}/key_prefix=*")
    back = spark.read.parquet(path)
    assert dict(back.dtypes)["key_prefix"] == "string"
    assert back.filter(
        F.col("key_prefix") != F.substring("key", 1, 2)
    ).count() == 0


def test_write_then_delete_opt_out_matches_oracle(spark, tmp_path):
    served, kept = _oracle()
    serving = str(tmp_path / "serving")
    clean = str(tmp_path / "serving_clean")

    write_serving(build_profiles(_clients(spark), DAY.isoformat()), serving)
    assert set(_keys(spark, serving)) == served
    _assert_new_layout(spark, serving)

    delete_opt_out(spark, serving, _deletions(spark), DAY.isoformat(),
                   LOOKBACK, out_path=clean)
    assert set(_keys(spark, clean)) == kept
    _assert_new_layout(spark, clean)


def test_delete_opt_out_is_idempotent(spark, tmp_path):
    _, kept = _oracle()
    serving = str(tmp_path / "serving")
    once, twice = str(tmp_path / "once"), str(tmp_path / "twice")
    write_serving(build_profiles(_clients(spark), DAY.isoformat()), serving)

    for src, dst in ((serving, once), (once, twice)):
        delete_opt_out(spark, src, _deletions(spark), DAY.isoformat(),
                       LOOKBACK, out_path=dst)
    assert _keys(spark, twice) == _keys(spark, once) == sorted(kept)


def test_delete_opt_out_reads_the_prefix_directory_layout(spark, tmp_path):
    """A table in the older `key_prefix=xx/` directory layout reads, and
    the rewrite comes out as key-sorted range files with the same keys."""
    from taar_gcp_etl_spark.operators.serving import pack_serving_rows

    _, kept = _oracle()
    old = str(tmp_path / "old")
    clean = str(tmp_path / "clean")
    profiles = build_profiles(_clients(spark), DAY.isoformat())
    (
        pack_serving_rows(profiles, "client_id")
        .withColumn("key_prefix", F.substring("key", 1, 2))
        .write.partitionBy("key_prefix")
        .parquet(old)
    )
    assert glob.glob(f"{old}/key_prefix=*/*.parquet")

    delete_opt_out(spark, old, _deletions(spark), DAY.isoformat(),
                   LOOKBACK, out_path=clean)
    assert set(_keys(spark, clean)) == kept
    _assert_new_layout(spark, clean)
