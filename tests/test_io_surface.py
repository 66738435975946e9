"""I/O surface tests: CTAS/drop (S6/S13), Avro (S7/S8, gated), url decode
parity (F12), serving-table layout, JSON artifact round-trip (S11/S12) and
crash-safe bz2 artifacts."""

from __future__ import annotations

import bz2
import datetime as dt
import json
import os
import urllib.parse

import pytest
from pyspark.sql import functions as F

from taar_gcp_etl_spark.io import (
    avro_supported,
    read_avro,
    read_json_artifact,
    read_table,
    write_avro,
    write_bz2_json,
    write_json_artifact,
    write_json_records,
    write_serving_table,
)
from taar_gcp_etl_spark.operators.serving import pack_serving_rows
from tests.conftest import SF_SMOKE


def test_ctas_and_drop(spark, tmp_path):
    """S6 — CREATE TABLE AS (staging materialization,
    taar_etl/taar_profile_bigtable.py:70-96) and S13 — DROP TABLE IF EXISTS
    (:98-110), via the session catalog."""
    read_table(spark, SF_SMOKE, "region").createOrReplaceTempView("region_src")
    # the v1 session catalog has no REPLACE TABLE — the reference's
    # CREATE OR REPLACE maps to drop-if-exists + CTAS
    spark.sql("DROP TABLE IF EXISTS tmp_profiles_test")
    spark.sql(
        "CREATE TABLE tmp_profiles_test USING parquet AS "
        "SELECT r_regionkey, r_name FROM region_src"
    )
    assert spark.table("tmp_profiles_test").count() == 5
    spark.sql("DROP TABLE IF EXISTS tmp_profiles_test")
    assert not spark.catalog.tableExists("tmp_profiles_test")
    spark.sql("DROP TABLE IF EXISTS tmp_profiles_test")  # not_found_ok parity


def test_avro_roundtrip(spark, tmp_path):
    """S7/S8 — Avro export + scan. Runs on EITHER path: the spark-avro
    connector when present, else the in-repo OCF fallback codec (avro_ocf)
    — distributed write (one container file per partition via mapInPandas)
    and binaryFile-source read."""
    df = read_table(spark, SF_SMOKE, "region")
    write_avro(df, str(tmp_path / "r.avro"))
    back = read_avro(spark, str(tmp_path / "r.avro"))
    assert back.schema == df.schema
    assert sorted(r.r_name for r in back.collect()) == sorted(
        r.r_name for r in df.collect()
    )


def test_avro_roundtrip_all_scalar_types(spark, tmp_path):
    """The fallback codec must cover the engine's scalar surface: strings,
    longs, ints, doubles, booleans, binary, timestamps, and nulls in every
    column."""
    import datetime as dt

    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("s", T.StringType()),
            T.StructField("n", T.LongType()),
            T.StructField("i", T.IntegerType()),
            T.StructField("x", T.DoubleType()),
            T.StructField("b", T.BooleanType()),
            T.StructField("raw", T.BinaryType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    rows = [
        ("é中", -(2**40), 7, -0.5, True, b"\x00\x01", dt.datetime(2024, 1, 15, 12, 30, 0, 123456)),
        (None, None, None, None, None, None, None),
    ]
    df = spark.createDataFrame(rows, schema).repartition(2)
    write_avro(df, str(tmp_path / "t.avro"))
    back = read_avro(spark, str(tmp_path / "t.avro"))
    assert back.schema == schema
    got = sorted(
        [tuple(r) for r in back.collect()], key=lambda t: (t[0] is None, t)
    )
    want = sorted(rows, key=lambda t: (t[0] is None, t))
    assert got == want


def test_avro_roundtrip_exact_longs_with_nulls(spark, tmp_path):
    """Regression: nullable long columns must roundtrip EXACTLY. A pandas
    DataFrame built from list-of-dicts coerces int64-with-null to float64,
    rounding values past 2^53 ((1<<60)+1 -> 1.152921504606847e+18); the
    read fallback therefore builds pyarrow arrays per column instead."""
    from pyspark.sql import types as T

    schema = T.StructType([T.StructField("n", T.LongType())])
    vals = [((1 << 60) + 1,), ((1 << 62) + 7,), (None,), (-(1 << 60) - 3,)]
    df = spark.createDataFrame(vals, schema).repartition(2)
    write_avro(df, str(tmp_path / "big.avro"))
    back = read_avro(spark, str(tmp_path / "big.avro"))
    assert back.schema == schema
    got = sorted((r.n for r in back.collect()), key=lambda v: (v is None, v))
    want = sorted((v[0] for v in vals), key=lambda v: (v is None, v))
    assert got == want


def test_avro_fallback_interops_with_java_avro(spark, tmp_path):
    """Files written by the fallback codec must be readable by the REAL
    Avro Java library (on the classpath) — the OCF format contract, not
    just a self-roundtrip."""
    import glob

    if avro_supported(spark):
        pytest.skip("connector present — fallback not exercised")
    df = read_table(spark, SF_SMOKE, "region")
    path = str(tmp_path / "interop.avro")
    write_avro(df, path)
    jvm = spark._jvm
    names = []
    for fname in glob.glob(path + "/*.avro"):
        reader = jvm.org.apache.avro.file.DataFileReader(
            jvm.java.io.File(fname),
            jvm.org.apache.avro.generic.GenericDatumReader(),
        )
        while reader.hasNext():
            rec = reader.next()
            names.append(str(rec.get("r_name")))
        reader.close()
    assert sorted(names) == sorted(r.r_name for r in df.collect())


def test_url_decode_parity(spark):
    """F12 — url path split + percent-decode
    (taar_etl/taar_amodump.py:199-200): F.url_decode must match
    urllib.parse.unquote for the guid-in-URL extraction."""
    urls = [
        "https://amo/api/addon/uBlock0%40raymondhill.net/versions",
        "https://amo/api/addon/%7Bd10d0bf8-f5b5-c8b4-a8b2-2b9879e08c5d%7D/versions",
    ]
    df = spark.createDataFrame([(u,) for u in urls], ["url"])
    out = df.select(
        F.url_decode(
            F.regexp_extract("url", r"addon/([^/]+)/versions", 1)
        ).alias("guid")
    ).collect()
    want = [
        urllib.parse.unquote(u.split("addon/")[1].split("/versions")[0])
        for u in urls
    ]
    assert [r.guid for r in out] == want
    assert want[0] == "uBlock0@raymondhill.net"


def test_serving_table_layout(spark, tmp_path):
    """S9 — serving table must be key-prefix partitioned (256-way locality,
    taar_etl/taar_profile_bigtable.py:308 row-key design)."""
    ev = read_table(spark, SF_SMOKE, "events").limit(200)
    packed = pack_serving_rows(ev, "event_id", ["user_id", "event_type"])
    path = str(tmp_path / "serving")
    write_serving_table(packed, path)
    back = spark.read.parquet(path)
    assert "key_prefix" in back.columns
    prefixes = {r.key_prefix for r in back.select("key_prefix").distinct().collect()}
    assert all(len(p) == 2 for p in prefixes)
    # a point lookup by prefix is pushed into the scan (row-group min/max)
    one = back.filter(F.col("key_prefix") == sorted(prefixes)[0])
    assert one.count() >= 1


def test_serving_table_key_range_files(spark, tmp_path):
    """S9 — the serving table is BigTable's sorted-tablet model: each file
    holds one contiguous key range, sorted within; the ranges ascend in
    file order; `key_prefix` is the stored 2-char string prefix; a point
    lookup by key is pushed into the parquet scan."""
    import glob

    import pyarrow as pa
    import pyarrow.parquet as pq

    # the whole table: after a limit the rows sit in one partition, which
    # already satisfies the sort and yields one file
    ev = read_table(spark, SF_SMOKE, "events")
    packed = pack_serving_rows(ev, "event_id", ["user_id", "event_type"])
    path = str(tmp_path / "serving")
    # AQE would coalesce this small a sort into one file; keep 4 ranges
    conf = {
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.shuffle.partitions": "4",
    }
    saved = {k: spark.conf.get(k) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        write_serving_table(packed, path)
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)

    files = sorted(glob.glob(f"{path}/*.parquet"))
    assert len(files) >= 2
    assert not glob.glob(f"{path}/key_prefix=*")
    ranges = []
    for f in files:
        pf = pq.ParquetFile(f)
        assert pf.schema_arrow.field("key_prefix").type == pa.string()
        t = pf.read(columns=["key", "key_prefix"])
        keys = t.column("key").to_pylist()
        assert keys == sorted(keys)
        assert t.column("key_prefix").to_pylist() == [k[:2] for k in keys]
        meta = pf.metadata
        idx = pf.schema_arrow.get_field_index("key")
        stats = [meta.row_group(i).column(idx).statistics
                 for i in range(meta.num_row_groups)]
        ranges.append((min(s.min for s in stats), max(s.max for s in stats)))
    for (_, hi), (lo, _) in zip(ranges, ranges[1:]):
        assert hi < lo
    assert sum(pq.ParquetFile(f).metadata.num_rows for f in files) == ev.count()

    k = ranges[-1][0]
    hit = spark.read.parquet(path).filter(F.col("key") == k)
    plan = hit._jdf.queryExecution().sparkPlan().toString()
    assert f"EqualTo(key,{k})" in plan
    assert [r.key for r in hit.collect()] == [k]


def test_json_artifact_row_roundtrip(spark, tmp_path):
    """S11/S12 — row-shaped artifact dual-write + read-back with schema."""
    df = read_table(spark, SF_SMOKE, "region")
    write_json_artifact(df, str(tmp_path), "regions", dt.date(2026, 8, 13))
    back = read_json_artifact(
        spark, str(tmp_path / "latest" / "regions"), schema=df.schema
    )
    assert sorted(r.r_name for r in back.collect()) == sorted(
        r.r_name for r in df.collect()
    )


def _json_lines(raw: bytes) -> list:
    return [json.loads(x) for x in bz2.decompress(raw).decode().splitlines()]


# shape -> (writer, `latest` copy, decoder, first version, second version)
_SHAPES = {
    "map": (
        write_bz2_json, "latest/m.json.bz2",
        lambda raw: json.loads(bz2.decompress(raw)), {"a": 1}, {"b": 2},
    ),
    "list": (
        write_json_records, "latest/m/part-00000.json.bz2",
        _json_lines, [{"a": 1}], [{"b": 2}, {"c": 3}],
    ),
}


@pytest.mark.parametrize("shape", sorted(_SHAPES))
def test_bz2_artifact_survives_a_failed_write(tmp_path, monkeypatch, shape):
    """A crash mid-write leaves the previous `latest` bytes in place: each
    copy is written to a temp name and published by `os.replace`."""
    import builtins

    from taar_gcp_etl_spark import io as io_mod

    write, rel, decode, first, second = _SHAPES[shape]
    day = dt.date(2026, 8, 13)
    write(first, str(tmp_path), "m", day)
    latest = tmp_path / rel
    before = latest.read_bytes()

    class Torn:
        """A file handle that writes half its payload, then fails."""

        def __init__(self, fh):
            self.fh = fh

        def __enter__(self):
            return self

        def __exit__(self, *exc):
            self.fh.close()

        def write(self, data):
            self.fh.write(data[: len(data) // 2])
            raise OSError("disk full")

    monkeypatch.setattr(
        io_mod, "open", lambda *a, **k: Torn(builtins.open(*a, **k)),
        raising=False,
    )
    with pytest.raises(OSError, match="disk full"):
        write(second, str(tmp_path), "m", day + dt.timedelta(1))
    monkeypatch.undo()

    assert latest.read_bytes() == before
    assert decode(before) == first
    write(second, str(tmp_path), "m", day + dt.timedelta(1))
    assert decode(latest.read_bytes()) == second


def test_list_artifact_rerun_over_spark_layout(spark, tmp_path):
    """A dir written by Spark's JSON writer (uuid-named part file,
    `_SUCCESS`, `.crc` files) rewritten by the sink holds exactly one
    part file, which reads back equal to the Spark-written rows."""
    df = read_table(spark, SF_SMOKE, "region")
    day = dt.date(2026, 8, 13)
    out = tmp_path / f"snapshot={day:%Y%m%d}" / "regions"
    df.coalesce(1).write.option("compression", "bzip2").json(str(out))
    spark_rows = [
        json.loads(line)
        for p in sorted(out.glob("part-*.json.bz2"))
        for line in bz2.open(p, "rt")
    ]
    assert sorted(os.listdir(out)) != ["part-00000.json.bz2"]

    write_json_artifact(df, str(tmp_path), "regions", day)
    assert os.listdir(out) == ["part-00000.json.bz2"]
    assert _json_lines((out / "part-00000.json.bz2").read_bytes()) == (
        spark_rows
    )
