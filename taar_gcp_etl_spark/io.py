"""Sources and sinks.

Maps the reference's storage surface (SURVEY.md §2.1) onto Spark-native I/O:
  - fixture/table loading → columnar parquet scans (S5: BigQuery SQL scan,
    reference taar_etl/taar_profile_bigtable.py:56-68)
  - JSON.bz2 dual-write artifact sink (S11, taar_etl/taar_utils.py:32-63):
    one collect, one driver-side encode, and the same bzip2 bytes published
    as `latest` and the dated snapshot by temp file + `os.replace` (a
    crashed run never leaves a half-written `latest`). A list artifact
    keeps the JSON-lines dir layout of Spark's JSON writer,
    `{name}/part-00000.json.bz2`, because its readers glob `part-*`
  - keyed serving table (S9 KV upsert sink,
    taar_etl/taar_profile_bigtable.py:166-191): sha256 row key, one global
    sort on the key so each file holds a contiguous key range (BigTable's
    sorted-tablet locality)
  - Avro source/sink (S7/S8, taar_etl/taar_profile_bigtable.py:112-132,181-184)
    gated behind availability of spark-avro on the classpath.
"""

from __future__ import annotations

import bz2
import datetime as dt
import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table. Parquet scans are columnar and prunable —
    Catalyst pushes projections and predicates into the scan, which at 100 TB
    is the difference between reading ten columns and reading all of them.

    The `events` fixture stores TIMESTAMP(NANOS), which Spark's vectorized
    reader rejects; read it as raw nanos (legacy long) and truncate to
    microseconds with integer division — the same truncation DuckDB applies,
    so oracle comparisons stay exact. (Plain `/ 1000` would route through
    double and lose precision above 2^53.)
    """
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000"))
            )
        return df
    return spark.read.parquet(path)


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Fan a DataFrame out to the session's full parallelism when the scan
    produced fewer splits (small local files arrive as one split, which
    serializes CPU-heavy per-row operators like hashing onto one core).
    At cluster scale input splits >> cores and this is a no-op — the
    repartition only fires when the scan under-splits.

    Split estimate = input file count from the read relation — cheap plan
    metadata, unlike df.rdd.getNumPartitions() which builds the whole RDD
    plan on every call. Files larger than maxPartitionBytes produce MORE
    splits than files, so this under-counts only in the direction that adds
    a harmless repartition of an already-parallel scan — and only when the
    file count is below core count, i.e. small inputs where the extra
    exchange is noise.
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    try:
        n_files = len(df.inputFiles())
    except Exception:  # noqa: BLE001 — non-file-backed plan: leave as-is
        return df
    if 0 < n_files < target:
        return df.repartition(target)
    return df


def write_json_artifact(
    df: DataFrame,
    base_path: str,
    name: str,
    date: dt.date,
    key_col: str | None = None,
) -> None:
    """Dual-write JSON artifact sink (S11, taar_etl/taar_utils.py:32-63):
    one Spark action collects the rows in Spark's JSON form (artifacts
    are catalog-scale, SURVEY.md §7 hard part 1), then
    write_json_records encodes and publishes them."""
    records = [json.loads(r) for r in df.toJSON().collect()]
    write_json_records(records, base_path, name, date, key_col)


def write_json_records(
    records: list[dict],
    base_path: str,
    name: str,
    date: dt.date,
    key_col: str | None = None,
) -> None:
    """Encode collected rows once and publish them: with ``key_col`` the
    map shape {key: record} (write_bz2_json), else the list shape, one
    compact JSON object per line in the given order."""
    if key_col is not None:
        write_bz2_json({r[key_col]: r for r in records}, base_path, name, date)
        return
    lines = "".join(
        json.dumps(r, separators=(",", ":"), ensure_ascii=False) + "\n"
        for r in records
    )
    _publish(bz2.compress(lines.encode("utf-8")), base_path, date,
             f"{name}/part-00000.json.bz2")


def write_bz2_json(obj: dict, base_path: str, name: str, date: dt.date) -> None:
    """Publish ``obj`` as sorted-key bzip2 JSON, `{name}.json.bz2`."""
    payload = bz2.compress(json.dumps(obj, sort_keys=True).encode("utf-8"))
    _publish(payload, base_path, date, f"{name}.json.bz2")


def _publish(payload: bytes, base_path: str, date: dt.date, rel: str) -> None:
    """The one writer of artifact files: `{base}/latest/{rel}` and
    `{base}/snapshot={YYYYMMDD}/{rel}` get the same bytes, each through a
    hidden temp file (Spark's listing skips dot files) and an atomic
    `os.replace`. A list artifact's dir keeps only its one part file, so
    a rerun over an older Spark-written layout leaves one part file."""
    sub_dir, fname = os.path.split(rel)
    for sub in ("latest", f"snapshot={date:%Y%m%d}"):
        d = os.path.join(base_path, sub, sub_dir)
        os.makedirs(d, exist_ok=True)
        tmp = os.path.join(d, f".{fname}.tmp")
        with open(tmp, "wb") as fh:
            fh.write(payload)
        os.replace(tmp, os.path.join(d, fname))
        for e in list(os.scandir(d)) if sub_dir else ():
            if e.name == fname:
                continue
            if e.is_dir(follow_symlinks=False):
                shutil.rmtree(e.path)
            else:
                os.remove(e.path)


def read_json_artifact(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """JSON(.bz2) source (S12, taar_etl/taar_utils.py:66-76) — bzip2 is
    transparent to Spark's text reader; explicit schema avoids an extra
    inference pass over the data."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def write_serving_table(df: DataFrame, path: str, key_col: str = "key") -> None:
    """Keyed serving table (S9, taar_etl/taar_profile_bigtable.py:295-329).

    BigTable stores rows sorted by row key, split into contiguous key-range
    tablets. The same here: one global sort on the sha256 key, so each
    parquet file holds one key range, sorted within. The file count follows
    the shuffle partitioning (range bounds, AQE coalescing), not the key
    space. `key_prefix` (first 2 hex chars) is a stored column; a point
    lookup by `key` or `key_prefix` is pushed into the parquet scan and
    skips row groups by their min/max statistics. zlib cell compression in
    the reference is a storage codec → Parquet compression.
    """
    (
        df.withColumn("key_prefix", F.substring(F.col(key_col), 1, 2))
        .orderBy(key_col)
        .write.mode("overwrite")
        .parquet(path)
    )


def avro_supported(spark: SparkSession) -> bool:
    """spark-avro is an external module; probe once instead of failing
    mid-job. A load of a nonexistent path distinguishes 'source missing'
    (FAILED_TO_FIND_DATA_SOURCE) from 'source present, path absent'."""
    try:
        spark.read.format("avro").load("/nonexistent/__avro_probe__")
        return True
    except Exception as exc:  # noqa: BLE001
        # Spark 3 raises 'Failed to find data source'; Spark 4 raises error
        # class DATA_SOURCE_NOT_FOUND ('Failed to find the data source').
        error_class = None
        for attr in ("getCondition", "getErrorClass"):
            try:
                error_class = getattr(exc, attr)()
                break
            except Exception:  # noqa: BLE001
                continue
        if error_class is not None and "DATA_SOURCE_NOT_FOUND" in str(error_class):
            return False
        msg = str(exc)
        return (
            "Failed to find data source" not in msg
            and "DATA_SOURCE_NOT_FOUND" not in msg
            and "Failed to find the data source" not in msg
        )


def write_avro(df: DataFrame, path: str) -> None:
    """Table→Avro export (S7, taar_etl/taar_profile_bigtable.py:112-132).

    Prefers the spark-avro connector (``org.apache.spark:spark-avro_2.13:
    <spark-version>`` — add via spark.jars.packages) when present; otherwise
    falls back to the in-repo OCF codec (avro_ocf): each partition
    serializes its rows to one container file inside ``path``, one file per
    partition, deflate codec, interop-tested against the Avro Java library.

    Fallback caveat: partition files are written with plain ``open()`` from
    executor tasks into a driver-created directory, so the fallback requires
    a filesystem shared between driver and executors (local mode, NFS). On
    a cluster with object storage, use the spark-avro connector — that is
    why ``avro_supported`` is checked first."""
    if avro_supported(df.sparkSession):
        df.write.format("avro").mode("overwrite").save(path)
        return
    _write_avro_fallback(df, path)


def read_avro(spark: SparkSession, path: str) -> DataFrame:
    """Avro scan (S8, taar_etl/taar_profile_bigtable.py:181-184). Connector
    when present; else binaryFile source + Arrow-batched OCF decode (the
    schema comes from the first file's header — one small driver-side head
    read, the row decode is executor-side)."""
    if avro_supported(spark):
        return spark.read.format("avro").load(path)
    return _read_avro_fallback(spark, path)


def _write_avro_fallback(df: DataFrame, path: str) -> None:
    import glob

    from taar_gcp_etl_spark.avro_ocf import avro_schema_for, encode_ocf

    avro_schema = avro_schema_for(df.schema)
    colnames = df.columns
    os.makedirs(path, exist_ok=True)
    # mode("overwrite") semantics: clear previous output so a re-run
    # replaces rather than accumulates (the connector path does the same)
    for stale in glob.glob(os.path.join(path, "*.avro")):
        os.remove(stale)

    def write_partition(batches):
        import os

        import pyarrow as pa
        from pyspark import TaskContext

        # Arrow batches, NOT pandas: pandas coerces int64-with-nulls to
        # float64, silently rounding longs past 2^53; to_pylist() keeps
        # exact ints / None / datetime values.
        rows: list[dict] = []
        for batch in batches:
            rows.extend(batch.to_pylist())
        if rows:
            # deterministic per-partition name: a retried or speculative
            # task overwrites its own file instead of adding a duplicate
            pid = TaskContext.get().partitionId()
            fname = f"part-{pid:05d}.avro"
            content = encode_ocf(rows, avro_schema, sync_seed=fname.encode())
            with open(os.path.join(path, fname), "wb") as fh:
                fh.write(content)
            yield pa.RecordBatch.from_pydict(
                {"path": [fname], "n": [len(rows)]}
            )

    # the collected result is one tiny row per partition (bounded), not data
    df.select(*colnames).mapInArrow(
        write_partition, schema="path string, n long"
    ).collect()


def _read_avro_fallback(spark: SparkSession, path: str) -> DataFrame:
    from taar_gcp_etl_spark.avro_ocf import (
        decode_ocf,
        decode_ocf_header,
        spark_schema_for,
    )

    # Schema sniff through the binaryFile source (works on any
    # Hadoop-visible path, not just the driver's local filesystem) and a
    # header-only parse — no row decode on the driver. binaryFile does
    # materialize the first file's bytes; only the header is parsed.
    head_rows = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.avro")
        .load(path)
        .select("content")
        .limit(1)
        .collect()
    )
    if not head_rows:
        raise FileNotFoundError(f"no .avro files under {path}")
    file_schema = decode_ocf_header(bytes(head_rows[0]["content"]))
    spark_schema = spark_schema_for(file_schema)
    names = [f.name for f in spark_schema.fields]

    def decode(batches):
        # Arrow arrays per column, NOT a pandas DataFrame: pandas coerces
        # int64-with-nulls to float64, silently rounding longs past 2^53 on
        # read-back (the write path avoids pandas for the same reason —
        # this keeps the fallback roundtrip symmetric and exact).
        import pyarrow as pa

        from pyspark.sql.pandas.types import to_arrow_schema

        arrow_schema = to_arrow_schema(spark_schema)
        for batch in batches:
            rows: list[dict] = []
            for content in batch.column(0):
                _, decoded = decode_ocf(content.as_py())
                rows.extend(decoded)
            if rows:
                cols = [
                    pa.array(
                        [r.get(name) for r in rows],
                        type=arrow_schema.field(i).type,
                    )
                    for i, name in enumerate(names)
                ]
                yield pa.RecordBatch.from_arrays(cols, schema=arrow_schema)

    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.avro")
        .load(path)
        .select("content")
        .mapInArrow(decode, schema=spark_schema)
    )
