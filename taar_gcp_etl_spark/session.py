"""SparkSession factory.

Engine-wide physical decisions (SURVEY.md §4):
  - AQE on (runtime shuffle coalescing, skew-join splitting) — subsumes the
    reference's hand-tuned Dataflow worker counts
    (reference: taar_etl/taar_profile_bigtable.py:361-374).
  - UTC session timezone — the reference compares naive-UTC datetimes
    (reference: taar_etl/taar_amowhitelist.py:89-91); also required for
    DuckDB-oracle timestamp parity.
  - ANSI off — BigQuery SAFE_CAST semantics (NULL on bad cast, NULL on
    out-of-range element_at) (reference: taar_etl/taar_profile_bigtable.py:78).
  - shuffle partitions sized to cores for local mode; on a real cluster this
    would be set to ~2-3× total executor cores or left to AQE coalescing.
  - sized to the machine it runs on: `local[<cores this process may use>]`
    (SPARK_GRAFT_CPUS overrides) and a driver heap of half the physical
    memory.
  - file listing is serial. A read whose root holds more than 32 leaf
    dirs (a 64-bucket CDC table's `_bucket=b` subdirs) would otherwise
    list them in a parallel Spark job, one task per dir. That distributes
    the listing across executors on a cluster; in local mode the
    executors are this JVM, so the job is pure overhead (0.2-0.3 s per
    read on 4 cores) while the driver lists a few hundred local dirs in
    milliseconds. Planning a read then runs no Spark job.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "taar_gcp_etl_spark",
    cpus: str | int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS") or len(
        os.sched_getaffinity(0)
    )
    shuffle = shuffle_partitions or int(cpus)
    # half the physical memory, in MiB
    heap_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 21
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.ansi.enabled", "false")
        # never a parallel listing job (see the module docstring)
        .config(
            "spark.sql.sources.parallelPartitionDiscovery.threshold",
            str(2**31 - 1),
        )
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.maxResultSize", "4g")
        # local mode: driver == all executors, so the default 1g heap is
        # the whole cluster's memory — size it to the machine, leaving the
        # other half to Python workers and the OS. Must be set before the
        # JVM launches, hence here and not per-query.
        .config("spark.driver.memory", f"{heap_mb}m")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
