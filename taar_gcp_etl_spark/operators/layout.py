"""Physical-layout operators: compaction, sorted writes, Z-order keys.

The reference delegates physical layout to its warehouses (BigQuery
manages storage; Bigtable is key-sorted by construction —
taar_etl/taar_profile_bigtable.py:112-132 relies on the store's own
ordering). A standalone parquet lake has to manage layout itself, and at
100 TB layout IS performance:

  - **small files**: a streaming sink or an over-partitioned job leaves
    thousands of KB-sized files; each costs a task + an open + a footer
    read. Compaction rewrites a directory into ~target-sized files.
  - **range-partitioned sorted write**: a global sort order lets min/max
    row-group statistics prune scans (ORDER BY layout = poor-man's
    primary index). `repartitionByRange` gives disjoint file ranges;
    `sortWithinPartitions` orders rows inside each file.
  - **Z-order key**: a single sort can only serve one leading column;
    interleaving the bits of several columns yields a space-filling-curve
    key whose sort clusters ALL interleaved dimensions — every one of
    them gets usable min/max pruning from the same file order.

All three are plain DataFrame/write-API compositions — no custom
commit protocol; rewrites go to a NEW directory and the swap is the
caller's (atomic-rename / manifest) concern.

Sibling module: ``taar_gcp_etl_spark/layout.py`` is the TABLE-FORMAT
layer built on these ideas — quantile-rank (skew-robust) Z-ordering,
per-file zone maps recorded in the txn manifest, and the stats-pruned
scan planner — committed atomically through txn.py. This module's
``zorder_key`` (min-max bit scaling, a pure Column expression with no
data pass) remains the zero-cost variant for one-off sorted writes;
the table-format one spends an approxQuantile pass to stay robust
under skew.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def compact_parquet_dir(
    spark: SparkSession,
    src: str,
    dest: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    sort_cols: list[str] | None = None,
) -> int:
    """Rewrite a parquet directory into ~target-sized files; returns the
    output file count. Sizing reads the SOURCE byte size from the files
    themselves (input_file_name + metadata would need a scan anyway; the
    `_metadata` column's file_size is per-row, so distinct file paths are
    aggregated — one cheap column-pruned pass). Parquet re-encodes with
    roughly source compression, so source bytes ≈ dest bytes is the
    standard first-order estimate (Delta OPTIMIZE does the same).

    At scale: the rewrite is one shuffle (coalesce would skip it but can
    under-parallelize the read and produces unsorted output; a full
    repartition also re-balances skewed inputs)."""
    meta = (
        spark.read.parquet(src)
        .select(F.col("_metadata.file_path"), F.col("_metadata.file_size"))
        .distinct()
        .agg(F.sum("file_size").alias("bytes"))
        .collect()[0]
    )
    total_bytes = meta["bytes"] or 1
    n_files = max(1, math.ceil(total_bytes / target_file_bytes))
    df = spark.read.parquet(src)
    if sort_cols:
        out = df.repartitionByRange(n_files, *sort_cols).sortWithinPartitions(
            *sort_cols
        )
    else:
        out = df.repartition(n_files)
    out.write.mode("overwrite").parquet(dest)
    return n_files


def partition_file_counts(
    spark: SparkSession, root: str, partition_col: str = "pfx"
) -> dict[str, int]:
    """File count per hive partition of `root` — the fragmentation gauge
    that decides WHEN to compact. One column-pruned pass over the
    `_metadata` virtual columns (distinct file paths, partition value
    parsed from the path); no data pages are read."""
    rows = (
        spark.read.parquet(root)
        .select(F.col("_metadata.file_path").alias("p"))
        .distinct()
        .select(
            F.regexp_extract(
                "p", f"{partition_col}=([^/]+)/", 1
            ).alias("part")
        )
        .groupBy("part")
        .count()
        .collect()
    )
    return {r["part"]: r["count"] for r in rows}


def compact_partitions(
    spark: SparkSession,
    root: str,
    partition_col: str = "pfx",
    max_files: int = 8,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> dict[str, int]:
    """In-place small-file compaction for a hive-partitioned parquet dir:
    every partition holding more than `max_files` files is rewritten to
    ~target-sized files; untouched partitions keep their bytes. Returns
    {partition_value: files_after} for the rewritten partitions.

    This is the maintenance half of an append-only layout (the
    incremental-ingest index appends one file per touched partition per
    batch — jobs/incremental_ingest.py module docstring): appends stay
    cheap, and fragmentation is paid down on a slow cadence, per
    partition, touching only the fragmented slice of the directory (the
    Delta OPTIMIZE shape, expressed on plain parquet).

    The swap uses the Hadoop FileSystem API (renames), so it is
    object-store/HDFS-correct, not a driver-local `os.rename`, and it
    NEVER deletes the live data before the replacement is in place:
    src → .old backup, staged → src, then drop the backup. A crash
    between the two renames leaves the rows in the dot-prefixed backup
    instead of destroyed; the next invocation detects the orphaned
    backup (src missing) and restores it before compacting. The swap is
    still NOT atomic for concurrent readers — run it from the writer
    that owns the directory (the ingest maintenance window), the same
    single-writer assumption the append path already makes."""
    jvm = spark._jvm  # type: ignore[attr-defined]
    hpath = jvm.org.apache.hadoop.fs.Path
    fs = hpath(root).getFileSystem(
        spark._jsc.hadoopConfiguration()  # type: ignore[attr-defined]
    )

    def _paths(part: str) -> tuple[str, str, str]:
        src = f"{root}/{partition_col}={part}"
        # dot-prefixed: invisible to parquet listings mid-swap
        return (
            src,
            f"{root}/.compact_{partition_col}={part}",
            f"{root}/.old_{partition_col}={part}",
        )

    def _rename(a: str, b: str) -> None:
        # Hadoop FileSystem.rename signals failure by RETURNING FALSE
        # (not raising) — e.g. the destination already exists, in which
        # case HDFS semantics would MOVE a INTO b as a nested dir.
        # Unchecked, that silently corrupts the partition while the
        # function reports success; so every swap step is verified.
        if not fs.rename(hpath(a), hpath(b)):
            raise IOError(f"rename failed: {a} -> {b}")

    def _delete(a: str) -> None:
        if fs.exists(hpath(a)) and not fs.delete(hpath(a), True):
            raise IOError(f"delete failed: {a}")

    # crash recovery: a previous run that died mid-swap left the rows in
    # the backup dir with no live partition — restore before proceeding
    status = fs.globStatus(hpath(f"{root}/.old_{partition_col}=*"))
    for st in status or []:
        bak = st.getPath()
        part = bak.getName().split("=", 1)[1]
        src = f"{root}/{partition_col}={part}"
        if not fs.exists(hpath(src)):
            _rename(bak.toString(), src)
        else:
            _delete(bak.toString())  # swap completed; stale backup

    counts = partition_file_counts(spark, root, partition_col)
    todo = sorted(p for p, n in counts.items() if n > max_files)
    done: dict[str, int] = {}
    for part in todo:
        src, tmp, bak = _paths(part)
        _delete(tmp)  # stale staging from a pre-write crash
        n = compact_parquet_dir(
            spark, src, tmp, target_file_bytes=target_file_bytes
        )
        _rename(src, bak)
        _rename(tmp, src)
        _delete(bak)
        done[part] = n
    return done


def sorted_range_write(
    df: DataFrame, dest: str, sort_cols: list[str], n_files: int
) -> None:
    """Globally-ordered parquet write: disjoint per-file key ranges
    (repartitionByRange samples the key distribution, so skewed keys still
    split evenly) + in-file ordering. A reader filtering on a sort_cols
    prefix prunes whole files via footer min/max before touching data."""
    (
        df.repartitionByRange(n_files, *sort_cols)
        .sortWithinPartitions(*sort_cols)
        .write.mode("overwrite")
        .parquet(dest)
    )


def zorder_key(cols: list[Column | str], bits: int = 16) -> Column:
    """Z-order (Morton) key: interleave the top `bits` bits of each
    column's 0..2^bits-1 rank proxy into one BIGINT sort key. Sorting by
    it clusters every interleaved dimension at once — multi-column min/max
    pruning from a single file order (the Delta/Iceberg OPTIMIZE ZORDER
    primitive, expressed as a pure Column).

    Caller maps each column onto a bounded non-negative integer first
    (e.g. `F.hash(c) & ((1<<bits)-1)` for categoricals, or a scaled
    min-max for numerics); this function only interleaves. Pure bit
    arithmetic — codegen'd, no UDF, no shuffle of its own."""
    ncols = len(cols)
    if ncols * bits > 63:
        raise ValueError("interleaved width must fit a signed BIGINT")
    cs = [F.col(c).cast("long") if isinstance(c, str) else c.cast("long") for c in cols]

    out = F.lit(0).cast("long")
    for b in range(bits):
        for i, c in enumerate(cs):
            # source bit b of column i → output bit b*ncols + i
            out = out + (
                F.shiftright(c, b).bitwiseAND(F.lit(1))
                * F.lit(1 << (b * ncols + i)).cast("long")
            )
    return out
