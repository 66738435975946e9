"""Sequence packing — assign documents to fixed-length training sequences.

LLM pretraining consumes documents concatenated in a deterministic order and
chunked into fixed-length sequences (e.g. 2048 tokens); the packing map
(doc → sequence id / offset) is what a data loader needs to slice the right
tokens. The core of the computation is a GLOBAL prefix sum of token counts
in document order — the textbook anti-pattern is an unpartitioned ordered
window over doc_id, which funnels 100 TB through a single task.

This module computes the prefix sum with the classic two-phase distributed
scan instead (`distributed_prefix_sum`, also the engine of the
token-budget selector in operators/sampling.py):

1. range-partition the narrow (key, value) projection by the order keys
   (so partition p holds a contiguous key range and all of partition p's
   keys precede partition p+1's),
2. cumulative-sum WITHIN each partition (a partitioned window — parallel),
3. aggregate one total per partition (tiny: #partitions rows), prefix-sum
   those on the driver, and add each row's partition base offset from a
   literal array indexed by partition id.

Only the narrow projection shuffles; the driver handles #partitions
integers. Every step is Catalyst-planned (no Python row path).

reference analog: none — the reference ships profiles to a serving store
(taar_etl/taar_profile_bigtable.py) rather than packing tokens; this is
part of the LLM-training-data surface layered on top of its ETL shapes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window

from taar_gcp_etl_spark.functions import tokens


def distributed_prefix_sum(
    df: DataFrame,
    value_col: str,
    order_cols: list[str | Column],
    num_partitions: int | None = None,
) -> DataFrame:
    """EXCLUSIVE global prefix sum of `value_col` in `order_cols` order:
    adds `cum_before` = sum of value over all strictly-preceding rows.
    `order_cols` must be a total order (add a unique tiebreak column).

    Two-phase distributed scan (see module docstring) — no global-window
    single-task funnel. The returned plan reads a persisted intermediate
    (the scanned projection is consumed twice: partition totals + the
    final projection); the CALLER owns eviction via spark.catalog.clearCache()
    or by materializing the result (same convention as the persisted LSH
    signature relation in operators/dedup.py)."""
    if num_partitions is not None:
        ranged = df.repartitionByRange(num_partitions, *order_cols)
    else:
        ranged = df.repartitionByRange(*order_cols)
    with_pid = ranged.withColumn("_pid", F.spark_partition_id())

    # Phase 2: per-partition running sum (parallel — every window has a
    # partition key, never a global orderBy).
    w = (
        Window.partitionBy("_pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    from pyspark import StorageLevel

    local = with_pid.withColumn(
        "_local_cum", F.sum(value_col).over(w)
    ).persist(StorageLevel.MEMORY_AND_DISK)

    # Phase 3: one total per partition → driver-side prefix → a literal
    # array of base offsets indexed by _pid. Range partitioning guarantees
    # pid order == order_cols order. A literal, not a joined createDataFrame:
    # that plans as a Python-RDD scan, which every action on the result
    # would run again as one more Spark job to broadcast it.
    totals = dict(
        local.groupBy("_pid")
        .agg(F.max("_local_cum").alias("_ptotal"))
        .collect()
    )
    base, bases = 0, []
    for pid in range(max(totals, default=-1) + 1):
        bases.append(F.lit(base).cast("bigint"))
        base += totals.get(pid, 0)
    base_of_pid = F.element_at(F.array(*bases), F.col("_pid") + 1)

    return local.withColumn(
        "cum_before",
        base_of_pid + F.col("_local_cum") - F.col(value_col),
    ).drop("_pid", "_local_cum")


def pack_sequences(
    docs: DataFrame,
    seq_len: int,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_partitions: int | None = None,
    shuffle: bool = False,
) -> DataFrame:
    """Concat-then-chunk packing: documents are laid end-to-end in `id_col`
    order and sliced every `seq_len` tokens. Each doc is assigned the
    sequence containing its FIRST token; docs longer than the remaining
    room span into subsequent sequences (`n_seqs_spanned`).

    `shuffle=True` packs in DETERMINISTIC PSEUDO-RANDOM global order
    (xxhash64(id), id) instead of id order: crawl-ordered corpora are
    domain-correlated, so id-order packing fills each training sequence
    with near-neighbor documents — hash order is the distributed,
    reproducible equivalent of a global random permutation (same two-phase
    scan, the range partitioning just keys on the hash; no extra pass,
    and a re-run still reproduces byte-identical shard membership).

    Returns (id_col, n_tokens, tokens_before, seq_id, offset_in_seq,
    n_seqs_spanned) where `tokens_before` is the exact global prefix sum.
    """
    # NULL text contributes 0 tokens: under ANSI-off, size(NULL array) is
    # -1, which would silently shift the prefix sum of every later doc
    counts = docs.select(
        F.col(id_col),
        F.when(F.col(text_col).isNull(), F.lit(0))
        .otherwise(F.size(tokens(text_col)))
        .alias("n_tokens"),
    )
    return pack_positions(
        counts, seq_len, id_col=id_col, num_partitions=num_partitions,
        shuffle=shuffle,
    )


def pack_positions(
    rows: DataFrame,
    seq_len: int,
    *,
    id_col: str = "doc_id",
    num_partitions: int | None = None,
    shuffle: bool = False,
) -> DataFrame:
    """pack_sequences for rows that already carry their `n_tokens` (an
    encoded corpus): every column of `rows`, then tokens_before, seq_id,
    offset_in_seq and n_seqs_spanned. The rows ride through the prefix
    sum, so a caller needs no join back on `id_col`."""
    cols = rows.columns
    # the global packing order: id, or (hash, id) for shuffled packing —
    # the hash tiebreak on id keeps the order total (collisions possible)
    if shuffle:
        rows = rows.withColumn("_ord", F.xxhash64(F.col(id_col)))
        order_cols = ["_ord", id_col]
    else:
        order_cols = [id_col]

    summed = distributed_prefix_sum(
        rows, "n_tokens", order_cols, num_partitions
    )

    tokens_before = F.col("cum_before")
    last_token = tokens_before + F.greatest(
        F.col("n_tokens") - 1, F.lit(0)
    )
    seq_id = F.floor(tokens_before / seq_len)
    return summed.select(
        *cols,
        tokens_before.alias("tokens_before"),
        seq_id.alias("seq_id"),
        (tokens_before % seq_len).alias("offset_in_seq"),
        (F.floor(last_token / seq_len) - seq_id + 1).alias(
            "n_seqs_spanned"
        ),
    )
