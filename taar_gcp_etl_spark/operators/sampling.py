"""Deterministic sampling for training-data pipelines.

Random `df.sample()` is unusable for a reproducible 100 TB corpus build:
re-running the job must select the SAME rows (resumable shards, A/B-able
ablations, and an oracle can't check a nondeterministic sample). Both
operators here key the decision on an md5 hash of a stable row key —
engine-portable (exact DuckDB twins, same trick as the dedup family),
uniform, and independent of partitioning / execution order.

Scale design:
  - `stratified_sample` is a broadcast join against a tiny per-stratum
    rate table plus a pure Column predicate — zero shuffle on the corpus;
    Catalyst pushes the projection into the scan and the filter runs
    inside whole-stage codegen.
  - `deterministic_take_n` ranks by hash within each stratum — one
    shuffle on the stratum key, the same exchange any per-stratum
    aggregation would need. For strata too hot for a single partition,
    pre-filter with `stratified_sample` at a rate that overshoots n, then
    take-n over the survivors (documented two-phase shape).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from taar_gcp_etl_spark.functions import tokens

HASH_BUCKETS = 10_000


def hash_bucket(key: Column, buckets: int = HASH_BUCKETS) -> Column:
    """Deterministic uniform bucket in [0, buckets): first 8 hex chars of
    md5(key) as an integer, mod buckets. Stable across runs, engines, and
    partitionings — DuckDB twin:
    ('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 8))::BIGINT % buckets."""
    h = F.conv(F.substring(F.md5(key.cast("string")), 1, 8), 16, 10)
    return F.pmod(h.cast("long"), F.lit(buckets))


def hash_bucket_fast(key: Column, buckets: int = HASH_BUCKETS) -> Column:
    """JVM-native variant of `hash_bucket`: xxhash64 on the raw value, no
    string conversion / md5 / base conversion. Measured 7× cheaper per row
    (10M longs, local[32]: 0.29 s vs 2.13 s) — at 100 TB that difference is
    the whole sampling pass. Same contract (deterministic, uniform,
    partition-independent) but NOT portable across engines, so oracle-
    paired queries keep `hash_bucket`; production corpus builds that don't
    need cross-engine reproducibility should pass this one in."""
    return F.pmod(F.xxhash64(key), F.lit(buckets))


def stratified_sample(
    df: DataFrame,
    rates: DataFrame,
    strata_col: str,
    key_col: str,
    buckets: int = HASH_BUCKETS,
    bucket_fn=hash_bucket,
) -> DataFrame:
    """Per-stratum deterministic rate sampling: keep a row iff
    hash_bucket(key) < rate(stratum) × buckets. `rates` is a
    (strata_col, rate) table — thresholds as DATA, broadcast in, so a
    corpus rebalance is a config change, not a code change. A stratum
    absent from `rates` is dropped (rate 0). Pass
    `bucket_fn=hash_bucket_fast` for the JVM-native production path."""
    keep = bucket_fn(F.col(key_col), buckets) < (
        F.col("rate") * F.lit(buckets)
    )
    return (
        df.join(F.broadcast(rates), strata_col)
        .filter(keep)
        .drop("rate")
    )


def deterministic_take_n(
    df: DataFrame,
    strata_col: str,
    key_col: str,
    n: int,
    buckets: int = HASH_BUCKETS,
) -> DataFrame:
    """Exactly min(n, |stratum|) rows per stratum, chosen by hash order —
    the deterministic replacement for per-group reservoir sampling. Ties
    on the bucket break by key for full determinism."""
    w = Window.partitionBy(strata_col).orderBy(
        hash_bucket(F.col(key_col), buckets).asc(), F.col(key_col).asc()
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= n)
        .drop("_rn")
    )


def select_token_budget(
    docs: DataFrame,
    budget_tokens: int,
    score_col: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_partitions: int | None = None,
) -> DataFrame:
    """Quality-ordered token-budget selection: walk the corpus in
    (score DESC, id) order and keep every document that still fits
    entirely inside `budget_tokens` — "train on the best N tokens", the
    subset-selection step after scoring (the data-constrained regime's
    counterpart to source mixing).

    The cumulative token count is a GLOBAL prefix sum in score order —
    computed with the two-phase distributed scan
    (packing.distributed_prefix_sum), never an unpartitioned ordered
    window: only the narrow (id, score, n_tokens) projection shuffles,
    and the single-task global-sort funnel never appears. A document that
    straddles the boundary is dropped (strict fit), so the selection is
    exactly reproducible for a given scoring.

    Returns (id_col, n_tokens, cum_before) for the selected documents.
    """
    from taar_gcp_etl_spark.operators.packing import distributed_prefix_sum

    counts = docs.select(
        F.col(id_col),
        F.col(score_col).alias("_score"),
        F.when(F.col(text_col).isNull(), F.lit(0))
        .otherwise(F.size(tokens(text_col)))
        .alias("n_tokens"),
    )
    summed = distributed_prefix_sum(
        counts,
        "n_tokens",
        [F.desc("_score"), F.asc(id_col)],
        num_partitions,
    )
    return summed.filter(
        F.col("cum_before") + F.col("n_tokens") <= F.lit(budget_tokens)
    ).select(id_col, "n_tokens", "cum_before")


def weighted_sample_n(
    df: DataFrame,
    n: int,
    weight_col: str,
    key_col: str,
    buckets: int = HASH_BUCKETS,
) -> DataFrame:
    """Weighted sampling WITHOUT replacement, deterministic: the
    Efraimidis-Spirakis exponential-key scheme. Each row gets
    key = ln(u) / w with u uniform in (0,1); the n LARGEST keys are
    exactly an n-item weighted sample without replacement. u comes from
    the md5 hash bucket ((bucket + 0.5) / buckets — never 0 or 1), so the
    sample is reproducible across runs, engines, and partitionings, and
    resumable per shard — the same reasons stratified_sample hashes.

    Scale shape: key assignment is a pure Column map; the top-n is a
    TakeOrdered (per-partition heads + driver merge), never a global
    sort. n is assumed driver-merge small (a sample, not a re-shard).

    Rows with weight <= 0 or NULL are excluded (zero selection mass).
    Returns the sampled rows with their `_es_key` dropped."""
    u = (hash_bucket(F.col(key_col), buckets) + F.lit(0.5)) / F.lit(
        float(buckets)
    )
    w = F.col(weight_col).cast("double")
    keyed = df.filter(w > 0).withColumn("_es_key", F.log(u) / w)
    # key_col tiebreak: equal weights + a bucket collision would otherwise
    # leave the boundary of the sample engine/partition-dependent
    return (
        keyed.orderBy(F.col("_es_key").desc(), F.col(key_col).asc())
        .limit(n)
        .drop("_es_key")
    )


def interleave_sources(
    df: DataFrame,
    weights: DataFrame,
    source_col: str = "source",
    key_col: str = "doc_id",
) -> DataFrame:
    """Deterministic weighted interleave: assign every row the global
    mixing key (rank_in_source − 0.5) / weight — the classic stride
    interleave. Reading the corpus in key order yields each source at a
    rate proportional to its weight from the very first row (a source at
    weight 2 contributes twice as densely as weight 1), which is what a
    training run needs from the source_mix weights: not just a target
    RATIO but an ORDER that honors it in every prefix.

    `weights` is a (source_col, weight) DATA table — broadcast, like the
    sampling rates and the expectation bounds. Per-source rank is a
    partitioned window (parallel; a source is the natural unit a window
    can hold) and the key is a pure Column — this op never globally
    sorts. Consumers hand `mix_key` to the machinery that already avoids
    the global-sort funnel: pack_sequences' range-partitioned prefix sum
    or a repartitionByRange sharded write.

    Rows whose source is absent from `weights` are dropped (weight 0 —
    same contract as stratified_sample)."""
    w = Window.partitionBy(source_col).orderBy(F.col(key_col).asc())
    return (
        df.join(F.broadcast(weights), source_col)
        .withColumn("_rn", F.row_number().over(w))
        .withColumn(
            "mix_key",
            (F.col("_rn") - F.lit(0.5)) / F.col("weight"),
        )
        .drop("weight")
        .withColumnRenamed("_rn", "rank_in_source")
    )
