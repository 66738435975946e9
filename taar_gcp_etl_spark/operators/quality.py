"""Data-quality gate operators (SURVEY.md §2.3 A4/A5).

The reference guards artifact emission with runtime assertions; the engine
keeps them as explicit operators so pipelines fail loudly before writing.
The gates judge the rows an artifact job has already collected for its
write (artifacts are catalog-scale), so they add no Spark action.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# C4-style corpus-quality thresholds (the quality_filter rulepack). Kept as
# DATA — a one-row config table joined onto the corpus — so a deployment can
# version rulepacks per snapshot or A/B them without code changes.
DEFAULT_QUALITY_RULES = {
    "min_tokens": 20,
    "min_avg_len": 3.0,
    "max_avg_len": 12.0,
    "min_stop_ratio": 0.01,
}


def default_rulepack(spark: SparkSession) -> DataFrame:
    """The quality-filter threshold table (one row). In production this is a
    small versioned table read from storage; the defaults reproduce the r1
    literal thresholds exactly. Built as plan-side literals (range(1) +
    lit), NOT createDataFrame — a Python-list DataFrame plans as a
    Python-RDD scan whose broadcast costs a py4j round-trip per query."""
    from pyspark.sql import functions as F

    r = DEFAULT_QUALITY_RULES
    return spark.range(1).select(
        F.lit(r["min_tokens"]).cast("int").alias("min_tokens"),
        F.lit(r["min_avg_len"]).cast("double").alias("min_avg_len"),
        F.lit(r["max_avg_len"]).cast("double").alias("max_avg_len"),
        F.lit(r["min_stop_ratio"]).cast("double").alias("min_stop_ratio"),
    )


class ShortWhitelistError(RuntimeError):
    """A4 — distinct-count threshold gate tripped
    (reference: taar_etl/taar_update_whitelist.py:22-24,70-73)."""


class EmptyWhitelistError(RuntimeError):
    """A5 — empty-result gate tripped (reference: taar_etl/taar_utils.py:95-96)."""


def require_min_rows(
    rows: Sequence, minimum: int, allow_short: bool = False
) -> Sequence:
    """A4 — raise ShortWhitelistError if the collected ``rows`` number
    fewer than `minimum` (taar_etl/taar_update_whitelist.py:70-73;
    --allow-shortlist escape hatch at :84)."""
    if not allow_short and len(rows) < minimum:
        raise ShortWhitelistError(
            f"quality gate: fewer than {minimum} rows"
        )
    return rows


def require_non_empty(rows: Sequence) -> Sequence:
    """A5 — raise EmptyWhitelistError on empty collected ``rows``
    (taar_etl/taar_utils.py:95-96: 'Empty AMO whitelist detected')."""
    if not rows:
        raise EmptyWhitelistError("quality gate: empty result")
    return rows


def column_profile(
    df: DataFrame,
    cols: list[str],
    include_rows: bool = False,
    approx: bool = False,
    exact_decimals: int | None = None,
) -> DataFrame:
    """Data-validation profile: per-column null count, exact distinct
    count, min/max/mean — the expectation-suite statistics a pipeline
    checks before promoting a batch. ONE scan over the table in every
    mode — never one scan per column.

    Exact path (r12): MELT the columns to (gid, value) rows (posexplode
    of the casted column array) and aggregate in two levels — partial
    count per (gid, value), then per-gid merge where n_distinct is
    simply the non-null group count. The naive alternative (one agg with
    |cols| count(DISTINCT)s) plans an Expand whose first-level aggregate
    keys on EVERY profiled column at once — ~|rows| mostly-unique wide
    groups carrying 5·|cols| buffers through the exchange. The melt
    shuffles only (gid, value, count) per distinct value: measured
    4.9 s → ~1.5 s warm at sf0.1 (4 lineitem columns). Every statistic
    is exact and bit-identical: min/max/null-count distribute over the
    value groups, and the integer-scaled mean is order-independent by
    construction. A zero-weight null seed row per gid keeps the
    empty/all-null batch contract: one output row per requested column,
    always (validate_batch fails closed on its NULL min/max).

    `approx=True` is the 100 TB path — `approx_count_distinct` (HLL++,
    ~2% relative error) keeps the plan a single partial-aggregate pass
    with no melt fan-out at all, and a gate threshold rarely needs
    exactness. The exact default stays for oracle parity.
    Numeric columns only (min/max/mean stay DOUBLE and engine-portable;
    string min/max casts differ between engines in timestamp formatting).
    `include_rows=True` appends the batch row count to every output row
    (same value repeated — it rides the same aggregate, for consumers
    that need rates, e.g. validate_batch's null-rate bound).

    ``exact_decimals=d`` computes the mean over INTEGER-scaled values
    (sum of round(col·10^d) longs, divided back) — for fixed-decimal
    domains (money, rates) the sum is then order-independent and
    engine-exact, where a double AVG over millions of rows differs in
    the last ulp between engines' summation orders and can flip the
    rounded 6th decimal (observed: l_discount mean 0.0499185 at sf0.01
    — exactly on the rounding boundary). Long cents overflow at ~9·10^18
    total scaled units; at that scale switch the cast to decimal(38,0).
    With ``exact_decimals=None`` the mean is the weighted double sum
    over value groups — same value up to float summation order (use
    exact_decimals for oracle-paired fixed-decimal domains).
    """
    if approx:
        aggs = []
        for c in cols:
            col = F.col(c).cast("double")
            if exact_decimals is None:
                mean = F.round(F.avg(col), 6)
            else:
                scale = 10 ** exact_decimals
                mean = F.round(
                    F.sum(F.round(col * scale, 0).cast("long"))
                    / (F.lit(float(scale)) * F.count(col)),
                    6,
                )
            aggs += [
                F.sum(F.when(col.isNull(), 1).otherwise(0)).alias(
                    f"{c}__nn"
                ),
                F.approx_count_distinct(col).alias(f"{c}__nd"),
                F.min(col).alias(f"{c}__mn"),
                F.max(col).alias(f"{c}__mx"),
                mean.alias(f"{c}__mean"),
            ]
        if include_rows:
            aggs.append(F.count(F.lit(1)).alias("__nrows"))
        wide = df.agg(*aggs)
        tail = ", __nrows" if include_rows else ""
        out_cols = (
            "(column, n_nulls, n_distinct, min_val, max_val, mean_val"
            + (", n_rows)" if include_rows else ")")
        )
        stack_args = ", ".join(
            f"'{c}', {c}__nn, {c}__nd, {c}__mn, {c}__mx, {c}__mean{tail}"
            for c in cols
        )
        return wide.selectExpr(
            f"stack({len(cols)}, {stack_args}) AS {out_cols}"
        )

    melted = df.select(
        F.posexplode(
            F.array(*[F.col(c).cast("double") for c in cols])
        ).alias("gid", "value")
    )
    per_val = melted.groupBy("gid", "value").agg(
        F.count(F.lit(1)).alias("_n")
    )
    # zero-weight seed per gid: guarantees one output row per requested
    # column even for an empty batch (weight 0 perturbs no statistic —
    # a null value adds nothing to n_distinct/min/max/mean, and _n=0
    # adds nothing to the counts)
    seeds = df.sparkSession.range(len(cols)).select(
        F.col("id").cast("int").alias("gid"),
        F.lit(None).cast("double").alias("value"),
        F.lit(0).cast("long").alias("_n"),
    )
    per_val = per_val.unionByName(seeds)
    n_nonnull = F.sum(
        F.when(F.col("value").isNotNull(), F.col("_n")).otherwise(F.lit(0))
    )
    if exact_decimals is None:
        # ADVICE r12 boundary note: this float mean sums value×count
        # over DISTINCT-value groups, which equals the r11 avg-over-raw-
        # rows only up to float summation order — a mean sitting exactly
        # on a round-6 boundary can flip its last digit for external
        # callers. Registry call sites are unaffected (all pass
        # exact_decimals, whose integer-scaled sum is order-independent
        # by construction); callers needing bit-stable float means
        # should pass exact_decimals too.
        mean = F.round(F.sum(F.col("value") * F.col("_n")) / n_nonnull, 6)
    else:
        scale = 10 ** exact_decimals
        mean = F.round(
            F.sum(
                F.round(F.col("value") * scale, 0).cast("long")
                * F.col("_n")
            )
            / (F.lit(float(scale)) * n_nonnull),
            6,
        )
    aggs = [
        F.sum(
            F.when(F.col("value").isNull(), F.col("_n")).otherwise(F.lit(0))
        ).alias("n_nulls"),
        F.count("value").alias("n_distinct"),
        F.min("value").alias("min_val"),
        F.max("value").alias("max_val"),
        mean.alias("mean_val"),
    ]
    if include_rows:
        aggs.append(F.sum("_n").alias("n_rows"))
    names = F.array(*[F.lit(c) for c in cols])
    return (
        per_val.groupBy("gid")
        .agg(*aggs)
        .select(
            F.element_at(names, F.col("gid") + 1).alias("column"),
            "n_nulls",
            "n_distinct",
            "min_val",
            "max_val",
            "mean_val",
            *(["n_rows"] if include_rows else []),
        )
    )


def validate_batch(
    df: DataFrame,
    expectations: DataFrame,
    exact_decimals: int | None = None,
) -> DataFrame:
    """Expectation-suite gate: check a batch's column profile against
    bounds stored as DATA — (column, min_allowed, max_allowed,
    max_null_rate, min_distinct) — and emit one verdict row per column
    with the measured statistics and an `ok` flag. The
    promote-or-quarantine decision input for a pipeline landing zone.

    Bounds live in a table (broadcast, like the quality rulepack and the
    sampling rate table): tightening a gate is a config change. The
    profile is ONE aggregate pass (column_profile) regardless of how many
    expectations there are; the join adds nothing at scale (|cols| rows).
    A column whose min/max are NULL (all-null batch) fails closed."""
    cols = [r["column"] for r in expectations.select("column").collect()]
    prof = column_profile(
        df, cols, include_rows=True, exact_decimals=exact_decimals
    )
    joined = prof.join(F.broadcast(expectations), "column")
    ok = (
        ((F.col("n_nulls") / F.col("n_rows")) <= F.col("max_null_rate"))
        & (F.col("n_distinct") >= F.col("min_distinct"))
        & (F.col("min_val") >= F.col("min_allowed"))
        & (F.col("max_val") <= F.col("max_allowed"))
    )
    return joined.select(
        "column",
        "n_nulls",
        "n_distinct",
        "min_val",
        "max_val",
        "mean_val",
        F.coalesce(ok, F.lit(False)).cast("int").alias("ok"),
    )


def winsorize(
    df: DataFrame,
    col: str,
    p_lo: float = 0.01,
    p_hi: float = 0.99,
) -> DataFrame:
    """Winsorization — clip a numeric column to its [p_lo, p_hi]
    percentiles, the standard outlier containment before statistics or
    model features (a fat-fingered 1e9 in a price column otherwise owns
    every mean and every gradient).

    Two passes by necessity (the bounds ARE global statistics): one
    percentile aggregate (partial-aggregated like any agg), then the
    single bounds row broadcast-joins back and the clip is a pure Column
    `least(greatest(...))`. Exact interpolated percentile for engine
    parity (the oracle's quantile_cont); at 100 TB swap
    `approx_percentile` in — a clip bound rarely needs exactness.
    Adds `{col}_w`; NULLs pass through unclipped (no value to contain)."""
    bounds = df.agg(
        F.percentile(col, p_lo).alias("_lo"),
        F.percentile(col, p_hi).alias("_hi"),
    )
    return (
        df.join(F.broadcast(bounds))
        .withColumn(
            f"{col}_w",
            F.least(F.greatest(F.col(col), F.col("_lo")), F.col("_hi")),
        )
        .drop("_lo", "_hi")
    )
