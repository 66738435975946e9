"""Window-function and event-time-window operators (SURVEY.md §2.11, A7).

The reference's nearest analogues are per-key "latest" selection (A7,
taar_etl/taar_amodump.py:228-243 last-page/last-element) and the grouped
top-k contract (§2.10). Everything here is a single shuffle on the partition
key; event-time windows are batch `F.window` aggregations.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def per_key_latest(
    df: DataFrame, key: str, order: list[Column]
) -> DataFrame:
    """A7 generalized — latest row per key
    (reference semantics: results[-1] / last page,
    taar_etl/taar_amodump.py:228-243): row_number over desc order == 1.
    Callers pass a total order for determinism."""
    w = Window.partitionBy(key).orderBy(*order)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def running_aggregates(
    df: DataFrame, key: str, order: list[Column], carry: list[str], value: str
) -> DataFrame:
    """§2.11 — analytic window suite over one (key, order) window: running
    sum, lag, lead, rank. One shuffle, one sort, all four computed in the
    same window frame pass."""
    w = Window.partitionBy(key).orderBy(*order)
    running = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return df.select(
        F.col(key),
        *[F.col(c) for c in carry],
        F.col(value),
        F.sum(value).over(running).alias("running_sum"),
        F.lag(value, 1).over(w).alias("prev_value"),
        F.lead(value, 1).over(w).alias("next_value"),
        F.row_number().over(w).alias("rn"),
    )


def tumbling_window_agg(
    df: DataFrame, ts: str, width: str, group_cols: list[str], aggs: list[Column]
) -> DataFrame:
    """§2.11 — tumbling event-time window: `F.window(ts, width)`."""
    return (
        df.groupBy(F.window(ts, width).alias("win"), *group_cols)
        .agg(*aggs)
        .withColumn("window_start", F.col("win.start"))
        .drop("win")
    )


def sliding_window_agg(
    df: DataFrame, ts: str, width: str, slide: str, group_cols: list[str],
    aggs: list[Column],
) -> DataFrame:
    """§2.11 — sliding window: each event contributes to width/slide windows.
    Spark expands the event into its windows before the aggregate — the
    shuffle carries the fan-out, so keep width/slide small at scale."""
    return (
        df.groupBy(F.window(ts, width, slide).alias("win"), *group_cols)
        .agg(*aggs)
        .withColumn("window_start", F.col("win.start"))
        .drop("win")
    )


def sessionize_gaps_and_islands(
    df: DataFrame, key: str, ts: str, gap_seconds: int
) -> DataFrame:
    """Sessionization via lag + cumulative sum (the classic gaps-and-islands
    rewrite): it gives each event its session id (`F.session_window` only
    aggregates) and is the SQL-expressible form the DuckDB oracle can
    verify."""
    w = Window.partitionBy(key).orderBy(F.col(ts))
    gap_flag = (
        F.when(
            F.unix_timestamp(F.col(ts))
            - F.unix_timestamp(F.lag(ts, 1).over(w))
            > gap_seconds,
            1,
        )
        .otherwise(0)
    )
    running = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return df.withColumn("session_id", F.sum(gap_flag).over(running))


def rollup_cascade(
    df: DataFrame,
    ts: str = "ts",
    group_cols: list[str] | None = None,
    value: str = "value",
    resolutions: tuple[str, ...] = ("minute", "hour", "day"),
) -> DataFrame:
    """Multi-resolution time rollup (the hypertable "continuous aggregate"
    shape): the finest grain aggregates the RAW table once; every coarser
    grain re-aggregates the previous grain's partials. At 100 TB the raw
    scan is the dominant cost — cascading means one scan feeds every
    resolution, and each coarser level shuffles only ~#buckets rows, not
    the corpus. Values are summed as integer cents from the finest grain
    so the cascade is exact under any aggregation order (engine-portable).

    Returns one relation discriminated by `resolution`:
    (resolution, window_start, *group_cols, n, sum_value).

    Each level is persisted: it feeds both its own union branch and the
    next-coarser aggregate, and without materialization Catalyst plans
    every branch from the raw scan (verified: 3× FileScan, no
    ReusedExchange — attribute ids differ per branch, so the reuse rule
    can't match them). Partials are tiny (~#buckets rows)."""
    from pyspark import StorageLevel

    group_cols = group_cols if group_cols is not None else ["event_type"]
    level = minute_partials(df, ts, group_cols, value, resolutions[0]).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    return rollup_from_partials(level, group_cols, resolutions)


def minute_partials(
    df: DataFrame,
    ts: str = "ts",
    group_cols: list[str] | None = None,
    value: str = "value",
    resolution: str = "minute",
) -> DataFrame:
    """Finest-grain partials (window_start, *groups, n, _cents) — the one
    aggregate that touches the raw table. Works identically on a BATCH
    DataFrame and a STREAMING one (add a watermark upstream for state
    eviction): this is the continuous-aggregate producer, and
    `rollup_from_partials` derives every coarser grain from its output."""
    group_cols = group_cols if group_cols is not None else ["event_type"]
    cents = F.floor(F.col(value) * 100 + F.lit(0.5)).cast("long")
    return df.groupBy(
        F.date_trunc(resolution, F.col(ts)).alias("window_start"),
        *group_cols,
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(cents).alias("_cents"),
    )


def rollup_from_partials(
    level: DataFrame,
    group_cols: list[str] | None = None,
    resolutions: tuple[str, ...] = ("minute", "hour", "day"),
) -> DataFrame:
    """Cascade coarser grains from an existing finest-grain partials
    relation (see `minute_partials`) — the read side of a continuous
    aggregate: the stream maintains the finest grain; hour/day views are
    derived on demand without ever rescanning raw events."""
    from pyspark import StorageLevel

    group_cols = group_cols if group_cols is not None else ["event_type"]
    out = []
    for i, res in enumerate(resolutions):
        if i > 0:
            level = (
                level.groupBy(
                    F.date_trunc(res, F.col("window_start")).alias(
                        "window_start"
                    ),
                    *group_cols,
                )
                .agg(
                    F.sum("n").alias("n"),
                    F.sum("_cents").alias("_cents"),
                )
            )
            if i < len(resolutions) - 1:
                level = level.persist(StorageLevel.MEMORY_AND_DISK)
        out.append(
            level.select(
                F.lit(res).alias("resolution"),
                "window_start",
                *group_cols,
                "n",
                F.round(F.col("_cents").cast("double") / 100, 2).alias(
                    "sum_value"
                ),
            )
        )
    result = out[0]
    for o in out[1:]:
        result = result.unionByName(o)
    return result


def resample_fill(
    events: DataFrame,
    freq: str = "hour",
    ts_col: str = "ts",
    value_col: str | None = None,
) -> DataFrame:
    """Gap-filled resample: aggregate to a fixed time grain AND emit a row
    for every empty bucket between the observed min and max — the dense
    grid downstream trend fits, anomaly baselines, and charting need
    (groupBy alone silently skips empty buckets, biasing any model fit on
    the series).

    Scale shape: the per-bucket aggregate is the ordinary partial-agg
    groupBy over the events; the grid derives from ONE tiny agg (two
    timestamps to the driver side of the plan) exploded into bucket rows —
    grid size is timeline/grain (a year of minutes ≈ 526k rows). The fill
    join runs on two POST-AGGREGATE relations (grid × non-empty buckets,
    both bounded by grid size — the raw events never reshuffle for the
    fill); the aggregated side broadcasts. Empty buckets emit count 0 /
    sum 0.
    `freq` is any date_trunc grain with a matching interval: 'minute',
    'hour', 'day', 'week'."""
    step = {
        "minute": "interval 1 minute",
        "hour": "interval 1 hour",
        "day": "interval 1 day",
        "week": "interval 7 days",
    }[freq]
    bucket = F.date_trunc(freq, F.col(ts_col))
    aggs = [F.count(F.lit(1)).alias("n_events")]
    if value_col is not None:
        aggs.append(
            F.round(F.coalesce(F.sum(value_col), F.lit(0.0)), 6).alias(
                "sum_value"
            )
        )
    per_bucket = events.groupBy(bucket.alias("bucket")).agg(*aggs)
    grid = (
        events.agg(
            F.date_trunc(freq, F.min(ts_col)).alias("_mn"),
            F.date_trunc(freq, F.max(ts_col)).alias("_mx"),
        )
        .select(
            F.explode(
                F.sequence(F.col("_mn"), F.col("_mx"), F.expr(step))
            ).alias("bucket")
        )
    )
    out = grid.join(F.broadcast(per_bucket), "bucket", "left").select(
        "bucket",
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        *(
            [F.coalesce("sum_value", F.lit(0.0)).alias("sum_value")]
            if value_col is not None
            else []
        ),
    )
    return out


def time_range_rolling(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    lookback_sec: int = 3600,
) -> DataFrame:
    """Trailing TIME-range rolling aggregates per key: sum / count / avg of
    ``value_col`` over [ts − lookback, ts] — a RANGE frame, not a ROWS
    frame, so the window adapts to event density (a burst contributes all
    its rows; a quiet hour contributes few) and rows with the SAME
    timestamp are peers that see each other. This is the "last hour of
    activity per user" shape ROWS frames get subtly wrong.

    The frame is keyed on exact integer epoch-MICROSECONDS
    (`unix_micros`), never float seconds — integer range bounds are
    engine-portable (DuckDB twin: `epoch_us(ts)`), and a double frame
    bound would drift on large epochs.

    Scale: one window partitioned by the high-cardinality entity key —
    per-task state is one entity's in-frame rows; the RANGE frame adds a
    moving lower bound over the sorted run, still one pass."""
    # cast covers TIMESTAMP_NTZ inputs (unix_micros requires TIMESTAMP;
    # the session timezone is pinned UTC, so the cast is value-preserving
    # and matches DuckDB's naive epoch_us exactly)
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    w = (
        Window.partitionBy(key_col)
        .orderBy(us)
        .rangeBetween(-lookback_sec * 1_000_000, 0)
    )
    v = F.col(value_col)
    return df.select(
        *df.columns,
        F.round(F.sum(v).over(w), 6).alias("win_sum"),
        F.count(v).over(w).alias("win_n"),
        F.round(F.avg(v).over(w), 6).alias("win_avg"),
    )
