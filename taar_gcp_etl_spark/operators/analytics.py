"""Event-analytics operators: sequential funnels, cohort retention,
distribution drift.

The reference's analytics surface is ranking/aggregation over telemetry
(taar_etl/taar_lite_guid_ranking.py, taar_etl/taar_update_whitelist.py);
an events table at 100 TB additionally needs the three standard
behavioral shapes every warehouse reinvents: "how many users make it
through step k" (funnel), "does week-w's cohort come back" (retention),
and "did this batch's distribution move" (drift — the statistical twin of
operators.quality.validate_batch's hard bounds).

All three are compositions of shuffled aggregates and joins on the user /
bucket key — no windows without partitions, no driver-side loops, no
UDFs. The funnel's per-step dependency is expressed as a join chain
re-keyed on user_id each step: Catalyst keeps the exchange (every stage
shuffles on the same key, so AQE/exchange reuse collapses them), and the
per-step state is one (user, ts) row — never the user's event history.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def equal_width_bin(
    col: Column, lo: float, hi: float, n_bins: int
) -> Column:
    """Clamped equal-width bin index over [lo, hi]: values outside the
    domain land in the edge bins (the comparison stays total), NULL stays
    NULL — the when() guard is load-bearing because greatest/least SKIP
    nulls (greatest(NULL, 0) = 0 would silently file nulls into bin 0).
    Both PSI sides bin through it, so they can never disagree on edge
    handling."""
    span = (hi - lo) or 1.0
    raw = F.floor(
        (col.cast("double") - F.lit(lo)) / F.lit(span) * F.lit(n_bins)
    )
    return F.when(
        raw.isNotNull(),
        F.least(F.greatest(raw, F.lit(0)), F.lit(n_bins - 1)).cast("int"),
    )


def funnel_steps(
    events: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Strict sequential funnel: a user converts step k only with an
    event of type steps[k] STRICTLY AFTER their step-(k-1) conversion
    time (first-touch semantics: each step binds to its earliest valid
    occurrence). Returns one row per step: (step_idx, step, users),
    monotonically non-increasing.

    Shape per step: filter to the step's type (pushed to the scan when
    the source is columnar), aggregate min(ts) per user, join to the
    previous step's (user, ts) frontier and keep strictly-later events.
    Every stage shuffles on user_col only — state is one row per
    surviving user per step, so a 10-step funnel over 100 TB of events
    moves |users| rows per step, not events.

    Each frontier is PERSISTED before the next step builds on it:
    Catalyst does not reuse identical aggregate subplans across union
    branches (attribute ids differ — same finding as rollup_cascade,
    docs/NEXT.md), so without the persist branch k would recompute
    frontiers 1..k-1 from raw events (O(k²) scans). Persisted state is
    |surviving users| rows per step. The CALLER owns eviction
    (spark.catalog.clearCache() or materialize the result) — the same
    convention as distributed_prefix_sum."""
    spark = events.sparkSession
    if not steps:
        return spark.createDataFrame(
            [], "step_idx int, step string, users bigint"
        )
    counts: list[DataFrame] = []
    for i, (step, frontier) in enumerate(
        zip(steps, _funnel_frontiers(events, steps, user_col, type_col, ts_col))
    ):
        counts.append(
            frontier.agg(F.count(F.lit(1)).alias("users")).select(
                F.lit(i).alias("step_idx"),
                F.lit(step).alias("step"),
                "users",
            )
        )
    out = counts[0]
    for c in counts[1:]:
        out = out.unionByName(c)
    return out


def _funnel_frontiers(
    events: DataFrame,
    steps: list[str],
    user_col: str,
    type_col: str,
    ts_col: str,
) -> list[DataFrame]:
    """The per-step conversion frontiers behind funnel_steps /
    funnel_step_timing: one persisted (_u, _fts) relation per step —
    each user surviving step k with their step-k conversion time."""
    from pyspark import StorageLevel

    frontier: DataFrame | None = None
    out: list[DataFrame] = []
    for step in steps:
        ev = events.filter(F.col(type_col) == step).select(
            F.col(user_col).alias("_u"), F.col(ts_col).alias("_ts")
        )
        if frontier is None:
            frontier = ev.groupBy("_u").agg(F.min("_ts").alias("_fts"))
        else:
            frontier = (
                ev.join(
                    frontier.select("_u", F.col("_fts").alias("_prev")),
                    "_u",
                )
                .filter(F.col("_ts") > F.col("_prev"))
                .groupBy("_u")
                .agg(F.min("_ts").alias("_fts"))
            )
        frontier = frontier.persist(StorageLevel.MEMORY_AND_DISK)
        out.append(frontier)
    return out


def funnel_step_timing(
    events: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Time-to-convert between consecutive funnel steps: for every step
    k ≥ 1, the converting users' seconds elapsed since THEIR step-(k-1)
    conversion — (step_idx, step, users, median_secs, avg_secs). The
    speed half of the funnel (funnel_steps is the volume half): two
    funnels with identical counts but hour-vs-week step gaps are
    different products.

    Joins consecutive persisted frontiers on the user (|survivors| rows
    each side — never events), one small aggregate per step. Exact
    interpolated percentile for engine parity (same choice as
    winsorize). Same caller-owns-eviction contract as funnel_steps."""
    spark = events.sparkSession
    if len(steps) < 2:
        return spark.createDataFrame(
            [],
            "step_idx int, step string, users bigint, "
            "median_secs double, avg_secs double",
        )
    frontiers = _funnel_frontiers(events, steps, user_col, type_col, ts_col)
    parts: list[DataFrame] = []
    for i in range(1, len(steps)):
        prev_f = frontiers[i - 1].select(
            "_u", F.col("_fts").alias("_prev_ts")
        )
        # exact integer micros diff, ONE double division — mirrors the
        # oracle's (epoch_us(a) - epoch_us(b)) / 1e6 bit for bit. The
        # ntz→ltz cast is identity under the pinned UTC session (same
        # handling as trend_fit).
        delta = (
            F.unix_micros(F.col("_fts").cast("timestamp"))
            - F.unix_micros(F.col("_prev_ts").cast("timestamp"))
        ) / F.lit(1e6)
        parts.append(
            frontiers[i]
            .join(prev_f, "_u")
            .agg(
                F.count(F.lit(1)).alias("users"),
                F.round(F.percentile(delta, 0.5), 6).alias("median_secs"),
                F.round(F.avg(delta), 6).alias("avg_secs"),
            )
            .select(
                F.lit(i).alias("step_idx"),
                F.lit(steps[i]).alias("step"),
                "users",
                "median_secs",
                "avg_secs",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def cohort_retention(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    period: str = "week",
) -> DataFrame:
    """Cohort retention matrix: users bucketed by FIRST-ACTIVE period
    (the cohort), then counted in every later period they appear —
    (cohort, periods_since, n_users). The standard growth-accounting
    rollup.

    Two aggregates + one join, all keyed on user_col then on the (cohort,
    offset) pair: first-seen is a per-user min (shuffle #1), activity
    periods are a per-(user, period) distinct (same exchange — Catalyst
    reuses the user_col partitioning), the offset is date arithmetic, and
    the final count groups on a tiny key space (cohorts × offsets). The
    events relation is read once per aggregate; no user's history ever
    co-locates beyond its (user, period) distinct rows."""
    fixed_seconds = {"week": 7 * 86400, "day": 86400}
    if period not in fixed_seconds:
        raise ValueError(
            f"cohort_retention supports fixed-width periods "
            f"{sorted(fixed_seconds)}, got {period!r} (calendar periods "
            "like 'month' need months_between, not second arithmetic)"
        )
    p = F.date_trunc(period, F.col(ts_col).cast("timestamp"))
    seconds = fixed_seconds[period]
    first = events.groupBy(F.col(user_col).alias("_u")).agg(
        F.min(p).alias("cohort")
    )
    active = (
        events.select(F.col(user_col).alias("_u"), p.alias("_p"))
        .distinct()
    )
    offset = (
        (F.unix_timestamp("_p") - F.unix_timestamp("cohort"))
        / F.lit(seconds)
    ).cast("long")
    return (
        active.join(first, "_u")
        .select("cohort", offset.alias("periods_since"), "_u")
        .groupBy("cohort", "periods_since")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


def attribute_conversions(
    events: DataFrame,
    conversion_type: str,
    touch_types: list[str],
    lookback_hours: int = 24,
    model: str = "last_touch",
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Marketing-style conversion attribution: credit each conversion
    event to ONE touch event of the same user inside the lookback
    window — `last_touch` (most recent touch at-or-before the
    conversion) or `first_touch` (earliest touch inside the window).
    Returns (id_col, user_col, conv_ts, touch_type, touch_ts); a
    conversion with no in-window touch keeps null touch columns (it
    must stay visible — unattributed conversions are the metric that
    tells you the lookback is wrong).

    Shape: both sides filter by type (pushed to the scan), the join is a
    user-keyed equi-join with the time window as a residual predicate —
    per-user event counts bound the fan-out, exactly like the interval
    join family — and the per-conversion pick is a partitioned
    row_number (ties broken by touch ts then type for determinism)."""
    if model not in ("last_touch", "first_touch"):
        raise ValueError(
            f"model must be 'last_touch' or 'first_touch', got {model!r}"
        )
    conv = events.filter(F.col(type_col) == conversion_type).select(
        F.col(id_col),
        F.col(user_col),
        F.col(ts_col).alias("conv_ts"),
    )
    touch = events.filter(F.col(type_col).isin(touch_types)).select(
        F.col(user_col),
        F.col(type_col).alias("touch_type"),
        F.col(ts_col).alias("touch_ts"),
    )
    lb = F.expr(f"INTERVAL {int(lookback_hours)} HOURS")
    in_w = conv.join(touch, user_col).filter(
        (F.col("touch_ts") <= F.col("conv_ts"))
        & (F.col("touch_ts") >= F.col("conv_ts") - lb)
    )
    order = (
        [F.desc("touch_ts"), F.asc("touch_type")]
        if model == "last_touch"
        else [F.asc("touch_ts"), F.asc("touch_type")]
    )
    w = Window.partitionBy(id_col).orderBy(*order)
    credited = (
        in_w.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(id_col, user_col, "conv_ts", "touch_type", "touch_ts")
    )
    unattributed = conv.join(
        credited.select(id_col), id_col, "left_anti"
    ).select(
        id_col,
        user_col,
        "conv_ts",
        F.lit(None).cast("string").alias("touch_type"),
        F.lit(None).cast(conv.schema["conv_ts"].dataType).alias(
            "touch_ts"
        ),
    )
    return credited.unionByName(unattributed)


def event_transitions(
    events: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """First-order journey transitions: count (from_type → to_type) over
    each user's time-ordered event sequence — the Markov matrix behind
    "what do users do next", and the sanity input for funnel-step design
    (a step pair users never traverse adjacently is a funnel that will
    never convert).

    One partitioned lag window per user (a user's events are the natural
    window unit, same contract as sessionize) + one small-key aggregate;
    ties on ts break by id_col so the sequence — and therefore the
    matrix — is deterministic under concurrent timestamps."""
    w = Window.partitionBy(user_col).orderBy(
        F.col(ts_col).asc(), F.col(id_col).asc()
    )
    return (
        events.select(
            F.lag(type_col).over(w).alias("from_type"),
            F.col(type_col).alias("to_type"),
        )
        .filter(F.col("from_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def distribution_psi(
    a: DataFrame,
    b: DataFrame,
    value_col: str,
    lo: float,
    hi: float,
    n_bins: int = 10,
    eps: float = 1e-6,
) -> DataFrame:
    """Population Stability Index between two batches of a numeric
    column — the drift gate that catches what validate_batch's hard
    bounds can't (the batch is in-range but the SHAPE moved; PSI > 0.2
    is the conventional "investigate" line). Returns one row per bin:
    (bin, share_a, share_b, psi_term); SUM(psi_term) is the index.

    Bins are equal-width over a CALLER-SUPPLIED [lo, hi] (at 100 TB the
    bounds come from table stats or the expectation suite, not a scan;
    out-of-range values clamp into the edge bins, so the comparison is
    total). Each side is one partial-aggregated groupBy on a ≤n_bins key
    — two scans, a 2×n_bins-row join, zero rows of data movement beyond
    the bin counts. `eps` smooths empty bins so the log stays finite."""
    def binned(df: DataFrame, name: str) -> DataFrame:
        clamped = equal_width_bin(F.col(value_col), lo, hi, n_bins)
        counted = (
            df.filter(F.col(value_col).isNotNull())
            .select(clamped.alias("bin"))
            .groupBy("bin")
            .agg(F.count(F.lit(1)).alias("_n"))
        )
        total = counted.agg(F.sum("_n").alias("_tot"))
        return counted.crossJoin(F.broadcast(total)).select(
            "bin", (F.col("_n") / F.col("_tot")).alias(name)
        )

    sa, sb = binned(a, "_sa"), binned(b, "_sb")
    grid = a.sparkSession.range(n_bins).select(
        F.col("id").cast("int").alias("bin")
    )
    share_a = F.coalesce(F.col("_sa"), F.lit(0.0)) + F.lit(eps)
    share_b = F.coalesce(F.col("_sb"), F.lit(0.0)) + F.lit(eps)
    return (
        grid.join(F.broadcast(sa), "bin", "left")
        .join(F.broadcast(sb), "bin", "left")
        .select(
            "bin",
            F.round(share_a, 6).alias("share_a"),
            F.round(share_b, 6).alias("share_b"),
            F.round(
                (share_a - share_b) * F.log(share_a / share_b), 6
            ).alias("psi_term"),
        )
    )


def heavy_hitters(
    df: DataFrame,
    key_col: str,
    k: int = 100,
    max_broadcast_candidates: int = 1_000_000,
) -> DataFrame:
    """Exact frequent-element detection without a full-key-space shuffle:
    returns every NON-NULL key with frequency strictly above n/k as
    (key_col, freq) with EXACT counts, where n counts the non-null keys.
    NULL keys are excluded up front — the contract is explicit (and the
    paired SQL oracle filters the same way) because "the null group is a
    heavy hitter" is a data-quality alarm, not a frequency answer.

    Two phases, the classic sketch-then-verify shape:

    1. CANDIDATES, shuffle-free: one `mapInArrow` pass emits, per Arrow
       batch, the keys whose in-batch count exceeds len(batch)/k — a
       vectorized `pyarrow.compute.value_counts`, no Python row loop and
       NO pandas conversion (pandas coerces int64-with-nulls to float64,
       silently corrupting 64-bit ids past 2^53 — the same hazard the
       Avro fallback reader documents; operating on Arrow arrays keeps
       exact integers end-to-end, and the null filter runs before the
       exchange anyway). The pigeonhole guarantee makes the emitted set
       a superset of the answer: a key with global freq > n/k must
       exceed n_b/k in at least one batch (if it trailed the threshold
       in every batch, summing gives freq ≤ n/k); at most k-1 keys can
       qualify per batch, so candidate volume is bounded by
       (k-1) × num_batches — independent of key cardinality, but NOT
       independent of LAYOUT: input clustered/sorted by key makes most
       keys locally frequent, so the bound degrades toward the distinct
       key count.
    2. VERIFY, shuffle bounded by candidates: exact recount restricted
       to the candidate set, then filter against the exact total. Both
       the count and the threshold are exact, so the output equals
       `GROUP BY key HAVING count(*) > n/k` — the sketch phase is purely
       a pruning optimization, which is what makes this
       SQL-oracle-pairable while the usual Misra-Gries/SpaceSaving
       summary (approximate counts) is not.

    The candidate relation is persisted (it is consumed by a sizing
    count AND the semi-join — unpersisted, the Python candidate pass
    would run twice) and BROADCAST only while its measured size is under
    ``max_broadcast_candidates`` — key-clustered layouts degrade
    candidates toward all-distinct-keys, and an unconditional broadcast
    there is a driver OOM; past the bound the semi-join falls back to a
    shuffle join and AQE picks the strategy. Cache lifecycle follows the
    lsh_near_dup_pairs precedent: the persisted relation is candidate-
    sized (bounded, narrow), and the caller frees it via `unpersist()` /
    `spark.catalog.clearCache()` / session teardown."""
    import pyarrow as pa
    import pyarrow.compute as pc

    nn = df.select(key_col).where(F.col(key_col).isNotNull())

    def gen(batches):
        for batch in batches:
            n_b = batch.num_rows
            if n_b == 0:
                continue
            vc = pc.value_counts(batch.column(0))
            hot = vc.filter(pc.greater(vc.field("counts"), n_b / k))
            yield pa.RecordBatch.from_arrays(
                [hot.field("values")], schema=batch.schema
            )

    cands = nn.mapInArrow(gen, schema=nn.schema).distinct().persist()
    n_cands = cands.count()
    cand_rel = (
        F.broadcast(cands)
        if n_cands <= max_broadcast_candidates
        else cands
    )
    total = nn.agg(F.count(F.lit(1)).alias("_n"))
    return (
        nn.join(cand_rel, key_col, "left_semi")
        .groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("freq"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("freq") > F.col("_n") / F.lit(float(k)))
        .select(key_col, "freq")
    )


def rolling_zscore(
    df: DataFrame,
    key_col: str,
    order_cols: list[str],
    value_col: str,
    lookback: int = 5,
    min_periods: int = 3,
    z: float = 3.0,
) -> DataFrame:
    """Per-key rolling-window anomaly detection: flag rows whose value
    deviates more than ``z`` sample standard deviations from the mean of
    the key's previous ``lookback`` observations (the trailing frame
    EXCLUDES the current row — an anomaly must not dilute the baseline
    it is judged against). Rows with fewer than ``min_periods`` prior
    observations or a degenerate (zero/null) baseline spread are never
    flagged — a cold-start row is unknown, not anomalous.

    Output: input row + round-6 roll_mean / roll_std / zscore.

    Scale shape: one window over PARTITION BY key ORDER BY order_cols —
    the partition key is the high-cardinality entity (user, device,
    sensor), so state per task is one entity's short history, never a
    global or per-type sort; this is the window-partitioning discipline
    the repo pins with its no-partitionless-window test. The frame is
    ROWS-bounded (constant memory per row), and the three aggregates
    (avg/stddev/count) share the single frame scan."""
    clash = {"_rz_m", "_rz_s", "_rz_c"} & set(df.columns)
    if clash:
        raise ValueError(
            f"rolling_zscore: input already carries working columns "
            f"{sorted(clash)} — rename them first (withColumn would "
            "silently overwrite and the output would leak window "
            "internals under the caller's names)"
        )
    w = (
        Window.partitionBy(key_col)
        .orderBy(*[F.col(c).asc() for c in order_cols])
        .rowsBetween(-lookback, -1)
    )
    v = F.col(value_col)
    mean = F.avg(v).over(w)
    std = F.stddev_samp(v).over(w)
    cnt = F.count(v).over(w)
    return (
        df.withColumn("_rz_m", mean)
        .withColumn("_rz_s", std)
        .withColumn("_rz_c", cnt)
        .filter(
            (F.col("_rz_c") >= min_periods)
            & F.col("_rz_s").isNotNull()
            & (F.col("_rz_s") > 0)
            & (F.abs((v - F.col("_rz_m")) / F.col("_rz_s")) > z)
        )
        .select(
            *df.columns,
            F.round(F.col("_rz_m"), 6).alias("roll_mean"),
            F.round(F.col("_rz_s"), 6).alias("roll_std"),
            F.round((v - F.col("_rz_m")) / F.col("_rz_s"), 6).alias(
                "zscore"
            ),
        )
    )
