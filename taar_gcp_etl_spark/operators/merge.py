"""Merge / upsert operators — MERGE INTO semantics without a
transactional table format (SURVEY.md §2.11; the engine's v1 image has no
Delta/Iceberg jars, and the reference's BigTable upsert S9 is exactly a
last-write-wins merge).

The rewrite pattern: a merge is an anti-join (rows the update set does not
touch) unioned with the update set. At 100 TB the update set is typically
small → broadcast anti-join. The result is a full rewrite of the store:
every row is scanned and written again, including the untouched ones.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _one_row_per_key(
    updates: DataFrame, keys: list[str], order_by: Column | None
) -> DataFrame:
    """Collapse an update batch to exactly one row per key so the merge's
    last-write-wins contract holds even when a batch carries several versions
    of the same key. Winner = greatest `order_by` (e.g. an effective/ingest
    timestamp); without one, the greatest non-key-column struct — arbitrary
    but deterministic. Window shuffles only the update batch (small side)."""
    if order_by is None:
        non_key = [c for c in updates.columns if c not in keys]
        if not non_key:
            return updates.dropDuplicates(keys)
        order_by = F.struct(*[F.col(c) for c in non_key])
    w = Window.partitionBy(*keys).orderBy(F.desc(order_by))
    return (
        updates.withColumn("_merge_rn", F.row_number().over(w))
        .filter(F.col("_merge_rn") == 1)
        .drop("_merge_rn")
    )


def upsert(
    store: DataFrame,
    updates: DataFrame,
    key: str | list[str],
    broadcast_updates: bool = True,
    order_by: Column | None = None,
) -> DataFrame:
    """Last-write-wins merge (the S9 BigTable upsert semantic,
    taar_etl/taar_profile_bigtable.py:295-329: one version kept, newest
    wins): updated rows replace stored rows with the same key, new keys
    insert, untouched rows carry over. Update batches containing several
    rows per key are pre-collapsed to the winner (greatest `order_by`, or a
    deterministic tiebreak when none is given) so exactly one version
    survives."""
    keys = [key] if isinstance(key, str) else key
    updates = _one_row_per_key(updates, keys, order_by)
    right = updates.select(*keys)
    if broadcast_updates:
        right = F.broadcast(right)
    untouched = store.join(right, keys, "left_anti")
    return untouched.unionByName(updates)


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
) -> DataFrame:
    """Content diff between two snapshots of a keyed relation: one row
    per key present in either side, labeled 'added' / 'removed' /
    'retained'. The planning input for every incremental pipeline — which
    shards to rebuild, which index rows to append/delete
    (jobs/incremental_ingest consumes exactly the 'added' slice), what a
    re-train actually changes.

    One full-outer join on the key — the narrowest possible shuffle (key
    columns only; callers diffing by CONTENT pass a digest as the key, so
    a 100 TB corpus diff moves 32 bytes/row). Status derives from side
    markers, not null-testing the key itself (a legitimately-null key
    column would misclassify)."""
    lo = old.select(*key_cols).distinct().withColumn("_l", F.lit(1))
    ln = new.select(*key_cols).distinct().withColumn("_r", F.lit(1))
    status = (
        F.when(F.col("_l").isNull(), F.lit("added"))
        .when(F.col("_r").isNull(), F.lit("removed"))
        .otherwise(F.lit("retained"))
    )
    return lo.join(ln, key_cols, "full_outer").select(
        *key_cols, status.alias("status")
    )


def refresh_aggregate(
    agg_store: DataFrame,
    delta: DataFrame,
    keys: list[str],
    measures: dict[str, tuple[str, str]],
    broadcast_delta_keys: bool = True,
) -> DataFrame:
    """Incremental materialized-aggregate maintenance: bring a stored
    per-key aggregate table up to date for a delta batch WITHOUT
    re-aggregating the full history. ``measures`` maps output column
    names to EXPLICIT mergeable-aggregate specs ``(op, column)`` with op
    in {'sum', 'count', 'min', 'max', 'approx_distinct'} ('count' over
    a column counts its non-nulls; 'count' over '*' counts rows;
    'approx_distinct' maintains a union-mergeable HLL sketch — binary
    store column, numbers via ``sketch_estimates``). The op vocabulary
    is closed ON PURPOSE: these are the aggregates where merge(old,
    partial) equals the aggregate over the combined inputs. Specs are
    data, not Column expressions — an earlier Column-based signature
    dispatched on the expression's repr, and `F.sum_distinct` reprs
    identically to `F.sum`, silently merging distinct-counts with '+'
    (wrong results, no error). Non-mergeable aggregates: maintain avg as
    sum + count and derive on read; EXACT distinct-counts need the full
    key set, not this operator.

    The maintenance identity: agg(history ∪ delta) = merge(agg(history),
    agg(delta)) per key. So the plan only ever touches
      1. the DELTA (ONE partial aggregate — materialized with an eager
         localCheckpoint so the anti/semi/merge branches all read the
         computed partial instead of re-scanning the delta per branch),
      2. the stored rows whose keys appear in the delta (broadcast
         semi/outer join on the delta's distinct keys — the store's
         untouched rows carry over with NO shuffle and NO rewrite of
         their values; with a key-partitioned store the untouched read
         is partition-pruned exactly like `upsert`).
    Cost scales with |delta| + |touched keys|, never |history| — at
    100 TB of history and a 100 GB daily batch that asymmetry IS the
    operator. Replays are NOT idempotent by design (applying the same
    delta twice double-counts — dedup upstream, e.g. with
    dropDuplicatesWithinWatermark or the ingest index).

    Output schema = keys + sorted(measure names); the store must carry
    the same measure columns (new keys insert with the delta partial
    alone)."""
    mnames = sorted(measures)
    partial = delta.groupBy(*keys).agg(
        *[
            _measure_agg(measures[m]).alias(f"_d_{m}")
            for m in mnames
        ]
    ).localCheckpoint(eager=True)
    dkeys = partial.select(*keys)
    if broadcast_delta_keys:
        dkeys = F.broadcast(dkeys)
    untouched = agg_store.join(dkeys, keys, "left_anti").select(
        *keys, *mnames
    )
    touched = partial.join(
        F.broadcast(agg_store.join(dkeys, keys, "left_semi"))
        if broadcast_delta_keys
        else agg_store.join(dkeys, keys, "left_semi"),
        keys,
        "left",
    ).select(
        *keys,
        *[
            _merge_measure(m, measures[m][0]).alias(m)
            for m in mnames
        ],
    )
    return untouched.unionByName(touched)


_MERGEABLE_OPS = (
    "sum", "count", "min", "max", "approx_distinct", "sum_sq"
)


def _measure_agg(spec: tuple[str, str]) -> Column:
    """Build the partial-aggregate Column for one (op, column) spec.

    ``approx_distinct`` materializes as a Datasketches HLL sketch
    (binary column, F.hll_sketch_agg): union-mergeable, so a stored
    sketch absorbs any partition of the input into batches — THE way to
    maintain incremental distinct counts at 100 TB (the exact key set
    doesn't fit; plain counts can't merge). Read the number back with
    ``sketch_estimates`` / F.hll_sketch_estimate."""
    op, col = spec
    if op not in _MERGEABLE_OPS:
        raise ValueError(
            f"aggregate {op!r} is not mergeable — use one of "
            f"{_MERGEABLE_OPS} (maintain avg as sum+count, exact "
            "distinct counts need the full key set; approx_distinct "
            "keeps an HLL sketch)"
        )
    if op == "count":
        return (
            F.count(F.lit(1)) if col == "*" else F.count(F.col(col))
        )
    if op == "approx_distinct":
        return F.hll_sketch_agg(F.col(col))
    if op == "sum_sq":
        # second moment: +-mergeable AND retraction-invertible like
        # sum, so variance/stddev derive from (sum_sq, sum, count) —
        # var = sum_sq/n - (sum/n)^2 — with no exact-state store
        return F.sum(F.col(col) * F.col(col))
    return getattr(F, op)(F.col(col))


def _merge_measure(name: str, op: str) -> Column:
    """merge(stored, delta-partial) for one measure: sum/count → +,
    min → least, max → greatest, approx_distinct → HLL union. New keys
    have NULL stored values — coalesce to the delta partial."""
    stored, part = F.col(name), F.col(f"_d_{name}")
    if op == "approx_distinct":
        return (
            F.when(stored.isNull(), part)
            .when(part.isNull(), stored)
            .otherwise(F.hll_union(stored, part))
        )
    if op in ("sum", "count", "sum_sq"):
        merged = stored + part
    elif op == "min":
        merged = F.least(stored, part)
    else:
        merged = F.greatest(stored, part)
    return F.coalesce(merged, part, stored)


def sketch_estimates(
    df: DataFrame, measures: dict[str, tuple[str, str]]
) -> DataFrame:
    """Present a store carrying approx_distinct sketches as numbers:
    each sketch measure column is replaced by its HLL estimate (long);
    every other column passes through unchanged. NULL sketch (a group
    whose measured column was all-null) estimates to 0, matching
    approx_count_distinct over an empty input."""
    out = df
    for m, (op, _c) in measures.items():
        if op == "approx_distinct" and m in df.columns:
            out = out.withColumn(
                m,
                F.coalesce(
                    F.hll_sketch_estimate(F.col(m)), F.lit(0)
                ).cast("long"),
            )
    return out
