"""Streaming event-time pipelines.

The reference is batch-only (daily Airflow tasks, README.md:137-140); the
engine adds the streaming execution of the same windowed operators: identical
`F.window`/`session_window` aggregations driven by `readStream`, with
watermarks bounding state. A watermark of W means events later than W behind
the max seen event-time are dropped — that is the late-data contract.

Scale notes: streaming state lives in the state store keyed by
(window, group); watermark eviction keeps it bounded. shuffle partitions
size the state store parallelism — set before the first micro-batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def read_event_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """File-source stream over event parquet/json drops (the local stand-in
    for Kafka; swapping source = swapping this function)."""
    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def read_event_stream_rate(
    spark: SparkSession,
    path: str,
    rows_per_batch: int = 500,
    order_col: str = "event_id",
) -> DataFrame:
    """Rate-source replay of an event fixture: the SAME EVENTS_SCHEMA
    contract as read_event_stream, but arrival is driven by Spark's
    deterministic `rate-micro-batch` source instead of file drops —
    exactly ``rows_per_batch`` events per micro-batch, in ``order_col``
    order, regardless of how the fixture is laid out on disk.

    Why it exists: the file source can only test watermark/late-data
    semantics post-hoc (drop files, hope the trigger picks them up one
    at a time); this harness pins ARRIVAL ORDER at the source boundary,
    so a test can deliver an out-of-order event in a chosen later batch
    and assert the watermark drops it (see TestRateSourceParity). It is
    also the load-replay tool: rows_per_batch is events-per-trigger.

    Mechanics: the rate stream's monotone `value` equi-joins the
    fixture's 0-based arrival index (stream-static inner join — fully
    supported, no state). The arrival index comes from the engine's
    two-phase distributed prefix sum (packing.distributed_prefix_sum) —
    even the replay fixture refuses the global-window single-task sort
    the package-wide audit bans. A real deployment swaps this function
    for the Kafka reader, which brings its own order. Once the fixture
    is exhausted the join emits empty batches — the caller stops on a
    condition, not on processAllAvailable (a rate source never runs
    dry)."""
    from taar_gcp_etl_spark.operators.packing import distributed_prefix_sum

    static = spark.read.schema(EVENTS_SCHEMA).parquet(path)
    indexed = distributed_prefix_sum(
        static.withColumn("_one", F.lit(1)), "_one", [order_col]
    ).withColumn("_arrival", F.col("cum_before").cast("long"))
    rate = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", rows_per_batch)
        .load()
        # rate's (timestamp, value) clash with EVENTS_SCHEMA columns
        .select(F.col("value").alias("_tick"))
    )
    return rate.join(
        indexed, rate["_tick"] == indexed["_arrival"]
    ).select(*[f.name for f in EVENTS_SCHEMA.fields])


def tumbling_counts(
    events: DataFrame, width: str = "1 day", watermark: str = "1 hour"
) -> DataFrame:
    """Streaming twin of operators.windows.tumbling_window_agg — same
    aggregation, plus a watermark so closed windows emit and their state is
    evicted."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width).alias("win"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def running_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user running
    totals that persist across micro-batches (the arbitrary-state escape
    hatch for operators windowed aggregation can't express — e.g. lifetime
    counters, per-key ML state, cross-batch sessionization with side
    outputs).

    State = (n_events, sum_value) per user_id; each batch emits the updated
    running totals for the users it touched. State lives in the state store
    keyed by user — bounded by the user universe, evicted here only by
    timeout policy (none: lifetime counters)."""
    from pyspark.sql.streaming.state import GroupState

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("sum_value", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("s", T.DoubleType()),
        ]
    )

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        n, s = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            s += float(pdf["value"].sum())
        state.update((n, s))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "sum_value": [round(s, 2)]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf="NoTimeout",
    )


def sessionize_with_close_events(
    events: DataFrame, gap_seconds: int = 1800
) -> DataFrame:
    """Stateful sessionizer with SIDE OUTPUTS: per-user session state carried
    across micro-batches; when a batch shows a gap larger than `gap_seconds`
    (or extends a session), the operator emits CLOSED-session records —
    the streaming twin of gaps-and-islands that windowed aggregation can't
    express (it needs to emit the previous session the moment a new one
    starts, regardless of watermark).

    State = (session_start_epoch, last_ts_epoch, n_events) per user. Events
    within a batch are sorted locally; sessions closed within or across
    batches are emitted with status='closed'; the still-open tail session is
    emitted each batch with status='open' (downstream dedups on latest).

    Arrival contract: batches must be event-time ordered ACROSS batches per
    key (within-batch disorder is fine — each batch sorts locally). That is
    the standard log/Kafka-per-key ordering; arbitrarily late events need a
    watermark-buffered variant (buffer in state until watermark, then fold),
    which trades latency for disorder tolerance."""
    from pyspark.sql.streaming.state import GroupState

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("session_start", T.TimestampType()),
            T.StructField("session_end", T.TimestampType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("status", T.StringType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("start_us", T.LongType()),
            T.StructField("last_us", T.LongType()),
            T.StructField("n", T.LongType()),
        ]
    )
    gap_us = gap_seconds * 1_000_000

    def update(key, pdfs, state: GroupState):
        import datetime as dt

        import pandas as pd

        def to_us(ts):
            return int(ts.value // 1000)  # pandas Timestamp ns → µs

        def to_ts(us):
            return dt.datetime.utcfromtimestamp(us / 1_000_000)

        start, last, n = state.get if state.exists else (None, None, 0)
        closed = []
        ts_list = []
        for pdf in pdfs:
            ts_list.extend(pdf["ts"])
        for ts in sorted(ts_list):
            us = to_us(ts)
            if start is None:
                start, last, n = us, us, 1
            elif us - last > gap_us:
                closed.append((key[0], to_ts(start), to_ts(last), n, "closed"))
                start, last, n = us, us, 1
            else:
                last, n = us, n + 1
        state.update((start, last, n))
        rows = closed + (
            [(key[0], to_ts(start), to_ts(last), n, "open")]
            if start is not None
            else []
        )
        yield pd.DataFrame(
            rows,
            columns=["user_id", "session_start", "session_end", "n_events", "status"],
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf="NoTimeout",
    )


def dedup_stream(
    events: DataFrame,
    key_cols: list[str] | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Exact dedup at ingest — the streaming twin of operators.dedup
    .exact_dedup: keep the first arrival per key, drop re-deliveries.

    Uses dropDuplicatesWithinWatermark, so the state store holds each key
    only until the watermark passes its event time — state is
    O(rate × watermark), independent of stream length. Plain
    dropDuplicates on a stream never evicts (unbounded state); the
    within-watermark variant is the only shape that survives an unbounded
    ingest feed. The trade: a duplicate arriving later than the watermark
    delay is emitted again — at-ingest dedup bounds re-delivery windows,
    not adversarial replays (the batch exact_dedup downstream stays the
    backstop, same layering as a 100 TB pipeline)."""
    keyed = events.withWatermark("ts", watermark)
    return keyed.dropDuplicatesWithinWatermark(key_cols or ["event_id"])


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    left_wm: str = "1 hour",
    right_wm: str = "1 hour",
    lookback: str = "INTERVAL 1 HOUR",
    how: str = "leftOuter",
) -> DataFrame:
    """Watermarked stream-stream interval join — the enrichment-at-ingest
    twin of the batch J2 left join: each left event pairs with the right
    events of the same key whose timestamp falls in
    [left.ts - lookback, left.ts]; a left event with no match is emitted
    with null right-side columns once the watermark passes the end of its
    match window (leftOuter is legal precisely because both watermarks and
    the event-time interval are present — Spark requires them to bound
    when an unmatched row can be declared final). Pass ``how='inner'`` to
    drop unmatched left events instead.

    Both sides carry watermarks and the join predicate carries a closed
    event-time interval; together those let the state store evict a
    buffered row as soon as the other side's watermark passes the end of
    its match window — without both, stream-stream join state grows
    unboundedly. That eviction bound is the whole 100 TB posture: state is
    O(rate × (watermark + lookback)) per key, independent of stream
    length. (No cross-reference operator: the reference is batch-only —
    this extends its J2 semantics, README.md:137-140.)"""
    lt = left.select(
        F.col(key).alias("l_key"),
        F.col("ts").alias("l_ts"),
        F.col("event_id").alias("l_event_id"),
        F.col("event_type").alias("l_type"),
    ).withWatermark("l_ts", left_wm)
    rt = right.select(
        F.col(key).alias("r_key"),
        F.col("ts").alias("r_ts"),
        F.col("event_id").alias("r_event_id"),
        F.col("event_type").alias("r_type"),
        F.col("value").alias("r_value"),
    ).withWatermark("r_ts", right_wm)
    return lt.join(
        rt,
        F.expr(
            f"""
            l_key = r_key AND
            r_ts BETWEEN l_ts - {lookback} AND l_ts
            """
        ),
        how,
    ).select(
        F.col("l_key").alias(key),
        "l_event_id",
        "l_ts",
        "r_event_id",
        "r_ts",
        "r_value",
    )


def write_serving_epoch(
    batch_df: DataFrame, epoch_id: int, serving_path: str
) -> None:
    """Idempotent per-epoch serving write: the batch lands under its own
    epoch_id partition with DYNAMIC partition overwrite, so a micro-batch
    replayed after a failure between write and checkpoint commit overwrites
    exactly its previous output instead of appending duplicates. Only the
    partitions present in the batch are replaced — other epochs' data is
    untouched."""
    from taar_gcp_etl_spark.operators.serving import pack_serving_rows

    packed = pack_serving_rows(batch_df, "event_id", ["user_id", "event_type"])
    (
        packed.withColumn("epoch_id", F.lit(int(epoch_id)))
        .withColumn("key_prefix", F.substring("key", 1, 2))
        .write.mode("overwrite")
        # per-writer option, NOT spark.conf.set: a session-level setting
        # would silently change the semantics of every later
        # overwrite-partitioned write in the same session
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("epoch_id", "key_prefix")
        .parquet(serving_path)
    )


def stream_to_serving_table(
    events: DataFrame, serving_path: str, checkpoint: str
):
    """Streaming serving-table maintenance via foreachBatch: each micro-batch
    is packed (sha256 key + JSON payload) and written to the store partitioned
    by (epoch_id, key_prefix). foreachBatch alone is at-least-once; the
    per-epoch dynamic partition overwrite (write_serving_epoch) makes the
    write idempotent, which together with checkpointing yields effective
    exactly-once output. The batch body reuses the SAME pack/write operators
    as the batch job — streaming is an execution mode here, not a second
    implementation."""

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        write_serving_epoch(batch_df, epoch_id, serving_path)

    return (
        events.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def apply_cdc_batch(
    batch_df: DataFrame,
    table_dir: str,
    key_col: str = "id",
    op_col: str = "op",
    seq_col: str = "seq",
) -> None:
    """Apply one CDC micro-batch (rows of key + payload + monotonically
    increasing `seq` + op in {'I','U','D'}) to a keyed parquet table:
    MERGE-at-ingest without a table format.

    Ordering + idempotence come from the sequence number, not arrival
    order: the batch first reduces to its latest op per key (partitioned
    window on seq), then every op applies only if its seq is NEWER than
    the stored row's — so a replayed micro-batch (foreachBatch is
    at-least-once) re-applies as a pure no-op, and out-of-order replays
    cannot resurrect overwritten values. A delete of an absent key is a
    no-op; a stale upsert arriving after a newer delete CAN resurrect
    (no tombstone retention — a table format's delete vectors are the
    production answer; this is the honest parquet-only contract).

    The rewrite is anti-join + union — the same shape as merge.upsert —
    and the new table is localCheckpoint'ed before the overwrite so the
    write never reads the directory it is replacing. At scale the
    rewrite cost is O(table) per batch: right for dimension-sized tables
    (the reference's whitelist/serving artifacts); fact-sized CDC wants
    partition-pruned rewrites or a table format."""
    spark = batch_df.sparkSession
    w = Window.partitionBy(key_col).orderBy(F.desc(seq_col))
    latest = (
        batch_df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )

    # explicit DATA probe, NOT try/except around the read: a bare except
    # would also swallow a transient storage error and then OVERWRITE
    # the table with only this batch's upserts — silent wholesale data
    # loss. And a bare exists() probe is wrong the other way: a
    # pre-created EMPTY dir (provisioning mkdir, or a crash that left
    # only _temporary from a failed first overwrite) would make the
    # schema-less read raise forever and wedge the stream. So the probe
    # asks for actual data files (non-hidden entries); a flaky listing
    # still raises and the streaming query retries the batch.
    jvm = spark._jvm  # type: ignore[attr-defined]
    hpath = jvm.org.apache.hadoop.fs.Path(table_dir)
    fs = hpath.getFileSystem(
        spark._jsc.hadoopConfiguration()  # type: ignore[attr-defined]
    )
    exists = False
    if fs.exists(hpath):
        for st in fs.listStatus(hpath):
            name = st.getPath().getName()
            if not name.startswith("_") and not name.startswith("."):
                exists = True
                break
    cur = spark.read.parquet(table_dir) if exists else None

    upserts = latest.filter(F.col(op_col) != "D").drop(op_col)
    deletes = latest.filter(F.col(op_col) == "D").select(
        F.col(key_col), F.col(seq_col).alias("_del_seq")
    )
    if not exists:
        new = upserts
    else:
        cur_seq = cur.select(
            F.col(key_col), F.col(seq_col).alias("_cur_seq")
        )
        applied_up = (
            upserts.join(cur_seq, key_col, "left")
            .filter(
                F.col("_cur_seq").isNull()
                | (F.col(seq_col) > F.col("_cur_seq"))
            )
            .drop("_cur_seq")
        )
        applied_del = deletes.join(cur_seq, key_col).filter(
            F.col("_del_seq") > F.col("_cur_seq")
        )
        touched = applied_up.select(key_col).unionByName(
            applied_del.select(key_col)
        )
        new = cur.join(touched, key_col, "left_anti").unionByName(
            applied_up
        )
    # cut lineage BEFORE overwriting the directory the plan read from
    new.localCheckpoint(eager=True).write.mode("overwrite").parquet(
        table_dir
    )


def stream_cdc_apply(
    changes: DataFrame,
    table_dir: str,
    checkpoint: str,
    key_col: str = "id",
    op_col: str = "op",
    seq_col: str = "seq",
):
    """Streaming CDC maintenance of a keyed table via foreachBatch —
    checkpointing + the seq-guarded idempotent batch apply give
    effective exactly-once table state (same argument as
    stream_to_serving_table, with merge semantics instead of append)."""

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        apply_cdc_batch(batch_df, table_dir, key_col, op_col, seq_col)

    return (
        changes.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def run_to_memory(
    agg: DataFrame, name: str, output_mode: str = "complete"
):
    """Drive a streaming aggregation to completion against the current file
    set (memory sink; processAllAvailable makes it synchronous — the local
    smoke path, not a production sink)."""
    q = (
        agg.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return q


def continuous_minute_rollup(
    events: DataFrame, watermark: str = "1 hour"
) -> DataFrame:
    """Continuous-aggregate producer: the streaming twin of
    operators.windows.minute_partials — minute-grain (window_start, groups,
    n, _cents) maintained at ingest, watermark-bounded state. Coarser
    grains (hour/day) are NOT streamed: they derive from these partials on
    read via operators.windows.rollup_from_partials, so raw events are
    aggregated exactly once no matter how many resolutions are served.
    Integer-cents sums keep the cascade exact across engines and
    micro-batch orderings.

    Groups on `F.window(ts, "1 minute")` rather than the batch twin's
    date_trunc: only the window/session_window expressions (or the
    watermarked column itself) carry the event-time metadata the state
    store needs to build its eviction predicate — grouping on a derived
    date_trunc would accumulate state forever and reject append mode.
    window.start for a 1-minute tumbling window equals
    date_trunc('minute', ts), so the output matches the batch partials
    row-for-row."""
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 minute").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(cents).alias("_cents"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n",
            "_cents",
        )
    )


def stream_drift_bins(
    events: DataFrame,
    lo: float,
    hi: float,
    n_bins: int = 10,
    width: str = "1 hour",
    watermark: str = "1 hour",
    value_col: str = "value",
) -> DataFrame:
    """Streaming half of the drift gate (operators/analytics
    .distribution_psi): per event-time window, the histogram of
    `value_col` over a fixed [lo, hi] bin domain — (window_start, bin,
    n). The same partials-at-ingest discipline as
    continuous_minute_rollup: the stream maintains only bin COUNTS
    (state = windows × n_bins keys, watermark-evicted, append-safe
    because the group key is the window expression); the PSI itself is
    computed on read by `psi_against_reference`, so the reference
    distribution can change without touching stream state."""
    from taar_gcp_etl_spark.operators.analytics import equal_width_bin

    # shared with the batch PSI — null-preserving clamp (see helper)
    clamped = equal_width_bin(F.col(value_col), lo, hi, n_bins)
    # a null-valued event carries no histogram mass but must still move
    # event time. ANY null filter in this plan — before or even AFTER
    # the aggregation (group-key filters push through aggregates) — gets
    # hoisted below the EventTimeWatermark node by Catalyst and silently
    # stalls eviction on sparse streams (verified: the watermark stops
    # advancing on batches whose rows are all null-valued). So nulls
    # ride along as the NULL bin group and the READ side drops them
    # (psi_against_reference) — one extra state row per window.
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width).alias("win"), clamped.alias("bin"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("win.start").alias("window_start"), "bin", "n")
    )


def psi_against_reference(
    bin_counts: DataFrame,
    reference: DataFrame,
    n_bins: int = 10,
    eps: float = 1e-6,
) -> DataFrame:
    """Read-side PSI over `stream_drift_bins` output: one row per
    window_start with the drift index against a reference distribution
    held as DATA — (bin, share) rows, broadcast like every other config
    table. Missing bins contribute the eps-smoothed empty share, so a
    window that saw only one bin still scores its full divergence.

    Shape: ONE aggregate over the bin counts — each window's ≤n_bins
    (bin, n) rows collapse into a bounded map (never a self-join back
    onto the sink, which both re-reads it and trips attribute-dedup on
    view-backed relations) — then a dense bin grid explodes out of the
    map row and one broadcast join brings in the reference."""
    # the NULL bin carries the stream's null-valued events (kept there so
    # the watermark keeps moving — see stream_drift_bins); no histogram
    # mass, dropped here where filter pushdown is harmless
    bin_counts = bin_counts.filter(F.col("bin").isNotNull())
    per_win = bin_counts.groupBy("window_start").agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("bin"), F.col("n")))
        ).alias("_m"),
        F.sum("n").alias("_tot"),
    )
    exploded = per_win.select(
        "window_start",
        "_tot",
        "_m",
        F.explode(F.sequence(F.lit(0), F.lit(n_bins - 1))).alias("bin"),
    )
    share_w = (
        F.coalesce(F.col("_m")[F.col("bin")], F.lit(0)) / F.col("_tot")
        + F.lit(eps)
    )
    share_r = F.coalesce(F.col("share"), F.lit(0.0)) + F.lit(eps)
    return (
        exploded.join(F.broadcast(reference), "bin", "left")
        .select(
            "window_start",
            ((share_w - share_r) * F.log(share_w / share_r)).alias("_term"),
        )
        .groupBy("window_start")
        .agg(F.round(F.sum("_term"), 6).alias("psi"))
    )


DOCS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ]
)


def read_document_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """File-source stream over document parquet drops (the local stand-in
    for the crawl-delivery bus; swapping source = swapping this function)."""
    return (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def stream_ingest_dedup(
    docs: DataFrame,
    index_dir: str,
    accepted_path: str,
    checkpoint: str,
):
    """Corpus ingest as a stream: every micro-batch runs the SAME
    incremental-ingest probe as the batch job (jobs.incremental_ingest
    .ingest_batch — in-batch exact dedup, partition-pruned exact +
    near-dup probes against the persisted digest/band index), appends the
    survivors to the corpus output, and appends their digests/bands to
    the index. Streaming is an execution mode here, not a second dedup
    implementation.

    Exactly-once-in-content without epoch bookkeeping: foreachBatch is
    at-least-once, but a REPLAYED micro-batch re-probes an index that
    already contains its own docs — every row comes back a corpus exact
    dup and the append is empty. The index makes re-delivery self-erasing
    (same layering as dedup_stream's watermark note: content dedup is the
    durable backstop). The parquet append of `accepted` can still leave a
    torn file on a crash mid-write; a deployment that needs byte-level
    exactly-once pairs this with the epoch-partitioned overwrite pattern
    from write_serving_epoch."""
    from taar_gcp_etl_spark.jobs import incremental_ingest

    def ingest(batch_df: DataFrame, epoch_id: int) -> None:
        accepted, report = incremental_ingest.ingest_batch(
            batch_df.sparkSession, batch_df, index_dir
        )
        if report["accepted"]:
            accepted.write.mode("append").parquet(accepted_path)

    return (
        docs.writeStream.foreachBatch(ingest)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def _data_files_exist(spark, table_dir: str) -> bool:
    """True iff `table_dir` holds actual data files (non-hidden entries) —
    the same explicit probe apply_cdc_batch uses: a bare exists() wedges
    on provisioning-mkdir'd empty dirs, a bare try/except around the read
    swallows transient storage errors and then overwrites the table."""
    jvm = spark._jvm  # type: ignore[attr-defined]
    hpath = jvm.org.apache.hadoop.fs.Path(table_dir)
    fs = hpath.getFileSystem(
        spark._jsc.hadoopConfiguration()  # type: ignore[attr-defined]
    )
    if not fs.exists(hpath):
        return False
    for st in fs.listStatus(hpath):
        name = st.getPath().getName()
        if not name.startswith("_") and not name.startswith("."):
            return True
    return False


def refresh_aggregate_store(
    batch_df: DataFrame,
    table_dir: str,
    keys: list[str],
    measures: dict,
    epoch_id: int | None = None,
) -> bool:
    """Apply one micro-batch to a stored materialized aggregate
    (operators/merge.refresh_aggregate): merge the batch's per-key
    partial into the parquet store; first batch bootstraps the store.
    Returns True if applied, False if skipped as a replay.

    refresh is NOT naturally idempotent (re-applying a batch
    double-counts), and foreachBatch is at-least-once — so each applied
    epoch leaves a marker in a SIBLING `<table_dir>_epochs/` directory
    (inside the table dir it would be wiped by every overwrite, shrinking
    the guard to only the latest epoch) and a replayed epoch_id is
    skipped BEFORE any read. Marker-after-write ordering means a crash
    between the table overwrite and the marker touch re-applies the
    batch — the residual at-least-once window every non-transactional
    two-file commit has; a table format's atomic commit is the
    production answer (same honesty contract as apply_cdc_batch's
    no-tombstone note).

    Scale: identical to the batch operator — cost per micro-batch is
    O(batch + touched keys); the untouched store rows are rewritten to
    parquet here only because the store is a flat directory (a
    key-partitioned store would prune the rewrite exactly like
    merge.upsert's partition-overwrite note)."""
    from taar_gcp_etl_spark.operators.merge import refresh_aggregate

    spark = batch_df.sparkSession
    jvm = spark._jvm  # type: ignore[attr-defined]
    conf = spark._jsc.hadoopConfiguration()  # type: ignore[attr-defined]
    marker = None
    if epoch_id is not None:
        marker = jvm.org.apache.hadoop.fs.Path(
            f"{table_dir.rstrip('/')}_epochs/{epoch_id}"
        )
        fs = marker.getFileSystem(conf)
        if fs.exists(marker):
            return False
    mnames = sorted(measures)
    if _data_files_exist(spark, table_dir):
        store = spark.read.parquet(table_dir).select(*keys, *mnames)
        out = refresh_aggregate(store, batch_df, keys, measures)
    else:
        from taar_gcp_etl_spark.operators.merge import _measure_agg

        out = batch_df.groupBy(*keys).agg(
            *[_measure_agg(measures[m]).alias(m) for m in mnames]
        )
    out.select(*keys, *mnames).localCheckpoint(
        eager=True
    ).write.mode("overwrite").parquet(table_dir)
    if marker is not None:
        fs = marker.getFileSystem(conf)
        fs.mkdirs(marker.getParent())
        fs.create(marker, True).close()
    return True


def stream_sync_aggregate(
    spark,
    source_dir: str,
    store_dir: str,
    checkpoint: str,
    keys: list[str],
    measures: dict,
):
    """Streaming IVM loop (NEXT.md r7 #3): keep a materialized
    aggregate in sync with a TRANSACTIONAL CDC table by watching the
    source's COMMIT STREAM — a file stream over ``_log/`` (exactly one
    JSON manifest per committed version), so a trigger fires when and
    only when the source commits.

    Unlike stream_refresh_aggregate (which aggregates the event stream
    itself and can only ever ADD), each trigger here calls
    txn.sync_aggregate_from_cdc, so the store follows deletes and
    updates too, through the same paths the batch sync takes:
    insert-only change windows merge with no source read, retraction
    windows run the (zone-map-pruned) group-targeted recompute, and
    the result lands as one transactional store commit.

    Exactly-once comes from the SYNC'S OWN CURSOR (store manifest
    epoch = source version), not from foreachBatch: a replayed or
    coalesced trigger re-runs the sync, which sees the cursor already
    at (or past) the target version and no-ops — so the at-least-once
    file-stream checkpoint composes to exactly-once on the store, with
    no marker files. The batch's manifest CONTENT is ignored on
    purpose: reading it would race with log vacuuming, while "at least
    one new version exists" is all a trigger needs to know.

    Failure posture: a sync that THROWS inside the trigger fails the
    stream (StreamingQueryException) with the store cursor unmoved —
    at-least-once retry is the correct default for transient faults
    (the next start re-runs the sync idempotently). But the retry is
    NOT bounded here: a persistently poisoned source version (schema
    break, corrupt file) will fail every restart until an operator
    intervenes — by fixing the source and restarting, or by rebuilding
    the store from scratch (drop the store dir; the next sync's
    cold-start path full-aggregates the live rows and sets the cursor
    to the latest version, jumping past the poisoned diff). Wrap
    restarts with external max-retry/alerting policy; this operator
    deliberately does not skip versions on its own, because a silently
    skipped commit is an unbounded store divergence, while a stopped
    stream is a visible page."""
    from taar_gcp_etl_spark import txn

    def tick(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.limit(1).isEmpty():
            return  # spurious trigger: no new commit
        txn.sync_aggregate_from_cdc(
            spark, source_dir, store_dir, keys, measures
        )

    # the stream may be deployed BEFORE the source's first commit (the
    # natural bootstrap order for a keep-in-sync loop): the file source
    # raises PATH_NOT_FOUND on a missing dir, so materialize the log
    # dir up front — the commit protocol tolerates a pre-existing
    # empty _log (manifests are versioned files inside it)
    log_dir = f"{source_dir.rstrip('/')}/{txn._LOG}/"
    _, fs, p = txn._fs(spark, log_dir)
    fs.mkdirs(p)
    # ignoreMissingFiles: vacuum_txn(keep_last=) may delete an old
    # manifest between this stream's directory listing and its read —
    # safe to skip because tick() ignores file CONTENT entirely (the
    # sync reads the live log itself); without it a slow stream racing
    # a vacuum dies on FileNotFound.
    log = (
        spark.readStream.format("text")
        .option("ignoreMissingFiles", "true")
        .load(log_dir)
    )
    return (
        log.writeStream.foreachBatch(tick)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def stream_sync_join(
    spark,
    left_dir: str,
    right_dir: str,
    store_dir: str,
    checkpoint: str,
    how: str = "inner",
    rsuffix: str = "_r",
    prune_probe: bool = True,
):
    """Streaming maintenance of a materialized JOIN view: the
    streaming twin of txn.sync_join_from_cdc, exactly as
    stream_sync_aggregate twins sync_aggregate_from_cdc. Watches BOTH
    sources' commit streams (a file stream over each ``_log/``, one
    manifest per committed version, unioned into one trigger source)
    so a commit on EITHER side fires a sync; each trigger re-joins
    only the touched keys and lands one transactional store commit.

    Exactly-once composes the same way as the aggregate loop, with one
    twist: the sync's cursor packs BOTH source versions into the store
    manifest's epoch_id (_pack_join_cursor, monotone in either
    component), so a replayed or coalesced trigger — including the
    common race where left and right commit between two triggers and
    the union delivers both manifests in one micro-batch — re-runs the
    sync, which no-ops when neither source advanced past the packed
    cursor. Manifest CONTENT is ignored (vacuum-safe, like the
    aggregate loop); "some source committed" is the only signal a
    trigger carries.

    Failure posture is inherited verbatim from stream_sync_aggregate's
    poison contract: a sync that throws fails the stream visibly with
    the cursor unmoved; restarts retry the same versions idempotently;
    a persistently poisoned source version requires operator action
    (fix the source, or drop the store dir — the next sync cold-starts
    from the live sides and jumps the cursor past the poisoned diff).
    Never a silent skip.

    Scale posture: trigger cost is txn.sync_join_from_cdc's —
    O(changes) change-feed reads, bucket-pruned O(touched buckets)
    probes, touched-bucket-only store rewrites. The stream itself adds
    only two tiny file-stream listings over manifest JSONs.
    """
    from taar_gcp_etl_spark import txn

    def tick(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.limit(1).isEmpty():
            return  # spurious trigger: no new commit on either side
        txn.sync_join_from_cdc(
            spark, left_dir, right_dir, store_dir,
            how=how, rsuffix=rsuffix, prune_probe=prune_probe,
        )

    # Bootstrap order tolerance: either source (or both) may not have
    # committed yet when the sync stream deploys — materialize both
    # log dirs so the file source doesn't die on PATH_NOT_FOUND.
    streams = []
    for src in (left_dir, right_dir):
        log_dir = f"{src.rstrip('/')}/{txn._LOG}/"
        _, fs, p = txn._fs(spark, log_dir)
        fs.mkdirs(p)
        streams.append(
            spark.readStream.format("text")
            # vacuum may delete an old manifest between listing and
            # read; content is ignored, so skipping is safe
            .option("ignoreMissingFiles", "true")
            .load(log_dir)
        )
    log = streams[0].union(streams[1])
    return (
        log.writeStream.foreachBatch(tick)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def stream_refresh_aggregate(
    events: DataFrame,
    table_dir: str,
    checkpoint: str,
    keys: list[str],
    measures: dict,
):
    """Continuously-maintained materialized aggregate via foreachBatch —
    the streaming face of operators/merge.refresh_aggregate. Unlike
    continuous_minute_rollup (windowed partials in state-store memory,
    watermark-evicted), this maintains an UNWINDOWED per-key table of
    mergeable aggregates on storage: state never grows with time, only
    with key cardinality, and readers see a plain parquet table. The
    epoch guard in refresh_aggregate_store makes replayed micro-batches
    no-ops (see its crash-window caveat)."""

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        refresh_aggregate_store(
            batch_df, table_dir, keys, measures, epoch_id=epoch_id
        )

    return (
        events.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def stream_merge_into(
    source: DataFrame,
    table_dir: str,
    checkpoint: str,
    dedup_order: str | None = None,
    **merge_kwargs,
):
    """Streaming MERGE INTO: the foreachBatch twin of txn.merge_into —
    every micro-batch of the (streaming) ``source`` relation merges
    into the transactional CDC table with full clause semantics
    (``when=[...]`` lists, conditions over ``t_<col>``, SET maps —
    everything txn.merge_into takes rides through ``merge_kwargs``).
    This is Delta's `foreachBatch + MERGE` streaming-upsert recipe as
    a one-call face.

    Exactly-once: the checkpoint replays a failed epoch with the SAME
    epoch_id, and merge_into's manifest epoch guard skips epochs the
    table has already committed — so a crash between commit and
    checkpoint advance re-runs the batch as a no-op instead of
    double-applying SET expressions (the accumulate shape
    ``{"bal": "t_bal + delta"}`` is exactly where blind replays
    corrupt).

    ``dedup_order``: MERGE requires one source row per key, but a
    micro-batch of a busy stream usually carries several versions of a
    key. Naming the ordering column (event seq / LSN / timestamp)
    keeps only each key's LATEST row per batch (ties broken by a
    deterministic row hash so replays pick the same winner). Without
    it, multi-version batches raise exactly as batch MERGE does.

    Scale posture: per-trigger cost is merge_into's — O(batch +
    touched buckets), with the broadcast gate and full-width warning
    inherited. Backpressure-friendly: the per-key dedup is one
    window over the micro-batch, never over the table.
    """
    from pyspark.sql import Window

    from taar_gcp_etl_spark import txn

    table_dir = table_dir.rstrip("/")

    def tick(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.limit(1).isEmpty():
            return
        spark = batch_df.sparkSession
        batch = batch_df
        if dedup_order is not None:
            key = merge_kwargs.get("key_col")
            if key is None:
                man = txn.latest_manifest(spark, table_dir)
                key = (man or {}).get("key_col", "id")
            # xxhash64 rejects map-typed inputs at analysis time —
            # tie-break over the hashable columns only (review r10);
            # with none, ties fall to an arbitrary-but-single winner
            hashable = [
                c for c, t in batch.dtypes if "map<" not in t
            ]
            order = [F.desc(dedup_order)]
            if hashable:
                order.append(F.desc(F.xxhash64(*hashable)))
            w = Window.partitionBy(key).orderBy(*order)
            batch = (
                batch.withColumn("_smi_rn", F.row_number().over(w))
                .filter(F.col("_smi_rn") == 1)
                .drop("_smi_rn")
            )
        txn.merge_into(
            spark, table_dir, batch, epoch_id=epoch_id, **merge_kwargs
        )

    return (
        source.writeStream.foreachBatch(tick)
        .option("checkpointLocation", checkpoint)
        .start()
    )
