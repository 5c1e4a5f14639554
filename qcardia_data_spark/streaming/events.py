"""Streaming operators over the events stream.

Every transformation here is expressed once and runs identically under
``spark.read`` (batch backfill) and ``spark.readStream`` (live) — the
Structured Streaming contract. Tests drive the stream with
``trigger(availableNow=True)`` into a memory sink and assert batch/stream
result equality.

Scale notes: watermarks bound state (late data beyond the watermark is
dropped deterministically); session windows and dropDuplicates keep
per-key state in the state store, sized by watermark horizon — the
standard production shape for event pipelines.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from qcardia_data_spark.catalog import load_table, table_path


def ensure_event_time(df: DataFrame, col: str) -> DataFrame:
    """Cast an event-time column to TIMESTAMP (with local-tz semantics) if
    the source delivered it as TIMESTAMP_NTZ.

    Spark 4.1 reads this environment's parquet timestamps as TIMESTAMP_NTZ
    (isAdjustedToUTC=false), and ``withWatermark`` hard-requires TIMESTAMP
    (`EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE`). The cast reinterprets the NTZ
    wall-clock in the session time zone — the engine pins
    ``spark.sql.session.timeZone=UTC`` (catalog.py), so the instant is
    deterministic and batch/stream twins agree. Streaming sibling of the
    batch `_epoch_s` fix (commit 1081e6f).
    """
    if dict(df.dtypes).get(col) == "timestamp_ntz":
        _require_fixed_offset_session_tz(df.sparkSession)
        return df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def _require_fixed_offset_session_tz(spark: SparkSession) -> None:
    """NTZ→TIMESTAMP reinterpretation (and any unix_timestamp arithmetic
    derived from it) is only instant-exact when the session time zone is a
    fixed offset — a DST-observing zone shifts wall clocks by an hour across
    transitions, silently skewing watermarks and lag arithmetic. Fail loudly
    at plan time instead (the engine's catalog pins UTC; this guards frames
    built outside the catalog)."""
    tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        from datetime import datetime
        from zoneinfo import ZoneInfo

        zone = ZoneInfo(tz)
        jan, jul = datetime(2026, 1, 1, tzinfo=zone), datetime(2026, 7, 1, tzinfo=zone)
        if jan.utcoffset() != jul.utcoffset():
            raise ValueError(
                f"session timeZone {tz!r} observes DST; event-time columns are "
                "TIMESTAMP_NTZ and their reinterpretation would be ambiguous — "
                "set spark.sql.session.timeZone to UTC or a fixed offset"
            )
    except (ImportError, KeyError):  # unknown tz string → let Spark handle it
        pass


def _require_utc_session_tz(spark: SparkSession, op: str) -> None:
    """The applyInPandasWithState operators mix pandas-NAIVE event epochs
    (Arrow hands the UDF session-tz wall clocks; ``.timestamp()`` /
    ``astype('int64')`` then read them as UTC) with TRUE-epoch engine APIs
    (``setTimeoutTimestamp``, ``getCurrentWatermarkMs``). Those two time
    bases agree only when the session time zone IS UTC — under any other
    fixed offset the timeout/finalization arithmetic skews by the offset
    (r10 streaming review), so the stateful ops refuse loudly instead.
    The engine pins UTC in ``catalog.get_spark``; this guards frames
    built outside it."""
    tz = spark.conf.get("spark.sql.session.timeZone")
    if tz in ("UTC", "GMT", "Etc/UTC", "Etc/GMT", "Z", "+00:00", "-00:00"):
        return
    try:
        from datetime import datetime
        from zoneinfo import ZoneInfo

        zone = ZoneInfo(tz)
        jan = datetime(2026, 1, 1, tzinfo=zone)
        jul = datetime(2026, 7, 1, tzinfo=zone)
        if not jan.utcoffset() and not jul.utcoffset():
            return  # resolves to offset 0 year-round (UTC alias)
    except (ImportError, KeyError):
        pass
    raise ValueError(
        f"{op}: session timeZone {tz!r} is not UTC — this stateful "
        "operator compares pandas-naive event epochs against the engine's "
        "true-epoch watermark, which is only exact under UTC; set "
        "spark.sql.session.timeZone=UTC (the engine default)"
    )


def _watermarked(df: DataFrame, col: str, delay: str) -> DataFrame:
    """ensure_event_time + withWatermark — the only way any operator in this
    package attaches a watermark, so an env timestamp-type change can never
    break one path and not another."""
    return ensure_event_time(df, col).withWatermark(col, delay)


def _start_intake(stream: DataFrame, batch_fn, checkpoint: str,
                  available_now: bool):
    """The shared foreachBatch writer tail every streaming_*_intake uses —
    one place to change the delivery contract instead of seven."""
    writer = (
        stream.writeStream.foreachBatch(batch_fn)
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _write_batch_partition(df: DataFrame, batch_id: int, out_path: str) -> None:
    """The shared exactly-once sink: land rows under ``_batch=<id>/`` with
    dynamic partition overwrite, so a retried micro-batch REPLACES its own
    output instead of duplicating it."""
    (
        df.withColumn("_batch", F.lit(int(batch_id)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("_batch")
        .parquet(out_path)
    )


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events parquet (one-file-per-trigger backfill).

    Schema comes from the batch catalog (incl. the nanos→micros ts
    conversion); the stream applies the same conversion.
    """
    batch = load_table(spark, sf_dir, "events")
    raw_schema = spark.read.parquet(table_path(sf_dir, "events")).schema
    # FileStreamSource requires a directory-rooted glob (a bare file path
    # makes it derive a non-directory basePath); `events.*` matches exactly
    # the events parquet under sf_dir.
    raw = (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(sf_dir, "events.*"))
    )
    if dict(raw.dtypes).get("ts") == "bigint":
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # keep batch/stream schemas aligned
    return raw.select(*batch.columns)


def stream_from_dir(spark: SparkSession, path: str, schema) -> DataFrame:
    """Generic one-file-per-trigger parquet stream over a directory —
    files are consumed in modification-time order, which is how late-data
    scenarios are constructed (older event-times arriving in later files)."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )


def tumbling_counts(events: DataFrame, width: str = "1 hour", watermark: str = "2 hours") -> DataFrame:
    """Watermarked tumbling-window counts per event type. Late events beyond
    the watermark are dropped; windows finalize (append mode) once the
    watermark passes their end."""
    return (
        _watermarked(events, "ts", watermark)
        .groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
        .select(F.col("w.start").alias("win_start"), "event_type", "n_events", "sum_value")
    )


def sliding_counts(
    events: DataFrame, width: str = "1 hour", slide: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Sliding windows: each event lands in width/slide overlapping windows."""
    return (
        _watermarked(events, "ts", watermark)
        .groupBy(F.window("ts", width, slide).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("win_start"), "event_type", "n_events")
    )


def session_counts(events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours") -> DataFrame:
    """Session windows per user: a session extends while events arrive
    within ``gap`` of each other (built-in session_window — no custom state
    store needed, SURVEY §7.3)."""
    return (
        _watermarked(events, "ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("sess_start"),
            F.col("w.end").alias("sess_end"),
            "user_id", "n_events",
        )
    )


def attribution_join(
    events: DataFrame, trigger_type: str = "click", outcome_type: str = "purchase",
    within: str = "1 hour", watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream inner join: attribute each ``outcome_type`` event to
    the same user's ``trigger_type`` events in the preceding ``within``
    interval (click→purchase attribution).

    Both sides are watermarked and the join condition carries the time
    bound, so Spark can size and expire the join state — the canonical
    stream-stream join shape. Works identically on batch frames.
    """
    import re

    m = re.match(r"(\d+)\s*(hour|minute|second)", within)
    if m is None:
        raise ValueError(
            f"attribution_join: within={within!r} not parseable — use "
            "'<N> hour|minute|second' (e.g. '90 minutes' for fractional hours)"
        )
    secs = int(m.group(1)) * {"hour": 3600, "minute": 60, "second": 1}[m.group(2)]

    trig = (
        _watermarked(events.filter(F.col("event_type") == trigger_type), "ts", watermark)
        .select(
            F.col("user_id").alias("t_user"),
            F.col("event_id").alias("trigger_id"),
            F.col("ts").alias("t_ts"),
        )
    )
    outc = (
        _watermarked(events.filter(F.col("event_type") == outcome_type), "ts", watermark)
        .select(
            F.col("user_id").alias("o_user"),
            F.col("event_id").alias("outcome_id"),
            F.col("ts").alias("o_ts"),
            F.col("value").alias("outcome_value"),
        )
    )
    cond = (
        (F.col("t_user") == F.col("o_user"))
        & (F.col("t_ts") <= F.col("o_ts"))
        & (F.col("t_ts") >= F.col("o_ts") - F.expr(f"INTERVAL {secs} SECONDS"))
    )
    return trig.join(outc, cond, "inner").select(
        F.col("t_user").alias("user_id"), "trigger_id", "outcome_id", "outcome_value",
        # Both sides passed through _watermarked, so o_ts/t_ts are TIMESTAMP
        # instants (fixed-offset session tz enforced at the NTZ boundary) and
        # the unix_timestamp difference is exact across any wall-clock.
        (F.unix_timestamp("o_ts") - F.unix_timestamp("t_ts")).alias("lag_sec"),
    )


def ohlc_candles(
    events: DataFrame, width: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Streaming OHLC candlestick downsampling — the live twin of the
    graded ``ev_ohlc_hourly`` query, same mergeable core: open/close ride
    struct-min/max over (epoch_s, event_id, value) tuples (total order by
    the unique event_id), so the whole candle is ONE watermarked groupBy
    with map-side partials — no window-function pass, which streaming
    could not run anyway. Windows finalize in append mode once the
    watermark passes; in complete mode the output equals the batch twin
    row-for-row (test-asserted)."""
    e = _watermarked(events, "ts", watermark).withColumn(
        "_s", F.unix_timestamp("ts")
    )
    tup = F.struct("_s", "event_id", "value")
    return (
        e.groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(
            F.min(tup).getField("value").alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max(tup).getField("value").alias("close"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            F.col("w.start").alias("win_start"), "event_type",
            "open", "high", "low", "close", "n_events",
        )
    )


def value_histogram_stream(
    events: DataFrame,
    width: str = "1 hour",
    watermark: str = "2 hours",
    bin_width_cents: int = 2000,
    n_bins: int = 25,
) -> DataFrame:
    """Streaming fixed-bin value histogram — the live twin of the graded
    ``ev_value_histogram`` query with a time axis: per (window,
    event_type, bin) exact-integer counts. Bins come from int64 cents
    floor-division (no float boundaries), so the aggregation is a pure
    mergeable count — the same partial-combine shape at 32 cores or
    1000 executors, and identical between micro-batches and one batch
    pass (test-asserted in complete mode)."""
    e = _watermarked(events, "ts", watermark).withColumn(
        "_yc", F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    ).withColumn(
        "_bin",
        F.least(
            F.greatest(F.floor(F.col("_yc") / bin_width_cents), F.lit(0)),
            F.lit(n_bins - 1),
        ).cast("long"),
    )
    return (
        e.groupBy(F.window("ts", width).alias("w"), "event_type", "_bin")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("_yc").alias("sum_c"))
        .select(
            F.col("w.start").alias("win_start"), "event_type",
            F.col("_bin").alias("bin"),
            (F.col("_bin") * bin_width_cents).alias("bin_lo_cents"),
            "n", "sum_c",
        )
    )


def dedup_within_watermark(events: DataFrame, keys: list[str], watermark: str = "2 hours") -> DataFrame:
    """Stateful streaming dedup: FIRST event per key wins — later events
    with the same key but a different event time are also dropped, as long
    as they arrive within the watermark horizon of the first. State for a
    key expires once the watermark passes (bounded memory).

    ``dropDuplicatesWithinWatermark`` (Spark 3.5+) is the engine primitive
    with exactly these semantics; on a batch frame it degrades to plain
    key-dedup, which keeps the batch twin runnable.
    """
    return _watermarked(events, "ts", watermark).dropDuplicatesWithinWatermark(keys)


def dedup_exact_events(events: DataFrame, keys: list[str], watermark: str = "2 hours") -> DataFrame:
    """Exact-event dedup: drops only identical ``(keys..., ts)`` pairs —
    re-delivered events — keeping genuinely distinct events that share a
    key (the at-least-once-delivery cleanup shape)."""
    return _watermarked(events, "ts", watermark).dropDuplicates(keys + ["ts"])


def run_to_memory(stream_df: DataFrame, output_mode: str = "append") -> DataFrame:
    """Execute a streaming DataFrame with availableNow (process everything,
    then stop) into a memory sink; returns a batch DataFrame of the result."""
    name = f"qds_mem_{uuid.uuid4().hex[:8]}"
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    spark = stream_df.sparkSession
    # materialize, then release the memory-sink table — the sink pins the
    # full result in driver memory and the temp view would otherwise live
    # for the session (r10 streaming review)
    table = spark.table(name)
    rows, schema = table.collect(), table.schema
    spark.catalog.dropTempView(name)
    return spark.createDataFrame(rows, schema)


def streaming_ingest_dedup(
    docs: DataFrame, text_col: str = "text", ts_col: str = "ingest_ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """[ext] Streaming-ingestion exact dedup — the streaming twin of
    ``dedup.exact_dedup`` for a continuously-arriving document corpus:
    canonical-form fingerprint per document, first arrival of each
    fingerprint wins, re-ingested copies inside the watermark horizon are
    dropped and state expires with the watermark (bounded memory — the
    property that lets this run forever at ingest scale)."""
    from qcardia_data_spark.functions.text import doc_fingerprint

    fp = docs.withColumn("fp", doc_fingerprint(F.col(text_col)))
    return _watermarked(fp, ts_col, watermark).dropDuplicatesWithinWatermark(["fp"])


def streaming_near_dedup_intake(
    docs_stream: DataFrame, index_path: str, out_path: str, checkpoint: str,
    id_col: str = "doc_id", text_col: str = "text",
    n_bands: int = 8, shingle_n: int = 3, threshold: float = 0.6,
    available_now: bool = True,
):
    """[ext] Streaming NEAR-dedup intake — the continuous form of the
    standing-index operating mode (`dedup.near_dedup_incremental`): each
    micro-batch of crawled documents is deduped against the persisted
    signature index (and within itself), survivors land in a
    batch-partitioned parquet sink, and their signatures are appended to
    the index so the NEXT micro-batch sees them. State lives entirely in
    the index table, not in Spark streaming state — memory is O(batch),
    not O(corpus), which is what lets this run forever at crawl scale.

    Delivery: the survivor sink writes to ``_batch=<epoch id>/``
    partitions with dynamic partition overwrite, so a retried batch
    REPLACES its own output (exactly-once output); the index append is
    at-least-once, which is safe — a retry's duplicate signature rows
    produce the same candidate pairs after the probe's ``distinct()``,
    and the same-id guard in `near_dedup_incremental` keeps a retried
    batch from matching its own appended copies. Crawl ids must be
    monotonically increasing across batches (the standard layout) for
    the full-corpus-equivalence invariant to hold.

    Returns the started `StreamingQuery` (await it; availableNow drains
    the backlog and stops — the cron-style "dedup this week's crawl").
    """
    from qcardia_data_spark.functions.dedup import near_dedup_incremental

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        kept = near_dedup_incremental(
            batch_df, index_path, id_col, text_col,
            n_bands=n_bands, shingle_n=shingle_n, threshold=threshold,
            update_index=True,
            # a retried micro-batch's ids overlap its own appended index
            # copies — the monotone-id guard must not kill the retry; the
            # same-id filter inside near_dedup_incremental keeps the
            # replay idempotent, and the checkpoint guarantees batches
            # otherwise arrive in order
            allow_replay=True,
        )
        _write_batch_partition(kept, batch_id, out_path)

    return _start_intake(docs_stream, _batch, checkpoint, available_now)


def streaming_ann_index_intake(
    vec_stream: DataFrame, index_path: str, checkpoint: str,
    id_col: str = "vec_id", vec_col: str = "embedding",
    available_now: bool = True,
):
    """[ext] Streaming ANN-index intake — the continuous form of
    `similarity.ann_index_append`: each micro-batch of freshly embedded
    vectors is bucketed/assigned/encoded from the standing index's OWN
    meta and appended in place, so the index serves queries over
    everything ingested so far without a rebuild. State lives entirely
    in the index table — memory is O(batch), the same argument as
    :func:`streaming_near_dedup_intake`.

    Delivery: the append is at-least-once per micro-batch, but
    `ann_index_append`'s same-id guard (a partition-pruned anti-join
    against the batch's own bucket/cell directories) makes a retried
    batch a 0-row no-op, so the INDEX converges exactly-once with no
    `_batch=` sink machinery needed.

    Returns the started `StreamingQuery` (availableNow drains the
    backlog and stops — the cron-style "index this week's embeddings").
    """
    from qcardia_data_spark.functions.similarity import ann_index_append

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        ann_index_append(batch_df, index_path, id_col=id_col, vec_col=vec_col)

    return _start_intake(vec_stream, _batch, checkpoint, available_now)


def streaming_upsert_intake(
    change_stream: DataFrame, store_path: str, checkpoint: str,
    tiebreak: str | None = None, available_now: bool = True,
):
    """[ext] Streaming CDC intake — the continuous form of
    `cdc.merge_upsert_partitioned`: each micro-batch of change rows is
    merged latest-wins into the persisted upsert table (key/ts/bucketing
    frozen in the table's own manifest), so the table serves
    current-state reads over everything ingested so far. State lives
    entirely in the table — memory is O(batch), the
    :func:`streaming_ann_index_intake` argument.

    Delivery: the merge is at-least-once per micro-batch, but latest-wins
    is idempotent AND out-of-order-safe — a replayed batch re-offers rows
    that are never newer than what the table already holds, so every
    retry (even one arriving after later batches merged) is a no-op and
    the TABLE converges exactly-once with no ``_batch=`` sink machinery.
    Pass ``tiebreak`` whenever (key, ts) can repeat within a batch, the
    same determinism contract as the batch op.

    Returns the started `StreamingQuery` (availableNow drains the
    backlog and stops — the cron-style "apply today's CDC feed").
    """
    from qcardia_data_spark.functions.cdc import merge_upsert_partitioned

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        merge_upsert_partitioned(
            batch_df.sparkSession, store_path, batch_df, tiebreak=tiebreak
        )

    return _start_intake(change_stream, _batch, checkpoint, available_now)


def streaming_hll_intake(
    stream: DataFrame, store_path: str, checkpoint: str,
    keys: list[str], value_col: str, p: int = 4,
    available_now: bool = True,
):
    """[ext] Streaming distinct-count sketch intake — the continuous form
    of `sketches.hll_registers` + `hll_store_merge`: each micro-batch is
    sketched into its md5 register table (groups x 2^p tiny rows) and
    max-merged into the persisted store, which therefore always answers
    "distinct values so far, per group" without ever shuffling raw
    values or holding per-value streaming state. Memory is O(batch) +
    O(groups x 2^p) — the sketch IS the state, and it lives in the
    store, the `streaming_ann_index_intake` argument.

    Delivery: max-merge is idempotent and commutative, so at-least-once
    replays and out-of-order batches converge exactly — no `_batch=`
    sink machinery; param drift across restarts is refused by the
    store's own manifest.

    Returns the started `StreamingQuery` (availableNow drains the
    backlog and stops).
    """
    from qcardia_data_spark.functions.sketches import (
        hll_register_intake_batch,
    )

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        hll_register_intake_batch(
            batch_df, store_path, keys=keys, value_col=value_col, p=p
        )

    return _start_intake(stream, _batch, checkpoint, available_now)


def streaming_cms_intake(
    stream: DataFrame, store_path: str, checkpoint: str,
    keys: list[str], value_col: str, depth: int = 3, width: int = 64,
    available_now: bool = True,
):
    """[ext] Streaming frequency-sketch intake — the Count-Min twin of
    `streaming_hll_intake`, with the OPPOSITE delivery design forced by
    the merge algebra: HLL merges by max (idempotent — replays are free,
    merge in place), CMS merges by SUM (a replayed merge double-counts),
    so each micro-batch lands its sketch as its own `_batch=<epoch id>`
    partition with dynamic overwrite — a retry replaces its own cells,
    exactly-once — and `cms_store_read` sum-merges the log on read
    (sum-mergeable cells make the append log itself the sketch). Memory
    is O(batch) + the store grows by groups x depth x width per batch.
    """
    from qcardia_data_spark.functions.sketches import cms_store_append_batch

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        cms_store_append_batch(
            batch_df, store_path, keys=keys, value_col=value_col,
            batch_id=batch_id, depth=depth, width=width,
        )

    return _start_intake(stream, _batch, checkpoint, available_now)


def streaming_winnow_dedup_intake(
    docs_stream: DataFrame, index_path: str, out_path: str, checkpoint: str,
    id_col: str = "doc_id", text_col: str = "text",
    min_shared: int = 2, max_df: int = 20,
    available_now: bool = True,
):
    """[ext] Streaming winnow-dedup intake — the MOSS tier's continuous
    form (`dedup.winnow_incremental`), the cheaper sibling of
    `streaming_near_dedup_intake`: each micro-batch fingerprints only
    itself (zero-exchange array-domain selection), probes only its own
    fp_bucket directories of the standing index, survivors land in a
    `_batch=`-partitioned sink (dynamic overwrite: a retried batch
    replaces its own output, exactly-once) and their fingerprints append
    so the NEXT batch sees them. State lives in the index table — memory
    O(batch); `allow_replay` + the pool's same-id dedup make a retried
    append converge.
    """
    from qcardia_data_spark.functions.dedup import winnow_incremental

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        kept = winnow_incremental(
            batch_df, index_path, id_col=id_col, text_col=text_col,
            min_shared=min_shared, max_df=max_df,
            update_index=True, allow_replay=True,
        )
        _write_batch_partition(kept, batch_id, out_path)

    return _start_intake(docs_stream, _batch, checkpoint, available_now)


def streaming_hamming64_intake(
    sig_stream: DataFrame, index_path: str, pairs_out: str, checkpoint: str,
    id_col: str = "doc_id", available_now: bool = True,
):
    """[ext] Streaming media/simhash near-dup intake — the continuous
    form of `dedup.hamming64_index_probe`: each micro-batch of 64-bit
    signatures (text simhash64, image pHash, audio/video fingerprints —
    whatever feeds the shared Manku engine) probes the standing index
    for within-k partners, lands the discovered pairs in a
    `_batch=`-partitioned sink (dynamic overwrite: a retried batch
    replaces its own output, exactly-once) and appends its blocks so the
    NEXT batch sees it. State lives in the index table — O(batch)
    memory; `allow_replay` + the candidate distinct make retried appends
    converge.
    """
    from qcardia_data_spark.functions.dedup import hamming64_index_probe

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        pairs = hamming64_index_probe(
            batch_df, index_path, id_col=id_col,
            update_index=True, allow_replay=True,
        )
        _write_batch_partition(pairs, batch_id, pairs_out)

    return _start_intake(sig_stream, _batch, checkpoint, available_now)
