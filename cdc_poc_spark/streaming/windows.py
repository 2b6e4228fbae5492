"""Event-time streaming analytics: watermarks + tumbling / sliding /
session windows + streaming dedup (SURVEY §2.B streaming rows — absent
from the reference, declared engine surface).

Every aggregation is keyed by (window, low-cardinality key): state per
partition stays bounded and the watermark evicts it — the shape that
holds at 100 TB/day. All functions accept either a streaming or a batch
DataFrame (Catalyst compiles both), which is how tests assert exact
results with availableNow + memory sink.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..tables import VAL, dec
from .commit import write_epoch


def with_event_time(df: DataFrame, ts_ns_col: str = "ts") -> DataFrame:
    """events fixture carries epoch-nanos longs; event-time ops need a
    timestamp column (truncated to micros — SURVEY §1.2 semantics)."""
    return df.withColumn("etime", F.timestamp_micros(F.expr(f"{ts_ns_col} DIV 1000")))


def tumbling_counts(
    df: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
    time_col: str = "etime",
) -> DataFrame:
    """Tumbling window counts+sums per event type; watermark bounds
    state and admits late data up to the horizon."""
    return (
        df.withWatermark(time_col, watermark)
        .groupBy(F.window(time_col, window), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec("value", VAL)).cast("double").alias("total"),
        )
        .select(
            F.col("window.start").alias("win_start"),
            F.col("window.end").alias("win_end"),
            "event_type",
            "n",
            "total",
        )
    )


def sliding_counts(
    df: DataFrame,
    window: str = "1 hour",
    slide: str = "15 minutes",
    watermark: str = "2 hours",
    time_col: str = "etime",
) -> DataFrame:
    """Sliding window (overlapping assignment: each row lands in
    window/slide buckets)."""
    return (
        df.withWatermark(time_col, watermark)
        .groupBy(F.window(time_col, window, slide), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("window.start").alias("win_start"),
            F.col("window.end").alias("win_end"),
            "event_type",
            "n",
        )
    )


def session_windows(
    df: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    time_col: str = "etime",
) -> DataFrame:
    """Per-user session windows (dynamic length, closed after `gap` of
    inactivity)."""
    return (
        df.withWatermark(time_col, watermark)
        .groupBy(F.session_window(time_col, gap), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(dec("value", VAL)).cast("double").alias("session_value"),
        )
        .select(
            F.col("session_window.start").alias("sess_start"),
            F.col("session_window.end").alias("sess_end"),
            "user_id",
            "n_events",
            "session_value",
        )
    )


def stream_dedup(
    df: DataFrame,
    keys: list[str] | None = None,
    watermark: str = "2 hours",
    time_col: str = "etime",
) -> DataFrame:
    """Streaming exactly-once dedup by key within the watermark horizon
    (state auto-evicted — unbounded dropDuplicates is a leak at scale)."""
    keys = keys or ["event_id"]
    return df.withWatermark(time_col, watermark).dropDuplicatesWithinWatermark(keys)


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    left_type: str = "view",
    right_type: str = "purchase",
    within: str = "1 hour",
    watermark: str = "2 hours",
    time_col: str = "etime",
) -> DataFrame:
    """Watermarked stream-stream inner join: pair each `right_type`
    event with `left_type` events by the same user that happened up to
    `within` BEFORE it (the view→purchase attribution shape).

    Both sides carry watermarks and the join condition bounds event-time
    distance — the two requirements that let Structured Streaming evict
    join state (unbounded stream-stream joins grow state forever, the
    100 TB/day killer). State per side ≈ events inside the watermark
    horizon, partitioned by user_id.

    Works identically on batch DataFrames (no watermark needed), which
    is how the oracle-style test asserts exact results.
    """
    l = (
        left.filter(F.col("event_type") == left_type)
        .withWatermark(time_col, watermark)
        .select(
            F.col("user_id").alias("l_user"),
            F.col("event_id").alias("l_event_id"),
            F.col(time_col).alias("l_time"),
        )
    )
    r = (
        right.filter(F.col("event_type") == right_type)
        .withWatermark(time_col, watermark)
        .select(
            F.col("user_id").alias("r_user"),
            F.col("event_id").alias("r_event_id"),
            F.col(time_col).alias("r_time"),
        )
    )
    return l.join(
        r,
        (F.col("l_user") == F.col("r_user"))
        & (F.col("l_time") <= F.col("r_time"))
        & (F.col("r_time") <= F.col("l_time") + F.expr(f"INTERVAL {within}")),
    ).select(
        F.col("l_user").alias("user_id"),
        "l_event_id",
        "r_event_id",
        "l_time",
        "r_time",
    )


def stream_static_enrich(
    stream: DataFrame,
    dim: DataFrame,
    stream_key: str = "user_id",
    dim_key: str = "c_custkey",
    dim_cols: tuple = ("c_name", "c_mktsegment"),
) -> DataFrame:
    """Stream-static enrichment join: attach dimension attributes to
    each streaming event (the canonical "enrich clicks with the user
    table" shape; reference delegates enrichment to downstream SQL —
    here it runs in-flight).

    The static side is broadcast, so each micro-batch is a map-side
    hash join with NO shuffle of the stream and no streaming state at
    all (unlike stream-stream joins). Structured Streaming re-evaluates
    the static side's plan each micro-batch, so a slowly-changing dim
    table picks up updates between batches. For a dim too big to
    broadcast, drop the hint: Spark shuffles each micro-batch by key
    instead — same semantics, bounded by batch size, still no state.
    """
    d = dim.select(F.col(dim_key).alias(stream_key), *dim_cols)
    return stream.join(F.broadcast(d), stream_key, "left")


def streaming_anomaly_zscore(
    events_stream: DataFrame, inc_dir: str, checkpoint_dir: str
):
    """Streaming half of tw_anomaly_zscore: maintain the hourly
    (series, bucket) count relation incrementally from the event
    stream, so the anomaly flags can be re-derived per epoch (or on
    demand) from a tiny standing aggregate instead of rescanning the
    event history.

    Why foreachBatch instead of a watermarked append-mode agg: the
    z-score baseline is a PER-SERIES GLOBAL statistic — every bucket's
    flag can change when new buckets arrive, so finalized-append
    semantics are the wrong contract; the right streaming shape is
    incremental view maintenance of the bucket counts (the pattern of
    streaming/ivm_join.py's maintained aggregates) with derivation on
    read. Each epoch lands its per-batch bucket increments under
    ``__epoch=N`` with dynamic-partition overwrite — a replayed epoch
    REWRITES its own partition, so the maintained counts are
    exactly-once under restart (same discipline as
    CDCConsumer.land_log_batch).

    Drained with availableNow over the full fixture,
    derive_bucket_anomalies(inc_dir) is asserted row-for-row EQUAL to
    the batch tw_anomaly_zscore in tests/test_streaming.py."""

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        inc = (
            batch_df.withColumn("ts_us", F.expr("ts DIV 1000"))
            .withColumn(
                "bucket_us", (F.col("ts_us") - F.pmod("ts_us", F.lit(3600 * 1_000_000)))
            )
            .groupBy("event_type", "bucket_us")
            .agg(F.count(F.lit(1)).alias("n_inc"))
        )
        write_epoch(inc, inc_dir, epoch_id, col="__epoch")

    return (
        events_stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def derive_bucket_anomalies(spark, inc_dir: str, sigma: float = 2.0) -> DataFrame:
    """Derive the anomaly flags from the maintained bucket increments —
    the read side of streaming_anomaly_zscore. Cost is the standing
    aggregate's size (|series × hours × epochs-touching-them|), never
    the event history. Shares operators/temporal.py:anomaly_zscore_flags
    with the batch query, so both flag identical buckets by
    construction."""
    from ..operators.temporal import anomaly_zscore_flags

    inc = spark.read.parquet(inc_dir)
    b = (
        inc.groupBy("event_type", "bucket_us")
        .agg(F.sum("n_inc").cast("long").alias("n_events"))
    )
    return anomaly_zscore_flags(b, sigma=sigma)


def streaming_watermark_recommendation(
    events_stream: DataFrame, state_dir: str, checkpoint_dir: str
):
    """Streaming twin of queries/profiling.py:cdc_watermark_recommendation
    (VERDICT r5 task 6): incrementally maintain the per-(series, second)
    lateness histogram against the running event-time HIGH-WATER MARK,
    epoch by epoch, with derivation on read — the same IVM shape as
    streaming_anomaly_zscore.

    Per micro-batch the handler (a) recomputes each event's arrival
    bucket (deterministic md5 jitter — the arrival key is part of the
    query definition, identical to the batch query), (b) reads the
    PRIOR high-water mark from previously landed per-epoch bucket
    maxima (``__epoch < epoch_id`` — a replayed epoch never sees its
    own first attempt, so the lateness it computes is exactly what the
    first attempt computed), (c) extends it with the within-batch
    running max over earlier buckets, (d) lands the batch's histogram
    increments AND its per-bucket maxima under ``__epoch=N`` with
    dynamic-partition overwrite (exactly-once under replay, like
    CDCConsumer.land_log_batch).

    Input contract: arrival order — files must reach the stream in
    arrival-bucket order (that is what "arrival" means; the test splits
    the fixture into per-bucket-range files). Derivation:
    derive_watermark_recommendation, asserted row-equal to the batch
    query after an availableNow drain."""
    import os

    from pyspark.sql import Window as W

    from ..operators.temporal import (
        JITTER_SPARK,
        WM_BATCH,
        lateness_histogram,
    )

    bm_dir = os.path.join(state_dir, "bm")
    hist_dir = os.path.join(state_dir, "hist")

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        e = batch_df.select(
            "event_type",
            "event_id",
            F.expr("ts DIV 1000").alias("ts_us"),
            F.expr(f"({JITTER_SPARK}) DIV {WM_BATCH}").alias("bkt"),
        )
        prior = None
        if os.path.isdir(bm_dir):
            row = (
                spark.read.parquet(bm_dir)
                .filter(F.col("__epoch") < int(epoch_id))
                .agg(F.max("bmax"))
                .collect()[0]
            )
            prior = row[0]
        bm = e.groupBy("bkt").agg(F.max("ts_us").alias("bmax"))
        wprev = W.orderBy("bkt").rowsBetween(W.unboundedPreceding, -1)
        # greatest() skips nulls: first bucket of the first epoch gets
        # NULL hwm_prev -> lateness 0, same as the batch query
        hwm = bm.select(
            "bkt",
            F.greatest(
                F.lit(prior).cast("long"), F.max("bmax").over(wprev)
            ).alias("hwm_prev"),
        )
        inc = lateness_histogram(e, hwm).withColumnRenamed("c", "n_inc")
        write_epoch(inc, hist_dir, epoch_id, col="__epoch")
        write_epoch(bm, bm_dir, epoch_id, col="__epoch")

    return (
        events_stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def derive_watermark_recommendation(spark, state_dir: str) -> DataFrame:
    """Read side of streaming_watermark_recommendation: merge the
    maintained per-epoch histogram increments and run the SHARED
    percentile rollup (operators/temporal.py:lateness_percentile_rollup
    — same code as the batch query, so equal inputs give equal outputs
    by construction). Cost is the standing histogram's size, never the
    event history."""
    import os

    from ..operators.temporal import lateness_percentile_rollup

    hist = (
        spark.read.parquet(os.path.join(state_dir, "hist"))
        .groupBy("event_type", "lat_q")
        .agg(F.sum("n_inc").cast("long").alias("c"))
    )
    return lateness_percentile_rollup(hist)


def _derived_buckets(spark, inc_dir: str) -> DataFrame:
    """The maintained hourly bucket counts (read side of
    streaming_anomaly_zscore's IVM state) as the (event_type,
    bucket_us, x) relation every bucket-derived analytic consumes."""
    return (
        spark.read.parquet(inc_dir)
        .groupBy("event_type", "bucket_us")
        .agg(F.sum("n_inc").cast("long").alias("x"))
    )


def derive_bucket_ewma(spark, inc_dir: str) -> DataFrame:
    """Trailing EWMA derived from the SAME maintained bucket counts the
    z-score anomaly flags read — the point of the IVM design: one
    incrementally-maintained aggregate, many derived analytics, each
    sharing its batch query's derivation verbatim
    (operators/temporal.py:ewma_trailing; asserted row-equal to
    tw_ewma_trailing in tests/test_streaming.py)."""
    from ..operators.temporal import ewma_trailing

    return ewma_trailing(_derived_buckets(spark, inc_dir))


def derive_bucket_cusum(spark, inc_dir: str) -> DataFrame:
    """CUSUM change points derived from the same maintained bucket
    counts (operators/temporal.py:cusum_changepoints; asserted
    row-equal to tw_cusum_changepoint in tests/test_streaming.py)."""
    from ..operators.temporal import cusum_changepoints

    return cusum_changepoints(_derived_buckets(spark, inc_dir))


def streaming_out_of_order_profile(
    events_stream: DataFrame, state_dir: str, checkpoint_dir: str
):
    """Streaming twin of queries/profiling.py:cdc_out_of_order_profile
    (VERDICT r6 task 6): incrementally maintain per-series
    (n_events, n_out_of_order) counters against per-user LAST-ARRIVAL
    state, epoch by epoch — the watermark-recommendation epoch pattern
    applied to the regression-flag profile.

    Per micro-batch the handler (a) computes each event's arrival key
    (the SAME deterministic md5 jitter the batch query and its oracle
    use — operators/temporal.py:JITTER_SPARK), (b) flags within-batch
    event-time regressions with the same per-user lag the batch query
    runs, (c) flags the batch's FIRST event per user against the
    user's last event-time from PRIOR epochs only (``__epoch <
    epoch_id`` — a replayed epoch never sees its own first attempt),
    and (d) lands the per-series counter increments AND the per-user
    last-arrival rows under ``__epoch=N`` with dynamic-partition
    overwrite (exactly-once under replay, like land_log_batch).

    Input contract: arrival order — files must reach the stream in
    arrival-key order (same contract as
    streaming_watermark_recommendation; the test splits the fixture
    into per-arrival-bucket files). Derivation:
    derive_out_of_order_profile, asserted row-equal to the batch query
    after an availableNow drain."""
    import os

    from pyspark.sql import Window as W

    from ..operators.temporal import JITTER_SPARK

    inc_dir = os.path.join(state_dir, "inc")
    last_dir = os.path.join(state_dir, "last")

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        e = batch_df.select(
            "event_type",
            "user_id",
            "event_id",
            F.expr("ts DIV 1000").alias("ts_us"),
            F.expr(f"({JITTER_SPARK})").alias("arr"),
        )
        seq = W.partitionBy("user_id").orderBy("arr", "event_id")
        lagged = e.withColumn("prev_ts", F.lag("ts_us").over(seq))
        if os.path.isdir(last_dir):
            prior = (
                spark.read.parquet(last_dir)
                .filter(F.col("__epoch") < int(epoch_id))
                .groupBy("user_id")
                .agg(F.max(F.struct("arr", "event_id", "ts_us")).alias("s"))
                .select("user_id", F.col("s.ts_us").alias("prior_ts"))
            )
            lagged = lagged.join(prior, "user_id", "left").withColumn(
                "prev_ts", F.coalesce("prev_ts", "prior_ts")
            )
        late = F.when(F.col("ts_us") < F.col("prev_ts"), 1).otherwise(0)
        inc = (
            lagged.select("event_type", late.alias("late"))
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n_inc"),
                F.sum("late").alias("late_inc"),
            )
        )
        write_epoch(inc, inc_dir, epoch_id, col="__epoch")
        last = (
            e.groupBy("user_id")
            .agg(F.max(F.struct("arr", "event_id", "ts_us")).alias("s"))
            .select("user_id", "s.arr", "s.event_id", "s.ts_us")
        )
        write_epoch(last, last_dir, epoch_id, col="__epoch")

    return (
        events_stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def derive_out_of_order_profile(spark, state_dir: str) -> DataFrame:
    """Read side of streaming_out_of_order_profile: sum the maintained
    per-epoch counter increments and run the SHARED final projection
    (operators/temporal.py:ooo_profile_from_counts — same code as the
    batch query, so equal counts give equal shares by construction).
    Cost is |series x epochs| rows, never the event history."""
    import os

    from ..operators.temporal import ooo_profile_from_counts

    counts = (
        spark.read.parquet(os.path.join(state_dir, "inc"))
        .groupBy("event_type")
        .agg(
            F.sum("n_inc").cast("long").alias("n_events"),
            F.sum("late_inc").cast("long").alias("n_out_of_order"),
        )
    )
    return ooo_profile_from_counts(counts)
