"""CDC semantics as batch queries over the events changelog.

The reference lands an append-only CDC log and defers current-state
materialization ("TODO: Switch to MERGE INTO", reference
spark/scripts/consumer.py:76). These queries implement that semantic the
Spark-native way: window-dedup (latest row per key by event time) — the
exact rewrite named in SURVEY §1.4 — plus changelog analytics (op-code
counts, before/after reconstruction with lag, SCD2 validity intervals).

The `events` fixture stands in for the changelog: `user_id` is the key,
`ts` (epoch-nanos long) the monotonic sequence (the Kafka-offset/LSN
stand-in, FIXTURES.md A2), `event_type='error'` plays the tombstone.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..operators.scale import pin
from ..sources.files import ephemeral_database, ephemeral_dir, stage_batches
from ..streaming import await_done
from ..tables import VAL, dec, events_with_time, load_table
from . import register


def _event_op():
    """The events fixture's Debezium op code: signup creates, error
    deletes (the tombstone), every other event type updates."""
    return (
        F.when(F.col("event_type") == "signup", F.lit("c"))
        .when(F.col("event_type") == "error", F.lit("d"))
        .otherwise(F.lit("u"))
    )


def _event_envelope(*after_cols):
    """One events row as a Debezium envelope JSON string:
    ``{payload: {before: null, after: {after_cols}, op, ts_ms}}``
    (default after-image: user_id, event_id, value)."""
    after_cols = after_cols or ("user_id", "event_id", "value")
    return F.to_json(
        F.struct(
            F.struct(
                F.lit(None).cast("string").alias("before"),
                F.struct(*after_cols).alias("after"),
                _event_op().alias("op"),
                F.expr("ts DIV 1000000").alias("ts_ms"),
            ).alias("payload")
        )
    )


# ---------------------------------------------------------------------------
# Current-state materialization (the flagship)
# ---------------------------------------------------------------------------

_LATEST_ORACLE = """
WITH ranked AS (
  SELECT user_id, event_id, event_type, value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
SELECT c_mktsegment, event_type,
       COUNT(*) AS n_users,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
FROM ranked
JOIN customer ON user_id = c_custkey
WHERE rn = 1 AND event_type <> 'error'
GROUP BY c_mktsegment, event_type
"""


@register("cdc_current_state_by_segment", oracle=_LATEST_ORACLE, tags=("cdc", "window", "join", "agg"))
def cdc_current_state_by_segment(spark, sf_dir):
    """Flagship: changelog -> current state (row_number over key ordered by
    sequence desc), tombstone filter, broadcast join to the customer dim,
    aggregate by segment. This is the MERGE-INTO semantics of reference
    consumer.py:76 expressed as a pure Catalyst plan.

    Scale: the window shuffles once on user_id (the natural key); the dim
    join is broadcast; nothing else shuffles.
    """
    ev = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer")
    w = W.partitionBy("user_id").orderBy(F.expr("ts DIV 1000").desc(), F.col("event_id").desc())
    latest = (
        ev.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1 AND event_type <> 'error'")
    )
    return (
        latest.join(F.broadcast(cust), latest.user_id == cust.c_custkey)
        .groupBy("c_mktsegment", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum(dec("value", VAL)).cast("double").alias("total_value"),
        )
    )


_STATE_TABLE_ORACLE = """
WITH ranked AS (
  SELECT user_id, event_id, event_type, value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
SELECT user_id, event_id AS last_event_id, event_type AS last_event_type,
       CAST(value AS DOUBLE) AS last_value
FROM ranked WHERE rn = 1 AND event_type <> 'error'
"""


@register("cdc_current_state_table", oracle=_STATE_TABLE_ORACLE, tags=("cdc", "window"))
def cdc_current_state_table(spark, sf_dir):
    """The materialized mirror itself (reference §1.1d shape): one row per
    live key, latest attributes win, tombstones dropped."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.expr("ts DIV 1000").desc(), F.col("event_id").desc())
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1 AND event_type <> 'error'")
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("event_type").alias("last_event_type"),
            F.col("value").alias("last_value"),
        )
    )


SNAPSHOT_CUTOFF_US = 1_705_276_800_000_000  # 2024-01-15T00:00:00Z, mid-changelog

_SNAPSHOT_ORACLE = """
WITH ranked AS (
  SELECT user_id, event_id, event_type, value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
  WHERE ts <= TIMESTAMP '2024-01-15 00:00:00'
)
SELECT user_id, event_id AS last_event_id, event_type AS last_event_type,
       CAST(value AS DOUBLE) AS last_value
FROM ranked WHERE rn = 1 AND event_type <> 'error'
"""


@register("cdc_snapshot_at_time", oracle=_SNAPSHOT_ORACLE, tags=("cdc", "window", "timetravel"))
def cdc_snapshot_at_time(spark, sf_dir):
    """Point-in-time snapshot: the mirror AS OF a cutoff — the time-travel
    read an append-only changelog gives you for free (filter seq <= t
    BEFORE the window dedup, so the cutoff predicate pushes into the
    parquet scan and history after t is never read). Epoch-micros
    comparison on both engines (DuckDB truncates the nanos column to
    micros; Spark divides the raw long)."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.expr("ts DIV 1000").desc(), F.col("event_id").desc())
    return (
        ev.filter(F.expr("ts DIV 1000") <= F.lit(SNAPSHOT_CUTOFF_US))
        .withColumn("rn", F.row_number().over(w))
        .filter("rn = 1 AND event_type <> 'error'")
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("event_type").alias("last_event_type"),
            F.col("value").cast("double").alias("last_value"),
        )
    )


# ---------------------------------------------------------------------------
# Changelog analytics
# ---------------------------------------------------------------------------

_OPLOG_ORACLE = """
SELECT
  CASE event_type WHEN 'signup' THEN 'c' WHEN 'error' THEN 'd' ELSE 'u' END AS op,
  COUNT(*) AS n_events,
  COUNT(DISTINCT user_id) AS n_keys
FROM events
GROUP BY 1
"""


@register("cdc_oplog_profile", oracle=_OPLOG_ORACLE, tags=("cdc", "agg"))
def cdc_oplog_profile(spark, sf_dir):
    """Debezium op-code profile (r/c/u/d domain, reference consumer.py:55):
    map event types onto op codes and profile the log."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(_event_op().alias("op")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_keys"),
    )


_BEFORE_AFTER_ORACLE = """
SELECT event_id, user_id,
       lag(value)  OVER (PARTITION BY user_id ORDER BY ts, event_id) AS before_value,
       value AS after_value,
       CAST(CAST(value AS DECIMAL(12,2)) -
            COALESCE(CAST(lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS DECIMAL(12,2)), 0)
            AS DOUBLE) AS delta
FROM events
"""


@register("cdc_before_after_reconstruction", oracle=_BEFORE_AFTER_ORACLE, tags=("cdc", "window"))
def cdc_before_after_reconstruction(spark, sf_dir):
    """Reconstruct Debezium before/after pairs from a bare changelog with
    lag() — the analytic twin of the envelope's before/after fields
    (reference consumer.py:53-54)."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.expr("ts DIV 1000"), "event_id")
    before = F.lag("value").over(w)
    delta = (
        dec("value", VAL) - F.coalesce(F.lag(dec("value", VAL)).over(w), F.lit(0).cast(VAL))
    ).cast("double")
    return ev.select(
        "event_id",
        "user_id",
        before.alias("before_value"),
        F.col("value").alias("after_value"),
        delta.alias("delta"),
    )


_SCD2_ORACLE = """
SELECT user_id, event_id, event_type,
       epoch_us(ts) AS valid_from_us,
       lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to_us
FROM events
"""


@register("cdc_scd2_intervals", oracle=_SCD2_ORACLE, tags=("cdc", "window"))
def cdc_scd2_intervals(spark, sf_dir):
    """SCD2 validity intervals: each change is valid until the key's next
    change (lead). Emitted as epoch-micros longs — the reference's
    epoch-integer timestamp convention (SURVEY §1.2)."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.expr("ts DIV 1000"), "event_id")
    return ev.select(
        "user_id",
        "event_id",
        "event_type",
        F.expr("ts DIV 1000").alias("valid_from_us"),
        F.lead(F.expr("ts DIV 1000")).over(w).alias("valid_to_us"),
    )


# ---------------------------------------------------------------------------
# Changelog operations analytics: hot keys (merge-skew early warning)
# ---------------------------------------------------------------------------

_HOT_KEYS_ORACLE = """
WITH per_key AS (
  SELECT user_id, COUNT(*) AS n_changes,
         COUNT(DISTINCT event_type) AS n_op_kinds,
         CAST(MAX(epoch_us(ts)) - MIN(epoch_us(ts)) AS BIGINT) AS span_us
  FROM events GROUP BY user_id
)
SELECT user_id, n_changes, n_op_kinds, span_us
FROM per_key
ORDER BY n_changes DESC, user_id
LIMIT 25
"""


@register("cdc_hot_keys", oracle=_HOT_KEYS_ORACLE, tags=("cdc", "agg", "topk"))
def cdc_hot_keys(spark, sf_dir):
    """Change-frequency profile per key, top-25. Operationally this is
    the skew early-warning for MERGE at scale: keys here dominate
    shuffle partitions and are the salting candidates (operators/
    scale.py:salted_join)."""
    ev = events_with_time(spark, sf_dir)
    return (
        ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_changes"),
            F.countDistinct("event_type").alias("n_op_kinds"),
            (F.max("ts_us") - F.min("ts_us")).cast("long").alias("span_us"),
        )
        .orderBy(F.desc("n_changes"), F.asc("user_id"))
        .limit(25)
    )


# ---------------------------------------------------------------------------
# Changelog churn: tombstone/update mix per day (retention planning)
# ---------------------------------------------------------------------------

_CHURN_ORACLE = """
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
       COUNT(*) AS n_changes,
       COUNT(DISTINCT user_id) AS n_keys,
       CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_tombstones
FROM events
GROUP BY 1
"""


@register("cdc_daily_churn", oracle=_CHURN_ORACLE, tags=("cdc", "agg", "datetime"))
def cdc_daily_churn(spark, sf_dir):
    """Per-day changelog volume / distinct-key / tombstone mix — the
    compaction-planning query (how much log a daily merge folds away)."""
    ev = events_with_time(spark, sf_dir)
    return (
        ev.groupBy(F.date_format(F.date_trunc("day", "etime"), "yyyy-MM-dd").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_changes"),
            F.countDistinct("user_id").alias("n_keys"),
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
            .cast("long")
            .alias("n_tombstones"),
        )
    )


# ---------------------------------------------------------------------------
# Incremental aggregate maintenance (delta stream == naive recompute)
# ---------------------------------------------------------------------------

_INCR_AGG_ORACLE = """
WITH ranked AS (
  SELECT user_id, value, event_type,
         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
SELECT c_mktsegment,
       CAST(SUM(CASE WHEN event_type <> 'error'
                     THEN CAST(value AS DECIMAL(12,2))
                     ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE) AS total_value
FROM ranked
JOIN customer ON user_id = c_custkey
WHERE rn = 1
GROUP BY c_mktsegment
"""


@register("cdc_incremental_agg", oracle=_INCR_AGG_ORACLE, tags=("cdc", "window", "agg", "ivm"))
def cdc_incremental_agg(spark, sf_dir):
    """Incremental view maintenance: maintain SUM(value) per segment
    from the CHANGE DELTAS instead of recomputing from state.

    Each change event contributes a delta: insert -> +value, update ->
    value - previous value, tombstone -> -last live value (and a
    re-insert after a tombstone is +value again). Summing deltas per
    key telescopes to the key's final live value, so the per-segment
    totals equal the naive last-row recompute — which is exactly what
    the DuckDB oracle runs. At 100 TB this is the difference between
    touching one micro-batch of deltas and rescanning the whole mirror
    per refresh (the reference defers this to its Iceberg sink's
    MERGE, consumer.py:76; here it's a first-class plan).

    One shuffle on user_id (lag window), broadcast dim join, map-side
    partial sum. Exact decimal arithmetic end-to-end.
    """
    ev = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer")
    w = W.partitionBy("user_id").orderBy(
        F.expr("ts DIV 1000").asc(), F.col("event_id").asc()
    )
    val = dec("value", VAL)
    prev_val = F.lag(val).over(w)
    prev_type = F.lag("event_type").over(w)
    # previous LIVE value: null when there is no predecessor or it was a tombstone
    eff_prev = F.when(prev_type == "error", F.lit(None)).otherwise(prev_val)
    zero = F.lit(0).cast(VAL)
    delta = (
        F.when(F.col("event_type") == "error", -F.coalesce(eff_prev, zero))
        .otherwise(val - F.coalesce(eff_prev, zero))
    )
    deltas = ev.withColumn("delta", delta)
    return (
        deltas.join(F.broadcast(cust), deltas.user_id == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(F.sum("delta").cast("double").alias("total_value"))
    )


@register("cdc_continuous_aggregate", oracle=_INCR_AGG_ORACLE, tags=("cdc", "ivm", "streaming"))
def cdc_continuous_aggregate(spark, sf_dir):
    """The MAINTAINED version of cdc_incremental_agg: the changelog is
    replayed as three time-ordered micro-batches through
    streaming/ivm_join.ContinuousAggregate (a MaterializedJoinAggregate
    of each key's latest event, tombstones kept, with the customer dim;
    epoch-guarded), and the maintained totals are returned. The oracle
    is the naive full-history recompute — passing means the
    incrementally-maintained view is bit-exact with recomputation
    after multiple batch applications, which is the IVM correctness
    property."""
    from ..streaming.ivm_join import ContinuousAggregate

    ev = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer")
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
    cut1, cut2 = lo + (hi - lo) // 3, lo + 2 * (hi - lo) // 3
    chunks = [
        ev.filter(F.col("ts") <= cut1),
        ev.filter((F.col("ts") > cut1) & (F.col("ts") <= cut2)),
        ev.filter(F.col("ts") > cut2),
    ]
    # State lives in a dir that OUTLIVES this function (the returned
    # DataFrame reads it lazily and distributed — no driver-side collect
    # round-trip) and is reaped at interpreter exit.
    d = ephemeral_dir("cdc_poc_ivm_")
    agg = ContinuousAggregate(spark, d, cust)
    for i, chunk in enumerate(chunks):
        agg.apply_batch(chunk, epoch_id=i)
    return agg.totals().select(
        "c_mktsegment", F.col("total_value").cast("double").alias("total_value")
    )


# ---------------------------------------------------------------------------
# Round-6: snapshot DIFF between two points in time (changefeed summary).
# ---------------------------------------------------------------------------

SNAPSHOT_T2_US = 1_705_881_600_000_000  # 2024-01-22T00:00:00Z, one week later

_SNAPDIFF_ORACLE = """
WITH s1 AS (
  SELECT user_id, event_id, event_type FROM (
    SELECT user_id, event_id, event_type,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM events WHERE ts <= TIMESTAMP '2024-01-15 00:00:00'
  ) WHERE rn = 1 AND event_type <> 'error'
), s2 AS (
  SELECT user_id, event_id, event_type FROM (
    SELECT user_id, event_id, event_type,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM events WHERE ts <= TIMESTAMP '2024-01-22 00:00:00'
  ) WHERE rn = 1 AND event_type <> 'error'
), d AS (
  SELECT CASE
           WHEN s1.user_id IS NULL THEN 'added'
           WHEN s2.user_id IS NULL THEN 'removed'
           WHEN s1.event_id <> s2.event_id THEN 'changed'
           ELSE 'unchanged'
         END AS change_type,
         COALESCE(s1.user_id, s2.user_id) AS user_id
  FROM s1 FULL OUTER JOIN s2 ON s1.user_id = s2.user_id
)
SELECT change_type,
       CAST(COUNT(*) AS BIGINT) AS n_keys,
       CAST(MIN(user_id) AS BIGINT) AS min_user_id,
       CAST(MAX(user_id) AS BIGINT) AS max_user_id
FROM d GROUP BY change_type
"""


@register("cdc_snapshot_diff", oracle=_SNAPDIFF_ORACLE, tags=("cdc", "window", "timetravel"))
def cdc_snapshot_diff(spark, sf_dir):
    """Changefeed summary between two points in time: reconstruct the
    mirror AS OF T1 and AS OF T2 from the same changelog, full-outer
    join on the key, classify added / removed / changed / unchanged —
    "what did this week's changes do to the table", the audit query
    every CDC deployment runs. Both snapshots share the window-dedup
    shape of cdc_snapshot_at_time (cutoff pushed into the scan); the
    diff is ONE key-keyed join of two key-unique relations. At 100 TB
    both snapshot windows and the join share the user_id partitioning."""
    ev = load_table(spark, sf_dir, "events")

    def snap(cutoff_us):
        w = W.partitionBy("user_id").orderBy(
            F.expr("ts DIV 1000").desc(), F.col("event_id").desc()
        )
        return (
            ev.filter(F.expr("ts DIV 1000") <= F.lit(cutoff_us))
            .withColumn("rn", F.row_number().over(w))
            .filter("rn = 1 AND event_type <> 'error'")
            .select("user_id", "event_id")
        )

    s1 = snap(SNAPSHOT_CUTOFF_US).select(
        F.col("user_id").alias("k1"), F.col("event_id").alias("e1")
    )
    s2 = snap(SNAPSHOT_T2_US).select(
        F.col("user_id").alias("k2"), F.col("event_id").alias("e2")
    )
    d = s1.join(s2, s1.k1 == s2.k2, "full_outer").select(
        F.when(F.col("k1").isNull(), "added")
        .when(F.col("k2").isNull(), "removed")
        .when(F.col("e1") != F.col("e2"), "changed")
        .otherwise("unchanged")
        .alias("change_type"),
        F.coalesce("k1", "k2").alias("user_id"),
    )
    return d.groupBy("change_type").agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.min("user_id").alias("min_user_id"),
        F.max("user_id").alias("max_user_id"),
    )


# ---------------------------------------------------------------------------
# Round-6: point-in-time (feature-store) join — each fact row sees the
# dimension STATE that was valid at its own event time.
# ---------------------------------------------------------------------------

_PIT_ORACLE = """
WITH u AS (
  SELECT user_id, epoch_us(ts) AS ts_us, 0 AS kind, event_id,
         event_id AS st_id, epoch_us(ts) AS st_ts_us,
         CAST(round(CAST(value AS DECIMAL(12,2)) * 100) AS BIGINT) AS st_cents
  FROM events WHERE event_type = 'purchase'
  UNION ALL
  SELECT user_id, epoch_us(ts), 1, event_id,
         NULL, NULL, NULL
  FROM events WHERE event_type = 'click'
), s AS (
  SELECT user_id, ts_us, kind, event_id,
         last_value(st_id IGNORE NULLS) OVER w AS state_event_id,
         last_value(st_ts_us IGNORE NULLS) OVER w AS state_ts_us,
         last_value(st_cents IGNORE NULLS) OVER w AS state_cents
  FROM u
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, kind, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_id AS click_event_id, user_id, ts_us,
       state_event_id, state_cents,
       CAST(ts_us - state_ts_us AS BIGINT) AS staleness_us
FROM s WHERE kind = 1 AND state_event_id IS NOT NULL
"""


@register("cdc_point_in_time_join", oracle=_PIT_ORACLE, tags=("cdc", "join", "window"))
def cdc_point_in_time_join(spark, sf_dir):
    """POINT-IN-TIME correct join (the feature-store primitive): every
    click event is paired with the purchase-state version that was
    valid AT ITS OWN TIMESTAMP — never a later one, which is exactly
    the future-leakage a training pipeline must prevent when joining
    features to labels (the 'time-travel' join of Feast/Tecton-class
    systems, here first-class relational).

    Implementation is the UNION + running-last-state form, NOT the
    interval join: state changes (kind 0) and facts (kind 1) union into
    one keyed stream, one window pass per key carries the latest
    non-null state forward, facts read it. That shape is what scales —
    ONE shuffle on the key, no per-fact interval fanout, no range
    predicate; a fact at exactly a change's timestamp sees that change
    (kind 0 sorts first — the tie rule is part of the contract).
    staleness_us (fact time minus state version time) is the
    feature-freshness metric monitored in production."""
    ev = events_with_time(spark, sf_dir)
    cents = F.round(dec("value", VAL) * 100).cast("long")
    dim = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts_us"),
        F.lit(0).alias("kind"),
        "event_id",
        F.col("event_id").alias("st_id"),
        F.col("ts_us").alias("st_ts_us"),
        cents.alias("st_cents"),
    )
    facts = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("ts_us"),
        F.lit(1).alias("kind"),
        "event_id",
        F.lit(None).cast("long").alias("st_id"),
        F.lit(None).cast("long").alias("st_ts_us"),
        F.lit(None).cast("long").alias("st_cents"),
    )
    u = dim.unionByName(facts)
    w = (
        W.partitionBy("user_id")
        .orderBy("ts_us", "kind", "event_id")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    s = u.select(
        "user_id",
        "ts_us",
        "kind",
        "event_id",
        F.last("st_id", ignorenulls=True).over(w).alias("state_event_id"),
        F.last("st_ts_us", ignorenulls=True).over(w).alias("state_ts_us"),
        F.last("st_cents", ignorenulls=True).over(w).alias("state_cents"),
    )
    return (
        s.filter((F.col("kind") == 1) & F.col("state_event_id").isNotNull())
        .select(
            F.col("event_id").alias("click_event_id"),
            "user_id",
            "ts_us",
            "state_event_id",
            "state_cents",
            (F.col("ts_us") - F.col("state_ts_us")).cast("long").alias("staleness_us"),
        )
    )


_SEQ_GAP_ORACLE = """
WITH s AS (
  SELECT user_id, event_id,
         lag(event_id) OVER (PARTITION BY user_id ORDER BY event_id)
           AS prev_id
  FROM events
), g AS (
  SELECT user_id, prev_id, event_id, event_id - prev_id AS gap
  FROM s WHERE prev_id IS NOT NULL
), t AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_gaps,
         CAST(SUM(gap) AS BIGINT) AS total_gap
  FROM g GROUP BY user_id
)
SELECT g.user_id, CAST(g.prev_id AS BIGINT) AS gap_after,
       CAST(g.event_id AS BIGINT) AS resume_at,
       CAST(g.gap - 1 AS BIGINT) AS n_missing
FROM g JOIN t ON t.user_id = g.user_id
WHERE g.gap * t.n_gaps > 5 * t.total_gap
"""


@register("cdc_sequence_gap_detect", oracle=_SEQ_GAP_ORACLE, tags=("cdc", "window"))
def cdc_sequence_gap_detect(spark, sf_dir):
    """Changelog SEQUENCE-GAP detection — the data-loss alarm a CDC
    consumer runs continuously: per key, consecutive change ids whose
    gap exceeds 5x the KEY'S OWN mean gap — a scale-free threshold
    (interleaved global ids make the per-key baseline gap ~ the number
    of active keys, which varies with SF; the exact-integer
    cross-multiplied compare gap * n_gaps > 5 * total_gap needs no
    division and discriminates at every fixture SF — checked non-empty
    at both; in production on a per-key monotonic seq the threshold is
    simply gap > 1). A gap means dropped
    binlog events between `gap_after` and `resume_at` — the mirror is
    silently stale and needs a re-snapshot of that key range.

    Plan: one keyed lag window (the key shuffle only) + a broadcast
    per-key baseline join — at 100 TB this is the cheapest
    continuously-affordable integrity check because it touches no
    relation but the changelog itself. n_missing quantifies the loss
    exactly."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("event_id")
    g = (
        ev.select(
            "user_id", "event_id", F.lag("event_id").over(w).alias("prev_id")
        )
        .filter(F.col("prev_id").isNotNull())
        .withColumn("gap", F.col("event_id") - F.col("prev_id"))
    )
    t = g.groupBy(F.col("user_id").alias("uid")).agg(
        F.count(F.lit(1)).alias("n_gaps"), F.sum("gap").alias("total_gap")
    )
    return (
        g.join(F.broadcast(t), g.user_id == t.uid)
        .filter(F.col("gap") * F.col("n_gaps") > 5 * F.col("total_gap"))
        .select(
            "user_id",
            F.col("prev_id").cast("long").alias("gap_after"),
            F.col("event_id").cast("long").alias("resume_at"),
            (F.col("gap") - 1).cast("long").alias("n_missing"),
        )
    )


# ---------------------------------------------------------------------------
# Round-7: incrementally-maintained JOIN view (streaming/ivm_join.py),
# driven end-to-end as a driver-checkable query.
# ---------------------------------------------------------------------------

_MJOIN_ORACLE = """
WITH live_orders AS (
  SELECT o_orderkey, o_custkey,
         CAST(round(CAST(o_totalprice AS DECIMAL(15,2)) * 100) AS BIGINT)
           AS price_cents
  FROM orders WHERE o_orderkey % 7 <> 0
), live_cust AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 5 = 0 THEN 'MOVED' ELSE c_mktsegment END AS seg
  FROM customer
)
SELECT o.o_orderkey, o.o_custkey, o.price_cents, c.seg
FROM live_orders o JOIN live_cust c ON c.c_custkey = o.o_custkey
"""


@register("cdc_materialized_join_view", oracle=_MJOIN_ORACLE, tags=("cdc", "ivm", "streaming"))
def cdc_materialized_join_view(spark, sf_dir):
    """Incrementally-maintained JOIN VIEW (streaming/ivm_join.py:
    MaterializedJoin — delta-key maintenance over a hash-bucket
    manifest with atomic CURRENT-pointer commits), driven through a
    deterministic five-epoch CDC history and hash-compared against the
    plain-SQL join of the final snapshots:

      e0-e2  orders arrive in thirds (o_orderkey % 3), customers at e0
      e2     customers with c_custkey % 5 = 0 re-segment to 'MOVED'
      e3     orders with o_orderkey % 7 = 0 are deleted

    The oracle never sees the epochs — it joins the end states — so a
    defect anywhere in the incremental algebra (merge rule, affected-
    bucket recompute, manifest composition) breaks the hash. Per-epoch
    cost is O(delta + affected buckets), never O(state); crash
    atomicity, replay idempotence, and bucket locality are pytest-
    asserted in tests/test_ivm_join.py."""
    from ..streaming.ivm_join import MaterializedJoin

    cents = (F.col("o_totalprice").cast("decimal(15,2)") * 100).cast("long")
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_id"),
        F.col("o_custkey").alias("jk"),
        cents.alias("price_cents"),
    )
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("jk"), F.col("c_mktsegment").alias("seg")
    )
    mj = MaterializedJoin(
        spark,
        ephemeral_dir("mjoin_query_"),
        left_id="l_id",
        join_key="jk",
        n_buckets=16,
    )
    up = lambda df, seq: df.withColumn("__op", F.lit("u")).withColumn(  # noqa: E731
        "__seq", F.lit(seq).cast("long")
    )
    mj.apply_batch(
        up(orders.filter("l_id % 3 = 0"), 0), up(cust, 0), epoch_id=0
    )
    mj.apply_batch(up(orders.filter("l_id % 3 = 1"), 1), None, epoch_id=1)
    mj.apply_batch(
        up(orders.filter("l_id % 3 = 2"), 2),
        up(cust.filter("jk % 5 = 0").withColumn("seg", F.lit("MOVED")), 2),
        epoch_id=2,
    )
    deletes = (
        orders.filter("l_id % 7 = 0")
        .select("l_id", "jk", F.lit(None).cast("long").alias("price_cents"))
        .withColumn("__op", F.lit("d"))
        .withColumn("__seq", F.lit(3).cast("long"))
    )
    mj.apply_batch(deletes, None, epoch_id=3)
    return mj.view().select(
        F.col("l_id").alias("o_orderkey"),
        F.col("jk").alias("o_custkey"),
        "price_cents",
        "seg",
    )


# ---------------------------------------------------------------------------
# Round-8: incrementally-maintained AGGREGATE-ON-JOIN view — the rollup a
# CDC consumer's BI layer reads (VERDICT r7 "Next round" #4).
# ---------------------------------------------------------------------------

_MJOIN_AGG_ORACLE = """
WITH live_orders AS (
  SELECT o_orderkey, o_custkey,
         CAST(round(CAST(o_totalprice AS DECIMAL(15,2)) * 100) AS BIGINT)
           AS price_cents
  FROM orders WHERE o_orderkey % 7 <> 0
), live_cust AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 5 = 0 THEN 'MOVED' ELSE c_mktsegment END AS seg
  FROM customer
)
SELECT c.seg, CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(o.price_cents) AS BIGINT) AS total_cents,
       CAST(MAX(o.price_cents) AS BIGINT) AS max_cents
FROM live_orders o JOIN live_cust c ON c.c_custkey = o.o_custkey
GROUP BY c.seg
"""


@register("cdc_materialized_join_agg", oracle=_MJOIN_AGG_ORACLE, tags=("cdc", "ivm", "streaming", "agg"))
def cdc_materialized_join_agg(spark, sf_dir):
    """Incrementally-maintained AGGREGATE over the maintained JOIN
    (streaming/ivm_join.py: MaterializedJoinAggregate) — the
    upsert-mirror -> BI-rollup composition the reference's Iceberg
    consumers exist to feed (connect-iceberg-sink.json:29-30), driven
    through the SAME deterministic five-epoch CDC history as
    cdc_materialized_join_view (orders in thirds; customer re-segment
    at e2; o_orderkey % 7 deletes at e3) and hash-compared against the
    plain-SQL GROUP BY over the final snapshots' join.

    The measures include MAX — deliberately NOT self-maintainable
    under the e3 deletes (the classic IVM counterexample: a deleted
    row may hold the max): the per-bucket partials are recomputed from
    each affected bucket's full new slice, so deletes are exact without
    any auxiliary structure. The oracle never sees the epochs; any
    defect in partial upkeep, re-combination, or the delete path
    breaks the hash. Per-epoch cost is O(delta + affected buckets) +
    one |groups|-per-bucket partial rewrite — never O(view)."""
    from ..streaming.ivm_join import MaterializedJoinAggregate

    cents = (F.col("o_totalprice").cast("decimal(15,2)") * 100).cast("long")
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_id"),
        F.col("o_custkey").alias("jk"),
        cents.alias("price_cents"),
    )
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("jk"), F.col("c_mktsegment").alias("seg")
    )
    mj = MaterializedJoinAggregate(
        spark,
        ephemeral_dir("mjoinagg_query_"),
        left_id="l_id",
        join_key="jk",
        group_cols=["seg"],
        measures={
            "n_orders": ("1", "count"),
            "total_cents": ("price_cents", "sum"),
            "max_cents": ("price_cents", "max"),
        },
        n_buckets=16,
    )
    up = lambda df, seq: df.withColumn("__op", F.lit("u")).withColumn(  # noqa: E731
        "__seq", F.lit(seq).cast("long")
    )
    mj.apply_batch(
        up(orders.filter("l_id % 3 = 0"), 0), up(cust, 0), epoch_id=0
    )
    mj.apply_batch(up(orders.filter("l_id % 3 = 1"), 1), None, epoch_id=1)
    mj.apply_batch(
        up(orders.filter("l_id % 3 = 2"), 2),
        up(cust.filter("jk % 5 = 0").withColumn("seg", F.lit("MOVED")), 2),
        epoch_id=2,
    )
    deletes = (
        orders.filter("l_id % 7 = 0")
        .select("l_id", "jk", F.lit(None).cast("long").alias("price_cents"))
        .withColumn("__op", F.lit("d"))
        .withColumn("__seq", F.lit(3).cast("long"))
    )
    mj.apply_batch(deletes, None, epoch_id=3)
    return mj.aggregate().select(
        "seg",
        F.col("n_orders").cast("long").alias("n_orders"),
        F.col("total_cents").cast("long").alias("total_cents"),
        F.col("max_cents").cast("long").alias("max_cents"),
    )


# ---------------------------------------------------------------------------
# Round-8: the OOO streaming twin's MAINTAINED STATE, driver-hashed
# (VERDICT r7 "Next round" #5).
# ---------------------------------------------------------------------------


def _ooo_oracle() -> str:
    """The batch cdc_out_of_order_profile's oracle, shared VERBATIM.
    NOTE (ADVICE r8): this is called EAGERLY at decoration time
    (``oracle=_ooo_oracle()``), so importing cdc_queries imports
    profiling too — the function exists only to keep the cross-module
    dependency local and greppable, not to defer it."""
    from .profiling import _OOO_ORACLE

    return _OOO_ORACLE


@register(
    "cdc_ooo_profile_stream_state",
    oracle=_ooo_oracle(),
    tags=("cdc", "streaming", "quality"),
)
def cdc_ooo_profile_stream_state(spark, sf_dir):
    """The out-of-order profile read FROM THE STREAMING TWIN'S MAINTAINED
    STATE — not from the raw events. The r7 twins were pytest-equal to
    driver-green batch queries; this puts the streaming state itself
    under the DuckDB hash (the cdc_materialized_join_view pattern
    applied to stateful counters): the fixture is split into one file
    per arrival bucket, drained through
    streaming/windows.py:streaming_out_of_order_profile with
    maxFilesPerTrigger=1 (so the cross-epoch per-user last-arrival
    state path is exercised, ~11 micro-batches at sf0.01), and the
    returned rows are derive_out_of_order_profile over the landed
    per-epoch counter increments. The oracle is the SAME SQL as the
    batch cdc_out_of_order_profile — it recomputes from raw events and
    never sees an epoch, so a defect in the epoch guard, the prior-state
    lookup, or the increment algebra breaks the hash. Per-epoch state
    I/O is |series| + |users-in-batch| rows, never history."""
    import os

    from ..operators.temporal import JITTER_SPARK, WM_BATCH
    from ..streaming import windows as swin

    ev = load_table(spark, sf_dir, "events")
    work = ephemeral_dir("cdc_ooo_stream_")
    # one file per arrival bucket; mtimes order the stream = arrival
    # order (the twin's documented input contract)
    data_dir = stage_batches(
        ev.withColumn("__bkt", F.expr(f"({JITTER_SPARK}) DIV {WM_BATCH}")),
        "__bkt",
        work,
        "parquet",
    )
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(data_dir)
    )
    q = swin.streaming_out_of_order_profile(
        stream, os.path.join(work, "state"), os.path.join(work, "ckpt")
    )
    await_done(q, 600)
    return swin.derive_out_of_order_profile(spark, os.path.join(work, "state"))



def _wm_rec_oracle() -> str:
    """The batch cdc_watermark_recommendation's oracle, shared VERBATIM
    (evaluated eagerly at decoration time, same note as _ooo_oracle)."""
    from .profiling import _wm_oracle

    return _wm_oracle()


@register(
    "cdc_watermark_rec_stream_state",
    oracle=_wm_rec_oracle(),
    tags=("cdc", "streaming", "quality"),
)
def cdc_watermark_rec_stream_state(spark, sf_dir):
    """The watermark RECOMMENDATION derived from the streaming twin's
    MAINTAINED lateness-histogram state (the second stateful twin put
    under the driver hash — same pattern as
    cdc_ooo_profile_stream_state): the fixture is staged as one file
    per arrival bucket, drained through
    streaming/windows.py:streaming_watermark_recommendation with
    maxFilesPerTrigger=1, and the returned rows are
    derive_watermark_recommendation over the landed per-epoch
    histogram increments. The oracle is the batch query's SQL shared
    verbatim — it recomputes from raw events, so the high-water-mark
    carry across epochs, the prior-epoch guard, and the histogram
    increment algebra all break the hash if wrong. Per-epoch state is
    |series x lateness-quanta| + |buckets| rows, never history."""
    import os

    from ..operators.temporal import JITTER_SPARK, WM_BATCH
    from ..streaming import windows as swin

    ev = load_table(spark, sf_dir, "events")
    work = ephemeral_dir("cdc_wmrec_stream_")
    data_dir = stage_batches(
        ev.withColumn("__bkt", F.expr(f"({JITTER_SPARK}) DIV {WM_BATCH}")),
        "__bkt",
        work,
        "parquet",
    )
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(data_dir)
    )
    q = swin.streaming_watermark_recommendation(
        stream, os.path.join(work, "state"), os.path.join(work, "ckpt")
    )
    await_done(q, 600)
    return swin.derive_watermark_recommendation(
        spark, os.path.join(work, "state")
    )


# ---------------------------------------------------------------------------
# Round-8: the CONSUMER's landed log itself under the driver hash — the
# reference's flagship consume-and-land path (consumer.py:41-66) driven
# end-to-end inside a query.
# ---------------------------------------------------------------------------

_CONSUMER_LOG_ORACLE = """
SELECT CASE WHEN user_id % 2 = 0 THEN 'public_events_even'
            ELSE 'public_events_odd' END AS table_name,
       CAST(event_id AS BIGINT) AS seq,
       CASE event_type WHEN 'signup' THEN 'c' WHEN 'error' THEN 'd'
            ELSE 'u' END AS op,
       CAST(user_id AS BIGINT) AS user_id,
       CAST(value AS DOUBLE) AS after_value
FROM events
"""


@register(
    "cdc_consumer_log_landing",
    oracle=_CONSUMER_LOG_ORACLE,
    tags=("cdc", "streaming"),
)
def cdc_consumer_log_landing(spark, sf_dir):
    """The CDCConsumer's LANDED LOG, driver-hashed — until now the
    reference's flagship path (Kafka envelope -> binary cast -> JSON
    path extraction -> topic routing -> foreachBatch landing with
    epoch-partitioned exactly-once writes, consumer.py:41-66) was
    verified by pytest only; this query drives it end-to-end and hashes
    the landed parquet against a DuckDB recomputation from raw events.
    Drive: events become Debezium-shaped envelope JSON (payload.after/
    op/ts_ms; two topics split on user parity — the multi-table routing
    case), staged as 3 files and consumed with maxFilesPerTrigger=1
    (3 micro-batches through the real checkpointed foreachBatch), then
    the landed cdc_log's rows are re-projected through the SAME
    get_json_object path a consumer of the log would use. Any defect in
    envelope construction/parsing, topic->table routing, the epoch
    partitioning, or a duplicate/lost row under the landing protocol
    changes the row multiset and breaks the hash."""
    import os

    from ..sources.files import envelope_json_stream
    from ..streaming.consumer import CDCConsumer

    ev = load_table(spark, sf_dir, "events")
    topic = F.concat(
        F.lit("dbserver1.public.events_"),
        F.when(F.pmod("user_id", F.lit(2)) == 0, F.lit("even")).otherwise(
            F.lit("odd")
        ),
    )
    envelopes = ev.select(
        _event_envelope().alias("value"),
        topic.alias("topic"),
        F.col("event_id").cast("long").alias("offset"),
        F.pmod("event_id", F.lit(3)).alias("__part"),
    )
    work = ephemeral_dir("cdc_consumer_log_")
    data_dir = stage_batches(envelopes, "__part", work)
    consumer = CDCConsumer(
        warehouse_dir=os.path.join(work, "wh"),
        checkpoint_dir=os.path.join(work, "ckpt"),
    )
    q = consumer.start_log_query(
        envelope_json_stream(spark, data_dir, max_files_per_trigger=1)
    )
    await_done(q, 600)
    landed = spark.read.parquet(os.path.join(work, "wh", "cdc_log"))
    return landed.select(
        "table_name",
        F.col("seq").cast("long").alias("seq"),
        "op",
        F.get_json_object("after", "$.user_id").cast("long").alias("user_id"),
        F.get_json_object("after", "$.value").cast("double").alias(
            "after_value"
        ),
    )


_CONSUMER_MIRROR_ORACLE = """
WITH ranked AS (
  SELECT user_id, event_id, event_type, value,
         row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC)
           AS rn
  FROM events
)
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(event_id AS BIGINT) AS event_id,
       CAST(value AS DOUBLE) AS value
FROM ranked WHERE rn = 1 AND event_type <> 'error'
"""


@register(
    "cdc_consumer_mirror_state",
    oracle=_CONSUMER_MIRROR_ORACLE,
    tags=("cdc", "streaming"),
)
def cdc_consumer_mirror_state(spark, sf_dir):
    """The CDCConsumer's MIRROR TABLE (the upsert/Connect path the
    reference defers to Iceberg MERGE — consumer.py:76,
    connect-iceberg-sink.json:29-30) under the driver hash: the same
    envelope drive as cdc_consumer_log_landing, but through
    start_mirror_query's typed-parse + bucketed keyed MERGE
    (last-writer-wins on the Kafka offset, tombstones evict). The
    landed mirror after 3 checkpointed micro-batches must equal the
    one-shot window-dedup of the whole changelog — the oracle never
    sees a batch boundary, so a key that resurrects after its delete,
    double-applies across epochs, or picks the wrong writer under the
    offset order breaks the hash. This closes the last pytest-only
    flagship surface: both consumer modes (log + mirror) now carry
    driver-checked value hashes."""
    import os

    from pyspark.sql import types as T

    from ..sources.files import envelope_json_stream
    from ..streaming.consumer import CDCConsumer, TableSpec

    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.min("event_id").alias("min_id"), F.max("event_id").alias("max_id")
    )
    envelopes = ev.crossJoin(F.broadcast(bounds)).select(
        _event_envelope().alias("value"),
        F.lit("dbserver1.public.events").alias("topic"),
        F.col("event_id").cast("long").alias("offset"),
        # epochs split by OFFSET RANGE, not id modulus: the mirror merge
        # (like any Kafka consumer) relies on per-key delivery in offset
        # order ACROSS batches — a modulus split would deliver an older
        # upsert after a newer tombstone and legitimately resurrect the
        # key (found by this query's first run: 15 vs 12 rows)
        F.expr(
            "least(2, CAST((event_id - min_id) * 3"
            " DIV (max_id - min_id + 1) AS INT))"
        ).alias("__part"),
    )
    work = ephemeral_dir("cdc_consumer_mirror_")
    data_dir = stage_batches(envelopes, "__part", work)
    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("event_id", T.LongType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    consumer = CDCConsumer(
        warehouse_dir=os.path.join(work, "wh"),
        checkpoint_dir=os.path.join(work, "ckpt"),
        tables={"public_events": TableSpec(schema, ("user_id",))},
    )
    q = consumer.start_mirror_query(
        envelope_json_stream(spark, data_dir, max_files_per_trigger=1)
    )
    await_done(q, 600)
    return consumer.read_mirror(spark, "public_events").select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("event_id").cast("long").alias("event_id"),
        F.col("value").cast("double").alias("value"),
    )


_CONSUMER_DLQ_ORACLE = """
WITH cls AS (
  SELECT CASE WHEN event_id % 23 = 0 THEN 'malformed_json'
              WHEN event_id % 29 = 0 THEN 'missing_op'
              ELSE 'landed' END AS disposition
  FROM events
)
SELECT disposition, CAST(COUNT(*) AS BIGINT) AS n_records
FROM cls GROUP BY disposition
"""


@register(
    "cdc_consumer_dlq_accounting",
    oracle=_CONSUMER_DLQ_ORACLE,
    tags=("cdc", "streaming", "quality"),
)
def cdc_consumer_dlq_accounting(spark, sf_dir):
    """The consumer's DEAD-LETTER path under the driver hash — the
    surface the reference lacks entirely (a malformed envelope kills
    its consumer; at scale one bad producer must quarantine records,
    not stall the stream). The drive poisons the envelope stream
    deterministically (1/23 of records become truncated non-JSON,
    1/29 lose their op field), lands through the SAME checkpointed
    log query as cdc_consumer_log_landing but with a DLQ configured,
    and returns the per-disposition accounting read back from BOTH
    landed outputs (log rows + quarantined rows with their reason
    tags). The oracle recomputes the classification from the
    construction — a record landing in the wrong place, double-landed
    under replay, or tagged with the wrong reason breaks the hash."""
    import os

    from ..sources.files import envelope_json_stream
    from ..streaming.consumer import CDCConsumer

    ev = load_table(spark, sf_dir, "events")
    good = _event_envelope()
    no_op = F.to_json(
        F.struct(
            F.struct(
                F.struct(F.col("user_id")).alias("after"),
                F.expr("ts DIV 1000000").alias("ts_ms"),
            ).alias("payload")
        )
    )
    value = (
        F.when(F.pmod("event_id", F.lit(23)) == 0, F.substring(good, 1, 10))
        .when(F.pmod("event_id", F.lit(29)) == 0, no_op)
        .otherwise(good)
    )
    envelopes = ev.select(
        value.alias("value"),
        F.lit("dbserver1.public.events").alias("topic"),
        F.col("event_id").cast("long").alias("offset"),
        F.pmod("event_id", F.lit(3)).alias("__part"),
    )
    work = ephemeral_dir("cdc_consumer_dlq_")
    data_dir = stage_batches(envelopes, "__part", work)
    consumer = CDCConsumer(
        warehouse_dir=os.path.join(work, "wh"),
        checkpoint_dir=os.path.join(work, "ckpt"),
        dlq_dir=os.path.join(work, "dlq"),
    )
    q = consumer.start_log_query(
        envelope_json_stream(spark, data_dir, max_files_per_trigger=1)
    )
    await_done(q, 600)
    landed = (
        spark.read.parquet(os.path.join(work, "wh", "cdc_log"))
        .select(F.lit("landed").alias("disposition"))
    )
    dlq = spark.read.parquet(os.path.join(work, "dlq")).select(
        F.col("reason").alias("disposition")
    )
    return landed.unionByName(dlq).groupBy("disposition").agg(
        F.count(F.lit(1)).alias("n_records")
    )


_CONSUMER_SCD2_ORACLE = """
WITH log AS (
  SELECT user_id, event_id AS seq, value,
         CASE event_type WHEN 'signup' THEN 'c' WHEN 'error' THEN 'd'
              ELSE 'u' END AS op
  FROM events
), v AS (
  SELECT user_id, value, op, seq AS valid_from,
         lead(seq) OVER (PARTITION BY user_id ORDER BY seq) AS valid_to
  FROM log
)
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(value AS DOUBLE) AS value,
       CAST(valid_from AS BIGINT) AS valid_from,
       CAST(valid_to AS BIGINT) AS valid_to,
       (valid_to IS NULL) AS is_current
FROM v WHERE op <> 'd'
"""


@register(
    "cdc_consumer_scd2_intervals",
    oracle=_CONSUMER_SCD2_ORACLE,
    tags=("cdc", "streaming"),
)
def cdc_consumer_scd2_intervals(spark, sf_dir):
    """The consumer-maintained SCD2 INTERVAL TABLE under the driver
    hash (VERDICT r8 task #5) — the remaining consumer surface after
    r8's log/mirror/DLQ trio: the same Debezium-shaped envelope drive
    lands through the REAL checkpointed foreachBatch log query
    (3 micro-batches, maxFilesPerTrigger=1), and the landed log is
    read back through cdc/apply.py:scd2_from_log into slowly-changing
    validity intervals — every change a [seq, next-seq-per-key) row,
    deletes closing intervals without opening one, current rows
    open-ended. The oracle recomputes the intervals from raw events
    and never sees the stream, so a lost/duplicated landing under the
    epoch protocol, a mis-parsed envelope, or a wrong lead/filter
    order in the SCD2 derivation (deletes must participate in the
    lead BEFORE being filtered, else the pre-delete version stays
    open) breaks the hash."""
    import os

    from ..cdc.apply import scd2_from_log
    from ..sources.files import envelope_json_stream
    from ..streaming.consumer import CDCConsumer

    ev = load_table(spark, sf_dir, "events")
    envelopes = ev.select(
        _event_envelope().alias("value"),
        F.lit("dbserver1.public.events").alias("topic"),
        F.col("event_id").cast("long").alias("offset"),
        F.pmod("event_id", F.lit(3)).alias("__part"),
    )
    work = ephemeral_dir("cdc_consumer_scd2_")
    data_dir = stage_batches(envelopes, "__part", work)
    consumer = CDCConsumer(
        warehouse_dir=os.path.join(work, "wh"),
        checkpoint_dir=os.path.join(work, "ckpt"),
    )
    q = consumer.start_log_query(
        envelope_json_stream(spark, data_dir, max_files_per_trigger=1)
    )
    await_done(q, 600)
    landed = spark.read.parquet(os.path.join(work, "wh", "cdc_log")).select(
        F.get_json_object("after", "$.user_id").cast("long").alias("user_id"),
        F.get_json_object("after", "$.value").cast("double").alias("value"),
        F.col("seq").cast("long").alias("seq"),
        "op",
    )
    return scd2_from_log(landed, ["user_id"], seq_col="seq").select(
        "user_id",
        "value",
        F.col("valid_from").cast("long").alias("valid_from"),
        F.col("valid_to").cast("long").alias("valid_to"),
        "is_current",
    )


_LOG_COMPACTION_ORACLE = """
WITH ranked AS (
  SELECT user_id, event_type, user_id % 8 AS shard,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
), per_key AS (
  SELECT shard, user_id,
         MAX(CASE WHEN rn = 1 AND event_type = 'error' THEN 1 ELSE 0 END)
           AS is_tombstone,
         COUNT(*) AS n_records
  FROM ranked GROUP BY shard, user_id
)
SELECT CAST(shard AS BIGINT) AS shard,
       CAST(SUM(n_records) AS BIGINT) AS n_records,
       CAST(COUNT(*) AS BIGINT) AS n_keys,
       CAST(SUM(1 - is_tombstone) AS BIGINT) AS n_live_keys,
       CAST(SUM(is_tombstone) AS BIGINT) AS n_tombstone_keys,
       CAST((SUM(n_records) - COUNT(*)) * 1000000 // SUM(n_records)
            AS BIGINT) AS reclaim_ppm
FROM per_key GROUP BY shard
"""


@register("cdc_log_compaction_report", oracle=_LOG_COMPACTION_ORACLE, tags=("cdc", "agg"))
def cdc_log_compaction_report(spark, sf_dir):
    """Kafka COMPACTED-TOPIC maintenance report, per partition shard:
    compaction keeps exactly the newest record per key (tombstones
    included, pending their retention window), so each shard's
    reclaimable fraction is (records - keys) / records — the number an
    operator sizing `log.cleaner` or a compacted CDC landing watches.
    The reference's topics are delete-compacted Debezium streams
    (one topic per table, key = PK); this is the maintenance view of
    that contract over the events changelog. Keys shard by user_id % 8
    (the topic-partition stand-in). Exact integers throughout; one
    window shuffle on the key + one groupBy."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(
        F.expr("ts DIV 1000").desc(), F.col("event_id").desc()
    )
    per_key = (
        ev.withColumn("rn", F.row_number().over(w))
        .groupBy(
            F.pmod("user_id", F.lit(8)).cast("long").alias("shard"),
            F.col("user_id"),
        )
        .agg(
            F.max(
                F.when(
                    (F.col("rn") == 1) & (F.col("event_type") == "error"),
                    F.lit(1),
                ).otherwise(F.lit(0))
            ).alias("is_tombstone"),
            F.count(F.lit(1)).alias("n_records"),
        )
    )
    return per_key.groupBy("shard").agg(
        F.sum("n_records").cast("long").alias("n_records"),
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum(1 - F.col("is_tombstone")).cast("long").alias("n_live_keys"),
        F.sum("is_tombstone").cast("long").alias("n_tombstone_keys"),
        F.expr(
            "CAST((SUM(n_records) - COUNT(*)) * 1000000 DIV SUM(n_records)"
            " AS BIGINT)"
        ).alias("reclaim_ppm"),
    )


_REPLAY_IDEMPOTENCE_ORACLE = """
WITH ranked AS (
  SELECT user_id,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn,
         event_type
  FROM events
), state AS (
  SELECT user_id FROM ranked WHERE rn = 1 AND event_type <> 'error'
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_live_keys_single,
       CAST(COUNT(*) AS BIGINT) AS n_live_keys_replayed,
       TRUE AS states_identical
FROM state
"""


@register("cdc_replay_idempotence", oracle=_REPLAY_IDEMPOTENCE_ORACLE, tags=("cdc", "window"))
def cdc_replay_idempotence(spark, sf_dir):
    """AT-LEAST-ONCE replay idempotence contract: applying the
    changelog TWICE (the union of the log with itself — what a
    reconnecting consumer without committed offsets delivers) must
    yield byte-identical current state to the single pass, because the
    apply path dedups on the unique (key, seq) identity BEFORE the
    latest-wins window — the property that lets the landing protocol
    promise exactly-once STATE from at-least-once DELIVERY (reference
    consumer.py's checkpointed restart makes the same promise at file
    granularity; this is the algebraic core). The query materializes
    both states and proves set equality inside the plan (two
    anti-join counts must both be zero), returning exact key counts +
    the contract flag. A dedup keyed on anything weaker than the full
    identity, or a tiebreak that lets replayed duplicates win, breaks
    the hash."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type", "value"
    )

    def state(log):
        w = W.partitionBy("user_id").orderBy(
            F.expr("ts DIV 1000").desc(), F.col("event_id").desc()
        )
        dedup = log.dropDuplicates(["user_id", "event_id"])
        return (
            dedup.withColumn("rn", F.row_number().over(w))
            .filter("rn = 1 AND event_type <> 'error'")
            .select("user_id", "event_id", "value")
        )

    single = state(ev)
    replayed = state(ev.unionAll(ev))
    a_not_b = single.join(replayed, ["user_id", "event_id", "value"], "left_anti")
    b_not_a = replayed.join(single, ["user_id", "event_id", "value"], "left_anti")
    return (
        single.agg(F.count(F.lit(1)).cast("long").alias("n_live_keys_single"))
        .crossJoin(
            replayed.agg(
                F.count(F.lit(1)).cast("long").alias("n_live_keys_replayed")
            )
        )
        .crossJoin(a_not_b.agg(F.count(F.lit(1)).alias("_d1")))
        .crossJoin(b_not_a.agg(F.count(F.lit(1)).alias("_d2")))
        .select(
            "n_live_keys_single",
            "n_live_keys_replayed",
            ((F.col("_d1") == 0) & (F.col("_d2") == 0)).alias("states_identical"),
        )
    )


_PROPS_DRIFT_ORACLE = """
WITH p AS (
  SELECT event_type,
         date_trunc('week', ts) AS week,
         CAST(regexp_extract(props, '"k": *([0-9]+)', 1) AS BIGINT) AS k
  FROM events
)
SELECT event_type, strftime(week, '%Y-%m-%d') AS week_start,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT k) AS BIGINT) AS k_ndv,
       CAST(MIN(k) AS BIGINT) AS k_min,
       CAST(MAX(k) AS BIGINT) AS k_max
FROM p GROUP BY event_type, week
"""


@register("cdc_props_stats_drift", oracle=_PROPS_DRIFT_ORACLE, tags=("cdc", "agg", "quality"))
def cdc_props_stats_drift(spark, sf_dir):
    """Column-statistics DRIFT over the semi-structured props payload:
    per (event_type, event-week) the count / NDV / min / max of the
    JSON field k — the ANALYZE-TABLE profile computed ALONG the CDC
    time axis, which is how schema-registry-adjacent monitoring
    detects a producer starting to send a new value domain (the
    reference's JsonConverter embeds schemas per record; drift shows
    up as exactly this kind of domain shift before it breaks
    consumers). Extraction is one JVM regexp per row (the
    get_json_object twin — deliberately regex to pin the raw-bytes
    path); weeks truncate in UTC in both engines; everything after is
    one exact-integer groupBy."""
    ev = events_with_time(spark, sf_dir)
    return (
        ev.select(
            "event_type",
            F.date_format(F.date_trunc("week", F.col("etime")), "yyyy-MM-dd")
            .alias("week_start"),
            F.regexp_extract("props", '"k": *([0-9]+)', 1)
            .cast("long")
            .alias("k"),
        )
        .groupBy("event_type", "week_start")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.countDistinct("k").cast("long").alias("k_ndv"),
            F.min("k").cast("long").alias("k_min"),
            F.max("k").cast("long").alias("k_max"),
        )
    )


_MARKOV_ENTROPY_ORACLE = """
WITH seq AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY epoch_us(ts), event_id) AS next_type
  FROM events
), trans AS (
  SELECT event_type AS a, next_type AS b, CAST(COUNT(*) AS BIGINT) AS c
  FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2
), marg AS (
  SELECT a, CAST(SUM(c) AS BIGINT) AS ca FROM trans GROUP BY a
), tot AS (
  SELECT CAST(SUM(c) AS BIGINT) AS n FROM trans
), terms AS (
  SELECT t.a, t.b,
         CAST(round(1000000 * (CAST(t.c AS DOUBLE) / tot.n)
                    * ln(CAST(m.ca AS DOUBLE) / t.c)) AS BIGINT)
           AS term_micro
  FROM trans t JOIN marg m USING (a) CROSS JOIN tot
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_transition_cells,
       CAST(SUM(term_micro) AS BIGINT) AS entropy_rate_micro_nats
FROM terms
"""


@register("cdc_markov_entropy_rate", oracle=_MARKOV_ENTROPY_ORACLE, tags=("cdc", "agg", "stats"))
def cdc_markov_entropy_rate(spark, sf_dir):
    """ENTROPY RATE of the per-user event-type Markov chain:
    H = Σ_a p(a) Σ_b p(b|a) ln(1/p(b|a)) over the empirical transition
    counts (win_event_transitions materializes the transition matrix;
    this is its one-scalar information summary — how predictable is
    the next event given the current one, the sequence-compressibility
    number session-model and anomaly baselines start from). Each
    cell's term p(a,b)·ln(p(a)/p(a,b)) is one double expression over
    exact integer counts quantized ONCE to micro-nats (transcendental
    — no repr-boundary risk), then the rate is an exact integer sum.
    Plan: one per-user lead window (keyed), one |types|²-cell rollup,
    broadcast marginals."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.expr("ts DIV 1000"), F.col("event_id"))
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    trans = seq.groupBy(
        F.col("event_type").alias("a"), F.col("next_type").alias("b")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    marg = trans.groupBy("a").agg(F.sum("c").cast("long").alias("ca"))
    tot = trans.agg(F.sum("c").cast("long").alias("n"))
    terms = (
        trans.join(F.broadcast(marg), "a")
        .crossJoin(F.broadcast(tot))
        .select(
            F.round(
                1_000_000
                * (F.col("c").cast("double") / F.col("n"))
                * F.log(F.col("ca").cast("double") / F.col("c"))
            )
            .cast("long")
            .alias("term_micro")
        )
    )
    return terms.agg(
        F.count(F.lit(1)).cast("long").alias("n_transition_cells"),
        F.sum("term_micro").cast("long").alias("entropy_rate_micro_nats"),
    )


# ---------------------------------------------------------------------------
# Round-10: the CATALOG landing path under the driver hash — the
# reference's tableExists -> CTAS/append branch (consumer.py:75-78).
# ---------------------------------------------------------------------------

_CONSUMER_CATALOG_ORACLE = """
WITH log AS (
  SELECT CASE WHEN user_id % 2 = 0 THEN 'events_even' ELSE 'events_odd' END
           AS table_name,
         CASE event_type WHEN 'signup' THEN 'c' WHEN 'error' THEN 'd'
              ELSE 'u' END AS op,
         user_id, event_id
  FROM events
)
SELECT table_name, op,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(SUM(event_id) AS BIGINT) AS sum_seq
FROM log GROUP BY table_name, op
"""


@register(
    "cdc_consumer_catalog_landing",
    oracle=_CONSUMER_CATALOG_ORACLE,
    tags=("cdc", "streaming"),
)
def cdc_consumer_catalog_landing(spark, sf_dir):
    """The reference's DYNAMIC-TABLE CATALOG branch under the driver
    hash (consumer.py:75-78: `spark.catalog.tableExists` probe -> CTAS
    with accept-any-schema on first sight -> append after), driven
    end-to-end: the same Debezium-shaped envelope stream as the log/
    mirror/DLQ/SCD2 drives (two topics split on user parity — the
    multi-table routing case) lands through start_catalog_query into
    SESSION-CATALOG tables cdcdb.events_even / cdcdb.events_odd across
    3 checkpointed micro-batches — batch 1 exercises O11 (create),
    batches 2-3 exercise O12 (append), O10 (the probe) fires every
    batch — and the result re-reads the LANDED TABLES via
    read_catalog_table (reference O15, print_iceberg_tables.py:40-41),
    re-projecting user_id from the raw `after` JSON. The oracle
    recomputes per-(table, op) row counts, distinct users, and the
    exact seq sum from raw events — a row landed in the wrong table,
    a lost/duplicated batch, or a create-vs-append branch bug breaks
    the hash."""
    import os

    from ..sources.files import envelope_json_stream
    from ..streaming.consumer import CDCConsumer

    db = ephemeral_database(spark, "cdcdb")
    ev = load_table(spark, sf_dir, "events")
    topic = F.concat(
        F.lit("dbserver1.public.events_"),
        F.when(F.pmod("user_id", F.lit(2)) == 0, F.lit("even")).otherwise(
            F.lit("odd")
        ),
    )
    envelopes = ev.select(
        _event_envelope("user_id", "value").alias("value"),
        topic.alias("topic"),
        F.col("event_id").cast("long").alias("offset"),
        F.pmod("event_id", F.lit(3)).alias("__part"),
    )
    work = ephemeral_dir("cdc_consumer_catalog_")
    data_dir = stage_batches(envelopes, "__part", work)
    consumer = CDCConsumer(
        warehouse_dir=os.path.join(work, "wh"),
        checkpoint_dir=os.path.join(work, "ckpt"),
        catalog_db=db,
    )
    q = consumer.start_catalog_query(
        envelope_json_stream(spark, data_dir, max_files_per_trigger=1)
    )
    await_done(q, 600)
    landed = None
    # topic dbserver1.public.events_* routes to table public_events_*
    # (the reference's {schema}_{table} naming, consumer.py:73-74)
    for tbl in ("public_events_even", "public_events_odd"):
        t = consumer.read_catalog_table(spark, tbl).withColumn(
            "table_name", F.lit(tbl.replace("public_", ""))
        )
        landed = t if landed is None else landed.unionByName(t)
    return (
        landed.select(
            "table_name",
            "op",
            F.get_json_object("after", "$.user_id").cast("long").alias("user_id"),
            "seq",
        )
        .groupBy("table_name", "op")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
            F.sum("seq").cast("long").alias("sum_seq"),
        )
    )


# ---------------------------------------------------------------------------
# Round 13: the mirror-table MERGE parity drill (VERDICT r12 task #5).
# ---------------------------------------------------------------------------

#: golden Debezium micros value (reference README.md:93 — the §1.2
#: timestamp contract) used as the created_ts base.
_MMR_TS0 = 1713192083639740

_MIRROR_MERGE_ORACLE = f"""
WITH ck AS (SELECT c_custkey AS k FROM customer),
mx AS (SELECT MAX(c_custkey) AS m FROM customer),
log_acct AS MATERIALIZED (
  SELECT k AS id, 'c' || k || '@example.com' AS val,
         {_MMR_TS0} + k AS created_ts, 'r' AS op, k AS seq
  FROM ck
  UNION ALL
  SELECT m + 1, 'derek@example.com', {_MMR_TS0} + m + 1, 'c',
         10000000 + m + 1 FROM mx
  UNION ALL
  SELECT m + 2, 'emily@example.com', {_MMR_TS0} + m + 2, 'c',
         10000000 + m + 2 FROM mx
  UNION ALL
  SELECT m + 2, 'emma@example.com', {_MMR_TS0} + m + 2, 'u',
         15000000 + m + 2 FROM mx
  UNION ALL
  SELECT k, 'emma' || k || '@example.com', {_MMR_TS0} + k, 'u',
         15000000 + k FROM ck WHERE k % 7 = 3
  UNION ALL
  SELECT id, NULL, NULL, 'd', 20000000 + id
  FROM (SELECT k AS id FROM ck
        UNION ALL SELECT m + 1 FROM mx
        UNION ALL SELECT m + 2 FROM mx)
),
log_prod AS MATERIALIZED (
  SELECT p_partkey AS id, p_name AS val,
         {_MMR_TS0} + p_partkey AS created_ts, 'r' AS op,
         CAST(p_partkey AS BIGINT) AS seq
  FROM part
),
log_all AS MATERIALIZED (
  SELECT 'account' AS tbl, *,
         CASE WHEN seq < 10000000 THEN 0
              WHEN seq < 20000000 THEN 1 ELSE 2 END AS ep
  FROM log_acct
  UNION ALL
  SELECT 'product', *, 0 FROM log_prod
),
eps AS (SELECT unnest([0, 1, 2]) AS epoch),
st AS MATERIALIZED (
  SELECT epoch, tbl, id, val, created_ts, op, seq
  FROM (
    SELECT e.epoch, l.*,
           row_number() OVER (
             PARTITION BY e.epoch, l.tbl, l.id
             ORDER BY l.seq DESC,
                      CASE WHEN l.op = 'd' THEN 1 ELSE 0 END DESC
           ) AS rn
    FROM log_all l JOIN eps e ON l.ep <= e.epoch
  ) x
  WHERE rn = 1 AND op <> 'd'
),
traj AS (
  SELECT epoch, tbl,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(COALESCE(SUM(id), 0) AS BIGINT) AS key_sum,
         CAST(COALESCE(SUM(
           CAST(('0x' || substring(md5(
             id || '|' || val || '|' || created_ts || '|' || op
                || '|' || seq), 1, 8)) AS BIGINT)
         ), 0) AS BIGINT) AS payload_crc
  FROM st GROUP BY epoch, tbl
),
all_cells AS (
  SELECT e.epoch, t.tbl FROM eps e,
       (SELECT unnest(['account', 'product']) AS tbl) t
)
SELECT CAST(c.epoch AS INTEGER) AS epoch, c.tbl,
       COALESCE(t.n_rows, 0) AS n_rows,
       COALESCE(t.key_sum, 0) AS key_sum,
       COALESCE(t.payload_crc, 0) AS payload_crc
FROM all_cells c LEFT JOIN traj t USING (epoch, tbl)
UNION ALL
SELECT CAST(99 AS INTEGER), tbl, CAST(0 AS BIGINT), CAST(0 AS BIGINT),
       CAST(0 AS BIGINT)
FROM (SELECT unnest(['account', 'product']) AS tbl)
"""


@register(
    "cdc_mirror_merge_replay",
    oracle=_MIRROR_MERGE_ORACLE,
    tags=("cdc", "streaming", "merge"),
)
def cdc_mirror_merge_replay(spark, sf_dir):
    """The mirror-table MERGE parity drill (VERDICT r12 task #5): the
    reference's manual c/u/d scenario (postgres/scripts/manual/
    001_insert.sql - 003_delete.sql: insert derek+emily, update emily
    -> emma, then the unqualified DELETE FROM that empties the account
    table) replayed AT FIXTURE SCALE through the real
    merge_into_parquet_bucketed sink under a checkpointed stream —
    the strongest MERGE-semantics proof available without a
    transactional-format jar (cdc/apply.py:231's SQL MERGE path stays
    env-gated; merge_sql's clause semantics are what this drive's
    merges execute).

    The changelog (account: snapshot 'r' rows for every customer +
    the two manual inserts + the literal emily->emma update + a scaled
    %7 bulk-update analog + whole-table tombstones; product: snapshot
    only, untouched — the reference README's observed end state)
    arrives as THREE topic-tagged micro-batches. Each batch routes by
    topic (the consumer.py:68-78 split shape) into a bucketed keyed
    merge; in-batch insert-then-update of the SAME key (emily -> emma,
    one epoch) exercises last-writer-wins inside a batch. After each
    epoch the landed mirror's trajectory row (n_rows, key_sum, an
    md5 payload CRC over every surviving cell incl. the §1.2 micros
    created_ts) lands under that epoch; epoch 2 pins account EMPTY —
    the manual scenario's true end state. The epoch-99 rows pin the
    apply_changes parity: the final bucketed state is symmetric-
    diffed against the one-shot window-dedup of the whole log, and
    the DIFF COUNT is part of the value hash (oracle says 0).

    Scale: the merge rewrites only touched buckets (O(batch), the
    MERGE file-pruning idea in plain parquet); trajectory rows are
    bounded aggregates; replay is idempotent because state rows keep
    their seq (a re-delivered batch cannot regress newer state)."""
    import os

    from ..cdc.apply import apply_changes, merge_into_parquet_bucketed
    from ..streaming.commit import BUCKET, BucketedState, write_epoch

    cust = load_table(spark, sf_dir, "customer")
    part = load_table(spark, sf_dir, "part")
    m = int(cust.agg(F.max("c_custkey")).collect()[0][0])
    ts0 = F.lit(_MMR_TS0)
    k = F.col("c_custkey")
    snap = cust.select(
        k.alias("id"),
        F.concat(F.lit("c"), k, F.lit("@example.com")).alias("val"),
        (ts0 + k).alias("created_ts"),
        F.lit("r").alias("op"),
        k.cast("long").alias("seq"),
    )
    ins = spark.createDataFrame(
        [
            (m + 1, "derek@example.com", _MMR_TS0 + m + 1, "c",
             10_000_000 + m + 1),
            (m + 2, "emily@example.com", _MMR_TS0 + m + 2, "c",
             10_000_000 + m + 2),
            (m + 2, "emma@example.com", _MMR_TS0 + m + 2, "u",
             15_000_000 + m + 2),
        ],
        "id long, val string, created_ts long, op string, seq long",
    )
    upd = cust.filter(k % 7 == 3).select(
        k.alias("id"),
        F.concat(F.lit("emma"), k, F.lit("@example.com")).alias("val"),
        (ts0 + k).alias("created_ts"),
        F.lit("u").alias("op"),
        (F.lit(15_000_000) + k).cast("long").alias("seq"),
    )
    live = cust.select(k.alias("id")).unionByName(
        spark.createDataFrame([(m + 1,), (m + 2,)], "id long")
    )
    dels = live.select(
        "id",
        F.lit(None).cast("string").alias("val"),
        F.lit(None).cast("long").alias("created_ts"),
        F.lit("d").alias("op"),
        (F.lit(20_000_000) + F.col("id")).cast("long").alias("seq"),
    )
    acct_log = snap.unionByName(ins).unionByName(upd).unionByName(dels)
    prod_log = part.select(
        F.col("p_partkey").alias("id"),
        F.col("p_name").alias("val"),
        (ts0 + F.col("p_partkey")).alias("created_ts"),
        F.lit("r").alias("op"),
        F.col("p_partkey").cast("long").alias("seq"),
    )
    log_all = (
        acct_log.withColumn("tbl", F.lit("account"))
        .unionByName(prod_log.withColumn("tbl", F.lit("product")))
        .withColumn(
            "__ep",
            F.when(F.col("seq") < 10_000_000, 0)
            .when(F.col("seq") < 20_000_000, 1)
            .otherwise(2),
        )
    )
    work = ephemeral_dir("cdc_mirror_merge_")
    data_dir = stage_batches(log_all, "__ep", work)
    mirrors = {t: os.path.join(work, f"mirror_{t}") for t in ("account", "product")}
    out_dir = os.path.join(work, "traj")

    crc = F.coalesce(
        F.sum(
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            "|", "id", "val", "created_ts", "op", "seq"
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
        ),
        F.lit(0),
    ).cast("long")

    def mirror(t: str):
        return BucketedState(spark, mirrors[t]).read().drop(BUCKET)

    def handle(batch_df, batch_id: int) -> None:
        batch_df = pin(batch_df)
        topics = [
            r["tbl"] for r in batch_df.select("tbl").distinct().collect()
        ]
        for t in topics:
            merge_into_parquet_bucketed(
                spark,
                mirrors[t],
                batch_df.filter(F.col("tbl") == t).drop("tbl"),
                ["id"],
                n_buckets=16,
                epoch=batch_id,
            )
        rows = []
        for t in ("account", "product"):
            # the manual DELETE FROM empties the account mirror
            agg = mirror(t).agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.coalesce(F.sum("id"), F.lit(0)).cast("long").alias("key_sum"),
                crc.alias("payload_crc"),
            ).collect()[0]
            rows.append((t, agg["n_rows"], agg["key_sum"], agg["payload_crc"]))
        write_epoch(
            spark.createDataFrame(
                rows, "tbl string, n_rows long, key_sum long, payload_crc long"
            ),
            out_dir,
            batch_id,
        )

    stream = (
        spark.readStream.schema(
            "id long, val string, created_ts long, op string, seq long,"
            " tbl string"
        )
        .option("maxFilesPerTrigger", 1)
        .json(data_dir)
    )
    q = (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", os.path.join(work, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    await_done(q, 600)

    # the apply_changes parity pin: symmetric diff of the final
    # bucketed state vs the one-shot window dedup of the WHOLE log
    parity_rows = []
    logs = {"account": acct_log, "product": prod_log}
    for t in ("account", "product"):
        want = apply_changes(logs[t], ["id"]).select(
            "id", "val", "created_ts", "op", "seq"
        )
        have = mirror(t).select("id", "val", "created_ts", "op", "seq")
        diff_n = (
            have.exceptAll(want).unionByName(want.exceptAll(have)).count()
        )
        parity_rows.append((99, t, diff_n, 0, 0))
    traj = spark.read.schema(
        "tbl string, n_rows long, key_sum long, payload_crc long, epoch int"
    ).parquet(out_dir)
    return traj.select(
        "epoch", "tbl", "n_rows", "key_sum", "payload_crc"
    ).unionByName(
        spark.createDataFrame(
            parity_rows,
            "epoch int, tbl string, n_rows long, key_sum long,"
            " payload_crc long",
        )
    )
