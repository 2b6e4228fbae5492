"""Mergeable-sketch aggregation queries (VERDICT r9 task #2) — the
100-TB aggregation shape the registry had not yet made first-class:
partial summaries built per shard that merge ASSOCIATIVELY into a
whole-corpus answer without re-reading raw data (Agarwal, Cormode,
Huang, Phillips, Wei, Yi — "Mergeable Summaries", PODS 2012). The
pattern behind every petabyte rollup: sketch each day/machine/file
once, union the sketches upward.

The reference ships no aggregation operators at all (its surface is
the 84-line CDC consumer, consumer.py:43-81); this family is engine
capability added per the north star. Both constructions here are
DETERMINISTIC — no sampling randomness — so the sketch VALUES
themselves are reproduced by the ANSI-SQL oracle, not just their
error contracts: the driver hashes the sketch output, the exact
answer, the exact-integer error budget, and the budget-respected
flags in one row set.

tests/test_round10_refs.py holds the partials-merge == whole-corpus
proofs: pure-Python third implementations of both summaries, grouping-
order invariance for the quantile merge, and the Misra-Gries bound on
an adversarial Zipf fixture.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators.scale import global_cumsum, global_index, pin
from ..operators.sketches import (
    mg_merge,
    mg_summary,
    rank_sample_summary,
    shard_stats,
)
from ..sources.files import ephemeral_dir, stage_batches
from ..streaming import await_done
from ..streaming.commit import write_epoch
from ..tables import VAL, dec, load_table
from . import register

# ---------------------------------------------------------------------------
# 1) Mergeable quantile summary: 8 shards, m = 64 samples per shard.
# ---------------------------------------------------------------------------

_QSKETCH_ORACLE = """
WITH b AS (
  SELECT CAST(round(CAST(value AS DECIMAL(12,2)) * 100) AS BIGINT) AS y,
         event_id, event_id % 8 AS shard
  FROM events
), st AS (
  SELECT shard, COUNT(*) AS n_p, (COUNT(*) + 63) // 64 AS s_p
  FROM b GROUP BY shard
), rk AS (
  SELECT shard, y, event_id,
         row_number() OVER (PARTITION BY shard ORDER BY y, event_id) AS rk
  FROM b
), kept AS (
  SELECT rk.shard, y, rk FROM rk JOIN st ON rk.shard = st.shard
  WHERE rk % s_p = 0 OR rk = n_p
), sw AS (
  SELECT shard, y, rk,
         rk - COALESCE(lag(rk) OVER (PARTITION BY shard ORDER BY rk), 0) AS w
  FROM kept
), mg AS (
  SELECT y, SUM(w) OVER (ORDER BY y, shard, rk) AS cw FROM sw
), tot AS (
  SELECT CAST(SUM(n_p) AS BIGINT) AS n,
         CAST(SUM(s_p - 1) + MAX(s_p) AS BIGINT) AS bound,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM sw) AS n_samples
  FROM st
), tq AS (
  SELECT lbl AS q_label,
         CAST((num * n + den - 1) // den AS BIGINT) AS t_rank,
         n, bound, n_samples
  FROM (VALUES ('p25', 1, 4), ('p50', 1, 2), ('p75', 3, 4),
               ('p90', 9, 10)) AS q(lbl, num, den), tot
), ans AS (
  SELECT q_label, t_rank, n, bound, n_samples, MIN(y) AS sketch_cents
  FROM tq JOIN mg ON mg.cw >= tq.t_rank
  GROUP BY ALL
), gr AS (
  SELECT y, row_number() OVER (ORDER BY y, event_id) AS g FROM b
), ex AS (
  SELECT q_label, y AS exact_cents FROM tq JOIN gr ON gr.g = tq.t_rank
), cnt AS (
  SELECT q_label,
         CAST(SUM(CASE WHEN b.y <= sketch_cents THEN 1 ELSE 0 END)
              AS BIGINT) AS r_le,
         CAST(SUM(CASE WHEN b.y <  sketch_cents THEN 1 ELSE 0 END)
              AS BIGINT) AS r_lt
  FROM ans, b GROUP BY q_label
)
SELECT ans.q_label, ans.n, ans.t_rank, ans.sketch_cents, ex.exact_cents,
       ans.bound AS rank_bound, ans.n_samples,
       cnt.r_le >= ans.t_rank AS rank_lo_ok,
       cnt.r_lt < ans.t_rank + ans.bound AS rank_hi_ok
FROM ans JOIN ex USING (q_label) JOIN cnt USING (q_label)
"""


@register(
    "agg_mergeable_quantile_sketch",
    oracle=_QSKETCH_ORACLE,
    tags=("agg", "sketch", "approx"),
)
def agg_mergeable_quantile_sketch(spark, sf_dir):
    """MERGEABLE quantile summary (deterministic rank sampling; the
    per-shard partial-summary construction of Munro-Paterson 1980 /
    Agarwal et al. PODS 2012): 8 shards each keep every s_p-th row of
    their (value, id)-sorted order (s_p = ceil(n_p/64)) with the gap
    as weight; the merged summary is the plain UNION of sample sets —
    associative, commutative, bounded at 65 rows/shard regardless of
    shard size — and the answer for quantile q is the first sample
    whose running weight reaches t = ceil(q·n). The true rank of that
    answer provably lies in [t, t + B) with B = Σ(s_p−1) + max s_p, an
    EXACT integer the query emits; the driver hashes the sketch
    answers (deterministic, oracle-reproduced), the exact quantiles,
    the budget B, and both rank-contract flags. Plan: keyed per-shard
    windows, two-pass global_cumsum over the ≤520-row merged summary,
    two-pass global_index for the exact answers, one broadcast
    recount — never a global sort of raw data."""
    ev = load_table(spark, sf_dir, "events")
    b = ev.select(
        F.round(dec("value", VAL) * 100).cast("long").alias("y"),
        "event_id",
        F.expr("event_id % 8").alias("shard"),
    )
    # eager pin (optimization r13, guide §3.3): summary (≤520 rows)
    # feeds the cumsum AND the sample count — unpinned, both re-ran the
    # per-shard sampling windows over the full event stream
    summary = pin(rank_sample_summary(b, "y", "shard", 64, "event_id"))
    merged = global_cumsum(summary, "w", ["y", "shard", "rk"], "cw")
    stats = shard_stats(b, "shard", 64).select("n", "bound")
    n_samples = summary.agg(
        F.count(F.lit(1)).cast("long").alias("n_samples")
    )
    targets = spark.createDataFrame(
        [("p25", 1, 4), ("p50", 1, 2), ("p75", 3, 4), ("p90", 9, 10)],
        "q_label string, num int, den int",
    )
    tq = (
        targets.crossJoin(F.broadcast(stats))
        .crossJoin(F.broadcast(n_samples))
        .select(
            "q_label",
            F.expr("CAST((num * n + den - 1) DIV den AS BIGINT)").alias(
                "t_rank"
            ),
            "n",
            "bound",
            "n_samples",
        )
    )
    ans = (
        merged.join(F.broadcast(tq), F.col("cw") >= F.col("t_rank"))
        .groupBy("q_label", "t_rank", "n", "bound", "n_samples")
        .agg(F.min("y").alias("sketch_cents"))
    )
    exact = (
        global_index(b.select("y", "event_id"), "g0", ["y", "event_id"])
        .join(
            F.broadcast(tq.select("q_label", "t_rank")),
            F.col("g0") + 1 == F.col("t_rank"),
        )
        .select("q_label", F.col("y").alias("exact_cents"))
    )
    cnt = (
        b.crossJoin(F.broadcast(ans.select("q_label", "sketch_cents")))
        .groupBy("q_label")
        .agg(
            F.sum(F.when(F.col("y") <= F.col("sketch_cents"), 1).otherwise(0))
            .cast("long")
            .alias("r_le"),
            F.sum(F.when(F.col("y") < F.col("sketch_cents"), 1).otherwise(0))
            .cast("long")
            .alias("r_lt"),
        )
    )
    return (
        ans.join(exact, "q_label")
        .join(cnt, "q_label")
        .select(
            "q_label",
            "n",
            "t_rank",
            "sketch_cents",
            "exact_cents",
            F.col("bound").alias("rank_bound"),
            "n_samples",
            (F.col("r_le") >= F.col("t_rank")).alias("rank_lo_ok"),
            (F.col("r_lt") < F.col("t_rank") + F.col("bound")).alias(
                "rank_hi_ok"
            ),
        )
    )


# ---------------------------------------------------------------------------
# 2) Hierarchical two-level compression: 32 shard summaries (m=32)
#    merged, then re-compressed to ~64 weight blocks — the day -> month
#    rollup shape, with the compounded bound carried exactly.
# ---------------------------------------------------------------------------

_QSKETCH_H_ORACLE = """
WITH b AS (
  SELECT CAST(round(CAST(value AS DECIMAL(12,2)) * 100) AS BIGINT) AS y,
         event_id, event_id % 32 AS shard
  FROM events
), st AS (
  SELECT shard, COUNT(*) AS n_p, (COUNT(*) + 31) // 32 AS s_p
  FROM b GROUP BY shard
), rk AS (
  SELECT shard, y, event_id,
         row_number() OVER (PARTITION BY shard ORDER BY y, event_id) AS rk
  FROM b
), kept AS (
  SELECT rk.shard, y, rk FROM rk JOIN st ON rk.shard = st.shard
  WHERE rk % s_p = 0 OR rk = n_p
), sw AS (
  SELECT shard, y, rk,
         rk - COALESCE(lag(rk) OVER (PARTITION BY shard ORDER BY rk), 0) AS w
  FROM kept
), mg AS (
  SELECT y, w, SUM(w) OVER (ORDER BY y, shard, rk) AS cw FROM sw
), tot AS (
  SELECT CAST(SUM(n_p) AS BIGINT) AS n,
         CAST((SUM(n_p) + 63) // 64 AS BIGINT) AS step2,
         CAST(SUM(s_p - 1) + MAX(s_p) + (SUM(n_p) + 63) // 64
              AS BIGINT) AS bound2
  FROM st
), k2 AS (
  SELECT y, cw FROM mg, tot
  WHERE cw // step2 > (cw - w) // step2 OR cw = n
), nk AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_level2 FROM k2
), tq AS (
  SELECT lbl AS q_label,
         CAST((num * n + den - 1) // den AS BIGINT) AS t_rank,
         n, bound2, n_level2
  FROM (VALUES ('p50', 1, 2), ('p90', 9, 10),
               ('p99', 99, 100)) AS q(lbl, num, den), tot, nk
), ans AS (
  SELECT q_label, t_rank, n, bound2, n_level2, MIN(y) AS sketch_cents
  FROM tq JOIN k2 ON k2.cw >= tq.t_rank
  GROUP BY ALL
), gr AS (
  SELECT y, row_number() OVER (ORDER BY y, event_id) AS g FROM b
), ex AS (
  SELECT q_label, y AS exact_cents FROM tq JOIN gr ON gr.g = tq.t_rank
), cnt AS (
  SELECT q_label,
         CAST(SUM(CASE WHEN b.y <= sketch_cents THEN 1 ELSE 0 END)
              AS BIGINT) AS r_le,
         CAST(SUM(CASE WHEN b.y <  sketch_cents THEN 1 ELSE 0 END)
              AS BIGINT) AS r_lt
  FROM ans, b GROUP BY q_label
)
SELECT ans.q_label, ans.n, ans.t_rank, ans.sketch_cents, ex.exact_cents,
       ans.bound2 AS rank_bound, ans.n_level2,
       cnt.r_le >= ans.t_rank AS rank_lo_ok,
       cnt.r_lt < ans.t_rank + ans.bound2 AS rank_hi_ok
FROM ans JOIN ex USING (q_label) JOIN cnt USING (q_label)
"""


@register(
    "agg_quantile_sketch_hierarchical",
    oracle=_QSKETCH_H_ORACLE,
    tags=("agg", "sketch", "approx"),
)
def agg_quantile_sketch_hierarchical(spark, sf_dir):
    """TWO-LEVEL mergeable quantile rollup — the day -> month shape:
    32 per-shard summaries (m=32) merge by union, then the merged
    summary is RE-COMPRESSED by keeping only samples whose running
    weight crosses a multiple of step2 = ceil(n/64) (plus the global
    max). The kept samples' running weights are still their EXACT
    level-1 estimated ranks, so no re-weighting pass is needed, and
    the compound rank budget is carried exactly: the answer's true
    rank lies in [t, t + B2) with B2 = Σ(s_p−1) + max s_p + step2.
    The crossing test `cw DIV step2 > (cw−w) DIV step2` is row-local
    (the previous running weight is cw−w), so level-2 compression adds
    NO window at all — at 100 TB each rollup level is a filter over a
    bounded relation. Driver-hashed: sketch answers, exact quantiles,
    B2, level-2 summary size, both rank-contract flags."""
    ev = load_table(spark, sf_dir, "events")
    b = ev.select(
        F.round(dec("value", VAL) * 100).cast("long").alias("y"),
        "event_id",
        F.expr("event_id % 32").alias("shard"),
    )
    summary = rank_sample_summary(b, "y", "shard", 32, "event_id")
    merged = global_cumsum(summary, "w", ["y", "shard", "rk"], "cw")
    stats = (
        shard_stats(b, "shard", 32)
        .select(
            "n",
            F.expr("CAST((n + 63) DIV 64 AS BIGINT)").alias("step2"),
            "under_budget",
            "max_gap",
        )
        .select(
            "n",
            "step2",
            (F.col("under_budget") + F.col("max_gap") + F.col("step2"))
            .cast("long")
            .alias("bound2"),
        )
    )
    k2 = merged.crossJoin(F.broadcast(stats)).filter(
        (
            F.expr("cw DIV step2") > F.expr("(cw - w) DIV step2")
        )
        | (F.col("cw") == F.col("n"))
    )
    nk = k2.agg(F.count(F.lit(1)).cast("long").alias("n_level2"))
    targets = spark.createDataFrame(
        [("p50", 1, 2), ("p90", 9, 10), ("p99", 99, 100)],
        "q_label string, num int, den int",
    )
    tq = (
        targets.crossJoin(F.broadcast(stats))
        .crossJoin(F.broadcast(nk))
        .select(
            "q_label",
            F.expr("CAST((num * n + den - 1) DIV den AS BIGINT)").alias(
                "t_rank"
            ),
            "n",
            "bound2",
            "n_level2",
        )
    )
    ans = (
        k2.select("y", "cw")
        .join(F.broadcast(tq), F.col("cw") >= F.col("t_rank"))
        .groupBy("q_label", "t_rank", "n", "bound2", "n_level2")
        .agg(F.min("y").alias("sketch_cents"))
    )
    exact = (
        global_index(b.select("y", "event_id"), "g0", ["y", "event_id"])
        .join(
            F.broadcast(tq.select("q_label", "t_rank")),
            F.col("g0") + 1 == F.col("t_rank"),
        )
        .select("q_label", F.col("y").alias("exact_cents"))
    )
    cnt = (
        b.crossJoin(F.broadcast(ans.select("q_label", "sketch_cents")))
        .groupBy("q_label")
        .agg(
            F.sum(F.when(F.col("y") <= F.col("sketch_cents"), 1).otherwise(0))
            .cast("long")
            .alias("r_le"),
            F.sum(F.when(F.col("y") < F.col("sketch_cents"), 1).otherwise(0))
            .cast("long")
            .alias("r_lt"),
        )
    )
    return (
        ans.join(exact, "q_label")
        .join(cnt, "q_label")
        .select(
            "q_label",
            "n",
            "t_rank",
            "sketch_cents",
            "exact_cents",
            F.col("bound2").alias("rank_bound"),
            "n_level2",
            (F.col("r_le") >= F.col("t_rank")).alias("rank_lo_ok"),
            (F.col("r_lt") < F.col("t_rank") + F.col("bound2")).alias(
                "rank_hi_ok"
            ),
        )
    )


# ---------------------------------------------------------------------------
# 3) Misra-Gries mergeable frequent items: orders by customer, k = 12.
# ---------------------------------------------------------------------------

_MG_ORACLE = """
WITH b AS (
  SELECT o_custkey AS cust, o_orderkey % 8 AS shard FROM orders
), f AS (
  SELECT shard, cust, CAST(COUNT(*) AS BIGINT) AS c FROM b GROUP BY shard, cust
), rnk AS (
  SELECT shard, cust, c,
         row_number() OVER (PARTITION BY shard ORDER BY c DESC, cust) AS r
  FROM f
), d1 AS (
  SELECT shard,
         CASE WHEN COUNT(*) = 13 THEN CAST(MIN(c) AS BIGINT)
              ELSE CAST(0 AS BIGINT) END AS d
  FROM rnk WHERE r <= 13 GROUP BY shard
), s1 AS (
  SELECT f.shard, cust, c - d AS w
  FROM f JOIN d1 ON f.shard = d1.shard WHERE c > d
), mrg AS (
  SELECT cust, CAST(SUM(w) AS BIGINT) AS wm FROM s1 GROUP BY cust
), top AS (
  SELECT wm FROM mrg ORDER BY wm DESC, cust LIMIT 13
), d2 AS (
  SELECT CASE WHEN COUNT(*) = 13 THEN CAST(MIN(wm) AS BIGINT)
              ELSE CAST(0 AS BIGINT) END AS d2 FROM top
), fin AS (
  SELECT cust, CAST(wm - d2 AS BIGINT) AS est FROM mrg, d2 WHERE wm > d2
), ex AS (
  SELECT cust, CAST(COUNT(*) AS BIGINT) AS fc FROM b GROUP BY cust
), bb AS (
  SELECT (SELECT CAST(SUM(d) AS BIGINT) FROM d1) + (SELECT d2 FROM d2) AS B,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM b) AS N
), hm AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_heavy_missed
  FROM ex, bb
  WHERE ex.fc > bb.B AND cust NOT IN (SELECT cust FROM fin)
)
SELECT fin.cust AS o_custkey, fin.est AS est_count, ex.fc AS exact_count,
       bb.B AS err_bound,
       fin.est <= ex.fc AS no_overcount,
       ex.fc - fin.est <= bb.B AS within_bound,
       13 * bb.B <= bb.N AS mg_bound_ok,
       hm.n_heavy_missed
FROM fin JOIN ex USING (cust), bb, hm
"""


@register(
    "agg_misra_gries_topk",
    oracle=_MG_ORACLE,
    tags=("agg", "sketch", "approx"),
)
def agg_misra_gries_topk(spark, sf_dir):
    """MERGEABLE Misra-Gries frequent-items sketch (Misra & Gries 1982;
    merge rule and surviving N/(k+1) guarantee per Agarwal et al. PODS
    2012 Thm 1), k=12 over order counts by customer across 8 shards:
    each shard compresses its exact local counts to ≤ k weighted
    survivors by subtracting its (k+1)-th largest count d_p (the
    order-independent closed form of the streaming algorithm — the
    construction every shard can run independently); merging sums
    weights and subtracts the (k+1)-th largest merged weight d2. Every
    reported estimate UNDER-counts by at most B = Σ d_p + d2, and the
    theorem's surprise is that B ≤ N/(k+1) — the single-pass guarantee
    survives the merge, driver-checked by the mg_bound_ok flag. Also
    hashed: each survivor's exact count, the no-overcount and
    within-budget flags, and n_heavy_missed = 0 (no value with
    frequency > B escapes the sketch — by pigeonhole it must survive).
    Plan: keyed per-shard top-(k+1) windows, a TakeOrderedAndProject
    for d2, one broadcast anti-join for the completeness count — raw
    data is scanned twice (counts + exact verify), never globally
    sorted."""
    o = load_table(spark, sf_dir, "orders")
    b = o.select(
        F.col("o_custkey").alias("cust"),
        F.expr("o_orderkey % 8").alias("shard"),
    )
    # eager pins (optimization r13, guide §3.3): counts feeds the
    # rank window AND the summary filter inside mg_summary, fin and
    # exact each feed two consumers below — unpinned, every reference
    # re-derived the orders scan + aggregation (104-Exchange plan)
    counts = pin(
        b.groupBy("shard", "cust")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    summary, d1 = mg_summary(counts, "cust", "c", "shard", 12)
    fin, d2 = mg_merge(summary, "cust", 12)
    fin = pin(fin)
    exact = pin(
        b.groupBy("cust")
        .agg(F.count(F.lit(1)).cast("long").alias("fc"))
    )
    bounds = (
        d1.agg(F.sum("d").cast("long").alias("sd"))
        .crossJoin(F.broadcast(d2))
        .crossJoin(
            F.broadcast(b.agg(F.count(F.lit(1)).cast("long").alias("N")))
        )
        .select((F.col("sd") + F.col("d2")).alias("B"), "N")
    )
    heavy_missed = (
        exact.crossJoin(F.broadcast(bounds))
        .filter(F.col("fc") > F.col("B"))
        .join(fin, "cust", "left_anti")
        .agg(F.count(F.lit(1)).cast("long").alias("n_heavy_missed"))
    )
    return (
        fin.join(exact, "cust")
        .crossJoin(F.broadcast(bounds))
        .crossJoin(F.broadcast(heavy_missed))
        .select(
            F.col("cust").alias("o_custkey"),
            F.col("est").alias("est_count"),
            F.col("fc").alias("exact_count"),
            F.col("B").alias("err_bound"),
            (F.col("est") <= F.col("fc")).alias("no_overcount"),
            (F.col("fc") - F.col("est") <= F.col("B")).alias("within_bound"),
            (13 * F.col("B") <= F.col("N")).alias("mg_bound_ok"),
            "n_heavy_missed",
        )
    )


# ---------------------------------------------------------------------------
# 4) STREAMING maintenance of the quantile summary: per-batch partial
#    summaries appended epoch-partitioned; merge = union, so the
#    maintained summary has an EXACT one-shot oracle.
# ---------------------------------------------------------------------------

_QSKETCH_STREAM_ORACLE = """
WITH tt AS (
  SELECT (MAX(event_id) + 1) // 3 AS t1 FROM events
), b AS (
  SELECT CAST(round(CAST(value AS DECIMAL(12,2)) * 100) AS BIGINT) AS y,
         event_id,
         LEAST(2, event_id // t1) * 4 + event_id % 4 AS shard
  FROM events, tt
), st AS (
  SELECT shard, COUNT(*) AS n_p, (COUNT(*) + 31) // 32 AS s_p
  FROM b GROUP BY shard
), rk AS (
  SELECT shard, y, event_id,
         row_number() OVER (PARTITION BY shard ORDER BY y, event_id) AS rk
  FROM b
), kept AS (
  SELECT rk.shard, y, rk FROM rk JOIN st ON rk.shard = st.shard
  WHERE rk % s_p = 0 OR rk = n_p
), sw AS (
  SELECT shard, y, rk,
         rk - COALESCE(lag(rk) OVER (PARTITION BY shard ORDER BY rk), 0) AS w
  FROM kept
), mg AS (
  SELECT y, SUM(w) OVER (ORDER BY y, shard, rk) AS cw FROM sw
), tot AS (
  SELECT CAST(SUM(n_p) AS BIGINT) AS n,
         CAST(SUM(s_p - 1) + MAX(s_p) AS BIGINT) AS bound,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM sw) AS n_samples
  FROM st
), tq AS (
  SELECT lbl AS q_label,
         CAST((num * n + den - 1) // den AS BIGINT) AS t_rank,
         n, bound, n_samples
  FROM (VALUES ('p25', 1, 4), ('p50', 1, 2), ('p75', 3, 4),
               ('p90', 9, 10)) AS q(lbl, num, den), tot
), ans AS (
  SELECT q_label, t_rank, n, bound, n_samples, MIN(y) AS sketch_cents
  FROM tq JOIN mg ON mg.cw >= tq.t_rank
  GROUP BY ALL
), gr AS (
  SELECT y, row_number() OVER (ORDER BY y, event_id) AS g FROM b
), ex AS (
  SELECT q_label, y AS exact_cents FROM tq JOIN gr ON gr.g = tq.t_rank
)
SELECT ans.q_label, ans.n, ans.t_rank, ans.sketch_cents, ex.exact_cents,
       ans.bound AS rank_bound, ans.n_samples
FROM ans JOIN ex USING (q_label)
"""


@register(
    "pipeline_quantile_sketch_stream",
    oracle=_QSKETCH_STREAM_ORACLE,
    tags=("agg", "sketch", "streaming"),
)
def pipeline_quantile_sketch_stream(spark, sf_dir):
    """STREAMING maintenance of the mergeable quantile summary through
    the REAL checkpointed foreachBatch consumer: events arrive as 3
    id-ordered micro-batches; each batch builds its own 4-shard
    rank-sample summaries (m=32) and APPENDS them epoch-partitioned
    (idempotent dynamic overwrite — replay rewrites its epoch, no
    ledger needed because batches are independent partials). Because
    merging IS multiset union, the maintained summary equals the
    one-shot construction over composite (epoch, id%4) shards EXACTLY
    — so the oracle reproduces the full maintained state and the
    driver hashes the final quantile answers, the exact quantiles,
    and the exact integer rank budget recomputed FROM THE MAINTAINED
    SUMMARY ALONE (n_p = per-shard weight sum, s_p = ceil(n_p/32) —
    the state is self-describing, the raw data is only re-read for
    the exact-answer verification column). This is the day->rollup
    lifecycle of agg_mergeable_quantile_sketch run through the
    streaming surface."""
    import os

    from ..operators.scale import global_cumsum, global_index
    from ..operators.sketches import rank_sample_summary

    ev = load_table(spark, sf_dir, "events")
    mx = ev.agg(F.max("event_id")).collect()[0][0]
    if mx is None:
        raise ValueError("events table is empty: cannot batch the stream drive")
    t1 = max(1, (int(mx) + 1) // 3)  # guard: tiny fixture must not DIV 0
    b = ev.select(
        F.round(dec("value", VAL) * 100).cast("long").alias("y"),
        "event_id",
    )
    work = ephemeral_dir("qsketch_stream_")
    data_dir = stage_batches(
        b.withColumn("__b", F.least(F.lit(2), F.expr(f"event_id DIV {t1}"))),
        "__b",
        work,
    )
    state_dir = os.path.join(work, "summary")

    def handle(batch_df, batch_id: int) -> None:
        sb = batch_df.withColumn("shard", F.expr("event_id % 4"))
        summary = rank_sample_summary(sb, "y", "shard", 32, "event_id")
        write_epoch(summary, state_dir, batch_id)

    stream = (
        spark.readStream.schema("y long, event_id long")
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
    summary = (
        spark.read.schema("shard long, y long, rk long, w long, epoch int")
        .parquet(state_dir)
        .select(
            (F.col("epoch").cast("long") * 4 + F.col("shard")).alias("shard"),
            "y",
            "rk",
            "w",
        )
    )
    merged = global_cumsum(summary, "w", ["y", "shard", "rk"], "cw")
    st = summary.groupBy("shard").agg(F.sum("w").cast("long").alias("n_p")).select(
        "n_p", F.expr("CAST((n_p + 31) DIV 32 AS BIGINT)").alias("s_p")
    )
    stats = st.agg(
        F.sum("n_p").cast("long").alias("n"),
        (F.sum(F.col("s_p") - 1) + F.max("s_p")).cast("long").alias("bound"),
    )
    n_samples = summary.agg(F.count(F.lit(1)).cast("long").alias("n_samples"))
    targets = spark.createDataFrame(
        [("p25", 1, 4), ("p50", 1, 2), ("p75", 3, 4), ("p90", 9, 10)],
        "q_label string, num int, den int",
    )
    tq = (
        targets.crossJoin(F.broadcast(stats))
        .crossJoin(F.broadcast(n_samples))
        .select(
            "q_label",
            F.expr("CAST((num * n + den - 1) DIV den AS BIGINT)").alias("t_rank"),
            "n",
            "bound",
            "n_samples",
        )
    )
    ans = (
        merged.join(F.broadcast(tq), F.col("cw") >= F.col("t_rank"))
        .groupBy("q_label", "t_rank", "n", "bound", "n_samples")
        .agg(F.min("y").alias("sketch_cents"))
    )
    exact = (
        global_index(b.select("y", "event_id"), "g0", ["y", "event_id"])
        .join(
            F.broadcast(tq.select("q_label", "t_rank")),
            F.col("g0") + 1 == F.col("t_rank"),
        )
        .select("q_label", F.col("y").alias("exact_cents"))
    )
    return ans.join(exact, "q_label").select(
        "q_label",
        "n",
        "t_rank",
        "sketch_cents",
        "exact_cents",
        F.col("bound").alias("rank_bound"),
        "n_samples",
    )


# ---------------------------------------------------------------------------
# 5) STREAMING maintenance of the Misra-Gries summary: sequential
#    state merges, budget carried exactly, oracle = 3 unrolled stages.
# ---------------------------------------------------------------------------

_MG_STREAM_ORACLE = """
WITH tt AS (
  SELECT (MAX(o_orderkey) + 1) // 3 AS t1 FROM orders
), b AS (
  SELECT o_custkey AS cust, LEAST(2, o_orderkey // t1) AS e
  FROM orders, tt
), f0 AS (
  SELECT cust, CAST(COUNT(*) AS BIGINT) AS c FROM b WHERE e = 0 GROUP BY cust
), d0 AS (
  SELECT CASE WHEN COUNT(*) = 13 THEN CAST(MIN(c) AS BIGINT)
              ELSE CAST(0 AS BIGINT) END AS d
  FROM (SELECT c FROM f0 ORDER BY c DESC LIMIT 13)
), s0 AS (
  SELECT cust, c - d AS w FROM f0, d0 WHERE c > d
), f1 AS (
  SELECT cust, CAST(COUNT(*) AS BIGINT) AS c FROM b WHERE e = 1 GROUP BY cust
), d1 AS (
  SELECT CASE WHEN COUNT(*) = 13 THEN CAST(MIN(c) AS BIGINT)
              ELSE CAST(0 AS BIGINT) END AS d
  FROM (SELECT c FROM f1 ORDER BY c DESC LIMIT 13)
), p1 AS (
  SELECT cust, c - d AS w FROM f1, d1 WHERE c > d
), m1 AS (
  SELECT cust, SUM(w) AS w FROM (
    SELECT * FROM s0 UNION ALL SELECT * FROM p1
  ) GROUP BY cust
), e1 AS (
  SELECT CASE WHEN COUNT(*) = 13 THEN CAST(MIN(w) AS BIGINT)
              ELSE CAST(0 AS BIGINT) END AS d
  FROM (SELECT w FROM m1 ORDER BY w DESC LIMIT 13)
), s1 AS (
  SELECT cust, CAST(w - d AS BIGINT) AS w FROM m1, e1 WHERE w > d
), f2 AS (
  SELECT cust, CAST(COUNT(*) AS BIGINT) AS c FROM b WHERE e = 2 GROUP BY cust
), d2 AS (
  SELECT CASE WHEN COUNT(*) = 13 THEN CAST(MIN(c) AS BIGINT)
              ELSE CAST(0 AS BIGINT) END AS d
  FROM (SELECT c FROM f2 ORDER BY c DESC LIMIT 13)
), p2 AS (
  SELECT cust, c - d AS w FROM f2, d2 WHERE c > d
), m2 AS (
  SELECT cust, SUM(w) AS w FROM (
    SELECT * FROM s1 UNION ALL SELECT * FROM p2
  ) GROUP BY cust
), e2 AS (
  SELECT CASE WHEN COUNT(*) = 13 THEN CAST(MIN(w) AS BIGINT)
              ELSE CAST(0 AS BIGINT) END AS d
  FROM (SELECT w FROM m2 ORDER BY w DESC LIMIT 13)
), s2 AS (
  SELECT cust, CAST(w - d AS BIGINT) AS est FROM m2, e2 WHERE w > d
), bb AS (
  SELECT (SELECT d FROM d0) + (SELECT d FROM d1) + (SELECT d FROM d2)
         + (SELECT d FROM e1) + (SELECT d FROM e2) AS B,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM b) AS N
), ex AS (
  SELECT cust, CAST(COUNT(*) AS BIGINT) AS fc FROM b GROUP BY cust
), hm AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_heavy_missed
  FROM ex, bb
  WHERE ex.fc > bb.B AND cust NOT IN (SELECT cust FROM s2)
)
SELECT s2.cust AS o_custkey, s2.est AS est_count, ex.fc AS exact_count,
       CAST(bb.B AS BIGINT) AS err_bound,
       s2.est <= ex.fc AS no_overcount,
       ex.fc - s2.est <= bb.B AS within_bound,
       13 * bb.B <= bb.N AS mg_bound_ok,
       hm.n_heavy_missed
FROM s2 JOIN ex USING (cust), bb, hm
"""


@register(
    "pipeline_mg_sketch_stream",
    oracle=_MG_STREAM_ORACLE,
    tags=("agg", "sketch", "streaming"),
)
def pipeline_mg_sketch_stream(spark, sf_dir):
    """STREAMING maintenance of the Misra-Gries frequent-items sketch
    (k=12) through the checkpointed foreachBatch consumer: orders
    arrive as 3 key-ordered micro-batches; each batch compresses its
    exact counts to a ≤k partial, merges it into the STANDING state
    (sum weights, subtract the (k+1)-th largest), and persists the new
    state under its epoch — replay recomputes epoch e from the
    PERSISTED epoch e−1 snapshot and overwrites, so recovery is
    idempotent without a ledger. The error budget accumulates exactly
    (B = Σ batch-d + Σ merge-d) and the Agarwal et al. Thm-1 guarantee
    survives the SEQUENTIAL merge tree: (k+1)·B ≤ N, driver-checked,
    with per-survivor no-overcount / within-budget flags and
    n_heavy_missed = 0. The oracle unrolls the three maintenance
    stages in SQL and never sees the stream — a lost batch, a wrong
    subtraction, or state read from the wrong epoch breaks the
    hash."""
    import os

    from ..operators.sketches import mg_merge, mg_summary

    o = load_table(spark, sf_dir, "orders")
    mx = o.agg(F.max("o_orderkey")).collect()[0][0]
    if mx is None:
        raise ValueError("orders table is empty: cannot batch the stream drive")
    t1 = max(1, (int(mx) + 1) // 3)  # guard: tiny fixture must not DIV 0
    b = o.select(F.col("o_custkey").alias("cust"), "o_orderkey")
    work = ephemeral_dir("mg_stream_")
    data_dir = stage_batches(
        b.withColumn("__b", F.least(F.lit(2), F.expr(f"o_orderkey DIV {t1}"))),
        "__b",
        work,
    )
    state_dir = os.path.join(work, "state")
    budget_dir = os.path.join(work, "budget")
    k = 12

    def handle(batch_df, batch_id: int) -> None:
        sp = batch_df.sparkSession
        counts = (
            batch_df.groupBy("cust")
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
            .withColumn("shard", F.lit(0))
        )
        part, d1 = mg_summary(counts, "cust", "c", "shard", k)
        part = part.select("cust", "w")
        d1v = d1.agg(
            F.coalesce(F.sum("d"), F.lit(0)).cast("long").alias("d")
        )
        if batch_id == 0:
            new_state, d_merge = part, None
        else:
            prev = sp.read.schema("cust long, w long").parquet(
                os.path.join(state_dir, f"epoch={batch_id - 1}")
            )
            merged_in = prev.unionByName(part).withColumn("shard", F.lit(0))
            # mg_merge sums weights per value and subtracts the
            # (k+1)-th largest merged weight
            new_state, d_merge = mg_merge(
                merged_in.select("cust", "w"), "cust", k
            )
            new_state = new_state.select("cust", F.col("est").alias("w"))
        prev_budget = 0
        if batch_id > 0:
            prev_budget = (
                sp.read.schema("b long")
                .parquet(os.path.join(budget_dir, f"epoch={batch_id - 1}"))
                .collect()[0][0]
            )
        d1_val = d1v.collect()[0][0]
        d2_val = 0 if d_merge is None else d_merge.collect()[0][0]
        new_state.write.mode("overwrite").parquet(
            os.path.join(state_dir, f"epoch={batch_id}")
        )
        sp.createDataFrame(
            [(int(prev_budget) + int(d1_val) + int(d2_val),)], "b long"
        ).write.mode("overwrite").parquet(
            os.path.join(budget_dir, f"epoch={batch_id}")
        )

    stream = (
        spark.readStream.schema("cust long, o_orderkey long")
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
    fin = spark.read.schema("cust long, w long").parquet(
        os.path.join(state_dir, "epoch=2")
    ).select("cust", F.col("w").alias("est"))
    budget = spark.read.schema("b long").parquet(
        os.path.join(budget_dir, "epoch=2")
    ).select(F.col("b").alias("B"))
    exact = b.groupBy("cust").agg(F.count(F.lit(1)).cast("long").alias("fc"))
    nn = b.agg(F.count(F.lit(1)).cast("long").alias("N"))
    bounds = budget.crossJoin(F.broadcast(nn))
    heavy_missed = (
        exact.crossJoin(F.broadcast(bounds))
        .filter(F.col("fc") > F.col("B"))
        .join(fin, "cust", "left_anti")
        .agg(F.count(F.lit(1)).cast("long").alias("n_heavy_missed"))
    )
    return (
        fin.join(exact, "cust")
        .crossJoin(F.broadcast(bounds))
        .crossJoin(F.broadcast(heavy_missed))
        .select(
            F.col("cust").alias("o_custkey"),
            F.col("est").alias("est_count"),
            F.col("fc").alias("exact_count"),
            F.col("B").alias("err_bound"),
            (F.col("est") <= F.col("fc")).alias("no_overcount"),
            (F.col("fc") - F.col("est") <= F.col("B")).alias("within_bound"),
            ((k + 1) * F.col("B") <= F.col("N")).alias("mg_bound_ok"),
            "n_heavy_missed",
        )
    )


# ---------------------------------------------------------------------------
# 6) STREAMING maintenance of explicit HLL registers: the THIRD
#    mergeable-sketch streaming twin (quantile summary = multiset
#    union, MG = sequential compress-merge, HLL = register MAX — the
#    only one whose merge is also IDEMPOTENT, so replay safety needs
#    no epoch bookkeeping at all).
# ---------------------------------------------------------------------------

_HLL_STREAM_ORACLE = """
WITH h AS (
  SELECT CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 8))
              AS BIGINT) % 256 AS bucket,
         CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 9, 8))
              AS BIGINT) AS w
  FROM events
), reg AS (
  SELECT bucket,
         CAST(MAX(LEAST(32, CASE WHEN w = 0 THEN 32
                             ELSE 32 - CAST(floor(log2(w)) AS BIGINT) END))
              AS BIGINT) AS r
  FROM h GROUP BY bucket
), full_reg AS (
  SELECT d.bucket, reg.r
  FROM (SELECT CAST(range AS BIGINT) AS bucket FROM range(0, 256)) d
  LEFT JOIN reg ON reg.bucket = d.bucket
), z AS (
  SELECT CAST(SUM(CASE WHEN r IS NULL THEN CAST(4294967296 AS BIGINT)
                       ELSE (CAST(1 AS BIGINT) << CAST(32 - r AS INT)) END)
              AS BIGINT) AS z_scaled,
         CAST(SUM(CASE WHEN r IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_registers_hit
  FROM full_reg
), ex AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users_exact
  FROM events
)
SELECT ex.n_events, ex.n_users_exact, z.n_registers_hit, z.z_scaled,
       round((0.7213 / (1.0 + 1.079 / 256)) * 256.0 * 256.0 * 4294967296.0
             / z.z_scaled, 2) AS hll_estimate,
       abs((0.7213 / (1.0 + 1.079 / 256)) * 256.0 * 256.0 * 4294967296.0
           / z.z_scaled - ex.n_users_exact) / ex.n_users_exact <= 0.2
         AS rel_err_le_20pct
FROM z CROSS JOIN ex
"""


@register("pipeline_hll_register_stream", oracle=_HLL_STREAM_ORACLE, tags=("llm", "pipeline", "sketch", "streaming"))
def pipeline_hll_register_stream(spark, sf_dir):
    """STREAMING maintenance of an EXPLICIT 256-register HLL sketch
    (Flajolet et al. 2007) through the checkpointed foreachBatch
    consumer — the third mergeable-sketch streaming twin beside
    pipeline_quantile_sketch_stream (merge = multiset union) and
    pipeline_mg_sketch_stream (merge = compress): the HLL merge is a
    per-register MAX, which is associative AND idempotent, so the
    maintained state is replay-safe by algebra alone (a re-delivered
    batch can only re-assert maxima). Registers use the PORTABLE
    md5-prefix hash (bucket = first 32 bits % 256, rank = leading
    zeros of the second 32 bits + 1, capped at 32), so the oracle
    reproduces the register STATE exactly — the driver hashes the
    full state digest z_scaled = Σ 2^(32−r_j) (empty register =
    2^32), an exact BIGINT, not just the estimate's error contract
    (agg_hll_sketch_union stays the Datasketches-engine twin).

    Drive: 3 id-ordered micro-batches (availableNow file stream, the
    r8/r9 harness) each writing its own per-bucket max partial
    epoch-partitioned; the final state is the register-wise MAX over
    all partials == the one-shot registers over all raw events (the
    oracle) — max-merge associativity is exactly what the cross-
    engine equality proves. Estimate = α₂₅₆·m²·2³²/z_scaled (one
    float), plus the exact distinct count and a 20% relative-error
    contract (HLL σ ≈ 1.04/√256 = 6.5%).

    Scale: per-batch state is 256 rows regardless of batch size; the
    100 TB shape is per-day register partials unioned by MAX — the
    cheapest possible rollup lifecycle."""
    import os

    ev = load_table(spark, sf_dir, "events")
    mx = ev.agg(F.max("event_id")).collect()[0][0]
    if mx is None:
        raise ValueError("events table is empty: cannot batch the stream drive")
    t1 = max(1, (int(mx) + 1) // 3)  # guard: tiny fixture must not DIV 0
    b = ev.select("user_id", "event_id")
    work = ephemeral_dir("hll_stream_")
    data_dir = stage_batches(
        b.withColumn("__b", F.least(F.lit(2), F.expr(f"event_id DIV {t1}"))),
        "__b",
        work,
    )
    state_dir = os.path.join(work, "registers")

    bucket_expr = (
        "CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 8), 16, 10)"
        " AS BIGINT) % 256"
    )
    rank_expr = (
        "LEAST(32, CASE WHEN w = 0 THEN 32"
        " ELSE CAST(32 - floor(log2(w)) AS BIGINT) END)"
    )

    def handle(batch_df, batch_id: int) -> None:
        regs = (
            batch_df.select(
                F.expr(bucket_expr).alias("bucket"),
                F.expr(
                    "CAST(conv(substring(md5(CAST(user_id AS STRING)), 9, 8),"
                    " 16, 10) AS BIGINT)"
                ).alias("w"),
            )
            .select("bucket", F.expr(rank_expr).alias("r"))
            .groupBy("bucket")
            .agg(F.max("r").cast("long").alias("r"))
        )
        write_epoch(regs, state_dir, batch_id)

    stream = (
        spark.readStream.schema("user_id long, event_id long")
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

    reg = (
        spark.read.schema("bucket long, r long, epoch int")
        .parquet(state_dir)
        .groupBy("bucket")
        .agg(F.max("r").cast("long").alias("r"))
    )
    domain = spark.range(0, 256).select(F.col("id").alias("bucket"))
    full_reg = F.broadcast(domain).join(reg, "bucket", "left")
    z = full_reg.agg(
        F.sum(
            F.expr(
                "IF(r IS NULL, CAST(4294967296 AS BIGINT),"
                " shiftleft(1L, CAST(32 - r AS INT)))"
            )
        )
        .cast("long")
        .alias("z_scaled"),
        F.sum(F.col("r").isNotNull().cast("long")).alias("n_registers_hit"),
    )
    ex = ev.agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.countDistinct("user_id").cast("long").alias("n_users_exact"),
    )
    # CAST keeps the whole chain DOUBLE: Spark parses bare decimal
    # literals as DECIMAL and would propagate a Decimal-typed estimate
    # (the suite's strict comparator catches the dtype; DuckDB is
    # double throughout)
    est = (
        "(CAST(0.7213 AS DOUBLE) / (1.0 + 1.079 / 256))"
        " * 256.0 * 256.0 * 4294967296.0 / z_scaled"
    )
    return z.crossJoin(F.broadcast(ex)).select(
        "n_events",
        "n_users_exact",
        "n_registers_hit",
        "z_scaled",
        F.expr(f"round({est}, 2)").alias("hll_estimate"),
        F.expr(
            f"abs({est} - n_users_exact) / n_users_exact <= 0.2"
        ).alias("rel_err_le_20pct"),
    )


# ---------------------------------------------------------------------------
# 4) Mergeable bottom-k sample (round 11): the semilattice sampling
#    sketch — union of partials == whole, in any association.
# ---------------------------------------------------------------------------

_BK_K = 40
_BK_SHARDS = 7

_BOTTOMK_ORACLE = f"""
WITH pri AS (
  SELECT event_id,
         CAST(('0x' || substring(md5('bk:' || CAST(event_id AS VARCHAR)),
                                 1, 15)) AS BIGINT) AS priority
  FROM events
),
bk AS (
  SELECT event_id, priority,
         row_number() OVER (ORDER BY priority, event_id) AS rk
  FROM pri
)
SELECT CAST(rk AS BIGINT) AS rk, event_id, priority
FROM bk WHERE rk <= {_BK_K}
"""


@register(
    "agg_bottomk_sample_merge",
    oracle=_BOTTOMK_ORACLE,
    tags=("agg", "sketch", "sample"),
)
def agg_bottomk_sample_merge(spark, sf_dir):
    """Mergeable bottom-k sampling sketch (Cohen & Kaplan, PODC 2007):
    each row gets a deterministic hash priority (the engine-portable
    md5-prefix bigint); a shard's sketch is its k smallest priorities;
    merging sketches = union then keep the k smallest. Because bottom-k
    is a SEMILATTICE (idempotent, commutative, associative min-k), the
    merged sample over any shard grouping equals the bottom-k of the
    whole corpus — the property that makes it the distributed uniform
    sampler: sketch each day/file once, union upward, never re-read.

    The Spark plan computes the sketch THROUGH the merge path — 7
    pmod-shard partials (one partitioned window each bounded at k rows
    out) unioned and re-cut — while the oracle computes the whole-table
    bottom-k directly, so the driver's value hash IS the
    partials-merge == whole identity, per row. The final rank runs
    over the <= 7k-row post-limit union (the _ivf_seeds bounded-window
    pattern); the raw scan is never globally windowed.
    tests/test_round11_refs.py re-proves grouping-order invariance in
    pure Python under three different associations."""
    ev = load_table(spark, sf_dir, "events")
    pri = ev.select(
        "event_id",
        F.expr(
            "CAST(conv(substring(md5(concat('bk:', CAST(event_id AS"
            " STRING))), 1, 15), 16, 10) AS BIGINT)"
        ).alias("priority"),
        F.pmod("event_id", F.lit(_BK_SHARDS)).alias("__shard"),
    )
    from pyspark.sql import Window as W

    shard_w = W.partitionBy("__shard").orderBy("priority", "event_id")
    partials = (
        pri.withColumn("srk", F.row_number().over(shard_w))
        .filter(F.col("srk") <= _BK_K)
        .select("event_id", "priority")
    )
    merged = partials.orderBy("priority", "event_id").limit(_BK_K)
    rank_w = W.orderBy("priority", "event_id")
    return merged.select(
        F.row_number().over(rank_w).cast("long").alias("rk"),
        "event_id",
        "priority",
    )
