"""Distributed frequency sketches with exact verification.

The reference ships no sketch/summary operators (its surface is the
84-line CDC consumer); these are engine capability added per the north
star — the streaming/OLAP summary structures a 100 TB corpus profile
needs, formulated Spark-first: candidate generation stays map-side and
partition-local, verification is an exact keyed aggregation over the
candidate set only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from .scale import pin, spilled


def heavy_hitters(items: DataFrame, col: str, k: int) -> DataFrame:
    """EXACT phi-heavy hitters: every value of ``col`` whose frequency
    exceeds N/(k+1), with its exact count — the Misra-Gries guarantee
    made exact by a two-phase plan:

    1. **Local candidates** (one shuffle on (partition, value), map-side
       combinable): per input partition, keep values that are locally
       heavy — local_count > partition_rows/(k+1). By pigeonhole any
       globally heavy value is locally heavy in at least one partition
       (if freq(x) > N/(k+1) summed over partitions, some partition has
       freq_p(x) > n_p/(k+1)), so the candidate set is a SUPERSET of
       the true heavy hitters for ANY physical partitioning — the
       output is partitioning-independent and deterministic.
    2. **Exact verify** (one semi-join + one keyed count over candidate
       rows only): recount candidates globally, keep those above the
       global threshold.

    At 100 TB the candidate relation is at most k values per partition
    (bounded, broadcastable for realistic k); the full data is scanned
    twice — the candidate pass and the verify pass; N comes from the
    candidate pass's own aggregate, not a third scan (r5 review) — and
    shuffled only by candidate membership, never a global groupBy over
    all distinct values. The per-partition count relation is spilled
    because it feeds both N and the candidate filter; the candidate set
    is pinned so the cache is released before the verify pass.
    Returns (value-column, n BIGINT), exact, so an ANSI GROUP BY/HAVING
    oracle hash-matches it."""
    per_part = (
        items.select(F.spark_partition_id().alias("__p"), F.col(col))
        .groupBy("__p", col)
        .agg(F.count(F.lit(1)).alias("c_local"))
    )
    part_rows = W.partitionBy("__p")
    with spilled(per_part):
        n_total = per_part.agg(F.sum("c_local")).collect()[0][0] or 0
        candidates = pin(
            per_part.withColumn("n_part", F.sum("c_local").over(part_rows))
            .filter(F.col("c_local") * (k + 1) > F.col("n_part"))
            .select(col)
            .distinct()
        )
    return (
        items.join(F.broadcast(candidates), col, "left_semi")
        .groupBy(col)
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") * (k + 1) > F.lit(n_total))
    )


# ---------------------------------------------------------------------------
# Mergeable summaries (Agarwal, Cormode, Huang, Phillips, Wei, Yi —
# "Mergeable Summaries", PODS 2012): partial sketches built per shard
# that combine ASSOCIATIVELY into a whole-corpus summary without
# re-reading raw data. This is the aggregation shape behind every
# petabyte rollup: sketch each day/machine/file once, merge upward.
# Both summaries below are DETERMINISTIC (no sampling randomness), so
# the sketch VALUES themselves — not just their error contracts — are
# reproducible in an ANSI-SQL oracle.
# ---------------------------------------------------------------------------


def rank_sample_summary(
    df: DataFrame,
    value_col: str,
    shard_col: str,
    m: int,
    tiebreak_col: str,
) -> DataFrame:
    """Per-shard RANK-SAMPLED quantile summary — the deterministic
    mergeable-quantiles construction (the classic distributed-selection
    sampling of Munro-Paterson 1980 / the q-quantile partial summaries
    of Greenwald-Khanna-style systems, per-shard exact form):

    Within each shard of n_p rows, rank rows by (value, tiebreak) —
    a TOTAL order, so the summary is unique — and keep every s_p-th
    row plus the shard maximum, where s_p = ceil(n_p / m). Each kept
    sample carries weight w = (its local rank) − (previous kept local
    rank), so the running sum of weights at a kept sample equals its
    EXACT local rank. For any value v the merged summary's estimated
    rank (sum of weights of samples ≤ v) therefore UNDER-estimates the
    true rank by at most Σ_p (s_p − 1) and never over-estimates.

    Merging is multiset UNION of sample sets — trivially associative
    and commutative (pytest proves grouping-order invariance) — and a
    shard's summary is at most m+1 rows regardless of n_p, so a
    1000-day × 1000-machine corpus rolls up through bounded relations.
    Returns DataFrame[shard_col, value_col, rk (local rank), w]. The
    per-shard window is keyed by shard; shard granularity is the
    caller's scale knob (per-file / per-day shards keep a shard's rows
    inside one task's reach at 100 TB)."""
    from pyspark.sql import Window as W2

    w_sh = W2.partitionBy(shard_col).orderBy(value_col, tiebreak_col)
    ranked = df.select(shard_col, value_col, tiebreak_col).withColumn(
        "rk", F.row_number().over(w_sh)
    )
    st = ranked.groupBy(shard_col).agg(F.max("rk").alias("n_p")).withColumn(
        "s_p", F.expr(f"CAST((n_p + {m} - 1) DIV {m} AS BIGINT)")
    )
    kept = ranked.join(F.broadcast(st), shard_col).filter(
        (F.col("rk") % F.col("s_p") == 0) | (F.col("rk") == F.col("n_p"))
    )
    w_kept = W2.partitionBy(shard_col).orderBy("rk")
    return kept.withColumn(
        "w", F.col("rk") - F.coalesce(F.lag("rk").over(w_kept), F.lit(0))
    ).select(shard_col, value_col, F.col("rk").cast("long").alias("rk"), "w")


def shard_stats(df: DataFrame, shard_col: str, m: int) -> DataFrame:
    """1-row companion to rank_sample_summary: total n, the exact
    integer rank-error budget bound = Σ_p (s_p − 1) + max_p s_p (the
    under-estimate budget plus the coarsest sample gap the answer pick
    can overshoot by), and max s_p on its own (hierarchical bound
    composition adds step2 + max s_p per level)."""
    per = df.groupBy(shard_col).agg(F.count(F.lit(1)).alias("n_p")).withColumn(
        "s_p", F.expr(f"CAST((n_p + {m} - 1) DIV {m} AS BIGINT)")
    )
    return per.agg(
        F.sum("n_p").cast("long").alias("n"),
        (F.sum(F.col("s_p") - 1) + F.max("s_p")).cast("long").alias("bound"),
        F.sum(F.col("s_p") - 1).cast("long").alias("under_budget"),
        F.max("s_p").cast("long").alias("max_gap"),
    )


def mg_summary(
    counts: DataFrame, value_col: str, count_col: str, shard_col: str, k: int
) -> tuple[DataFrame, DataFrame]:
    """Per-shard MISRA-GRIES frequent-items summary from exact local
    counts (Misra & Gries 1982; mergeability per Agarwal et al. PODS
    2012 §3). The order-independent closed form: with d_p = the
    (k+1)-th largest local count in shard p (0 when the shard has ≤ k
    distinct values), the summary keeps (value, c − d_p) for every
    c > d_p — at most k rows, each under-counting its true local
    frequency by AT MOST d_p ≤ n_p/(k+1) (there are k+1 counts ≥ d_p
    summing to ≤ n_p). Merging summaries = summing weights, then one
    more (k+1)-th-largest subtraction — see mg_merge. Returns
    (summary DataFrame[shard, value, w], per-shard d DataFrame[shard,
    d]). The (k+1)-th largest is a keyed window rank (per shard), not
    a global sort."""
    from pyspark.sql import Window as W2

    w_sh = W2.partitionBy(shard_col).orderBy(
        F.col(count_col).desc(), F.col(value_col)
    )
    ranked = counts.withColumn("__rnk", F.row_number().over(w_sh))
    d = (
        ranked.filter(F.col("__rnk") <= k + 1)
        .groupBy(shard_col)
        .agg(
            F.when(F.count(F.lit(1)) == k + 1, F.min(count_col))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("d")
        )
    )
    summary = (
        counts.join(F.broadcast(d), shard_col)
        .filter(F.col(count_col) > F.col("d"))
        .select(
            shard_col,
            value_col,
            (F.col(count_col) - F.col("d")).cast("long").alias("w"),
        )
    )
    return summary, d


def mg_merge(summary: DataFrame, value_col: str, k: int) -> tuple[DataFrame, DataFrame]:
    """Merge per-shard Misra-Gries summaries into one k-row-bounded
    summary: sum weights per value, subtract the (k+1)-th largest
    merged weight (0 when ≤ k values survive), keep positives. The
    total under-count for any value is Σ_p d_p + d2 ≤ N/(k+1) — the
    single-pass Misra-Gries guarantee SURVIVES the merge (Agarwal et
    al. 2012 Thm 1; the ≤ is checked as a driver-hashed flag in the
    registry query). The (k+1)-th largest merged weight comes from a
    top-(k+1) TakeOrderedAndProject, never a global sort. Returns
    (DataFrame[value, est] with est = merged weight − d2 > 0,
    1-row DataFrame[d2])."""
    merged = summary.groupBy(value_col).agg(F.sum("w").cast("long").alias("wm"))
    top = merged.orderBy(F.col("wm").desc(), F.col(value_col)).limit(k + 1)
    d2 = top.agg(
        F.when(F.count(F.lit(1)) == k + 1, F.min("wm"))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("d2")
    )
    fin = (
        merged.crossJoin(F.broadcast(d2))
        .filter(F.col("wm") > F.col("d2"))
        .select(value_col, (F.col("wm") - F.col("d2")).alias("est"))
    )
    return fin, d2
