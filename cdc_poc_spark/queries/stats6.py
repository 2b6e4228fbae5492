"""Round-10 wave 9 — unit-root and partial-autocorrelation diagnostics
(ADF t-stat, PACF lag 2), the mean-centered Levene scale test, rank
agreement between ANN tiers (truncated RBO), hash-uniformity health of
the engine's own portable sharding hash, the multiclass
confusion/precision-recall family, and per-source token-concentration
Gini.

Engine capability per the north star; the standing exactness
discipline throughout (exact DECIMAL(38)/HUGEINT moments, per-term
micro quantization before cross-group sums, shared truncating integer
division, floats only at the edge, round(6)).
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ..operators import similarity
from ..operators.scale import pin, spread
from ..tables import VAL, dec, load_table
from . import register
from .stats3 import _DAILY_SQL, _daily

# ---------------------------------------------------------------------------
# Augmented Dickey-Fuller t-statistic (drift, no lagged differences).
# ---------------------------------------------------------------------------

_ADF_ORACLE = _DAILY_SQL + """
, lagd AS (
  SELECT CAST(lag(cents) OVER (ORDER BY t) AS HUGEINT) AS x,
         CAST(cents - lag(cents) OVER (ORDER BY t) AS HUGEINT) AS d
  FROM r
), m AS (
  SELECT CAST(COUNT(x) AS HUGEINT) AS n,
         SUM(x) AS sx, SUM(d) AS sd,
         SUM(x * x) AS sxx, SUM(x * d) AS sxd, SUM(d * d) AS sdd
  FROM lagd WHERE x IS NOT NULL
), k AS (
  SELECT CAST(n AS BIGINT) AS n_obs,
         n * sxd - sx * sd AS c,
         n * sxx - sx * sx AS v,
         n * sdd - sd * sd AS u,
         n
  FROM m
)
SELECT n_obs,
       CAST(c * 1000000000 // v AS BIGINT) AS beta_nano,
       round(CAST(c AS DOUBLE)
             / sqrt(CAST(v AS DOUBLE)
                    * (CAST(u * v - c * c AS DOUBLE) / CAST(n * v AS DOUBLE))
                    * CAST(n AS DOUBLE) / (CAST(n AS DOUBLE) - 2.0)), 6)
         AS adf_t
FROM k
"""


@register("tw_adf_t_stat", oracle=_ADF_ORACLE, tags=("timeseries", "stats", "regression"))
def tw_adf_t_stat(spark, sf_dir):
    """DICKEY-FULLER t-statistic (drift case, no augmentation lags) on
    the daily revenue series: regress Δy_t on y_{t−1} with intercept;
    t(β̂) far below ~−2.9 rejects a unit root (the series mean-reverts
    rather than random-walks) — the stationarity gate that tells you
    whether tw_variance_ratio_test / tw_holt_double_smoothing
    assumptions even apply. The statistic is reported; the decision
    threshold is the caller's (DF critical values are tabulated, not
    computable in-engine).

    Exactness: the regression reuses the exact-moment identity family
    (C = nΣxd − ΣxΣd, V = nΣxx − (Σx)², U = nΣdd − (Σd)², RSS =
    (UV − C²)/(nV) — the Chow/DW algebra): all HUGEINT/DECIMAL(38);
    β̂ additionally emitted as an exact truncating nano integer; the
    t assembly is one float chain, round(6). Lag windows over the
    bounded day relation (whitelisted)."""
    r = _daily(spark, sf_dir)
    lagd = r.select(
        F.lag("cents").over(W.orderBy("t")).cast("decimal(38,0)").alias("x"),
        (F.col("cents") - F.lag("cents").over(W.orderBy("t")))
        .cast("decimal(38,0)")
        .alias("d"),
    ).filter(F.col("x").isNotNull())
    m = lagd.agg(
        F.count("x").cast("decimal(38,0)").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum("d").cast("decimal(38,0)").alias("sd"),
        F.sum(F.expr("x * x")).cast("decimal(38,0)").alias("sxx"),
        F.sum(F.expr("x * d")).cast("decimal(38,0)").alias("sxd"),
        F.sum(F.expr("d * d")).cast("decimal(38,0)").alias("sdd"),
    )
    k = m.select(
        F.col("n").cast("long").alias("n_obs"),
        F.expr("CAST(n * sxd - sx * sd AS DECIMAL(38,0))").alias("c"),
        F.expr("CAST(n * sxx - sx * sx AS DECIMAL(38,0))").alias("v"),
        F.expr("CAST(n * sdd - sd * sd AS DECIMAL(38,0))").alias("u"),
        "n",
    )
    return k.select(
        "n_obs",
        F.expr("CAST(c * 1000000000 DIV v AS BIGINT)").alias("beta_nano"),
        F.expr(
            "round(CAST(c AS DOUBLE)"
            " / sqrt(CAST(v AS DOUBLE)"
            " * (CAST(u * v - c * c AS DOUBLE) / CAST(n * v AS DOUBLE))"
            " * CAST(n AS DOUBLE) / (CAST(n AS DOUBLE) - 2.0)), 6)"
        ).alias("adf_t"),
    )


# ---------------------------------------------------------------------------
# PACF at lag 2 (Durbin-Levinson closed form).
# ---------------------------------------------------------------------------

_PACF_ORACLE = _DAILY_SQL + """
, nn AS (
  SELECT CAST(COUNT(*) AS HUGEINT) AS n, CAST(SUM(cents) AS HUGEINT) AS sy
  FROM r
), lagd AS (
  SELECT CAST(cents AS HUGEINT) AS y,
         CAST(lag(cents, 1) OVER (ORDER BY t) AS HUGEINT) AS y1,
         CAST(lag(cents, 2) OVER (ORDER BY t) AS HUGEINT) AS y2
  FROM r
), c AS (
  SELECT
    CAST(SUM((nn.n * y - nn.sy) * (nn.n * y - nn.sy)) AS HUGEINT) AS c0,
    CAST(SUM(CASE WHEN y1 IS NOT NULL
             THEN (nn.n * y - nn.sy) * (nn.n * y1 - nn.sy) END) AS HUGEINT) AS c1,
    CAST(SUM(CASE WHEN y2 IS NOT NULL
             THEN (nn.n * y - nn.sy) * (nn.n * y2 - nn.sy) END) AS HUGEINT) AS c2,
    CAST(MAX(nn.n) AS BIGINT) AS n_days
  FROM lagd CROSS JOIN nn
), rr AS (
  SELECT n_days,
         CAST(c1 AS DOUBLE) / CAST(c0 AS DOUBLE) AS r1,
         CAST(c2 AS DOUBLE) / CAST(c0 AS DOUBLE) AS r2
  FROM c
)
SELECT n_days, round(r1, 6) AS r1, round(r2, 6) AS r2,
       round((r2 - r1 * r1) / (1.0 - r1 * r1), 6) AS pacf_lag2
FROM rr
"""


@register("tw_pacf_lag2", oracle=_PACF_ORACLE, tags=("timeseries", "stats"))
def tw_pacf_lag2(spark, sf_dir):
    """PARTIAL autocorrelation at lag 2 via the Durbin-Levinson closed
    form φ₂₂ = (r₂ − r₁²)/(1 − r₁²) — the AR-order diagnostic that
    tw_autocorrelation_daily (plain ACF) cannot answer: a large r₂
    with φ₂₂ ≈ 0 means the lag-2 correlation is all inherited from
    lag 1 (AR(1) is enough); a real φ₂₂ demands AR(2).

    Exactness: the autocovariance numerators are mean-cleared exactly
    — n²·C_k = Σ(n·y_t − Sy)(n·y_{t−k} − Sy), exact HUGEINT/DECIMAL
    (the n² cancels in every ratio); r₁, r₂, φ₂₂ are the only float
    expressions, round(6). Lag windows over the bounded day relation
    (whitelisted)."""
    r = _daily(spark, sf_dir)
    nn = r.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("cents").cast("decimal(38,0)").alias("sy"),
    )
    lagd = r.select(
        F.col("cents").cast("decimal(38,0)").alias("y"),
        F.lag("cents", 1).over(W.orderBy("t")).cast("decimal(38,0)").alias("y1"),
        F.lag("cents", 2).over(W.orderBy("t")).cast("decimal(38,0)").alias("y2"),
    )
    c = lagd.crossJoin(F.broadcast(nn)).agg(
        F.sum(F.expr("(n * y - sy) * (n * y - sy)"))
        .cast("decimal(38,0)")
        .alias("c0"),
        F.sum(
            F.expr(
                "CASE WHEN y1 IS NOT NULL"
                " THEN (n * y - sy) * (n * y1 - sy) END"
            )
        )
        .cast("decimal(38,0)")
        .alias("c1"),
        F.sum(
            F.expr(
                "CASE WHEN y2 IS NOT NULL"
                " THEN (n * y - sy) * (n * y2 - sy) END"
            )
        )
        .cast("decimal(38,0)")
        .alias("c2"),
        F.max("n").cast("long").alias("n_days"),
    )
    rr = c.select(
        "n_days",
        F.expr("CAST(c1 AS DOUBLE) / CAST(c0 AS DOUBLE)").alias("r1"),
        F.expr("CAST(c2 AS DOUBLE) / CAST(c0 AS DOUBLE)").alias("r2"),
    )
    return rr.select(
        "n_days",
        F.expr("round(r1, 6)").alias("r1"),
        F.expr("round(r2, 6)").alias("r2"),
        F.expr("round((r2 - r1 * r1) / (1.0 - r1 * r1), 6)").alias("pacf_lag2"),
    )


# ---------------------------------------------------------------------------
# Mean-centered Levene test.
# ---------------------------------------------------------------------------

_LEVENE_ORACLE = """
WITH b AS (
  SELECT event_type AS g,
         CAST(round(CAST(value AS DECIMAL(12,2)) * 100) AS BIGINT) AS x
  FROM events
), gm AS (
  SELECT g, CAST(COUNT(*) AS HUGEINT) AS n_g, CAST(SUM(x) AS HUGEINT) AS s1_g
  FROM b GROUP BY g
), z AS (
  SELECT b.g, CAST(abs(gm.n_g * b.x - gm.s1_g) // gm.n_g AS BIGINT) AS zq
  FROM b JOIN gm ON b.g = gm.g
), zg AS (
  SELECT g, CAST(COUNT(*) AS BIGINT) AS nz,
         CAST(SUM(zq) AS HUGEINT) AS sz1,
         CAST(SUM(CAST(zq AS HUGEINT) * zq) AS HUGEINT) AS sz2,
         CAST(SUM(CAST(zq AS HUGEINT) * zq)
              - (CAST(SUM(zq) AS HUGEINT) * SUM(zq)) // COUNT(*) AS HUGEINT)
           AS within_g,
         CAST((CAST(SUM(zq) AS HUGEINT) * SUM(zq)) // COUNT(*) AS BIGINT)
           AS tg
  FROM z GROUP BY g
), agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(nz) AS BIGINT) AS n,
         CAST(SUM(tg) AS BIGINT) AS sum_tg,
         CAST(SUM(sz1) AS BIGINT) AS sum_sz1,
         CAST(SUM(sz2) AS HUGEINT) AS sum_sz2
  FROM zg
)
SELECT k AS k_groups, n AS n_total,
       CAST(sum_tg - CAST(sum_sz1 AS HUGEINT) * sum_sz1 // n AS BIGINT)
         AS ssb_cents2,
       CAST(CAST(sum_sz2 AS HUGEINT) - sum_tg AS BIGINT) AS ssw_cents2,
       round(((n - k) * CAST(sum_tg - CAST(sum_sz1 AS HUGEINT) * sum_sz1 // n
                             AS DOUBLE))
             / ((k - 1.0) * CAST(CAST(sum_sz2 AS HUGEINT) - sum_tg AS DOUBLE)),
             6) AS levene_w
FROM agg
"""


@register("agg_levene_mean", oracle=_LEVENE_ORACLE, tags=("agg", "stats"))
def agg_levene_mean(spark, sf_dir):
    """LEVENE's test (1960, mean-centered original) for variance
    homogeneity across event types — completing the scale-test
    QUARTET: Levene (mean deviations, this query), Brown-Forsythe
    (median deviations), Bartlett (normal-theory ln variances),
    Ansari-Bradley (ranks). W = [(N−k)/（k−1)] · SSB(z)/SSW(z) — a
    one-way ANOVA on absolute deviations z = |x − mean_g|.

    Exactness: z is pinned as the EXACT truncating integer cents
    deviation |n_g·x − s1_g| DIV n_g (error < 1 cent/row, identical
    in both engines); all z moments are exact HUGEINT/DECIMAL sums;
    the per-group sz1² DIV nz terms fit BIGINT with documented
    headroom (sz1² ≤ ~3.6e23 at the 10x probe, DIV n_g → ≤ ~3e17);
    SSB/SSW are exact integers and W is ONE float, round(6).

    Scale: two passes (group moments broadcast back onto the scan,
    then one z-moment aggregate); no window anywhere."""
    b = load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("g"),
        F.round(dec("value", VAL) * 100).cast("long").alias("x"),
    )
    gm = b.groupBy("g").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n_g"),
        F.sum("x").cast("decimal(38,0)").alias("s1_g"),
    )
    z = b.join(F.broadcast(gm), "g").select(
        "g",
        F.expr("CAST(abs(n_g * x - s1_g) DIV n_g AS BIGINT)").alias("zq"),
    )
    zg = z.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("nz"),
        F.sum("zq").cast("decimal(38,0)").alias("sz1"),
        F.sum(F.expr("CAST(zq AS DECIMAL(38,0)) * zq"))
        .cast("decimal(38,0)")
        .alias("sz2"),
    )
    zg2 = zg.select(
        "nz",
        "sz1",
        "sz2",
        F.expr("CAST(sz1 * sz1 DIV nz AS BIGINT)").alias("tg"),
    )
    agg = zg2.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("nz").cast("long").alias("n"),
        F.sum("tg").cast("long").alias("sum_tg"),
        F.sum("sz1").cast("long").alias("sum_sz1"),
        F.sum("sz2").cast("decimal(38,0)").alias("sum_sz2"),
    )
    return agg.select(
        F.col("k").alias("k_groups"),
        F.col("n").alias("n_total"),
        F.expr(
            "CAST(sum_tg - CAST(sum_sz1 AS DECIMAL(38,0)) * sum_sz1 DIV n"
            " AS BIGINT)"
        ).alias("ssb_cents2"),
        F.expr("CAST(sum_sz2 - sum_tg AS BIGINT)").alias("ssw_cents2"),
        F.expr(
            "round(((n - k) * CAST(sum_tg - CAST(sum_sz1 AS DECIMAL(38,0))"
            " * sum_sz1 DIV n AS DOUBLE))"
            " / ((k - 1.0) * CAST(sum_sz2 - sum_tg AS DOUBLE)), 6)"
        ).alias("levene_w"),
    )


# ---------------------------------------------------------------------------
# Truncated rank-biased overlap between the binary and exact rankings.
# ---------------------------------------------------------------------------

_RBO_ORACLE = """
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
  FROM embeddings
), n AS (
  SELECT vec_id, vec,
         sqrt(list_sum(list_transform(vec, x -> x * x))) AS vnorm
  FROM e
), cos_rank AS (
  SELECT query_id, neighbor_id, rank FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY q.vec_id ORDER BY
             round(list_sum(list_transform(range(1, len(q.vec) + 1),
                   i -> q.vec[i] * c.vec[i])) / (q.vnorm * c.vnorm), 5) DESC,
             c.vec_id) AS rank
    FROM n q, n c WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id
  ) WHERE rank <= 10
), packed AS (
  SELECT vec_id,
         CAST(list_sum(list_transform(range(1, 33),
              i -> CASE WHEN embedding[i] > 0
                        THEN (CAST(1 AS BIGINT) << (i - 1))
                        ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS w0,
         CAST(list_sum(list_transform(range(33, 65),
              i -> CASE WHEN embedding[i] > 0
                        THEN (CAST(1 AS BIGINT) << (i - 33))
                        ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS w1
  FROM embeddings
), ham_rank AS (
  SELECT query_id, neighbor_id, rank FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY q.vec_id ORDER BY
             bit_count(xor(q.w0, c.w0)) + bit_count(xor(q.w1, c.w1)),
             c.vec_id) AS rank
    FROM packed q, packed c WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id
  ) WHERE rank <= 10
), common AS (
  SELECT c.query_id, c.rank AS rs, h.rank AS rt
  FROM cos_rank c JOIN ham_rank h
    ON c.query_id = h.query_id AND c.neighbor_id = h.neighbor_id
), depth AS (
  SELECT q.query_id, d.d,
         CAST(COALESCE(SUM(CASE WHEN greatest(cm.rs, cm.rt) <= d.d
                                THEN 1 ELSE 0 END), 0) AS BIGINT) AS x_d
  FROM (SELECT DISTINCT query_id FROM cos_rank) q
  CROSS JOIN (SELECT CAST(range AS BIGINT) AS d FROM range(1, 11)) d
  LEFT JOIN common cm ON cm.query_id = q.query_id
  GROUP BY q.query_id, d.d
)
SELECT query_id,
       CAST(MAX(CASE WHEN d = 10 THEN x_d END) AS BIGINT) AS n_common,
       CAST(SUM(CAST(round(1000000 * 0.1 * pow(0.9, d - 1) * x_d / d)
                     AS BIGINT)) AS BIGINT) AS rbo_micro
FROM depth GROUP BY query_id ORDER BY query_id
"""


@register("ml_rank_biased_overlap", oracle=_RBO_ORACLE, tags=("llm", "ml", "eval", "similarity"))
def ml_rank_biased_overlap(spark, sf_dir):
    """TRUNCATED rank-biased overlap (Webber et al. TOIS 2010, p = 0.9,
    depth 10) between the exact-cosine and the binary-Hamming
    rankings — the ORDER-AWARE agreement metric the recall contract
    (sim_hamming_recall_topk) cannot express: recall counts set
    overlap at depth k; RBO weights agreement at every prefix depth,
    so a tier that finds the right neighbors in the WRONG order
    scores lower. RBO_min = (1−p)·Σ_{d=1..10} p^{d−1}·A_d with A_d =
    |S_d ∩ T_d| / d (the truncated lower bound — pinned convention).

    Exactness: prefix intersection sizes x_d are exact integers
    (both rankings deterministic); each depth term is micro-quantized
    to an exact BIGINT before the 10-term sum (order-free).

    Scale: the two rankings are the broadcast-queries x one-scan
    plans; the depth sweep is a 10-row broadcast against the ≤k·|Q|
    intersection relation."""
    emb = load_table(spark, sf_dir, "embeddings")
    cosr = similarity.cosine_topk(emb, n_queries=10, k=10).select(
        "query_id", "neighbor_id", F.col("rank").alias("rs")
    )
    hamr = similarity.hamming_topk(emb, n_queries=10, k=10).select(
        F.col("query_id").alias("hq"),
        F.col("neighbor_id").alias("hn"),
        F.col("rank").alias("rt"),
    )
    common = cosr.join(
        hamr,
        (cosr.query_id == F.col("hq")) & (cosr.neighbor_id == F.col("hn")),
    ).select("query_id", "rs", "rt")
    queries = cosr.select("query_id").distinct()
    depths = spark.range(1, 11).select(F.col("id").alias("d"))
    depth = (
        queries.join(F.broadcast(depths))
        .join(common, "query_id", "left")
        .groupBy("query_id", "d")
        .agg(
            F.coalesce(
                F.sum(
                    F.when(
                        F.greatest("rs", "rt") <= F.col("d"), 1
                    ).otherwise(0)
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("x_d")
        )
    )
    return (
        depth.groupBy("query_id")
        .agg(
            F.max(F.when(F.col("d") == 10, F.col("x_d")))
            .cast("long")
            .alias("n_common"),
            F.sum(
                F.expr(
                    "CAST(round(1000000 * 0.1 * pow(0.9, d - 1) * x_d / d)"
                    " AS BIGINT)"
                )
            )
            .cast("long")
            .alias("rbo_micro"),
        )
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# Hash-uniformity health check for the portable sharding hash.
# ---------------------------------------------------------------------------

_HASH_UNIF_ORACLE = """
WITH h AS (
  SELECT CAST(('0x' || substring(md5(CAST(event_id AS VARCHAR)), 1, 8))
              AS BIGINT) % 1024 AS b
  FROM events
), cnt AS (
  SELECT r.b, CAST(COALESCE(c.n, 0) AS BIGINT) AS n_b
  FROM (SELECT CAST(range AS BIGINT) AS b FROM range(0, 1024)) r
  LEFT JOIN (SELECT b, COUNT(*) AS n FROM h GROUP BY b) c ON c.b = r.b
), tot AS (
  SELECT CAST(SUM(n_b) AS BIGINT) AS n FROM cnt
), cum AS (
  SELECT cnt.b, cnt.n_b, tot.n,
         SUM(cnt.n_b) OVER (ORDER BY cnt.b) AS cw
  FROM cnt CROSS JOIN tot
)
SELECT CAST(MAX(n) AS BIGINT) AS n_total,
       CAST(1024 AS BIGINT) AS n_buckets,
       CAST(MAX(abs(cw * 1024 - (b + 1) * n)) AS BIGINT) AS ks_dev_scaled,
       round(CAST(MAX(abs(cw * 1024 - (b + 1) * n)) AS DOUBLE)
             / (CAST(MAX(n) AS DOUBLE) * 1024), 6) AS ks_d,
       CAST(SUM((1024 * n_b - n) * (1024 * n_b - n)) * 1000000
            // (CAST(1024 AS BIGINT) * 1024 * MAX(n)) AS BIGINT)
         AS chi2_micro,
       CAST(1023 AS BIGINT) AS df
FROM cum
"""


@register("pipeline_hash_uniformity_check", oracle=_HASH_UNIF_ORACLE, tags=("llm", "pipeline", "stats"))
def pipeline_hash_uniformity_check(spark, sf_dir):
    """Uniformity health of the PORTABLE sharding hash (the md5-prefix
    BIGINT every portable dedup/split/decontam path uses): bucket
    event ids into 1024 cells and test against uniform with BOTH a
    KS statistic over the bucket CDF and a χ² over cell counts — the
    infra self-check that the engine's own partitioning primitive
    has no hot cells (a biased hash silently breaks every quota,
    split, and shard-size plan built on it).

    Exactness: the KS deviation is the exact integer max|cum·B −
    (b+1)·N|; χ² = Σ(B·n_b − N)²·1e6 DIV (B²·N) exact micro. The
    cumsum window runs over the FIXED 1024-row bucket relation
    (whitelisted — bucket domain, never data rows).

    Scale: one map-side bucket count + a 1024-row frame; at 100 TB
    this is the same plan."""
    ev = load_table(spark, sf_dir, "events").select(
        (
            F.conv(
                F.substring(F.md5(F.col("event_id").cast("string")), 1, 8),
                16,
                10,
            ).cast("long")
            % 1024
        ).alias("b")
    )
    counts = ev.groupBy("b").agg(F.count(F.lit(1)).cast("long").alias("n"))
    buckets = spark.range(0, 1024).select(F.col("id").alias("b"))
    cnt = (
        F.broadcast(buckets)
        .join(counts, "b", "left")
        .select("b", F.coalesce("n", F.lit(0)).cast("long").alias("n_b"))
    )
    tot = cnt.agg(F.sum("n_b").cast("long").alias("n"))
    cum = cnt.crossJoin(F.broadcast(tot)).select(
        "b",
        "n_b",
        "n",
        F.sum("n_b")
        .over(W.orderBy("b").rowsBetween(W.unboundedPreceding, 0))
        .alias("cw"),
    )
    return cum.agg(
        F.max("n").cast("long").alias("n_total"),
        F.lit(1024).cast("long").alias("n_buckets"),
        F.max(F.expr("abs(cw * 1024 - (b + 1) * n)")).cast("long").alias(
            "ks_dev_scaled"
        ),
        F.expr(
            "round(CAST(MAX(abs(cw * 1024 - (b + 1) * n)) AS DOUBLE)"
            " / (CAST(MAX(n) AS DOUBLE) * 1024), 6)"
        ).alias("ks_d"),
        F.expr(
            "CAST(SUM((1024 * n_b - n) * (1024 * n_b - n)) * 1000000"
            " DIV (CAST(1024 AS BIGINT) * 1024 * MAX(n)) AS BIGINT)"
        ).alias("chi2_micro"),
        F.lit(1023).cast("long").alias("df"),
    )


# ---------------------------------------------------------------------------
# Multiclass confusion + per-class precision/recall/F1.
# ---------------------------------------------------------------------------

_PRF_ORACLE = """
WITH em AS (
  SELECT e.vec_id, e.label, p.pos,
         CAST(round(CAST(e.embedding[p.pos] AS DOUBLE) * 1000) AS BIGINT)
           AS val
  FROM embeddings e
  CROSS JOIN (SELECT CAST(range AS INT) AS pos FROM range(1, 65)) p
), nl AS (
  SELECT label, CAST(COUNT(*) AS BIGINT) AS n_c FROM embeddings GROUP BY label
), cent AS (
  SELECT label AS clabel, pos, CAST(SUM(val) AS BIGINT) AS s
  FROM em GROUP BY label, pos
), dist AS (
  SELECT em.vec_id, em.label, cent.clabel,
         CAST(SUM(CAST(nl.n_c * em.val - cent.s AS HUGEINT)
                  * (nl.n_c * em.val - cent.s)) AS DOUBLE)
           / (CAST(nl.n_c AS DOUBLE) * nl.n_c) AS d2
  FROM em
  JOIN cent ON cent.pos = em.pos
  JOIN nl ON nl.label = cent.clabel
  GROUP BY em.vec_id, em.label, cent.clabel, nl.n_c
), pred AS (
  SELECT vec_id, label AS true_label, clabel AS pred_label FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, clabel)
           AS rk
    FROM dist
  ) WHERE rk = 1
), conf AS (
  SELECT true_label, pred_label, CAST(COUNT(*) AS BIGINT) AS n
  FROM pred GROUP BY true_label, pred_label
), per_class AS (
  SELECT l.label,
         CAST(COALESCE((SELECT SUM(n) FROM conf
                        WHERE true_label = l.label), 0) AS BIGINT) AS n_true,
         CAST(COALESCE((SELECT n FROM conf WHERE true_label = l.label
                        AND pred_label = l.label), 0) AS BIGINT) AS tp,
         CAST(COALESCE((SELECT SUM(n) FROM conf
                        WHERE pred_label = l.label), 0) AS BIGINT) AS n_pred
  FROM (SELECT DISTINCT label FROM embeddings) l
)
SELECT label, n_true, tp,
       CAST(n_pred - tp AS BIGINT) AS fp,
       CAST(n_true - tp AS BIGINT) AS fn,
       CAST(CASE WHEN n_pred > 0 THEN tp * 1000000 // n_pred ELSE 0 END
            AS BIGINT) AS precision_micro,
       CAST(CASE WHEN n_true > 0 THEN tp * 1000000 // n_true ELSE 0 END
            AS BIGINT) AS recall_micro,
       CAST(CASE WHEN n_pred + n_true > 0
                 THEN 2 * tp * 1000000 // (n_pred + n_true) ELSE 0 END
            AS BIGINT) AS f1_micro
FROM per_class ORDER BY label
"""


@register("ml_multiclass_confusion_prf", oracle=_PRF_ORACLE, tags=("llm", "ml", "eval"))
def ml_multiclass_confusion_prf(spark, sf_dir):
    """Per-class PRECISION/RECALL/F1 for the milli-quantized
    nearest-centroid classifier over the embedding labels — the
    MULTICLASS eval rollup the stack lacked (ml_classifier_metrics
    is the binary operating point; ml_nearest_centroid_classifier
    emits the raw confusion matrix under its own exact-integer
    convention; this derives the per-class rates under the
    silhouette wave's pinned milli-quantization so the two queries
    share one embedding-space convention).

    Prediction: argmin of the exact-rational squared distance
    (n_c·x − s)²/n_c² (same centroid algebra as
    sim_silhouette_by_label; deterministic tie-break by label);
    tp/fp/fn exact; P/R/F1 exact truncating micros. F1 here uses
    2tp DIV (n_pred + n_true) — the harmonic identity on counts.

    Scale: centroid build is a 64·|labels| rollup; scoring is one
    scan x |labels| broadcast; the argmin window partitions by
    vector id."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.expr(
            "transform(embedding, v -> CAST(round(CAST(v AS DOUBLE) * 1000)"
            " AS BIGINT))"
        ).alias("xm"),
    )
    nl = emb.groupBy("label").agg(F.count(F.lit(1)).cast("long").alias("n_c"))
    cent = (
        emb.select("label", F.posexplode("xm").alias("pos", "val"))
        .groupBy("label", "pos")
        .agg(F.sum("val").cast("long").alias("s"))
        .groupBy("label")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(pos, s))), x -> x.s)"
            ).alias("sarr")
        )
        .join(nl, "label")
        .select(F.col("label").alias("clabel"), "sarr", "n_c")
    )
    dist = emb.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        "label",
        "clabel",
        (
            F.expr(
                "CAST(aggregate(zip_with(xm, sarr,"
                " (x, s) -> (n_c * x - s) * (n_c * x - s)),"
                " 0L, (acc, v) -> acc + v) AS DOUBLE)"
            )
            / (F.col("n_c").cast("double") * F.col("n_c"))
        ).alias("d2"),
    )
    wv = W.partitionBy("vec_id").orderBy("d2", "clabel")
    pred = (
        dist.withColumn("rk", F.row_number().over(wv))
        .filter(F.col("rk") == 1)
        .select(
            F.col("label").alias("true_label"),
            F.col("clabel").alias("pred_label"),
        )
    )
    # eager pin (optimization r13, guide §3.3): conf feeds row totals,
    # column totals AND the diagonal — unpinned, each re-ran the score
    # + argmin-window chain (52-Exchange plan for a |labels|² relation)
    conf = pin(
        pred.groupBy("true_label", "pred_label")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    labels = emb.select("label").distinct()
    row_tot = conf.groupBy("true_label").agg(F.sum("n").alias("n_true"))
    col_tot = conf.groupBy("pred_label").agg(F.sum("n").alias("n_pred"))
    diag = conf.filter(F.col("true_label") == F.col("pred_label")).select(
        F.col("true_label").alias("label"), F.col("n").alias("tp")
    )
    per_class = (
        labels.join(row_tot, labels.label == row_tot.true_label, "left")
        .join(col_tot, labels.label == col_tot.pred_label, "left")
        .join(diag, "label", "left")
        .select(
            "label",
            F.coalesce("n_true", F.lit(0)).cast("long").alias("n_true"),
            F.coalesce("tp", F.lit(0)).cast("long").alias("tp"),
            F.coalesce("n_pred", F.lit(0)).cast("long").alias("n_pred"),
        )
    )
    return per_class.select(
        "label",
        "n_true",
        "tp",
        F.expr("CAST(n_pred - tp AS BIGINT)").alias("fp"),
        F.expr("CAST(n_true - tp AS BIGINT)").alias("fn"),
        F.expr(
            "CAST(CASE WHEN n_pred > 0 THEN tp * 1000000 DIV n_pred"
            " ELSE 0 END AS BIGINT)"
        ).alias("precision_micro"),
        F.expr(
            "CAST(CASE WHEN n_true > 0 THEN tp * 1000000 DIV n_true"
            " ELSE 0 END AS BIGINT)"
        ).alias("recall_micro"),
        F.expr(
            "CAST(CASE WHEN n_pred + n_true > 0"
            " THEN 2 * tp * 1000000 DIV (n_pred + n_true) ELSE 0 END"
            " AS BIGINT)"
        ).alias("f1_micro"),
    ).orderBy("label")


# ---------------------------------------------------------------------------
# Per-source token-concentration Gini.
# ---------------------------------------------------------------------------

_TOKEN_GINI_ORACLE = """
WITH d AS (
  SELECT source, doc_id,
         CAST(len(list_filter(string_split(text, ' '), t -> t <> ''))
              AS BIGINT) AS n_tok
  FROM documents
), rk AS (
  SELECT source, n_tok,
         row_number() OVER (PARTITION BY source
                            ORDER BY n_tok, doc_id) AS r,
         COUNT(*) OVER (PARTITION BY source) AS n,
         SUM(n_tok) OVER (PARTITION BY source) AS tot
  FROM d
)
SELECT source, CAST(MAX(n) AS BIGINT) AS n_docs,
       CAST(MAX(tot) AS BIGINT) AS total_tokens,
       CAST(SUM((2 * r - n - 1) * n_tok) AS BIGINT) AS gini_num,
       CAST(SUM((2 * r - n - 1) * n_tok) * 1000000 // (MAX(n) * MAX(tot))
            AS BIGINT) AS gini_ppm
FROM rk GROUP BY source ORDER BY source
"""


@register("pipeline_token_gini_by_source", oracle=_TOKEN_GINI_ORACLE, tags=("llm", "pipeline", "stats"))
def pipeline_token_gini_by_source(spark, sf_dir):
    """Per-source GINI of document token counts — is a source's token
    budget spread evenly across its documents or concentrated in a
    few giants? The data-balance dial a mixture planner reads next
    to pipeline_dataset_card_stats (means hide concentration;
    sampling a high-Gini source over-trains on its head documents).
    G = Σ(2·rank − n − 1)·x_(rank) / (n·Σx) with within-source ranks.

    Exactness: the Gini numerator is an exact BIGINT (tie order
    cannot move it — permuting equal x among adjacent ranks leaves
    the sum unchanged); gini_ppm is an exact truncating ppm. Ranks
    partition BY SOURCE — never a single-partition window.

    Scale: one token-count scan + a per-source rank window; output
    is |sources| rows."""
    d = spread(load_table(spark, sf_dir, "documents")).select(
        "source",
        "doc_id",
        F.expr(
            "CAST(size(filter(split(text, ' '), t -> t <> '')) AS BIGINT)"
        ).alias("n_tok"),
    )
    ws = W.partitionBy("source")
    rk = d.select(
        "source",
        "n_tok",
        F.row_number().over(ws.orderBy("n_tok", "doc_id")).alias("r"),
        F.count(F.lit(1)).over(ws).alias("n"),
        F.sum("n_tok").over(ws).alias("tot"),
    )
    return (
        rk.groupBy("source")
        .agg(
            F.max("n").cast("long").alias("n_docs"),
            F.max("tot").cast("long").alias("total_tokens"),
            F.sum(F.expr("(2 * r - n - 1) * n_tok")).cast("long").alias(
                "gini_num"
            ),
            F.expr(
                "CAST(SUM((2 * r - n - 1) * n_tok) * 1000000"
                " DIV (MAX(n) * MAX(tot)) AS BIGINT)"
            ).alias("gini_ppm"),
        )
        .orderBy("source")
    )
