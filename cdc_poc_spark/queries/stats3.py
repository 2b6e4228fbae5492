"""Round-10 wave 6 — regression/market diagnostics on the daily series
(variance-ratio random-walk test, Chow structural break, sample
entropy), ordered-alternative and variance-homogeneity tests
(Jonckheere-Terpstra over the priority-ordered groups via the two-pass
global cumsum, Bartlett), calibration ERROR rollups (ECE/MCE as exact
integers over the ml_calibration_bins binning), and two graph-census
operators (diamond/4-cycle corner pairs, bounded-round min-label WCC).

The reference has none of this surface (SURVEY §2 preamble); engine
capability per the north star. Exactness discipline: integer cents,
DECIMAL(38)/HUGEINT moments, micro-quantized ln terms summed as exact
BIGINTs (summation-order-free — the layout-audit class), one float
expression at the edge, round(6).
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ..operators.scale import pin
from ..tables import VAL, MONEY, dec, load_table
from . import register

#: shared daily-revenue prelude (the MK/DW series): exact integer cents
#: per day, day index t = 1..n in date order.
_DAILY_SQL = """
WITH d AS (
  SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
         CAST(SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT))
              AS BIGINT) AS cents
  FROM events GROUP BY date_trunc('day', ts)
), r AS (
  SELECT cents, CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t FROM d
)
"""


def _daily(spark, sf_dir):
    from ..tables import events_with_time

    ev = events_with_time(spark, sf_dir)
    d = (
        ev.select(
            F.date_format(F.date_trunc("day", "etime"), "yyyy-MM-dd").alias("day"),
            F.round(dec("value", VAL) * 100).cast("long").alias("c0"),
        )
        .groupBy("day")
        .agg(F.sum("c0").cast("long").alias("cents"))
    )
    return d.select(
        "cents", F.row_number().over(W.orderBy("day")).cast("long").alias("t")
    )


# ---------------------------------------------------------------------------
# Lo-MacKinlay variance-ratio test (q = 5).
# ---------------------------------------------------------------------------

_VR_ORACLE = _DAILY_SQL + """
, lagged AS (
  SELECT t, cents,
         cents - lag(cents, 1) OVER (ORDER BY t) AS d1,
         cents - lag(cents, 5) OVER (ORDER BY t) AS d5
  FROM r
), m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
         CAST(COUNT(d1) AS HUGEINT) AS n1,
         CAST(SUM(d1) AS HUGEINT) AS s1,
         CAST(SUM(CAST(d1 AS HUGEINT) * d1) AS HUGEINT) AS s11,
         CAST(COUNT(d5) AS HUGEINT) AS n5,
         CAST(SUM(d5) AS HUGEINT) AS s5,
         CAST(SUM(CAST(d5 AS HUGEINT) * d5) AS HUGEINT) AS s55
  FROM lagged
)
SELECT n_days,
       CAST(5 AS BIGINT) AS q,
       round((CAST(n5 * s55 - s5 * s5 AS DOUBLE) / CAST(n5 * (n5 - 1) AS DOUBLE))
             / (5.0 * CAST(n1 * s11 - s1 * s1 AS DOUBLE)
                / CAST(n1 * (n1 - 1) AS DOUBLE)), 6) AS vr,
       round(((CAST(n5 * s55 - s5 * s5 AS DOUBLE) / CAST(n5 * (n5 - 1) AS DOUBLE))
              / (5.0 * CAST(n1 * s11 - s1 * s1 AS DOUBLE)
                 / CAST(n1 * (n1 - 1) AS DOUBLE)) - 1.0)
             / sqrt(2.0 * (2 * 5 - 1) * (5 - 1) / (3.0 * 5 * n_days)), 6) AS z_score
FROM m
"""


@register("tw_variance_ratio_test", oracle=_VR_ORACLE, tags=("timeseries", "stats"))
def tw_variance_ratio_test(spark, sf_dir):
    """LO-MACKINLAY variance-ratio test (1988) at horizon q = 5 on the
    daily revenue series: under a random walk, Var(y_t − y_{t−q}) =
    q·Var(y_t − y_{t−1}); VR(5) far from 1 means mean-reversion (<1)
    or momentum (>1). Complements tw_hurst_rescaled_range (fractal
    lens) and tw_dominant_period_acf (periodic lens) with the
    finance-standard aggregation test.

    Exactness: both variance NUMERATORS n·Σd² − (Σd)² are exact
    DECIMAL(38)/HUGEINT integers from lag-differenced cents; VR and
    the Lo-MacKinlay z (asymptotic φ = 2(2q−1)(q−1)/(3qn)) are the
    only float expressions, round(6). Lag windows run over the
    ≤|days| bounded relation (whitelisted)."""
    r = _daily(spark, sf_dir)
    lagged = r.select(
        "t",
        "cents",
        (F.col("cents") - F.lag("cents", 1).over(W.orderBy("t"))).alias("d1"),
        (F.col("cents") - F.lag("cents", 5).over(W.orderBy("t"))).alias("d5"),
    )
    m = lagged.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.count("d1").cast("decimal(38,0)").alias("n1"),
        F.sum("d1").cast("decimal(38,0)").alias("s1"),
        F.sum(F.expr("CAST(d1 AS DECIMAL(38,0)) * d1"))
        .cast("decimal(38,0)")
        .alias("s11"),
        F.count("d5").cast("decimal(38,0)").alias("n5"),
        F.sum("d5").cast("decimal(38,0)").alias("s5"),
        F.sum(F.expr("CAST(d5 AS DECIMAL(38,0)) * d5"))
        .cast("decimal(38,0)")
        .alias("s55"),
    )
    vr_expr = (
        "(CAST(n5 * s55 - s5 * s5 AS DOUBLE) / CAST(n5 * (n5 - 1) AS DOUBLE))"
        " / (5.0 * CAST(n1 * s11 - s1 * s1 AS DOUBLE)"
        " / CAST(n1 * (n1 - 1) AS DOUBLE))"
    )
    return m.select(
        "n_days",
        F.lit(5).cast("long").alias("q"),
        F.expr(f"round({vr_expr}, 6)").alias("vr"),
        F.expr(
            f"round(({vr_expr} - 1.0)"
            " / sqrt(2.0 * (2 * 5 - 1) * (5 - 1) / (3.0 * 5 * n_days)), 6)"
        ).alias("z_score"),
    )


# ---------------------------------------------------------------------------
# Chow structural-break F test at the midpoint.
# ---------------------------------------------------------------------------

def _seg_moments_sql(pred: str, tag: str) -> str:
    """Exact HUGEINT segment moments + the RSS rational's numerator
    Nr = U·V − C² with U = nΣy²−(Σy)², V = nΣt²−(Σt)², C = nΣty−ΣtΣy."""
    return f"""
  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
         CAST(SUM(t) AS HUGEINT) AS sx,
         CAST(SUM(CAST(cents AS HUGEINT)) AS HUGEINT) AS sy,
         CAST(SUM(t * t) AS HUGEINT) AS sxx,
         CAST(SUM(t * CAST(cents AS HUGEINT)) AS HUGEINT) AS sxy,
         CAST(SUM(CAST(cents AS HUGEINT) * cents) AS HUGEINT) AS syy
  FROM rh WHERE {pred}
"""


_CHOW_ORACLE = _DAILY_SQL + """
, nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM r),
rh AS (SELECT r.*, nn.n, nn.n // 2 AS h FROM r CROSS JOIN nn),
mp AS (""" + _seg_moments_sql("TRUE", "p") + """),
m1 AS (""" + _seg_moments_sql("t <= h", "1") + """),
m2 AS (""" + _seg_moments_sql("t > h", "2") + """),
rss AS (
  SELECT
    CAST(((mp.n * mp.syy - mp.sy * mp.sy) * (mp.n * mp.sxx - mp.sx * mp.sx)
          - (mp.n * mp.sxy - mp.sx * mp.sy) * (mp.n * mp.sxy - mp.sx * mp.sy))
         AS DOUBLE)
      / CAST(mp.n * (mp.n * mp.sxx - mp.sx * mp.sx) AS DOUBLE) AS rss_p,
    CAST(((m1.n * m1.syy - m1.sy * m1.sy) * (m1.n * m1.sxx - m1.sx * m1.sx)
          - (m1.n * m1.sxy - m1.sx * m1.sy) * (m1.n * m1.sxy - m1.sx * m1.sy))
         AS DOUBLE)
      / CAST(m1.n * (m1.n * m1.sxx - m1.sx * m1.sx) AS DOUBLE) AS rss_1,
    CAST(((m2.n * m2.syy - m2.sy * m2.sy) * (m2.n * m2.sxx - m2.sx * m2.sx)
          - (m2.n * m2.sxy - m2.sx * m2.sy) * (m2.n * m2.sxy - m2.sx * m2.sy))
         AS DOUBLE)
      / CAST(m2.n * (m2.n * m2.sxx - m2.sx * m2.sx) AS DOUBLE) AS rss_2,
    CAST(mp.n AS BIGINT) AS n_days
  FROM mp, m1, m2
)
SELECT n_days, CAST(n_days // 2 AS BIGINT) AS break_t,
       round(((rss_p - rss_1 - rss_2) / 2.0)
             / ((rss_1 + rss_2) / (n_days - 4.0)), 6) AS f_stat
FROM rss
"""


@register("tw_chow_break_test", oracle=_CHOW_ORACLE, tags=("timeseries", "stats", "regression"))
def tw_chow_break_test(spark, sf_dir):
    """CHOW structural-break test (Chow 1960) at the series midpoint:
    does one revenue-vs-time line fit the whole year, or do the two
    halves demand different intercept/slope? F = ((RSS_p − RSS_1 −
    RSS_2)/k) / ((RSS_1 + RSS_2)/(n − 2k)), k = 2. The breakpoint
    diagnostic beside tw_cusum_changepoint/tw_page_hinkley (those
    MONITOR for a break; this TESTS a hypothesized one).

    Exactness: each segment's RSS is the exact rational (U·V − C²) /
    (n·V) with U = nΣy²−(Σy)², V = nΣt²−(Σt)², C = nΣty−ΣtΣy all
    exact DECIMAL(38)/HUGEINT integers (y in cents); the three
    float divisions and the F assembly are the only float ops,
    round(6). Magnitudes: U·V ~ 1e32 at sf0.1, ~1e34 at the 10x
    probe — inside 38 digits.

    Scale: one day rollup, one 1-row count broadcast, ONE conditional
    aggregate produces all three segments' moments (no second scan)."""
    r = _daily(spark, sf_dir)
    nn = r.agg(F.count(F.lit(1)).cast("long").alias("n"))
    rh = r.crossJoin(F.broadcast(nn)).withColumn("h", F.expr("n DIV 2"))

    def seg(pred, tag):
        c = F.when(F.expr(pred), F.lit(1)).otherwise(F.lit(0))
        yh = F.expr("CAST(cents AS DECIMAL(38,0))")
        th = F.expr("CAST(t AS DECIMAL(38,0))")
        return [
            F.sum(c).cast("decimal(38,0)").alias(f"n_{tag}"),
            F.sum(F.when(F.expr(pred), th)).cast("decimal(38,0)").alias(f"sx_{tag}"),
            F.sum(F.when(F.expr(pred), yh)).cast("decimal(38,0)").alias(f"sy_{tag}"),
            F.sum(F.when(F.expr(pred), th * th))
            .cast("decimal(38,0)")
            .alias(f"sxx_{tag}"),
            F.sum(F.when(F.expr(pred), th * yh))
            .cast("decimal(38,0)")
            .alias(f"sxy_{tag}"),
            F.sum(F.when(F.expr(pred), yh * yh))
            .cast("decimal(38,0)")
            .alias(f"syy_{tag}"),
        ]

    m = rh.agg(
        *(seg("TRUE", "p") + seg("t <= h", "a") + seg("t > h", "b"))
    )

    def rss(tag):
        return (
            f"(CAST((n_{tag} * syy_{tag} - sy_{tag} * sy_{tag})"
            f" * (n_{tag} * sxx_{tag} - sx_{tag} * sx_{tag})"
            f" - (n_{tag} * sxy_{tag} - sx_{tag} * sy_{tag})"
            f" * (n_{tag} * sxy_{tag} - sx_{tag} * sy_{tag}) AS DOUBLE)"
            f" / CAST(n_{tag} * (n_{tag} * sxx_{tag} - sx_{tag} * sx_{tag})"
            f" AS DOUBLE))"
        )

    return m.select(
        F.col("n_p").cast("long").alias("n_days"),
        F.expr("CAST(CAST(n_p AS BIGINT) DIV 2 AS BIGINT)").alias("break_t"),
        F.expr(
            f"round((({rss('p')} - {rss('a')} - {rss('b')}) / 2.0)"
            f" / (({rss('a')} + {rss('b')}) / (CAST(n_p AS DOUBLE) - 4.0)), 6)"
        ).alias("f_stat"),
    )


# ---------------------------------------------------------------------------
# Sample entropy (m = 2, r = MAD) on the daily series.
# ---------------------------------------------------------------------------

_SAMPEN_ORACLE = _DAILY_SQL + """
, med AS (
  SELECT cents AS m FROM (
    SELECT cents, row_number() OVER (ORDER BY cents, t) AS rk,
           COUNT(*) OVER () AS n
    FROM r
  ) WHERE rk = (n + 1) // 2
), mad AS (
  SELECT dev AS r_cents FROM (
    SELECT abs(cents - med.m) AS dev,
           row_number() OVER (ORDER BY abs(cents - med.m), t) AS rk,
           COUNT(*) OVER () AS n
    FROM r CROSS JOIN med
  ) WHERE rk = (n + 1) // 2
), s AS (
  SELECT t, cents AS x,
         lead(cents, 1) OVER (ORDER BY t) AS x1,
         lead(cents, 2) OVER (ORDER BY t) AS x2
  FROM r
), cnt AS (
  SELECT
    CAST(SUM(CASE WHEN a.x1 IS NOT NULL AND b.x1 IS NOT NULL
              AND greatest(abs(a.x - b.x), abs(a.x1 - b.x1)) <= mad.r_cents
              THEN 1 ELSE 0 END) AS BIGINT) AS count_b,
    CAST(SUM(CASE WHEN a.x2 IS NOT NULL AND b.x2 IS NOT NULL
              AND greatest(abs(a.x - b.x), abs(a.x1 - b.x1),
                           abs(a.x2 - b.x2)) <= mad.r_cents
              THEN 1 ELSE 0 END) AS BIGINT) AS count_a
  FROM s a JOIN s b ON b.t > a.t CROSS JOIN mad
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM r) AS n_days,
       (SELECT r_cents FROM mad) AS r_cents,
       count_b, count_a,
       CASE WHEN count_a > 0 AND count_b > 0
            THEN CAST(round(1000000 * ln(CAST(count_b AS DOUBLE) / count_a))
                      AS BIGINT) END AS sampen_micro_nats
FROM cnt
"""


@register("tw_sample_entropy", oracle=_SAMPEN_ORACLE, tags=("timeseries", "stats"))
def tw_sample_entropy(spark, sf_dir):
    """SAMPLE ENTROPY (Richman & Moorman 2000) of the daily revenue
    series at m = 2 with tolerance r = MAD (exact integer cents —
    the scale-free tolerance chosen as an ORDER STATISTIC, never a
    float σ): SampEn = ln(B/A) where B counts template pairs i<j
    (both with a length-2 template, i.e. t ≤ n−1) matching within r
    under the Chebyshev metric, and A additionally matches the third
    element (t ≤ n−2) — the regularity/complexity dial next to
    tw_hurst_rescaled_range (persistence) and cdc_markov_entropy_rate
    (symbol entropy). This pinned template-domain convention is
    implemented identically in both engines and the reference test.

    Exactness: median and MAD are exact lower-median order statistics
    (rank (n+1) DIV 2); B and A are exact pair counts; the single
    float op is the final micro-nat ln. The pairwise relation is
    DAYS² (≤366² at any SF — days, never rows), broadcast nested
    loop; the rank windows run over the bounded day relation
    (whitelisted)."""
    r = _daily(spark, sf_dir)
    wn = W.orderBy("cents", "t")
    med = (
        r.select(
            "cents",
            F.row_number().over(wn).alias("rk"),
            F.count(F.lit(1)).over(W.partitionBy()).alias("n"),
        )
        .filter(F.expr("rk = (n + 1) DIV 2"))
        .select(F.col("cents").alias("m"))
    )
    wd = W.orderBy("dev", "t")
    mad = (
        r.crossJoin(F.broadcast(med))
        .select(F.abs(F.col("cents") - F.col("m")).alias("dev"), "t")
        .select(
            "dev",
            F.row_number().over(wd).alias("rk"),
            F.count(F.lit(1)).over(W.partitionBy()).alias("n"),
        )
        .filter(F.expr("rk = (n + 1) DIV 2"))
        .select(F.col("dev").alias("r_cents"))
    )
    s = r.select(
        "t",
        F.col("cents").alias("x"),
        F.lead("cents", 1).over(W.orderBy("t")).alias("x1"),
        F.lead("cents", 2).over(W.orderBy("t")).alias("x2"),
    )
    a = s.select(
        F.col("t").alias("ta"),
        F.col("x").alias("xa"),
        F.col("x1").alias("xa1"),
        F.col("x2").alias("xa2"),
    )
    b = s.select(
        F.col("t").alias("tb"),
        F.col("x").alias("xb"),
        F.col("x1").alias("xb1"),
        F.col("x2").alias("xb2"),
    )
    cnt = (
        a.join(F.broadcast(b), F.col("tb") > F.col("ta"))
        .crossJoin(F.broadcast(mad))
        .agg(
            F.sum(
                F.when(
                    F.col("xa1").isNotNull()
                    & F.col("xb1").isNotNull()
                    & (
                        F.greatest(
                            F.abs(F.col("xa") - F.col("xb")),
                            F.abs(F.col("xa1") - F.col("xb1")),
                        )
                        <= F.col("r_cents")
                    ),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("count_b"),
            F.sum(
                F.when(
                    F.col("xa2").isNotNull()
                    & F.col("xb2").isNotNull()
                    & (
                        F.greatest(
                            F.abs(F.col("xa") - F.col("xb")),
                            F.abs(F.col("xa1") - F.col("xb1")),
                            F.abs(F.col("xa2") - F.col("xb2")),
                        )
                        <= F.col("r_cents")
                    ),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("count_a"),
            F.max("r_cents").alias("r_cents"),
        )
    )
    n = r.agg(F.count(F.lit(1)).cast("long").alias("n_days"))
    return cnt.crossJoin(F.broadcast(n)).select(
        "n_days",
        "r_cents",
        "count_b",
        "count_a",
        F.when(
            (F.col("count_a") > 0) & (F.col("count_b") > 0),
            F.expr(
                "CAST(round(1000000 * ln(CAST(count_b AS DOUBLE) / count_a))"
                " AS BIGINT)"
            ),
        ).alias("sampen_micro_nats"),
    )


# ---------------------------------------------------------------------------
# Jonckheere-Terpstra ordered-alternative trend test.
# ---------------------------------------------------------------------------

_JT_ORACLE = """
WITH o AS (
  SELECT CAST(substr(o_orderpriority, 1, 1) AS INT) AS gi,
         CAST(round(CAST(o_totalprice AS DECIMAL(15,2)) * 100) AS BIGINT) AS v
  FROM orders
), roll AS (
  SELECT v,
         SUM(CASE WHEN gi = 1 THEN 1 ELSE 0 END) AS c1,
         SUM(CASE WHEN gi = 2 THEN 1 ELSE 0 END) AS c2,
         SUM(CASE WHEN gi = 3 THEN 1 ELSE 0 END) AS c3,
         SUM(CASE WHEN gi = 4 THEN 1 ELSE 0 END) AS c4,
         SUM(CASE WHEN gi = 5 THEN 1 ELSE 0 END) AS c5
  FROM o GROUP BY v
), cum AS (
  SELECT v, c1, c2, c3, c4, c5,
         SUM(c1) OVER (ORDER BY v) - c1 AS lt1,
         SUM(c2) OVER (ORDER BY v) - c2 AS lt2,
         SUM(c3) OVER (ORDER BY v) - c3 AS lt3,
         SUM(c4) OVER (ORDER BY v) - c4 AS lt4
  FROM roll
), jt AS (
  SELECT CAST(SUM(
      2 * (c2 * lt1 + c3 * (lt1 + lt2) + c4 * (lt1 + lt2 + lt3)
           + c5 * (lt1 + lt2 + lt3 + lt4))
      + c2 * c1 + c3 * (c1 + c2) + c4 * (c1 + c2 + c3)
      + c5 * (c1 + c2 + c3 + c4)) AS BIGINT) AS jt_x2
  FROM cum
), sizes AS (
  SELECT CAST(SUM(c1 + c2 + c3 + c4 + c5) AS BIGINT) AS n_total,
         CAST(SUM(c1 + c2 + c3 + c4 + c5) * SUM(c1 + c2 + c3 + c4 + c5)
              - (SUM(c1) * SUM(c1) + SUM(c2) * SUM(c2) + SUM(c3) * SUM(c3)
                 + SUM(c4) * SUM(c4) + SUM(c5) * SUM(c5)) AS BIGINT)
           AS mean_x4,
         CAST(SUM(c1 + c2 + c3 + c4 + c5) * SUM(c1 + c2 + c3 + c4 + c5)
              * (2 * SUM(c1 + c2 + c3 + c4 + c5) + 3)
              - (SUM(c1) * SUM(c1) * (2 * SUM(c1) + 3)
                 + SUM(c2) * SUM(c2) * (2 * SUM(c2) + 3)
                 + SUM(c3) * SUM(c3) * (2 * SUM(c3) + 3)
                 + SUM(c4) * SUM(c4) * (2 * SUM(c4) + 3)
                 + SUM(c5) * SUM(c5) * (2 * SUM(c5) + 3)) AS BIGINT)
           AS var_x72
  FROM roll
)
SELECT s.n_total, j.jt_x2, s.mean_x4,
       round((j.jt_x2 / 2.0 - s.mean_x4 / 4.0)
             / sqrt(s.var_x72 / 72.0), 6) AS z_score
FROM jt j CROSS JOIN sizes s
"""


@register("agg_jonckheere_terpstra", oracle=_JT_ORACLE, tags=("agg", "stats"))
def agg_jonckheere_terpstra(spark, sf_dir):
    """JONCKHEERE-TERPSTRA ordered-alternative test (1954): is order
    value monotonically increasing across the NATURALLY ORDERED
    priority classes 1-URGENT .. 5-LOW? JT = Σ_{g<h} U_gh where U_gh
    is the Mann-Whitney count between group pair (g,h) — strictly
    more powerful than Kruskal-Wallis when the alternative is ordered
    (KW asks "any difference", JT asks "a trend in THIS order").

    Exactness + scale: one (value, group) ROLLUP (distinct cents
    values, partial-agg shuffle), then the per-group below-v
    cumulatives via the TWO-PASS global cumsum (operators/scale.py —
    never a single-partition window over the rollup); JT·2 = Σ_v
    Σ_{g<h} [2·c_h(v)·lt_g(v) + c_h(v)·c_g(v)] is an exact BIGINT
    (the ·2 absorbs the tie half-credits), the null moments
    mean·4 = N² − Σn_g² and var·72 use the standard no-tie form
    (cents-valued prices make ties measure-zero; the tie-corrected
    variance differs in the 4th decimal of z at worst — convention
    pinned identically in both engines), z is ONE float."""
    from ..operators.scale import global_cumsum

    o = load_table(spark, sf_dir, "orders").select(
        F.expr("CAST(substr(o_orderpriority, 1, 1) AS INT)").alias("gi"),
        F.round(dec("o_totalprice", MONEY) * 100).cast("long").alias("v"),
    )
    roll = o.groupBy("v").agg(
        *[
            F.sum(F.when(F.col("gi") == g, 1).otherwise(0)).alias(f"c{g}")
            for g in range(1, 6)
        ]
    )
    cum = roll
    for g in range(1, 5):
        cum = global_cumsum(cum, f"c{g}", ["v"], cum_col=f"cum{g}")
    cum = cum.select(
        "*",
        *[
            (F.col(f"cum{g}") - F.col(f"c{g}")).alias(f"lt{g}")
            for g in range(1, 5)
        ],
    )
    jt = cum.agg(
        F.sum(
            F.expr(
                "2 * (c2 * lt1 + c3 * (lt1 + lt2) + c4 * (lt1 + lt2 + lt3)"
                " + c5 * (lt1 + lt2 + lt3 + lt4))"
                " + c2 * c1 + c3 * (c1 + c2) + c4 * (c1 + c2 + c3)"
                " + c5 * (c1 + c2 + c3 + c4)"
            )
        )
        .cast("long")
        .alias("jt_x2")
    )
    sizes = roll.agg(
        *[F.sum(f"c{g}").alias(f"n{g}") for g in range(1, 6)]
    ).select(
        F.expr("CAST(n1 + n2 + n3 + n4 + n5 AS BIGINT)").alias("n_total"),
        F.expr(
            "CAST((n1 + n2 + n3 + n4 + n5) * (n1 + n2 + n3 + n4 + n5)"
            " - (n1 * n1 + n2 * n2 + n3 * n3 + n4 * n4 + n5 * n5) AS BIGINT)"
        ).alias("mean_x4"),
        F.expr(
            "CAST((n1 + n2 + n3 + n4 + n5) * (n1 + n2 + n3 + n4 + n5)"
            " * (2 * (n1 + n2 + n3 + n4 + n5) + 3)"
            " - (n1 * n1 * (2 * n1 + 3) + n2 * n2 * (2 * n2 + 3)"
            " + n3 * n3 * (2 * n3 + 3) + n4 * n4 * (2 * n4 + 3)"
            " + n5 * n5 * (2 * n5 + 3)) AS BIGINT)"
        ).alias("var_x72"),
    )
    return jt.crossJoin(F.broadcast(sizes)).select(
        "n_total",
        "jt_x2",
        "mean_x4",
        F.round(
            (F.col("jt_x2") / 2.0 - F.col("mean_x4") / 4.0)
            / F.sqrt(F.col("var_x72") / 72.0),
            6,
        ).alias("z_score"),
    )


# ---------------------------------------------------------------------------
# Bartlett variance-homogeneity test.
# ---------------------------------------------------------------------------

_BARTLETT_ORACLE = """
WITH b AS (
  SELECT event_type AS g,
         CAST(round(CAST(value AS DECIMAL(12,2)) * 100) AS BIGINT) AS x
  FROM events
), m AS (
  SELECT g, CAST(COUNT(*) AS HUGEINT) AS n,
         CAST(SUM(x) AS HUGEINT) AS s1,
         CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS s2
  FROM b GROUP BY g HAVING COUNT(*) >= 2
), pg AS (
  SELECT g, n, n * s2 - s1 * s1 AS num,
         CAST(round(1000000 * (ln(CAST(n * s2 - s1 * s1 AS DOUBLE))
                               - ln(CAST(n AS DOUBLE))
                               - ln(CAST(n - 1 AS DOUBLE)))) AS BIGINT)
           AS ln_s2_micro,
         CAST(1000000000000 // (n - 1) AS BIGINT) AS recip_pico
  FROM m
), agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(n) AS BIGINT) AS n_total,
         CAST(SUM(num // n) AS HUGEINT) AS sum_q,
         CAST(SUM((n - 1) * ln_s2_micro) AS BIGINT) AS term2_micro,
         CAST(SUM(recip_pico) AS BIGINT) AS sum_recip_pico
  FROM pg
)
SELECT k AS k_groups, n_total,
       CAST((n_total - k) * CAST(round(1000000
              * (ln(CAST(sum_q AS DOUBLE)) - ln(CAST(n_total - k AS DOUBLE))))
              AS BIGINT) - term2_micro AS BIGINT) AS t_micro_sum,
       round((CAST((n_total - k) * CAST(round(1000000
                * (ln(CAST(sum_q AS DOUBLE))
                   - ln(CAST(n_total - k AS DOUBLE)))) AS BIGINT)
              - term2_micro AS DOUBLE) / 1000000.0)
             / (1.0 + (sum_recip_pico / 1e12 - 1.0 / (n_total - k))
                      / (3.0 * (k - 1))), 6) AS bartlett_t
FROM agg
"""


@register("agg_bartlett_test", oracle=_BARTLETT_ORACLE, tags=("agg", "stats"))
def agg_bartlett_test(spark, sf_dir):
    """BARTLETT's test (1937) of variance homogeneity across the
    event-type groups — the parametric (normal-theory, most powerful
    under normality) member of the scale-test trio beside
    agg_brown_forsythe (median-robust) and agg_ansari_bradley
    (rank-based): T = [(N−k)·ln(Sp²) − Σ(n_i−1)·ln(S_i²)] / C.

    Exactness: per-group variance numerators n·Σx² − (Σx)² are exact
    HUGEINT/DECIMAL(38); every ln term is micro-quantized to an
    exact BIGINT so BOTH sums (Σ(n_i−1)·lnS_i², Σ recip) are
    summation-ORDER-FREE integer sums; Sp²'s numerator uses the
    truncating num DIV n (error < 1 part in 1e22 — invisible at
    round(6) after ln). The final T/C assembly is the only float
    chain, round(6).

    Scale: one map-side-combinable moments aggregate (|groups| rows),
    everything after is on the k-row relation."""
    b = load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("g"),
        F.round(dec("value", VAL) * 100).cast("long").alias("x"),
    )
    m = (
        b.groupBy("g")
        .agg(
            F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
            F.sum("x").cast("decimal(38,0)").alias("s1"),
            F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * x"))
            .cast("decimal(38,0)")
            .alias("s2"),
        )
        .filter(F.col("n") >= 2)
    )
    pg = m.select(
        "g",
        "n",
        F.expr("CAST(n * s2 - s1 * s1 AS DECIMAL(38,0))").alias("num"),
        F.expr(
            "CAST(round(1000000 * (ln(CAST(n * s2 - s1 * s1 AS DOUBLE))"
            " - ln(CAST(n AS DOUBLE)) - ln(CAST(n - 1 AS DOUBLE)))) AS BIGINT)"
        ).alias("ln_s2_micro"),
        F.expr("CAST(1000000000000 DIV CAST(n - 1 AS BIGINT) AS BIGINT)").alias(
            "recip_pico"
        ),
    )
    agg = pg.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n").cast("long").alias("n_total"),
        F.sum(F.expr("num DIV n")).cast("decimal(38,0)").alias("sum_q"),
        F.sum(F.expr("CAST(n - 1 AS BIGINT) * ln_s2_micro"))
        .cast("long")
        .alias("term2_micro"),
        F.sum("recip_pico").cast("long").alias("sum_recip_pico"),
    )
    t_expr = (
        "(n_total - k) * CAST(round(1000000 * (ln(CAST(sum_q AS DOUBLE))"
        " - ln(CAST(n_total - k AS DOUBLE)))) AS BIGINT) - term2_micro"
    )
    return agg.select(
        F.col("k").alias("k_groups"),
        "n_total",
        F.expr(f"CAST({t_expr} AS BIGINT)").alias("t_micro_sum"),
        F.expr(
            f"round((CAST({t_expr} AS DOUBLE) / 1000000.0)"
            " / (1.0 + (sum_recip_pico / 1e12 - 1.0 / (n_total - k))"
            " / (3.0 * (k - 1))), 6)"
        ).alias("bartlett_t"),
    )


# ---------------------------------------------------------------------------
# Expected / maximum calibration error (exact integers).
# ---------------------------------------------------------------------------

_ECE_ORACLE = """
WITH b AS (
  SELECT CAST(round(CAST(value AS DECIMAL(12,2)) * 100) AS BIGINT) AS cents,
         CASE WHEN event_type IN ('purchase', 'signup') THEN 1 ELSE 0 END AS y
  FROM events
), mx AS (
  SELECT MAX(cents) AS max_c FROM b
), binned AS (
  SELECT LEAST(9, cents * 10 // (max_c + 1)) AS bin, cents, y, max_c
  FROM b, mx
), per_bin AS (
  SELECT bin, max_c,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(cents) AS BIGINT) AS sum_cents,
         CAST(SUM(y) AS BIGINT) AS sum_y
  FROM binned GROUP BY bin, max_c
)
SELECT CAST(SUM(n) AS BIGINT) AS n_total,
       CAST(COUNT(*) AS BIGINT) AS n_bins,
       CAST(SUM(abs(sum_y * max_c - sum_cents)) * 1000000
            // (MAX(max_c) * SUM(n)) AS BIGINT) AS ece_micro,
       CAST(MAX(abs(sum_y * max_c - sum_cents) * 10000 // (n * max_c))
            AS BIGINT) AS mce_bp
FROM per_bin
"""


@register("ml_expected_calibration_error", oracle=_ECE_ORACLE, tags=("llm", "ml", "eval"))
def ml_expected_calibration_error(spark, sf_dir):
    """ECE / MCE over the ml_calibration_bins binning (10 equal-width
    score bins, score = cents/max_c, label = purchase|signup) —
    the scalar rollup of the reliability diagram that r9's
    calibration-bins query draws: ECE = Σ_b (n_b/N)·|acc_b − conf_b|,
    MCE = max_b |acc_b − conf_b|.

    Exactness: |acc_b − conf_b| = |Σy_b·max_c − Σcents_b| / (n_b·max_c)
    — the numerator is an EXACT BIGINT, and the n_b weights cancel:
    ECE = Σ_b |Σy_b·max_c − Σcents_b| · 1e6 DIV (max_c·N) is an exact
    integer micro value, MCE an exact bp value. ZERO float ops.

    Scale: one map-side-combinable per-bin aggregate (10 rows) after
    a broadcast 1-row max join; everything after is on 10 rows."""
    b = load_table(spark, sf_dir, "events").select(
        F.round(dec("value", VAL) * 100).cast("long").alias("cents"),
        F.col("event_type").isin("purchase", "signup").cast("int").alias("y"),
    )
    mx = b.agg(F.max("cents").alias("max_c"))
    per_bin = (
        b.crossJoin(F.broadcast(mx))
        .select(
            F.expr("LEAST(9, cents * 10 DIV (max_c + 1))").alias("bin"),
            "cents",
            "y",
            "max_c",
        )
        .groupBy("bin", "max_c")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("cents").cast("long").alias("sum_cents"),
            F.sum("y").cast("long").alias("sum_y"),
        )
    )
    return per_bin.agg(
        F.sum("n").cast("long").alias("n_total"),
        F.count(F.lit(1)).cast("long").alias("n_bins"),
        F.expr(
            "CAST(SUM(abs(sum_y * max_c - sum_cents)) * 1000000"
            " DIV (MAX(max_c) * SUM(n)) AS BIGINT)"
        ).alias("ece_micro"),
        F.max(
            F.expr("abs(sum_y * max_c - sum_cents) * 10000 DIV (n * max_c)")
        )
        .cast("long")
        .alias("mce_bp"),
    )


# ---------------------------------------------------------------------------
# Graph: diamond (4-cycle corner) census over the co-order graph.
# ---------------------------------------------------------------------------

from .profiling import _COORDER_EDGES_CTE, _coorder_part_edges  # noqa: E402

_DIAMOND_ORACLE = _COORDER_EDGES_CTE + """
, hub AS (
  SELECT node FROM deg WHERE deg > 32
), symf AS (
  SELECT u, v FROM sym WHERE v NOT IN (SELECT node FROM hub)
), wedge AS (
  SELECT s1.u AS a, s2.v AS b, CAST(COUNT(*) AS BIGINT) AS cn
  FROM symf s1 JOIN symf s2 ON s2.u = s1.v
  WHERE s1.u < s2.v
  GROUP BY s1.u, s2.v
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_corner_pairs,
       CAST(SUM(CASE WHEN cn >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_pairs_cn_ge2,
       CAST(SUM(cn * (cn - 1)) // 2 AS BIGINT) AS n_diamonds,
       CAST(MAX(cn) AS BIGINT) AS max_cn
FROM wedge
"""


@register("graph_diamond_census", oracle=_DIAMOND_ORACLE, tags=("graph", "analytics"))
def graph_diamond_census(spark, sf_dir):
    """DIAMOND census (4-cycle corner pairs) over the co-order graph:
    for every node pair {a,b} joined by ≥1 length-2 path through a
    non-hub middle (the standing deg ≤ 32 middle cap — part of the
    operator's semantics, as in graph_two_hop_reach), the number of
    parallel wedges C(cn,2) — each 4-cycle contributes to its
    diagonals' counts, so n_diamonds is the parallel-wedge (diamond)
    total, THE quadrangle analogue of graph_triangle_stats (cycles of
    length 3 ask "cliquishness"; diamonds ask "redundant 2-paths" —
    the backbone of bipartite-like co-purchase structure).

    Exactness: all counts exact BIGINTs (cn(cn−1) is always even, so
    DIV 2 is exact). Scale: one capped wedge join (per-key fanout ≤
    cap·deg) + one (a,b)-keyed count — the two_hop_reach plan with a
    count instead of a distinct; no float, no window."""
    e = _coorder_part_edges(spark, sf_dir).select("u", "v")
    sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = sym.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    hubs = deg.filter(F.col("deg") > 32).select("node")
    symf = sym.join(F.broadcast(hubs), sym.v == F.col("node"), "left_anti")
    wedge = (
        symf.select(F.col("u").alias("a"), F.col("v").alias("mid"))
        .join(symf.select(F.col("u").alias("mid"), F.col("v").alias("b")), "mid")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("cn"))
    )
    return wedge.agg(
        F.count(F.lit(1)).cast("long").alias("n_corner_pairs"),
        F.sum((F.col("cn") >= 2).cast("long")).alias("n_pairs_cn_ge2"),
        F.expr("CAST(SUM(cn * (cn - 1)) DIV 2 AS BIGINT)").alias("n_diamonds"),
        F.max("cn").cast("long").alias("max_cn"),
    )


# ---------------------------------------------------------------------------
# Graph: bounded-round min-label WCC.
# ---------------------------------------------------------------------------

_WCC_ORACLE = _COORDER_EDGES_CTE + """
, nodes AS (
  SELECT DISTINCT u AS node FROM sym
), ep AS (
  SELECT u, v FROM sym UNION ALL SELECT node AS u, node AS v FROM nodes
), l1 AS (
  SELECT ep.u AS node, MIN(ep.v) AS lbl FROM ep GROUP BY ep.u
), l2 AS (
  SELECT ep.u AS node, MIN(l1.lbl) AS lbl
  FROM ep JOIN l1 ON l1.node = ep.v GROUP BY ep.u
), l3 AS (
  SELECT ep.u AS node, MIN(l2.lbl) AS lbl
  FROM ep JOIN l2 ON l2.node = ep.v GROUP BY ep.u
), comp AS (
  SELECT lbl, CAST(COUNT(*) AS BIGINT) AS sz FROM l3 GROUP BY lbl
)
SELECT sz AS component_size, CAST(COUNT(*) AS BIGINT) AS n_labels
FROM comp GROUP BY sz ORDER BY sz
"""


@register("graph_wcc_minlabel_3round", oracle=_WCC_ORACLE, tags=("graph", "analytics"))
def graph_wcc_minlabel_3round(spark, sf_dir):
    """Bounded-round MIN-LABEL connected components over the co-order
    graph: three synchronous rounds of l_{k+1}(u) = min(l_k(v) : v ∈
    N(u) ∪ {u}) from l_0 = node id — the hash-min/BSP primitive
    behind every distributed CC (Pregel, GraphX, the dedup CC
    operator's star-contraction), here pinned at EXACTLY 3 rounds so
    the label state is deterministic whether or not diameter has
    converged (the label-frontier histogram IS the output: radius >
    3 components show as split labels). dedup_cc_clusters runs CC to
    convergence on the dup graph; this exposes the per-round
    primitive itself on the co-order graph.

    Exactness: min-label is exact integer algebra; output is the
    label-group size histogram. Scale: each round = one edge-keyed
    join + one keyed min (shuffle on node key, no window, no
    iteration-to-convergence); rounds are a compile-time constant so
    the plan is 3 stacked joins, AQE-replannable."""
    e = _coorder_part_edges(spark, sf_dir).select("u", "v")
    sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    nodes = sym.select(F.col("u").alias("node")).distinct()
    ep = sym.unionByName(
        nodes.select(F.col("node").alias("u"), F.col("node").alias("v"))
    )
    lbl = ep.groupBy(F.col("u").alias("node")).agg(F.min("v").alias("lbl"))
    for _ in range(2):
        lbl = (
            ep.join(
                lbl.select(F.col("node").alias("v"), F.col("lbl")),
                "v",
            )
            .groupBy(F.col("u").alias("node"))
            .agg(F.min("lbl").alias("lbl"))
        )
    comp = lbl.groupBy("lbl").agg(F.count(F.lit(1)).cast("long").alias("sz"))
    return (
        comp.groupBy(F.col("sz").alias("component_size"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_labels"))
        .orderBy("component_size")
    )


# ---------------------------------------------------------------------------
# Graph: k-truss peeling rounds (round 11).
# ---------------------------------------------------------------------------


def _ktruss_oracle() -> str:
    parts = []
    prev = "e"
    for r in range(3):
        parts.append(f"""t{r} AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM {prev} e1
  JOIN {prev} e2 ON e2.u = e1.u AND e2.v > e1.v
  JOIN {prev} e3 ON e3.u = e1.v AND e3.v = e2.v
), s{r} AS (
  SELECT x[1] AS u, x[2] AS v, CAST(COUNT(*) AS BIGINT) AS supp
  FROM t{r}, unnest([[a, b], [a, c], [b, c]]) AS z(x)
  GROUP BY x[1], x[2]
), r{r} AS (
  SELECT CAST({r} AS BIGINT) AS rnd,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM {prev}) AS n_edges,
         CAST(COALESCE(SUM(supp), 0) // 3 AS BIGINT) AS n_triangles,
         CAST(COALESCE(SUM(CASE WHEN supp >= 2 THEN 1 ELSE 0 END), 0)
              AS BIGINT) AS n_edges_supp_ge2,
         CAST(COALESCE(MAX(supp), 0) AS BIGINT) AS max_support
  FROM s{r}
), a{r + 1} AS (
  SELECT u, v FROM s{r} WHERE supp >= 2
)""")
        prev = f"a{r + 1}"
    return (
        _COORDER_EDGES_CTE
        + ", "
        + ",\n".join(parts)
        + "\nSELECT * FROM r0 UNION ALL SELECT * FROM r1"
        + " UNION ALL SELECT * FROM r2"
    )


@register("graph_ktruss_peel_rounds", oracle=_ktruss_oracle(), tags=("graph", "analytics"))
def graph_ktruss_peel_rounds(spark, sf_dir):
    """4-TRUSS peeling over the co-order graph, two synchronous peel
    rounds (Cohen 2008, "Trusses: cohesive subgraphs for social
    network analysis"): edge support = number of triangles containing
    the edge; each round removes every edge with support < k-2 = 2 and
    recomputes support on the survivors. Like graph_wcc_minlabel_3round
    the round count is a compile-time constant, so the output is
    deterministic whether or not the peel has converged — the per-round
    (n_edges, n_triangles, n_edges_supp_ge2, max_support) trajectory IS
    the result, the cohesion profile a community-mining pipeline reads.

    Plan, per round: DEGREE-ORDERED triangle enumeration (Chiba &
    Nishizeki 1985 / Latapy 2008): edges orient from the (degree, id)-
    smaller endpoint to the larger, wedges fan out only from each
    node's HIGHER-degree neighbors, so per-node fanout is bounded by
    the arboricity-ordered out-degree — the hub-safe plan (a u < v id
    orientation would let one low-id hub fan out deg^2 wedges). The
    triangle SET is orientation-invariant, so the DuckDB oracle keeps
    the simple u < v enumeration and the values must still agree.
    Each triangle explodes to its 3 (min, max)-keyed edges -> ONE
    map-side-combinable count. n_triangles = SUM(supp) DIV 3 exactly
    (every triangle contributes 3 edge-supports), so the triangle
    relation is consumed ONCE. Survivor sets and support relations are
    pinned with eager localCheckpoint (the operators/graph.py round
    discipline) so round r+1's join does not replay round r's lineage.
    All exact BIGINTs; no window, no float. The 10x probe rides at
    ~8x: work is Sum C(out-deg, 2), linear in edges when replication
    holds degrees constant — the floor for an exact census."""
    edges = _coorder_part_edges(spark, sf_dir).select("u", "v")
    out = None
    for rnd in range(3):
        if rnd > 0:
            edges = pin(edges)
        sym = edges.unionByName(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        deg = sym.groupBy(F.col("u").alias("node")).agg(
            F.count(F.lit(1)).cast("long").alias("dg")
        )
        # orient s -> t iff (deg_s, s) < (deg_t, t); carry t's key for
        # the wedge-order filter
        uk = F.struct(F.col("du").alias("d"), F.col("u").alias("n"))
        vk = F.struct(F.col("dv").alias("d"), F.col("v").alias("n"))
        ori = (
            edges.join(deg.withColumnRenamed("node", "u"), "u")
            .withColumnRenamed("dg", "du")
            .join(deg.withColumnRenamed("node", "v"), "v")
            .withColumnRenamed("dg", "dv")
            .select(
                F.when(uk < vk, F.col("u")).otherwise(F.col("v")).alias("s"),
                F.when(uk < vk, F.col("v")).otherwise(F.col("u")).alias("t"),
                F.greatest(uk, vk).alias("tk"),
            )
        )
        o1 = ori.select("s", F.col("t").alias("b"), F.col("tk").alias("bk"))
        o2 = ori.select("s", F.col("t").alias("c"), F.col("tk").alias("ck"))
        close = ori.select(F.col("s").alias("b"), F.col("t").alias("c"))
        tri = (
            o1.join(o2, "s")
            .filter(F.col("bk") < F.col("ck"))
            .join(close, ["b", "c"])
            # canonical (a < b < c) id order — orientation-free keys
            .select(
                F.sort_array(F.array("s", "b", "c")).alias("t3")
            )
            .select(
                F.col("t3")[0].alias("a"),
                F.col("t3")[1].alias("b"),
                F.col("t3")[2].alias("c"),
            )
        )
        supp = pin(
            tri.select(
                F.explode(
                    F.array(
                        F.array("a", "b"),
                        F.array("a", "c"),
                        F.array("b", "c"),
                    )
                ).alias("x")
            )
            .select(
                F.col("x")[0].alias("u"), F.col("x")[1].alias("v")
            )
            .groupBy("u", "v")
            .agg(F.count(F.lit(1)).cast("long").alias("supp"))
        )
        stats = (
            supp.agg(
                F.expr(
                    "CAST(COALESCE(SUM(supp), 0) DIV 3 AS BIGINT)"
                ).alias("n_triangles"),
                F.coalesce(
                    F.sum((F.col("supp") >= 2).cast("long")), F.lit(0)
                ).cast("long").alias("n_edges_supp_ge2"),
                F.coalesce(F.max("supp"), F.lit(0)).cast("long").alias(
                    "max_support"
                ),
            )
            .crossJoin(
                edges.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
            )
            .select(
                F.lit(rnd).cast("long").alias("rnd"),
                "n_edges",
                "n_triangles",
                "n_edges_supp_ge2",
                "max_support",
            )
        )
        out = stats if out is None else out.unionByName(stats)
        edges = supp.filter(F.col("supp") >= 2).select("u", "v")
    return out
