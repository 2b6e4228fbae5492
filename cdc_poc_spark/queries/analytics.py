"""Round-3 analytic surface: statistical aggregates (moments, corr/
regression, histogram), binned range join, as-of-with-tolerance join,
batch sessionization, TF-IDF retrieval, dup-rate attribution,
cross-source overlap, URL parsing, and a k-means Lloyd step — each a
named operator with an exact DuckDB oracle.

Reference parity: the reference (thanminh24/CDC_POC) implements none of
this (no relational algebra at all — SURVEY.md §2); these extend the
engine per the north-star brief alongside queries/llm_ops.py.

Cross-engine exactness strategy (same as tables.py): every aggregate
feeds on EXACT integers (cents / scaled ints / counts via DECIMAL
casts), so the shuffled sums are order-independent; the final
double-precision formulas are then the same IEEE expressions in both
engines, and outputs are rounded for display. Doubles are never summed
across rows.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..operators.scale import pin
from ..tables import BAL, MONEY, QTY, VAL, dec, events_with_time, load_table
from . import register

# ---------------------------------------------------------------------------
# Higher statistical moments per group (variance / stddev / skewness)
# ---------------------------------------------------------------------------

_MOMENTS_ORACLE = """
WITH c AS (
  SELECT event_type,
         CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
  FROM events
),
s AS (
  SELECT event_type,
         CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(cents) AS DOUBLE) AS s1,
         CAST(SUM(CAST(cents AS DECIMAL(38,0)) * cents) AS DOUBLE) AS s2,
         CAST(SUM(CAST(cents AS DECIMAL(38,0)) * cents * cents) AS DOUBLE) AS s3,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM c GROUP BY event_type
)
SELECT event_type, n_events,
       round(s1 / n / 100, 6) AS mean_value,
       round((s2 - s1 * s1 / n) / (n - 1), 6) AS var_samp_cents,
       round(sqrt((s2 - s1 * s1 / n) / (n - 1)), 6) AS stddev_cents,
       round((s3 / n - 3 * (s1 / n) * (s2 / n) + 2 * pow(s1 / n, 3))
             / pow(s2 / n - pow(s1 / n, 2), 1.5), 6) AS skewness
FROM s
"""


@register("agg_moment_stats", oracle=_MOMENTS_ORACLE, tags=("agg", "stats"))
def agg_moment_stats(spark, sf_dir):
    """Per-group variance/stddev/skewness from exact integer power sums
    (sum cents, sum cents^2, sum cents^3 as DECIMAL(38) — order-
    independent under any shuffle), then one closed-form double formula
    per group. This is the numerically-honest shape for 100 TB: the
    map-side combiner reduces each partition to 4 numbers per group and
    no double is ever accumulated across rows (Spark's built-in
    `skewness`/`var_samp` stream doubles and would not be bit-stable
    against an independent engine)."""
    ev = load_table(spark, sf_dir, "events")
    cents = (dec("value", VAL) * 100).cast("long")
    c38 = F.col("cents").cast("decimal(38,0)")
    s = (
        ev.select("event_type", cents.alias("cents"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.sum("cents").cast("double").alias("s1"),
            F.sum(c38 * F.col("cents")).cast("double").alias("s2"),
            F.sum(c38 * F.col("cents") * F.col("cents")).cast("double").alias("s3"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    n, s1, s2, s3 = F.col("n"), F.col("s1"), F.col("s2"), F.col("s3")
    m1, m2r, m3r = s1 / n, s2 / n, s3 / n
    return s.select(
        "event_type",
        "n_events",
        F.round(s1 / n / 100, 6).alias("mean_value"),
        F.round((s2 - s1 * s1 / n) / (n - 1), 6).alias("var_samp_cents"),
        F.round(F.sqrt((s2 - s1 * s1 / n) / (n - 1)), 6).alias("stddev_cents"),
        F.round(
            (m3r - 3 * m1 * m2r + 2 * F.pow(m1, F.lit(3)))
            / F.pow(m2r - F.pow(m1, F.lit(2)), F.lit(1.5)),
            6,
        ).alias("skewness"),
    )


# ---------------------------------------------------------------------------
# Correlation + least-squares regression per group from exact sums
# ---------------------------------------------------------------------------

_CORR_ORACLE = """
WITH v AS (
  SELECT l_returnflag,
         CAST(CAST(l_quantity AS DECIMAL(8,1)) * 10 AS BIGINT) AS x,
         CAST(CAST(l_extendedprice AS DECIMAL(15,2)) * 100 AS BIGINT) AS y
  FROM lineitem
),
s AS (
  SELECT l_returnflag,
         CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(x) AS DOUBLE) AS sx,
         CAST(SUM(y) AS DOUBLE) AS sy,
         CAST(SUM(CAST(x AS DECIMAL(38,0)) * x) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(y AS DECIMAL(38,0)) * y) AS DOUBLE) AS syy,
         CAST(SUM(CAST(x AS DECIMAL(38,0)) * y) AS DOUBLE) AS sxy,
         CAST(COUNT(*) AS BIGINT) AS n_rows
  FROM v GROUP BY l_returnflag
)
SELECT l_returnflag, n_rows,
       round((n * sxy - sx * sy)
             / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6) AS corr_qty_price,
       round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope_scaled,
       round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6) AS intercept_scaled
FROM s
"""


@register("agg_corr_regression", oracle=_CORR_ORACLE, tags=("agg", "stats"))
def agg_corr_regression(spark, sf_dir):
    """Pearson correlation + least-squares slope/intercept per group
    (quantity scaled x10, price in cents — slope/intercept are in those
    scaled units) from the five exact co-moment sums. Same scale story
    as agg_moment_stats: one map-side-combinable agg, five numbers per
    group, closed-form doubles at the end — the textbook parallel
    regression (what `regr_slope`/`corr` do internally, made exact and
    engine-portable)."""
    li = load_table(spark, sf_dir, "lineitem")
    x = (dec("l_quantity", QTY) * 10).cast("long")
    y = (dec("l_extendedprice", MONEY) * 100).cast("long")
    x38, y38 = F.col("x").cast("decimal(38,0)"), F.col("y").cast("decimal(38,0)")
    s = (
        li.select("l_returnflag", x.alias("x"), y.alias("y"))
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.sum("x").cast("double").alias("sx"),
            F.sum("y").cast("double").alias("sy"),
            F.sum(x38 * F.col("x")).cast("double").alias("sxx"),
            F.sum(y38 * F.col("y")).cast("double").alias("syy"),
            F.sum(x38 * F.col("y")).cast("double").alias("sxy"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return s.select(
        "l_returnflag",
        "n_rows",
        F.round(
            (n * sxy - sx * sy)
            / (F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)),
            6,
        ).alias("corr_qty_price"),
        F.round(slope, 6).alias("slope_scaled"),
        F.round((sy - slope * sx) / n, 6).alias("intercept_scaled"),
    )


# ---------------------------------------------------------------------------
# Range (band) join via bin replication — the scalable non-equi join
# ---------------------------------------------------------------------------

#: non-uniform value bands [lo, hi) and the uniform bin width that
#: decomposes them. Bands cover the full events.value domain.
_BANDS = ((0, 0, 50), (1, 50, 100), (2, 100, 200), (3, 200, 350), (4, 350, 500))
_BIN_W = 50

_RANGE_ORACLE_VIEW = f"""
WITH bands(band_id, lo, hi) AS (
  VALUES {", ".join(f"({b}, {lo}, {hi})" for b, lo, hi in _BANDS)}
)
SELECT b.band_id, b.lo, b.hi,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(e.value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
FROM events e
JOIN bands b ON e.value >= b.lo AND e.value < b.hi
GROUP BY b.band_id, b.lo, b.hi
"""


@register("join_range_binned", oracle=_RANGE_ORACLE_VIEW, tags=("join", "range"))
def join_range_binned(spark, sf_dir):
    """Range (band) join done the way it survives 100 TB: a naive
    `value BETWEEN lo AND hi` join is a BroadcastNestedLoopJoin (every
    row tested against every band); instead each band is REPLICATED
    onto the uniform bins it overlaps and the fact table computes
    `bin = floor(value / width)` — turning the range join into an
    EQUI-join on `bin` plus a residual predicate. Catalyst gets a hash
    join, partition-parallel, no nested loop. The oracle is the plain
    BETWEEN join (DuckDB's IEJoin handles it at fixture scale) —
    proving the binned rewrite is semantics-preserving."""
    bands = spark.createDataFrame(
        list(_BANDS), "band_id int, lo int, hi int"
    ).withColumn(
        "bin",
        F.explode(F.expr(f"sequence(CAST(lo / {_BIN_W} AS INT), CAST((hi - 1) / {_BIN_W} AS INT))")),
    )
    ev = load_table(spark, sf_dir, "events").withColumn(
        "bin", F.floor(F.col("value") / _BIN_W).cast("int")
    )
    return (
        ev.join(F.broadcast(bands), "bin")
        .filter((F.col("value") >= F.col("lo")) & (F.col("value") < F.col("hi")))
        .groupBy("band_id", "lo", "hi")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(dec("value", VAL)).cast("double").alias("sum_value"),
        )
    )


# ---------------------------------------------------------------------------
# Robust outlier detection (median / MAD) per group
# ---------------------------------------------------------------------------

_MAD_ORACLE = """
WITH c AS (
  SELECT event_type,
         CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
  FROM events
), med AS (
  SELECT event_type, median(cents) AS med FROM c GROUP BY event_type
), dev AS (
  SELECT c.event_type, c.cents, abs(c.cents - m.med) AS adev, m.med
  FROM c JOIN med m USING (event_type)
), mad AS (
  SELECT event_type, median(adev) AS mad FROM dev GROUP BY event_type
)
SELECT d.event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       round(ANY_VALUE(d.med), 1) AS median_cents,
       round(ANY_VALUE(m.mad), 1) AS mad_cents,
       CAST(SUM(CASE WHEN d.adev > 3 * m.mad THEN 1 ELSE 0 END) AS BIGINT)
         AS n_outliers,
       round(CAST(SUM(CASE WHEN d.adev > 3 * m.mad THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS outlier_rate
FROM dev d JOIN mad m USING (event_type)
GROUP BY d.event_type
"""


@register("agg_robust_outliers_mad", oracle=_MAD_ORACLE, tags=("agg", "stats", "quality"))
def agg_robust_outliers_mad(spark, sf_dir):
    """Robust per-group outlier detection: median + MAD (median absolute
    deviation) instead of mean/stddev — the skew-proof anomaly flag a
    data-quality monitor wants (one fat-fingered amount moves a mean,
    not a median). Two grouped percentile passes over exact integer
    cents with broadcast joins back (group-key cardinality is tiny);
    the deviation grid is half-integer so percentile interpolation is
    exact in binary and both engines agree bit-for-bit. Outlier rule:
    |x - median| > 3 * MAD (consistency constant omitted — it scales
    both sides of a comparison identically)."""
    ev = load_table(spark, sf_dir, "events")
    cents = (dec("value", VAL) * 100).cast("long")
    c = ev.select("event_type", cents.alias("cents"))
    med = c.groupBy("event_type").agg(F.percentile("cents", F.lit(0.5)).alias("med"))
    dev = c.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("cents") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(F.percentile("adev", F.lit(0.5)).alias("mad"))
    flagged = dev.join(F.broadcast(mad), "event_type")
    is_out = (F.col("adev") > 3 * F.col("mad")).cast("long")
    return flagged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.any_value("med"), 1).alias("median_cents"),
        F.round(F.any_value("mad"), 1).alias("mad_cents"),
        F.sum(is_out).alias("n_outliers"),
        F.round(F.sum(is_out) / F.count(F.lit(1)), 6).alias("outlier_rate"),
    )


# ---------------------------------------------------------------------------
# Interval-overlap join via grid-cell replication (ranges x ranges)
# ---------------------------------------------------------------------------

_IVL_DAYS = 60      # synthesized activity-window length
_IVL_CELL = 30      # grid cell width (days) for the binned join

_IVL_ORACLE = f"""
WITH ca AS (
  SELECT o_custkey AS custkey,
         MIN(CAST(o_orderdate AS DATE)) AS a_start,
         MIN(CAST(o_orderdate AS DATE)) + {_IVL_DAYS} AS a_end
  FROM orders GROUP BY o_custkey
), sb AS (
  SELECT l_suppkey AS suppkey,
         MIN(CAST(l_shipdate AS DATE)) AS b_start,
         MIN(CAST(l_shipdate AS DATE)) + {_IVL_DAYS} AS b_end
  FROM lineitem GROUP BY l_suppkey
), pairs AS (
  SELECT c.c_nationkey AS nationkey,
         datediff('day',
                  CASE WHEN a_start > b_start THEN a_start ELSE b_start END,
                  CASE WHEN a_end < b_end THEN a_end ELSE b_end END) + 1
           AS overlap_days
  FROM ca JOIN customer c ON c.c_custkey = ca.custkey
  JOIN sb ON TRUE
  JOIN supplier s ON s.s_suppkey = sb.suppkey AND s.s_nationkey = c.c_nationkey
  WHERE a_start <= b_end AND b_start <= a_end
)
SELECT nationkey,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(overlap_days) AS BIGINT) AS sum_overlap_days,
       CAST(MAX(overlap_days) AS BIGINT) AS max_overlap_days
FROM pairs GROUP BY nationkey
"""


@register("join_interval_overlap", oracle=_IVL_ORACLE, tags=("join", "range", "interval"))
def join_interval_overlap(spark, sf_dir):
    """Interval-OVERLAP join (ranges x ranges — the general case behind
    as-of and point-in-band): customer activity windows [first order,
    +60d] against supplier shipping windows [first ship, +60d], blocked
    by nation. A naive `a_start <= b_end AND b_start <= a_end`
    join is a nested loop; the scale plan REPLICATES each interval onto
    the fixed 30-day grid cells it covers, equi-joins on (nation, cell)
    — hash join, partition-parallel — dedups pairs that share several
    cells, then applies the exact overlap predicate and computes
    overlap days. Cell width trades replication factor (interval/cell
    rows per interval) against join selectivity, exactly like the
    band-join bin width; the oracle is the plain quadratic predicate
    join, proving the rewrite semantics-preserving."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    ca = (
        orders.groupBy(F.col("o_custkey").alias("custkey"))
        .agg(F.min(F.col("o_orderdate").cast("date")).alias("a_start"))
        .withColumn("a_end", F.date_add("a_start", _IVL_DAYS))
        .join(cust.select(F.col("c_custkey").alias("custkey"),
                          F.col("c_nationkey").alias("nationkey")), "custkey")
    )
    sb = (
        li.groupBy(F.col("l_suppkey").alias("suppkey"))
        .agg(F.min(F.col("l_shipdate").cast("date")).alias("b_start"))
        .withColumn("b_end", F.date_add("b_start", _IVL_DAYS))
        .join(supp.select(F.col("s_suppkey").alias("suppkey"),
                          F.col("s_nationkey").alias("nationkey")), "suppkey")
    )

    def cells(start, end):
        return F.explode(
            F.sequence(
                F.floor(F.unix_date(F.col(start)) / _IVL_CELL).cast("int"),
                F.floor(F.unix_date(F.col(end)) / _IVL_CELL).cast("int"),
            )
        )

    a = ca.withColumn("cell", cells("a_start", "a_end"))
    b = sb.withColumn("cell", cells("b_start", "b_end"))
    pairs = (
        a.join(b, ["nationkey", "cell"])
        .select("nationkey", "custkey", "suppkey", "a_start", "a_end", "b_start", "b_end")
        .distinct()
        .filter((F.col("a_start") <= F.col("b_end")) & (F.col("b_start") <= F.col("a_end")))
        .withColumn(
            "overlap_days",
            F.datediff(F.least("a_end", "b_end"), F.greatest("a_start", "b_start")) + 1,
        )
    )
    return pairs.groupBy("nationkey").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("overlap_days").alias("sum_overlap_days"),
        F.max("overlap_days").cast("long").alias("max_overlap_days"),
    )


# ---------------------------------------------------------------------------
# Batch sessionization with session ids (gaps-and-islands)
# ---------------------------------------------------------------------------

_SESSION_GAP_US = 30 * 60 * 1_000_000

_SESSIONIZE_ORACLE = f"""
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
         CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
  FROM events
),
flag AS (
  SELECT *, CASE WHEN lag(ts_us) OVER w IS NULL
                   OR ts_us - lag(ts_us) OVER w > {_SESSION_GAP_US}
                 THEN 1 ELSE 0 END AS is_new
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
),
sess AS (
  SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                              ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flag
)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       MIN(ts_us) AS start_us, MAX(ts_us) AS end_us,
       MAX(ts_us) - MIN(ts_us) AS duration_us,
       CAST(SUM(cents) AS BIGINT) AS sum_cents
FROM sess GROUP BY user_id, session_id
"""


@register("tw_sessionize_ids", oracle=_SESSIONIZE_ORACLE, tags=("window", "timeseries"))
def tw_sessionize_ids(spark, sf_dir):
    """Batch sessionization with stable per-user session ids: a new
    session starts after a >30-min silence (gaps-and-islands: lag ->
    boundary flag -> running sum). Complements `tw_session_30min_by_user`
    (session_window) by materializing the session MEMBERSHIP — the shape
    replay/attribution pipelines join back to raw events. Both window
    passes share ONE partitioning (user_id) — a single shuffle, then
    per-user linear state; all time math is integer micros."""
    ev = events_with_time(spark, sf_dir).select(
        "user_id",
        "event_id",
        "ts_us",
        (dec("value", VAL) * 100).cast("long").alias("cents"),
    )
    w = W.partitionBy("user_id").orderBy("ts_us", "event_id")
    is_new = (
        F.when(
            F.lag("ts_us").over(w).isNull()
            | (F.col("ts_us") - F.lag("ts_us").over(w) > _SESSION_GAP_US),
            1,
        )
        .otherwise(0)
    )
    sess = ev.withColumn("is_new", is_new).withColumn(
        "session_id",
        F.sum("is_new").over(w.rowsBetween(W.unboundedPreceding, 0)),
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts_us").alias("start_us"),
        F.max("ts_us").alias("end_us"),
        (F.max("ts_us") - F.min("ts_us")).alias("duration_us"),
        F.sum("cents").alias("sum_cents"),
    )


# ---------------------------------------------------------------------------
# TF-IDF cosine retrieval (full-corpus norms, quantized weights)
# ---------------------------------------------------------------------------

_TFIDF_TERMS = ("spark", "table", "scan")
_TFIDF_K = 10
_WQ = 1_000_000  # weight quantization: w_int = round(tf * idf * 1e6)

_TFIDF_ORACLE = f"""
WITH t AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
tf AS (
  SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf
  FROM t WHERE term <> '' GROUP BY doc_id, term
),
df AS (
  SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY term
),
n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n FROM tf),
w AS (
  SELECT tf.doc_id, tf.term,
         CAST(round(tf.tf * ln(n.n / df.df) * {_WQ}) AS BIGINT) AS wq
  FROM tf JOIN df USING (term) CROSS JOIN n
),
norms AS (
  SELECT doc_id, sqrt(CAST(SUM(CAST(wq AS DECIMAL(38,0)) * wq) AS DOUBLE)) AS dnorm
  FROM w GROUP BY doc_id
),
qw AS (
  SELECT term, CAST(round(ln(n.n / df.df) * {_WQ}) AS BIGINT) AS qwq
  FROM df CROSS JOIN n WHERE term IN ({", ".join(f"'{t}'" for t in _TFIDF_TERMS)})
),
qnorm AS (
  SELECT sqrt(CAST(SUM(CAST(qwq AS DECIMAL(38,0)) * qwq) AS DOUBLE)) AS qn FROM qw
),
dots AS (
  SELECT w.doc_id,
         CAST(SUM(CAST(w.wq AS DECIMAL(38,0)) * qw.qwq) AS DOUBLE) AS dot
  FROM w JOIN qw USING (term) GROUP BY w.doc_id
)
SELECT d.doc_id, round(d.dot / (nr.dnorm * q.qn), 5) AS cosine
FROM dots d JOIN norms nr USING (doc_id) CROSS JOIN qnorm q
WHERE d.dot > 0
ORDER BY cosine DESC, doc_id LIMIT {_TFIDF_K}
"""


@register("text_tfidf_cosine_topk", oracle=_TFIDF_ORACLE, tags=("llm", "text", "retrieval"))
def text_tfidf_cosine_topk(spark, sf_dir):
    """TF-IDF cosine retrieval with TRUE full-vocabulary document norms
    (unlike BM25's query-terms-only scoring): explode -> per-(doc,term)
    tf -> per-term df -> idf weights -> per-doc norm -> query-side dot
    product -> top-k. All four shuffles are keyed (term / doc_id) and
    map-side combinable; the query vector and its norm are broadcast
    singletons; the result is TakeOrderedAndProject.

    Exactness: weights are QUANTIZED to int64 (round(tf*idf*1e6)) before
    any cross-row sum, so norm/dot accumulation is exact integer math in
    both engines (double sums are order-dependent under shuffle and
    would not be bit-stable); tf, df, N are exact counts, and ln/sqrt
    on identical doubles are identical IEEE ops."""
    docs = load_table(spark, sf_dir, "documents")
    # The tf relation feeds FOUR consumers (df, norms, dots, n), so it
    # is pinned ONCE with an eager localCheckpoint instead of
    # recomputing the tokenize+groupBy subtree per consumer (the
    # round-3 scan-widening attempt multiplied the recompute instead —
    # 1.1 -> 3.6 s at sf0.1 — and was reverted; materialize-once is the
    # fix that works: measured 3.0x -> ~1.5x at the 10x probe). No
    # spread() needed — the groupBy exchange already widens the narrow
    # scan before any consumer.
    tf = pin(
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
    )
    df = tf.groupBy("term").agg(F.count(F.lit(1)).cast("double").alias("df"))
    n = tf.agg(F.count_distinct("doc_id").cast("double").alias("n"))
    w = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            F.round(F.col("tf") * F.log(F.col("n") / F.col("df")) * _WQ)
            .cast("long")
            .alias("wq"),
        )
    )
    w38 = F.col("wq").cast("decimal(38,0)")
    norms = w.groupBy("doc_id").agg(
        F.sqrt(F.sum(w38 * F.col("wq")).cast("double")).alias("dnorm")
    )
    qw = (
        df.crossJoin(F.broadcast(n))
        .filter(F.col("term").isin(*_TFIDF_TERMS))
        .select(
            "term",
            F.round(F.log(F.col("n") / F.col("df")) * _WQ).cast("long").alias("qwq"),
        )
    )
    q38 = F.col("qwq").cast("decimal(38,0)")
    qnorm = qw.agg(F.sqrt(F.sum(q38 * F.col("qwq")).cast("double")).alias("qn"))
    dots = (
        w.join(F.broadcast(qw), "term")
        .groupBy("doc_id")
        .agg(F.sum(w38 * F.col("qwq")).cast("double").alias("dot"))
    )
    return (
        dots.join(norms, "doc_id")
        .crossJoin(F.broadcast(qnorm))
        .filter(F.col("dot") > 0)
        .select(
            "doc_id",
            F.round(F.col("dot") / (F.col("dnorm") * F.col("qn")), 5).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc("doc_id"))
        .limit(_TFIDF_K)
    )


# ---------------------------------------------------------------------------
# Near-dup rate attribution by source (dedup pairs joined back to metadata)
# ---------------------------------------------------------------------------

_DUP_RATE_ORACLE = """
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(toks) - 1),
                       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles
  FROM t WHERE len(toks) >= 3
), pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sh a, sh b
  WHERE a.doc_id < b.doc_id
    AND CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
        / len(list_distinct(list_concat(a.shingles, b.shingles))) >= 0.5
), dup_docs AS (
  SELECT id_a AS doc_id FROM pairs UNION SELECT id_b FROM pairs
)
SELECT d.source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(dd.doc_id) AS BIGINT) AS n_dup_docs,
       round(CAST(COUNT(dd.doc_id) AS DOUBLE) / COUNT(*), 5) AS dup_share
FROM documents d LEFT JOIN dup_docs dd USING (doc_id)
GROUP BY d.source
"""


def dup_rate_by_source(docs, components=None):
    """Per-source near-dup share from the exact-Jaccard pair graph.

    ``components``: optionally pass a PRECOMPUTED
    `dedup.exact_jaccard_components(docs)` result. The decomposition
    (clone collapse -> PPJoin -> connected components) is the expensive
    stage, and several reports consume it (this one, `dedup_cc_clusters`,
    canonical picks); a composed pipeline should compute it ONCE —
    ideally pinned via its `checkpoint_dir` — and fan out, instead of
    paying it per report. The registered queries stay independent
    (each is a self-contained user entry point; the driver and bench
    measure them that way — see PLANS.md)."""
    from ..operators import dedup

    if components is None:
        components = dedup.exact_jaccard_components(docs)
    dup_docs = (
        components
        .select(F.col("node").alias("doc_id"))
        .withColumn("is_dup", F.lit(1))
    )
    return (
        docs.join(dup_docs, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count("is_dup").alias("n_dup_docs"),
            F.round(F.count("is_dup") / F.count(F.lit(1)), 5).alias("dup_share"),
        )
    )


@register("pipeline_dup_rate_by_source", oracle=_DUP_RATE_ORACLE, tags=("llm", "dedup", "pipeline"))
def pipeline_dup_rate_by_source(spark, sf_dir):
    """Duplication-rate attribution: which SOURCES contribute near-dups
    (3-gram Jaccard >= 0.5) — the report a curation pipeline uses to
    decide per-source dedup budgets. A doc "has a near-dup" iff it
    appears in the pair graph, which is exactly the node set of
    `exact_jaccard_components` — the CLONE-COLLAPSED decomposition, so
    byte-identical clones never enter the similarity join (running the
    PPJoin on raw docs measured 11.7x wall at the clone-heavy 10x probe
    vs 1.3x collapsed: clone families grow candidate pairs
    quadratically). The oracle recomputes the dup set from the
    quadratic pair join in DuckDB — re-verifying the whole collapsed
    decomposition end-to-end. See `dup_rate_by_source` for sharing the
    decomposition across reports in a composed pipeline."""
    return dup_rate_by_source(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# URL synthesis + parsing (web-corpus domain attribution)
# ---------------------------------------------------------------------------

_URL_ORACLE = """
WITH u AS (
  SELECT doc_id,
         'https://www.' || source || '.example.com/' || lang || '/doc-'
           || doc_id || CASE WHEN doc_id % 3 = 0 THEN '?ref=search'
                             WHEN doc_id % 3 = 1 THEN '?ref=feed'
                             ELSE '' END AS url
  FROM documents
),
p AS (
  SELECT doc_id, url,
         regexp_extract(url, 'https?://([^/]+)/', 1) AS host,
         regexp_extract(url, 'https?://[^/]+(/[^?]*)', 1) AS path,
         regexp_extract(url, '[?&]ref=([a-z]+)', 1) AS ref
  FROM u
)
SELECT host,
       COALESCE(NULLIF(ref, ''), 'none') AS ref,
       CAST(COUNT(*) AS BIGINT) AS n_urls,
       CAST(SUM(len(path)) AS BIGINT) AS total_path_chars,
       MIN(doc_id) AS first_doc
FROM p GROUP BY host, COALESCE(NULLIF(ref, ''), 'none')
"""


@register("scalar_url_parse", oracle=_URL_ORACLE, tags=("scalar", "text"))
def scalar_url_parse(spark, sf_dir):
    """URL parsing + domain attribution — the host/path/query
    decomposition every web-corpus pipeline runs before per-domain
    dedup/quality policies. URLs are synthesized deterministically from
    the corpus (the fixture has no URL column), then parsed with the
    SAME regex in both engines (capture groups only — portable across
    Java regex and RE2). Pure per-row regexp in whole-stage codegen +
    one keyed agg; `parse_url()` would be the Spark-only shortcut, the
    regex form is engine-portable on purpose."""
    docs = load_table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://www."),
        F.col("source"),
        F.lit(".example.com/"),
        F.col("lang"),
        F.lit("/doc-"),
        F.col("doc_id"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("?ref=search"))
        .when(F.col("doc_id") % 3 == 1, F.lit("?ref=feed"))
        .otherwise(F.lit("")),
    )
    p = docs.select(
        "doc_id",
        url.alias("url"),
        F.regexp_extract(url, r"https?://([^/]+)/", 1).alias("host"),
        F.regexp_extract(url, r"https?://[^/]+(/[^?]*)", 1).alias("path"),
        F.regexp_extract(url, r"[?&]ref=([a-z]+)", 1).alias("ref"),
    )
    ref = F.coalesce(F.nullif(F.col("ref"), F.lit("")), F.lit("none"))
    return p.groupBy("host", ref.alias("ref")).agg(
        F.count(F.lit(1)).alias("n_urls"),
        F.sum(F.length("path")).alias("total_path_chars"),
        F.min("doc_id").alias("first_doc"),
    )


# ---------------------------------------------------------------------------
# As-of join with tolerance (bounded-staleness match)
# ---------------------------------------------------------------------------

_ASOF_TOL_US = 60 * 60 * 1_000_000  # 1 hour

_ASOF_TOL_ORACLE = f"""
WITH ev AS (
  SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us
  FROM events WHERE event_type IN ('view', 'purchase')
),
m AS (
  SELECT *,
         last_value(CASE WHEN event_type = 'view' THEN event_id END IGNORE NULLS)
           OVER w AS prev_view_id,
         last_value(CASE WHEN event_type = 'view' THEN ts_us END IGNORE NULLS)
           OVER w AS prev_view_ts
  FROM ev
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
)
SELECT event_id, user_id, ts_us,
       CASE WHEN ts_us - prev_view_ts <= {_ASOF_TOL_US}
            THEN prev_view_id END AS matched_view_id,
       CASE WHEN ts_us - prev_view_ts <= {_ASOF_TOL_US}
            THEN ts_us - prev_view_ts END AS staleness_us
FROM m WHERE event_type = 'purchase'
"""


@register("join_asof_tolerance", oracle=_ASOF_TOL_ORACLE, tags=("join", "asof", "window"))
def join_asof_tolerance(spark, sf_dir):
    """As-of join with a TOLERANCE bound (pandas merge_asof semantics):
    each purchase matches the user's most recent preceding view only if
    it is at most 1 hour stale — the attribution-window variant every
    real as-of consumer needs (an unbounded as-of silently attributes
    to arbitrarily old events). Same scale shape as
    `join_asof_purchase_to_view`: interleave + ONE keyed window pass,
    no range-join explosion; the tolerance is a post-window predicate,
    not a join condition, so the plan is unchanged."""
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("view", "purchase"))
        .select(
            "event_id", "user_id", "event_type",
            F.expr("ts DIV 1000").alias("ts_us"),
        )
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    prev_id = F.last(
        F.when(F.col("event_type") == "view", F.col("event_id")), ignorenulls=True
    ).over(w)
    prev_ts = F.last(
        F.when(F.col("event_type") == "view", F.col("ts_us")), ignorenulls=True
    ).over(w)
    fresh = (F.col("ts_us") - F.col("prev_view_ts")) <= _ASOF_TOL_US
    return (
        ev.withColumn("prev_view_id", prev_id)
        .withColumn("prev_view_ts", prev_ts)
        .filter("event_type = 'purchase'")
        .select(
            "event_id",
            "user_id",
            "ts_us",
            F.when(fresh, F.col("prev_view_id")).alias("matched_view_id"),
            F.when(fresh, F.col("ts_us") - F.col("prev_view_ts")).alias("staleness_us"),
        )
    )


# ---------------------------------------------------------------------------
# Fixed-bin histogram (distribution profiling)
# ---------------------------------------------------------------------------

_HIST_BIN_W = 25

_HIST_ORACLE = f"""
WITH b AS (
  SELECT CAST(FLOOR(value / {_HIST_BIN_W}) AS BIGINT) AS bin_id,
         CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
  FROM events
),
h AS (
  SELECT bin_id, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(cents) AS BIGINT) AS sum_cents
  FROM b GROUP BY bin_id
),
t AS (SELECT CAST(SUM(n) AS DOUBLE) AS total FROM h)
SELECT h.bin_id, h.bin_id * {_HIST_BIN_W} AS lo,
       (h.bin_id + 1) * {_HIST_BIN_W} AS hi,
       h.n, h.sum_cents,
       round(h.n / t.total, 6) AS share
FROM h CROSS JOIN t
"""


@register("agg_histogram_fixed_bins", oracle=_HIST_ORACLE, tags=("agg", "stats"))
def agg_histogram_fixed_bins(spark, sf_dir):
    """Fixed-width histogram of events.value (bin = floor(value/25)) —
    the distribution-profiling primitive behind data-quality dashboards
    and z-order/bucket boundary decisions. One map-side-combinable agg
    keyed by bin; the grand total for the share column is a broadcast
    singleton, not a second scan (reuses the histogram itself)."""
    ev = load_table(spark, sf_dir, "events")
    h = (
        ev.select(
            F.floor(F.col("value") / _HIST_BIN_W).cast("long").alias("bin_id"),
            (dec("value", VAL) * 100).cast("long").alias("cents"),
        )
        .groupBy("bin_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("cents").alias("sum_cents"))
    )
    total = h.agg(F.sum("n").cast("double").alias("total"))
    return h.crossJoin(F.broadcast(total)).select(
        "bin_id",
        (F.col("bin_id") * _HIST_BIN_W).alias("lo"),
        ((F.col("bin_id") + 1) * _HIST_BIN_W).alias("hi"),
        "n",
        "sum_cents",
        F.round(F.col("n") / F.col("total"), 6).alias("share"),
    )


# ---------------------------------------------------------------------------
# Cross-source n-gram overlap matrix (contamination between corpus slices)
# ---------------------------------------------------------------------------

_OVERLAP_N = 8

_OVERLAP_ORACLE = f"""
WITH t AS (
  SELECT source, string_split(text, ' ') AS toks FROM documents
),
g AS (
  SELECT DISTINCT source, gram FROM (
    SELECT source,
           unnest(CASE WHEN len(toks) >= {_OVERLAP_N}
                  THEN [array_to_string(toks[i:i+{_OVERLAP_N - 1}], ' ')
                        FOR i IN generate_series(1, len(toks) - {_OVERLAP_N - 1})]
                  ELSE [] END) AS gram
    FROM t
  )
)
SELECT a.source AS source_a, b.source AS source_b,
       CAST(COUNT(*) AS BIGINT) AS shared_grams
FROM g a JOIN g b ON a.gram = b.gram AND a.source < b.source
GROUP BY a.source, b.source
"""


@register("pipeline_source_overlap_ngrams", oracle=_OVERLAP_ORACLE, tags=("llm", "dedup", "pipeline"))
def pipeline_source_overlap_ngrams(spark, sf_dir):
    """Cross-source contamination matrix: distinct 8-grams shared
    between every source pair — the slice-level view of benchmark
    decontamination (which corpus slices leak into each other, and how
    much). ONE scan builds the distinct (source, gram) set; the pair
    counts come from a gram-keyed self-equi-join (never a cross join —
    grams shared by all sources produce per-gram pair fanout bounded by
    |sources|^2, and the DISTINCT collapse runs before the join). At
    100 TB swap the gram string for xxhash64(gram) exactly as the
    decontamination operator documents."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    grams = F.when(
        F.size(toks) >= _OVERLAP_N,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - _OVERLAP_N),
            lambda i: F.array_join(F.slice(toks, i + 1, _OVERLAP_N), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # The distinct (source, gram) set feeds both sides of the self-join.
    # Deliberately NOT pinned: an eager localCheckpoint of the gram set
    # (the corpus's full distinct n-gram vocabulary) costs more to
    # write than the recompute it saves (measured 2.9->3.2 s at sf0.1,
    # ~5.1->4.9 s at the 10x probe) — unlike the tiny tf/pair relations
    # the other materialize-once sites pin.
    g = (
        docs.select("source", F.explode(grams).alias("gram"))
        .distinct()
    )
    return (
        g.alias("a")
        .join(g.alias("b"), "gram")
        .filter(F.col("a.source") < F.col("b.source"))
        .groupBy(
            F.col("a.source").alias("source_a"), F.col("b.source").alias("source_b")
        )
        .agg(F.count(F.lit(1)).alias("shared_grams"))
    )


# ---------------------------------------------------------------------------
# One k-means (Lloyd) step over the embedding corpus — exact integer math
# ---------------------------------------------------------------------------

_KM_Q = 1_000_000  # component quantization: xq = round(x * 1e6)

_KMEANS_ORACLE = f"""
WITH comp AS (
  SELECT vec_id, label, generate_subscripts(embedding, 1) AS dim,
         unnest(embedding) AS x
  FROM embeddings
),
q AS (
  SELECT vec_id, label, dim,
         CAST(round(CAST(x AS DOUBLE) * {_KM_Q}) AS BIGINT) AS xq
  FROM comp
),
cent AS (
  SELECT label AS clabel, dim, CAST(SUM(xq) AS BIGINT) AS s,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM q GROUP BY label, dim
),
terms AS (
  SELECT v.vec_id, v.label, c.clabel, c.n,
         CAST(v.xq * c.n - c.s AS DECIMAL(38,0)) AS t
  FROM q v JOIN cent c ON c.dim = v.dim
),
d2 AS (
  SELECT vec_id, label, clabel,
         CAST(SUM(t * t) AS DOUBLE) / (CAST(MIN(n) AS DOUBLE) * MIN(n)) AS dist2
  FROM terms GROUP BY vec_id, label, clabel
),
assign AS (
  SELECT vec_id, label, clabel,
         row_number() OVER (PARTITION BY vec_id ORDER BY dist2, clabel) AS rn
  FROM d2
)
SELECT label, clabel AS assigned,
       CAST(COUNT(*) AS BIGINT) AS n_vectors
FROM assign WHERE rn = 1
GROUP BY label, clabel
"""


@register("ml_kmeans_step_assign", oracle=_KMEANS_ORACLE, tags=("llm", "similarity", "ml"))
def ml_kmeans_step_assign(spark, sf_dir):
    """One Lloyd iteration over the embedding corpus: centroids = per-
    label means, every vector re-assigned to its nearest centroid
    (squared euclidean), output = the label x assignment confusion
    matrix — the building block of k-means/IVF codebook training run
    AS A QUERY on the engine.

    Exactness: components quantize to int64 (round(x*1e6)); the
    distance argmin compares sum((xq*n - S)^2) / n^2 where S, n are the
    exact centroid sums — the numerator is an exact DECIMAL(38) sum
    (order-independent), the division is one double op per (vec,
    centroid). No float is ever accumulated across rows in either
    engine, so assignment ties break identically (then by centroid id).

    Scale: the (vec x centroid x dim) join is the textbook distributed
    Lloyd step — centroids are a broadcast-size relation (k x dim), the
    per-vector work is map-side; at 100 TB with large k, the same plan
    shards by IVF cell instead of label (see operators/similarity.py),
    identical join shape."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.select(
        "vec_id",
        "label",
        F.posexplode("embedding").alias("dim0", "x"),
    ).select(
        "vec_id",
        "label",
        (F.col("dim0") + 1).alias("dim"),
        F.round(F.col("x").cast("double") * _KM_Q).cast("long").alias("xq"),
    )
    cent = q.groupBy(F.col("label").alias("clabel"), "dim").agg(
        F.sum("xq").alias("s"), F.count(F.lit(1)).alias("n")
    )
    t = (F.col("xq") * F.col("n") - F.col("s")).cast("decimal(38,0)")
    d2 = (
        q.join(F.broadcast(cent), "dim")
        .select("vec_id", "label", "clabel", "n", t.alias("t"))
        .groupBy("vec_id", "label", "clabel")
        .agg(
            (
                F.sum(F.col("t") * F.col("t")).cast("double")
                / (F.min("n").cast("double") * F.min("n"))
            ).alias("dist2")
        )
    )
    w = W.partitionBy("vec_id").orderBy("dist2", "clabel")
    return (
        d2.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .groupBy("label", F.col("clabel").alias("assigned"))
        .agg(F.count(F.lit(1)).alias("n_vectors"))
    )


# ---------------------------------------------------------------------------
# Ordered funnel (signup -> view -> purchase) per user
# ---------------------------------------------------------------------------

_FUNNEL_STEP_US = 48 * 3600 * 1_000_000  # each step within 48h of the last

_FUNNEL_ORACLE = f"""
WITH e AS (
  SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events
),
s1 AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'signup' THEN ts_us END) AS t_signup
  FROM e GROUP BY user_id
),
s2 AS (
  SELECT e.user_id, s1.t_signup,
         MIN(CASE WHEN e.event_type = 'view' AND e.ts_us > s1.t_signup
                       AND e.ts_us <= s1.t_signup + {_FUNNEL_STEP_US}
                  THEN e.ts_us END) AS t_view
  FROM e JOIN s1 USING (user_id) GROUP BY e.user_id, s1.t_signup
),
s3 AS (
  SELECT e.user_id, s2.t_signup, s2.t_view,
         MIN(CASE WHEN e.event_type = 'purchase' AND e.ts_us > s2.t_view
                       AND e.ts_us <= s2.t_view + {_FUNNEL_STEP_US}
                  THEN e.ts_us END) AS t_purchase
  FROM e JOIN s2 USING (user_id) GROUP BY e.user_id, s2.t_signup, s2.t_view
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(COUNT(t_signup) AS BIGINT) AS n_signup,
       CAST(COUNT(t_view) AS BIGINT) AS n_view_after,
       CAST(COUNT(t_purchase) AS BIGINT) AS n_purchase_after,
       round(CAST(COUNT(t_purchase) AS DOUBLE) / COUNT(t_signup), 5) AS full_conv_rate
FROM s3
"""


@register("win_funnel_stages", oracle=_FUNNEL_ORACLE, tags=("window", "analytics"))
def win_funnel_stages(spark, sf_dir):
    """ORDERED funnel: users who signed up, then viewed AFTER the
    signup (within 48h), then purchased after that view (within 48h)
    — the sequence-matching query behind conversion dashboards (order
    AND recency matter: a purchase before the view, or months later,
    does not count). Three conditional-min aggregations chained per
    user, all keyed on user_id: at fixture scale Catalyst broadcasts
    each stage's tiny per-user output back onto the event scan (plan
    shows 3 user_id shuffles + BroadcastHashJoins); at 100 TB the
    stage outputs exceed broadcast and sort-merge-join CO-PARTITIONED
    with the next groupBy's exchange — funnel depth never multiplies
    shuffled bytes beyond one pass of (user, ts) pairs per stage.
    Counts are exact integers; the one conversion ratio is a single
    double division."""
    ev = events_with_time(spark, sf_dir).select("user_id", "event_type", "ts_us")
    s1 = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts_us"))).alias("t_signup")
    )
    s2 = (
        ev.join(s1, "user_id")
        .groupBy("user_id", "t_signup")
        .agg(
            F.min(
                F.when(
                    (F.col("event_type") == "view")
                    & (F.col("ts_us") > F.col("t_signup"))
                    & (F.col("ts_us") <= F.col("t_signup") + _FUNNEL_STEP_US),
                    F.col("ts_us"),
                )
            ).alias("t_view")
        )
    )
    s3 = (
        ev.join(s2, "user_id")
        .groupBy("user_id", "t_signup", "t_view")
        .agg(
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts_us") > F.col("t_view"))
                    & (F.col("ts_us") <= F.col("t_view") + _FUNNEL_STEP_US),
                    F.col("ts_us"),
                )
            ).alias("t_purchase")
        )
    )
    return s3.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("t_signup").alias("n_signup"),
        F.count("t_view").alias("n_view_after"),
        F.count("t_purchase").alias("n_purchase_after"),
        F.round(
            F.count("t_purchase").cast("double") / F.count("t_signup"), 5
        ).alias("full_conv_rate"),
    )


# ---------------------------------------------------------------------------
# Deterministic weighted sampling (systematic, inclusion prob ∝ weight)
# ---------------------------------------------------------------------------

_WS_K = 20  # picks per source

_WSAMPLE_ORACLE = f"""
WITH w AS (
  SELECT source, doc_id, n_chars,
         SUM(n_chars) OVER (PARTITION BY source ORDER BY doc_id
                            ROWS UNBOUNDED PRECEDING) AS cum_w,
         SUM(n_chars) OVER (PARTITION BY source) AS total_w
  FROM documents
)
SELECT source, doc_id, n_chars,
       CAST((cum_w * {_WS_K}) // total_w AS BIGINT) AS pick_idx
FROM w
WHERE (cum_w * {_WS_K}) // total_w > ((cum_w - n_chars) * {_WS_K}) // total_w
"""


@register("pipeline_weighted_sample", oracle=_WSAMPLE_ORACLE, tags=("llm", "pipeline", "sampling"))
def pipeline_weighted_sample(spark, sf_dir):
    """Deterministic WEIGHTED sampling, ~K docs per source with
    inclusion probability proportional to n_chars (token-budget-aware
    corpus subsetting: long documents are worth more of the budget).
    Systematic scheme: a doc is picked iff a multiple of total_w/K
    falls inside its cumulative-weight interval — exact BIGINT
    cross-multiplication (cum*K DIV total), no transcendental keys, so
    the sample is bit-reproducible across engines AND across cluster
    topologies (the A-Res u^(1/w) formulation would hinge on libm pow
    ulps for boundary membership). One shuffle on source (both window
    passes share it); rescaling K or re-sampling after appends is a
    re-scan, no state."""
    docs = load_table(spark, sf_dir, "documents")
    w_cum = (
        W.partitionBy("source").orderBy("doc_id").rowsBetween(W.unboundedPreceding, 0)
    )
    w_all = W.partitionBy("source")
    d = docs.select(
        "source",
        "doc_id",
        "n_chars",
        F.sum("n_chars").over(w_cum).alias("cum_w"),
        F.sum("n_chars").over(w_all).alias("total_w"),
    )
    pick = F.expr(f"(cum_w * {_WS_K}) DIV total_w")
    prev_pick = F.expr(f"((cum_w - n_chars) * {_WS_K}) DIV total_w")
    return d.filter(pick > prev_pick).select(
        "source", "doc_id", "n_chars", pick.alias("pick_idx")
    )


# ---------------------------------------------------------------------------
# Integer-quantized PageRank, 3 unrolled iterations (iterative-algorithm
# shape with an EXACT SQL oracle)
# ---------------------------------------------------------------------------

_PR_Q = 1_000_000_000_000

_PAGERANK_ORACLE = """
WITH e0 AS (
  SELECT DISTINCT o.o_custkey * 2 AS u, l.l_suppkey * 2 + 1 AS v
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
), sym AS (
  SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0
), deg AS (
  SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS deg FROM sym GROUP BY u
), b AS (
  SELECT CAST(1000000000000 // COUNT(*) AS BIGINT) AS quantum,
         CAST(((1000000000000 // COUNT(*)) * 15) // 100 AS BIGINT) AS base
  FROM deg
), r0 AS (
  SELECT d.node, d.deg, b.quantum AS r FROM deg d, b
), r1 AS (
  SELECT s.u AS node, b.base + (85 * SUM(r0.r // r0.deg)) // 100 AS r
  FROM sym s JOIN r0 ON r0.node = s.v, b
  GROUP BY s.u, b.base
), r1d AS (
  SELECT r1.node, d.deg, r1.r FROM r1 JOIN deg d ON d.node = r1.node
), r2 AS (
  SELECT s.u AS node, b.base + (85 * SUM(r1d.r // r1d.deg)) // 100 AS r
  FROM sym s JOIN r1d ON r1d.node = s.v, b
  GROUP BY s.u, b.base
), r2d AS (
  SELECT r2.node, d.deg, r2.r FROM r2 JOIN deg d ON d.node = r2.node
), r3 AS (
  SELECT s.u AS node, b.base + (85 * SUM(r2d.r // r2d.deg)) // 100 AS r
  FROM sym s JOIN r2d ON r2d.node = s.v, b
  GROUP BY s.u, b.base
)
SELECT node, node % 2 = 1 AS is_supplier, node // 2 AS entity_key,
       CAST(r AS BIGINT) AS rank_micro
FROM r3 ORDER BY r DESC, node LIMIT 20
"""


@register("graph_pagerank_3iter", oracle=_PAGERANK_ORACLE, tags=("graph", "analytics"))
def graph_pagerank_3iter(spark, sf_dir):
    """PageRank (d=0.85, 3 unrolled iterations) over the bipartite
    customer-supplier order graph, top-20 — the iterative-algorithm
    shape, made EXACTLY oracle-checkable by integer quantization: total
    mass is 10^12 micro-units, every per-edge contribution is BIGINT
    DIV, so both engines round identically at every step and the
    ranking is bit-reproducible (a float formulation would drift with
    summation order across cluster topologies). Plan per iteration: one
    neighbor equi-join + one map-side-combinable sum — the log-bounded
    round structure connected_components uses; the edge list and degree
    relation are pinned once and reused by all three rounds. Top-20 is
    TakeOrderedAndProject (total order: rank desc, node), never a
    global sort."""
    from ..operators.graph import pagerank

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    e0 = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("u"),
            (F.col("l_suppkey") * 2 + 1).alias("v"),
        )
        .distinct()
    )
    r = pagerank(e0, n_iters=3, total_mass=_PR_Q, damping_pct=85)
    return (
        r.select(
            "node",
            F.expr("node % 2 = 1").alias("is_supplier"),
            F.expr("node DIV 2").alias("entity_key"),
            F.col("rank_micro"),
        )
        .orderBy(F.desc("rank_micro"), "node")
        .limit(20)
    )


_PAGERANK5_ORACLE = """
WITH e0 AS (
  SELECT DISTINCT o.o_custkey * 2 AS u, l.l_suppkey * 2 + 1 AS v
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
), sym AS (
  SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0
), deg AS (
  SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS deg FROM sym GROUP BY u
), b AS (
  SELECT CAST(1000000000000 // COUNT(*) AS BIGINT) AS quantum,
         CAST(((1000000000000 // COUNT(*)) * 15) // 100 AS BIGINT) AS base
  FROM deg
), r0 AS (
  SELECT d.node, d.deg, b.quantum AS r FROM deg d, b
), r1 AS (
  SELECT s.u AS node, b.base + (85 * SUM(r0.r // r0.deg)) // 100 AS r
  FROM sym s JOIN r0 ON r0.node = s.v, b GROUP BY s.u, b.base
), r1d AS (
  SELECT r1.node, d.deg, r1.r FROM r1 JOIN deg d ON d.node = r1.node
), r2 AS (
  SELECT s.u AS node, b.base + (85 * SUM(r1d.r // r1d.deg)) // 100 AS r
  FROM sym s JOIN r1d ON r1d.node = s.v, b GROUP BY s.u, b.base
), r2d AS (
  SELECT r2.node, d.deg, r2.r FROM r2 JOIN deg d ON d.node = r2.node
), r3 AS (
  SELECT s.u AS node, b.base + (85 * SUM(r2d.r // r2d.deg)) // 100 AS r
  FROM sym s JOIN r2d ON r2d.node = s.v, b GROUP BY s.u, b.base
), r3d AS (
  SELECT r3.node, d.deg, r3.r FROM r3 JOIN deg d ON d.node = r3.node
), r4 AS (
  SELECT s.u AS node, b.base + (85 * SUM(r3d.r // r3d.deg)) // 100 AS r
  FROM sym s JOIN r3d ON r3d.node = s.v, b GROUP BY s.u, b.base
), r4d AS (
  SELECT r4.node, d.deg, r4.r FROM r4 JOIN deg d ON d.node = r4.node
), r5 AS (
  SELECT s.u AS node, b.base + (85 * SUM(r4d.r // r4d.deg)) // 100 AS r
  FROM sym s JOIN r4d ON r4d.node = s.v, b GROUP BY s.u, b.base
)
SELECT node, node % 2 = 1 AS is_supplier, node // 2 AS entity_key,
       CAST(r AS BIGINT) AS rank_micro
FROM r5 ORDER BY r DESC, node LIMIT 20
"""


@register("graph_pagerank_5iter", oracle=_PAGERANK5_ORACLE, tags=("graph", "analytics"))
def graph_pagerank_5iter(spark, sf_dir):
    """The generalized `operators.graph.pagerank` at n_iters=5 under the
    bit-exact integer oracle (VERDICT r4 #4's k=5 check, driver-run):
    every round is one neighbor equi-join + one map-side-combinable
    keyed sum, the rank relation re-pinned per round so round 5's plan
    is as shallow as round 1's — no lineage nesting. Same quantized
    arithmetic as graph_pagerank_3iter (BIGINT DIV everywhere, both
    engines round identically at every step)."""
    from ..operators.graph import pagerank

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    e0 = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("u"),
            (F.col("l_suppkey") * 2 + 1).alias("v"),
        )
        .distinct()
    )
    r = pagerank(e0, n_iters=5, total_mass=_PR_Q, damping_pct=85)
    return (
        r.select(
            "node",
            F.expr("node % 2 = 1").alias("is_supplier"),
            F.expr("node DIV 2").alias("entity_key"),
            F.col("rank_micro"),
        )
        .orderBy(F.desc("rank_micro"), "node")
        .limit(20)
    )


_KMEANS_UPDATE_ORACLE = f"""
WITH comp AS (
  SELECT vec_id, label, generate_subscripts(embedding, 1) AS dim,
         unnest(embedding) AS x
  FROM embeddings
),
q AS (
  SELECT vec_id, label, dim,
         CAST(round(CAST(x AS DOUBLE) * {_KM_Q}) AS BIGINT) AS xq
  FROM comp
),
cent AS (
  SELECT label AS clabel, dim, CAST(SUM(xq) AS BIGINT) AS s,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM q GROUP BY label, dim
),
terms AS (
  SELECT v.vec_id, v.label, c.clabel, c.n,
         CAST(v.xq * c.n - c.s AS DECIMAL(38,0)) AS t
  FROM q v JOIN cent c ON c.dim = v.dim
),
d2 AS (
  SELECT vec_id, label, clabel,
         CAST(SUM(t * t) AS DOUBLE) / (CAST(MIN(n) AS DOUBLE) * MIN(n)) AS dist2
  FROM terms GROUP BY vec_id, label, clabel
),
assign AS (
  SELECT vec_id, clabel,
         row_number() OVER (PARTITION BY vec_id ORDER BY dist2, clabel) AS rn
  FROM d2
)
SELECT a.clabel AS assigned, v.dim,
       CAST(COUNT(*) AS BIGINT) AS n_vectors,
       CAST(SUM(v.xq) // COUNT(*) AS BIGINT) AS mean_q
FROM assign a JOIN q v ON v.vec_id = a.vec_id
WHERE a.rn = 1
GROUP BY a.clabel, v.dim
"""


@register("ml_kmeans_step_update", oracle=_KMEANS_UPDATE_ORACLE, tags=("llm", "similarity", "ml"))
def ml_kmeans_step_update(spark, sf_dir):
    """The UPDATE half of one Lloyd iteration (ml_kmeans_step_assign is
    the assign half): re-assign every vector to its nearest centroid
    under the same exact quantized-distance argmin, then emit the NEW
    centroid table — per (assigned cluster, dim): member count and the
    integer-mean component SUM(xq) DIV n. All arithmetic is exact
    int64/DECIMAL (both engines truncate integer division toward zero),
    so the next iteration's codebook is bit-identical across engines —
    the property that makes a distributed k-means/IVF trainer's
    convergence reproducible across cluster topologies. Plan: the
    assign join (broadcast centroids, map-side distances) + ONE keyed
    agg over (cluster, dim) — k x dims output rows, map-side
    combinable."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.select(
        "vec_id",
        "label",
        F.posexplode("embedding").alias("dim0", "x"),
    ).select(
        "vec_id",
        "label",
        (F.col("dim0") + 1).alias("dim"),
        F.round(F.col("x").cast("double") * _KM_Q).cast("long").alias("xq"),
    )
    cent = q.groupBy(F.col("label").alias("clabel"), "dim").agg(
        F.sum("xq").alias("s"), F.count(F.lit(1)).alias("n")
    )
    t = (F.col("xq") * F.col("n") - F.col("s")).cast("decimal(38,0)")
    d2 = (
        q.join(F.broadcast(cent), "dim")
        .select("vec_id", "label", "clabel", "n", t.alias("t"))
        .groupBy("vec_id", "label", "clabel")
        .agg(
            (
                F.sum(F.col("t") * F.col("t")).cast("double")
                / (F.min("n").cast("double") * F.min("n"))
            ).alias("dist2")
        )
    )
    w = W.partitionBy("vec_id").orderBy("dist2", "clabel")
    assign = (
        d2.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select("vec_id", F.col("clabel").alias("assigned"))
    )
    return (
        q.join(assign, "vec_id")
        .groupBy("assigned", "dim")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.expr("SUM(xq) DIV COUNT(*)").cast("long").alias("mean_q"),
        )
    )


_DEGREE_HIST_ORACLE = """
WITH e0 AS (
  SELECT DISTINCT o.o_custkey * 2 AS u, l.l_suppkey * 2 + 1 AS v
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
), sym AS (
  SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0
), deg AS (
  SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS deg FROM sym GROUP BY u
)
SELECT CAST(floor(log2(deg)) AS BIGINT) AS log2_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_nodes,
       CAST(MIN(deg) AS BIGINT) AS min_deg,
       CAST(MAX(deg) AS BIGINT) AS max_deg,
       CAST(SUM(deg) AS BIGINT) AS total_edges_x2
FROM deg GROUP BY 1
"""


@register("graph_degree_histogram", oracle=_DEGREE_HIST_ORACLE, tags=("graph", "analytics"))
def graph_degree_histogram(spark, sf_dir):
    """Log2-bucketed degree distribution of the customer-supplier order
    graph — the first profile run before any graph algorithm at scale:
    the histogram's tail tells you whether PageRank/triangles need skew
    handling (a 10^6-degree hub) and whether the pair graph is
    power-law or flat. Two map-side-combinable aggs (degree count,
    bucket rollup); log2(deg) of a BIGINT is the same double in both
    engines, floor'd to an exact bucket id."""
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    e0 = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("u"),
            (F.col("l_suppkey") * 2 + 1).alias("v"),
        )
        .distinct()
    )
    sym = e0.unionByName(e0.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = sym.groupBy(F.col("u").alias("node")).agg(F.count(F.lit(1)).alias("deg"))
    return (
        deg.withColumn("log2_bucket", F.floor(F.log2("deg")).cast("long"))
        .groupBy("log2_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.min("deg").alias("min_deg"),
            F.max("deg").alias("max_deg"),
            F.sum("deg").alias("total_edges_x2"),
        )
    )


# ---------------------------------------------------------------------------
# Bounded min-label propagation (community triage) over the order graph.
# ---------------------------------------------------------------------------

_LBLPROP_ORACLE = """
WITH e0 AS (
  SELECT DISTINCT o.o_custkey * 2 AS u, l.l_suppkey * 2 + 1 AS v
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
), sym AS (
  SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0
), l0 AS (
  SELECT DISTINCT u AS node, u AS lbl FROM sym
), l1 AS (
  SELECT n.node, least(n.lbl, MIN(lv.lbl)) AS lbl
  FROM l0 n JOIN sym s ON s.u = n.node JOIN l0 lv ON lv.node = s.v
  GROUP BY n.node, n.lbl
), l2 AS (
  SELECT n.node, least(n.lbl, MIN(lv.lbl)) AS lbl
  FROM l1 n JOIN sym s ON s.u = n.node JOIN l1 lv ON lv.node = s.v
  GROUP BY n.node, n.lbl
), l3 AS (
  SELECT n.node, least(n.lbl, MIN(lv.lbl)) AS lbl
  FROM l2 n JOIN sym s ON s.u = n.node JOIN l2 lv ON lv.node = s.v
  GROUP BY n.node, n.lbl
)
SELECT CAST(lbl AS BIGINT) AS community,
       CAST(COUNT(*) AS BIGINT) AS n_nodes,
       CAST(MIN(node) AS BIGINT) AS min_node
FROM l3 GROUP BY lbl
ORDER BY n_nodes DESC, community LIMIT 20
"""


@register("graph_label_propagation", oracle=_LBLPROP_ORACLE, tags=("graph", "analytics"))
def graph_label_propagation(spark, sf_dir):
    """Bounded (3-round) synchronous min-label propagation over the
    bipartite customer-supplier order graph: each node's label becomes
    the minimum node id within 3 hops; the top-20 label basins by size
    are the community triage a full connected-components run refines.
    Deterministic BIGINT mins — bit-exact vs the unrolled SQL oracle.
    Per round: one neighbor equi-join + one map-side-combinable keyed
    MIN, label relation re-pinned per round (no lineage nesting) — see
    operators/graph.py:min_label_propagation."""
    from ..operators.graph import min_label_propagation

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    e0 = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("u"),
            (F.col("l_suppkey") * 2 + 1).alias("v"),
        )
        .distinct()
    )
    lbl = min_label_propagation(e0, n_iters=3)
    return (
        lbl.groupBy(F.col("lbl").alias("community"))
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.min("node").alias("min_node"),
        )
        .orderBy(F.desc("n_nodes"), F.asc("community"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Round-6: decision-stump training — exact best-split search as
# relational algebra (the weak learner under boosting/CART).
# ---------------------------------------------------------------------------

_STUMP_ORACLE = """
WITH base AS (
  SELECT CAST(round(CAST(o_totalprice AS DECIMAL(15,2)) * 100) AS BIGINT) AS v_price,
         CAST(round(CAST(c_acctbal AS DECIMAL(12,2)) * 100) AS BIGINT) AS v_bal,
         CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END
           AS label
  FROM orders JOIN customer ON c_custkey = o_custkey
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(label) AS BIGINT) AS npos
  FROM base
), f AS (
  SELECT 'price_cents' AS feature, v_price AS v, label FROM base
  UNION ALL
  SELECT 'cust_bal_cents' AS feature, v_bal AS v, label FROM base
), h AS (
  SELECT feature, v, CAST(COUNT(*) AS BIGINT) AS cnt,
         CAST(SUM(label) AS BIGINT) AS pos
  FROM f GROUP BY feature, v
), c AS (
  SELECT feature, v,
         SUM(cnt) OVER w AS nl, SUM(pos) OVER w AS pl
  FROM h
  WINDOW w AS (PARTITION BY feature ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), s AS (
  SELECT feature, v AS threshold, nl, pl,
         tot.n - nl AS nr, tot.npos - pl AS pr, tot.n AS n
  FROM c, tot WHERE nl < tot.n
), g AS (
  SELECT feature, threshold, nl, pl, nr, pr,
         CAST(
           CAST(CAST(nl AS HUGEINT) * nl - CAST(pl AS HUGEINT) * pl
                - CAST(nl - pl AS HUGEINT) * (nl - pl) AS HUGEINT)
             * 1000000 // CAST(nl AS HUGEINT)
           + CAST(CAST(nr AS HUGEINT) * nr - CAST(pr AS HUGEINT) * pr
                  - CAST(nr - pr AS HUGEINT) * (nr - pr) AS HUGEINT)
             * 1000000 // CAST(nr AS HUGEINT)
         AS BIGINT) AS gini_num_micro
  FROM s
)
SELECT feature, threshold, gini_num_micro,
       CAST(nl AS BIGINT) AS n_left, CAST(pl AS BIGINT) AS pos_left,
       CAST(nr AS BIGINT) AS n_right, CAST(pr AS BIGINT) AS pos_right
FROM g
ORDER BY gini_num_micro, feature, threshold
LIMIT 1
"""


@register("ml_decision_stump", oracle=_STUMP_ORACLE, tags=("ml", "analytics"))
def ml_decision_stump(spark, sf_dir):
    """Train a DECISION STUMP (depth-1 CART / the AdaBoost weak
    learner) entirely in relational algebra: label = order priority in
    {URGENT, HIGH}; candidate splits = every distinct value of each
    feature (order cents, customer balance cents); the winner minimizes
    the weighted Gini impurity. No sampling, no binning — the EXACT
    optimum over ~n candidate thresholds per feature.

    The split search never touches row pairs: rows collapse to the
    per-feature VALUE HISTOGRAM, a prefix sum gives every threshold's
    (n_left, pos_left) in one pass, and the weighted-Gini numerator
    n_l*gini_l + n_r*gini_r is evaluated per candidate as EXACT integer
    micro-units (n^2 - pos^2 - neg^2 over each side, HUGEINT/DECIMAL
    floor division — the engine-portable form; all operands
    nonnegative). The prefix sum runs on global_cumsum PER FEATURE —
    not a partition-by-feature window, which would serialize each
    feature's whole histogram through one task at scale. Winner by
    TakeOrdered(1) on (score, feature, threshold) — fully
    deterministic ties."""
    from ..operators.scale import global_cumsum

    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice", "o_orderpriority"
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    base = orders.join(
        F.broadcast(cust), F.col("c_custkey") == F.col("o_custkey")
    ).select(
        F.round(dec("o_totalprice", MONEY) * 100).cast("long").alias("v_price"),
        F.round(dec("c_acctbal", BAL) * 100).cast("long").alias("v_bal"),
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").cast("int").alias("label"),
    )
    tot = base.agg(
        F.count(F.lit(1)).alias("n"), F.sum("label").cast("long").alias("npos")
    )
    parts = []
    for feat, col in (("price_cents", "v_price"), ("cust_bal_cents", "v_bal")):
        h = (
            base.select(F.col(col).alias("v"), "label")
            .groupBy("v")
            .agg(F.count(F.lit(1)).alias("cnt"), F.sum("label").alias("pos"))
        )
        c = global_cumsum(h, "cnt", ["v"], cum_col="nl")
        c = global_cumsum(c, "pos", ["v"], cum_col="pl")
        parts.append(c.select(F.lit(feat).alias("feature"), "v", "nl", "pl"))
    c = parts[0].unionByName(parts[1])
    s = c.crossJoin(F.broadcast(tot)).filter(F.col("nl") < F.col("n")).select(
        "feature",
        F.col("v").alias("threshold"),
        "nl",
        "pl",
        (F.col("n") - F.col("nl")).alias("nr"),
        (F.col("npos") - F.col("pl")).alias("pr"),
    )
    gini = F.expr(
        "CAST("
        " (CAST(nl AS DECIMAL(38,0)) * nl - CAST(pl AS DECIMAL(38,0)) * pl"
        "  - CAST(nl - pl AS DECIMAL(38,0)) * (nl - pl)) * 1000000 DIV nl"
        " + (CAST(nr AS DECIMAL(38,0)) * nr - CAST(pr AS DECIMAL(38,0)) * pr"
        "    - CAST(nr - pr AS DECIMAL(38,0)) * (nr - pr)) * 1000000 DIV nr"
        " AS BIGINT)"
    )
    return (
        s.select(
            "feature",
            "threshold",
            gini.alias("gini_num_micro"),
            F.col("nl").cast("long").alias("n_left"),
            F.col("pl").cast("long").alias("pos_left"),
            F.col("nr").cast("long").alias("n_right"),
            F.col("pr").cast("long").alias("pos_right"),
        )
        .orderBy("gini_num_micro", "feature", "threshold")
        .limit(1)
    )


# ---------------------------------------------------------------------------
# Round-7: closed-form multivariate OLS via the normal equations —
# the in-engine "fit a small linear model over 100 TB in one agg" op.
# ---------------------------------------------------------------------------

_OLS_ORACLE = """
WITH b AS (
  SELECT CAST(round(CAST(l_extendedprice AS DECIMAL(15,2)) * 100) AS BIGINT) AS y,
         CAST(round(CAST(l_quantity AS DECIMAL(8,1)) * 100) AS BIGINT) AS x1,
         CAST(round(CAST(l_discount AS DECIMAL(12,2)) * 100) AS BIGINT) AS x2
  FROM lineitem
), m AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(CAST(SUM(x1) AS DECIMAL(38,0)) AS DOUBLE) AS s1,
         CAST(CAST(SUM(x2) AS DECIMAL(38,0)) AS DOUBLE) AS s2,
         CAST(CAST(SUM(y) AS DECIMAL(38,0)) AS DOUBLE) AS sy,
         CAST(CAST(SUM(x1 * x1) AS DECIMAL(38,0)) AS DOUBLE) AS s11,
         CAST(CAST(SUM(x1 * x2) AS DECIMAL(38,0)) AS DOUBLE) AS s12,
         CAST(CAST(SUM(x2 * x2) AS DECIMAL(38,0)) AS DOUBLE) AS s22,
         CAST(CAST(SUM(x1 * y) AS DECIMAL(38,0)) AS DOUBLE) AS s1y,
         CAST(CAST(SUM(x2 * y) AS DECIMAL(38,0)) AS DOUBLE) AS s2y,
         CAST(CAST(SUM(y * y) AS DECIMAL(38,0)) AS DOUBLE) AS syy
  FROM b
), d AS (
  SELECT *,
         n * (s11 * s22 - s12 * s12)
           - s1 * (s1 * s22 - s12 * s2)
           + s2 * (s1 * s12 - s11 * s2) AS det,
         sy * (s11 * s22 - s12 * s12)
           - s1 * (s1y * s22 - s12 * s2y)
           + s2 * (s1y * s12 - s11 * s2y) AS det0,
         n * (s1y * s22 - s12 * s2y)
           - sy * (s1 * s22 - s12 * s2)
           + s2 * (s1 * s2y - s1y * s2) AS det1,
         n * (s11 * s2y - s1y * s12)
           - s1 * (s1 * s2y - s1y * s2)
           + sy * (s1 * s12 - s11 * s2) AS det2
  FROM m
)
SELECT CAST(n AS BIGINT) AS n_rows,
       round(det0 / det, 6) AS intercept_cents,
       round(det1 / det, 6) AS coef_qty_centi,
       round(det2 / det, 6) AS coef_disc_pct,
       round(1.0 - (syy - ((det0 / det) * sy + (det1 / det) * s1y
                           + (det2 / det) * s2y))
                   / (syy - sy * sy / n), 6) AS r2
FROM d
"""


@register("ml_ols_normal_equation", oracle=_OLS_ORACLE, tags=("ml", "analytics"))
def ml_ols_normal_equation(spark, sf_dir):
    """Closed-form multivariate OLS — fit
    price_cents ~ b0 + b1*quantity + b2*discount over every lineitem by
    the NORMAL EQUATIONS: one full scan collapses the corpus to nine
    EXACT integer moments (DECIMAL(38,0) sums of integer cents/centi-
    units — order-invariant, engine-portable), then the 3x3 system is
    solved by Cramer's rule in a single-row double expression with
    IDENTICAL operation order in both engines (the assortativity/Zipf
    float rule: exact integer moments first, one deterministic IEEE
    expression at the end). R^2 from the same moments. This is the
    100 TB regression shape: the data-sized work is one map-side-
    combinable aggregation; everything after is a 1-row computation —
    no iteration, no driver-side numerics, no collect of anything
    bigger than one row."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.round(dec("l_extendedprice", MONEY) * 100).cast("long").alias("y"),
        F.round(dec("l_quantity", QTY) * 100).cast("long").alias("x1"),
        F.round(dec("l_discount", "decimal(12,2)") * 100).cast("long").alias("x2"),
    )
    # second-moment operands are cast to DECIMAL(38,0) BEFORE the SUM:
    # sum(y*y) over ~6M rows of 1e7-cent prices overflows LONG at sf0.1
    # (ANSI mode raises loudly — caught by the 10x probe); DuckDB's
    # BIGINT sum widens to HUGEINT on its own.
    d38 = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    m = li.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(d38("x1")).cast("double").alias("s1"),
        F.sum(d38("x2")).cast("double").alias("s2"),
        F.sum(d38("y")).cast("double").alias("sy"),
        F.sum(d38("x1") * F.col("x1")).cast("double").alias("s11"),
        F.sum(d38("x1") * F.col("x2")).cast("double").alias("s12"),
        F.sum(d38("x2") * F.col("x2")).cast("double").alias("s22"),
        F.sum(d38("x1") * F.col("y")).cast("double").alias("s1y"),
        F.sum(d38("x2") * F.col("y")).cast("double").alias("s2y"),
        F.sum(d38("y") * F.col("y")).cast("double").alias("syy"),
    )
    n, s1, s2, sy = F.col("n"), F.col("s1"), F.col("s2"), F.col("sy")
    s11, s12, s22 = F.col("s11"), F.col("s12"), F.col("s22")
    s1y, s2y, syy = F.col("s1y"), F.col("s2y"), F.col("syy")
    det = (
        n * (s11 * s22 - s12 * s12)
        - s1 * (s1 * s22 - s12 * s2)
        + s2 * (s1 * s12 - s11 * s2)
    )
    det0 = (
        sy * (s11 * s22 - s12 * s12)
        - s1 * (s1y * s22 - s12 * s2y)
        + s2 * (s1y * s12 - s11 * s2y)
    )
    det1 = (
        n * (s1y * s22 - s12 * s2y)
        - sy * (s1 * s22 - s12 * s2)
        + s2 * (s1 * s2y - s1y * s2)
    )
    det2 = (
        n * (s11 * s2y - s1y * s12)
        - s1 * (s1 * s2y - s1y * s2)
        + sy * (s1 * s12 - s11 * s2)
    )
    d = m.select(
        "*",
        det.alias("det"),
        det0.alias("det0"),
        det1.alias("det1"),
        det2.alias("det2"),
    )
    return d.select(
        n.cast("long").alias("n_rows"),
        F.round(F.col("det0") / F.col("det"), 6).alias("intercept_cents"),
        F.round(F.col("det1") / F.col("det"), 6).alias("coef_qty_centi"),
        F.round(F.col("det2") / F.col("det"), 6).alias("coef_disc_pct"),
        F.round(
            1.0
            - (
                syy
                - (
                    (F.col("det0") / F.col("det")) * sy
                    + (F.col("det1") / F.col("det")) * s1y
                    + (F.col("det2") / F.col("det")) * s2y
                )
            )
            / (syy - sy * sy / n),
            6,
        ).alias("r2"),
    )


_MODULARITY_ORACLE = """
WITH e0 AS (
  SELECT DISTINCT o.o_custkey * 2 AS u, l.l_suppkey * 2 + 1 AS v
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
), nodes AS (
  SELECT u AS node FROM e0 UNION SELECT v FROM e0
), l0 AS (
  SELECT node, node AS lbl FROM nodes
), sym AS (
  SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0
), l1 AS (
  SELECT s.u AS node, LEAST(MIN(l.lbl), MIN(lu.lbl)) AS lbl
  FROM sym s JOIN l0 l ON l.node = s.v JOIN l0 lu ON lu.node = s.u
  GROUP BY s.u
), l2 AS (
  SELECT s.u AS node, LEAST(MIN(l.lbl), MIN(lu.lbl)) AS lbl
  FROM sym s JOIN l1 l ON l.node = s.v JOIN l1 lu ON lu.node = s.u
  GROUP BY s.u
), l3 AS (
  SELECT s.u AS node, LEAST(MIN(l.lbl), MIN(lu.lbl)) AS lbl
  FROM sym s JOIN l2 l ON l.node = s.v JOIN l2 lu ON lu.node = s.u
  GROUP BY s.u
), m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS m FROM e0
), within AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS m_within
  FROM e0 JOIN l3 a ON a.node = e0.u JOIN l3 b ON b.node = e0.v
  WHERE a.lbl = b.lbl
), degs AS (
  SELECT l3.lbl, CAST(COUNT(*) AS BIGINT) AS d_c
  FROM sym JOIN l3 ON l3.node = sym.u
  GROUP BY l3.lbl
), dsq AS (
  SELECT CAST(SUM(CAST(d_c AS HUGEINT) * d_c) AS DECIMAL(38,0)) AS sum_d2,
         CAST(COUNT(*) AS BIGINT) AS n_communities
  FROM degs
)
SELECT m.m AS n_edges, dsq.n_communities, within.m_within,
       round((4.0 * m.m * within.m_within - CAST(dsq.sum_d2 AS DOUBLE))
             / (4.0 * m.m * m.m), 6) AS modularity_q
FROM m, within, dsq
"""


@register("graph_modularity_labelprop", oracle=_MODULARITY_ORACLE, tags=("graph", "analytics"))
def graph_modularity_labelprop(spark, sf_dir):
    """NEWMAN MODULARITY Q of the 3-round min-label-propagation
    communities over the bipartite customer-supplier graph — the
    quality score FOR the engine's own community operator
    (graph_label_propagation finds basins; this says whether they beat
    chance): Q = Σ_c (m_c/m − (d_c/2m)²), evaluated in the exact
    closed form (4m·m_within − Σd_c²) / 4m² — numerator terms are
    exact HUGEINT/DECIMAL(38) integers (a per-community float sum
    would be order-dependent across hundreds of communities), ONE
    float division at the end. Labels come from the same deterministic
    integer-min propagation (bit-exact in both engines); degrees and
    within-edges are two keyed joins against the label relation."""
    from ..operators.graph import min_label_propagation

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    e0 = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("u"),
            (F.col("l_suppkey") * 2 + 1).alias("v"),
        )
        .distinct()
    )
    labels = min_label_propagation(e0, n_iters=3).select("node", "lbl")
    m = e0.agg(F.count(F.lit(1)).cast("long").alias("m"))
    within = (
        e0.join(labels.select(F.col("node").alias("u"), F.col("lbl").alias("la")), "u")
        .join(labels.select(F.col("node").alias("v"), F.col("lbl").alias("lb")), "v")
        .filter(F.col("la") == F.col("lb"))
        .agg(F.count(F.lit(1)).cast("long").alias("m_within"))
    )
    sym = e0.unionByName(e0.select(F.col("v").alias("u"), F.col("u").alias("v")))
    degs = (
        sym.join(labels.select(F.col("node").alias("u"), "lbl"), "u")
        .groupBy("lbl")
        .agg(F.count(F.lit(1)).cast("long").alias("d_c"))
    )
    dsq = degs.agg(
        F.sum(F.col("d_c").cast("decimal(38,0)") * F.col("d_c")).alias("sum_d2"),
        F.count(F.lit(1)).cast("long").alias("n_communities"),
    )
    return (
        m.crossJoin(F.broadcast(within))
        .crossJoin(F.broadcast(dsq))
        .select(
            F.col("m").alias("n_edges"),
            "n_communities",
            "m_within",
            F.round(
                (
                    4.0 * F.col("m") * F.col("m_within")
                    - F.col("sum_d2").cast("double")
                )
                / (4.0 * F.col("m") * F.col("m")),
                6,
            ).alias("modularity_q"),
        )
    )


# ---------------------------------------------------------------------------
# Round-11: 2-round AdaBoost over decision stumps — the boosting loop
# itself, with exact integer weight algebra.
# ---------------------------------------------------------------------------

_ADA_BASE_SQL = """
  SELECT CAST(round(CAST(o_totalprice AS DECIMAL(15,2)) * 100) AS BIGINT)
           AS v_price,
         CAST(round(CAST(c_acctbal AS DECIMAL(12,2)) * 100) AS BIGINT)
           AS v_bal,
         CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0
           END AS label,
         CAST(1 AS BIGINT) AS w
  FROM orders JOIN customer ON c_custkey = o_custkey
"""


def _ada_round_sql(r: int) -> str:
    """One unrolled boosting round over base{r-1}: weighted stump
    search (both features, both polarities), winner by
    (err, feature, threshold, polarity), then the integer reweight
    w*GREATEST(W-E,1) on misses / w*GREATEST(E,1) on hits."""
    b = f"base{r - 1}"
    return f"""cand{r} AS (
  SELECT feature, v AS threshold, pol,
         -- CAST: DuckDB window SUM(BIGINT) widens to HUGEINT, which
         -- fetchdf() would hand to pandas as float64
         CAST(CASE WHEN pol = 1 THEN (WP - pl_w) + (nl_w - pl_w)
              ELSE W - ((WP - pl_w) + (nl_w - pl_w)) END AS BIGINT)
           AS err_w,
         CAST(W AS BIGINT) AS W
  FROM (
    SELECT feature, v,
           SUM(cw) OVER (PARTITION BY feature ORDER BY v) AS nl_w,
           SUM(pw) OVER (PARTITION BY feature ORDER BY v) AS pl_w,
           SUM(cw) OVER (PARTITION BY feature) AS W,
           SUM(pw) OVER (PARTITION BY feature) AS WP
    FROM (
      SELECT 'price_cents' AS feature, v_price AS v,
             CAST(SUM(w) AS BIGINT) AS cw,
             CAST(SUM(w * label) AS BIGINT) AS pw
      FROM {b} GROUP BY v_price
      UNION ALL
      SELECT 'cust_bal_cents', v_bal, CAST(SUM(w) AS BIGINT),
             CAST(SUM(w * label) AS BIGINT)
      FROM {b} GROUP BY v_bal
    ) h
  ) c, (VALUES (0), (1)) p(pol)
), best{r} AS (
  SELECT * FROM cand{r} ORDER BY err_w, feature, threshold, pol LIMIT 1
), scored{r} AS (
  SELECT {b}.*,
         CASE WHEN ((CASE WHEN best{r}.feature = 'price_cents'
                          THEN v_price ELSE v_bal END) <= best{r}.threshold)
              THEN best{r}.pol ELSE 1 - best{r}.pol END AS pred,
         best{r}.err_w AS e, best{r}.W AS tw
  FROM {b}, best{r}
), r{r} AS (
  SELECT CAST({r} AS BIGINT) AS rnd, feature, threshold,
         CAST(pol AS BIGINT) AS polarity, err_w, W AS total_w,
         CAST(round(500000 * ln(CAST(GREATEST(W - err_w, 1) AS DOUBLE)
                                / GREATEST(err_w, 1))) AS BIGINT)
           AS alpha_micro,
         (SELECT CAST(SUM(CASE WHEN pred <> label THEN 1 ELSE 0 END)
                      AS BIGINT) FROM scored{r}) AS n_mis_rows
  FROM best{r}
), base{r} AS (
  SELECT v_price, v_bal, label,
         w * CASE WHEN pred <> label THEN GREATEST(tw - e, 1)
                  ELSE GREATEST(e, 1) END AS w
  FROM scored{r}
)"""


_ADABOOST_ORACLE = (
    "WITH base0 AS (" + _ADA_BASE_SQL + "),\n"
    + _ada_round_sql(1) + ",\n" + _ada_round_sql(2)
    + "\nSELECT rnd, feature, threshold, polarity, err_w, total_w,"
    " alpha_micro, n_mis_rows FROM r1"
    " UNION ALL SELECT rnd, feature, threshold, polarity, err_w,"
    " total_w, alpha_micro, n_mis_rows FROM r2"
)


@register("ml_adaboost_stumps_2rounds", oracle=_ADABOOST_ORACLE, tags=("ml", "analytics"))
def ml_adaboost_stumps_2rounds(spark, sf_dir):
    """TWO AdaBoost rounds over decision stumps (Freund & Schapire
    1997) — the actual boosting LOOP on top of the ml_decision_stump
    weak learner: round 2's stump is trained on reweighted data, so
    the driver hash breaks if the round-1 winner, the reweighting, or
    the round-2 weighted search is wrong anywhere.

    Exact integer weight algebra: AdaBoost only needs weight RATIOS,
    and exp(+alpha)/exp(-alpha) = (W-E)/E, so the update multiplies
    misclassified rows by GREATEST(W-E, 1) and correct rows by
    GREATEST(E, 1) — exact BIGINTs, no exp(), no normalization
    (GREATEST guards the degenerate perfect-stump round identically in
    both engines). Weights after round r are bounded by W0^(r+1) —
    int64-safe for 2 rounds at probe scale; a deeper trainer would
    periodically divide weights by their GCD or move to DECIMAL(38).
    alpha_micro = round(5e5 * ln((W-E)/E)) is reported as ONE float op
    at the edge on identical integers (the curriculum-stages ln
    precedent); err/total/miss counts are exact.

    Plan, per round: rows collapse to per-feature weighted VALUE
    HISTOGRAMS (map-side-combinable); both polarities' errors come
    from the same two prefix sums (global_cumsum per feature — never a
    feature-partitioned window over raw rows); the winner is a 1-row
    TakeOrdered collect (bounded driver state, the BPE-loop pattern);
    the reweight is one map-side CASE. The corpus is never sorted
    globally and never joined to itself."""
    from ..operators.scale import global_cumsum

    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice", "o_orderpriority"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal"
    )
    base = orders.join(
        F.broadcast(cust), F.col("c_custkey") == F.col("o_custkey")
    ).select(
        F.round(dec("o_totalprice", MONEY) * 100).cast("long").alias("v_price"),
        F.round(dec("c_acctbal", BAL) * 100).cast("long").alias("v_bal"),
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
        .cast("int").alias("label"),
        F.lit(1).cast("long").alias("w"),
    )
    out_rows = []
    rounds = (1, 2)
    for rnd in rounds:
        base = pin(base)  # pin reweighted state
        parts = []
        for feat, col in (("price_cents", "v_price"), ("cust_bal_cents", "v_bal")):
            h = (
                base.select(F.col(col).alias("v"), "w", "label")
                .groupBy("v")
                .agg(
                    F.sum("w").cast("long").alias("cw"),
                    F.sum(F.col("w") * F.col("label")).cast("long").alias("pw"),
                )
            )
            c = global_cumsum(h, "cw", ["v"], cum_col="nl_w")
            c = global_cumsum(c, "pw", ["v"], cum_col="pl_w")
            parts.append(
                c.select(F.lit(feat).alias("feature"), "v", "nl_w", "pl_w")
            )
        tot = base.agg(
            F.sum("w").cast("long").alias("W"),
            F.sum(F.col("w") * F.col("label")).cast("long").alias("WP"),
        )
        err1 = (F.col("WP") - F.col("pl_w")) + (F.col("nl_w") - F.col("pl_w"))
        cand = (
            parts[0].unionByName(parts[1])
            .crossJoin(F.broadcast(tot))
            .select(
                "feature",
                F.col("v").alias("threshold"),
                F.explode(
                    F.array(
                        F.struct(
                            F.lit(1).alias("pol"), err1.alias("err_w")
                        ),
                        F.struct(
                            F.lit(0).alias("pol"),
                            (F.col("W") - err1).alias("err_w"),
                        ),
                    )
                ).alias("pe"),
                "W",
            )
            .select(
                "feature", "threshold",
                F.col("pe.pol").alias("pol"),
                F.col("pe.err_w").alias("err_w"), "W",
            )
        )
        best = (
            cand.orderBy("err_w", "feature", "threshold", "pol")
            .limit(1)
            .collect()[0]
        )
        feat, thr, pol = best["feature"], int(best["threshold"]), int(best["pol"])
        e, w_tot = int(best["err_w"]), int(best["W"])
        vcol = "v_price" if feat == "price_cents" else "v_bal"
        pred = F.when(
            F.col(vcol) <= thr, F.lit(pol)
        ).otherwise(F.lit(1 - pol))
        mis = pred != F.col("label")
        n_mis = base.agg(
            F.sum(mis.cast("long")).cast("long").alias("m")
        ).collect()[0]["m"]
        import math
        from decimal import ROUND_HALF_UP, Decimal

        # ADVICE r11: DuckDB round() is half-away-from-zero while
        # Python round() is banker's; quantize with ROUND_HALF_UP so an
        # exact .5 boundary can't diverge between engines.
        alpha_micro = int(
            Decimal(
                500000 * math.log(float(max(w_tot - e, 1)) / max(e, 1))
            ).quantize(Decimal("1"), rounding=ROUND_HALF_UP)
        )
        out_rows.append(
            (rnd, feat, thr, pol, e, w_tot, alpha_micro, int(n_mis))
        )
        if rnd == rounds[-1]:
            # last round: the weight update below is never consumed, so
            # the overflow guard would abort a run whose emitted rows
            # were all correct (ADVICE r12).
            break
        # ADVICE r11: the exact-integer update multiplies every weight
        # by a factor < w_tot, so the post-update total is < w_tot^2.
        # Guard the int64 bound explicitly (silently overflows around
        # sf1-sf10 otherwise): isqrt(2^63 - 1) = 3_037_000_499.
        assert w_tot <= 3_037_000_499, (
            f"AdaBoost integer weights would overflow int64 on the next"
            f" round (total_w={w_tot}); rescale or cap rounds."
        )
        base = base.select(
            "v_price", "v_bal", "label",
            (
                F.col("w")
                * F.when(mis, F.lit(max(w_tot - e, 1))).otherwise(
                    F.lit(max(e, 1))
                )
            ).cast("long").alias("w"),
        )
    return spark.createDataFrame(
        out_rows,
        "rnd long, feature string, threshold long, polarity long,"
        " err_w long, total_w long, alpha_micro long, n_mis_rows long",
    )
