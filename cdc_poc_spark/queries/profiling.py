"""Corpus / stream / graph diagnostics: Benford first-digit profile,
event out-of-order profile, bounded k-core peeling, Zipf rank-frequency
fit, and the co-purchase bipartite projection — the profiling queries an
operator runs BEFORE trusting data or launching heavy algorithms.

Reference parity: the reference (thanminh24/CDC_POC) ships no analytics
(SURVEY.md §2); these extend the engine per the north-star brief.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..operators.scale import pin
from ..tables import load_table
from . import register

# ---------------------------------------------------------------------------
# Benford first-significant-digit profile (data-quality / fraud screen).
# ---------------------------------------------------------------------------

_BENFORD_ORACLE = """
WITH c AS (
  SELECT CAST(CAST(o_totalprice AS DECIMAL(15,2)) * 100 AS BIGINT) AS cents
  FROM orders WHERE o_totalprice > 0
), d AS (
  SELECT CAST(substring(CAST(cents AS VARCHAR), 1, 1) AS INTEGER) AS digit FROM c
), g AS (
  SELECT digit, CAST(COUNT(*) AS BIGINT) AS n_orders FROM d GROUP BY digit
), t AS (
  SELECT SUM(n_orders) AS total FROM g
)
SELECT digit, n_orders,
       round(CAST(n_orders AS DOUBLE) / total, 6) AS share,
       round(ln(1.0 + 1.0 / digit) / ln(10.0), 6) AS benford_expected
FROM g, t
"""


@register("agg_benford_profile", oracle=_BENFORD_ORACLE, tags=("agg", "quality"))
def agg_benford_profile(spark, sf_dir):
    """First-significant-digit distribution of order totals vs the
    Benford expectation log10(1 + 1/d) — the classic anomaly/fraud/
    synthetic-data screen (fabricated amounts flunk it). Digit
    extraction is a string head on the exact cents BIGINT (×100 shifts
    digits, never changes the leading one for positive amounts); shares
    are one double division of exact counts; the expectation is the
    same IEEE ln expression in both engines. Plan: map-side digit + one
    9-row groupBy + broadcast total."""
    cents = (F.col("o_totalprice").cast("decimal(15,2)") * 100).cast("long")
    g = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 0)
        .select(F.substring(cents.cast("string"), 1, 1).cast("int").alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    t = g.agg(F.sum("n_orders").alias("total"))
    return g.crossJoin(F.broadcast(t)).select(
        "digit",
        "n_orders",
        F.round(F.col("n_orders").cast("double") / F.col("total"), 6).alias("share"),
        F.round(F.log(1.0 + 1.0 / F.col("digit")) / F.log(F.lit(10.0)), 6).alias(
            "benford_expected"
        ),
    )


# ---------------------------------------------------------------------------
# Out-of-order arrival profile (the watermark-sizing input).
# ---------------------------------------------------------------------------

#: Deterministic arrival-order perturbation: the fixture's changelog is
#: PERFECTLY time-ordered (verified: 0 regressions over event_id), so a
#: profile taken on the raw order is all-zeros — and an all-zero
#: expected output cannot distinguish a broken lateness computation
#: from a working one. The registered queries therefore drive the
#: operators with a SIMULATED jittered arrival (each event displaced by
#: an md5-derived 0-63-position jitter — network/partition reordering in
#: miniature), computed identically in both engines, so the oracle
#: checks real nonzero lateness math. The arrival key is a query input;
#: a deployment profiles its true arrival sequence.
_JITTER_SQL = (
    "event_id + CAST(('0x' || substring(md5(CAST(event_id AS VARCHAR)), 1, 4)) "
    "AS BIGINT) % 64"
)
_JITTER_SPARK = (
    "event_id + CAST(conv(substring(md5(CAST(event_id AS STRING)), 1, 4), 16, 10)"
    " AS BIGINT) % 64"
)

_OOO_ORACLE = f"""
WITH s AS (
  SELECT event_type,
         CASE WHEN epoch_us(ts) < lag(epoch_us(ts))
                OVER (PARTITION BY user_id ORDER BY {_JITTER_SQL}, event_id)
              THEN 1 ELSE 0 END AS late
  FROM events
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(late) AS BIGINT) AS n_out_of_order,
       round(CAST(SUM(late) AS DOUBLE) / COUNT(*), 6) AS ooo_share
FROM s GROUP BY event_type
"""


@register("cdc_out_of_order_profile", oracle=_OOO_ORACLE, tags=("cdc", "streaming", "quality"))
def cdc_out_of_order_profile(spark, sf_dir):
    """Fraction of events whose event-time REGRESSES vs the previous
    arrival in the same key — the measurement that decides whether
    at-source reordering is needed. Arrival order = the jitter-displaced
    changelog sequence (see _JITTER_SQL above: the fixture is perfectly
    time-ordered, which would make an unperturbed profile an
    indiscriminate all-zero oracle). One lag window per user (short
    per-key sequences, no skew) + a tiny keyed rollup of exact counts;
    the final share projection is operators/temporal.py:
    ooo_profile_from_counts, shared verbatim with the streaming twin
    (streaming/windows.py:streaming_out_of_order_profile)."""
    from ..operators.temporal import ooo_profile_from_counts

    ev = load_table(spark, sf_dir, "events")
    seq = W.partitionBy("user_id").orderBy(F.expr(_JITTER_SPARK), F.col("event_id"))
    late = (
        F.when(F.expr("ts DIV 1000") < F.lag(F.expr("ts DIV 1000")).over(seq), 1)
        .otherwise(0)
    )
    counts = (
        ev.select("event_type", late.alias("late"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("late").alias("n_out_of_order"),
        )
    )
    return ooo_profile_from_counts(counts)


# ---------------------------------------------------------------------------
# Bounded k-core peeling profile over the order graph.
# ---------------------------------------------------------------------------

_KCORE_K = 3

_KCORE_ORACLE = f"""
WITH e0 AS (
  SELECT DISTINCT o.o_custkey * 2 AS u, l.l_suppkey * 2 + 1 AS v
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
), sym AS (
  SELECT DISTINCT u, v FROM (
    SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0
  )
), d0 AS (
  SELECT u AS node, COUNT(*) AS deg FROM sym GROUP BY u
), k1 AS (SELECT node FROM d0 WHERE deg >= {_KCORE_K}),
e1 AS (
  SELECT s.u, s.v FROM sym s
  JOIN k1 a ON a.node = s.u JOIN k1 b ON b.node = s.v
), d1 AS (
  SELECT u AS node, COUNT(*) AS deg FROM e1 GROUP BY u
), k2 AS (SELECT node FROM d1 WHERE deg >= {_KCORE_K}),
e2 AS (
  SELECT s.u, s.v FROM e1 s
  JOIN k2 a ON a.node = s.u JOIN k2 b ON b.node = s.v
), d2 AS (
  SELECT u AS node, COUNT(*) AS deg FROM e2 GROUP BY u
), k3 AS (SELECT node FROM d2 WHERE deg >= {_KCORE_K}),
e3 AS (
  SELECT s.u, s.v FROM e2 s
  JOIN k3 a ON a.node = s.u JOIN k3 b ON b.node = s.v
)
SELECT 1 AS round, CAST((SELECT COUNT(DISTINCT u) FROM e1) AS BIGINT) AS n_nodes,
       CAST((SELECT COUNT(*) FROM e1) AS BIGINT) AS n_edges_x2
UNION ALL
SELECT 2, CAST((SELECT COUNT(DISTINCT u) FROM e2) AS BIGINT),
       CAST((SELECT COUNT(*) FROM e2) AS BIGINT)
UNION ALL
SELECT 3, CAST((SELECT COUNT(DISTINCT u) FROM e3) AS BIGINT),
       CAST((SELECT COUNT(*) FROM e3) AS BIGINT)
"""


@register("graph_kcore_profile", oracle=_KCORE_ORACLE, tags=("graph", "analytics"))
def graph_kcore_profile(spark, sf_dir):
    """Three rounds of k-core peeling (k=3) over the bipartite
    customer-supplier order graph: per round, nodes with current degree
    < k are dropped and the induced subgraph's size is reported — the
    cohesion-shrinkage profile run before any community/embedding work
    (run to fixpoint this IS the k-core). Deterministic integer counts;
    the oracle is the fully unrolled peel. See
    operators/graph.py:kcore_peel for the per-round pin structure."""
    from ..operators.graph import kcore_peel

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
    return kcore_peel(e0, k=_KCORE_K, n_rounds=3)


# ---------------------------------------------------------------------------
# Zipf rank-frequency fit over the corpus vocabulary.
# ---------------------------------------------------------------------------

_ZIPF_ORACLE = """
WITH tok AS (
  SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
  FROM documents
), f AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS freq FROM tok GROUP BY tok
), r AS (
  SELECT freq, row_number() OVER (ORDER BY freq DESC, tok) AS rnk FROM f
), q AS (
  SELECT CAST(round(ln(CAST(rnk AS DOUBLE)) * 1e6) AS BIGINT) AS qx,
         CAST(round(ln(CAST(freq AS DOUBLE)) * 1e6) AS BIGINT) AS qy
  FROM r
), s AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(COUNT(*) AS BIGINT) AS n_types,
         CAST(SUM(CAST(qx AS DECIMAL(38,0))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(qy AS DECIMAL(38,0))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(qx AS DECIMAL(38,0)) * qy) AS DOUBLE) AS sxy,
         CAST(SUM(CAST(qx AS DECIMAL(38,0)) * qx) AS DOUBLE) AS sxx
  FROM q
)
SELECT n_types,
       round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS zipf_slope,
       round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n / 1e6, 6)
         AS intercept_nats
FROM s
"""


@register("text_zipf_fit", oracle=_ZIPF_ORACLE, tags=("llm", "text", "stats"))
def text_zipf_fit(spark, sf_dir):
    """Least-squares slope of ln(freq) vs ln(rank) over the corpus
    vocabulary — the Zipf exponent (natural corpora sit near -1;
    template/synthetic corpora deviate hard, making this a one-number
    corpus-health check). Exactness: ln rank / ln freq are quantized to
    int64 micro-nats per type BEFORE any cross-row sum; the five
    regression sums accumulate as DECIMAL(38) integers (order-
    independent), and the closed-form slope is one double expression on
    identical inputs in both engines. Scale shape: token groupBy (the
    vocabulary), the distributed two-pass global rank
    (operators/scale.py:global_index — never a one-task window), one
    map-side-combinable moments agg. The slope is over quantized logs —
    bit-identical, not merely close."""
    from ..operators.scale import global_index

    toks = F.filter(F.split(F.col("text"), " "), lambda t: t != "")
    f = (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(toks).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
        .withColumn("negf", -F.col("freq"))
    )
    ranked = global_index(f, idx_col="rnk0", order_cols=["negf", "tok"])
    q = ranked.select(
        F.round(F.log((F.col("rnk0") + 1).cast("double")) * 1e6).cast("long").alias("qx"),
        F.round(F.log(F.col("freq").cast("double")) * 1e6).cast("long").alias("qy"),
    )
    s = q.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.count(F.lit(1)).alias("n_types"),
        F.sum(F.col("qx").cast("decimal(38,0)")).cast("double").alias("sx"),
        F.sum(F.col("qy").cast("decimal(38,0)")).cast("double").alias("sy"),
        F.sum(F.col("qx").cast("decimal(38,0)") * F.col("qy")).cast("double").alias("sxy"),
        F.sum(F.col("qx").cast("decimal(38,0)") * F.col("qx")).cast("double").alias("sxx"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return s.select(
        "n_types",
        F.round(slope, 6).alias("zipf_slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("n") / 1e6, 6).alias(
            "intercept_nats"
        ),
    )


# ---------------------------------------------------------------------------
# Co-purchase bipartite projection (supplier-supplier affinity graph).
# ---------------------------------------------------------------------------

_COPURCHASE_DEG_CAP = 64
_COPURCHASE_MIN_SHARED = 3

_COPURCHASE_ORACLE = f"""
WITH b0 AS (
  SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
), cap AS (
  SELECT c FROM b0 GROUP BY c HAVING COUNT(*) <= {_COPURCHASE_DEG_CAP}
), b AS (
  SELECT b0.c, b0.s FROM b0 JOIN cap USING (c)
)
SELECT a.s AS supp_a, x.s AS supp_b, CAST(COUNT(*) AS BIGINT) AS n_shared_customers
FROM b a JOIN b x ON a.c = x.c AND a.s < x.s
GROUP BY a.s, x.s
HAVING COUNT(*) >= {_COPURCHASE_MIN_SHARED}
"""


@register("graph_copurchase_projection", oracle=_COPURCHASE_ORACLE, tags=("graph", "analytics"))
def graph_copurchase_projection(spark, sf_dir):
    """Bipartite projection of the customer-supplier order graph onto
    suppliers: pairs sharing >= 3 customers, weighted by the shared
    count — the co-occurrence/affinity graph behind recommendations and
    assortment analysis. Hub customers (degree > 64) are excluded
    BEFORE the pair join, identically in the oracle — the cap is part
    of the operator's semantics, the same df-cap rule the winnowing
    overlap and LSH buckets use (a hub contributes deg² pairs and ~zero
    affinity signal; at 100 TB the cap is what bounds per-key fanout).

    Plan: distinct bipartite edges, one keyed degree filter, one
    customer-keyed self equi-join (per-key fanout bounded by the cap) —
    no cartesian. A collect_set + map-side array-combination variant
    (two shuffles instead of four) was MEASURED SLOWER — 8.9 s vs
    7.9 s at sf0.1, 10x ratio 10.5 vs 5.3: the nested
    transform/slice expansion is per-row O(cap²) interpreted expression
    work, while the self-join + count stays in whole-stage-codegen
    columnar joins. Shuffle count lost to CPU path — kept the join
    (PLANS.md round-5 cont.3)."""
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    b0 = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    cap = b0.groupBy("c").agg(F.count(F.lit(1)).alias("deg")).filter(
        F.col("deg") <= _COPURCHASE_DEG_CAP
    )
    b = b0.join(cap.select("c"), "c")
    a = b.select("c", F.col("s").alias("supp_a"))
    x = b.select("c", F.col("s").alias("supp_b"))
    return (
        a.join(x, "c")
        .filter(F.col("supp_a") < F.col("supp_b"))
        .groupBy("supp_a", "supp_b")
        .agg(F.count(F.lit(1)).alias("n_shared_customers"))
        .filter(F.col("n_shared_customers") >= _COPURCHASE_MIN_SHARED)
    )


# ---------------------------------------------------------------------------
# Gini coefficient of the revenue distribution.
# ---------------------------------------------------------------------------

_GINI_ORACLE = """
WITH r AS (
  SELECT o_custkey,
         CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(15,2)) * 100 AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY o_custkey
), k AS (
  SELECT cents, row_number() OVER (ORDER BY cents, o_custkey) AS i FROM r
), s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(cents AS DECIMAL(38,0))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(i AS DECIMAL(38,0)) * cents) AS DOUBLE) AS sxi,
         CAST(COUNT(*) AS DOUBLE) AS nd
  FROM k
)
SELECT n AS n_customers,
       round((2.0 * sxi - (nd + 1.0) * sx) / (nd * sx), 6) AS gini
FROM s
"""


@register("agg_gini_coefficient", oracle=_GINI_ORACLE, tags=("agg", "stats"))
def agg_gini_coefficient(spark, sf_dir):
    """Gini coefficient of per-customer revenue — the single-number
    inequality metric next to agg_pareto_concentration's curve, from
    the closed form G = (2·Σ i·x_i − (n+1)·Σ x_i) / (n·Σ x_i) over
    ascending-sorted x. The rank comes from the distributed two-pass
    global_index (never a one-task window); Σ i·x accumulates as
    DECIMAL(38) integers (i·cents exceeds int64 at cluster scale), so
    both engines feed identical integers into one final double
    expression. Plan: revenue groupBy, two-pass rank, ONE moments
    agg."""
    from ..operators.scale import global_index

    rev = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum((F.col("o_totalprice").cast("decimal(15,2)") * 100).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    ranked = global_index(rev, idx_col="i0", order_cols=["cents", "o_custkey"])
    s = ranked.agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.count(F.lit(1)).cast("double").alias("nd"),
        F.sum(F.col("cents").cast("decimal(38,0)")).cast("double").alias("sx"),
        F.sum((F.col("i0") + 1).cast("decimal(38,0)") * F.col("cents"))
        .cast("double")
        .alias("sxi"),
    )
    return s.select(
        "n_customers",
        F.round(
            (2.0 * F.col("sxi") - (F.col("nd") + 1.0) * F.col("sx"))
            / (F.col("nd") * F.col("sx")),
            6,
        ).alias("gini"),
    )


# ---------------------------------------------------------------------------
# Watermark-delay recommendation from micro-batch high-water-mark lateness.
# ---------------------------------------------------------------------------

# shared with the streaming maintainer — single source of truth in
# operators/temporal.py (WM_BATCH / WM_MS), aliased here for the oracle
# f-strings
from ..operators.temporal import WM_BATCH as _WM_BATCH  # noqa: E402
from ..operators.temporal import WM_MS as _WM_MS  # noqa: E402


def _wm_oracle() -> str:
    return f"""
WITH e AS (
  SELECT event_type, event_id, epoch_us(ts) AS ts_us,
         ({_JITTER_SQL}) // {_WM_BATCH} AS bkt
  FROM events
), bm AS (
  SELECT bkt, MAX(ts_us) AS bmax FROM e GROUP BY bkt
), hwm AS (
  SELECT bkt, MAX(bmax) OVER (ORDER BY bkt
                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS hwm_prev
  FROM bm
), lat AS (
  SELECT e.event_type,
         greatest(0, COALESCE(h.hwm_prev, 0) - e.ts_us) // 1000 // {_WM_MS} AS lat_q
  FROM e JOIN hwm h ON h.bkt = e.bkt
), hist AS (
  SELECT event_type, lat_q, CAST(COUNT(*) AS BIGINT) AS c
  FROM lat GROUP BY event_type, lat_q
), cum AS (
  SELECT event_type, lat_q, c,
         SUM(c) OVER (PARTITION BY event_type ORDER BY lat_q
                      ROWS UNBOUNDED PRECEDING) AS cc,
         SUM(c) OVER (PARTITION BY event_type) AS n
  FROM hist
)
SELECT event_type, CAST(MAX(n) AS BIGINT) AS n_events,
       CAST(MIN(CASE WHEN cc * 2 >= n THEN lat_q END) AS BIGINT) AS p50_s,
       CAST(MIN(CASE WHEN cc * 20 >= n * 19 THEN lat_q END) AS BIGINT) AS p95_s,
       CAST(MIN(CASE WHEN cc * 100 >= n * 99 THEN lat_q END) AS BIGINT) AS p99_s,
       CAST(MAX(lat_q) AS BIGINT) AS max_s
FROM cum GROUP BY event_type
"""


@register("cdc_watermark_recommendation", oracle=_wm_oracle(), tags=("cdc", "streaming", "quality"))
def cdc_watermark_recommendation(spark, sf_dir):
    """How much watermark delay does this stream need? Lateness of each
    event vs the HIGH-WATER MARK as of the previous arrival micro-batch
    (jittered-arrival-key DIV 1000 — exactly how a micro-batch engine's
    watermark advances: on batch boundaries, against the max event-time
    already seen; arrival = the jitter-displaced sequence per
    _JITTER_SQL, since the fixture's raw order is perfectly sorted and
    would make the oracle indiscriminately zero), quantized to seconds,
    then per-series exact histogram
    percentiles (smallest bucket whose cumulative count clears q·n — an
    integer predicate, no interpolation to disagree on). p99_s IS the
    `withWatermark` delay a deployment should configure; max_s is the
    drop-tolerance bound.

    Scale shape: batch maxima are one keyed agg; the running high-water
    mark is a window over the tiny per-batch relation (|batches| rows,
    never |events|); lateness is a broadcast join back; percentiles
    come from the per-(series, second) histogram — every full-size
    relation is keyed, the only windows run on bounded aggregates.

    The histogram + percentile derivation is shared VERBATIM with the
    streaming maintainer (streaming/windows.py:
    streaming_watermark_recommendation — operators/temporal.py:
    lateness_histogram / lateness_percentile_rollup), whose drained
    output is asserted row-equal to this query in
    tests/test_streaming.py."""
    from ..operators.temporal import (
        lateness_histogram,
        lateness_percentile_rollup,
    )

    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "event_type",
        "event_id",
        F.expr("ts DIV 1000").alias("ts_us"),
        F.expr(f"({_JITTER_SPARK}) DIV {_WM_BATCH}").alias("bkt"),
    )
    bm = e.groupBy("bkt").agg(F.max("ts_us").alias("bmax"))
    wprev = W.orderBy("bkt").rowsBetween(W.unboundedPreceding, -1)
    hwm = bm.select("bkt", F.max("bmax").over(wprev).alias("hwm_prev"))
    return lateness_percentile_rollup(lateness_histogram(e, hwm))


# ---------------------------------------------------------------------------
# Boolean / conditional aggregate family.
# ---------------------------------------------------------------------------

_BOOLAGG_ORACLE = """
SELECT c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(count_if(CAST(c_acctbal AS DECIMAL(12,2)) > 5000) AS BIGINT) AS n_rich,
       bool_and(CAST(c_acctbal AS DECIMAL(12,2)) > -1000) AS all_above_floor,
       bool_or(CAST(c_acctbal AS DECIMAL(12,2)) > 9000) AS any_very_rich,
       CAST(MIN(CASE WHEN CAST(c_acctbal AS DECIMAL(12,2)) > 5000
                     THEN c_custkey END) AS BIGINT) AS first_rich_key
FROM customer
GROUP BY c_mktsegment
"""


@register("agg_boolean_aggregates", oracle=_BOOLAGG_ORACLE, tags=("agg",))
def agg_boolean_aggregates(spark, sf_dir):
    """The boolean/conditional aggregate family — count_if, bool_and,
    bool_or, conditional MIN — per market segment (the quorum /
    invariant-check shapes monitoring queries use). All map-side
    combinable; predicates evaluate on exact DECIMAL casts so both
    engines branch identically."""
    bal = F.col("c_acctbal").cast("decimal(12,2)")
    return (
        load_table(spark, sf_dir, "customer")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.count_if(bal > 5000).alias("n_rich"),
            F.bool_and(bal > -1000).alias("all_above_floor"),
            F.bool_or(bal > 9000).alias("any_very_rich"),
            F.min(F.when(bal > 5000, F.col("c_custkey"))).alias("first_rich_key"),
        )
    )


# ---------------------------------------------------------------------------
# Blocked fuzzy (edit-distance) name matching over DISTINCT values.
# ---------------------------------------------------------------------------

_FUZZY_ORACLE = """
WITH n AS (
  SELECT p_name, CAST(COUNT(*) AS BIGINT) AS n_parts,
         string_split(p_name, ' ')[1] AS blk
  FROM part GROUP BY p_name
)
SELECT a.p_name AS name_a, b.p_name AS name_b,
       CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS edit_dist,
       a.n_parts AS n_parts_a, b.n_parts AS n_parts_b
FROM n a JOIN n b ON a.blk = b.blk AND a.p_name < b.p_name
WHERE levenshtein(a.p_name, b.p_name) <= 3
"""


@register("dedup_fuzzy_name_pairs", oracle=_FUZZY_ORACLE, tags=("llm", "dedup", "fuzzy"))
def dedup_fuzzy_name_pairs(spark, sf_dir):
    """Record-linkage fuzzy matching: name pairs within edit distance 3,
    blocked by first token — reported over DISTINCT names with per-name
    row counts. This is the collapse-first rule applied to fuzzy
    matching: the part table has ~64 distinct names across 20k rows at
    sf0.1, so a row-level fuzzy self-join would emit MILLIONS of pairs
    (measured 3.1M at sf0.1) that are pure clone fan-out, while the
    distinct-value form verifies levenshtein on a vocabulary-sized
    relation and carries the multiplicities as counts — the consumer
    expands only the name-pairs it accepts. Plan: one name groupBy,
    block-keyed self equi-join over distinct names (bounded by
    per-block vocabulary²), Levenshtein as the verify step — the
    block→verify shape of every production linkage pipeline
    (Hernández-Stolfo blocking with an edit-distance verifier)."""
    n = (
        load_table(spark, sf_dir, "part")
        .groupBy("p_name")
        .agg(F.count(F.lit(1)).alias("n_parts"))
        .withColumn("blk", F.split("p_name", " ").getItem(0))
    )
    a = n.select(
        F.col("p_name").alias("name_a"), F.col("n_parts").alias("n_parts_a"), "blk"
    )
    b = n.select(
        F.col("p_name").alias("name_b"), F.col("n_parts").alias("n_parts_b"), "blk"
    )
    return (
        a.join(b, "blk")
        .filter(F.col("name_a") < F.col("name_b"))
        .withColumn("edit_dist", F.levenshtein("name_a", "name_b").cast("long"))
        .filter(F.col("edit_dist") <= 3)
        .select("name_a", "name_b", "edit_dist", "n_parts_a", "n_parts_b")
    )


# ---------------------------------------------------------------------------
# Bounded multi-source BFS distance histogram over the order graph.
# ---------------------------------------------------------------------------

_BFS_ORACLE = """
WITH e0 AS (
  SELECT DISTINCT o.o_custkey * 2 AS u, l.l_suppkey * 2 + 1 AS v
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
), sym AS (
  SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0
), d0 AS (
  SELECT DISTINCT s_suppkey * 2 + 1 AS node, CAST(0 AS BIGINT) AS dist
  FROM supplier WHERE s_suppkey < 5
), n1 AS (
  SELECT s.u AS node, MIN(d.dist) + 1 AS nd
  FROM sym s JOIN d0 d ON d.node = s.v GROUP BY s.u
), d1 AS (
  SELECT COALESCE(a.node, b.node) AS node,
         least(COALESCE(a.dist, b.nd), COALESCE(b.nd, a.dist)) AS dist
  FROM d0 a FULL OUTER JOIN n1 b ON a.node = b.node
), n2 AS (
  SELECT s.u AS node, MIN(d.dist) + 1 AS nd
  FROM sym s JOIN d1 d ON d.node = s.v GROUP BY s.u
), d2 AS (
  SELECT COALESCE(a.node, b.node) AS node,
         least(COALESCE(a.dist, b.nd), COALESCE(b.nd, a.dist)) AS dist
  FROM d1 a FULL OUTER JOIN n2 b ON a.node = b.node
), n3 AS (
  SELECT s.u AS node, MIN(d.dist) + 1 AS nd
  FROM sym s JOIN d2 d ON d.node = s.v GROUP BY s.u
), d3 AS (
  SELECT COALESCE(a.node, b.node) AS node,
         least(COALESCE(a.dist, b.nd), COALESCE(b.nd, a.dist)) AS dist
  FROM d2 a FULL OUTER JOIN n3 b ON a.node = b.node
)
SELECT CAST(dist AS BIGINT) AS dist, CAST(COUNT(*) AS BIGINT) AS n_nodes
FROM d3 GROUP BY dist
"""


@register("graph_bfs_distances", oracle=_BFS_ORACLE, tags=("graph", "analytics"))
def graph_bfs_distances(spark, sf_dir):
    """Bounded (3-hop) multi-source BFS from the 5 lowest-keyed
    suppliers over the bipartite order graph, reported as a distance
    histogram — the reachability/influence-radius primitive (min-label
    propagation finds BASINS; BFS finds DISTANCE, a different
    semantic). Exact BIGINT mins, fully unrolled SQL oracle; each round
    is one neighbor equi-join + keyed MIN + a node-keyed frontier
    merge, re-pinned per round — see operators/graph.py:bfs_distances."""
    from ..operators.graph import bfs_distances

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
    seeds = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_suppkey") < 5)
        .select((F.col("s_suppkey") * 2 + 1).alias("node"))
    )
    d = bfs_distances(e0, seeds, n_rounds=3)
    return d.groupBy("dist").agg(F.count(F.lit(1)).alias("n_nodes"))


# ---------------------------------------------------------------------------
# Vocabulary head-coverage curve (tokenizer sizing).
# ---------------------------------------------------------------------------

_VOCAB_COVERAGE_ORACLE = """
WITH tok AS (
  SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
  FROM documents
), f AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS freq FROM tok GROUP BY tok
), c AS (
  SELECT freq,
         SUM(freq) OVER (ORDER BY freq DESC, tok ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(freq) OVER () AS total,
         COUNT(*) OVER () AS n_types
  FROM f
)
SELECT t.threshold_pct,
       CAST(COALESCE(SUM(CASE WHEN (cum - freq) * 100 < t.threshold_pct * total
                              THEN 1 END), 0) AS BIGINT) AS n_types_needed,
       CAST(MAX(n_types) AS BIGINT) AS n_types_total
FROM c, (VALUES (50), (90), (99), (100)) t(threshold_pct)
GROUP BY t.threshold_pct
"""


@register("text_vocab_coverage", oracle=_VOCAB_COVERAGE_ORACLE, tags=("llm", "text", "stats"))
def text_vocab_coverage(spark, sf_dir):
    """Vocabulary head-coverage curve: the minimal number of most-
    frequent types whose cumulative frequency first reaches 50 / 90 /
    99 / 100% of all tokens — the tokenizer-vocab-size sizing query
    (how big must the vocab be before <unk> is rare). Same exact
    integer covering-prefix predicate as agg_pareto_concentration
    ((cum - freq)·100 < T·total), same distributed machinery: the
    running total over (freq desc, tok) is operators.scale.global_cumsum
    (range partition + prefix offsets), never the oracle's
    single-partition window."""
    from ..operators.scale import global_cumsum

    toks = F.filter(F.split(F.col("text"), " "), lambda t: t != "")
    f = (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(toks).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
        .withColumn("negf", -F.col("freq"))
    )
    cum = global_cumsum(f, "freq", ["negf", "tok"], cum_col="cum")
    totals = cum.agg(
        F.max("cum").alias("total"), F.count(F.lit(1)).alias("n_types")
    )
    return (
        cum.crossJoin(F.broadcast(totals))
        .withColumn(
            "threshold_pct",
            F.explode(F.array(*[F.lit(t) for t in (50, 90, 99, 100)])),
        )
        .groupBy("threshold_pct")
        .agg(
            F.coalesce(
                F.sum(
                    F.when(
                        (F.col("cum") - F.col("freq")) * 100
                        < F.col("threshold_pct").cast("long") * F.col("total"),
                        1,
                    )
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("n_types_needed"),
            F.max("n_types").alias("n_types_total"),
        )
    )


# ---------------------------------------------------------------------------
# Label-centroid pairwise distance matrix (semantic drift / separability).
# ---------------------------------------------------------------------------

_CENTROID_Q = 1_000_000


def _centroid_oracle() -> str:
    return f"""
WITH e AS (
  SELECT label, list_transform(embedding,
         x -> CAST(round(CAST(x AS DOUBLE) * {_CENTROID_Q}) AS BIGINT)) AS qv
  FROM embeddings
), comp AS (
  -- dim bound derived from the DATA (max embedding length), not a
  -- hardcoded 64, so a fixture dim change cannot silently under-compare
  -- dimensions (ADVICE r5)
  SELECT label, d.i AS dim, qv[d.i] AS qx
  FROM e, (SELECT unnest(generate_series(1,
           (SELECT MAX(len(embedding)) FROM embeddings))) AS i) d
), q AS (
  SELECT label, dim,
         CAST(SUM(qx) // COUNT(*) AS BIGINT) AS qm
  FROM comp GROUP BY label, dim
), pairs AS (
  SELECT a.label AS label_a, b.label AS label_b,
         SUM((a.qm - b.qm) * (a.qm - b.qm)) AS sq
  FROM q a JOIN q b ON a.dim = b.dim AND a.label < b.label
  GROUP BY a.label, b.label
)
SELECT label_a, label_b,
       round(sqrt(CAST(sq AS DOUBLE)) / {_CENTROID_Q}, 6) AS centroid_l2
FROM pairs
"""


@register("sim_centroid_distances", oracle=_centroid_oracle(), tags=("llm", "similarity"))
def sim_centroid_distances(spark, sf_dir):
    """Pairwise L2 distance between per-label embedding CENTROIDS — the
    class-separability / semantic-drift matrix (two labels whose
    centroids collapse are candidates for merging; a centroid that
    moves between corpus versions signals drift). Centroid components
    derive from PER-COMPONENT int64 micro-unit quantization followed by
    exact integer SUM and truncating integer-DIV mean (Spark DIV and
    DuckDB // both truncate toward zero — verified on negative sums; a
    raw double AVG would be
    shuffle-order-dependent), so the distance matrix is bit-reproducible
    across engines AND cluster topologies. Plan: one (label, dim) agg over exploded vectors,
    a dim-keyed self-join over |labels|×dims rows — trivially bounded;
    the heavy relation is touched once."""
    emb = load_table(spark, sf_dir, "embeddings")
    dims = (
        emb.select(
            "label",
            F.posexplode(
                F.expr(
                    f"transform(embedding,"
                    f" x -> CAST(round(CAST(x AS DOUBLE) * {_CENTROID_Q}) AS BIGINT))"
                )
            ).alias("d0", "qx"),
        )
        .groupBy("label", (F.col("d0") + 1).alias("dim"))
        .agg(F.expr("SUM(qx) DIV COUNT(*)").alias("qm"))
    )
    a = dims.select(
        F.col("label").alias("label_a"), "dim", F.col("qm").alias("qa")
    )
    b = dims.select(
        F.col("label").alias("label_b"), "dim", F.col("qm").alias("qb")
    )
    return (
        a.join(b, "dim")
        .filter(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(F.sum((F.col("qa") - F.col("qb")) * (F.col("qa") - F.col("qb"))).alias("sq"))
        .select(
            "label_a",
            "label_b",
            F.round(F.sqrt(F.col("sq").cast("double")) / _CENTROID_Q, 6).alias(
                "centroid_l2"
            ),
        )
    )



# ---------------------------------------------------------------------------
# Round-6 graph analytics over the part CO-ORDER graph: local clustering,
# common-neighbor link prediction, degree assortativity. The co-purchase
# supplier projection is COMPLETE at fixture scale (every supplier pair
# shares >= 3 customers — a K_n gives empty link-prediction candidates
# and zero degree variance, the non-discriminating-oracle trap the r5
# gate-honesty audit was about), so these three consume the naturally
# SPARSE "parts ordered together >= 2 times" graph instead (checked:
# varied degrees, thousands of triangles, non-empty candidate sets at
# sf0.001 AND sf0.01).
# ---------------------------------------------------------------------------

_COORDER_MIN_SHARED = 2


def _coorder_part_edges(spark, sf_dir):
    """(u < v, w) part co-order edges: parts appearing in >= 2 common
    orders. Plan (optimization r13, guide §2.3/§2.4): ONE order-keyed
    aggregation collects each order's distinct part set (sorted for
    determinism), the u < v pairs expand MAP-SIDE via array
    higher-order functions (per-order fanout C(k,2), k = distinct
    parts/order ~4 — bounded by construction, so the expansion is
    bounded at any scale), then one keyed count. 2 exchanges, no join
    — the previous distinct + order-keyed self-equi-join + count shape
    cost 3 exchanges plus a sort-merge join of the full bipartite
    relation. Values identical (same pair multiset; prototype-verified
    row-equal at sf0.01/sf0.1, then oracle parity + layout audit
    re-run).

    The result is eagerly localCheckpointed: the pair graph is tiny
    (~3.6 k edges at sf0.1) but its lineage is the full lineitem scan,
    and every consumer in the co-order family references it 2-8x (sym
    both directions, deg, wedge-join sides) — unpinned, each reference
    re-derived the scan+aggregate per use (measured: the
    graph_linkpred_common_neighbors physical plan carried 320 Exchange
    nodes before, and graph_harmonic_2hop 238; pinned, each is one
    derivation + small-relation joins — guide §3.3's plan-truncation
    rule)."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    ps = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("ps")
    )
    # The count shuffle carries ONE packed long per pair instead of a
    # two-long struct row (optimization r14, guide §2.3 "narrower
    # types"): u*2^32 + v fits a long and decodes back to (u, v) only
    # while 0 <= u < 2^31 and v < 2^32. TPC-H part keys run to 200k x
    # SF, so that holds up to SF 10,737; a key outside the range fails
    # the query inside the pack expression instead of silently
    # decoding to a wrong pair. Same pair multiset, same counts.
    pairs = ps.select(
        F.explode(
            F.expr(
                "flatten(transform(ps, (x, i) ->"
                " transform(slice(ps, i + 2, size(ps)),"
                " y -> IF(x < 0 OR x >= 2147483648L OR y >= 4294967296L,"
                " raise_error(concat('co-order part key out of the packed"
                " range [0, 2^31) x [0, 2^32): ', x, ', ', y)),"
                " x * 4294967296L + y))))"
            )
        ).alias("uv")
    )
    return pin(
        pairs.groupBy("uv")
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= _COORDER_MIN_SHARED)
        .select(
            F.shiftright("uv", 32).alias("u"),
            F.col("uv").bitwiseAND(F.lit((1 << 32) - 1)).alias("v"),
            "w",
        )
    )


_COORDER_EDGES_CTE = f"""
WITH b AS (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
), e AS (
  SELECT a.p AS u, x.p AS v, CAST(COUNT(*) AS BIGINT) AS w
  FROM b a JOIN b x ON a.o = x.o AND a.p < x.p
  GROUP BY a.p, x.p
  HAVING COUNT(*) >= {_COORDER_MIN_SHARED}
), sym AS (
  SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e
), deg AS (
  SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS deg FROM sym GROUP BY u
)"""


_LOCAL_CC_ORACLE = _COORDER_EDGES_CTE + """
, tri AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS n_tri FROM (
    SELECT unnest([e1.u, e1.v, e2.v]) AS node
    FROM e e1
    JOIN e e2 ON e2.u = e1.u AND e2.v > e1.v
    JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v
  ) GROUP BY node
)
SELECT d.node AS part, d.deg,
       CAST(COALESCE(t.n_tri, 0) AS BIGINT) AS n_triangles,
       CASE WHEN d.deg >= 2
            THEN round(2.0 * COALESCE(t.n_tri, 0) / (d.deg * (d.deg - 1.0)), 6)
            ELSE 0.0 END AS local_cc
FROM deg d LEFT JOIN tri t ON t.node = d.node
"""


@register("graph_local_clustering", oracle=_LOCAL_CC_ORACLE, tags=("graph", "analytics"))
def graph_local_clustering(spark, sf_dir):
    """Per-part LOCAL clustering coefficient over the co-order graph
    (triangle_stats reports the global transitivity; this is the
    node-level decomposition: a high-degree part with near-zero local
    cc is a staple bridging unrelated baskets, a clique member scores
    ~1). Degree-ordered-orientation triangle ENUMERATION
    (operators/graph.py:local_clustering, Suri & Vassilvitskii WWW'11 —
    wedge fanout bounded by out-degree) with an explode(3) credit per
    triangle — keyed shuffles only; the oracle re-enumerates triangles
    from the u<v edge list with an ordered 3-way self-join."""
    from ..operators.graph import local_clustering

    e = _coorder_part_edges(spark, sf_dir).select("u", "v")
    return local_clustering(e).withColumnRenamed("node", "part")


_LINKPRED_HUB_CAP = 32

_LINKPRED_ORACLE = _COORDER_EDGES_CTE + f"""
, hub AS (
  SELECT node FROM deg WHERE deg > {_LINKPRED_HUB_CAP}
), symf AS (
  SELECT u, v FROM sym WHERE v NOT IN (SELECT node FROM hub)
), degn AS (
  SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS deg FROM symf GROUP BY u
), cn AS (
  SELECT s1.u AS a, s2.u AS b, CAST(COUNT(*) AS BIGINT) AS n_common
  FROM symf s1 JOIN symf s2 ON s1.v = s2.v AND s1.u < s2.u
  GROUP BY 1, 2
), cand AS (
  SELECT cn.a, cn.b, cn.n_common
  FROM cn LEFT JOIN e ON e.u = cn.a AND e.v = cn.b
  WHERE e.u IS NULL AND cn.n_common >= 2
)
SELECT cand.a AS part_a, cand.b AS part_b, cand.n_common,
       round(CAST(cand.n_common AS DOUBLE)
             / (da.deg + db.deg - cand.n_common), 6) AS neighbor_jaccard
FROM cand
JOIN degn da ON da.node = cand.a
JOIN degn db ON db.node = cand.b
"""


@register("graph_linkpred_common_neighbors", oracle=_LINKPRED_ORACLE, tags=("graph", "analytics"))
def graph_linkpred_common_neighbors(spark, sf_dir):
    """Common-neighbor link prediction over the co-order graph:
    NON-adjacent part pairs sharing >= 2 neighbors, scored by
    neighborhood Jaccard |N'(a) ∩ N'(b)| / |N'(a) ∪ N'(b)| — the
    classic structural recommender ("parts that should co-occur but
    don't yet"). HUB CAP (part of the operator's semantics, identical
    in the oracle — the same df-cap rule co-purchase/winnowing/LSH
    use): nodes with degree > 32 are excluded as WEDGE CENTERS, so
    N'(x) = neighbors of x that are not hubs. The wedge join's per-key
    fanout is then bounded by cap² instead of neighbor-degree² — a hub
    contributes deg² candidate pairs and ~zero predictive signal
    (every pair "shares" the staple part); at 100 TB the cap is what
    keeps the shuffle bounded on a skewed key. Both Jaccard degrees
    come from the SAME hub-filtered neighborhood, so the set identity
    |N'∪N'| = deg'a + deg'b - n_common stays exact. Hubs can still
    RECEIVE predictions — they just don't serve as evidence. Plan:
    broadcast anti-join of the tiny hub list onto the symmetric edges,
    wedge join on the shared (non-hub) neighbor, one anti-join against
    the edge set, two broadcast degree joins. Exact integers until the
    single final division. Non-empty at the driver-compare SF and the
    sf0.001 fixture (checked; the cap is discriminating at sf0.001 —
    9254 vs 12266 uncapped rows — and a no-op at sparser SFs)."""
    from ..operators.graph import common_neighbor_linkpred

    e = _coorder_part_edges(spark, sf_dir).select("u", "v")
    return common_neighbor_linkpred(e, hub_cap=_LINKPRED_HUB_CAP).select(
        F.col("a").alias("part_a"),
        F.col("b").alias("part_b"),
        "n_common",
        "neighbor_jaccard",
    )


_ASSORT_ORACLE = _COORDER_EDGES_CTE + """
, p AS (
  SELECT d1.deg AS dx, d2.deg AS dy
  FROM sym s JOIN deg d1 ON d1.node = s.u JOIN deg d2 ON d2.node = s.v
), m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(dx) AS DECIMAL(38,0)) AS sx,
         CAST(SUM(dy) AS DECIMAL(38,0)) AS sy,
         CAST(SUM(dx * dy) AS DECIMAL(38,0)) AS sxy,
         CAST(SUM(dx * dx) AS DECIMAL(38,0)) AS sxx,
         CAST(SUM(dy * dy) AS DECIMAL(38,0)) AS syy
  FROM p
)
SELECT n AS n_edge_endpoints,
       CASE WHEN (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
             AND (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0
            THEN round((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                       / sqrt((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                              * (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
                       6)
            END AS assortativity
FROM m
"""


@register("graph_degree_assortativity", oracle=_ASSORT_ORACLE, tags=("graph", "analytics"))
def graph_degree_assortativity(spark, sf_dir):
    """Degree assortativity of the co-order graph: Pearson correlation
    of endpoint degrees over every (symmetric) edge — positive means
    hubs link hubs (social-network-like), negative means hubs link
    leaves (infrastructure-like); the one-scalar structure fingerprint.
    Exact DECIMAL(38) integer moments, ONE double expression at the
    end — no cross-row float accumulation; a degree-regular graph
    (zero variance) is an explicit NULL path, not a divide-by-zero
    (the ADVICE-r5 z-score rule; non-NULL at every fixture SF,
    checked). Plan: two broadcast degree joins onto the edge relation
    + one map-side-combinable moments agg."""
    e = _coorder_part_edges(spark, sf_dir).select("u", "v")
    sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = sym.groupBy(F.col("u").alias("node")).agg(F.count(F.lit(1)).alias("deg"))
    p = (
        sym.join(
            F.broadcast(deg.select(F.col("node").alias("u"), F.col("deg").alias("dx"))),
            "u",
        )
        .join(
            F.broadcast(deg.select(F.col("node").alias("v"), F.col("deg").alias("dy"))),
            "v",
        )
        .select("dx", "dy")
    )
    m = p.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("dx").cast("decimal(38,0)").alias("sx"),
        F.sum("dy").cast("decimal(38,0)").alias("sy"),
        F.sum(F.col("dx") * F.col("dy")).cast("decimal(38,0)").alias("sxy"),
        F.sum(F.col("dx") * F.col("dx")).cast("decimal(38,0)").alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).cast("decimal(38,0)").alias("syy"),
    )
    nd = F.col("n")
    varx = nd * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col(
        "sx"
    ).cast("double")
    vary = nd * F.col("syy").cast("double") - F.col("sy").cast("double") * F.col(
        "sy"
    ).cast("double")
    cov = nd * F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col(
        "sy"
    ).cast("double")
    return m.select(
        F.col("n").alias("n_edge_endpoints"),
        F.when((varx > 0) & (vary > 0), F.round(cov / F.sqrt(varx * vary), 6)).alias(
            "assortativity"
        ),
    )


# ---------------------------------------------------------------------------
# Round-6: market-basket association rules (support / confidence / lift)
# on the order->part bipartite graph.
# ---------------------------------------------------------------------------

_ASSOC_MIN_BOTH = 2

_ASSOC_ORACLE = f"""
WITH b AS (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
), n AS (
  SELECT COUNT(DISTINCT o) AS n_orders FROM b
), pc AS (
  SELECT p, COUNT(*) AS cnt FROM b GROUP BY p
), pairs AS (
  SELECT a.p AS part_a, x.p AS part_b, CAST(COUNT(*) AS BIGINT) AS n_both
  FROM b a JOIN b x ON a.o = x.o AND a.p < x.p
  GROUP BY a.p, x.p
  HAVING COUNT(*) >= {_ASSOC_MIN_BOTH}
)
SELECT part_a, part_b, n_both,
       CAST(n_both * 1000000 // n.n_orders AS BIGINT) AS support_ppm,
       CAST(n_both * 1000000 // ca.cnt AS BIGINT) AS conf_a_to_b_ppm,
       CAST(n_both * 1000000 // cb.cnt AS BIGINT) AS conf_b_to_a_ppm,
       CAST(n_both * n.n_orders * 1000000 // (ca.cnt * cb.cnt) AS BIGINT)
         AS lift_micro
FROM pairs
JOIN pc ca ON ca.p = part_a
JOIN pc cb ON cb.p = part_b, n
"""


@register("graph_association_rules", oracle=_ASSOC_ORACLE, tags=("graph", "analytics"))
def graph_association_rules(spark, sf_dir):
    """Market-basket association rules over parts co-ordered in the
    same order: for every part pair seen together >= 2 times, exact-ppm
    support (share of orders containing both), both directed
    confidences (P(B|A), P(A|B)), and micro-scaled lift
    (P(A,B)/(P(A)P(B)) — > 1e6 means positively associated). The
    classic Agrawal-Srikant frequent-itemset output at size 2, kept
    fully relational: no Apriori candidate generation is needed because
    the pair enumeration is already bounded by per-order basket size
    (~7 items -> <= 21 pairs per order), the same bounded-fanout
    argument as graph_copurchase_projection one level up.

    Plan: distinct bipartite edges, order-keyed self equi-join (per-key
    fanout = basket size), keyed pair count, then two BROADCAST joins
    against the part-count relation (|parts| rows) and a broadcast
    single-row order count. All ratios exact integer ppm (floor
    division on positive integers — identical in both engines)."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    b = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct()
    n = b.agg(F.countDistinct("o").alias("n_orders"))
    pc = b.groupBy("p").agg(F.count(F.lit(1)).alias("cnt"))
    a = b.select("o", F.col("p").alias("part_a"))
    x = b.select("o", F.col("p").alias("part_b"))
    pairs = (
        a.join(x, "o")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
        .filter(F.col("n_both") >= _ASSOC_MIN_BOTH)
    )
    ca = pc.select(F.col("p").alias("part_a"), F.col("cnt").alias("cnt_a"))
    cb = pc.select(F.col("p").alias("part_b"), F.col("cnt").alias("cnt_b"))
    return (
        pairs.join(F.broadcast(ca), "part_a")
        .join(F.broadcast(cb), "part_b")
        .crossJoin(F.broadcast(n))
        .select(
            "part_a",
            "part_b",
            "n_both",
            F.expr("CAST(n_both * 1000000 DIV n_orders AS BIGINT)").alias(
                "support_ppm"
            ),
            F.expr("CAST(n_both * 1000000 DIV cnt_a AS BIGINT)").alias(
                "conf_a_to_b_ppm"
            ),
            F.expr("CAST(n_both * 1000000 DIV cnt_b AS BIGINT)").alias(
                "conf_b_to_a_ppm"
            ),
            F.expr(
                "CAST(n_both * n_orders * 1000000 DIV (cnt_a * cnt_b) AS BIGINT)"
            ).alias("lift_micro"),
        )
    )


# ---------------------------------------------------------------------------
# Round-6: one distributed power-iteration step on the embedding
# second-moment matrix (the top-eigenvector / spectral-drift primitive).
# ---------------------------------------------------------------------------

_POWER_ORACLE = """
WITH q AS (
  SELECT vec_id, d.i AS dim,
         CAST(round(CAST(embedding[d.i] AS DOUBLE) * 1000000) AS BIGINT) AS qx
  FROM embeddings, LATERAL unnest(generate_series(1, len(embedding))) AS d(i)
), dots AS (
  SELECT vec_id, CAST(SUM(qx) AS BIGINT) AS dot FROM q GROUP BY vec_id
), mv AS (
  SELECT dim, SUM(CAST(q.qx AS DECIMAL(38,0)) * dots.dot) AS v
  FROM q JOIN dots USING (vec_id) GROUP BY dim
), mx AS (
  SELECT MAX(abs(v)) AS m FROM mv
)
SELECT dim,
       CAST(CASE WHEN v < 0 THEN -1 ELSE 1 END
            * (CAST(abs(v) AS HUGEINT) * 1000000 // CAST(m AS HUGEINT))
            AS BIGINT) AS v_scaled_ppm
FROM mv, mx
"""


@register("ml_power_iteration_step", oracle=_POWER_ORACLE, tags=("ml", "similarity"))
def ml_power_iteration_step(spark, sf_dir):
    """One POWER-ITERATION step v1 = (X^T X) v0 on the embedding
    second-moment matrix with v0 = all-ones, reported per dimension
    scaled to ppm of the max component — the distributed primitive
    under top-eigenvector / spectral-norm / PCA-drift estimation. The
    d x d Gram matrix is NEVER materialized: (X^T X) v0 = X^T (X v0),
    so the step is one per-row dot product (map-side, array aggregate)
    followed by one dim-keyed weighted sum — two narrow aggregations
    over n*d rows, no d^2 state anywhere, which is why it scales to
    100 TB of embeddings while a Gram-matrix materialization would not.

    Exactness: components quantized to int64 micro-units before any
    cross-row sum; per-dim accumulator DECIMAL(38,0); final scaling is
    floor division on the ABSOLUTE value with the sign reapplied
    (Spark decimal DIV truncates toward zero, DuckDB decimal `//`
    ROUNDS at scale 0 — measured; HUGEINT floor division on abs values
    is the portable form)."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    q = emb.select(
        "vec_id", F.posexplode("embedding").alias("i", "x")
    ).select(
        "vec_id",
        (F.col("i") + 1).alias("dim"),
        F.round(F.col("x").cast("double") * 1000000).cast("long").alias("qx"),
    )
    dots = q.groupBy("vec_id").agg(F.sum("qx").alias("dot"))
    mv = (
        q.join(dots, "vec_id")
        .groupBy("dim")
        .agg(F.sum(F.col("qx").cast("decimal(38,0)") * F.col("dot")).alias("v"))
    )
    mx = mv.agg(F.max(F.abs(F.col("v"))).alias("m"))
    return mv.crossJoin(F.broadcast(mx)).select(
        "dim",
        F.expr(
            "CAST(CASE WHEN v < 0 THEN -1 ELSE 1 END"
            " * (abs(v) * 1000000 DIV m) AS BIGINT)"
        ).alias("v_scaled_ppm"),
    )


# ---------------------------------------------------------------------------
# Round-6: per-column schema/data-quality profile (the "describe table"
# a pipeline runs before trusting an unfamiliar 100 TB dataset).
# ---------------------------------------------------------------------------

_SCHEMA_PROFILE_ORACLE = """
SELECT 'o_orderkey' AS col_name, COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
       COUNT(DISTINCT o_orderkey) AS n_distinct,
       CAST(MIN(o_orderkey) AS VARCHAR) AS min_repr,
       CAST(MAX(o_orderkey) AS VARCHAR) AS max_repr
FROM orders
UNION ALL
SELECT 'o_custkey', COUNT(*),
       CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       COUNT(DISTINCT o_custkey),
       CAST(MIN(o_custkey) AS VARCHAR), CAST(MAX(o_custkey) AS VARCHAR)
FROM orders
UNION ALL
SELECT 'o_orderstatus', COUNT(*),
       CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       COUNT(DISTINCT o_orderstatus),
       MIN(o_orderstatus), MAX(o_orderstatus)
FROM orders
UNION ALL
SELECT 'o_totalprice_cents', COUNT(*),
       CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       COUNT(DISTINCT CAST(round(CAST(o_totalprice AS DECIMAL(15,2)) * 100) AS BIGINT)),
       CAST(MIN(CAST(round(CAST(o_totalprice AS DECIMAL(15,2)) * 100) AS BIGINT)) AS VARCHAR),
       CAST(MAX(CAST(round(CAST(o_totalprice AS DECIMAL(15,2)) * 100) AS BIGINT)) AS VARCHAR)
FROM orders
UNION ALL
SELECT 'o_orderdate', COUNT(*),
       CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       COUNT(DISTINCT CAST(o_orderdate AS DATE)),
       strftime(MIN(CAST(o_orderdate AS DATE)), '%Y-%m-%d'),
       strftime(MAX(CAST(o_orderdate AS DATE)), '%Y-%m-%d')
FROM orders
UNION ALL
SELECT 'o_orderpriority', COUNT(*),
       CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       COUNT(DISTINCT o_orderpriority),
       MIN(o_orderpriority), MAX(o_orderpriority)
FROM orders
"""


@register("pipeline_schema_profile", oracle=_SCHEMA_PROFILE_ORACLE, tags=("pipeline", "profiling"))
def pipeline_schema_profile(spark, sf_dir):
    """Per-column schema/data-quality profile of the orders table: one
    row per column with row count, null count, exact distinct count,
    and canonicalized min/max (keys as integer strings, money as exact
    cents, dates as ISO days — raw float/timestamp formatting is
    engine-specific, so the profile canonicalizes BEFORE stringifying;
    that choice is part of the operator contract).

    Plan: ONE scan with every per-column aggregate computed together —
    Catalyst expands the 6 DISTINCT aggregates into a single Expand
    (x6 rows) + two-phase agg, which beats 6 separate scans of a
    100 TB table by ~6x scan cost; the final unpivot to rows is a
    1-row stack. The profile a pipeline diffs day-over-day to catch
    upstream schema drift (sudden nulls, cardinality jumps, range
    shifts) before training on bad data."""
    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice").cast("decimal(15,2)") * 100).cast("long")
    oday = F.col("o_orderdate").cast("date")
    a = orders.agg(
        F.count(F.lit(1)).alias("n_rows"),
        # o_orderkey
        F.sum(F.when(F.col("o_orderkey").isNull(), 1).otherwise(0)).alias("nn_k"),
        F.countDistinct("o_orderkey").alias("nd_k"),
        F.min("o_orderkey").cast("string").alias("mn_k"),
        F.max("o_orderkey").cast("string").alias("mx_k"),
        # o_custkey
        F.sum(F.when(F.col("o_custkey").isNull(), 1).otherwise(0)).alias("nn_c"),
        F.countDistinct("o_custkey").alias("nd_c"),
        F.min("o_custkey").cast("string").alias("mn_c"),
        F.max("o_custkey").cast("string").alias("mx_c"),
        # o_orderstatus
        F.sum(F.when(F.col("o_orderstatus").isNull(), 1).otherwise(0)).alias("nn_s"),
        F.countDistinct("o_orderstatus").alias("nd_s"),
        F.min("o_orderstatus").alias("mn_s"),
        F.max("o_orderstatus").alias("mx_s"),
        # o_totalprice as cents
        F.sum(F.when(F.col("o_totalprice").isNull(), 1).otherwise(0)).alias("nn_p"),
        F.countDistinct(cents).alias("nd_p"),
        F.min(cents).cast("string").alias("mn_p"),
        F.max(cents).cast("string").alias("mx_p"),
        # o_orderdate as ISO day
        F.sum(F.when(F.col("o_orderdate").isNull(), 1).otherwise(0)).alias("nn_d"),
        F.countDistinct(oday).alias("nd_d"),
        F.date_format(F.min(oday), "yyyy-MM-dd").alias("mn_d"),
        F.date_format(F.max(oday), "yyyy-MM-dd").alias("mx_d"),
        # o_orderpriority
        F.sum(F.when(F.col("o_orderpriority").isNull(), 1).otherwise(0)).alias("nn_o"),
        F.countDistinct("o_orderpriority").alias("nd_o"),
        F.min("o_orderpriority").alias("mn_o"),
        F.max("o_orderpriority").alias("mx_o"),
    )
    return a.selectExpr(
        """stack(6,
           'o_orderkey', n_rows, nn_k, nd_k, mn_k, mx_k,
           'o_custkey', n_rows, nn_c, nd_c, mn_c, mx_c,
           'o_orderstatus', n_rows, nn_s, nd_s, mn_s, mx_s,
           'o_totalprice_cents', n_rows, nn_p, nd_p, mn_p, mx_p,
           'o_orderdate', n_rows, nn_d, nd_d, mn_d, mx_d,
           'o_orderpriority', n_rows, nn_o, nd_o, mn_o, mx_o
        ) AS (col_name, n_rows, n_nulls, n_distinct, min_repr, max_repr)"""
    )


# ---------------------------------------------------------------------------
# Round-6: Adamic-Adar link prediction (hub-discounted common neighbors).
# ---------------------------------------------------------------------------

_AA_ORACLE = _COORDER_EDGES_CTE + f"""
, wn AS (
  -- deg-1 neighbors can never be SHARED (a wedge needs two edges at n)
  -- and ln(1) = 0 would make the weight a division hazard: filtered
  -- before the weight is evaluated, identically in both engines.
  SELECT sym.u, sym.v AS n,
         CAST(round(1000000.0 / ln(deg.deg)) AS BIGINT) AS w_n
  FROM sym JOIN deg ON deg.node = sym.v
  WHERE deg.deg >= 2 AND deg.deg <= {_LINKPRED_HUB_CAP}
), cn AS (
  SELECT s1.u AS a, s2.u AS b,
         CAST(COUNT(*) AS BIGINT) AS n_common,
         CAST(SUM(s1.w_n) AS BIGINT) AS aa_micro
  FROM wn s1 JOIN wn s2 ON s1.n = s2.n AND s1.u < s2.u
  GROUP BY 1, 2
)
SELECT cn.a AS part_a, cn.b AS part_b, cn.n_common, cn.aa_micro
FROM cn LEFT JOIN e ON e.u = cn.a AND e.v = cn.b
WHERE e.u IS NULL AND cn.n_common >= 2
"""


@register("graph_linkpred_adamic_adar", oracle=_AA_ORACLE, tags=("graph", "analytics"))
def graph_linkpred_adamic_adar(spark, sf_dir):
    """Adamic-Adar link prediction over the co-order graph: the same
    non-adjacent >= 2-common-neighbor candidates as
    graph_linkpred_common_neighbors, but each shared neighbor n
    contributes 1/ln(deg(n)) instead of 1 — a rare shared neighbor is
    strong evidence, a hub is weak evidence (Adamic & Adar, "Friends
    and neighbors on the Web", 2003). A shared neighbor always has
    deg >= 2, so ln(deg) > 0 by construction — and deg-1 rows are
    filtered BEFORE the weight expression evaluates (ANSI mode turns
    the eager 1/ln(1) into a query-killing divide-by-zero even though
    those rows could never survive the wedge join; the 10x probe
    caught this — no deg-1 node exists at sf0.01). HUB CAP (round 7,
    the common_neighbors rule applied to the sibling): nodes with
    degree > 32 are excluded as wedge centers in BOTH engines — AA
    already DOWNWEIGHTS hubs toward zero, but the weight does nothing
    about the deg² wedge FANOUT; the cap is what bounds the shuffle,
    and the near-zero evidence it drops is exactly the evidence AA
    says to ignore.

    Exactness: the per-neighbor weight is quantized ONCE to an integer
    (round(1e6/ln(deg)) — identical IEEE ops on identical integers in
    both engines) and the pair score is then an exact integer SUM —
    the micro-nat discipline, applied to graph scoring. Plan: weight
    the symmetrized edges by one broadcast degree join BEFORE the
    wedge join, so the weight rides the wedge rows and the score is a
    plain keyed SUM; anti-join drops existing edges."""
    e = _coorder_part_edges(spark, sf_dir).select("u", "v")
    sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = sym.groupBy(F.col("u").alias("node")).agg(F.count(F.lit(1)).alias("deg"))
    # feeds both wedge sides (r14 pin)
    wn = pin(
        sym.join(
            F.broadcast(
                deg.filter(
                    (F.col("deg") >= 2) & (F.col("deg") <= _LINKPRED_HUB_CAP)
                )
            ),
            sym.v == deg.node,
        ).select(
            "u",
            F.col("v").alias("n"),
            F.round(1000000.0 / F.log(F.col("deg").cast("double"))).cast("long").alias("w_n"),
        )
    )
    s1 = wn.select(F.col("u").alias("a"), "n", "w_n")
    s2 = wn.select(F.col("u").alias("b"), "n")
    cn = (
        s1.join(s2, "n")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.sum("w_n").alias("aa_micro"),
        )
        .filter(F.col("n_common") >= 2)
    )
    return cn.join(e, (e.u == cn.a) & (e.v == cn.b), "left_anti").select(
        F.col("a").alias("part_a"),
        F.col("b").alias("part_b"),
        "n_common",
        "aa_micro",
    )


# ---------------------------------------------------------------------------
# Round-6: one Boruvka round on the co-order affinity graph — the
# distributed MST / affinity-clustering primitive.
# ---------------------------------------------------------------------------

_BORUVKA_PACK = 1 << 40

_BORUVKA_ORACLE = _COORDER_EDGES_CTE + f"""
, wsym AS (
  -- the shared CTE's sym drops w; re-symmetrize WITH the weight
  SELECT u, v, w FROM e
  UNION ALL
  SELECT v AS u, u AS v, w FROM e
), pick AS (
  -- pack with (v + 1): neighbor ids CAN be 0 (part keys start at 0);
  -- an unoffset pack makes key = w * 2^40 decode as (w + 1, 2^40) —
  -- caught by the pure-Python reference test, invisible to the
  -- cross-engine oracle (both engines shared the packing).
  SELECT u AS node, MAX(w * {_BORUVKA_PACK} - (v + 1)) AS key
  FROM wsym GROUP BY u
), sel AS (
  SELECT node,
         CAST(key // {_BORUVKA_PACK} + 1 AS BIGINT) AS w,
         CAST((key // {_BORUVKA_PACK} + 1) * {_BORUVKA_PACK} - key - 1 AS BIGINT)
           AS nbr
  FROM pick
), und AS (
  SELECT least(node, nbr) AS part_a, greatest(node, nbr) AS part_b,
         MAX(w) AS weight, CAST(COUNT(*) AS BIGINT) AS picked_by
  FROM sel GROUP BY 1, 2
)
SELECT part_a, part_b, weight, picked_by FROM und
"""


@register("graph_boruvka_round", oracle=_BORUVKA_ORACLE, tags=("graph", "analytics"))
def graph_boruvka_round(spark, sf_dir):
    """One BORUVKA round on the co-order affinity graph: every node
    picks its MAXIMUM-weight incident edge (tie -> smaller neighbor),
    and the union of picks — each undirected edge kept once, with how
    many endpoints chose it — is the first round of the maximum
    spanning forest / affinity clustering (Boruvka 1926; Bateni et al.,
    "Affinity Clustering: Hierarchical Clustering at Scale",
    NeurIPS 2017). Contracting these edges and repeating is the
    O(log n)-round distributed MST; the round-1 edge set is already
    the standard large-scale agglomerative-clustering seed.

    The argmax is ONE keyed MAX of the packed key w * 2^40 - (nbr + 1)
    (equal weights -> smaller neighbor wins; the +1 offset keeps the
    subtrahend >= 1 even for id 0, so w = key DIV 2^40 + 1 and
    nbr = w * 2^40 - key - 1 recover both fields exactly — the
    unoffset form silently mis-decoded picks of part 0: caught by the
    pure-Python reference test, INVISIBLE to the cross-engine oracle
    because both engines shared the packing) — no window, no join,
    map-side combinable; the undirected dedup is a second tiny keyed
    agg. Engine-portable integers end-to-end."""
    e = _coorder_part_edges(spark, sf_dir).select("u", "v", "w")
    sym = e.unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"), "w")
    )
    p = _BORUVKA_PACK
    pick = sym.groupBy(F.col("u").alias("node")).agg(
        F.max(F.col("w") * p - (F.col("v") + 1)).alias("key")
    )
    sel = pick.select(
        "node",
        F.expr(f"CAST(key DIV {p} + 1 AS BIGINT)").alias("w"),
        F.expr(f"CAST((key DIV {p} + 1) * {p} - key - 1 AS BIGINT)").alias("nbr"),
    )
    return (
        sel.select(
            F.least("node", "nbr").alias("part_a"),
            F.greatest("node", "nbr").alias("part_b"),
            "w",
        )
        .groupBy("part_a", "part_b")
        .agg(F.max("w").alias("weight"), F.count(F.lit(1)).alias("picked_by"))
    )


# ---------------------------------------------------------------------------
# Round-6: one HITS iteration (hubs & authorities) on the customer-part
# purchase bipartite graph.
# ---------------------------------------------------------------------------

_HITS_ORACLE = """
WITH b AS (
  SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
), a1 AS (
  -- authority(part) = number of purchasing customers (h0 = 1)
  SELECT p, CAST(COUNT(*) AS BIGINT) AS auth FROM b GROUP BY p
), h1 AS (
  -- hub(customer) = sum of its parts' authorities
  SELECT b.c, CAST(SUM(a1.auth) AS BIGINT) AS hub
  FROM b JOIN a1 ON a1.p = b.p GROUP BY b.c
), a2 AS (
  -- authority refresh from updated hubs
  SELECT b.p, CAST(SUM(h1.hub) AS BIGINT) AS auth2
  FROM b JOIN h1 ON h1.c = b.c GROUP BY b.p
), mx AS (
  SELECT CAST(MAX(auth2) AS BIGINT) AS m FROM a2
)
SELECT a2.p AS part, a1.auth AS degree_auth, a2.auth2 AS hits_auth_raw,
       CAST(a2.auth2 * 1000000 // mx.m AS BIGINT) AS hits_auth_ppm
FROM a2 JOIN a1 ON a1.p = a2.p, mx
ORDER BY hits_auth_raw DESC, part
LIMIT 20
"""


@register("graph_hits_step", oracle=_HITS_ORACLE, tags=("graph", "analytics"))
def graph_hits_step(spark, sf_dir):
    """One HITS iteration (Kleinberg '99) on the customer-part
    purchase bipartite graph: authority(part) and hub(customer) update
    each other through the edge set — top-20 parts by the refreshed
    authority, with the degree baseline alongside so the output SHOWS
    what the iteration adds (a part bought by high-hub customers
    outranks an equal-degree part bought by low-hub ones — the
    difference between popularity and endorsement). All-integer mass
    (h0 = 1), ppm-normalized by the max, TakeOrdered top-20.

    Plan: three edge-keyed SUM aggregations (auth -> hub -> auth) over
    the distinct bipartite edges + one broadcast max — each step
    map-side combinable, the same constant-depth shape as the unrolled
    TextRank."""
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    b = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    a1 = b.groupBy("p").agg(F.count(F.lit(1)).alias("auth"))
    h1 = (
        b.join(a1, "p")
        .groupBy("c")
        .agg(F.sum("auth").alias("hub"))
    )
    a2 = (
        b.join(h1, "c")
        .groupBy("p")
        .agg(F.sum("hub").alias("auth2"))
    )
    mx = a2.agg(F.max("auth2").alias("m"))
    return (
        a2.join(a1, "p")
        .crossJoin(F.broadcast(mx))
        .select(
            F.col("p").alias("part"),
            F.col("auth").alias("degree_auth"),
            F.col("auth2").alias("hits_auth_raw"),
            F.expr("CAST(auth2 * 1000000 DIV m AS BIGINT)").alias("hits_auth_ppm"),
        )
        .orderBy(F.desc("hits_auth_raw"), "part")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Round-8: one round of distributed greedy matching (mutual-min
# handshake) over the co-order graph.
# ---------------------------------------------------------------------------

_MATCHING_ORACLE = _COORDER_EDGES_CTE + """
, mn AS (
  SELECT u AS node, MIN(v) AS pref FROM sym GROUP BY u
), matched AS (
  SELECT a.node AS u, a.pref AS v
  FROM mn a JOIN mn b ON b.node = a.pref
  WHERE b.pref = a.node AND a.node < a.pref
)
SELECT CAST((SELECT COUNT(*) FROM mn) AS BIGINT) AS n_nodes,
       CAST((SELECT COUNT(*) FROM matched) AS BIGINT) AS n_matched_pairs,
       CAST((SELECT COALESCE(MIN(u), -1) FROM matched) AS BIGINT)
         AS first_matched_u,
       CAST((SELECT COALESCE(MAX(v), -1) FROM matched) AS BIGINT)
         AS last_matched_v
FROM (SELECT 1)
"""


@register("graph_greedy_matching_round", oracle=_MATCHING_ORACLE, tags=("graph", "analytics"))
def graph_greedy_matching_round(spark, sf_dir):
    """ONE round of distributed greedy MATCHING over the co-order part
    graph — the mutual-min handshake primitive (each node points at its
    minimum-id neighbor; an edge is matched iff both endpoints point at
    each other), the building block of Luby/Israeli-Itai-style
    symmetry-breaking algorithms (maximal matching, MIS, graph
    coarsening for multilevel partitioners). Matched pairs are vertex-
    disjoint BY CONSTRUCTION (a node has one min-neighbor), and each
    round is two keyed shuffles — a per-node MIN and a self equi-join
    on the proposal — so k rounds of coarsening cost k bounded passes,
    never a sequential scan. Deterministic (min-id proposals, no RNG);
    exact integer outputs. The oracle recomputes the handshake
    independently and additionally pins the count plus the extreme
    matched ids so a wrong-but-count-preserving handshake breaks the
    hash."""
    e = _coorder_part_edges(spark, sf_dir).select("u", "v")
    sym = e.unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    mn = sym.groupBy(F.col("u").alias("node")).agg(F.min("v").alias("pref"))
    a = mn.select("node", "pref")
    b = mn.select(F.col("node").alias("pref"), F.col("pref").alias("back"))
    matched = (
        a.join(b, "pref")
        .filter((F.col("back") == F.col("node")) & (F.col("node") < F.col("pref")))
        .select(F.col("node").alias("u"), F.col("pref").alias("v"))
    )
    return (
        mn.agg(F.count(F.lit(1)).alias("n_nodes"))
        .crossJoin(matched.agg(F.count(F.lit(1)).alias("n_matched_pairs")))
        .crossJoin(
            matched.agg(
                F.coalesce(F.min("u"), F.lit(-1)).cast("long").alias(
                    "first_matched_u"
                ),
                F.coalesce(F.max("v"), F.lit(-1)).cast("long").alias(
                    "last_matched_v"
                ),
            )
        )
    )


_KATZ_ORACLE = _COORDER_EDGES_CTE + """
, w2 AS (
  SELECT s1.u AS node, CAST(SUM(d.deg) AS BIGINT) AS walks2
  FROM sym s1 JOIN deg d ON d.node = s1.v
  GROUP BY s1.u
)
SELECT d.node AS part, CAST(d.deg AS BIGINT) AS deg, w2.walks2,
       CAST(4 * d.deg + w2.walks2 AS BIGINT) AS katz_x16
FROM deg d JOIN w2 ON w2.node = d.node
"""


@register("graph_katz_centrality_2step", oracle=_KATZ_ORACLE, tags=("graph", "analytics"))
def graph_katz_centrality_2step(spark, sf_dir):
    """Truncated KATZ centrality (Katz 1953) over the co-order graph:
    c(u) = alpha * walks1(u) + alpha^2 * walks2(u) with alpha = 1/4,
    reported as the EXACT integer 16*c = 4*deg(u) + sum_{v in N(u)}
    deg(v) — walk COUNTING, the semantics PageRank's normalization and
    HITS' mutual reinforcement both deliberately discard (a node
    adjacent to busy nodes scores high even if its own degree is low).
    Truncation at length 2 keeps every quantity an exact integer (no
    geometric-series float) and the plan at exactly ONE degree
    broadcast join + one keyed sum — walks of length 2 never
    materialize as paths, only as the degree-weighted neighbor sum.
    At 100 TB the wedge never explodes because it is never built."""
    e = _coorder_part_edges(spark, sf_dir).select("u", "v")
    sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = sym.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("deg")
    )
    w2 = (
        sym.join(F.broadcast(deg), sym.v == deg.node)
        .groupBy(F.col("u").alias("node2"))
        .agg(F.sum("deg").cast("long").alias("walks2"))
    )
    return (
        deg.join(w2, deg.node == F.col("node2"))
        .select(
            F.col("node").alias("part"),
            "deg",
            "walks2",
            (4 * F.col("deg") + F.col("walks2")).cast("long").alias("katz_x16"),
        )
    )


_EMBEDDEDNESS_ORACLE = _COORDER_EDGES_CTE + f"""
, hub AS (
  SELECT node FROM deg WHERE deg > 32
), symf AS (
  SELECT u, v FROM sym WHERE v NOT IN (SELECT node FROM hub)
), emb AS (
  SELECT e.u, e.v, CAST(COUNT(s2.v) AS BIGINT) AS n_common
  FROM e
  LEFT JOIN symf s1 ON s1.u = e.u
  LEFT JOIN symf s2 ON s2.u = e.v AND s2.v = s1.v
  GROUP BY e.u, e.v
)
SELECT n_common AS embeddedness, CAST(COUNT(*) AS BIGINT) AS n_edges
FROM emb GROUP BY n_common
"""


@register("graph_edge_embeddedness", oracle=_EMBEDDEDNESS_ORACLE, tags=("graph", "analytics"))
def graph_edge_embeddedness(spark, sf_dir):
    """EDGE EMBEDDEDNESS histogram over the co-order graph: for every
    existing edge, the number of (non-hub) common neighbors of its
    endpoints — Granovetter's weak-tie spectrum (embeddedness 0 =
    bridge-like edges whose removal disconnects local structure;
    high embeddedness = redundant intra-community ties). The wedge
    enumeration is the common-neighbors machinery pointed AT the edge
    set instead of at non-adjacent pairs (graph_linkpred_*), with the
    same degree-32 hub cap bounding the per-key fanout in both
    engines. LEFT join keeps zero-embeddedness edges — the bridges are
    the interesting bucket and an inner join would silently drop them.
    Output is the bounded histogram."""
    e = _coorder_part_edges(spark, sf_dir).select("u", "v")
    sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = sym.groupBy(F.col("u").alias("node")).agg(F.count(F.lit(1)).alias("deg"))
    hubs = deg.filter(F.col("deg") > 32).select("node")
    symf = sym.join(
        F.broadcast(hubs), sym.v == F.col("node"), "left_anti"
    )
    s1 = symf.select(F.col("u").alias("eu"), F.col("v").alias("n1"))
    s2 = symf.select(F.col("u").alias("ev"), F.col("v").alias("n2"))
    emb = (
        e.join(s1, e.u == s1.eu, "left")
        .join(
            s2,
            (e.v == s2.ev) & (F.col("n1") == F.col("n2")),
            "left",
        )
        .groupBy("u", "v")
        .agg(F.count("n2").cast("long").alias("embeddedness"))
    )
    return emb.groupBy("embeddedness").agg(
        F.count(F.lit(1)).cast("long").alias("n_edges")
    )


_KNN_DEGREE_ORACLE = _COORDER_EDGES_CTE + """
, nd AS (
  SELECT s.u AS node, d1.deg AS deg,
         CAST(SUM(d2.deg) AS BIGINT) AS neighbor_deg_sum,
         CAST(COUNT(*) AS BIGINT) AS n_neighbors
  FROM sym s
  JOIN deg d1 ON d1.node = s.u
  JOIN deg d2 ON d2.node = s.v
  GROUP BY s.u, d1.deg
)
SELECT CAST(deg AS BIGINT) AS deg,
       CAST(COUNT(*) AS BIGINT) AS n_nodes,
       CAST(SUM(neighbor_deg_sum) * 1000 // SUM(n_neighbors) AS BIGINT)
         AS avg_neighbor_deg_milli
FROM nd GROUP BY deg
"""


@register("graph_avg_neighbor_degree_curve", oracle=_KNN_DEGREE_ORACLE, tags=("graph", "analytics"))
def graph_avg_neighbor_degree_curve(spark, sf_dir):
    """The k_nn(k) CURVE — average neighbor degree as a function of
    node degree (Pastor-Satorras et al. 2001): the degree-resolved
    view of mixing structure where graph_degree_assortativity
    compresses to one scalar (a curve can be non-monotone — rich-club
    at the head, disassortative tail — and the scalar hides it).
    Exact integer milli-ratios per degree class (sum of neighbor
    degrees over neighbor count); one broadcast degree join + two
    keyed rollups. Output bounded by the distinct-degree count."""
    e = _coorder_part_edges(spark, sf_dir).select("u", "v")
    sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = sym.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("deg")
    )
    nd = (
        sym.join(F.broadcast(deg.select(F.col("node"), F.col("deg"))), sym.u == F.col("node"))
        .drop("node")
        .join(
            F.broadcast(
                deg.select(F.col("node").alias("n2"), F.col("deg").alias("deg_v"))
            ),
            sym.v == F.col("n2"),
        )
        .groupBy("u", "deg")
        .agg(
            F.sum("deg_v").cast("long").alias("neighbor_deg_sum"),
            F.count(F.lit(1)).cast("long").alias("n_neighbors"),
        )
    )
    return nd.groupBy("deg").agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.expr(
            "CAST(SUM(neighbor_deg_sum) * 1000 DIV SUM(n_neighbors) AS BIGINT)"
        ).alias("avg_neighbor_deg_milli"),
    )


_TWO_HOP_ORACLE = _COORDER_EDGES_CTE + """
, hub AS (
  SELECT node FROM deg WHERE deg > 32
), symf AS (
  SELECT u, v FROM sym WHERE v NOT IN (SELECT node FROM hub)
), reach AS (
  SELECT u, v AS w FROM symf
  UNION
  SELECT s1.u, s2.v AS w
  FROM symf s1 JOIN symf s2 ON s2.u = s1.v
  WHERE s2.v <> s1.u
)
SELECT u AS part, CAST(COUNT(*) AS BIGINT) AS n_two_hop_reach
FROM reach GROUP BY u
"""


@register("graph_two_hop_reach", oracle=_TWO_HOP_ORACLE, tags=("graph", "analytics"))
def graph_two_hop_reach(spark, sf_dir):
    """TWO-HOP REACH per node: |{w : 0 < dist(u,w) <= 2}| over the
    co-order graph with the standing non-hub-middle cap — the
    neighborhood-size curve behind friend-of-friend candidate
    generation and influence estimates (graph_bfs_distances walks from
    ONE source; this is the all-nodes bounded-radius census). The
    2-hop set is the UNION-dedup of direct neighbors and wedge
    endpoints (self excluded) — one capped wedge join + one distinct
    per source key, per-key fanout bounded by cap · deg. Exact
    counts."""
    e = _coorder_part_edges(spark, sf_dir).select("u", "v")
    sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = sym.groupBy(F.col("u").alias("node")).agg(F.count(F.lit(1)).alias("deg"))
    hubs = deg.filter(F.col("deg") > 32).select("node")
    symf = sym.join(F.broadcast(hubs), sym.v == F.col("node"), "left_anti")
    one = symf.select("u", F.col("v").alias("w"))
    two = (
        symf.select(F.col("u").alias("a"), F.col("v").alias("mid"))
        .join(symf.select(F.col("u").alias("mid"), F.col("v").alias("w")), "mid")
        .filter(F.col("w") != F.col("a"))
        .select(F.col("a").alias("u"), "w")
    )
    return (
        one.unionByName(two)
        .distinct()
        .groupBy(F.col("u").alias("part"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_two_hop_reach"))
    )


_RICH_CLUB_ORACLE = _COORDER_EDGES_CTE + """
, ks AS (
  SELECT unnest([2, 4, 8, 16]) AS k
), club AS (
  SELECT ks.k, d.node FROM ks JOIN deg d ON d.deg > ks.k
), club_edges AS (
  SELECT ks.k, CAST(COUNT(*) AS BIGINT) AS m
  FROM ks JOIN e ON TRUE
  JOIN deg du ON du.node = e.u AND du.deg > ks.k
  JOIN deg dv ON dv.node = e.v AND dv.deg > ks.k
  GROUP BY ks.k
), club_n AS (
  SELECT k, CAST(COUNT(*) AS BIGINT) AS n FROM club GROUP BY k
)
SELECT cn.k AS k, cn.n AS n_club_nodes,
       COALESCE(ce.m, 0) AS n_club_edges,
       CAST(COALESCE(ce.m, 0) * 2000000 // (cn.n * (cn.n - 1)) AS BIGINT)
         AS phi_ppm
FROM club_n cn LEFT JOIN club_edges ce ON ce.k = cn.k
WHERE cn.n >= 2
"""


@register("graph_rich_club_coefficient", oracle=_RICH_CLUB_ORACLE, tags=("graph", "analytics"))
def graph_rich_club_coefficient(spark, sf_dir):
    """RICH-CLUB coefficient curve (Zhou & Mondragón 2004): for degree
    thresholds k ∈ {2,4,8,16}, the density φ(k) = 2·E_k / (N_k(N_k−1))
    among nodes of degree > k — do the hubs of the co-order graph form
    their own densely wired club (φ rising with k) or merely fan out
    to leaves? The third lens on degree mixing beside the
    assortativity scalar and the k_nn(k) curve. Exact integer ppm
    (2·E·10⁶ DIV possible-pairs); the club membership is ONE broadcast
    degree join applied to both edge endpoints; thresholds are a
    4-row broadcast. Zero float ops."""
    e = _coorder_part_edges(spark, sf_dir).select("u", "v")
    sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = sym.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("deg")
    )
    ks = load_table(spark, sf_dir, "region").sparkSession.createDataFrame(
        [(2,), (4,), (8,), (16,)], ["k"]
    )
    club_n = (
        F.broadcast(ks)
        .join(deg, deg.deg > F.col("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("deg_u"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("deg_v"))
    ek = (
        e.join(F.broadcast(du), "u")
        .join(F.broadcast(dv), "v")
        .crossJoin(F.broadcast(ks))
        .filter((F.col("deg_u") > F.col("k")) & (F.col("deg_v") > F.col("k")))
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("long").alias("m"))
    )
    return (
        club_n.join(ek, "k", "left")
        .filter(F.col("n") >= 2)
        .select(
            F.col("k").cast("long").alias("k"),
            F.col("n").alias("n_club_nodes"),
            F.coalesce(F.col("m"), F.lit(0)).cast("long").alias("n_club_edges"),
            F.expr(
                "CAST(COALESCE(m, 0) * 2000000 DIV (n * (n - 1)) AS BIGINT)"
            ).alias("phi_ppm"),
        )
    )
