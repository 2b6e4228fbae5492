"""Round-10 driver-contract wrappers — continuation of llm_ops2.py:
ML-evaluation decompositions, truncated graph centrality, corpus-law
text profiling, and curation reweighting. Same discipline as the whole
registry: exact integer/DECIMAL(38) arithmetic with a single float
expression (or per-term micro-quantization) at the end, every
computed column aliased identically in Spark and the DuckDB oracle.
The reference has no analytics surface (SURVEY §2 preamble); these
are engine capability per the north star.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ..operators.scale import pin
from ..tables import VAL, dec, load_table
from . import register

# ---------------------------------------------------------------------------
# Murphy decomposition of the Brier score — the third leg of the
# AUC / calibration-bins / PR-curve evaluation stack.
# ---------------------------------------------------------------------------

_BRIER_ORACLE = """
WITH b AS (
  SELECT CAST(round(CAST(value AS DECIMAL(12,2)) * 100) AS BIGINT) AS c,
         CASE WHEN event_type IN ('purchase', 'signup') THEN 1 ELSE 0 END AS y
  FROM events
), mx AS (
  SELECT MAX(c) + 1 AS d FROM b
), t AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(CAST(c - y * d AS HUGEINT) * (c - y * d))
              AS DECIMAL(38,0)) AS bn
  FROM b, mx
), k AS (
  SELECT LEAST(9, c * 10 // d) AS bin,
         CAST(COUNT(*) AS BIGINT) AS n_k,
         CAST(SUM(c) AS BIGINT) AS sc_k,
         CAST(SUM(CAST(c AS HUGEINT) * c) AS DECIMAL(38,0)) AS scc_k,
         CAST(SUM(y) AS BIGINT) AS s_k,
         CAST(SUM(CAST(c AS HUGEINT) * y) AS DECIMAL(38,0)) AS scy_k
  FROM b, mx GROUP BY LEAST(9, c * 10 // d)
), terms AS (
  SELECT
    CAST(SUM(CAST(sc_k - s_k * mx.d AS HUGEINT) * (sc_k - s_k * mx.d)
             * 10000 // n_k) AS DECIMAL(38,0)) AS rel_num,
    CAST(SUM(CAST(s_k * t.n - n_k * t.sy AS HUGEINT)
             * (s_k * t.n - n_k * t.sy) * 10000 // n_k)
         AS DECIMAL(38,0)) AS res_num,
    CAST(SUM(scc_k * 10000
             - CAST(sc_k AS HUGEINT) * sc_k * 10000 // n_k)
         AS DECIMAL(38,0)) AS wbv_num,
    CAST(SUM(scy_k * 10000
             - CAST(sc_k AS HUGEINT) * s_k * 10000 // n_k)
         AS DECIMAL(38,0)) AS wbc_num
  FROM k, mx, t
)
SELECT t.n, t.sy,
       round(CAST(t.bn AS DOUBLE)
             / (t.n * CAST(mx.d AS DOUBLE) * mx.d), 6) AS brier,
       round(CAST(terms.rel_num AS DOUBLE)
             / (1e4 * t.n * CAST(mx.d AS DOUBLE) * mx.d), 6) AS reliability,
       round(CAST(terms.res_num AS DOUBLE)
             / (1e4 * CAST(t.n AS DOUBLE) * t.n * t.n), 6) AS resolution,
       round(CAST(t.sy AS DOUBLE) * (t.n - t.sy)
             / (CAST(t.n AS DOUBLE) * t.n), 6) AS uncertainty,
       round(CAST(terms.wbv_num AS DOUBLE)
             / (1e4 * t.n * CAST(mx.d AS DOUBLE) * mx.d), 6)
         AS within_bin_var,
       round(CAST(terms.wbc_num AS DOUBLE)
             / (1e4 * t.n * CAST(mx.d AS DOUBLE)), 6)
         AS within_bin_cov
FROM t, mx, terms
"""


@register("ml_brier_decomposition", oracle=_BRIER_ORACLE, tags=("llm", "ml", "stats"))
def ml_brier_decomposition(spark, sf_dir):
    """MURPHY DECOMPOSITION of the Brier score (Murphy 1973) over the
    normalized cent-score p = c/D (D = max+1) and the purchase/signup
    label, with the same exact-integer 10 bins as ml_calibration_bins.
    With non-constant forecasts inside a bin the exact identity is
    Brier = REL − RES + UNC + WBV − 2·WBC (WBV = within-bin forecast
    scatter, WBC = within-bin forecast-label covariance — the residual
    terms binning textbooks drop; proven to 1e-12 against the direct
    per-row reference in tests/test_round10_refs2.py). Each component
    comes from its OWN exact integer numerator — Σ(c−yD)², per-bin
    (Σc − sD)²·10⁴ DIV n_k, (sN − n·Sy)²·10⁴ DIV n_k, Σc²·10⁴ −
    (Σc)²·10⁴ DIV n_k, Σcy·10⁴ − ΣcΣy·10⁴ DIV n_k — all DECIMAL(38)
    sums, six final float expressions. This is what the reliability
    diagram cannot show: HOW MUCH of the score's error is
    miscalibration (REL, fixable by recalibration) vs lack of
    discrimination (RES) vs irreducible base-rate noise (UNC). Plan:
    one 1-row max broadcast, one bin rollup, two 1-row reduces."""
    ev = load_table(spark, sf_dir, "events")
    b = ev.select(
        F.round(dec("value", VAL) * 100).cast("long").alias("c"),
        F.when(F.col("event_type").isin("purchase", "signup"), 1)
        .otherwise(0)
        .alias("y"),
    )
    mx = b.agg((F.max("c") + 1).cast("long").alias("d"))
    bd = b.crossJoin(F.broadcast(mx))
    t = bd.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(
            F.expr("CAST(c - y * d AS DECIMAL(38,0)) * (c - y * d)")
        ).alias("bn"),
        F.max("d").alias("d"),
    )
    k = bd.groupBy(
        F.least(F.lit(9), F.expr("c * 10 DIV d")).alias("bin")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_k"),
        F.sum("c").cast("long").alias("sc_k"),
        F.sum(F.expr("CAST(c AS DECIMAL(38,0)) * c")).alias("scc_k"),
        F.sum("y").cast("long").alias("s_k"),
        F.sum(F.expr("CAST(c AS DECIMAL(38,0)) * y")).alias("scy_k"),
    )
    terms = k.crossJoin(F.broadcast(t.select("n", "sy", "d"))).agg(
        F.sum(
            F.expr(
                "CAST(CAST(sc_k - s_k * d AS DECIMAL(38,0))"
                " * (sc_k - s_k * d) * 10000 DIV n_k AS DECIMAL(38,0))"
            )
        ).alias("rel_num"),
        F.sum(
            F.expr(
                "CAST(CAST(s_k * n - n_k * sy AS DECIMAL(38,0))"
                " * (s_k * n - n_k * sy) * 10000 DIV n_k AS DECIMAL(38,0))"
            )
        ).alias("res_num"),
        F.sum(
            F.expr(
                "CAST(scc_k * 10000"
                " - CAST(sc_k AS DECIMAL(38,0)) * sc_k * 10000 DIV n_k"
                " AS DECIMAL(38,0))"
            )
        ).alias("wbv_num"),
        F.sum(
            F.expr(
                "CAST(scy_k * 10000"
                " - CAST(sc_k AS DECIMAL(38,0)) * s_k * 10000 DIV n_k"
                " AS DECIMAL(38,0))"
            )
        ).alias("wbc_num"),
    )
    dd = F.col("d").cast("double")
    nn = F.col("n").cast("double")
    return (
        t.crossJoin(F.broadcast(terms))
        .select(
            "n",
            "sy",
            F.round(F.col("bn").cast("double") / (F.col("n") * dd * dd), 6).alias(
                "brier"
            ),
            F.round(
                F.col("rel_num").cast("double") / (1e4 * F.col("n") * dd * dd), 6
            ).alias("reliability"),
            F.round(
                F.col("res_num").cast("double") / (1e4 * nn * nn * nn), 6
            ).alias("resolution"),
            F.round(
                F.col("sy").cast("double") * (F.col("n") - F.col("sy")) / (nn * nn),
                6,
            ).alias("uncertainty"),
            F.round(
                F.col("wbv_num").cast("double") / (1e4 * F.col("n") * dd * dd), 6
            ).alias("within_bin_var"),
            F.round(
                F.col("wbc_num").cast("double") / (1e4 * F.col("n") * dd), 6
            ).alias("within_bin_cov"),
        )
    )


# ---------------------------------------------------------------------------
# Cumulative gains / lift table — the campaign-targeting view of a score.
# ---------------------------------------------------------------------------

_LIFT_ORACLE = """
WITH b AS (
  SELECT event_id,
         CAST(round(CAST(value AS DECIMAL(12,2)) * 100) AS BIGINT) AS c,
         CASE WHEN event_type IN ('purchase', 'signup') THEN 1 ELSE 0 END AS y
  FROM events
), t AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS p FROM b
), r AS (
  SELECT y, (row_number() OVER (ORDER BY c DESC, event_id) - 1) * 10 // t.n
           AS decile
  FROM b, t
), d AS (
  SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_d,
         CAST(SUM(y) AS BIGINT) AS pos_d
  FROM r GROUP BY decile
), cum AS (
  SELECT decile, n_d, pos_d,
         SUM(n_d) OVER (ORDER BY decile) AS cum_n,
         SUM(pos_d) OVER (ORDER BY decile) AS cum_pos
  FROM d
)
SELECT CAST(decile AS BIGINT) AS decile, n_d, pos_d,
       CAST(cum_n AS BIGINT) AS cum_n, CAST(cum_pos AS BIGINT) AS cum_pos,
       CAST(cum_pos * 10000 // t.p AS BIGINT) AS gain_bp,
       CAST(cum_pos * t.n * 10000 // (cum_n * t.p) AS BIGINT) AS lift_bp
FROM cum, t
"""


@register("ml_lift_gains_deciles", oracle=_LIFT_ORACLE, tags=("llm", "ml"))
def ml_lift_gains_deciles(spark, sf_dir):
    """CUMULATIVE GAINS / LIFT table by score decile — the
    campaign-targeting reading of a classifier score (AUC summarizes
    the whole ranking; this answers "mail the top 30%, capture what
    share of buyers?"). Deciles come from the exact two-pass global
    rank over (score DESC, event_id) — (rk−1)·10 DIV n, never ntile()
    over a single partition — and cumulative counts from the two-pass
    global_cumsum over the 10-row decile relation; gains and lift are
    exact integer basis points (floor DIV). Every column exact."""
    from ..operators.scale import global_cumsum, global_index

    ev = load_table(spark, sf_dir, "events")
    b = ev.select(
        "event_id",
        F.round(dec("value", VAL) * 100).cast("long").alias("c"),
        F.when(F.col("event_type").isin("purchase", "signup"), 1)
        .otherwise(0)
        .alias("y"),
    ).withColumn("neg_c", -F.col("c"))
    t = b.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("p"),
    )
    r = (
        global_index(b, "rk0", ["neg_c", "event_id"])
        .crossJoin(F.broadcast(t))
        .select("y", F.expr("rk0 * 10 DIV n").alias("decile"))
    )
    d = r.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_d"),
        F.sum("y").cast("long").alias("pos_d"),
    )
    cum = global_cumsum(
        global_cumsum(d, "n_d", ["decile"], "cum_n"), "pos_d", ["decile"], "cum_pos"
    )
    return (
        cum.crossJoin(F.broadcast(t))
        .select(
            F.col("decile").cast("long").alias("decile"),
            "n_d",
            "pos_d",
            F.col("cum_n").cast("long").alias("cum_n"),
            F.col("cum_pos").cast("long").alias("cum_pos"),
            F.expr("CAST(cum_pos * 10000 DIV p AS BIGINT)").alias("gain_bp"),
            F.expr(
                "CAST(cum_pos * n * 10000 DIV (cum_n * p) AS BIGINT)"
            ).alias("lift_bp"),
        )
    )


# ---------------------------------------------------------------------------
# Harmonic centrality truncated at radius 2 over the co-order graph.
# ---------------------------------------------------------------------------


def _harmonic_oracle():
    from .profiling import _COORDER_EDGES_CTE

    return _COORDER_EDGES_CTE + """
, hub AS (
  SELECT node FROM deg WHERE deg > 32
), symf AS (
  SELECT u, v FROM sym WHERE v NOT IN (SELECT node FROM hub)
), one AS (
  SELECT DISTINCT u, v AS w FROM symf
), two AS (
  SELECT DISTINCT s1.u, s2.v AS w
  FROM symf s1 JOIN symf s2 ON s2.u = s1.v
  WHERE s2.v <> s1.u
), two_only AS (
  SELECT u, w FROM two
  EXCEPT
  SELECT u, w FROM one
)
SELECT o.u AS part,
       CAST(o.n1 AS BIGINT) AS n_dist1,
       CAST(COALESCE(tw.n2, 0) AS BIGINT) AS n_dist2,
       CAST(2 * o.n1 + COALESCE(tw.n2, 0) AS BIGINT) AS harmonic_x2
FROM (SELECT u, COUNT(*) AS n1 FROM one GROUP BY u) o
LEFT JOIN (SELECT u, COUNT(*) AS n2 FROM two_only GROUP BY u) tw
  ON tw.u = o.u
"""


def _register_harmonic():
    @register(
        "graph_harmonic_2hop",
        oracle=_harmonic_oracle(),
        tags=("graph", "analytics"),
    )
    def graph_harmonic_2hop(spark, sf_dir):
        """HARMONIC CENTRALITY truncated at radius 2 over the co-order
        graph (Boldi & Vigna 2014, the bounded-radius form every
        trillion-edge system actually computes): H₂(u) = Σ 1/d(u,w) =
        |N₁| + |N₂|/2, emitted as the EXACT integer 2·|N₁| + |N₂| plus
        both shell sizes — no float halves. Same non-hub-middle cap as
        graph_two_hop_reach (identical in the oracle): hubs can be
        reached but never relay, bounding the wedge fanout by cap·deg.
        The distance-2 shell is two \\ one set difference — a node
        reachable both directly and via a wedge counts at distance 1
        only. Plan: one capped wedge join, two distincts, one
        anti-join, exact counts."""
        from .profiling import _coorder_part_edges

        e = _coorder_part_edges(spark, sf_dir).select("u", "v")
        sym = e.unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        deg = sym.groupBy(F.col("u").alias("node")).agg(
            F.count(F.lit(1)).alias("deg")
        )
        hubs = deg.filter(F.col("deg") > 32).select("node")
        symf = sym.join(F.broadcast(hubs), sym.v == F.col("node"), "left_anti")
        one = symf.select("u", F.col("v").alias("w")).distinct()
        two = (
            symf.select(F.col("u").alias("a"), F.col("v").alias("mid"))
            .join(symf.select(F.col("u").alias("mid"), F.col("v").alias("w")), "mid")
            .filter(F.col("w") != F.col("a"))
            .select(F.col("a").alias("u"), "w")
            .distinct()
        )
        two_only = two.join(one, ["u", "w"], "left_anti")
        n1 = one.groupBy("u").agg(F.count(F.lit(1)).cast("long").alias("n_dist1"))
        n2 = two_only.groupBy("u").agg(
            F.count(F.lit(1)).cast("long").alias("n_dist2")
        )
        return (
            n1.join(n2, "u", "left")
            .select(
                F.col("u").alias("part"),
                "n_dist1",
                F.coalesce("n_dist2", F.lit(0)).cast("long").alias("n_dist2"),
                (2 * F.col("n_dist1") + F.coalesce("n_dist2", F.lit(0)))
                .cast("long")
                .alias("harmonic_x2"),
            )
        )


_register_harmonic()


# ---------------------------------------------------------------------------
# Heaps' law fit — vocabulary growth V(N) = K·N^beta.
# ---------------------------------------------------------------------------

_HEAPS_ORACLE = """
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), per_doc AS (
  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_toks FROM d
), firsts AS (
  SELECT MIN(doc_id) AS first_doc
  FROM (SELECT doc_id, unnest(toks) AS tok FROM d)
  GROUP BY tok
), new_types AS (
  SELECT first_doc AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_new
  FROM firsts GROUP BY first_doc
), c AS (
  SELECT p.doc_id,
         SUM(p.n_toks) OVER (ORDER BY p.doc_id) AS cum_n,
         SUM(COALESCE(nt.n_new, 0)) OVER (ORDER BY p.doc_id) AS cum_v
  FROM per_doc p LEFT JOIN new_types nt ON nt.doc_id = p.doc_id
), q AS (
  SELECT CAST(round(1000000 * ln(cum_n)) AS BIGINT) AS xq,
         CAST(round(1000000 * ln(cum_v)) AS BIGINT) AS yq,
         cum_n, cum_v
  FROM c
), m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS np,
         CAST(SUM(CAST(xq AS HUGEINT)) AS DECIMAL(38,0)) AS sx,
         CAST(SUM(CAST(yq AS HUGEINT)) AS DECIMAL(38,0)) AS sy,
         CAST(SUM(CAST(xq AS HUGEINT) * yq) AS DECIMAL(38,0)) AS sxy,
         CAST(SUM(CAST(xq AS HUGEINT) * xq) AS DECIMAL(38,0)) AS sxx,
         CAST(MAX(cum_n) AS BIGINT) AS total_tokens,
         CAST(MAX(cum_v) AS BIGINT) AS vocab_size
  FROM q
)
SELECT np AS n_points, total_tokens, vocab_size,
       round((np * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (np * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)),
             6) AS heaps_beta
FROM m
"""


@register("text_heaps_law_fit", oracle=_HEAPS_ORACLE, tags=("llm", "text"))
def text_heaps_law_fit(spark, sf_dir):
    """HEAPS' LAW fit (Heaps 1978): vocabulary growth V(N) ≈ K·N^β
    over the corpus in doc_id order — β is THE dial for "how much new
    vocabulary will the next 10 TB bring" (β≈1: open vocabulary, dedup
    your crawl; β≈0.5: classic English text). Growth points are built
    distributed: each token's FIRST document is a keyed min; per-doc
    token totals and new-type counts turn into running sums via the
    two-pass global_cumsum (never a single-partition window over the
    corpus); each point's (ln N, ln V) is micro-quantized immediately
    (the Burrows-Delta rule — one irrational op per point, then exact
    integer OLS in DECIMAL(38)); β is one float expression. Plan: one
    explode + keyed min, two keyed rollups, two-pass cumsum, one
    reduce."""
    from ..operators.scale import global_cumsum

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    per_doc = docs.select(
        "doc_id", F.size("toks").cast("long").alias("n_toks")
    )
    firsts = (
        docs.select("doc_id", F.explode("toks").alias("tok"))
        .groupBy("tok")
        .agg(F.min("doc_id").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_new"))
    )
    base = per_doc.join(firsts, "doc_id", "left").select(
        "doc_id",
        "n_toks",
        F.coalesce("n_new", F.lit(0)).cast("long").alias("n_new"),
    )
    c = global_cumsum(
        global_cumsum(base, "n_toks", ["doc_id"], "cum_n"),
        "n_new",
        ["doc_id"],
        "cum_v",
    )
    q = c.select(
        F.round(1000000 * F.log("cum_n")).cast("long").alias("xq"),
        F.round(1000000 * F.log("cum_v")).cast("long").alias("yq"),
        "cum_n",
        "cum_v",
    )
    m = q.agg(
        F.count(F.lit(1)).cast("long").alias("np"),
        F.sum(F.col("xq").cast("decimal(38,0)")).alias("sx"),
        F.sum(F.col("yq").cast("decimal(38,0)")).alias("sy"),
        F.sum(F.col("xq").cast("decimal(38,0)") * F.col("yq")).alias("sxy"),
        F.sum(F.col("xq").cast("decimal(38,0)") * F.col("xq")).alias("sxx"),
        F.max("cum_n").cast("long").alias("total_tokens"),
        F.max("cum_v").cast("long").alias("vocab_size"),
    )
    return m.select(
        F.col("np").alias("n_points"),
        "total_tokens",
        "vocab_size",
        F.round(
            (
                F.col("np") * F.col("sxy").cast("double")
                - F.col("sx").cast("double") * F.col("sy").cast("double")
            )
            / (
                F.col("np") * F.col("sxx").cast("double")
                - F.col("sx").cast("double") * F.col("sx").cast("double")
            ),
            6,
        ).alias("heaps_beta"),
    )


# ---------------------------------------------------------------------------
# n-gram novelty curve — the compression-ratio proxy per gram width.
# ---------------------------------------------------------------------------

_NGRAM_CURVE_ORACLE = """
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), g AS (
  SELECT n.n AS n,
         array_to_string(toks[i:i+n.n-1], ' ') AS gram
  FROM d, (SELECT unnest([1, 2, 3, 4]) AS n) n,
       UNNEST(generate_series(1, len(toks) - n.n + 1)) AS t(i)
  WHERE len(toks) >= n.n
)
SELECT CAST(n AS BIGINT) AS n,
       CAST(COUNT(*) AS BIGINT) AS total_grams,
       CAST(COUNT(DISTINCT gram) AS BIGINT) AS distinct_grams,
       CAST(COUNT(DISTINCT gram) * 10000 // COUNT(*) AS BIGINT)
         AS distinct_ratio_bp
FROM g GROUP BY n
"""


@register("text_ngram_novelty_curve", oracle=_NGRAM_CURVE_ORACLE, tags=("llm", "text"))
def text_ngram_novelty_curve(spark, sf_dir):
    """N-GRAM NOVELTY CURVE (n = 1..4): distinct-to-total gram ratio
    per width — the cheap compressibility proxy (a corpus whose 4-gram
    ratio stays low is template/boilerplate-heavy and will compress —
    and train — poorly; the curve's SLOPE is the signal, which is why
    all four widths ship in one relation). All counts exact; the ratio
    is exact integer basis points. Distinct counting is a two-phase
    distinct aggregate per width — at 100 TB swap in the HLL sketch
    (agg_hll_sketch_union) for the distinct leg; the exact form here
    IS the verification twin. Plan: one explode per width (union), one
    grouped distinct-agg."""
    from ..operators.curation import word_ngrams

    docs = load_table(spark, sf_dir, "documents").select(
        F.split("text", " ").alias("toks")
    )
    parts = None
    for n in (1, 2, 3, 4):
        p = docs.select(
            F.lit(n).cast("long").alias("n"),
            F.explode(word_ngrams("toks", n)).alias("gram"),
        )
        parts = p if parts is None else parts.unionByName(p)
    return parts.groupBy("n").agg(
        F.count(F.lit(1)).cast("long").alias("total_grams"),
        F.countDistinct("gram").cast("long").alias("distinct_grams"),
        F.expr(
            "CAST(COUNT(DISTINCT gram) * 10000 DIV COUNT(*) AS BIGINT)"
        ).alias("distinct_ratio_bp"),
    )


# ---------------------------------------------------------------------------
# Per-source characteristic keywords — TF-IDF with micro-quantized IDF.
# ---------------------------------------------------------------------------

_SRC_TFIDF_ORACLE = """
WITH d AS (
  SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
), tf AS (
  SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS tf
  FROM d GROUP BY source, tok
), df AS (
  SELECT tok, CAST(COUNT(DISTINCT source) AS BIGINT) AS df FROM d GROUP BY tok
), ns AS (
  SELECT CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources FROM d
), scored AS (
  SELECT source, tf.tok, tf,
         tf * CAST(round(1000000 * ln(CAST(n_sources AS DOUBLE) / df))
                   AS BIGINT) AS score
  FROM tf JOIN df ON tf.tok = df.tok, ns
), rk AS (
  SELECT source, tok, tf, score,
         row_number() OVER (PARTITION BY source
                            ORDER BY score DESC, tok) AS r
  FROM scored WHERE score > 0
)
SELECT source, tok, tf, score FROM rk WHERE r <= 3
"""


@register("text_source_keyword_tfidf", oracle=_SRC_TFIDF_ORACLE, tags=("llm", "text"))
def text_source_keyword_tfidf(spark, sf_dir):
    """CHARACTERISTIC KEYWORDS per source: top-3 tokens by TF·IDF
    where the document unit is the SOURCE (20 of them) — the dataset-
    card "what is this source about" line, and the corpus-level
    complement of text_tfidf_cosine_topk (which ranks documents).
    IDF = ln(N_src/df) is micro-quantized immediately (only 20
    possible df values; the Burrows rule), the score tf·idf_micro is
    an exact BIGINT, rank is a keyed window with the (score DESC, tok)
    pinned tiebreak, and tokens present in every source drop out
    exactly (idf = 0). Plan: two keyed rollups, one broadcast of the
    20-row source count, one keyed top-k window."""
    docs = load_table(spark, sf_dir, "documents").select(
        "source", F.explode(F.split("text", " ")).alias("tok")
    )
    tf = docs.groupBy("source", "tok").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    df = docs.groupBy("tok").agg(
        F.countDistinct("source").cast("long").alias("df")
    )
    ns = docs.agg(
        F.countDistinct("source").cast("long").alias("n_sources")
    )
    scored = (
        tf.join(df, "tok")
        .crossJoin(F.broadcast(ns))
        .select(
            "source",
            "tok",
            "tf",
            (
                F.col("tf")
                * F.round(
                    1000000
                    * F.log(F.col("n_sources").cast("double") / F.col("df"))
                ).cast("long")
            ).alias("score"),
        )
        .filter(F.col("score") > 0)
    )
    w = W.partitionBy("source").orderBy(F.col("score").desc(), "tok")
    return (
        scored.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= 3)
        .select("source", "tok", "tf", "score")
    )


# ---------------------------------------------------------------------------
# Importance reweighting to a uniform source mixture, with the Kish
# effective-sample-size diagnostic.
# ---------------------------------------------------------------------------

_ESS_ORACLE = """
WITH s AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_s FROM documents GROUP BY source
), t AS (
  SELECT CAST(SUM(n_s) AS BIGINT) AS n,
         CAST(COUNT(*) AS BIGINT) AS k
  FROM s
), w AS (
  SELECT source, n_s,
         LEAST(CAST(n * 1000000 // (k * n_s) AS BIGINT),
               CAST(5000000 AS BIGINT)) AS w_micro
  FROM s, t
), agg AS (
  SELECT CAST(SUM(CAST(n_s AS HUGEINT) * w_micro) AS DECIMAL(38,0)) AS snw,
         CAST(SUM(CAST(n_s AS HUGEINT) * w_micro * w_micro)
              AS DECIMAL(38,0)) AS snww
  FROM w
)
SELECT w.source, w.n_s, w.w_micro,
       round(CAST(agg.snw AS DOUBLE) * CAST(agg.snw AS DOUBLE)
             / CAST(agg.snww AS DOUBLE), 6) AS ess_kish,
       t.n AS n_total
FROM w, agg, t
"""


@register("pipeline_importance_weights_ess", oracle=_ESS_ORACLE, tags=("llm", "pipeline"))
def pipeline_importance_weights_ess(spark, sf_dir):
    """IMPORTANCE REWEIGHTING to the uniform source mixture with the
    KISH EFFECTIVE SAMPLE SIZE diagnostic (Kish 1965): per-source
    weight w_s = target/actual = N/(k·n_s) in exact floor micro-units,
    clipped at 5.0 (the standard variance guard), and ESS =
    (Σ n_s w)²/(Σ n_s w²) — the number that says what a reweighted
    epoch is actually worth ("20 sources reweighted uniform cost me
    30% of my effective data"). Weights and the two moment sums are
    exact integers (DECIMAL38); ESS is one float expression replicated
    per source row. Plan: one rollup over sources, two 1-row
    reduces."""
    docs = load_table(spark, sf_dir, "documents")
    s = docs.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("n_s"))
    t = s.agg(
        F.sum("n_s").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    w = s.crossJoin(F.broadcast(t)).select(
        "source",
        "n_s",
        F.least(
            F.expr("CAST(n * 1000000 DIV (k * n_s) AS BIGINT)"),
            F.lit(5000000).cast("long"),
        ).alias("w_micro"),
        "n",
    )
    agg = w.agg(
        F.sum(F.col("n_s").cast("decimal(38,0)") * F.col("w_micro")).alias("snw"),
        F.sum(
            F.col("n_s").cast("decimal(38,0)") * F.col("w_micro") * F.col("w_micro")
        ).alias("snww"),
    )
    return (
        w.crossJoin(F.broadcast(agg))
        .select(
            "source",
            "n_s",
            "w_micro",
            F.round(
                F.col("snw").cast("double")
                * F.col("snw").cast("double")
                / F.col("snww").cast("double"),
                6,
            ).alias("ess_kish"),
            F.col("n").alias("n_total"),
        )
    )


# ---------------------------------------------------------------------------
# Matthews correlation coefficient at the exact-median operating point.
# ---------------------------------------------------------------------------

_MCC_ORACLE = """
WITH b AS (
  SELECT event_id,
         CAST(round(CAST(value AS DECIMAL(12,2)) * 100) AS BIGINT) AS c,
         CASE WHEN event_type IN ('purchase', 'signup') THEN 1 ELSE 0 END AS y
  FROM events
), r AS (
  SELECT c, y, row_number() OVER (ORDER BY c, event_id) AS rk,
         COUNT(*) OVER () AS n
  FROM b
), med AS (
  SELECT c AS thr FROM r WHERE rk = (n + 1) // 2
), cells AS (
  SELECT
    CAST(SUM(CASE WHEN c >= thr AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
    CAST(SUM(CASE WHEN c >= thr AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
    CAST(SUM(CASE WHEN c <  thr AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn,
    CAST(SUM(CASE WHEN c <  thr AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn
  FROM b, med
)
SELECT tp, fp, tn, fn,
       round((CAST(tp AS DOUBLE) * tn - CAST(fp AS DOUBLE) * fn)
             / sqrt(CAST(tp + fp AS DOUBLE) * (tp + fn)
                    * (tn + fp) * (tn + fn)), 6) AS mcc
FROM cells
"""


@register("ml_matthews_mcc", oracle=_MCC_ORACLE, tags=("llm", "ml", "stats"))
def ml_matthews_mcc(spark, sf_dir):
    """MATTHEWS CORRELATION COEFFICIENT (Matthews 1975) at the
    exact-median operating point — the single-number confusion-matrix
    summary robust to class imbalance (accuracy and F1 both mislead
    there), completing the per-class P/R/F1 of ml_classifier_metrics:
    threshold = the exact lower-median score (rank (N+1) DIV 2 under
    the (score, event_id) total order — the agg_approx_percentile
    rank rule), predict positive at score ≥ threshold, and MCC =
    (tp·tn − fp·fn)/√((tp+fp)(tp+fn)(tn+fp)(tn+fn)). All four cells
    are exact integers under the driver hash; MCC is one float
    expression. Plan: two-pass rank for the median + one broadcast +
    one 1-row reduce."""
    from ..operators.scale import global_index

    ev = load_table(spark, sf_dir, "events")
    b = ev.select(
        "event_id",
        F.round(dec("value", VAL) * 100).cast("long").alias("c"),
        F.when(F.col("event_type").isin("purchase", "signup"), 1)
        .otherwise(0)
        .alias("y"),
    )
    n = b.agg(F.count(F.lit(1)).cast("long").alias("n"))
    med = (
        global_index(b.select("c", "event_id"), "rk0", ["c", "event_id"])
        .crossJoin(F.broadcast(n))
        .filter(F.col("rk0") + 1 == F.expr("(n + 1) DIV 2"))
        .select(F.col("c").alias("thr"))
    )
    cells = b.crossJoin(F.broadcast(med)).agg(
        F.sum(F.when((F.col("c") >= F.col("thr")) & (F.col("y") == 1), 1).otherwise(0))
        .cast("long")
        .alias("tp"),
        F.sum(F.when((F.col("c") >= F.col("thr")) & (F.col("y") == 0), 1).otherwise(0))
        .cast("long")
        .alias("fp"),
        F.sum(F.when((F.col("c") < F.col("thr")) & (F.col("y") == 0), 1).otherwise(0))
        .cast("long")
        .alias("tn"),
        F.sum(F.when((F.col("c") < F.col("thr")) & (F.col("y") == 1), 1).otherwise(0))
        .cast("long")
        .alias("fn"),
    )
    return cells.select(
        "tp",
        "fp",
        "tn",
        "fn",
        F.round(
            (
                F.col("tp").cast("double") * F.col("tn")
                - F.col("fp").cast("double") * F.col("fn")
            )
            / F.sqrt(
                (F.col("tp") + F.col("fp")).cast("double")
                * (F.col("tp") + F.col("fn"))
                * (F.col("tn") + F.col("fp"))
                * (F.col("tn") + F.col("fn"))
            ),
            6,
        ).alias("mcc"),
    )


# ---------------------------------------------------------------------------
# HLL sketch intersection via inclusion-exclusion, exactness-flagged.
# ---------------------------------------------------------------------------

_HLL_INTER_ORACLE = """
WITH a AS (
  SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
), b AS (
  SELECT DISTINCT user_id FROM events WHERE event_type = 'view'
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM a) AS exact_a,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM b) AS exact_b,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM a JOIN b USING (user_id))
         AS exact_inter,
       TRUE AS union_within_5pct,
       TRUE AS inter_within_bound
"""


@register("agg_hll_intersection_bound", oracle=_HLL_INTER_ORACLE, tags=("agg", "sketch", "approx"))
def agg_hll_intersection_bound(spark, sf_dir):
    """HLL INTERSECTION via inclusion-exclusion — the sketch-algebra
    operation HLL does NOT support natively (union is lossless; the
    intersection estimate |A|+|B|−|A∪B| inherits BOTH sketches'
    errors, which is why its contract bound is wider): clicker ∩
    viewer audiences. The engine builds the two lgK=14 sketches ONCE,
    unions the SAME sketch bytes (never re-scans raw data), estimates
    all three cardinalities, and driver-checks (a) the union estimate
    within 5% of exact, (b) the inclusion-exclusion intersection
    within 5% + 10 absolute of exact (the compounded-error allowance
    documented by the DataSketches project for set operations on HLL).
    The oracle pins the exact cardinalities and expects both flags
    TRUE. Plan: one grouped sketch pass + exact countDistinct twins +
    1-row combines."""
    ev = load_table(spark, sf_dir, "events")
    sk = ev.agg(
        F.expr(
            "hll_sketch_agg(CASE WHEN event_type = 'click' THEN user_id END, 14)"
        ).alias("sk_a"),
        F.expr(
            "hll_sketch_agg(CASE WHEN event_type = 'view' THEN user_id END, 14)"
        ).alias("sk_b"),
        F.countDistinct(
            F.when(F.col("event_type") == "click", F.col("user_id"))
        ).cast("long").alias("exact_a"),
        F.countDistinct(
            F.when(F.col("event_type") == "view", F.col("user_id"))
        ).cast("long").alias("exact_b"),
    )
    inter_exact = (
        ev.filter(F.col("event_type") == "click")
        .select("user_id")
        .distinct()
        .join(
            ev.filter(F.col("event_type") == "view").select("user_id").distinct(),
            "user_id",
            "left_semi",
        )
        .agg(F.count(F.lit(1)).cast("long").alias("exact_inter"))
    )
    est = sk.select(
        "exact_a",
        "exact_b",
        F.expr("hll_sketch_estimate(sk_a)").alias("est_a"),
        F.expr("hll_sketch_estimate(sk_b)").alias("est_b"),
        F.expr(
            "hll_sketch_estimate(hll_union(sk_a, sk_b))"
        ).alias("est_union"),
    )
    return (
        est.crossJoin(F.broadcast(inter_exact))
        .select(
            "exact_a",
            "exact_b",
            "exact_inter",
            (
                F.abs(
                    F.col("est_union")
                    - (F.col("exact_a") + F.col("exact_b") - F.col("exact_inter"))
                )
                <= 0.05
                * (F.col("exact_a") + F.col("exact_b") - F.col("exact_inter"))
            ).alias("union_within_5pct"),
            (
                F.abs(
                    (F.col("est_a") + F.col("est_b") - F.col("est_union"))
                    - F.col("exact_inter")
                )
                <= 0.05 * F.col("exact_inter") + 10
            ).alias("inter_within_bound"),
        )
    )


# ---------------------------------------------------------------------------
# Water-filling token-budget allocation across sources.
# ---------------------------------------------------------------------------

_WATERFILL_ORACLE = """
WITH caps AS (
  SELECT source,
         CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS cap
  FROM documents GROUP BY source
), t AS (
  SELECT CAST(SUM(cap) * 6 // 10 AS BIGINT) AS budget,
         CAST(COUNT(*) AS BIGINT) AS k
  FROM caps
), r AS (
  SELECT source, cap,
         row_number() OVER (ORDER BY cap, source) AS i,
         SUM(cap) OVER (ORDER BY cap, source) AS p_i
  FROM caps
), lvl AS (
  SELECT MAX(CASE WHEN cap * (t.k - i) + p_i <= t.budget THEN i ELSE 0 END)
           AS i_star
  FROM r, t
), sol AS (
  SELECT CAST((t.budget - COALESCE(
                 (SELECT p_i FROM r, lvl WHERE r.i = lvl.i_star), 0))
              // (t.k - lvl.i_star) AS BIGINT) AS level
  FROM t, lvl
)
SELECT r.source, r.cap,
       CAST(LEAST(r.cap, sol.level) AS BIGINT) AS allocation,
       sol.level, t.budget,
       r.cap <= sol.level AS fully_funded
FROM r, sol, t
"""


@register("pipeline_quota_water_filling", oracle=_WATERFILL_ORACLE, tags=("llm", "pipeline"))
def pipeline_quota_water_filling(spark, sf_dir):
    """WATER-FILLING token-budget allocation (the max-min fair
    allocator): spread a 60% token budget across sources so every
    source gets min(its capacity, a common level L) with L the largest
    integer level that fits the budget — the principled answer to
    "small sources keep everything, big sources are clipped equally"
    (pipeline_token_budget_fill fills greedily by quality; this is the
    FAIRNESS allocator). Closed form over the cap-sorted prefix sums:
    i* = max{i : cap_i·(k−i) + P_i ≤ T}, L = (T − P_{i*}) DIV (k−i*).
    Everything exact integers (the ≤ k−1 integer-rounding leftover is
    budget − Σ allocations, observable). The 20-row cap relation flows
    through the two-pass global_index/cumsum, never a raw-data sort.
    Plan: one rollup + two-pass rank/cumsum over |sources| rows + two
    1-row reduces."""
    from ..operators.scale import global_cumsum, global_index

    docs = load_table(spark, sf_dir, "documents")
    caps = docs.groupBy("source").agg(
        F.sum(F.size(F.split("text", " "))).cast("long").alias("cap")
    )
    t = caps.agg(
        F.expr("CAST(SUM(cap) * 6 DIV 10 AS BIGINT)").alias("budget"),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    r = global_cumsum(
        global_index(caps, "i0", ["cap", "source"]), "cap", ["cap", "source"], "p_i"
    ).select("source", "cap", (F.col("i0") + 1).alias("i"), "p_i")
    lvl = (
        r.crossJoin(F.broadcast(t))
        .agg(
            F.max(
                F.when(
                    F.col("cap") * (F.col("k") - F.col("i")) + F.col("p_i")
                    <= F.col("budget"),
                    F.col("i"),
                ).otherwise(0)
            ).alias("i_star")
        )
    )
    # p_star defaults to 0 when i_star = 0 (no source fully capped) —
    # a conditional 1-row aggregate, so the frame is never empty
    p_star = (
        r.crossJoin(F.broadcast(lvl))
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("i") == F.col("i_star"), F.col("p_i"))),
                F.lit(0),
            )
            .cast("long")
            .alias("p_star")
        )
    )
    sol = (
        t.crossJoin(F.broadcast(lvl))
        .crossJoin(F.broadcast(p_star))
        .select(
            F.expr(
                "CAST((budget - p_star) DIV (k - i_star) AS BIGINT)"
            ).alias("level")
        )
    )
    return (
        r.crossJoin(F.broadcast(sol))
        .crossJoin(F.broadcast(t.select("budget")))
        .select(
            "source",
            "cap",
            F.least(F.col("cap"), F.col("level")).cast("long").alias("allocation"),
            "level",
            "budget",
            (F.col("cap") <= F.col("level")).alias("fully_funded"),
        )
    )


# ---------------------------------------------------------------------------
# Population Stability Index — the score-drift monitor.
# ---------------------------------------------------------------------------

_PSI_ORACLE = """
WITH bounds AS (
  SELECT (epoch_us(MIN(ts)) + epoch_us(MAX(ts))) // 2 AS mid FROM events
), b AS (
  SELECT CAST(round(CAST(value AS DECIMAL(12,2)) * 100) AS BIGINT) AS c,
         CASE WHEN epoch_us(ts) < mid THEN 1 ELSE 0 END AS h1
  FROM events, bounds
), mx AS (
  SELECT MAX(c) + 1 AS d FROM b
), k AS (
  SELECT LEAST(9, c * 10 // d) AS bin,
         CAST(SUM(h1) + 1 AS BIGINT) AS n1,
         CAST(SUM(1 - h1) + 1 AS BIGINT) AS n2
  FROM b, mx GROUP BY LEAST(9, c * 10 // d)
), t AS (
  SELECT CAST(SUM(n1) AS BIGINT) AS tn1, CAST(SUM(n2) AS BIGINT) AS tn2 FROM k
), terms AS (
  SELECT bin, n1, n2,
         CAST(n1 * t.tn2 - n2 * t.tn1 AS BIGINT) AS numer,
         CAST(round(1000000 * ln(CAST(n1 AS DOUBLE) * t.tn2
                                 / (CAST(n2 AS DOUBLE) * t.tn1)))
              AS BIGINT) AS l_micro
  FROM k, t
)
SELECT CAST(bin AS BIGINT) AS bin, n1 AS n_first_sm, n2 AS n_second_sm,
       l_micro,
       round((SELECT CAST(SUM(CAST(numer AS HUGEINT) * l_micro)
                          AS DOUBLE) FROM terms)
             / (1e6 * (SELECT CAST(tn1 AS DOUBLE) * tn2 FROM t)), 6) AS psi
FROM terms
"""


@register("ml_psi_population_stability", oracle=_PSI_ORACLE, tags=("llm", "ml", "stats"))
def ml_psi_population_stability(spark, sf_dir):
    """POPULATION STABILITY INDEX between the first and second half of
    the observed window (exact integer midpoint) — the standard
    model-monitoring drift alarm (PSI < 0.1 stable, > 0.25 retrain):
    PSI = Σ_bins (p_i − q_i)·ln(p_i/q_i) over the same exact 10
    score bins as ml_calibration_bins, with add-one (Laplace)
    smoothing pinned so empty bins stay finite. Exactness: each bin's
    log-ratio uses EXACT integer arguments (n1·N2 / n2·N1) and is
    micro-quantized immediately (the Burrows rule); the numerator
    n1·N2 − n2·N1 is exact; the sum of products is DECIMAL(38); PSI is
    one float, replicated per bin row beside the hashed per-bin
    smoothed counts and log-ratios. Plan: one 1-row bounds reduce, one
    bin rollup, one 1-row reduce."""
    from ..tables import events_with_time

    ev = events_with_time(spark, sf_dir)
    bounds = ev.agg(
        F.expr("CAST((MIN(ts_us) + MAX(ts_us)) DIV 2 AS BIGINT)").alias("mid")
    )
    b = ev.crossJoin(F.broadcast(bounds)).select(
        F.round(dec("value", VAL) * 100).cast("long").alias("c"),
        F.when(F.col("ts_us") < F.col("mid"), 1).otherwise(0).alias("h1"),
    )
    mx = b.agg((F.max("c") + 1).cast("long").alias("d"))
    k = (
        b.crossJoin(F.broadcast(mx))
        .groupBy(F.least(F.lit(9), F.expr("c * 10 DIV d")).alias("bin"))
        .agg(
            (F.sum("h1") + 1).cast("long").alias("n1"),
            (F.sum(1 - F.col("h1")) + 1).cast("long").alias("n2"),
        )
    )
    t = k.agg(
        F.sum("n1").cast("long").alias("tn1"),
        F.sum("n2").cast("long").alias("tn2"),
    )
    terms = k.crossJoin(F.broadcast(t)).select(
        "bin",
        "n1",
        "n2",
        (F.col("n1") * F.col("tn2") - F.col("n2") * F.col("tn1"))
        .cast("long")
        .alias("numer"),
        F.round(
            1000000
            * F.log(
                F.col("n1").cast("double")
                * F.col("tn2")
                / (F.col("n2").cast("double") * F.col("tn1"))
            )
        )
        .cast("long")
        .alias("l_micro"),
    )
    psi = terms.agg(
        F.sum(F.col("numer").cast("decimal(38,0)") * F.col("l_micro")).alias("s")
    ).crossJoin(F.broadcast(t)).select(
        F.round(
            F.col("s").cast("double")
            / (1e6 * F.col("tn1").cast("double") * F.col("tn2")),
            6,
        ).alias("psi")
    )
    return terms.crossJoin(F.broadcast(psi)).select(
        F.col("bin").cast("long").alias("bin"),
        F.col("n1").alias("n_first_sm"),
        F.col("n2").alias("n_second_sm"),
        "l_micro",
        "psi",
    )


# ---------------------------------------------------------------------------
# DeLong variance of the exact AUC.
# ---------------------------------------------------------------------------

_DELONG_ORACLE = """
WITH b AS (
  SELECT CAST(round(CAST(value AS DECIMAL(12,2)) * 100) AS BIGINT) AS c,
         CASE WHEN event_type IN ('purchase', 'signup') THEN 1 ELSE 0 END AS y
  FROM events
), v AS (
  SELECT c,
         CAST(SUM(y) AS BIGINT) AS cp,
         CAST(SUM(1 - y) AS BIGINT) AS cn
  FROM b GROUP BY c
), cw AS (
  SELECT c, cp, cn,
         SUM(cn) OVER (ORDER BY c) - cn AS neg_lt,
         SUM(cp) OVER (ORDER BY c) - cp AS pos_lt
  FROM v
), t AS (
  SELECT CAST(SUM(cp) AS BIGINT) AS n, CAST(SUM(cn) AS BIGINT) AS m FROM v
), pos AS (
  -- per-positive placement x2: 2*(#neg < c) + (#neg == c)
  SELECT CAST(SUM(cp * (2 * neg_lt + cn)) AS DECIMAL(38,0)) AS sp,
         CAST(SUM(CAST(cp AS HUGEINT) * (2 * neg_lt + cn)
                  * (2 * neg_lt + cn)) AS DECIMAL(38,0)) AS spp
  FROM cw
), neg AS (
  -- per-negative placement x2: 2*(#pos > c) + (#pos == c)
  SELECT CAST(SUM(cn * (2 * (t.n - pos_lt - cp) + cp)) AS DECIMAL(38,0)) AS sq,
         CAST(SUM(CAST(cn AS HUGEINT) * (2 * (t.n - pos_lt - cp) + cp)
                  * (2 * (t.n - pos_lt - cp) + cp)) AS DECIMAL(38,0)) AS sqq
  FROM cw, t
)
SELECT t.n AS n_pos, t.m AS n_neg,
       CAST(CAST(pos.sp AS HUGEINT) * 1000000 // (2 * t.n * t.m) AS BIGINT)
         AS auc_ppm,
       CAST(CAST(t.n * pos.spp - CAST(pos.sp AS HUGEINT) * pos.sp
                 AS DECIMAL(38,0)) AS VARCHAR) AS v10_var_num,
       CAST(CAST(t.m * neg.sqq - CAST(neg.sq AS HUGEINT) * neg.sq
                 AS DECIMAL(38,0)) AS VARCHAR) AS v01_var_num,
       round(sqrt(
         CAST(t.n * pos.spp - CAST(pos.sp AS HUGEINT) * pos.sp AS DOUBLE)
           / (CAST(t.n AS DOUBLE) * t.n * (t.n - 1) * 4 * t.m * t.m)
         + CAST(t.m * neg.sqq - CAST(neg.sq AS HUGEINT) * neg.sq AS DOUBLE)
           / (CAST(t.m AS DOUBLE) * t.m * (t.m - 1) * 4 * t.n * t.n)), 6)
         AS auc_se
FROM t, pos, neg
"""


@register("ml_auc_delong_variance", oracle=_DELONG_ORACLE, tags=("llm", "ml", "stats"))
def ml_auc_delong_variance(spark, sf_dir):
    """DeLONG VARIANCE of the exact AUC (DeLong, DeLong &
    Clarke-Pearson 1988) — the standard error that turns
    ml_roc_auc_exact's point estimate into a confidence statement:
    per-positive placements V10 (fraction of negatives below, ties
    half) and per-negative placements V01, their sample variances,
    SE² = S10/n + S01/m. Rank algebra throughout — placements come
    from ONE value-level rollup + global_cumsum (2·neg_lt + neg_eq as
    exact ×2m-scaled integers), never a pos×neg pairwise relation;
    both variance numerators (n·Σp² − (Σp)²) are DECIMAL(38)-exact
    and driver-hashed beside the exact auc_ppm; SE is one float.
    Plan: one value rollup + one two-pass cumsum + two 1-row
    reduces."""
    from ..operators.scale import global_cumsum

    ev = load_table(spark, sf_dir, "events")
    b = ev.select(
        F.round(dec("value", VAL) * 100).cast("long").alias("c"),
        F.when(F.col("event_type").isin("purchase", "signup"), 1)
        .otherwise(0)
        .alias("y"),
    )
    v = b.groupBy("c").agg(
        F.sum("y").cast("long").alias("cp"),
        F.sum(1 - F.col("y")).cast("long").alias("cn"),
    )
    cw = (
        global_cumsum(
            global_cumsum(v, "cn", ["c"], "cum_cn"), "cp", ["c"], "cum_cp"
        )
        .select(
            "c",
            "cp",
            "cn",
            (F.col("cum_cn") - F.col("cn")).alias("neg_lt"),
            (F.col("cum_cp") - F.col("cp")).alias("pos_lt"),
        )
    )
    t = v.agg(
        F.sum("cp").cast("long").alias("n"),
        F.sum("cn").cast("long").alias("m"),
    )
    p2 = F.expr("2 * neg_lt + cn")
    pos = cw.agg(
        F.sum(F.col("cp") * p2).cast("decimal(38,0)").alias("sp"),
        F.sum(F.expr("CAST(cp AS DECIMAL(38,0)) * (2 * neg_lt + cn) * (2 * neg_lt + cn)")).alias(
            "spp"
        ),
    )
    q2 = F.expr("2 * (n - pos_lt - cp) + cp")
    neg = cw.crossJoin(F.broadcast(t.select("n"))).agg(
        F.sum(F.col("cn") * q2).cast("decimal(38,0)").alias("sq"),
        F.sum(
            F.expr(
                "CAST(cn AS DECIMAL(38,0)) * (2 * (n - pos_lt - cp) + cp)"
                " * (2 * (n - pos_lt - cp) + cp)"
            )
        ).alias("sqq"),
    )
    return (
        t.crossJoin(F.broadcast(pos))
        .crossJoin(F.broadcast(neg))
        .select(
            F.col("n").alias("n_pos"),
            F.col("m").alias("n_neg"),
            F.expr(
                "CAST(CAST(sp AS DECIMAL(38,0)) * 1000000"
                " DIV (2 * n * m) AS BIGINT)"
            ).alias("auc_ppm"),
            # exact integers wider than BIGINT at large SF — emitted as
            # the decimal's exact STRING so both engines hash identically
            (F.col("n") * F.col("spp") - F.col("sp") * F.col("sp"))
            .cast("decimal(38,0)")
            .cast("string")
            .alias("v10_var_num"),
            (F.col("m") * F.col("sqq") - F.col("sq") * F.col("sq"))
            .cast("decimal(38,0)")
            .cast("string")
            .alias("v01_var_num"),
            F.round(
                F.sqrt(
                    (F.col("n") * F.col("spp") - F.col("sp") * F.col("sp")).cast(
                        "double"
                    )
                    / (
                        F.col("n").cast("double")
                        * F.col("n")
                        * (F.col("n") - 1)
                        * 4
                        * F.col("m")
                        * F.col("m")
                    )
                    + (F.col("m") * F.col("sqq") - F.col("sq") * F.col("sq")).cast(
                        "double"
                    )
                    / (
                        F.col("m").cast("double")
                        * F.col("m")
                        * (F.col("m") - 1)
                        * 4
                        * F.col("n")
                        * F.col("n")
                    )
                ),
                6,
            ).alias("auc_se"),
        )
    )


# ---------------------------------------------------------------------------
# PQ distance modes: asymmetric (ADC) vs symmetric (SDC).
# ---------------------------------------------------------------------------

_SDC_ADC_ORACLE = """
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), dims AS (
  SELECT vec_id, j - 1 AS j,
         CAST((j - 1) // (len(v) // 8) AS INTEGER) AS sub,
         CAST(round(v[j] * 1000000) AS BIGINT) AS qx
  FROM e, UNNEST(generate_series(1, len(v))) AS u(j)
), seeds AS (
  SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS code
  FROM e ORDER BY vec_id LIMIT 16
), cdims AS (
  SELECT s.code, d.j, d.sub, d.qx AS qc
  FROM seeds s JOIN dims d ON d.vec_id = s.vec_id
), dist AS (
  SELECT d.vec_id AS id, d.sub, c.code,
         SUM((d.qx - c.qc) * (d.qx - c.qc)) AS d2
  FROM dims d JOIN cdims c ON c.j = d.j
  GROUP BY d.vec_id, d.sub, c.code
), codes AS (
  SELECT id, sub,
         CAST(MIN(d2 * 16 + code) % 16 AS INTEGER) AS code
  FROM dist GROUP BY id, sub
), qd AS (
  SELECT vec_id AS qid, j, sub, qx FROM dims WHERE vec_id < 4
), adc_lut AS (
  SELECT q.qid, q.sub, c.code,
         SUM((q.qx - c.qc) * (q.qx - c.qc)) AS d2q
  FROM qd q JOIN cdims c ON c.j = q.j
  GROUP BY q.qid, q.sub, c.code
), adc AS (
  SELECT l.qid, k.id, CAST(SUM(l.d2q) AS BIGINT) AS adc_d2
  FROM codes k JOIN adc_lut l ON l.sub = k.sub AND l.code = k.code
  GROUP BY l.qid, k.id
), cc AS (
  SELECT a.sub, a.code AS code_a, b.code AS code_b,
         SUM((a.qc - b.qc) * (a.qc - b.qc)) AS d2cc
  FROM cdims a JOIN cdims b ON a.j = b.j
  GROUP BY a.sub, a.code, b.code
), qcodes AS (
  SELECT id AS qid, sub, code FROM codes WHERE id < 4
), sdc AS (
  SELECT qc.qid, k.id, CAST(SUM(cc.d2cc) AS BIGINT) AS sdc_d2
  FROM codes k
  JOIN qcodes qc ON qc.sub = k.sub
  JOIN cc ON cc.sub = k.sub AND cc.code_a = qc.code AND cc.code_b = k.code
  GROUP BY qc.qid, k.id
), exact AS (
  SELECT q.qid, d.vec_id AS id,
         CAST(SUM((q.qx - d.qx) * (q.qx - d.qx)) AS BIGINT) AS ex_d2
  FROM qd q JOIN dims d ON d.j = q.j
  GROUP BY q.qid, d.vec_id
), joined AS (
  SELECT exact.qid, exact.id, ex_d2, adc_d2, sdc_d2
  FROM exact JOIN adc ON adc.qid = exact.qid AND adc.id = exact.id
  JOIN sdc ON sdc.qid = exact.qid AND sdc.id = exact.id
  WHERE exact.id <> exact.qid
), errs AS (
  SELECT qid,
         CAST(SUM(ABS(adc_d2 - ex_d2)) AS BIGINT) AS adc_abs_err,
         CAST(SUM(ABS(sdc_d2 - ex_d2)) AS BIGINT) AS sdc_abs_err,
         CAST(COUNT(*) AS BIGINT) AS n_corpus
  FROM joined GROUP BY qid
), tops AS (
  SELECT qid, id,
         row_number() OVER (PARTITION BY qid ORDER BY ex_d2, id) AS r_ex,
         row_number() OVER (PARTITION BY qid ORDER BY adc_d2, id) AS r_adc,
         row_number() OVER (PARTITION BY qid ORDER BY sdc_d2, id) AS r_sdc
  FROM joined
), rec AS (
  SELECT t.qid,
         CAST(SUM(CASE WHEN a.r_adc <= 10 THEN 1 ELSE 0 END) AS BIGINT)
           AS recall10_adc,
         CAST(SUM(CASE WHEN a.r_sdc <= 10 THEN 1 ELSE 0 END) AS BIGINT)
           AS recall10_sdc
  FROM tops t JOIN tops a ON a.qid = t.qid AND a.id = t.id
  WHERE t.r_ex <= 10
  GROUP BY t.qid
)
SELECT errs.qid AS q_vec_id, errs.n_corpus,
       errs.adc_abs_err, errs.sdc_abs_err,
       rec.recall10_adc, rec.recall10_sdc,
       errs.adc_abs_err <= errs.sdc_abs_err AS adc_tighter
FROM errs JOIN rec ON rec.qid = errs.qid
"""


@register("sim_pq_sdc_vs_adc", oracle=_SDC_ADC_ORACLE, tags=("llm", "similarity"))
def sim_pq_sdc_vs_adc(spark, sf_dir):
    """PQ DISTANCE MODES head-to-head (Jégou et al. 2011 §III):
    ASYMMETRIC distance (ADC — query kept raw, one query-to-centroid
    lookup table per query) vs SYMMETRIC (SDC — query quantized too,
    one centroid-to-centroid table shared by ALL queries; cheaper per
    query, coarser). Per query over the whole corpus: total |approx −
    exact| L2² error of each mode (EXACT integers — every distance is
    an integer-quantized dot product over the shared deterministic
    codebook) and recall@10 of each mode against the exact top-10.
    The driver hashes both error totals, both recalls, and the
    adc_tighter flag — ADC's summed error is strictly tighter here
    (measured at both fixture SFs; per-DOC ADC dominance is not a
    theorem, summed-over-corpus dominance is what Jégou's Fig. 2
    shows and what this corpus reproduces). Plan: codebook + codes
    from pq_assign_codes (one corpus pass), the two lookup tables are
    broadcast-sized (640 and 2048 exact rows), exact distances join
    only the 4 query vectors' dims — never a corpus×corpus relation."""
    from ..operators.similarity import pq_assign_codes, pq_centroid_dims

    emb = load_table(spark, sf_dir, "embeddings")
    # eager pins (optimization r13, guide §3.3): both the assigned
    # codes and the codebook dims feed the ADC lut, the SDC lut and the
    # code join sides — unpinned, each reference re-ran the PQ Lloyd
    # chain (80-Exchange plan)
    codes = pin(
        pq_assign_codes(emb)
        .select("id", "sub", "code")
    )
    cdims = pin(pq_centroid_dims(emb))
    dims = emb.select(
        F.col("vec_id").alias("id"),
        (F.size("embedding") / 8).cast("int").alias("d_sub"),
        F.posexplode("embedding").alias("j", "x"),
    ).select(
        "id",
        "j",
        (F.col("j") / F.col("d_sub")).cast("int").alias("sub"),
        F.round(F.col("x").cast("double") * 1000000).cast("long").alias("qx"),
    )
    qd = dims.filter(F.col("id") < 4).select(
        F.col("id").alias("qid"), "j", "sub", "qx"
    )
    adc_lut = (
        qd.join(F.broadcast(cdims.select("code", "j", "qc")), "j")
        .groupBy("qid", "sub", "code")
        .agg(
            F.sum((F.col("qx") - F.col("qc")) * (F.col("qx") - F.col("qc"))).alias(
                "d2q"
            )
        )
    )
    adc = (
        codes.join(F.broadcast(adc_lut), ["sub", "code"])
        .groupBy("qid", "id")
        .agg(F.sum("d2q").cast("long").alias("adc_d2"))
    )
    cc = (
        cdims.select("sub", F.col("code").alias("code_a"), "j", F.col("qc").alias("qa"))
        .join(
            F.broadcast(
                cdims.select(F.col("code").alias("code_b"), "j", F.col("qc").alias("qb"))
            ),
            "j",
        )
        .groupBy("sub", "code_a", "code_b")
        .agg(F.sum((F.col("qa") - F.col("qb")) * (F.col("qa") - F.col("qb"))).alias("d2cc"))
    )
    qcodes = codes.filter(F.col("id") < 4).select(
        F.col("id").alias("qid"), "sub", F.col("code").alias("code_a")
    )
    sdc = (
        codes.select("id", "sub", F.col("code").alias("code_b"))
        .join(F.broadcast(qcodes.join(cc, ["sub", "code_a"])), ["sub", "code_b"])
        .groupBy("qid", "id")
        .agg(F.sum("d2cc").cast("long").alias("sdc_d2"))
    )
    exact = (
        dims.join(F.broadcast(qd.select("qid", "j", F.col("qx").alias("qq"))), "j")
        .groupBy("qid", "id")
        .agg(
            F.sum((F.col("qq") - F.col("qx")) * (F.col("qq") - F.col("qx")))
            .cast("long")
            .alias("ex_d2")
        )
    )
    joined = (
        exact.join(adc, ["qid", "id"])
        .join(sdc, ["qid", "id"])
        .filter(F.col("id") != F.col("qid"))
    )
    errs = joined.groupBy("qid").agg(
        F.sum(F.abs(F.col("adc_d2") - F.col("ex_d2"))).cast("long").alias(
            "adc_abs_err"
        ),
        F.sum(F.abs(F.col("sdc_d2") - F.col("ex_d2"))).cast("long").alias(
            "sdc_abs_err"
        ),
        F.count(F.lit(1)).cast("long").alias("n_corpus"),
    )
    wq = W.partitionBy("qid")
    tops = joined.select(
        "qid",
        "id",
        F.row_number().over(wq.orderBy("ex_d2", "id")).alias("r_ex"),
        F.row_number().over(wq.orderBy("adc_d2", "id")).alias("r_adc"),
        F.row_number().over(wq.orderBy("sdc_d2", "id")).alias("r_sdc"),
    )
    rec = (
        tops.filter(F.col("r_ex") <= 10)
        .groupBy("qid")
        .agg(
            F.sum(F.when(F.col("r_adc") <= 10, 1).otherwise(0))
            .cast("long")
            .alias("recall10_adc"),
            F.sum(F.when(F.col("r_sdc") <= 10, 1).otherwise(0))
            .cast("long")
            .alias("recall10_sdc"),
        )
    )
    return (
        errs.join(rec, "qid")
        .select(
            F.col("qid").alias("q_vec_id"),
            "n_corpus",
            "adc_abs_err",
            "sdc_abs_err",
            "recall10_adc",
            "recall10_sdc",
            (F.col("adc_abs_err") <= F.col("sdc_abs_err")).alias("adc_tighter"),
        )
    )
