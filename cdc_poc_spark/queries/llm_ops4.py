"""Round-10 wave 5 — retrieval-QUALITY evaluation (nDCG@k with graded
relevance, MAP/MRR), two ANN families the similarity stack lacked
(sign-bit binary quantization with Hamming ranking; Matryoshka
prefix-dimension retrieval, Kusupati et al. NeurIPS 2022), the
classical lexical-richness estimators every corpus report quotes
(Yule's K 1944, Good-Turing 1953, Chao1 1984), and the Durbin-Watson
serial-correlation regression diagnostic.

The reference has no retrieval-evaluation or lexical-statistics
surface at all (SURVEY §2 preamble — its core is a 84-line CDC
consumer); every query here is engine capability per the north star,
built on the standing exactness discipline: integer cents/micros,
DECIMAL(38)/HUGEINT moments, truncating integer division (`DIV` /
`//`) shared by both engines, one float expression at the end,
round(5/6) at the edge.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ..operators import similarity
from ..operators.scale import overlap, pin, spread
from ..sources.files import ephemeral_dir, stage_batches
from ..streaming import await_done
from ..tables import VAL, dec, load_table
from . import register

# ---------------------------------------------------------------------------
# Retrieval-quality evaluation: nDCG@10 with graded relevance.
# ---------------------------------------------------------------------------

#: Graded relevance from label distance: 3 (same label) / 2 / 1 / 0.
#: Gain is the standard (2^grade - 1) in exact integers {7, 3, 1, 0}.
_GAIN_SQL = (
    "CASE WHEN qlabel = clabel THEN 7"
    " WHEN abs(qlabel - clabel) = 1 THEN 3"
    " WHEN abs(qlabel - clabel) = 2 THEN 1 ELSE 0 END"
)

_NDCG_ORACLE = f"""
WITH e AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
  FROM embeddings
), n AS (
  SELECT vec_id, label, vec,
         sqrt(list_sum(list_transform(vec, x -> x * x))) AS vnorm
  FROM e
), pairs AS (
  SELECT q.vec_id AS query_id, q.label AS qlabel,
         c.vec_id AS neighbor_id, c.label AS clabel,
         round(list_sum(list_transform(range(1, len(q.vec) + 1),
                        i -> q.vec[i] * c.vec[i])) / (q.vnorm * c.vnorm), 5)
           AS cosine
  FROM n q, n c
  WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id
), ranked AS (
  SELECT query_id, qlabel, clabel,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id) AS rank
  FROM pairs
), dcg AS (
  SELECT query_id,
         CAST(SUM(CAST(round(({_GAIN_SQL}) * 1000000
                             / log2(rank + 1)) AS BIGINT)) AS BIGINT)
           AS dcg_micro
  FROM ranked WHERE rank <= 10 GROUP BY query_id
), counts AS (
  SELECT query_id,
         CAST(SUM(CASE WHEN qlabel = clabel THEN 1 ELSE 0 END) AS BIGINT) AS c3,
         CAST(SUM(CASE WHEN abs(qlabel - clabel) = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c2,
         CAST(SUM(CASE WHEN abs(qlabel - clabel) = 2 THEN 1 ELSE 0 END) AS BIGINT) AS c1
  FROM pairs GROUP BY query_id
), ideal AS (
  SELECT counts.query_id, counts.c3,
         CAST(SUM(CAST(round(
             (CASE WHEN p.r <= c3 THEN 7
                   WHEN p.r <= c3 + c2 THEN 3
                   WHEN p.r <= c3 + c2 + c1 THEN 1 ELSE 0 END) * 1000000
             / log2(p.r + 1)) AS BIGINT)) AS BIGINT) AS idcg_micro
  FROM counts, (SELECT CAST(range AS BIGINT) AS r FROM range(1, 11)) p
  GROUP BY counts.query_id, counts.c3
)
SELECT d.query_id, i.c3 AS n_same_label, d.dcg_micro, i.idcg_micro,
       round(CAST(d.dcg_micro AS DOUBLE) / i.idcg_micro, 6) AS ndcg_at_10
FROM dcg d JOIN ideal i ON d.query_id = i.query_id
ORDER BY d.query_id
"""


@register("ml_ndcg_at_k", oracle=_NDCG_ORACLE, tags=("llm", "ml", "eval", "retrieval"))
def ml_ndcg_at_k(spark, sf_dir):
    """nDCG@10 (Järvelin & Kekäläinen 2002) for the cosine retrieval
    system against GRADED relevance derived from label distance
    (3/2/1/0 at |Δlabel| 0/1/2/3+; gain = 2^grade − 1 ∈ {7,3,1,0}).
    Completes the eval stack's retrieval axis: ROC-AUC/PR/calibration
    (r9-r10) judge classifiers, nDCG judges RANKINGS.

    Exactness: every DCG term is micro-quantized as round(gain·1e6 /
    log2(rank+1)) — an exact BIGINT — so per-query DCG/IDCG are exact
    integer sums (summation-order-free; the layout-audit class) and
    nDCG is ONE float division at the edge, round(6). The IDEAL
    ranking is computed in CLOSED FORM from per-grade candidate counts
    joined to a 10-row positions relation — no sort of the candidate
    set: ideal top-10 takes min(10, c3) grade-3 docs first, etc.

    Scale: queries broadcast x one corpus scan (the cosine_topk plan);
    grade counts are one map-side-combinable aggregate over the same
    pairs relation; positions is a 10-row broadcast. At 100 TB this
    is two scans and k·|Q| moved rows."""
    emb = load_table(spark, sf_dir, "embeddings")
    lab = emb.select("vec_id", "label")
    qlab = (
        lab.filter(F.col("vec_id") < 10)
        .select(F.col("vec_id").alias("query_id"), F.col("label").alias("qlabel"))
    )
    ranked = (
        similarity.cosine_topk(emb, n_queries=10, k=10)
        .join(F.broadcast(qlab), "query_id")
        .join(lab.select(F.col("vec_id").alias("neighbor_id"),
                         F.col("label").alias("clabel")), "neighbor_id")
    )
    term = F.expr(
        f"CAST(round(({_GAIN_SQL}) * 1000000 / log2(rank + 1)) AS BIGINT)"
    )
    dcg = ranked.groupBy("query_id").agg(
        F.sum(term).cast("long").alias("dcg_micro")
    )
    # grade counts over ALL candidates (the ideal ranking's closed form)
    pairs = lab.select(
        F.col("vec_id").alias("neighbor_id"), F.col("label").alias("clabel")
    ).join(F.broadcast(qlab), F.col("neighbor_id") != F.col("query_id"))
    counts = pairs.groupBy("query_id").agg(
        F.sum((F.col("qlabel") == F.col("clabel")).cast("long")).alias("c3"),
        F.sum((F.abs(F.col("qlabel") - F.col("clabel")) == 1).cast("long")).alias("c2"),
        F.sum((F.abs(F.col("qlabel") - F.col("clabel")) == 2).cast("long")).alias("c1"),
    )
    positions = spark.range(1, 11).select(F.col("id").alias("r"))
    ideal_gain = (
        "CASE WHEN r <= c3 THEN 7 WHEN r <= c3 + c2 THEN 3"
        " WHEN r <= c3 + c2 + c1 THEN 1 ELSE 0 END"
    )
    ideal = (
        counts.join(F.broadcast(positions))
        .groupBy("query_id", "c3")
        .agg(
            F.sum(
                F.expr(
                    f"CAST(round(({ideal_gain}) * 1000000 / log2(r + 1)) AS BIGINT)"
                )
            )
            .cast("long")
            .alias("idcg_micro")
        )
    )
    return (
        dcg.join(ideal, "query_id")
        .select(
            "query_id",
            F.col("c3").alias("n_same_label"),
            "dcg_micro",
            "idcg_micro",
            F.round(F.col("dcg_micro").cast("double") / F.col("idcg_micro"), 6)
            .alias("ndcg_at_10"),
        )
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# Retrieval-quality evaluation: MAP@10 + MRR (binary relevance).
# ---------------------------------------------------------------------------

_MAP_MRR_ORACLE = """
WITH e AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
  FROM embeddings
), n AS (
  SELECT vec_id, label, vec,
         sqrt(list_sum(list_transform(vec, x -> x * x))) AS vnorm
  FROM e
), pairs AS (
  SELECT q.vec_id AS query_id,
         CASE WHEN q.label = c.label THEN 1 ELSE 0 END AS rel,
         c.vec_id AS neighbor_id,
         round(list_sum(list_transform(range(1, len(q.vec) + 1),
                        i -> q.vec[i] * c.vec[i])) / (q.vnorm * c.vnorm), 5)
           AS cosine
  FROM n q, n c
  WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id
), ranked AS (
  SELECT query_id, rel,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id) AS rank
  FROM pairs
), top10 AS (
  SELECT query_id, rel, rank,
         SUM(rel) OVER (PARTITION BY query_id ORDER BY rank
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS hits
  FROM ranked WHERE rank <= 10
), rtot AS (
  SELECT query_id, CAST(SUM(rel) AS BIGINT) AS r_total FROM pairs GROUP BY query_id
), perq AS (
  SELECT query_id,
         CAST(SUM(rel) AS BIGINT) AS n_rel_top10,
         CAST(COALESCE(SUM(CASE WHEN rel = 1
                                THEN hits * 1000000 // rank END), 0) AS BIGINT)
           AS sum_prec_micro,
         MIN(CASE WHEN rel = 1 THEN rank END) AS first_hit
  FROM top10 GROUP BY query_id
)
SELECT p.query_id, p.n_rel_top10, r.r_total,
       CAST(p.sum_prec_micro // LEAST(r.r_total, 10) AS BIGINT) AS ap_micro,
       CAST(COALESCE(1000000 // p.first_hit, 0) AS BIGINT) AS rr_micro
FROM perq p JOIN rtot r ON p.query_id = r.query_id
ORDER BY p.query_id
"""


@register("ml_map_mrr_retrieval", oracle=_MAP_MRR_ORACLE, tags=("llm", "ml", "eval", "retrieval"))
def ml_map_mrr_retrieval(spark, sf_dir):
    """Average Precision @10 and Reciprocal Rank per query for the
    cosine retrieval system under BINARY relevance (label match) —
    the un-graded twin of ml_ndcg_at_k and the second half of the
    classic ranking-eval pair (TREC MAP/MRR).

    Exactness: P@r = hits·1e6 DIV r is an exact truncating-integer
    micro value in BOTH engines (Spark `DIV`, DuckDB `//`; positive
    operands so truncation == floor on both); AP@10 = Σ_{rel hits}
    P@r DIV min(R_total, 10) stays exact BIGINT end-to-end; RR =
    1e6 DIV first-hit-rank. ZERO float operations anywhere.

    Scale: same two-scan broadcast-queries plan as nDCG; the cumsum
    window partitions by query_id over 10-row groups (never a
    SinglePartition exchange)."""
    emb = load_table(spark, sf_dir, "embeddings")
    lab = emb.select("vec_id", "label")
    qlab = (
        lab.filter(F.col("vec_id") < 10)
        .select(F.col("vec_id").alias("query_id"), F.col("label").alias("qlabel"))
    )
    ranked = (
        similarity.cosine_topk(emb, n_queries=10, k=10)
        .join(F.broadcast(qlab), "query_id")
        .join(lab.select(F.col("vec_id").alias("neighbor_id"),
                         F.col("label").alias("clabel")), "neighbor_id")
        .select(
            "query_id",
            "rank",
            (F.col("qlabel") == F.col("clabel")).cast("int").alias("rel"),
        )
    )
    w = (
        W.partitionBy("query_id")
        .orderBy("rank")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    top10 = ranked.withColumn("hits", F.sum("rel").over(w))
    perq = top10.groupBy("query_id").agg(
        F.sum("rel").cast("long").alias("n_rel_top10"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("rel") == 1,
                    F.expr("hits * 1000000 DIV rank"),
                )
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("sum_prec_micro"),
        F.min(F.when(F.col("rel") == 1, F.col("rank"))).alias("first_hit"),
    )
    pairs = lab.select(
        F.col("vec_id").alias("neighbor_id"), F.col("label").alias("clabel")
    ).join(F.broadcast(qlab), F.col("neighbor_id") != F.col("query_id"))
    rtot = pairs.groupBy("query_id").agg(
        F.sum((F.col("qlabel") == F.col("clabel")).cast("long")).alias("r_total")
    )
    return (
        perq.join(rtot, "query_id")
        .select(
            "query_id",
            "n_rel_top10",
            "r_total",
            F.expr("CAST(sum_prec_micro DIV LEAST(r_total, 10) AS BIGINT)").alias(
                "ap_micro"
            ),
            F.coalesce(F.expr("1000000 DIV first_hit"), F.lit(0))
            .cast("long")
            .alias("rr_micro"),
        )
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# Binary (sign-bit) quantized ANN: Hamming-distance top-k.
# ---------------------------------------------------------------------------

_HAMMING_ORACLE = """
WITH packed AS (
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
), dist AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         CAST(bit_count(xor(q.w0, c.w0)) + bit_count(xor(q.w1, c.w1)) AS INT)
           AS hamming
  FROM packed q, packed c
  WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY hamming, neighbor_id) AS rank
  FROM dist
)
SELECT query_id, neighbor_id, hamming, rank FROM ranked WHERE rank <= 5
ORDER BY query_id, rank
"""


@register("sim_hamming_sign_topk", oracle=_HAMMING_ORACLE, tags=("llm", "similarity", "binary"))
def sim_hamming_sign_topk(spark, sf_dir):
    """Binary-quantized ANN — the 32x-compression tier below PQ: each
    64-dim vector collapses to its SIGN BITS packed into two 32-bit
    words (bits 0-31 / 32-63, kept in separate BIGINTs so no value
    ever touches the sign bit), and retrieval ranks by exact Hamming
    distance = popcount(w0 XOR w0') + popcount(w1 XOR w1') — all
    EXACT INTEGERS, no float anywhere, ties broken by neighbor_id.

    Charikar 2002 (SimHash) is the theory: sign-bit agreement
    estimates angular similarity. The similarity stack now spans
    full-precision (cosine), PQ/OPQ (8x), and binary (32x) — the
    three operating points every vector store ships.

    Scale: packing (operators.similarity.sign_pack_words) is a
    map-side expression ON the scan (one pass, no shuffle); queries
    broadcast x one packed scan; per-query top-k via partitioned
    window. XOR+popcount on two words is the cheapest distance kernel
    in the stack — the 100 TB pre-filter tier that candidates for
    exact rerank."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.hamming_topk(emb, n_queries=10, k=5).orderBy(
        "query_id", "rank"
    )


# ---------------------------------------------------------------------------
# Matryoshka prefix-dimension retrieval recall.
# ---------------------------------------------------------------------------

_MRL_ORACLE = """
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
  FROM embeddings
), full_n AS (
  SELECT vec_id, vec,
         sqrt(list_sum(list_transform(vec, x -> x * x))) AS vnorm
  FROM e
), pre_n AS (
  SELECT vec_id, vec[1:32] AS vec,
         sqrt(list_sum(list_transform(vec[1:32], x -> x * x))) AS vnorm
  FROM e
), full_rank AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY q.vec_id ORDER BY
             round(list_sum(list_transform(range(1, len(q.vec) + 1),
                   i -> q.vec[i] * c.vec[i])) / (q.vnorm * c.vnorm), 5) DESC,
             c.vec_id) AS rank
    FROM full_n q, full_n c WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id
  ) WHERE rank <= 10
), pre_rank AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY q.vec_id ORDER BY
             round(list_sum(list_transform(range(1, len(q.vec) + 1),
                   i -> q.vec[i] * c.vec[i])) / (q.vnorm * c.vnorm), 5) DESC,
             c.vec_id) AS rank
    FROM pre_n q, pre_n c WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id
  ) WHERE rank <= 10
)
SELECT f.query_id,
       CAST(SUM(CASE WHEN p.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_hits,
       CAST(SUM(CASE WHEN p.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) * 1000
            AS BIGINT) AS recall_bp
FROM full_rank f
LEFT JOIN pre_rank p
  ON f.query_id = p.query_id AND f.neighbor_id = p.neighbor_id
GROUP BY f.query_id
ORDER BY f.query_id
"""


@register("sim_matryoshka_prefix_recall", oracle=_MRL_ORACLE, tags=("llm", "similarity", "eval"))
def sim_matryoshka_prefix_recall(spark, sf_dir):
    """Matryoshka retrieval (Kusupati et al. NeurIPS 2022): rank by
    cosine over only the FIRST 32 of 64 dimensions and measure exact
    recall@10 against the full-dimension top-10 per query — the
    dimension-truncation operating point (2x cheaper scan, zero
    index) that modern embedding APIs expose as `dimensions=`.

    Both rankings use the standing round(5)-then-rank discipline with
    neighbor_id tie-breaks, so the hit COUNT is an exact integer and
    recall_bp = n_hits·1000 is exact basis points of k=10 — no float
    in the output at all.

    Scale: two broadcast-queries x one-scan rankings (the prefix scan
    reads HALF the vector bytes — at 100 TB that is the point) joined
    on (query, neighbor). Random fixture vectors put prefix recall
    near the 32/64 information split; MRL-trained vectors sit far
    higher — the query reports, it does not gate."""
    emb = load_table(spark, sf_dir, "embeddings")
    full = similarity.cosine_topk(emb, n_queries=10, k=10).select(
        "query_id", "neighbor_id"
    )
    emb32 = emb.select(
        "vec_id", F.expr("slice(embedding, 1, 32)").alias("embedding")
    )
    pre = similarity.cosine_topk(emb32, n_queries=10, k=10).select(
        "query_id", F.col("neighbor_id").alias("p_neighbor")
    )
    hits = full.join(
        pre,
        (full.query_id == pre.query_id)
        & (full.neighbor_id == pre.p_neighbor),
        "left",
    ).select(full.query_id, "p_neighbor")
    return (
        hits.groupBy("query_id")
        .agg(
            F.sum(F.col("p_neighbor").isNotNull().cast("long")).alias("n_hits"),
            (F.sum(F.col("p_neighbor").isNotNull().cast("long")) * 1000)
            .cast("long")
            .alias("recall_bp"),
        )
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# Yule's characteristic K — per-source lexical concentration.
# ---------------------------------------------------------------------------

_YULE_ORACLE = """
WITH t AS (
  SELECT source, unnest(string_split(text, ' ')) AS token FROM documents
), tc AS (
  SELECT source, token, COUNT(*) AS c FROM t WHERE token <> ''
  GROUP BY source, token
), m AS (
  SELECT source,
         CAST(SUM(c) AS BIGINT) AS n_tokens,
         CAST(COUNT(*) AS BIGINT) AS vocab,
         CAST(SUM(c * c) AS BIGINT) AS m2
  FROM tc GROUP BY source
)
SELECT source, n_tokens, vocab, m2,
       round(10000.0 * (m2 - n_tokens)
             / (CAST(n_tokens AS DOUBLE) * n_tokens), 6) AS yule_k
FROM m ORDER BY source
"""


@register("text_yule_k", oracle=_YULE_ORACLE, tags=("llm", "text", "stats"))
def text_yule_k(spark, sf_dir):
    """Yule's characteristic K (Yule 1944) per source: K = 10^4 ·
    (Σ_r r²V_r − N) / N² — the classical repeat-rate measure of
    vocabulary concentration (≈ collision probability of two token
    draws, scaled), robust to corpus length unlike raw TTR; the
    stylometric complement of text_burrows_delta and the
    concentration twin of text_lexical_diversity's MATTR axis.

    Σ_r r²V_r is just Σ_tokens c², so the whole statistic needs ONE
    (source, token) count relation — N, V, m2 are exact BIGINTs and
    K is one float expression at the edge, round(6).

    Scale: explode -> two-level partial-aggregated groupBy; the
    shuffle carries distinct (source, token) rows, never occurrences;
    the second aggregate is |sources| rows."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    tc = (
        docs.select("source", F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        tc.groupBy("source")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.count(F.lit(1)).cast("long").alias("vocab"),
            F.sum(F.col("c") * F.col("c")).cast("long").alias("m2"),
        )
        .select(
            "source",
            "n_tokens",
            "vocab",
            "m2",
            F.round(
                F.lit(10000.0)
                * (F.col("m2") - F.col("n_tokens"))
                / (F.col("n_tokens").cast("double") * F.col("n_tokens")),
                6,
            ).alias("yule_k"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Good-Turing frequency-of-frequencies smoothing.
# ---------------------------------------------------------------------------

_GT_ORACLE = """
WITH t AS (
  SELECT unnest(string_split(text, ' ')) AS token FROM documents
), tc AS (
  SELECT token, COUNT(*) AS r FROM t WHERE token <> '' GROUP BY token
), vr AS (
  SELECT r, CAST(COUNT(*) AS BIGINT) AS v_r FROM tc GROUP BY r
), tot AS (
  SELECT CAST(SUM(r) AS BIGINT) AS n_total FROM tc
), rows_r AS (
  SELECT CAST(range AS BIGINT) AS r FROM range(0, 6)
)
SELECT rows_r.r,
       CASE WHEN rows_r.r = 0 THEN tot.n_total
            ELSE COALESCE(a.v_r, 0) END AS v_r,
       COALESCE(b.v_r, 0) AS v_r_plus1,
       CASE
         WHEN rows_r.r = 0
           THEN CAST(COALESCE(b.v_r, 0) * 1000000 // tot.n_total AS BIGINT)
         WHEN COALESCE(a.v_r, 0) = 0 THEN CAST(0 AS BIGINT)
         ELSE CAST((rows_r.r + 1) * COALESCE(b.v_r, 0) * 1000000
                   // a.v_r AS BIGINT)
       END AS r_star_micro
FROM rows_r
LEFT JOIN vr a ON a.r = rows_r.r
LEFT JOIN vr b ON b.r = rows_r.r + 1
CROSS JOIN tot
ORDER BY rows_r.r
"""


@register("text_good_turing_smoothing", oracle=_GT_ORACLE, tags=("llm", "text", "stats"))
def text_good_turing_smoothing(spark, sf_dir):
    """Good-Turing frequency-of-frequencies (Good 1953) over the
    corpus unigram counts: for r = 1..5 the Turing-smoothed count
    r* = (r+1)·V_{r+1}/V_r in exact micro units, and the r = 0 row
    carries the UNSEEN-MASS estimate p0 = V_1/N (the probability the
    next token is novel — the quantity behind Katz backoff and the
    coverage dial of pipeline curation). v_r for the r = 0 row is N
    itself so the row is self-describing.

    Exactness: token counts, V_r, and N are exact BIGINTs; r* uses
    the shared truncating integer division (Spark DIV, DuckDB //) at
    the 1e6 scale — ZERO float operations in the whole query.

    Scale: one token-count relation (partial-agg shuffle on distinct
    tokens), one |distinct r|-row rollup, then a 6-row frame joined
    against it — the frequency-of-frequencies table is tiny at any
    corpus size (r is capped by the most frequent token)."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    tc = (
        docs.select(F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("r"))
    )
    vr = tc.groupBy("r").agg(F.count(F.lit(1)).cast("long").alias("v_r"))
    tot = tc.agg(F.sum("r").cast("long").alias("n_total"))
    rows_r = spark.range(0, 6).select(F.col("id").alias("r"))
    a = vr.select(F.col("r").alias("ra"), F.col("v_r").alias("va"))
    b = vr.select(F.col("r").alias("rb"), F.col("v_r").alias("vb"))
    return (
        rows_r.join(F.broadcast(a), F.col("r") == F.col("ra"), "left")
        .join(F.broadcast(b), F.col("r") + 1 == F.col("rb"), "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "r",
            F.when(F.col("r") == 0, F.col("n_total"))
            .otherwise(F.coalesce("va", F.lit(0)))
            .cast("long")
            .alias("v_r"),
            F.coalesce("vb", F.lit(0)).cast("long").alias("v_r_plus1"),
            F.when(
                F.col("r") == 0,
                F.expr("CAST(COALESCE(vb, 0) * 1000000 DIV n_total AS BIGINT)"),
            )
            .when(F.coalesce("va", F.lit(0)) == 0, F.lit(0).cast("long"))
            .otherwise(
                F.expr(
                    "CAST((r + 1) * COALESCE(vb, 0) * 1000000"
                    " DIV va AS BIGINT)"
                )
            )
            .alias("r_star_micro"),
        )
        .orderBy("r")
    )


# ---------------------------------------------------------------------------
# Chao1 vocabulary-richness estimator.
# ---------------------------------------------------------------------------

_CHAO1_ORACLE = """
WITH t AS (
  SELECT source, unnest(string_split(text, ' ')) AS token FROM documents
), tc AS (
  SELECT source, token, COUNT(*) AS c FROM t WHERE token <> ''
  GROUP BY source, token
), m AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS s_obs,
         CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
         CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2,
         CAST(SUM(c) AS BIGINT) AS n_tokens
  FROM tc GROUP BY source
)
SELECT source, s_obs, f1, f2, n_tokens,
       CAST(s_obs * 1000000
            + f1 * (f1 - 1) * 1000000 // (2 * (f2 + 1)) AS BIGINT)
         AS chao1_micro,
       CAST(10000 - f1 * 10000 // n_tokens AS BIGINT) AS coverage_bp
FROM m ORDER BY source
"""


@register("text_chao1_vocab_richness", oracle=_CHAO1_ORACLE, tags=("llm", "text", "stats"))
def text_chao1_vocab_richness(spark, sf_dir):
    """Chao1 total-vocabulary estimator (Chao 1984, bias-corrected
    form) per source: Ŝ = S_obs + f1(f1−1)/(2(f2+1)) — how many
    token types the source WOULD show with infinite sampling — plus
    Good's sample-coverage Ĉ = 1 − f1/N. The "how much vocabulary is
    this source still hiding" dial a corpus card needs next to the
    observed-vocab column (text_yule_k measures concentration of
    what IS seen; this estimates what is NOT yet seen).

    Exactness: S_obs, f1 (hapaxes), f2 (dis legomena), N are exact
    BIGINTs from one (source, token) count relation; the estimator
    and coverage are exact micro / basis-point integers via the
    shared truncating division. ZERO float operations.

    Scale: same single partial-agg token-count shuffle as Yule —
    the two queries could share one standing relation; kept separate
    so each is independently driver-hashable."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    tc = (
        docs.select("source", F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        tc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("s_obs"),
            F.sum((F.col("c") == 1).cast("long")).alias("f1"),
            F.sum((F.col("c") == 2).cast("long")).alias("f2"),
            F.sum("c").cast("long").alias("n_tokens"),
        )
        .select(
            "source",
            "s_obs",
            "f1",
            "f2",
            "n_tokens",
            F.expr(
                "CAST(s_obs * 1000000"
                " + f1 * (f1 - 1) * 1000000 DIV (2 * (f2 + 1)) AS BIGINT)"
            ).alias("chao1_micro"),
            F.expr("CAST(10000 - f1 * 10000 DIV n_tokens AS BIGINT)").alias(
                "coverage_bp"
            ),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Durbin-Watson serial-correlation diagnostic.
# ---------------------------------------------------------------------------

_DW_ORACLE = """
WITH d AS (
  SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
         CAST(SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT))
              AS BIGINT) AS cents
  FROM events GROUP BY date_trunc('day', ts)
), r AS (
  SELECT CAST(cents AS HUGEINT) AS y,
         CAST(row_number() OVER (ORDER BY day) AS HUGEINT) AS t
  FROM d
), m AS (
  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
         SUM(t) AS sx, SUM(y) AS sy,
         SUM(t * t) AS sxx, SUM(t * y) AS sxy
  FROM r
), k AS (
  SELECT n, n * sxx - sx * sx AS delta,
         sy * sxx - sx * sxy AS anum,
         n * sxy - sx * sy AS bnum
  FROM m
), e AS (
  SELECT r.t,
         (k.delta * r.y - k.anum - k.bnum * r.t) AS ee,
         lag(k.delta * r.y - k.anum - k.bnum * r.t)
           OVER (ORDER BY r.t) AS ee_lag
  FROM r CROSS JOIN k
), s AS (
  SELECT SUM(CASE WHEN ee_lag IS NOT NULL
                  THEN (ee - ee_lag) * (ee - ee_lag) END) AS num,
         SUM(ee * ee) AS den
  FROM e
)
SELECT CAST(k.n AS BIGINT) AS n_days,
       round(CAST(s.num AS DOUBLE) / CAST(s.den AS DOUBLE), 6) AS dw,
       round(1.0 - CAST(s.num AS DOUBLE) / (2.0 * CAST(s.den AS DOUBLE)), 6)
         AS rho1
FROM s CROSS JOIN k
"""


@register("tw_durbin_watson", oracle=_DW_ORACLE, tags=("timeseries", "stats", "regression"))
def tw_durbin_watson(spark, sf_dir):
    """DURBIN-WATSON serial-correlation test (Durbin & Watson 1950) on
    the residuals of the daily-revenue-vs-time OLS line — completes
    the regression-diagnostics axis next to tw_theil_sen_slope
    (robust slope), agg_mann_kendall_trend (trend existence), and
    tw_dominant_period_acf (lag structure): DW ≈ 2(1−ρ₁) says whether
    the TREND-REMOVED series still remembers yesterday.

    Exactness: with Δ = n·Sxx − Sx², the Δ-SCALED residual E_t =
    Δ·y_t − (Sy·Sxx − Sx·Sxy) − (n·Sxy − Sx·Sy)·t is an EXACT
    integer (the rational residual's common denominator cleared), so
    DW = Σ(E_t − E_{t−1})² / ΣE_t² — Δ² cancels — is a ratio of two
    exact DECIMAL(38)/HUGEINT sums; dw and ρ₁ are the only float
    expressions, round(6). Headroom: E ~ Δ·|residual-cents| ~ 1e16
    at sf0.1 (residuals are daily NOISE, not daily totals), squares
    ~1e32·366 days — far inside 38 digits at the 10x probe (which
    replicates rows within the same date range, scaling residuals
    10x -> sums ~1e35).

    Scale: one day-level rollup (map-side combinable), one 1-row
    moments aggregate broadcast back onto the ≤|days| relation, one
    lag window over that bounded relation (whitelisted: days, never
    raw rows)."""
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
    r = d.select(
        F.col("cents").cast("decimal(38,0)").alias("y"),
        F.row_number().over(W.orderBy("day")).cast("decimal(38,0)").alias("t"),
    )
    m = r.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("t").cast("decimal(38,0)").alias("sx"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.sum(F.expr("t * t")).cast("decimal(38,0)").alias("sxx"),
        F.sum(F.expr("t * y")).cast("decimal(38,0)").alias("sxy"),
    )
    k = m.select(
        "n",
        F.expr("CAST(n * sxx - sx * sx AS DECIMAL(38,0))").alias("delta"),
        F.expr("CAST(sy * sxx - sx * sxy AS DECIMAL(38,0))").alias("anum"),
        F.expr("CAST(n * sxy - sx * sy AS DECIMAL(38,0))").alias("bnum"),
    )
    e = (
        r.crossJoin(F.broadcast(k))
        .withColumn(
            "ee", F.expr("CAST(delta * y - anum - bnum * t AS DECIMAL(38,0))")
        )
        .withColumn("ee_lag", F.lag("ee").over(W.orderBy("t")))
    )
    s = e.agg(
        F.sum(
            F.when(
                F.col("ee_lag").isNotNull(),
                F.expr("CAST((ee - ee_lag) * (ee - ee_lag) AS DECIMAL(38,0))"),
            )
        ).alias("num"),
        F.sum(F.expr("CAST(ee * ee AS DECIMAL(38,0))")).alias("den"),
    )
    return s.crossJoin(F.broadcast(k.select("n"))).select(
        F.col("n").cast("long").alias("n_days"),
        F.round(F.col("num").cast("double") / F.col("den").cast("double"), 6).alias(
            "dw"
        ),
        F.round(
            F.lit(1.0)
            - F.col("num").cast("double") / (F.lit(2.0) * F.col("den").cast("double")),
            6,
        ).alias("rho1"),
    )


# ---------------------------------------------------------------------------
# SemDeDup — semantic near-dup pruning over the IVF cell structure
# (round 11, VERDICT r10 task #6; Abbas et al. 2023, arXiv:2303.09540)
# ---------------------------------------------------------------------------

#: Component quantization for the exact integer pipeline (the
#: ml_kmeans_step_assign pattern, analytics.py): xq = round(x * 1e6).
_SD_Q = 1_000_000
#: Cosine threshold tau = 0.30, compared exactly as
#: 100 * dot^2 >= 9 * |a|^2 * |b|^2 (with dot > 0) — no floats in the
#: decision. The fixture's embedding space is diffuse (max pairwise
#: cosine ~0.6 at sf0.1), so the production-typical 0.95 would make the
#: operator's output empty at every SF; tau is a parameter, the
#: semantics don't change.
_SD_TAU_NUM = 9  # tau^2 = 0.09 = 9/100
_SD_TAU_DEN = 100

_SEMDEDUP_ORACLE = f"""
WITH canon AS (
  SELECT MIN(vec_id) AS vec_id, arg_min(label, vec_id) AS label, embedding
  FROM embeddings GROUP BY embedding
),
q AS (
  SELECT vec_id, label, generate_subscripts(embedding, 1) AS dim,
         CAST(round(CAST(unnest(embedding) AS DOUBLE) * {_SD_Q}) AS BIGINT)
           AS xq
  FROM canon
),
cent AS (
  SELECT label AS clabel, dim, CAST(SUM(xq) AS BIGINT) AS s,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM q GROUP BY label, dim
),
terms AS (
  SELECT v.vec_id, c.clabel, c.n,
         CAST(v.xq * c.n - c.s AS DECIMAL(38,0)) AS t
  FROM q v JOIN cent c ON c.dim = v.dim
),
d2 AS (
  SELECT vec_id, clabel,
         CAST(SUM(t * t) AS DECIMAL(38,0)) AS num,
         CAST(SUM(t * t) AS DOUBLE) / (CAST(MIN(n) AS DOUBLE) * MIN(n))
           AS dist2
  FROM terms GROUP BY vec_id, clabel
),
assign AS (
  SELECT vec_id, clabel AS cell_id, num,
         row_number() OVER (PARTITION BY vec_id ORDER BY dist2, clabel)
           AS rn
  FROM d2
),
v AS (
  SELECT a.vec_id, a.cell_id, a.num,
         list_transform(e.embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * {_SD_Q}) AS BIGINT)) AS qv
  FROM assign a JOIN canon e ON e.vec_id = a.vec_id
  WHERE a.rn = 1
),
v2 AS (
  SELECT vec_id, cell_id, num, qv,
         CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS n2
  FROM v
),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.cell_id,
         a.num AS num_a, b.num AS num_b,
         CAST(list_sum(list_transform(range(1, len(a.qv) + 1),
              i -> a.qv[i] * b.qv[i])) AS BIGINT) AS dot,
         a.n2 AS n2_a, b.n2 AS n2_b
  FROM v2 a JOIN v2 b ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
),
dups AS (
  SELECT *,
         round(CAST(dot AS DOUBLE)
               / sqrt(CAST(CAST(n2_a AS HUGEINT) * n2_b AS DOUBLE)), 6)
           AS cosine
  FROM pairs
  WHERE dot > 0
    AND {_SD_TAU_DEN} * CAST(dot AS HUGEINT) * dot
        >= {_SD_TAU_NUM} * CAST(n2_a AS HUGEINT) * n2_b
),
directed AS (
  SELECT cell_id,
         CASE WHEN num_a > num_b OR (num_a = num_b AND id_a < id_b)
              THEN id_b ELSE id_a END AS dropped_id,
         CASE WHEN num_a > num_b OR (num_a = num_b AND id_a < id_b)
              THEN id_a ELSE id_b END AS kept_id,
         CASE WHEN num_a > num_b OR (num_a = num_b AND id_a < id_b)
              THEN num_a ELSE num_b END AS num_kept,
         cosine
  FROM dups
),
best AS (
  SELECT cell_id, dropped_id, kept_id, cosine,
         row_number() OVER (PARTITION BY dropped_id
                            ORDER BY num_kept DESC, kept_id) AS rn
  FROM directed
)
SELECT CAST(cell_id AS BIGINT) AS cell_id,
       CAST(dropped_id AS BIGINT) AS dropped_id,
       CAST(kept_id AS BIGINT) AS kept_id, cosine
FROM best WHERE rn = 1
"""


@register(
    "dedup_semdedup_prune",
    oracle=_SEMDEDUP_ORACLE,
    tags=("llm", "dedup", "similarity", "ivf"),
)
def dedup_semdedup_prune(spark, sf_dir):
    """SemDeDup-tier embedding dedup (Abbas et al. 2023): assign every
    vector to its nearest coarse centroid, find within-cell pairs with
    cosine >= tau, and drop the MORE-typical member of each pair — the
    survivor is the one FARTHER from its cell centroid (the paper's
    keep-low-centroid-similarity rule: atypical examples carry more
    information). Output: one row per dropped vector with the cell, the
    strongest surviving dominator (largest centroid distance, then
    smallest id), and that pair's cosine.

    Exactness (the ml_kmeans_step_assign discipline, analytics.py):
    components quantize to int64; centroids are exact integer sums; the
    assignment argmin compares SUM((xq*n - S)^2)/n^2 with an exact
    DECIMAL(38) numerator and ONE double division; the dup decision is
    the all-integer 100*dot^2 >= 9*|a|^2*|b|^2 cross-multiplication
    (DECIMAL(38)/HUGEINT — no float ever enters it); the keep-rule
    compares the exact DECIMAL centroid-distance numerators, which
    share the same denominator inside a cell. The DuckDB oracle is
    therefore a full independent blocked recompute of the ENTIRE
    pipeline — assignment, pair set, and keep-rule — not an agreement
    flag; tests/test_round11_refs.py adds a third numpy implementation.

    Scale: the centroid relation is broadcast-size (cells x dims); the
    assignment join is map-side; the pair join is an equi-join on
    cell_id, so the quadratic term is bounded by the largest CELL, not
    the corpus — at 100 TB you raise the centroid count proportionally
    (the standing IVF lifecycle in operators/similarity.py keeps cell
    sizes roughly constant) and this plan is unchanged. The keep-rule
    and dominator argmax are one window over the dup-pair relation,
    which tau keeps sparse.

    CLONE COLLAPSE FIRST (the standing rule for every pairwise
    consumer — operators/similarity.embedding_cosine_pairs): production
    SemDeDup runs AFTER the exact-dedup tier (Abbas et al. §3), so
    byte-identical vectors collapse to their min-id canonical before
    anything else — centroids, assignment, and the pair join all see
    canonicals only. Without this the 10x scale probe's clone families
    (the adversarial shape make_scale_probe builds deliberately) make
    the within-cell join quadratic in clones; with it the probe's
    canonical set is exactly the base corpus. A no-op on the base
    fixtures (all embeddings distinct — TESTDATA.md)."""
    return semdedup_prune_pairs(load_table(spark, sf_dir, "embeddings"))


def semdedup_prune_pairs(e, with_assign: bool = False):
    """SemDeDup prune core over a RAW embeddings relation (vec_id,
    embedding, label): clone-collapse -> exact-integer centroid
    assignment -> within-cell pair join -> keep-the-atypical rule.
    Returns (cell_id, dropped_id, kept_id, cosine) — one row per
    DROPPED vector. Extracted from dedup_semdedup_prune (whose
    docstring documents the exactness + scale contract) so
    pipeline_curation_e2e can run the identical prune on the post-LSH
    survivor subset."""
    e = e.groupBy("embedding").agg(
        F.min("vec_id").alias("vec_id"),
        F.min_by("label", "vec_id").alias("label"),
    )
    qv = F.expr(
        f"transform(embedding, x -> cast(round(cast(x as double) * {_SD_Q})"
        " as bigint))"
    )
    # Pinned ONCE: the canonical quantized relation feeds the centroid
    # aggregate (collected below) and the assignment map — n rows x one
    # 64-int array, a tiny checkpoint.
    base = pin(e.select("vec_id", "label", qv.alias("qv")))
    # Centroid sums COLLECTED as per-cell literals (optimization r14,
    # guide §2.4): the former explode -> broadcast-join -> groupBy ->
    # row_number chain cost three exchanges and a window to assign each
    # vector; the assignment is a pure function of the (cells x dims)
    # centroid relation, which the broadcast form already required to
    # be small, so collecting it instead is the same scale contract
    # with ZERO assignment shuffles. The integer algebra is unchanged
    # and bit-identical: t = xq*n - s in int64 (same overflow surface
    # as the joined form), per-cell num = SUM(t^2) in DECIMAL(38,0),
    # argmin by (double dist2 = num/n^2, cell label) exactly as the
    # old window's orderBy.
    cent_rows = (
        base.select("label", F.posexplode("qv").alias("dim0", "xq"))
        .groupBy("label", "dim0")
        .agg(F.sum("xq").alias("s"), F.count(F.lit(1)).alias("n"))
        .collect()
    )
    cells: dict = {}
    for r in cent_rows:
        cells.setdefault(r.label, {})[r.dim0] = (r.s, r.n)
    dec38 = "decimal(38,0)"
    cand_structs = []
    for lab in sorted(cells):
        dims = cells[lab]
        s_arr = [dims[i][0] for i in range(len(dims))]
        n_c = dims[0][1]
        t = F.zip_with(
            F.col("qv"),
            F.lit(s_arr).cast("array<bigint>"),
            lambda x, s: x * F.lit(n_c).cast("bigint") - s,
        )
        num = F.aggregate(
            t,
            F.lit(0).cast(dec38),
            lambda acc, tt: acc + tt.cast(dec38) * tt.cast(dec38),
        )
        dist2 = num.cast("double") / F.lit(float(n_c) * float(n_c))
        cand_structs.append(
            F.struct(
                dist2.alias("dist2"),
                F.lit(lab).cast("bigint").alias("clabel"),
                num.alias("num"),
            )
        )
    if not cand_structs:  # empty input: keep the schema, emit no rows
        cand_structs = [
            F.struct(
                F.lit(None).cast("double").alias("dist2"),
                F.lit(None).cast("bigint").alias("clabel"),
                F.lit(None).cast(dec38).alias("num"),
            )
        ]
    best = F.array_min(F.array(*cand_structs))
    v = pin(
        base.select(
            "vec_id",
            "qv",
            best["clabel"].alias("cell_id"),
            best["num"].alias("num"),
        )
        .withColumn(
            "n2",
            F.expr("aggregate(qv, 0L, (acc, x) -> acc + x * x)"),
        )
    )
    a, b = v.alias("a"), v.alias("b")
    dot = F.expr(
        "aggregate(zip_with(a.qv, b.qv, (x, y) -> x * y), 0L,"
        " (acc, x) -> acc + x)"
    )
    dec38 = "decimal(38,0)"
    pairs = (
        a.join(
            b,
            (F.col("a.cell_id") == F.col("b.cell_id"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            F.col("a.cell_id").alias("cell_id"),
            F.col("a.num").alias("num_a"),
            F.col("b.num").alias("num_b"),
            dot.alias("dot"),
            F.col("a.n2").alias("n2_a"),
            F.col("b.n2").alias("n2_b"),
        )
        .filter(
            (F.col("dot") > 0)
            & (
                F.lit(_SD_TAU_DEN)
                * F.col("dot").cast(dec38)
                * F.col("dot").cast(dec38)
                >= F.lit(_SD_TAU_NUM)
                * F.col("n2_a").cast(dec38)
                * F.col("n2_b").cast(dec38)
            )
        )
        .withColumn(
            "cosine",
            F.round(
                F.col("dot").cast("double")
                / F.sqrt(
                    (
                        F.col("n2_a").cast(dec38) * F.col("n2_b").cast(dec38)
                    ).cast("double")
                ),
                6,
            ),
        )
    )
    a_keeps = (F.col("num_a") > F.col("num_b")) | (
        (F.col("num_a") == F.col("num_b")) & (F.col("id_a") < F.col("id_b"))
    )
    directed = pairs.select(
        "cell_id",
        F.when(a_keeps, F.col("id_b")).otherwise(F.col("id_a")).alias(
            "dropped_id"
        ),
        F.when(a_keeps, F.col("id_a")).otherwise(F.col("id_b")).alias(
            "kept_id"
        ),
        F.when(a_keeps, F.col("num_a")).otherwise(F.col("num_b")).alias(
            "num_kept"
        ),
        "cosine",
    )
    brn = F.row_number().over(
        W.partitionBy("dropped_id").orderBy(
            F.desc("num_kept"), F.asc("kept_id")
        )
    )
    res = (
        directed.withColumn("rn", brn)
        .filter(F.col("rn") == 1)
        .select(
            F.col("cell_id").cast("long").alias("cell_id"),
            F.col("dropped_id").cast("long").alias("dropped_id"),
            F.col("kept_id").cast("long").alias("kept_id"),
            "cosine",
        )
    )
    if with_assign:
        # expose the (already checkpointed) canonical assignment so
        # lifecycle compositions can derive the kept set and rebuilt
        # cells without recomputing the quantize/assign subtree
        return res, v
    return res


# ---------------------------------------------------------------------------
# SemDeDup streaming twin: in-flight semantic dedup vs a standing,
# batch-appended index (round 11).
# ---------------------------------------------------------------------------


def _sd_qv_sql(src_filter: str) -> str:
    """(vec_id, qv, n2) for embeddings rows matching src_filter."""
    return f"""(
  SELECT vec_id, qv,
         CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS n2
  FROM (
    SELECT vec_id,
           list_transform(embedding,
             x -> CAST(round(CAST(x AS DOUBLE) * {_SD_Q}) AS BIGINT)) AS qv
    FROM embeddings, tot WHERE {src_filter}
  ) t0
)"""


def _sd_assign_sql(src: str, out: str) -> str:
    """Assignment CTEs: {out} = (vec_id, cell_id) for relation {src}
    carrying (vec_id, qv), against the frozen `cent` relation."""
    return f"""qx_{out} AS (
  SELECT vec_id, generate_subscripts(qv, 1) AS dim, unnest(qv) AS xq
  FROM {src}
), dx_{out} AS (
  SELECT q.vec_id, c.clabel,
         CAST(SUM(CAST(q.xq * c.n - c.s AS DECIMAL(38,0))
                  * CAST(q.xq * c.n - c.s AS DECIMAL(38,0))) AS DOUBLE)
           / (CAST(MIN(c.n) AS DOUBLE) * MIN(c.n)) AS dist2
  FROM qx_{out} q JOIN cent c ON c.dim = q.dim
  GROUP BY q.vec_id, c.clabel
), {out} AS (
  SELECT vec_id, clabel AS cell_id FROM (
    SELECT vec_id, clabel,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY dist2, clabel) AS rn
    FROM dx_{out}
  ) r WHERE rn = 1
)"""


def _sd_screen_sql(e: int, v: str, idx: str) -> str:
    """Screening CTEs for epoch {e}: dispositions d{e} and survivor
    set s{e} of relation {v} against index {idx}."""
    return f"""h{e} AS (
  SELECT v.vec_id, i.vec_id AS idx_id,
         CAST(list_sum(list_transform(range(1, len(v.qv) + 1),
              k -> v.qv[k] * i.qv[k])) AS BIGINT) AS dot,
         v.n2 AS n2a, i.n2 AS n2b
  FROM {v} v JOIN {idx} i ON i.cell_id = v.cell_id
), hd{e} AS (
  SELECT vec_id, idx_id,
         round(CAST(dot AS DOUBLE)
               / sqrt(CAST(CAST(n2a AS HUGEINT) * n2b AS DOUBLE)), 6)
           AS cosine
  FROM h{e}
  WHERE dot > 0
    AND {_SD_TAU_DEN} * CAST(dot AS HUGEINT) * dot
        >= {_SD_TAU_NUM} * CAST(n2a AS HUGEINT) * n2b
), pv{e} AS (
  SELECT vec_id, CAST(n_index_dups AS BIGINT) AS n_index_dups,
         idx_id AS nearest_dup_id, cosine AS nearest_cosine
  FROM (
    SELECT vec_id, idx_id, cosine,
           COUNT(*) OVER (PARTITION BY vec_id) AS n_index_dups,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY cosine DESC, idx_id) AS rn
    FROM hd{e}
  ) r WHERE rn = 1
), d{e} AS (
  SELECT v.vec_id, CAST({e} AS INTEGER) AS epoch, v.cell_id,
         COALESCE(pv.n_index_dups, 0) AS n_index_dups,
         COALESCE(pv.n_index_dups, 0) > 0 AS dropped,
         pv.nearest_dup_id, pv.nearest_cosine
  FROM {v} v LEFT JOIN pv{e} pv USING (vec_id)
), s{e} AS (
  SELECT v.vec_id, v.cell_id, v.qv, v.n2
  FROM {v} v LEFT JOIN pv{e} p USING (vec_id)
  WHERE p.vec_id IS NULL
)"""


_SEMDEDUP_STREAM_ORACLE = (
    """
WITH tot AS (
  SELECT (MAX(vec_id) + 1) // 3 AS t1 FROM embeddings
),
canon0 AS (
  SELECT MIN(vec_id) AS vec_id, arg_min(label, vec_id) AS label, embedding
  FROM embeddings, tot WHERE vec_id < t1 GROUP BY embedding
),
qcan AS (
  SELECT vec_id, label,
         list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * """ + str(_SD_Q) + """)
                AS BIGINT)) AS qv
  FROM canon0
),
cent AS (
  SELECT label AS clabel, dim, CAST(SUM(xq) AS BIGINT) AS s,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM (
    SELECT label, generate_subscripts(qv, 1) AS dim, unnest(qv) AS xq
    FROM qcan
  ) q GROUP BY label, dim
),
bc AS (
  SELECT vec_id, qv,
         CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS n2
  FROM qcan
),
"""
    + _sd_assign_sql("bc", "ac")
    + """,
idxbase AS (
  SELECT b.vec_id, a.cell_id, b.qv, b.n2
  FROM bc b JOIN ac a USING (vec_id)
),
b0 AS """
    + _sd_qv_sql("vec_id >= t1 AND vec_id < 2 * t1")
    + ",\n"
    + _sd_assign_sql("b0", "a0")
    + """,
v0 AS (
  SELECT b.vec_id, b.qv, b.n2, a.cell_id FROM b0 b JOIN a0 a USING (vec_id)
),
"""
    + _sd_screen_sql(0, "v0", "idxbase")
    + """,
idx1 AS (
  SELECT * FROM idxbase UNION ALL SELECT * FROM s0
),
b1 AS """
    + _sd_qv_sql("vec_id >= 2 * t1")
    + ",\n"
    + _sd_assign_sql("b1", "a1")
    + """,
v1 AS (
  SELECT b.vec_id, b.qv, b.n2, a.cell_id FROM b1 b JOIN a1 a USING (vec_id)
),
"""
    + _sd_screen_sql(1, "v1", "idx1")
    + """
SELECT vec_id, epoch, cell_id, n_index_dups, dropped, nearest_dup_id,
       nearest_cosine
FROM d0
UNION ALL
SELECT vec_id, epoch, cell_id, n_index_dups, dropped, nearest_dup_id,
       nearest_cosine
FROM d1
"""
)


@register(
    "dedup_semdedup_stream",
    oracle=_SEMDEDUP_STREAM_ORACLE,
    tags=("llm", "dedup", "similarity", "streaming"),
)
def dedup_semdedup_stream(spark, sf_dir):
    """IN-FLIGHT SemDeDup through the REAL checkpointed foreachBatch
    drive (streaming/semdedup.py — the r10 substring/Bloom promotion
    pattern applied to VERDICT r10 task #6): the first third of the
    embedding corpus is SemDeDup-canonicalized into a STANDING index
    (frozen exact-integer centroids + per-cell quantized rows, landed
    epoch -1); the remaining vectors arrive as TWO id-ordered parquet
    micro-batches (maxFilesPerTrigger=1), each assigned map-side
    against the broadcast centroids, probing ONLY its own cell, with
    the all-integer tau decision; survivors APPEND to the index under
    their epoch, so batch 1 screens against batch 0's survivors — a
    lost append or a replay double-write shows up one epoch later in
    the driver hash. Corpus-wins precedence at ingest; within-batch
    peers both survive (resolved by the batch-mode operator) — both
    rules replayed exactly by the oracle, which unrolls build + two
    screen epochs in SQL and never sees the stream. Parquet staging
    (not JSON) so float embeddings round-trip bit-exactly."""
    import os

    from ..streaming.semdedup import semdedup_stream

    e = load_table(spark, sf_dir, "embeddings")
    mx = e.agg(F.max("vec_id")).collect()[0][0]
    if mx is None:
        raise ValueError("embeddings table is empty: cannot batch the drive")
    t1 = max(1, (int(mx) + 1) // 3)
    corpus = e.filter(F.col("vec_id") < t1)
    arriving = e.filter(F.col("vec_id") >= t1)
    work = ephemeral_dir("semdedup_stream_")
    data_dir = stage_batches(
        arriving.select("vec_id", "embedding", "label")
        .withColumn("__b", F.when(F.col("vec_id") < 2 * t1, 0).otherwise(1)),
        "__b",
        work,
        "parquet",
    )
    stream = (
        spark.readStream.schema(
            "vec_id long, embedding array<float>, label int"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(data_dir)
    )
    out_dir = os.path.join(work, "out")
    q = semdedup_stream(
        stream,
        corpus,
        out_dir,
        os.path.join(work, "index"),
        os.path.join(work, "ckpt"),
    ).start()
    await_done(q, 600)
    return spark.read.schema(
        "vec_id long, cell_id long, n_index_dups long, dropped boolean,"
        " nearest_dup_id long, nearest_cosine double, epoch int"
    ).parquet(out_dir).select(
        "vec_id",
        "epoch",
        "cell_id",
        "n_index_dups",
        "dropped",
        "nearest_dup_id",
        "nearest_cosine",
    )


# ---------------------------------------------------------------------------
# SemDeDup x IVF lifecycle: frozen-centroid ingest vs full re-centroid
# rebuild (round 12 — VERDICT r11 task #4).
# ---------------------------------------------------------------------------


def _sd_frozen_screen_sql() -> str:
    """Frozen-path CTEs (fz_ prefix): standing index built on the base
    corpus (vec_id % 10 != 0) exactly like streaming/semdedup.py's
    build_standing_index, then the batch (vec_id % 10 = 0) screened
    against it exactly like screen_batch — clone-collapse on the base
    side only, exact-integer centroid assignment, all-integer tau
    decision."""
    tpl_assign = """qx_{o} AS (
  SELECT vec_id, generate_subscripts(qv, 1) AS dim, unnest(qv) AS xq
  FROM {src}
), dx_{o} AS (
  SELECT q.vec_id, c.clabel,
         CAST(SUM(CAST(q.xq * c.n - c.s AS DECIMAL(38,0))
                  * CAST(q.xq * c.n - c.s AS DECIMAL(38,0))) AS DOUBLE)
           / (CAST(MIN(c.n) AS DOUBLE) * MIN(c.n)) AS dist2
  FROM qx_{o} q JOIN fz_cent c ON c.dim = q.dim
  GROUP BY q.vec_id, c.clabel
), {o} AS (
  SELECT vec_id, clabel AS cell_id FROM (
    SELECT vec_id, clabel,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY dist2, clabel) AS rn
    FROM dx_{o}
  ) r WHERE rn = 1
)"""
    return (
        f"""fz_canon AS (
  SELECT MIN(vec_id) AS vec_id, arg_min(label, vec_id) AS label,
         embedding
  FROM embeddings WHERE vec_id % 10 <> 0 GROUP BY embedding
),
fz_qcan AS (
  SELECT vec_id, label,
         list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * {_SD_Q}) AS BIGINT)) AS qv
  FROM fz_canon
),
fz_cent AS (
  SELECT label AS clabel, dim, CAST(SUM(xq) AS BIGINT) AS s,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM (SELECT label, generate_subscripts(qv, 1) AS dim, unnest(qv) AS xq
        FROM fz_qcan) q0
  GROUP BY label, dim
),
fz_bc AS (
  SELECT vec_id, qv,
         CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS n2
  FROM fz_qcan
),
"""
        + tpl_assign.format(o="fz_ai", src="fz_bc")
        + """,
fz_idx AS (
  SELECT b.vec_id, a.cell_id, b.qv, b.n2
  FROM fz_bc b JOIN fz_ai a USING (vec_id)
),
fz_b AS (
  SELECT vec_id, qv,
         CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS n2
  FROM (
    SELECT vec_id,
           list_transform(embedding,
             x -> CAST(round(CAST(x AS DOUBLE) * """
        + str(_SD_Q)
        + """) AS BIGINT)) AS qv
    FROM embeddings WHERE vec_id % 10 = 0
  ) t0
),
"""
        + tpl_assign.format(o="fz_ab", src="fz_b")
        + f""",
fz_v AS (
  SELECT b.vec_id, b.qv, b.n2, a.cell_id
  FROM fz_b b JOIN fz_ab a USING (vec_id)
),
fz_h AS (
  SELECT v.vec_id, i.vec_id AS idx_id,
         CAST(list_sum(list_transform(range(1, len(v.qv) + 1),
              k -> v.qv[k] * i.qv[k])) AS BIGINT) AS dot,
         v.n2 AS n2a, i.n2 AS n2b
  FROM fz_v v JOIN fz_idx i ON i.cell_id = v.cell_id
),
fz_hd AS (
  SELECT vec_id, idx_id FROM fz_h
  WHERE dot > 0
    AND {_SD_TAU_DEN} * CAST(dot AS HUGEINT) * dot
        >= {_SD_TAU_NUM} * CAST(n2a AS HUGEINT) * n2b
),
fz_pv AS (
  SELECT vec_id, CAST(COUNT(*) AS BIGINT) AS n_index_dups
  FROM fz_hd GROUP BY vec_id
)"""
    )


# The unscoped SemDeDup CTE chain (canon .. best) sliced from the batch
# operator's oracle — anchor-asserted so oracle drift fails loudly.
_SD_HEAD0 = "\nWITH "
_SD_TAIL0 = "\nSELECT CAST(cell_id AS BIGINT) AS cell_id,"
assert _SEMDEDUP_ORACLE.startswith(_SD_HEAD0) and _SD_TAIL0 in _SEMDEDUP_ORACLE
_SD_CTES_PLAIN = _SEMDEDUP_ORACLE[
    len(_SD_HEAD0) : _SEMDEDUP_ORACLE.index(_SD_TAIL0)
]

_SD_MAINT_ORACLE = (
    "\nWITH "
    + _sd_frozen_screen_sql()
    + ",\n"
    + _SD_CTES_PLAIN
    + """,
rb_drop AS (SELECT DISTINCT dropped_id AS vec_id FROM best WHERE rn = 1),
rb_kept AS (
  SELECT vec_id FROM v
  WHERE vec_id NOT IN (SELECT vec_id FROM rb_drop)
),
rb_nbase AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_base_dropped_rebuild
  FROM (SELECT vec_id FROM embeddings WHERE vec_id % 10 <> 0) b
  WHERE b.vec_id NOT IN (SELECT vec_id FROM rb_kept)
)
SELECT f.vec_id,
       CAST(f.cell_id AS BIGINT) AS cell_frozen,
       CAST(COALESCE(rv.cell_id, -1) AS BIGINT) AS cell_rebuild,
       COALESCE(p.n_index_dups, 0) AS n_index_dups_frozen,
       COALESCE(p.n_index_dups, 0) > 0 AS dropped_frozen,
       f.vec_id NOT IN (SELECT vec_id FROM rb_kept) AS dropped_rebuild,
       (SELECT n_base_dropped_rebuild FROM rb_nbase)
         AS n_base_dropped_rebuild
FROM fz_v f
LEFT JOIN fz_pv p USING (vec_id)
LEFT JOIN (SELECT vec_id, cell_id FROM v) rv USING (vec_id)
"""
)


@register(
    "dedup_semdedup_recentroid_maintenance",
    oracle=_SD_MAINT_ORACLE,
    tags=("llm", "dedup", "similarity", "ivf"),
)
def dedup_semdedup_recentroid_maintenance(spark, sf_dir):
    """SemDeDup x IVF LIFECYCLE composition (VERDICT r11 task #4): the
    streaming ingest twin freezes corpus centroids at build time
    (streaming/semdedup.py build_standing_index); production
    re-centroids as the corpus grows. This maintenance query runs BOTH
    paths on the same 90/10 split the IVF append lifecycle uses
    (sim_ivf_index_append_recall: base = vec_id % 10 != 0, batch =
    vec_id % 10 = 0) and pins their per-vector agreement:

      FROZEN path — standing index + centroids built on the base
      corpus, the batch screened against it exactly like the
      checkpointed ingest drive (corpus-wins precedence, within-batch
      peers both survive);
      REBUILD path — centroids recomputed on the GROWN corpus and the
      full batch-mode prune re-run from scratch, the paper-faithful
      keep-the-atypical rule preserved (Abbas et al. 2023 — at rebuild
      a BASE member can lose to a more-atypical batch arrival, the
      asymmetry the frozen path can never produce).

    One row per batch vector: frozen vs rebuilt cell assignment (cell
    drift under re-centroiding), frozen in-cell dup count, and both
    drop decisions; n_base_dropped_rebuild rides along as the pinned
    count of base members the rebuild evicts (identically 0 under the
    frozen path by construction). This is the quantitative form of
    'centroid staleness costs keep-rule fidelity, not correctness' —
    the alarm that says when the periodic re-centroid is due, the
    embedding-space twin of sim_ivf_index_append_recall's
    append_within_010_of_rebuild contract.

    Scale: both paths are the already-probed operators — broadcast
    centroids, map-side assignment, within-cell equi-joins; the
    comparison adds two bounded id-set joins. The DuckDB oracle
    replays BOTH paths end-to-end (frozen build + screen via the
    fz_ CTE chain; rebuild via the batch operator's full fragment)."""
    from ..streaming.semdedup import build_standing_index, screen_batch

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.filter(F.pmod(F.col("vec_id"), F.lit(10)) != 0)
    batch = emb.filter(F.pmod(F.col("vec_id"), F.lit(10)) == 0)

    # The FROZEN path (standing-index build + screen) and the REBUILD
    # path (full re-prune) are independent job chains whose eager pins
    # otherwise serialize: overlap them on two driver threads (guide
    # §2.6 — the scheduler back-fills each chain's stragglers with the
    # other's tasks). Values are unaffected; both paths are exact.
    def _frozen():
        cent, idx = build_standing_index(base)
        cent = pin(cent)
        idx = pin(idx)
        return screen_batch(batch, cent, idx)[0]

    def _rebuild():
        pruned, assign_v = semdedup_prune_pairs(emb, with_assign=True)
        kept = pin(
            assign_v.select("vec_id")
            .join(
                pruned.select(F.col("dropped_id").alias("vec_id")).distinct(),
                "vec_id",
                "left_anti",
            )
        )
        return pruned, assign_v, kept

    disp, (pruned, assign_v, kept) = overlap(_frozen, _rebuild)
    n_base_dropped = (
        base.select("vec_id")
        .join(kept, "vec_id", "left_anti")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_base_dropped_rebuild")
        )
    )
    return (
        disp.select(
            "vec_id",
            F.col("cell_id").cast("long").alias("cell_frozen"),
            F.col("n_index_dups").cast("long").alias("n_index_dups_frozen"),
            F.col("dropped").alias("dropped_frozen"),
        )
        .join(
            assign_v.select(
                "vec_id", F.col("cell_id").cast("long").alias("cell_rebuild")
            ),
            "vec_id",
            "left",
        )
        .withColumn(
            "cell_rebuild", F.coalesce("cell_rebuild", F.lit(-1))
        )
        .join(kept.withColumn("__kept", F.lit(1)), "vec_id", "left")
        .withColumn("dropped_rebuild", F.col("__kept").isNull())
        .drop("__kept")
        .crossJoin(F.broadcast(n_base_dropped))
        .select(
            "vec_id",
            "cell_frozen",
            "cell_rebuild",
            "n_index_dups_frozen",
            "dropped_frozen",
            "dropped_rebuild",
            "n_base_dropped_rebuild",
        )
    )
