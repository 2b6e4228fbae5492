"""Keyword retrieval over the documents corpus: BM25 scoring and
inverted-index statistics — the search-side complement of the
similarity-search operators (ANN finds near vectors; BM25 finds
keyword-relevant docs, e.g. for targeted corpus audits or RAG-style
retrieval over a training corpus).

Reference parity: the reference (thanminh24/CDC_POC) has no retrieval
surface; these extend the engine per the north-star brief. Both queries
are oracle-checked against DuckDB (identical closed-form math, rounded).

Scale design: BM25 for a FIXED query term set needs no inverted index —
per-term tf is a per-row array filter (zero shuffle), and the corpus
stats (N, avgdl, per-term df) are one map-side-combinable aggregate
broadcast back to the scan. Top-k compiles to TakeOrderedAndProject
(per-partition heaps, k rows to the driver side of the sort — no global
sort). The inverted-index query is the AD-HOC-query path: one explode +
one keyed agg, the posting-list shape a search deployment materializes
once and reuses."""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators.scale import spread
from ..tables import load_table
from . import register

#: fixed retrieval query (terms exist in the synthetic vocabulary)
_QUERY_TERMS = ("spark", "table", "scan")
_K1 = 1.2
_B = 0.75
_TOPK = 10


_BM25_ORACLE = f"""
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
base AS (
  SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl,
         {", ".join(f"CAST(len(list_filter(toks, x -> x = '{t}')) AS DOUBLE) AS tf_{i}" for i, t in enumerate(_QUERY_TERMS))}
  FROM d
),
stats AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n, AVG(dl) AS avgdl,
         {", ".join(f"CAST(SUM(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_{i}" for i in range(len(_QUERY_TERMS)))}
  FROM base
),
scored AS (
  SELECT b.doc_id,
         round(
           {" + ".join(
               f"ln(1 + (s.n - s.df_{i} + 0.5) / (s.df_{i} + 0.5))"
               f" * b.tf_{i} * ({_K1} + 1)"
               f" / (b.tf_{i} + {_K1} * (1 - {_B} + {_B} * b.dl / s.avgdl))"
               for i in range(len(_QUERY_TERMS))
           )}, 5) AS bm25
  FROM base b CROSS JOIN stats s
)
SELECT doc_id, bm25 FROM scored WHERE bm25 > 0
ORDER BY bm25 DESC, doc_id LIMIT {_TOPK}
"""


@register("text_bm25_topk", oracle=_BM25_ORACLE, tags=("llm", "text", "retrieval"))
def text_bm25_topk(spark, sf_dir):
    """BM25 top-k retrieval for a fixed term query (k1=1.2, b=0.75,
    Lucene-style idf = ln(1 + (N-df+0.5)/(df+0.5))). Per-term tf is a
    per-row array filter on the main scan (no explode, no shuffle);
    corpus stats (N, avgdl, per-term df) are ONE map-side-combinable
    aggregate whose single row broadcasts back onto the scan; the
    result is orderBy+limit = TakeOrderedAndProject. A 100 TB corpus
    costs two scans (stats, score) and moves k rows."""
    docs = load_table(spark, sf_dir, "documents")
    base = spread(docs).select(
        "doc_id",
        F.size(F.split("text", " ")).cast("double").alias("dl"),
        *[
            F.size(F.expr(f"filter(split(text, ' '), x -> x = '{t}')"))
            .cast("double")
            .alias(f"tf_{i}")
            for i, t in enumerate(_QUERY_TERMS)
        ],
    )
    stats = base.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum(F.when(F.col(f"tf_{i}") > 0, 1).otherwise(0))
            .cast("double")
            .alias(f"df_{i}")
            for i in range(len(_QUERY_TERMS))
        ],
    )
    contrib = [
        F.log(
            1
            + (F.col("n") - F.col(f"df_{i}") + 0.5) / (F.col(f"df_{i}") + 0.5)
        )
        * F.col(f"tf_{i}")
        * (_K1 + 1)
        / (F.col(f"tf_{i}") + _K1 * (1 - _B + _B * F.col("dl") / F.col("avgdl")))
        for i in range(len(_QUERY_TERMS))
    ]
    score = F.round(sum(contrib[1:], contrib[0]), 5)
    return (
        base.crossJoin(F.broadcast(stats))
        .select("doc_id", score.alias("bm25"))
        .filter(F.col("bm25") > 0)
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(_TOPK)
    )


_INVIDX_ORACLE = """
WITH t AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
p AS (
  SELECT term,
         CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS doc_freq,
         CAST(COUNT(*) AS BIGINT) AS coll_freq,
         MIN(doc_id) AS first_doc
  FROM t WHERE term <> '' GROUP BY term
)
SELECT term, doc_freq, coll_freq, first_doc
FROM p
ORDER BY doc_freq DESC, term LIMIT 50
"""


@register("text_inverted_index_stats", oracle=_INVIDX_ORACLE, tags=("llm", "text", "retrieval"))
def text_inverted_index_stats(spark, sf_dir):
    """Inverted-index vital signs: per-term document frequency,
    collection frequency, and first posting — the dictionary page of a
    posting-list build, and the df source an ad-hoc BM25 would join
    against. One explode + one term-keyed agg (map-side combinable:
    partial (df-bitmapless count-distinct via per-doc distinctness,
    coll count) per partition), then TakeOrdered 50. At 100 TB the
    posting lists themselves would be written bucketed by term; the
    stats query shape is unchanged."""
    docs = load_table(spark, sf_dir, "documents")
    toks = (
        spread(docs)
        .select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .filter(F.col("term") != "")
    )
    return (
        toks.groupBy("term")
        .agg(
            F.count_distinct("doc_id").alias("doc_freq"),
            F.count(F.lit(1)).alias("coll_freq"),
            F.min("doc_id").alias("first_doc"),
        )
        .orderBy(F.desc("doc_freq"), F.asc("term"))
        .limit(50)
    )


# ---------------------------------------------------------------------------
# Keyword-in-context concordance (round 5)
# ---------------------------------------------------------------------------

#: "merge" occurs ~900x at sf0.01 (mid-frequency). The original term
#: ("shuffle") appears in NO fixture at any SF, so the oracle hashed an
#: EMPTY result — green, but unable to discriminate a broken position/
#: slice computation from a working one. Same gate-honesty rule as the
#: jittered arrival order in queries/profiling.py.
_KWIC_TERM = "merge"
_KWIC_CTX = 3

_KWIC_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
), hits AS (
  SELECT doc_id, ws,
         unnest(list_filter(range(1, len(ws) + 1), i -> ws[i] = '{_KWIC_TERM}'))
           AS pos
  FROM toks
)
SELECT doc_id, CAST(pos AS BIGINT) AS pos,
       COALESCE(array_to_string(ws[GREATEST(pos - {_KWIC_CTX}, 1) : pos - 1], ' '), '')
         AS left_ctx,
       COALESCE(array_to_string(ws[pos + 1 : pos + {_KWIC_CTX}], ' '), '')
         AS right_ctx
FROM hits
"""


@register("text_keyword_in_context", oracle=_KWIC_ORACLE, tags=("llm", "text", "retrieval"))
def text_keyword_in_context(spark, sf_dir):
    """KWIC concordance: every occurrence of a term with its +-3-word
    context window — the inspection query behind corpus linguistics and
    behind "show me how the corpus uses this token" debugging of
    tokenizer/quality pipelines. Pure map-side: tokenize, filter match
    positions (a lambda over the position range — no explode of
    non-matching tokens), slice the context per hit. The only shuffle
    is whatever the consumer adds; output is |occurrences| rows. 1-based
    positions to match the SQL side exactly."""
    docs = load_table(spark, sf_dir, "documents")
    c = _KWIC_CTX
    return docs.select(
        "doc_id",
        F.split("text", " ").alias("ws"),
    ).select(
        "doc_id",
        F.explode(
            F.expr(
                f"filter(sequence(1, size(ws)),"
                f" i -> element_at(ws, i) = '{_KWIC_TERM}')"
            )
        ).alias("pos"),
        "ws",
    ).select(
        "doc_id",
        F.col("pos").cast("long").alias("pos"),
        F.expr(
            f"array_join(slice(ws, greatest(pos - {c}, 1),"
            f" pos - greatest(pos - {c}, 1)), ' ')"
        ).alias("left_ctx"),
        F.expr(f"array_join(slice(ws, pos + 1, {c}), ' ')").alias("right_ctx"),
    )


# ---------------------------------------------------------------------------
# Round-8: hybrid retrieval — reciprocal rank fusion of the lexical
# (BM25) and dense (embedding-cosine) rankings.
# ---------------------------------------------------------------------------

_RRF_K = 60  # the standard RRF damping constant (Cormack et al. SIGIR'09)
_RRF_LIST = 20  # fuse the top-20 of each ranking
_RRF_OUT = 10

_RRF_ORACLE = f"""
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
base AS (
  SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl,
         {", ".join(f"CAST(len(list_filter(toks, x -> x = '{t}')) AS DOUBLE) AS tf_{i}" for i, t in enumerate(_QUERY_TERMS))}
  FROM d
),
stats AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n, AVG(dl) AS avgdl,
         {", ".join(f"CAST(SUM(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_{i}" for i in range(len(_QUERY_TERMS)))}
  FROM base
),
bm AS (
  SELECT doc_id,
         round(
           {" + ".join(
               f"ln(1 + (s.n - s.df_{i} + 0.5) / (s.df_{i} + 0.5))"
               f" * b.tf_{i} * ({_K1} + 1)"
               f" / (b.tf_{i} + {_K1} * (1 - {_B} + {_B} * b.dl / s.avgdl))"
               for i in range(len(_QUERY_TERMS))
           )}, 5) AS bm25
  FROM base b CROSS JOIN stats s
),
bmr AS (
  SELECT doc_id, CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS BIGINT) AS r
  FROM bm WHERE bm25 > 0
  ORDER BY bm25 DESC, doc_id LIMIT {_RRF_LIST}
),
e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
  FROM embeddings
),
n AS (
  SELECT vec_id, vec, sqrt(list_sum(list_transform(vec, x -> x * x))) AS vnorm
  FROM e
),
cosd AS (
  SELECT c.vec_id AS doc_id,
         round(list_sum(list_transform(range(1, len(q.vec) + 1),
                        i -> q.vec[i] * c.vec[i])) / (q.vnorm * c.vnorm), 5)
           AS cosine
  FROM n q, n c
  WHERE q.vec_id = 0 AND c.vec_id <> 0
),
cor AS (
  SELECT doc_id, CAST(row_number() OVER (ORDER BY cosine DESC, doc_id) AS BIGINT) AS r
  FROM cosd ORDER BY cosine DESC, doc_id LIMIT {_RRF_LIST}
),
fused AS (
  SELECT COALESCE(bmr.doc_id, cor.doc_id) AS doc_id,
         round(COALESCE(1.0 / ({_RRF_K} + bmr.r), 0)
               + COALESCE(1.0 / ({_RRF_K} + cor.r), 0), 6) AS rrf_score,
         bmr.r AS bm25_rank, cor.r AS cosine_rank
  FROM bmr FULL OUTER JOIN cor ON bmr.doc_id = cor.doc_id
)
SELECT doc_id, rrf_score, bm25_rank, cosine_rank,
       CAST(row_number() OVER (ORDER BY rrf_score DESC, doc_id) AS BIGINT) AS rank
FROM fused ORDER BY rrf_score DESC, doc_id LIMIT {_RRF_OUT}
"""


@register("text_hybrid_rrf_fusion", oracle=_RRF_ORACLE, tags=("llm", "text", "retrieval", "similarity"))
def text_hybrid_rrf_fusion(spark, sf_dir):
    """HYBRID retrieval via reciprocal rank fusion (Cormack, Clarke &
    Buettcher SIGIR'09): fuse the lexical BM25 top-20 (the fixed term
    query) with the dense embedding-cosine top-20 (query anchor =
    vec_id 0's embedding — the fixtures align doc_id and vec_id) as
    score(d) = sum over lists of 1/(60 + rank_list(d)), absent lists
    contributing 0 — the fusion every hybrid search deployment runs
    because it needs NO score calibration between BM25's unbounded
    scale and cosine's [-1, 1]. Determinism: both input rankings are
    rounded-then-tiebroken (the engine convention), RRF works on RANKS
    only, the fused score is a sum of two exact reciprocals rounded at
    6. Plan/scale: each ranking is its established sub-linear shape
    (BM25: two scans + TakeOrderedAndProject; cosine: broadcast query
    x one corpus scan); the fusion itself joins two 20-row relations —
    free at any corpus size."""
    from ..operators import similarity
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    base = spread(docs).select(
        "doc_id",
        F.size(F.split("text", " ")).cast("double").alias("dl"),
        *[
            F.size(F.expr(f"filter(split(text, ' '), x -> x = '{t}')"))
            .cast("double")
            .alias(f"tf_{i}")
            for i, t in enumerate(_QUERY_TERMS)
        ],
    )
    stats = base.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum(F.when(F.col(f"tf_{i}") > 0, 1).otherwise(0))
            .cast("double")
            .alias(f"df_{i}")
            for i in range(len(_QUERY_TERMS))
        ],
    )
    contrib = [
        F.log(
            1
            + (F.col("n") - F.col(f"df_{i}") + 0.5) / (F.col(f"df_{i}") + 0.5)
        )
        * F.col(f"tf_{i}")
        * (_K1 + 1)
        / (F.col(f"tf_{i}") + _K1 * (1 - _B + _B * F.col("dl") / F.col("avgdl")))
        for i in range(len(_QUERY_TERMS))
    ]
    score = F.round(sum(contrib[1:], contrib[0]), 5)
    bmr = (
        base.crossJoin(F.broadcast(stats))
        .select("doc_id", score.alias("bm25"))
        .filter(F.col("bm25") > 0)
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(_RRF_LIST)
        .select(
            "doc_id",
            F.row_number()
            .over(W.orderBy(F.desc("bm25"), F.asc("doc_id")))
            .cast("long")
            .alias("bm25_rank"),
        )
    )
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id", similarity.as_double("embedding").alias("vec")
    ).withColumn("vnorm", similarity.norm("vec"))
    qv = e.filter(F.col("vec_id") == 0).select(
        F.col("vec").alias("qvec"), F.col("vnorm").alias("qnorm")
    )
    cos = F.round(
        similarity.dot("qvec", "vec") / (F.col("qnorm") * F.col("vnorm")), 5
    ).alias("cosine")
    cor = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qv))
        .select(F.col("vec_id").alias("doc_id"), cos)
        .orderBy(F.desc("cosine"), F.asc("doc_id"))
        .limit(_RRF_LIST)
        .select(
            "doc_id",
            F.row_number()
            .over(W.orderBy(F.desc("cosine"), F.asc("doc_id")))
            .cast("long")
            .alias("cosine_rank"),
        )
    )
    fused = bmr.join(cor, "doc_id", "full_outer").select(
        "doc_id",
        F.round(
            F.coalesce(1.0 / (_RRF_K + F.col("bm25_rank")), F.lit(0.0))
            + F.coalesce(1.0 / (_RRF_K + F.col("cosine_rank")), F.lit(0.0)),
            6,
        ).alias("rrf_score"),
        "bm25_rank",
        "cosine_rank",
    )
    return (
        fused.orderBy(F.desc("rrf_score"), F.asc("doc_id"))
        .limit(_RRF_OUT)
        .select(
            "doc_id",
            "rrf_score",
            "bm25_rank",
            "cosine_rank",
            F.row_number()
            .over(W.orderBy(F.desc("rrf_score"), F.asc("doc_id")))
            .cast("long")
            .alias("rank"),
        )
    )
