"""Round-9 driver-contract wrappers — continuation of llm_ops.py
(split at ~3.9k lines): LLM-data-pipeline operators over the documents
and embeddings fixtures, each with a DuckDB oracle unless structurally
rows-only. The reference (/root/reference, consumer.py:1-84) lands CDC
envelopes and has no corpus operators; this family is the north-star
addition designed for 100 TB (see each docstring's plan note).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import dedup, similarity
from ..operators.scale import pin
from ..sources.files import ephemeral_database, ephemeral_dir, stage_batches
from ..streaming import await_done
from ..tables import load_table
from . import register

# ---------------------------------------------------------------------------
# Cross-document EXACT substring dedup (Lee et al. 2022 ExactSubstr —
# VERDICT r8 task #2: the one classic dedup tier absent from the stack).
# ---------------------------------------------------------------------------

_COMMON_SUBSTRING_ORACLE = """
WITH c AS (
  SELECT MIN(doc_id) AS doc_id, MIN(text) AS text
  FROM documents GROUP BY md5(text)
), t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM c
), g AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         array_to_string(list_slice(toks, i, i + 7), ' ') AS gram
  FROM t, unnest(range(1, len(toks) - 6)) AS u(i)
), shared AS (
  SELECT gram FROM g GROUP BY gram
  HAVING COUNT(DISTINCT doc_id) BETWEEN 2 AND 50
), occ AS (
  SELECT g.* FROM g JOIN shared USING (gram)
), p AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.pos AS pa,
         a.pos - b.pos AS diag
  FROM occ a JOIN occ b USING (gram)
  WHERE a.doc_id < b.doc_id
), d AS (
  SELECT id_a, id_b, diag, pa,
         pa - row_number() OVER (PARTITION BY id_a, id_b, diag
                                 ORDER BY pa) AS grp
  FROM p
), runs AS (
  SELECT id_a, id_b, CAST(COUNT(*) + 7 AS BIGINT) AS span
  FROM d GROUP BY id_a, id_b, diag, grp
)
SELECT id_a, id_b,
       CAST(MAX(span) AS BIGINT) AS max_shared_span,
       CAST(COUNT(*) AS BIGINT) AS n_runs
FROM runs GROUP BY 1, 2
HAVING MAX(span) >= 16
"""


@register(
    "dedup_common_substring_pairs",
    oracle=_COMMON_SUBSTRING_ORACLE,
    tags=("llm", "dedup"),
)
def dedup_common_substring_pairs(spark, sf_dir):
    """Cross-document EXACT substring dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better" —
    ExactSubstr, the suffix-array tier): pairs of documents sharing a
    verbatim token run of >= 16 tokens, with the longest shared run
    and the number of maximal runs. Spark-natural shape instead of a
    suffix array: clone-collapse -> positional k-gram explode ->
    frequency-capped gram equi-join -> gaps-and-islands per (pair,
    position-diagonal) — every step a keyed shuffle, the window
    partitioned by (pair, diag). See
    operators/dedup.py:common_substring_pairs for the 100 TB variant
    (hashed gram keys). k=8, min_span=16, gram_doc_cap=50 in both
    engines; the cap is part of the operator's semantics (the
    boilerplate discipline every dedup tier here shares)."""
    return dedup.common_substring_pairs(
        load_table(spark, sf_dir, "documents"),
        k=8,
        min_span=16,
        gram_doc_cap=50,
    )

# ---------------------------------------------------------------------------
# OPQ — Optimized Product Quantization (VERDICT r8 task #4).
# ---------------------------------------------------------------------------

_OPQ_ORACLE = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_exact_pairs,
       TRUE AS distortion_monotone,
       TRUE AS opq_distortion_lt_residual,
       TRUE AS recall_gt_random_floor
FROM (
  WITH q AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings
  ), d AS (
    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
           round(sqrt(list_sum(list_transform(
             list_zip(a.v, b.v), p -> (p[1] - p[2]) * (p[1] - p[2])))), 5)
             AS l2_dist
    FROM q a JOIN q b ON a.vec_id < 10 AND a.vec_id <> b.vec_id
  ), r AS (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY l2_dist, neighbor_id) AS rank
    FROM d
  )
  SELECT query_id, neighbor_id FROM r WHERE rank <= 5
)
"""


@register("sim_ann_opq_topk", oracle=_OPQ_ORACLE, tags=("llm", "similarity", "ivf"))
def sim_ann_opq_topk(spark, sf_dir):
    """OPQ-rotated residual IVFADC (Ge et al., "Optimized Product
    Quantization for ANN Search", CVPR 2013 §3 non-parametric
    alternation, over the Jégou TPAMI'11 residual construction) — the
    remaining quality lever on the PQ stack after index/rerank/
    residual (VERDICT r8 task #4). Driver contracts pin what the
    algorithm PROVABLY delivers:

    (a) ``distortion_monotone`` — the per-iterate exact-integer
        quantization distortion is non-increasing across the OPQ-NP
        alternation (each half-step minimizes the same objective;
        iterate 0 is the unrotated residual-PQ codebook itself);
    (b) ``opq_distortion_lt_residual`` — the final rotated codebook's
        distortion is STRICTLY below residual-PQ's (measured -11% at
        both fixture SFs);
    (c) ``recall_gt_random_floor`` — end-to-end ADC recall above the
        0.25 random-scan floor on the same probes/candidates.

    Honesty note (PLANS.md r9): OPQ's guarantee is on distortion, not
    small-sample top-k recall — measured hits-of-50 are 26 vs 20
    (sf0.001) and 17 vs 20 (sf0.01) against the residual baseline,
    i.e. ±3 sampling noise at 50 query-neighbor slots, so a
    recall>=residual contract would pin noise, not the operator
    (the agg_anova_f lesson applied to contracts). Distortions are
    exact BIGINT relations under the driver hash, not driver-side
    floats; the rotation is identical under every shuffle layout
    because the Procrustes/PCA moments it is learned from are exact
    integer collects."""
    emb = load_table(spark, sf_dir, "embeddings")
    index = similarity.build_ivfpq_index(emb, pin=True)
    alt = similarity.opq_alternation(emb, index)
    exact = similarity.euclidean_topk(emb).select("query_id", "neighbor_id")
    opq = similarity.ivfpq_opq_topk(emb, index=index, alt=alt).select(
        "query_id", "neighbor_id"
    )
    hits = exact.join(opq, ["query_id", "neighbor_id"], "left_semi")
    d0, d1, d2 = (
        df.select(F.col("distortion").alias(f"d{i}"))
        for i, df in enumerate(alt["dists"])
    )
    return (
        exact.agg(F.count(F.lit(1)).alias("n_exact_pairs"))
        .crossJoin(hits.agg(F.count(F.lit(1)).alias("n_hits")))
        .crossJoin(d0).crossJoin(d1).crossJoin(d2)
        .select(
            "n_exact_pairs",
            (
                (F.col("d0") >= F.col("d1")) & (F.col("d1") >= F.col("d2"))
            ).alias("distortion_monotone"),
            (F.col("d2") < F.col("d0")).alias("opq_distortion_lt_residual"),
            (F.col("n_hits") / F.col("n_exact_pairs") > 0.25).alias(
                "recall_gt_random_floor"
            ),
        )
    )

# ---------------------------------------------------------------------------
# Text analysis — round-9 additions.
# ---------------------------------------------------------------------------

_MATTR_ORACLE = """
WITH t AS (
  SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents
), w AS (
  SELECT doc_id, source,
         list_transform(range(1, len(toks) - 18),
                        i -> len(list_distinct(list_slice(toks, i, i + 19))))
           AS wins
  FROM t WHERE len(toks) >= 20
)
SELECT doc_id, source,
       CAST(len(wins) AS BIGINT) AS n_windows,
       round(CAST(list_sum(wins) AS DOUBLE) / (len(wins) * 20), 6) AS mattr
FROM w
"""


@register("text_mattr_sliding_ttr", oracle=_MATTR_ORACLE, tags=("llm", "text", "quality"))
def text_mattr_sliding_ttr(spark, sf_dir):
    """MATTR — Moving-Average Type-Token Ratio (Covington & McFall,
    JQL 2010): mean distinct-token ratio over every sliding 20-token
    window of the document. The fixed window removes plain TTR's
    length bias (text_lexical_diversity carries the global variant),
    making scores comparable across docs — the repetition/diversity
    axis LLM quality filters threshold on. All JVM higher-order array
    ops per row (transform/sequence/slice/array_distinct — zero extra
    shuffle, zero Python); the mean is an exact integer sum over
    windows with ONE final division. Scale: per-row work is
    O(len * w); nothing joins."""
    docs = load_table(spark, sf_dir, "documents")
    w = 20
    return (
        docs.select(
            "doc_id", "source", F.split("text", " ").alias("toks")
        )
        .filter(F.size("toks") >= w)
        .select(
            "doc_id",
            "source",
            F.expr(
                f"transform(sequence(1, size(toks) - {w} + 1),"
                f" i -> size(array_distinct(slice(toks, i, {w}))))"
            ).alias("wins"),
        )
        .select(
            "doc_id",
            "source",
            F.size("wins").cast("long").alias("n_windows"),
            F.round(
                F.expr("aggregate(wins, 0L, (a, x) -> a + x)")
                / (F.size("wins") * w),
                6,
            ).alias("mattr"),
        )
    )


_ROUGE2_ORACLE = """
WITH c AS (
  SELECT MIN(doc_id) AS doc_id, MIN(text) AS text
  FROM documents GROUP BY md5(text)
), t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM c
), g AS (
  SELECT doc_id,
         array_to_string(list_slice(toks, i, i + 7), ' ') AS gram
  FROM t, unnest(range(1, len(toks) - 6)) AS u(i)
), shared AS (
  SELECT gram FROM g GROUP BY gram
  HAVING COUNT(DISTINCT doc_id) BETWEEN 2 AND 50
), pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM (SELECT g.* FROM g JOIN shared USING (gram)) a
  JOIN (SELECT g.* FROM g JOIN shared USING (gram)) b USING (gram)
  WHERE a.doc_id < b.doc_id
), b2 AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(toks)),
                       i -> toks[i] || ' ' || toks[i+1])) AS bg
  FROM t WHERE len(toks) >= 2
), scored AS (
  SELECT p.id_a, p.id_b,
         CAST(len(list_intersect(x.bg, y.bg)) AS BIGINT) AS n_common,
         CAST(len(x.bg) AS BIGINT) AS n_a,
         CAST(len(y.bg) AS BIGINT) AS n_b
  FROM pairs p
  JOIN b2 x ON x.doc_id = p.id_a
  JOIN b2 y ON y.doc_id = p.id_b
)
SELECT id_a, id_b, n_common, n_a, n_b,
       round(2.0 * n_common / (n_a + n_b), 6) AS rouge2_f1
FROM scored
WHERE 2.0 * n_common / (n_a + n_b) >= 0.2
"""


@register("text_rouge2_pairs", oracle=_ROUGE2_ORACLE, tags=("llm", "text", "dedup"))
def text_rouge2_pairs(spark, sf_dir):
    """ROUGE-2 (Lin, ACL-WS 2004) between candidate near-dup pairs:
    distinct-bigram overlap F1 = 2|A∩B| / (|A|+|B|) — the n-gram
    overlap EVAL metric run as a corpus operator (summary/paraphrase
    leakage detection between train and eval sets is this exact
    computation). Candidates come from the shared-8-gram relation
    (clone-collapsed, frequency-capped — the common-substring
    machinery's candidate stage), so the pair list is the capped
    equi-join, never all pairs; the bigram sets then ride one
    id-keyed join per side. Exact integer set sizes, one final
    division, F1 >= 0.2 keeps the output bounded."""
    docs = load_table(spark, sf_dir, "documents")
    k, cap = 8, 50
    collapsed = (
        docs.groupBy(F.md5("text").alias("_h"))
        .agg(F.min("doc_id").alias("doc_id"), F.min("text").alias("text"))
        .drop("_h")
    )
    toks = collapsed.select("doc_id", F.split("text", " ").alias("toks"))
    g = (
        toks.filter(F.size("toks") >= k)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(1, size(toks) - {k} + 1),"
                    f" i -> array_join(slice(toks, i, {k}), ' '))"
                )
            ).alias("gram"),
        )
    )
    shared = (
        g.groupBy("gram")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter((F.col("nd") >= 2) & (F.col("nd") <= cap))
        .select("gram")
    )
    occ = g.join(shared, "gram")
    pairs = (
        occ.select("gram", F.col("doc_id").alias("id_a"))
        .join(occ.select("gram", F.col("doc_id").alias("id_b")), "gram")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    b2 = toks.filter(F.size("toks") >= 2).select(
        "doc_id",
        F.array_distinct(
            F.expr(
                "transform(sequence(1, size(toks) - 1),"
                " i -> concat(toks[i - 1], ' ', toks[i]))"
            )
        ).alias("bg"),
    )
    scored = (
        pairs.join(
            b2.select(F.col("doc_id").alias("id_a"), F.col("bg").alias("ba")),
            "id_a",
        )
        .join(
            b2.select(F.col("doc_id").alias("id_b"), F.col("bg").alias("bb")),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("ba", "bb")).cast("long").alias("n_common"),
            F.size("ba").cast("long").alias("n_a"),
            F.size("bb").cast("long").alias("n_b"),
        )
    )
    f1 = F.lit(2.0) * F.col("n_common") / (F.col("n_a") + F.col("n_b"))
    return scored.filter(f1 >= 0.2).select(
        "id_a", "id_b", "n_common", "n_a", "n_b", F.round(f1, 6).alias("rouge2_f1")
    )


_EDITDIST_ORACLE = """
WITH c AS (
  SELECT MIN(doc_id) AS doc_id, MIN(text) AS text
  FROM documents GROUP BY md5(text)
), r AS (
  SELECT doc_id, text,
         row_number() OVER (ORDER BY text, doc_id) AS rnk
  FROM c
), p AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         levenshtein(a.text[:60], b.text[:60]) AS prefix_edit_dist
  FROM r a JOIN r b ON b.rnk - a.rnk BETWEEN 1 AND 3
)
SELECT id_a, id_b, CAST(prefix_edit_dist AS BIGINT) AS prefix_edit_dist
FROM p WHERE prefix_edit_dist <= 20
"""


@register("text_edit_distance_pairs", oracle=_EDITDIST_ORACLE, tags=("llm", "text", "dedup"))
def text_edit_distance_pairs(spark, sf_dir):
    """Levenshtein near-dup pairs over a SORTED NEIGHBORHOOD: docs are
    clone-collapsed, globally ordered by text (lexicographic sort
    groups shared-prefix docs adjacently), and each doc is compared
    only to its 3 successors — the Hernández-Stolfo SIGMOD'95 blocking
    applied to EDIT distance, the one string-similarity axis the
    token-set tiers (Jaccard/MinHash/SimHash) cannot see (they are
    order-blind; edit distance is order-sensitive). Distance runs on
    the 60-char prefix (the blocking key's locality), threshold 20.
    Scale shape: the global rank is the two-pass distributed rank
    (operators/scale.py:global_index, range repartition + offsets —
    never one window partition); neighbor pairing is 3 map-side rank
    shifts feeding equi-joins; levenshtein is one JVM expression per
    candidate."""
    from ..operators.scale import global_index

    docs = load_table(spark, sf_dir, "documents")
    collapsed = (
        docs.groupBy(F.md5("text").alias("_h"))
        .agg(F.min("doc_id").alias("doc_id"), F.min("text").alias("text"))
        .drop("_h")
    )
    ranked = global_index(collapsed, "rnk0", ["text", "doc_id"]).select(
        "doc_id", "text", (F.col("rnk0") + 1).alias("rnk")
    )
    a = ranked.select(
        F.col("doc_id").alias("id_a"),
        F.substring("text", 1, 60).alias("ta"),
        "rnk",
    )
    shifted = None
    for dlt in (1, 2, 3):
        s = a.select("id_a", "ta", (F.col("rnk") + dlt).alias("rnk"))
        shifted = s if shifted is None else shifted.unionByName(s)
    b = ranked.select(
        F.col("doc_id").alias("id_b"), F.substring("text", 1, 60).alias("tb"), "rnk"
    )
    return (
        shifted.join(b, "rnk")
        .select(
            "id_a",
            "id_b",
            F.levenshtein("ta", "tb").cast("long").alias("prefix_edit_dist"),
        )
        .filter(F.col("prefix_edit_dist") <= 20)
    )


_COOC_ORACLE = """
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), p AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos, toks[i] AS tok
  FROM t, unnest(range(1, len(toks) + 1)) AS u(i)
), co AS (
  SELECT a.tok AS tok_a, b.tok AS tok_b, COUNT(*) AS n_cooc
  FROM p a JOIN p b
    ON a.doc_id = b.doc_id AND b.pos - a.pos BETWEEN 1 AND 3
  WHERE a.tok <> b.tok
  GROUP BY 1, 2
)
SELECT tok_a, tok_b, CAST(n_cooc AS BIGINT) AS n_cooc
FROM co WHERE n_cooc >= 100
"""


@register("text_cooccurrence_window", oracle=_COOC_ORACLE, tags=("llm", "text"))
def text_cooccurrence_window(spark, sf_dir):
    """Directed token co-occurrence within a ±3-position window — the
    skip-gram count matrix (word2vec/GloVe's input statistic; the PMI
    collocation query text_collocations_pmi sees only ADJACENT pairs,
    this one the full context window). Spark-natural band join: the
    position relation joins THREE map-side shifted copies of itself
    (pos+1, pos+2, pos+3) — pure equi-joins on (doc_id, pos), never a
    range predicate the optimizer would nested-loop. Output bounded by
    the vocabulary square; count floor 100 keeps the hashed rows the
    stable head. Counts exact."""
    docs = load_table(spark, sf_dir, "documents")
    p = docs.select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("pos0", "tok"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")
    shifted = None
    for dlt in (1, 2, 3):
        s = p.select(
            "doc_id", (F.col("pos") + dlt).alias("pos"), F.col("tok").alias("tok_a")
        )
        shifted = s if shifted is None else shifted.unionByName(s)
    return (
        shifted.join(
            p.select("doc_id", "pos", F.col("tok").alias("tok_b")),
            ["doc_id", "pos"],
        )
        .filter(F.col("tok_a") != F.col("tok_b"))
        .groupBy("tok_a", "tok_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_cooc"))
        .filter(F.col("n_cooc") >= 100)
    )


_CONTAINMENT_DOCS_ORACLE = """
WITH c AS (
  SELECT MIN(doc_id) AS doc_id, MIN(text) AS text
  FROM documents GROUP BY md5(text)
), t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM c
), g AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         array_to_string(list_slice(toks, i, i + 7), ' ') AS gram
  FROM t, unnest(range(1, len(toks) - 6)) AS u(i)
), shared AS (
  SELECT gram FROM g GROUP BY gram
  HAVING COUNT(DISTINCT doc_id) BETWEEN 2 AND 50
), occ AS (
  SELECT g.* FROM g JOIN shared USING (gram)
), p AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.pos AS pa,
         a.pos - b.pos AS diag
  FROM occ a JOIN occ b USING (gram) WHERE a.doc_id < b.doc_id
), d AS (
  SELECT id_a, id_b, diag, pa,
         pa - row_number() OVER (PARTITION BY id_a, id_b, diag
                                 ORDER BY pa) AS grp
  FROM p
), runs AS (
  SELECT id_a, id_b, CAST(COUNT(*) + 7 AS BIGINT) AS span
  FROM d GROUP BY id_a, id_b, diag, grp
), lens AS (
  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n FROM c
)
SELECT DISTINCT
       CASE WHEN r.span = la.n THEN r.id_a ELSE r.id_b END AS contained_id,
       CASE WHEN r.span = la.n THEN r.id_b ELSE r.id_a END AS container_id,
       r.span AS n_tokens
FROM runs r
JOIN lens la ON la.doc_id = r.id_a
JOIN lens lb ON lb.doc_id = r.id_b
WHERE r.span = la.n OR r.span = lb.n
"""


@register(
    "dedup_substring_containment_docs",
    oracle=_CONTAINMENT_DOCS_ORACLE,
    tags=("llm", "dedup"),
)
def dedup_substring_containment_docs(spark, sf_dir):
    """Whole-document CONTIGUOUS containment: documents whose entire
    token sequence appears verbatim inside another document — the
    quote/excerpt/re-post case ExactSubstr dedup exists to kill (Lee
    et al. 2022 §4: a contained doc contributes zero new tokens). A
    run from the gram-diagonal decomposition whose span equals one
    side's full token length IS that containment (post clone-collapse
    the equal-both-sides case cannot occur — identical texts share one
    id). Distinct from dedup_token_containment, which is SET
    containment (order/adjacency-blind); this is the order-exact
    contiguous form. Emits (contained_id, container_id, n_tokens)."""
    runs = dedup.common_substring_runs(
        load_table(spark, sf_dir, "documents"), k=8, gram_doc_cap=50
    )
    hit = runs.filter(
        (F.col("span") == F.col("len_a")) | (F.col("span") == F.col("len_b"))
    )
    return hit.select(
        F.when(F.col("span") == F.col("len_a"), F.col("id_a"))
        .otherwise(F.col("id_b"))
        .alias("contained_id"),
        F.when(F.col("span") == F.col("len_a"), F.col("id_b"))
        .otherwise(F.col("id_a"))
        .alias("container_id"),
        F.col("span").alias("n_tokens"),
    ).distinct()


_SUFFIX_PREFIX_ORACLE = """
WITH c AS (
  SELECT MIN(doc_id) AS doc_id, MIN(text) AS text
  FROM documents GROUP BY md5(text)
), t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM c
), g AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         array_to_string(list_slice(toks, i, i + 7), ' ') AS gram
  FROM t, unnest(range(1, len(toks) - 6)) AS u(i)
), shared AS (
  SELECT gram FROM g GROUP BY gram
  HAVING COUNT(DISTINCT doc_id) BETWEEN 2 AND 50
), occ AS (
  SELECT g.* FROM g JOIN shared USING (gram)
), p AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.pos AS pa,
         a.pos - b.pos AS diag
  FROM occ a JOIN occ b USING (gram) WHERE a.doc_id < b.doc_id
), d AS (
  SELECT id_a, id_b, diag, pa,
         pa - row_number() OVER (PARTITION BY id_a, id_b, diag
                                 ORDER BY pa) AS grp
  FROM p
), runs AS (
  SELECT id_a, id_b, MIN(pa) AS pa_start,
         MIN(pa) - diag AS pb_start,
         CAST(COUNT(*) + 7 AS BIGINT) AS span
  FROM d GROUP BY id_a, id_b, diag, grp
), lens AS (
  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n FROM c
), hits AS (
  SELECT r.id_a AS head_id, r.id_b AS tail_id, r.span
  FROM runs r JOIN lens la ON la.doc_id = r.id_a
  WHERE r.pa_start + r.span = la.n + 1 AND r.pb_start = 1
  UNION ALL
  SELECT r.id_b AS head_id, r.id_a AS tail_id, r.span
  FROM runs r JOIN lens lb ON lb.doc_id = r.id_b
  WHERE r.pb_start + r.span = lb.n + 1 AND r.pa_start = 1
)
SELECT head_id, tail_id, CAST(MAX(span) AS BIGINT) AS overlap_tokens
FROM hits WHERE span >= 12 GROUP BY 1, 2
"""


@register(
    "dedup_suffix_prefix_overlap",
    oracle=_SUFFIX_PREFIX_ORACLE,
    tags=("llm", "dedup"),
)
def dedup_suffix_prefix_overlap(spark, sf_dir):
    """Shard-boundary detection: ordered doc pairs (head, tail) where
    the head's SUFFIX equals the tail's PREFIX for >= 12 tokens — the
    signature of one source document split across two crawl shards /
    context windows (the overlap region would be double-counted by
    token budgets and double-trained by the loader; re-splicing or
    trimming needs exactly this pair list). A run qualifies iff it
    touches the head's end (pa_start + span = len + 1) and the tail's
    start (pb_start = 1) — pure predicates over the gram-diagonal RUNS
    relation (operators/dedup.py:common_substring_runs), both
    directions of each unordered pair checked. Emits the longest such
    overlap per ordered pair."""
    runs = dedup.common_substring_runs(
        load_table(spark, sf_dir, "documents"), k=8, gram_doc_cap=50
    )
    ab = runs.filter(
        (F.col("pa_start") + F.col("span") == F.col("len_a") + 1)
        & (F.col("pb_start") == 1)
    ).select(
        F.col("id_a").alias("head_id"), F.col("id_b").alias("tail_id"), "span"
    )
    ba = runs.filter(
        (F.col("pb_start") + F.col("span") == F.col("len_b") + 1)
        & (F.col("pa_start") == 1)
    ).select(
        F.col("id_b").alias("head_id"), F.col("id_a").alias("tail_id"), "span"
    )
    return (
        ab.unionByName(ba)
        .filter(F.col("span") >= 12)
        .groupBy("head_id", "tail_id")
        .agg(F.max("span").cast("long").alias("overlap_tokens"))
    )

# ---------------------------------------------------------------------------
# ML evaluation — round-9 additions over the events fixture.
# ---------------------------------------------------------------------------

_AUC_ORACLE = """
WITH s AS (
  SELECT event_id,
         CAST(round(CAST(value AS DECIMAL(12,2)) * 100) AS BIGINT) AS score,
         CASE WHEN event_type IN ('purchase', 'signup') THEN 1 ELSE 0 END AS y
  FROM events
), r AS (
  SELECT y, row_number() OVER (ORDER BY score, event_id) AS rnk FROM s
), agg AS (
  SELECT CAST(SUM(CASE WHEN y = 1 THEN rnk ELSE 0 END) AS BIGINT) AS rank_sum_pos,
         CAST(SUM(y) AS BIGINT) AS n_pos,
         CAST(SUM(1 - y) AS BIGINT) AS n_neg
  FROM r
)
SELECT n_pos, n_neg,
       CAST((rank_sum_pos - n_pos * (n_pos + 1) // 2) * 1000000
            // (n_pos * n_neg) AS BIGINT) AS auc_ppm
FROM agg
"""


@register("ml_roc_auc_exact", oracle=_AUC_ORACLE, tags=("llm", "ml"))
def ml_roc_auc_exact(spark, sf_dir):
    """EXACT ROC-AUC via the Mann-Whitney rank identity: AUC =
    (Σ ranks(positives) - n₊(n₊+1)/2) / (n₊ n₋) — the metric every
    scored-classifier evaluation reports, computed distributed with no
    threshold sweep and no curve materialization. Labels: purchase/
    signup events are positives; scores are the integer-cent values
    with a deterministic event_id tiebreak INSIDE the ranking key
    (documented in place of midrank tie handling — the agg_spearman
    rank convention, shared by both engines, so the value is the AUC
    of the tie-broken score order, exact). Plan: ONE two-pass
    distributed rank (operators/scale.py:global_index — range
    repartition + per-partition offsets, never a single-partition
    window) and one 1-row exact-integer reduce; output in ppm, zero
    float ops anywhere."""
    from ..operators.scale import global_index

    ev = load_table(spark, sf_dir, "events")
    from ..tables import VAL, dec

    s = ev.select(
        "event_id",
        F.round(dec("value", VAL) * 100).cast("long").alias("score"),
        F.when(F.col("event_type").isin("purchase", "signup"), F.lit(1))
        .otherwise(F.lit(0))
        .alias("y"),
    )
    r = global_index(s, "rnk0", ["score", "event_id"]).select(
        "y", (F.col("rnk0") + 1).cast("long").alias("rnk")
    )
    return (
        r.agg(
            F.sum(F.when(F.col("y") == 1, F.col("rnk")).otherwise(F.lit(0)))
            .cast("long")
            .alias("rank_sum_pos"),
            F.sum("y").cast("long").alias("n_pos"),
            F.sum(1 - F.col("y")).cast("long").alias("n_neg"),
        )
        .select(
            "n_pos",
            "n_neg",
            F.expr(
                "CAST((rank_sum_pos - n_pos * (n_pos + 1) DIV 2) * 1000000"
                " DIV (n_pos * n_neg) AS BIGINT)"
            ).alias("auc_ppm"),
        )
    )


_CALIBRATION_ORACLE = """
WITH b AS (
  SELECT CAST(round(CAST(value AS DECIMAL(12,2)) * 100) AS BIGINT) AS cents,
         CASE WHEN event_type IN ('purchase', 'signup') THEN 1 ELSE 0 END AS y
  FROM events
), mx AS (
  SELECT MAX(cents) AS max_c FROM b
), binned AS (
  SELECT LEAST(9, cents * 10 // (max_c + 1)) AS bin, cents, y FROM b, mx
)
SELECT CAST(bin AS BIGINT) AS bin,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(cents) * 10000 // (COUNT(*) * (SELECT max_c FROM mx))
            AS BIGINT) AS mean_score_bp,
       CAST(SUM(y) * 10000 // COUNT(*) AS BIGINT) AS pos_rate_bp
FROM binned GROUP BY bin
"""


@register("ml_calibration_bins", oracle=_CALIBRATION_ORACLE, tags=("llm", "ml"))
def ml_calibration_bins(spark, sf_dir):
    """Calibration / reliability table: scores bucketed into 10
    equal-width bins, each bin reporting mean normalized score vs
    empirical positive rate (both in exact basis points) — the
    reliability-diagram relation behind ECE and Platt/isotonic
    recalibration, and the companion consumer of ml_roc_auc_exact
    (AUC is rank-only; calibration is what ranking metrics cannot
    see). Bin edges are EXACT integer arithmetic on cent scores
    (bin = min(9, cents*10 DIV (max+1)) — no float boundaries to
    disagree at the edge), rates are integer floor divisions. Plan:
    one 1-row max broadcast + one groupBy; everything map-side
    combinable."""
    from ..tables import VAL, dec

    ev = load_table(spark, sf_dir, "events")
    b = ev.select(
        F.round(dec("value", VAL) * 100).cast("long").alias("cents"),
        F.when(F.col("event_type").isin("purchase", "signup"), F.lit(1))
        .otherwise(F.lit(0))
        .alias("y"),
    )
    mx = b.agg(F.max("cents").alias("max_c"))
    return (
        b.crossJoin(F.broadcast(mx))
        .select(
            F.least(F.lit(9), F.expr("cents * 10 DIV (max_c + 1)")).alias("bin"),
            "cents",
            "y",
            "max_c",
        )
        .groupBy(F.col("bin").cast("long").alias("bin"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.expr(
                "CAST(SUM(cents) * 10000 DIV (COUNT(*) * ANY_VALUE(max_c))"
                " AS BIGINT)"
            ).alias("mean_score_bp"),
            F.expr("CAST(SUM(y) * 10000 DIV COUNT(*) AS BIGINT)").alias(
                "pos_rate_bp"
            ),
        )
    )

# ---------------------------------------------------------------------------
# Multimodal payload plumbing — round-9 additions.
# ---------------------------------------------------------------------------

_MAGIC_SNIFF_ORACLE = """
WITH p AS (
  SELECT doc_id, source,
         (CASE doc_id % 4 WHEN 0 THEN 'PNG!' WHEN 1 THEN 'JPEG'
                          WHEN 2 THEN 'GIF8' ELSE 'PDF-' END)::BLOB
           || encode(text) AS payload
  FROM documents
), s AS (
  SELECT source,
         CASE left(decode(payload), 4)
              WHEN 'PNG!' THEN 'image/png' WHEN 'JPEG' THEN 'image/jpeg'
              WHEN 'GIF8' THEN 'image/gif' ELSE 'application/pdf' END
           AS sniffed_mime,
         octet_length(payload) AS n_bytes
  FROM p
)
SELECT source, sniffed_mime,
       CAST(COUNT(*) AS BIGINT) AS n_payloads,
       CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
       CAST(MIN(n_bytes) AS BIGINT) AS min_bytes,
       CAST(MAX(n_bytes) AS BIGINT) AS max_bytes
FROM s GROUP BY source, sniffed_mime
"""


@register("mm_magic_bytes_sniff", oracle=_MAGIC_SNIFF_ORACLE, tags=("llm", "multimodal"))
def mm_magic_bytes_sniff(spark, sf_dir):
    """Content-type SNIFFING from payload magic bytes: media payloads
    (deterministic fake headers prepended to the document bytes — the
    engine's standing stubbed-decode convention, multimodal.py) are
    classified by their LEADING FOUR BYTES, never a metadata column —
    the trust-the-bytes rule every ingestion firewall applies because
    crawled MIME labels lie. Exercises the binary hot path end-to-end
    JVM-side: blob concat, byte slicing, byte->string decode, byte
    length — zero Python, zero payload scans beyond the prefix (at
    100 TB the sniff reads 4 bytes per record via the columnar
    projection; the payload column itself stays unread in the scan's
    ReadSchema for the count/len aggregates when parquet stores
    lengths). One rollup."""
    docs = load_table(spark, sf_dir, "documents")
    magic = (
        F.when(F.pmod("doc_id", F.lit(4)) == 0, F.lit("PNG!"))
        .when(F.pmod("doc_id", F.lit(4)) == 1, F.lit("JPEG"))
        .when(F.pmod("doc_id", F.lit(4)) == 2, F.lit("GIF8"))
        .otherwise(F.lit("PDF-"))
    )
    p = docs.select(
        "source",
        F.concat(F.encode(magic, "UTF-8"), F.encode("text", "UTF-8")).alias(
            "payload"
        ),
    )
    sniffed = (
        F.when(F.decode(F.expr("substring(payload, 1, 4)"), "UTF-8") == "PNG!", F.lit("image/png"))
        .when(F.decode(F.expr("substring(payload, 1, 4)"), "UTF-8") == "JPEG", F.lit("image/jpeg"))
        .when(F.decode(F.expr("substring(payload, 1, 4)"), "UTF-8") == "GIF8", F.lit("image/gif"))
        .otherwise(F.lit("application/pdf"))
    )
    return (
        p.select(
            "source",
            sniffed.alias("sniffed_mime"),
            F.octet_length("payload").cast("long").alias("n_bytes"),
        )
        .groupBy("source", "sniffed_mime")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_payloads"),
            F.sum("n_bytes").cast("long").alias("total_bytes"),
            F.min("n_bytes").cast("long").alias("min_bytes"),
            F.max("n_bytes").cast("long").alias("max_bytes"),
        )
    )

# ---------------------------------------------------------------------------
# Retrieval — round-9 additions.
# ---------------------------------------------------------------------------

_QL_DIRICHLET_ORACLE = """
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), tf AS (
  SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, unnest(toks) AS tok FROM t) GROUP BY 1, 2
), dl AS (
  SELECT doc_id, CAST(len(toks) AS BIGINT) AS dlen FROM t
), corpus AS (
  SELECT CAST(SUM(dlen) AS BIGINT) AS clen FROM dl
), ctf AS (
  SELECT tok, CAST(SUM(tf) AS BIGINT) AS ctf FROM tf GROUP BY tok
), q AS (
  SELECT unnest(['scan', 'merge', 'window']) AS tok
), terms AS (
  SELECT dl.doc_id,
         CAST(round(1000000 * ln(
           (COALESCE(tf.tf, 0) * corpus.clen + 100.0 * ctf.ctf)
           / ((dl.dlen + 100.0) * corpus.clen))) AS BIGINT) AS micro_nats
  FROM dl
  CROSS JOIN corpus
  JOIN q ON TRUE
  JOIN ctf ON ctf.tok = q.tok
  LEFT JOIN tf ON tf.doc_id = dl.doc_id AND tf.tok = q.tok
), scored AS (
  SELECT doc_id, CAST(SUM(micro_nats) AS BIGINT) AS ql_micro_nats
  FROM terms GROUP BY doc_id
), ranked AS (
  SELECT doc_id, ql_micro_nats,
         row_number() OVER (ORDER BY ql_micro_nats DESC, doc_id) AS rnk
  FROM scored
)
SELECT doc_id, ql_micro_nats, CAST(rnk AS BIGINT) AS rnk
FROM ranked WHERE rnk <= 20
"""


@register("text_query_likelihood_dirichlet", oracle=_QL_DIRICHLET_ORACLE, tags=("llm", "text", "retrieval"))
def text_query_likelihood_dirichlet(spark, sf_dir):
    """Dirichlet-smoothed QUERY-LIKELIHOOD retrieval (Zhai & Lafferty,
    SIGIR 2001; μ=100) — the language-model ranking family beside the
    tf-idf family (text_bm25_topk): score(d) = Σ_q ln((tf + μ·p(q|C))
    / (|d| + μ)), where the collection model p(q|C) is what BM25's idf
    only approximates. Each per-(doc, term) log is evaluated on EXACT
    integers (tf·|C| + μ·ctf over (|d|+μ)·|C| — one double log of a
    rational) and quantized ONCE to micro-nats; the doc score is then
    an exact integer sum and the top-20 a total-order rank — the
    engine's standing log-quantization discipline. Plan: one tf
    rollup, the 3-term query BROADCAST onto the doc-length relation,
    one keyed sum; the corpus stats are 1-row/|V|-row broadcasts."""
    docs = load_table(spark, sf_dir, "documents")
    mu = 100
    qterms = ["scan", "merge", "window"]
    t = docs.select("doc_id", F.split("text", " ").alias("toks"))
    tf = (
        t.select("doc_id", F.explode("toks").alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    dl = t.select("doc_id", F.size("toks").cast("long").alias("dlen"))
    corpus = dl.agg(F.sum("dlen").cast("long").alias("clen"))
    q = spark.createDataFrame([(x,) for x in qterms], ["tok"])
    ctf = (
        tf.join(F.broadcast(q), "tok")
        .groupBy("tok")
        .agg(F.sum("tf").cast("long").alias("ctf"))
    )
    terms = (
        dl.crossJoin(F.broadcast(corpus))
        .crossJoin(F.broadcast(ctf))
        .join(tf, ["doc_id", "tok"], "left")
        .select(
            "doc_id",
            F.round(
                1_000_000
                * F.log(
                    (F.coalesce(F.col("tf"), F.lit(0)) * F.col("clen")
                     + mu * 1.0 * F.col("ctf"))
                    / ((F.col("dlen") + mu * 1.0) * F.col("clen"))
                )
            )
            .cast("long")
            .alias("micro_nats"),
        )
    )
    scored = terms.groupBy("doc_id").agg(
        F.sum("micro_nats").cast("long").alias("ql_micro_nats")
    )
    from ..operators.scale import global_index

    ranked = global_index(
        scored.select(
            "doc_id", "ql_micro_nats", (-F.col("ql_micro_nats")).alias("neg")
        ),
        "rnk0",
        ["neg", "doc_id"],
    )
    return (
        ranked.select(
            "doc_id",
            "ql_micro_nats",
            (F.col("rnk0") + 1).cast("long").alias("rnk"),
        )
        .filter(F.col("rnk") <= 20)
    )


_PHRASE_ORACLE = """
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), p AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos, toks[i] AS tok
  FROM t, unnest(range(1, len(toks) + 1)) AS u(i)
), hits AS (
  SELECT a.doc_id, a.pos
  FROM p a
  JOIN p b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
  JOIN p c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2
  WHERE a.tok = 'batch' AND b.tok = 'batch' AND c.tok = 'batch'
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_occurrences,
       CAST(MIN(pos) AS BIGINT) AS first_pos
FROM hits GROUP BY doc_id
"""


@register("text_phrase_positional_search", oracle=_PHRASE_ORACLE, tags=("llm", "text", "retrieval"))
def text_phrase_positional_search(spark, sf_dir):
    """EXACT PHRASE search through a positional index: documents
    containing the 3-token phrase "batch batch batch" (the run-on
    repetition junk signature), found by self-joining the (doc, pos,
    token) posting relation at offsets +1/+2 — the positional-index
    phrase plan every search engine runs, NOT a substring scan (at
    100 TB the posting relation is the standing index; a LIKE scan
    re-reads every byte of every document for every query). Postings
    for the phrase terms are filtered BEFORE the position joins, so
    the join inputs are term-selective. Counts and positions exact."""
    docs = load_table(spark, sf_dir, "documents")
    p = (
        docs.select("doc_id", F.posexplode(F.split("text", " ")).alias("pos0", "tok"))
        .select("doc_id", (F.col("pos0") + 1).cast("long").alias("pos"), "tok")
        .filter(F.col("tok") == "batch")
    )
    a = p.select("doc_id", "pos")
    b = p.select("doc_id", (F.col("pos") - 1).alias("pos"))
    c = p.select("doc_id", (F.col("pos") - 2).alias("pos"))
    return (
        a.join(b, ["doc_id", "pos"])
        .join(c, ["doc_id", "pos"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_occurrences"),
            F.min("pos").cast("long").alias("first_pos"),
        )
    )


_PAIR_DIST_HIST_ORACLE = """
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), n AS (
  SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS vnorm
  FROM e
), pairs AS (
  SELECT a.vec_id,
         CAST(round(1000000 * list_sum(list_transform(
                range(1, len(a.v) + 1), i -> a.v[i] * b.v[i]))
                / (a.vnorm * b.vnorm)) AS BIGINT) AS mc
  FROM n a JOIN n b ON b.vec_id = a.vec_id + 1
  UNION ALL
  SELECT a.vec_id,
         CAST(round(1000000 * list_sum(list_transform(
                range(1, len(a.v) + 1), i -> a.v[i] * b.v[i]))
                / (a.vnorm * b.vnorm)) AS BIGINT) AS mc
  FROM n a JOIN n b ON b.vec_id = a.vec_id + 17
)
SELECT CAST((mc + 1000000) // 50000 AS BIGINT) AS bin,
       CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM pairs GROUP BY 1
"""


@register("sim_pair_distance_histogram", oracle=_PAIR_DIST_HIST_ORACLE, tags=("llm", "similarity"))
def sim_pair_distance_histogram(spark, sf_dir):
    """Pairwise-cosine DISTANCE HISTOGRAM over deterministic lag pairs
    (id -> id+1 and id -> id+17): the concentration-of-measure
    diagnostic every ANN deployment reads before picking thresholds —
    a histogram collapsed near one value means cosine barely
    discriminates at this dimensionality (and LSH/IVF recall targets
    must be set accordingly). Lag pairs are O(n) equi-joins (never a
    sampled cross join, never RNG — deterministic and layout-stable);
    each cosine is quantized ONCE to integer micro-units and binned by
    exact integer division into 0.05-wide buckets, so no bin boundary
    can flip on a float ulp. Output is the bounded histogram."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id", similarity.as_double("embedding").alias("v")
    ).withColumn("vnorm", similarity.norm("v"))
    pairs = None
    for lag in (1, 17):
        a = e.select(F.col("vec_id"), F.col("v").alias("va"), F.col("vnorm").alias("na"))
        b = e.select(
            (F.col("vec_id") - lag).alias("vec_id"),
            F.col("v").alias("vb"),
            F.col("vnorm").alias("nb"),
        )
        p = a.join(b, "vec_id").select(
            F.round(
                1_000_000
                * similarity.dot("va", "vb")
                / (F.col("na") * F.col("nb"))
            )
            .cast("long")
            .alias("mc")
        )
        pairs = p if pairs is None else pairs.unionAll(p)
    return (
        pairs.select(F.expr("CAST((mc + 1000000) DIV 50000 AS BIGINT)").alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )


_CHUNK_STORE_ORACLE = """
WITH m AS (
  SELECT MIN(doc_id) AS rep, hex(encode(text)) AS hx
  FROM documents GROUP BY encode(text)
  HAVING length(hex(encode(text))) >= 8
), pos AS (
  SELECT rep, hx, i.i AS pos
  FROM m, LATERAL unnest(generate_series(4, length(hx) // 2)) AS i(i)
  WHERE CAST(('0x' || substring(md5(substring(hx, 2 * i.i - 7, 8)), 1, 8))
             AS BIGINT) % 32 = 0
  UNION
  SELECT rep, hx, length(hx) // 2 AS pos FROM m
), c AS (
  SELECT rep,
         pos - COALESCE(lag(pos) OVER (PARTITION BY rep ORDER BY pos), 0)
           AS n_bytes,
         substring(hx,
                   2 * COALESCE(lag(pos) OVER (PARTITION BY rep ORDER BY pos), 0) + 1,
                   2 * (pos - COALESCE(lag(pos) OVER (PARTITION BY rep ORDER BY pos), 0)))
           AS chunk
  FROM pos
), per_chunk AS (
  SELECT chunk, ANY_VALUE(n_bytes) AS n_bytes,
         CAST(COUNT(*) AS BIGINT) AS n_occ,
         CAST(COUNT(DISTINCT rep) AS BIGINT) AS n_payloads
  FROM c GROUP BY chunk
)
SELECT CAST(SUM(n_occ) AS BIGINT) AS total_chunks,
       CAST(COUNT(*) AS BIGINT) AS distinct_chunks,
       CAST(SUM(n_occ * n_bytes) AS BIGINT) AS total_bytes,
       CAST(SUM(n_bytes) AS BIGINT) AS stored_bytes,
       CAST(SUM(CASE WHEN n_payloads >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_cross_payload_chunks,
       CAST((SUM(n_occ * n_bytes) - SUM(n_bytes)) * 1000000
            // SUM(n_occ * n_bytes) AS BIGINT) AS savings_ppm
FROM per_chunk
"""


@register("mm_chunk_store_savings", oracle=_CHUNK_STORE_ORACLE, tags=("llm", "multimodal", "dedup"))
def mm_chunk_store_savings(spark, sf_dir):
    """Content-addressed CHUNK-STORE savings accounting — the
    byte-weighted consumer of mm_content_defined_chunks' boundary
    construction (same LBFS rolling rule, same md5-prefix gram hash):
    a dedup store keeps each distinct chunk once, so the reclaim is
    (Σ occurrences·bytes − Σ distinct bytes) / total — the borg/restic
    /VAST-style storage estimate, byte-weighted where the chunk QUERY
    reports chunk-count ratios (a few giant duplicate chunks matter
    more than many tiny unique ones). Also counts chunks shared
    ACROSS distinct payloads — the cross-file sharing a per-file
    dedup cannot see. Exact integers end-to-end; the chunk relation is
    the same per-payload lag window, the accounting two keyed
    rollups."""
    from ..operators import multimodal

    media = multimodal.synthesize_media(load_table(spark, sf_dir, "documents"))
    # eager pin (optimization r13, guide §3.3): the collapsed payload
    # relation feeds both the boundary explode and the final-position
    # rows — unpinned, each re-ran synthesize + hex + collapse
    m = pin(
        media.select(F.hex(F.col("payload")).alias("hx"), "media_id")
        .groupBy("hx")
        .agg(F.min("media_id").alias("rep"))
        .filter(F.length("hx") >= 8)
    )
    gram = F.expr("substring(hx, 2 * i - 7, 8)")
    ghash = F.conv(F.substring(F.md5(gram), 1, 8), 16, 10).cast("long") % 32
    bnd = (
        m.select(
            "rep",
            "hx",
            F.explode(
                F.sequence(F.lit(4), F.expr("CAST(length(hx) / 2 AS INT)"))
            ).alias("i"),
        )
        .filter(ghash == 0)
        .select("rep", "hx", F.col("i").alias("pos"))
    )
    last = m.select("rep", "hx", F.expr("CAST(length(hx) / 2 AS INT)").alias("pos"))
    pos = bnd.unionByName(last).distinct()
    from pyspark.sql import Window

    w = Window.partitionBy("rep").orderBy("pos")
    prev = F.coalesce(F.lag("pos").over(w), F.lit(0))
    c = pos.select(
        "rep",
        (F.col("pos") - prev).alias("n_bytes"),
        F.expr(
            "substring(hx, 2 * coalesce(lag(pos) OVER (PARTITION BY rep ORDER BY pos), 0) + 1,"
            " 2 * (pos - coalesce(lag(pos) OVER (PARTITION BY rep ORDER BY pos), 0)))"
        ).alias("chunk"),
    )
    per_chunk = c.groupBy("chunk").agg(
        F.any_value("n_bytes").alias("n_bytes"),
        F.count(F.lit(1)).cast("long").alias("n_occ"),
        F.countDistinct("rep").cast("long").alias("n_payloads"),
    )
    return per_chunk.agg(
        F.sum("n_occ").cast("long").alias("total_chunks"),
        F.count(F.lit(1)).cast("long").alias("distinct_chunks"),
        F.sum(F.col("n_occ") * F.col("n_bytes")).cast("long").alias("total_bytes"),
        F.sum("n_bytes").cast("long").alias("stored_bytes"),
        F.sum(F.when(F.col("n_payloads") >= 2, 1).otherwise(0))
        .cast("long")
        .alias("n_cross_payload_chunks"),
        F.expr(
            "CAST((SUM(n_occ * n_bytes) - SUM(n_bytes)) * 1000000"
            " DIV SUM(n_occ * n_bytes) AS BIGINT)"
        ).alias("savings_ppm"),
    )

# ---------------------------------------------------------------------------
# Corpus reporting — round-9 additions.
# ---------------------------------------------------------------------------

_FERTILITY_ORACLE = """
WITH t AS (
  SELECT lang, source, n_chars,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
  FROM documents
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_toks) AS BIGINT) AS total_tokens,
       CAST(SUM(n_chars) AS BIGINT) AS total_bytes,
       CAST(SUM(n_chars) * 1000 // SUM(n_toks) AS BIGINT)
         AS bytes_per_token_milli,
       CAST(SUM(n_toks) * 1000000 // SUM(n_chars) AS BIGINT)
         AS tokens_per_byte_ppm
FROM t GROUP BY lang
"""


@register("pipeline_tokenizer_fertility", oracle=_FERTILITY_ORACLE, tags=("llm", "pipeline", "text"))
def pipeline_tokenizer_fertility(spark, sf_dir):
    """Tokenizer FERTILITY per language: bytes-per-token and
    tokens-per-byte (exact milli/ppm integer ratios) — the number that
    decides whether a tokenizer starves a language of effective
    context (high fertility = more tokens per byte = shorter effective
    documents), reported per-language exactly the way tokenizer
    evaluations (e.g. multilingual compression comparisons) do. Pure
    map-side rollup; exact integer floor ratios."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "lang",
        "n_chars",
        F.size(F.split("text", " ")).cast("long").alias("n_toks"),
    )
    return t.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_toks").cast("long").alias("total_tokens"),
        F.sum("n_chars").cast("long").alias("total_bytes"),
        F.expr("CAST(SUM(n_chars) * 1000 DIV SUM(n_toks) AS BIGINT)").alias(
            "bytes_per_token_milli"
        ),
        F.expr("CAST(SUM(n_toks) * 1000000 DIV SUM(n_chars) AS BIGINT)").alias(
            "tokens_per_byte_ppm"
        ),
    )


_DATASET_CARD_ORACLE = """
WITH t AS (
  SELECT source, lang, n_chars, text,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
         CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
           AS n_distinct
  FROM documents
), dup AS (
  SELECT source, CAST(COUNT(*) - COUNT(DISTINCT md5(text)) AS BIGINT)
           AS n_exact_dups
  FROM t GROUP BY source
)
SELECT t.source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
       CAST(SUM(n_toks) AS BIGINT) AS total_tokens,
       CAST(SUM(n_chars) AS BIGINT) AS total_bytes,
       CAST(MIN(n_toks) AS BIGINT) AS min_doc_tokens,
       CAST(MAX(n_toks) AS BIGINT) AS max_doc_tokens,
       CAST(SUM(n_distinct) * 1000000 // SUM(n_toks) AS BIGINT)
         AS distinct_token_ratio_ppm,
       ANY_VALUE(dup.n_exact_dups) AS n_exact_dups
FROM t JOIN dup ON dup.source = t.source
GROUP BY t.source
"""


@register("pipeline_dataset_card_stats", oracle=_DATASET_CARD_ORACLE, tags=("llm", "pipeline"))
def pipeline_dataset_card_stats(spark, sf_dir):
    """DATASET CARD summary per source — the one-relation report a
    corpus release ships (datasheet/data-card table): doc and language
    counts, token/byte volumes, length extremes, lexical-diversity
    mass ratio, and the exact-duplicate count — every figure an exact
    integer or exact ppm ratio, each individually available elsewhere
    in the registry but materialized here as the single card
    downstream consumers read. Two keyed rollups (one per-doc pass +
    one md5-dedup count), joined on the source key."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    t = docs.select(
        "source",
        "lang",
        "n_chars",
        F.md5("text").alias("h"),
        F.size(toks).cast("long").alias("n_toks"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct"),
    )
    dup = t.groupBy("source").agg(
        (F.count(F.lit(1)) - F.countDistinct("h")).cast("long").alias("n_exact_dups")
    )
    return (
        t.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.countDistinct("lang").cast("long").alias("n_langs"),
            F.sum("n_toks").cast("long").alias("total_tokens"),
            F.sum("n_chars").cast("long").alias("total_bytes"),
            F.min("n_toks").cast("long").alias("min_doc_tokens"),
            F.max("n_toks").cast("long").alias("max_doc_tokens"),
            F.expr(
                "CAST(SUM(n_distinct) * 1000000 DIV SUM(n_toks) AS BIGINT)"
            ).alias("distinct_token_ratio_ppm"),
        )
        .join(dup, "source")
    )


_FAMILY_HIST_ORACLE = """
WITH f AS (
  SELECT md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
           AS fp,
         CAST(COUNT(*) AS BIGINT) AS family_size
  FROM documents GROUP BY 1
)
SELECT family_size,
       CAST(COUNT(*) AS BIGINT) AS n_families,
       CAST(family_size * COUNT(*) AS BIGINT) AS n_docs
FROM f GROUP BY family_size
"""


@register("dedup_family_size_histogram", oracle=_FAMILY_HIST_ORACLE, tags=("llm", "dedup"))
def dedup_family_size_histogram(spark, sf_dir):
    """Near-dup FAMILY-SIZE distribution (tier-2 fingerprint
    families): how many families of size 1, 2, 3... and how much doc
    mass each size class holds — the one histogram that tells you
    whether duplication is a long tail of pairs or a few mega-families
    (the two need different dedup strategies: pair verification vs
    collapse-first), and the denominator every dup-rate SLO is quoted
    against. Two exact keyed rollups."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    f = docs.groupBy(
        F.md5(F.array_join(F.array_sort(F.array_distinct(toks)), " ")).alias("fp")
    ).agg(F.count(F.lit(1)).cast("long").alias("family_size"))
    return f.groupBy("family_size").agg(
        F.count(F.lit(1)).cast("long").alias("n_families"),
        (F.col("family_size") * F.count(F.lit(1))).cast("long").alias("n_docs"),
    )


_TRIPLET_ORACLE = """
WITH e AS (
  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), n AS (
  SELECT vec_id, label, v,
         sqrt(list_sum(list_transform(v, x -> x * x))) AS vnorm
  FROM e
), pairs AS (
  SELECT a.vec_id AS anchor_id, b.vec_id AS other_id, b.label AS other_label,
         a.label AS anchor_label,
         CAST(round(1000000 * list_sum(list_transform(
                range(1, len(a.v) + 1), i -> a.v[i] * b.v[i]))
                / (a.vnorm * b.vnorm)) AS BIGINT) AS mc
  FROM n a JOIN n b ON a.vec_id < 10 AND a.vec_id <> b.vec_id
), pos AS (
  SELECT anchor_id, other_id AS pos_id, mc AS pos_mc,
         row_number() OVER (PARTITION BY anchor_id
                            ORDER BY mc DESC, other_id) AS r
  FROM pairs WHERE other_label = anchor_label
), neg AS (
  SELECT anchor_id, other_id AS neg_id, mc AS neg_mc,
         row_number() OVER (PARTITION BY anchor_id
                            ORDER BY mc DESC, other_id) AS r
  FROM pairs WHERE other_label <> anchor_label
)
SELECT p.anchor_id, p.pos_id, n.neg_id,
       CAST(p.pos_mc - n.neg_mc AS BIGINT) AS margin_micro,
       (p.pos_mc > n.neg_mc) AS satisfied
FROM pos p JOIN neg n USING (anchor_id)
WHERE p.r = 1 AND n.r = 1
"""


@register("sim_triplet_margin_stats", oracle=_TRIPLET_ORACLE, tags=("llm", "similarity", "ml"))
def sim_triplet_margin_stats(spark, sf_dir):
    """TRIPLET MARGINS for metric-learning audits: per anchor, the
    nearest SAME-label vector (hardest positive to beat), the nearest
    DIFFERENT-label vector (the hard negative — sim_hard_negatives'
    selection rule), and the signed cosine margin between them — the
    quantity triplet/contrastive losses drive positive and whose
    per-anchor distribution (how many anchors are 'satisfied') is the
    geometry health check run before/after every embedding
    fine-tune. Cosines are micro-quantized once (the standing
    convention); argmaxes are total-order ranks. Plan: 10 broadcast
    anchors × one corpus scan, two per-anchor rank windows, one
    anchor-keyed join."""
    emb = load_table(spark, sf_dir, "embeddings")
    from pyspark.sql import Window

    e = emb.select(
        "vec_id", "label", similarity.as_double("embedding").alias("v")
    ).withColumn("vnorm", similarity.norm("v"))
    anchors = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("anchor_label"),
        F.col("v").alias("av"),
        F.col("vnorm").alias("an"),
    )
    pairs = (
        F.broadcast(anchors)
        .join(e, e.vec_id != F.col("anchor_id"))
        .select(
            "anchor_id",
            "anchor_label",
            F.col("vec_id").alias("other_id"),
            F.col("label").alias("other_label"),
            F.round(
                1_000_000 * similarity.dot("av", "v") / (F.col("an") * F.col("vnorm"))
            )
            .cast("long")
            .alias("mc"),
        )
    )
    wp = Window.partitionBy("anchor_id").orderBy(F.desc("mc"), F.asc("other_id"))
    pos = (
        pairs.filter(F.col("other_label") == F.col("anchor_label"))
        .withColumn("r", F.row_number().over(wp))
        .filter(F.col("r") == 1)
        .select("anchor_id", F.col("other_id").alias("pos_id"), F.col("mc").alias("pos_mc"))
    )
    neg = (
        pairs.filter(F.col("other_label") != F.col("anchor_label"))
        .withColumn("r", F.row_number().over(wp))
        .filter(F.col("r") == 1)
        .select("anchor_id", F.col("other_id").alias("neg_id"), F.col("mc").alias("neg_mc"))
    )
    return pos.join(neg, "anchor_id").select(
        "anchor_id",
        "pos_id",
        "neg_id",
        (F.col("pos_mc") - F.col("neg_mc")).cast("long").alias("margin_micro"),
        (F.col("pos_mc") > F.col("neg_mc")).alias("satisfied"),
    )


_PR_CURVE_ORACLE = """
WITH s AS (
  SELECT CAST(round(CAST(value AS DECIMAL(12,2)) * 100) AS BIGINT) AS score,
         CASE WHEN event_type IN ('purchase', 'signup') THEN 1 ELSE 0 END AS y
  FROM events
), mx AS (
  SELECT MAX(score) AS max_s, CAST(SUM(y) AS BIGINT) AS n_pos FROM s
), thresholds AS (
  SELECT CAST(d AS BIGINT) AS decile,
         CAST(max_s * d // 10 AS BIGINT) AS thr, n_pos
  FROM mx, unnest([1, 2, 3, 4, 5, 6, 7, 8, 9]) AS u(d)
), pts AS (
  SELECT t.decile, t.thr, t.n_pos,
         CAST(SUM(CASE WHEN s.score >= t.thr THEN 1 ELSE 0 END) AS BIGINT)
           AS n_flagged,
         CAST(SUM(CASE WHEN s.score >= t.thr AND s.y = 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS tp
  FROM thresholds t JOIN s ON TRUE
  GROUP BY t.decile, t.thr, t.n_pos
)
SELECT decile, thr, n_flagged, tp,
       CAST(CASE WHEN n_flagged = 0 THEN 0
                 ELSE tp * 1000000 // n_flagged END AS BIGINT) AS precision_ppm,
       CAST(tp * 1000000 // n_pos AS BIGINT) AS recall_ppm
FROM pts
"""


@register("ml_pr_curve_points", oracle=_PR_CURVE_ORACLE, tags=("llm", "ml"))
def ml_pr_curve_points(spark, sf_dir):
    """PRECISION-RECALL curve at 9 decile thresholds of the score
    range — the threshold-dependent operating view the rank-only
    ROC-AUC (ml_roc_auc_exact) deliberately integrates away; together
    with ml_calibration_bins this completes the scored-classifier
    evaluation triptych (ranking, operating points, calibration).
    Thresholds are exact integer fractions of the max score (no float
    edges), counts are one grouped conditional aggregation over the
    broadcast 9-row threshold relation, precision/recall are exact ppm
    floor divisions with the zero-flagged guard."""
    from ..tables import VAL, dec

    ev = load_table(spark, sf_dir, "events")
    s = ev.select(
        F.round(dec("value", VAL) * 100).cast("long").alias("score"),
        F.when(F.col("event_type").isin("purchase", "signup"), F.lit(1))
        .otherwise(F.lit(0))
        .alias("y"),
    )
    mx = s.agg(
        F.max("score").alias("max_s"), F.sum("y").cast("long").alias("n_pos")
    )
    spark_ = ev.sparkSession
    dec9 = spark_.createDataFrame([(d,) for d in range(1, 10)], ["decile"])
    thresholds = F.broadcast(
        dec9.crossJoin(F.broadcast(mx)).select(
            F.col("decile").cast("long").alias("decile"),
            F.expr("CAST(max_s * decile DIV 10 AS BIGINT)").alias("thr"),
            "n_pos",
        )
    )
    pts = (
        s.crossJoin(thresholds)
        .groupBy("decile", "thr", "n_pos")
        .agg(
            F.sum(F.when(F.col("score") >= F.col("thr"), 1).otherwise(0))
            .cast("long")
            .alias("n_flagged"),
            F.sum(
                F.when((F.col("score") >= F.col("thr")) & (F.col("y") == 1), 1)
                .otherwise(0)
            )
            .cast("long")
            .alias("tp"),
        )
    )
    return pts.select(
        "decile",
        "thr",
        "n_flagged",
        "tp",
        F.expr(
            "CAST(CASE WHEN n_flagged = 0 THEN 0"
            " ELSE tp * 1000000 DIV n_flagged END AS BIGINT)"
        ).alias("precision_ppm"),
        F.expr("CAST(tp * 1000000 DIV n_pos AS BIGINT)").alias("recall_ppm"),
    )


_BURROWS_ORACLE = """
WITH tok AS (
  SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
), totals AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS t FROM tok GROUP BY source
), top10 AS (
  SELECT tok FROM tok GROUP BY tok ORDER BY COUNT(*) DESC, tok LIMIT 10
), c AS (
  SELECT tok.source, tok.tok, CAST(COUNT(*) AS BIGINT) AS c
  FROM tok JOIN top10 USING (tok) GROUP BY tok.source, tok.tok
), p AS (
  SELECT s.source, t10.tok,
         CAST(COALESCE(c.c, 0) * 1000000000 // s.t AS BIGINT) AS p
  FROM totals s CROSS JOIN top10 t10
  LEFT JOIN c ON c.source = s.source AND c.tok = t10.tok
), mstat AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(p) AS BIGINT) AS sp,
         CAST(SUM(CAST(p AS HUGEINT) * p) AS DECIMAL(38,0)) AS spp
  FROM p GROUP BY tok
), z AS (
  SELECT p.source, p.tok,
         CAST(round(1000000 * (m.k * p.p - m.sp)
                    / sqrt(CAST(m.k * m.spp - CAST(m.sp AS HUGEINT) * m.sp
                                AS DOUBLE))) AS BIGINT) AS zq
  FROM p JOIN mstat m USING (tok)
  WHERE m.k * m.spp - CAST(m.sp AS HUGEINT) * m.sp > 0
), pairs AS (
  SELECT a.source AS src_a, b.source AS src_b,
         CAST(SUM(ABS(a.zq - b.zq)) AS BIGINT) AS sum_absdz,
         CAST(COUNT(*) AS BIGINT) AS n_tokens
  FROM z a JOIN z b ON a.tok = b.tok AND a.source < b.source
  GROUP BY a.source, b.source
)
SELECT src_a, src_b, n_tokens,
       CAST(sum_absdz // n_tokens AS BIGINT) AS burrows_delta_micro
FROM pairs
"""


@register("text_burrows_delta", oracle=_BURROWS_ORACLE, tags=("llm", "text"))
def text_burrows_delta(spark, sf_dir):
    """BURROWS' DELTA stylometric distance between sources (Burrows
    2002): z-score each source's relative frequency of the corpus's 10
    most frequent tokens (function words — the author-invariant
    signal), then Delta(a,b) = mean |z_a − z_b| — the attribution
    metric that clusters sources by style rather than content, used in
    corpus curation to spot a crawler mislabeling one publisher as
    many. Exact-integer discipline at every cross-row step:
    frequencies are ppb integers by exact floor division, per-token
    moments are HUGEINT/DECIMAL(38), each z is ONE double expression
    (k·p − Σp over sqrt(k·Σp² − (Σp)²) — the sqrt of an exact integer
    is irrational except perfect squares, so the micro-quantization
    cannot sit on a repr boundary), and Delta is an exact integer mean
    of quantized |z| differences. Zero-variance tokens are excluded by
    an exact integer predicate. Plan: one token rollup, a 10-row
    broadcast of the vocabulary head, source-pair join over
    |sources|² · 10 rows — all bounded."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("source", F.explode(F.split("text", " ")).alias("tok"))
    totals = tok.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("t"))
    top10 = F.broadcast(
        tok.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("tok"))
        .limit(10)
        .select("tok")
    )
    c = (
        tok.join(top10, "tok")
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    p = (
        totals.crossJoin(top10)
        .join(c, ["source", "tok"], "left")
        .select(
            "source",
            "tok",
            F.expr(
                "CAST(COALESCE(c, 0) * 1000000000 DIV t AS BIGINT)"
            ).alias("p"),
        )
    )
    mstat = p.groupBy("tok").agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("p").cast("long").alias("sp"),
        F.sum(F.col("p").cast("decimal(38,0)") * F.col("p")).alias("spp"),
    )
    varx = (
        F.col("k") * F.col("spp").cast("double")
        - F.col("sp").cast("double") * F.col("sp")
    )
    z = (
        p.join(F.broadcast(mstat), "tok")
        .filter(
            F.col("k") * F.col("spp")
            - F.col("sp").cast("decimal(38,0)") * F.col("sp")
            > 0
        )
        .select(
            "source",
            "tok",
            F.round(
                1_000_000 * (F.col("k") * F.col("p") - F.col("sp")) / F.sqrt(varx)
            )
            .cast("long")
            .alias("zq"),
        )
    )
    a = z.select(F.col("source").alias("src_a"), "tok", F.col("zq").alias("za"))
    b = z.select(F.col("source").alias("src_b"), "tok", F.col("zq").alias("zb"))
    pairs = (
        a.join(b, "tok")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(
            F.sum(F.abs(F.col("za") - F.col("zb"))).cast("long").alias("sum_absdz"),
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
        )
    )
    return pairs.select(
        "src_a",
        "src_b",
        "n_tokens",
        F.expr("CAST(sum_absdz DIV n_tokens AS BIGINT)").alias(
            "burrows_delta_micro"
        ),
    )


# ---------------------------------------------------------------------------
# Round-10: streaming twin of the ExactSubstr tier (VERDICT r9 task #3)
# ---------------------------------------------------------------------------

_SUBSTR_STREAM_ORACLE = """
WITH c AS (
  SELECT MIN(doc_id) AS doc_id, MIN(text) AS text
  FROM documents GROUP BY md5(text)
), t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM c
), g AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         array_to_string(list_slice(toks, i, i + 7), ' ') AS gram
  FROM t, unnest(range(1, len(toks) - 6)) AS u(i)
), shared AS (
  SELECT gram FROM g GROUP BY gram
  HAVING COUNT(DISTINCT doc_id) BETWEEN 2 AND 50
), occ AS (
  SELECT g.* FROM g JOIN shared USING (gram)
), p AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.pos AS pa,
         a.pos - b.pos AS diag
  FROM occ a JOIN occ b USING (gram)
  WHERE a.doc_id < b.doc_id
), d AS (
  SELECT id_a, id_b, diag, pa,
         pa - row_number() OVER (PARTITION BY id_a, id_b, diag
                                 ORDER BY pa) AS grp
  FROM p
), runs AS (
  SELECT id_a, id_b, CAST(COUNT(*) + 7 AS BIGINT) AS span
  FROM d GROUP BY id_a, id_b, diag, grp
), tot AS (
  SELECT (MAX(doc_id) + 1) // 3 AS t1 FROM documents
)
SELECT id_a, id_b,
       CAST(MAX(span) AS BIGINT) AS max_shared_span,
       CAST(COUNT(*) AS BIGINT) AS n_runs
FROM runs, tot GROUP BY id_a, id_b, t1
HAVING MAX(span) >= 16 AND id_b >= t1
"""


@register(
    "dedup_substring_index_stream",
    oracle=_SUBSTR_STREAM_ORACLE,
    tags=("llm", "dedup", "streaming", "incremental"),
)
def dedup_substring_index_stream(spark, sf_dir):
    """INGEST-TIME ExactSubstr dedup through the REAL checkpointed
    stream (streaming/substr.py — VERDICT r9 task #3): the first
    tertile of documents (doc_id < (max+1)/3) builds the standing
    positional-gram index; the remaining two tertiles arrive as two
    file-source micro-batches (maxFilesPerTrigger=1) through the
    exactly-once foreachBatch ingest loop — each batch is flagged
    against the index (batch-vs-index AND within-batch, islands
    assembled over the union of both sides' positions so a shared run
    SPANNING the cut is found whole) and then appended to the index.
    The returned relation is the union of the epoch-partitioned hit
    files. The oracle recomputes the batch ExactSubstr pair set from
    raw documents and keeps pairs not wholly inside the indexed
    prefix — it never sees the stream, so a dropped micro-batch, a
    mis-capped gram, a clone mishandled at the cut, or an island
    split across the ingest boundary breaks the hash."""
    import os

    from ..streaming.substr import build_gram_index, ingest_substr_stream

    name = f"{ephemeral_database(spark, 'substrdb')}.substr_ingest"
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    mx = docs.agg(F.max("doc_id")).collect()[0][0]
    t1 = (int(mx) + 1) // 3
    build_gram_index(docs.filter(F.col("doc_id") < t1), name)
    work = ephemeral_dir("substr_stream_")
    data_dir = stage_batches(
        docs.filter(F.col("doc_id") >= t1)
        .withColumn("__b", (F.col("doc_id") >= 2 * t1).cast("int")),
        "__b",
        work,
    )
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(data_dir)
    )
    hits_dir = os.path.join(work, "hits")
    q = ingest_substr_stream(
        stream, name, hits_dir, os.path.join(work, "ckpt")
    ).start()
    await_done(q, 600)
    return spark.read.schema(
        "id_a long, id_b long, max_shared_span long, n_runs long"
    ).parquet(hits_dir).select("id_a", "id_b", "max_shared_span", "n_runs")


# ---------------------------------------------------------------------------
# Round-10: Bloom decontamination IN-FLIGHT through the checkpointed
# consumer (VERDICT r9 task #4)
# ---------------------------------------------------------------------------

_BLOOM_STREAM_ORACLE = """
WITH d AS (
  SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents
), g AS (
  SELECT DISTINCT doc_id, source,
         array_to_string(toks[i:i+7], ' ') AS gram
  FROM d, UNNEST(generate_series(1, len(toks) - 7)) AS t(i)
  WHERE len(toks) >= 8
), bench AS (
  SELECT DISTINCT gram FROM g WHERE source = 'src0'
), js AS (SELECT unnest([0, 1, 2, 3]) AS j),
bits AS (
  SELECT DISTINCT
         CAST(('0x' || substring(md5('bdc' || CAST(j AS VARCHAR) || ':' || gram),
                                 1, 8)) AS BIGINT) % 262144 AS pos
  FROM bench, js
), cand AS (
  SELECT doc_id, gram FROM g WHERE source <> 'src0'
), gp AS (
  SELECT doc_id, gram, j,
         CAST(('0x' || substring(md5('bdc' || CAST(j AS VARCHAR) || ':' || gram),
                                 1, 8)) AS BIGINT) % 262144 AS pos
  FROM cand, js
), suspects AS (
  SELECT doc_id, gram FROM gp JOIN bits USING (pos)
  GROUP BY doc_id, gram HAVING COUNT(*) = 4
), confirmed AS (
  SELECT DISTINCT s.doc_id FROM suspects s JOIN bench b ON b.gram = s.gram
), per_doc AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams FROM cand GROUP BY doc_id
), susp_doc AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_suspect_grams
  FROM suspects GROUP BY doc_id
), tot AS (
  SELECT (MAX(doc_id) + 1) // 3 AS t1 FROM documents
)
SELECT dd.doc_id,
       CAST(CASE WHEN dd.doc_id < t1 THEN 0
                 WHEN dd.doc_id < 2 * t1 THEN 1 ELSE 2 END AS INTEGER) AS epoch,
       COALESCE(per_doc.n_grams, 0) AS n_grams,
       COALESCE(susp_doc.n_suspect_grams, 0) AS n_suspect_grams,
       COALESCE(susp_doc.n_suspect_grams, 0) > 0 AS bloom_flagged,
       confirmed.doc_id IS NOT NULL AS confirmed_contaminated
FROM (SELECT DISTINCT doc_id FROM d WHERE source <> 'src0') dd
LEFT JOIN per_doc USING (doc_id)
LEFT JOIN susp_doc USING (doc_id)
LEFT JOIN confirmed ON confirmed.doc_id = dd.doc_id
CROSS JOIN tot
"""


@register(
    "pipeline_bloom_decontam_stream",
    oracle=_BLOOM_STREAM_ORACLE,
    tags=("llm", "pipeline", "sketch", "streaming"),
)
def pipeline_bloom_decontam_stream(spark, sf_dir):
    """IN-FLIGHT Bloom decontamination through the REAL checkpointed
    foreachBatch consumer drive (streaming/decontam.py — VERDICT r9
    task #4): the benchmark (source = src0) compresses once into the
    k=4 / m=2^18 md5-prefix bit-set; the remaining documents arrive as
    THREE id-ordered file-source micro-batches (maxFilesPerTrigger=1),
    each screened map-side against the broadcast bits, with only the
    Bloom-positive grams paying the exact verification join — the
    two-tier screen a 100 TB ingest runs. One disposition row per
    arriving doc lands epoch-partitioned. The oracle rebuilds the
    bloom, the suspect tier, and the exact tier independently from raw
    documents (never sees the stream) and pins per-doc gram counts,
    suspect counts, the bloom verdict, the confirmed verdict, AND the
    epoch each doc must land in — a dropped batch, a wrong bit, a
    false negative (soundness breach), or a doc screened in the wrong
    epoch breaks the hash."""
    import os

    from ..streaming.decontam import decontam_stream

    docs = load_table(spark, sf_dir, "documents")
    mx = docs.agg(F.max("doc_id")).collect()[0][0]
    t1 = (int(mx) + 1) // 3
    bench = docs.filter(F.col("source") == "src0").select("doc_id", "text")
    cand = docs.filter(F.col("source") != "src0").select("doc_id", "text")
    work = ephemeral_dir("bloom_stream_")
    data_dir = stage_batches(
        cand.withColumn(
            "__b",
            F.when(F.col("doc_id") < t1, 0)
            .when(F.col("doc_id") < 2 * t1, 1)
            .otherwise(2),
        ),
        "__b",
        work,
    )
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(data_dir)
    )
    out_dir = os.path.join(work, "out")
    q = decontam_stream(
        stream, bench, out_dir, os.path.join(work, "ckpt")
    ).start()
    await_done(q, 600)
    return spark.read.schema(
        "doc_id long, n_grams long, n_suspect_grams long,"
        " bloom_flagged boolean, confirmed_contaminated boolean, epoch int"
    ).parquet(out_dir).select(
        "doc_id",
        "epoch",
        "n_grams",
        "n_suspect_grams",
        "bloom_flagged",
        "confirmed_contaminated",
    )


# ---------------------------------------------------------------------------
# Round-10: data-grounded LSH parameter planner.
# ---------------------------------------------------------------------------

_LSH_PLANNER_ORACLE = """
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(toks) - 1),
                       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
           AS shingles
  FROM t WHERE len(toks) >= 3
), pairs AS (
  SELECT CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
           / len(list_distinct(list_concat(a.shingles, b.shingles))) AS j
  FROM sh a, sh b
  WHERE a.doc_id < b.doc_id
    AND CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
        / len(list_distinct(list_concat(a.shingles, b.shingles))) >= 0.3
), params AS (
  SELECT * FROM (VALUES (32, 1), (16, 2), (8, 4), (4, 8), (2, 16),
                        (1, 32)) AS p(bands, rows_per_band)
), scored AS (
  SELECT bands, rows_per_band,
         CAST(round(1000000 * (1 - power(1 - power(j, rows_per_band), bands)))
              AS BIGINT) AS p_micro
  FROM pairs, params
)
SELECT CAST(bands AS BIGINT) AS bands,
       CAST(rows_per_band AS BIGINT) AS rows_per_band,
       CAST(COUNT(*) AS BIGINT) AS n_true_pairs,
       CAST(SUM(p_micro) // COUNT(*) AS BIGINT) AS expected_recall_micro
FROM scored GROUP BY bands, rows_per_band
"""


@register(
    "dedup_lsh_param_planner", oracle=_LSH_PLANNER_ORACLE, tags=("llm", "dedup", "lsh")
)
def dedup_lsh_param_planner(spark, sf_dir):
    """DATA-GROUNDED LSH parameter planner: for every (bands, rows)
    split of the 32 minhashes, the EXPECTED candidate recall over this
    corpus's OBSERVED near-pair population (exact-Jaccard pairs ≥ 0.3)
    via the S-curve P(candidate) = 1 − (1 − j^r)^b evaluated at each
    true pair's exact Jaccard — the number that answers "if I rebank
    16×2 → 8×4, what recall do I give up HERE?" (the textbook curve
    assumes a Jaccard distribution; this weighs it by the real one).
    Each pair's probability is micro-quantized immediately (one pow
    chain — the Burrows rule) so the per-parameter mean is an exact
    integer floor-mean. COLLAPSE-FIRST like every pairwise consumer:
    the exact PPJoin runs on canonical docs only, cross-family pairs
    carry weight n_a*n_b and in-family clone pairs contribute m(m-1)/2
    at j = 1.0 (p_micro = 10^6 for every parameter choice) — VALUES
    identical to the flat enumeration (clones share shingle sets), at
    family-pair instead of raw-pair cost (the flat form measured 14.6x
    on the clone-replicated 10x probe; collapsed it is sub-linear).
    Plan: one collapse rollup + one canonical PPJoin + one 6-row
    broadcast + one weighted rollup."""
    docs = load_table(spark, sf_dir, "documents")
    # eager pin (optimization r13, guide §3.3): fams feeds FOUR
    # consumers (the PPJoin input, both broadcast member joins, the
    # clique rollup) — unpinned, each re-derived the md5 collapse over
    # the full corpus text
    fams = pin(
        docs.groupBy(F.md5("text").alias("__fp"))
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.min("text").alias("text"),
            F.count(F.lit(1)).cast("long").alias("n_members"),
        )
        .drop("__fp")
    )
    members = fams.select("doc_id", "n_members")
    cpairs = (
        dedup.exact_jaccard_pairs(fams.select("doc_id", "text"), threshold=0.3)
        .join(
            F.broadcast(
                members.withColumnRenamed("doc_id", "id_a").withColumnRenamed(
                    "n_members", "m_a"
                )
            ),
            "id_a",
        )
        .join(
            F.broadcast(
                members.withColumnRenamed("doc_id", "id_b").withColumnRenamed(
                    "n_members", "m_b"
                )
            ),
            "id_b",
        )
        .select("jaccard", (F.col("m_a") * F.col("m_b")).alias("w"))
    )
    cliques = fams.filter(F.col("n_members") >= 2).select(
        F.lit(1.0).alias("jaccard"),
        (F.col("n_members") * (F.col("n_members") - 1) / 2)
        .cast("long")
        .alias("w"),
    )
    pairs = cpairs.unionByName(cliques)
    params = spark.createDataFrame(
        [(32, 1), (16, 2), (8, 4), (4, 8), (2, 16), (1, 32)],
        "bands int, rows_per_band int",
    )
    scored = pairs.crossJoin(F.broadcast(params)).select(
        "bands",
        "rows_per_band",
        "w",
        F.round(
            1000000
            * (
                1
                - F.pow(
                    1 - F.pow(F.col("jaccard"), F.col("rows_per_band")),
                    F.col("bands"),
                )
            )
        )
        .cast("long")
        .alias("p_micro"),
    )
    return scored.groupBy(
        F.col("bands").cast("long").alias("bands"),
        F.col("rows_per_band").cast("long").alias("rows_per_band"),
    ).agg(
        F.sum("w").cast("long").alias("n_true_pairs"),
        F.expr(
            "CAST(SUM(CAST(w AS DECIMAL(38,0)) * p_micro) DIV SUM(w) AS BIGINT)"
        ).alias("expected_recall_micro"),
    )
