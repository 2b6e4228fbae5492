"""Asymmetric / ordering-based near-dup operators and higher-order text
models: set-containment pairs, sorted-neighborhood candidates, winnowing
(MOSS) fingerprints, and a corpus bigram LM junk filter.

Reference parity: the reference (thanminh24/CDC_POC) implements none of
this (SURVEY.md §2 — no similarity or text code at all); these extend
the dedup/text surface per the north-star brief alongside
queries/llm_ops.py.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import dedup, text
from ..operators.scale import pin
from ..tables import load_table
from . import register

# ---------------------------------------------------------------------------
# Exact set-containment pairs (asymmetric near-dup).
# ---------------------------------------------------------------------------

_CONTAINMENT_ORACLE = """
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(toks) - 1),
                       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles
  FROM t WHERE len(toks) >= 3
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
         / CAST(len(a.shingles) AS DOUBLE) AS containment
FROM sh a, sh b
WHERE a.doc_id <> b.doc_id
  AND CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
      / CAST(len(a.shingles) AS DOUBLE) >= 0.9 - 1e-9
"""


@register("dedup_token_containment", oracle=_CONTAINMENT_ORACLE, tags=("llm", "dedup"))
def dedup_token_containment(spark, sf_dir):
    """Exact 3-gram set-containment pairs c(A→B) = |A∩B|/|A| >= 0.9 —
    the asymmetric near-dup relation (doc embedded in a longer doc)
    that Jaccard misses. Routed through CLONE COLLAPSE (the standing
    rule for every pairwise consumer): canonical-per-family asymmetric
    prefix join (probe prefixes vs full index side, positional bound,
    exact verification), ordered member expansion + in-family 1.0
    cliques — output-identical to the flat operator (asserted on a
    clone-doubled fixture) and to the oracle's quadratic self-join; see
    operators/dedup.py:exact_containment_pairs{,_collapsed} for the
    100 TB shape."""
    return dedup.exact_containment_pairs_collapsed(
        load_table(spark, sf_dir, "documents")
    )


# ---------------------------------------------------------------------------
# Sorted-neighborhood method.
# ---------------------------------------------------------------------------

_SNM_W = 4
_SNM_T = 0.5

_SNM_ORACLE = f"""
WITH d AS (
  SELECT doc_id,
         list_sort(list_distinct(list_filter(string_split(text, ' '),
                                             x -> x <> ''))) AS tset
  FROM documents
), r AS (
  SELECT doc_id, tset,
         row_number() OVER (ORDER BY array_to_string(tset[1:5], ' '), doc_id) - 1 AS rk
  FROM d
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(b.rk - a.rk AS BIGINT) AS rank_gap,
       CAST(len(list_intersect(a.tset, b.tset)) AS DOUBLE)
         / len(list_distinct(list_concat(a.tset, b.tset))) AS jaccard
FROM r a JOIN r b ON b.rk > a.rk AND b.rk <= a.rk + {_SNM_W}
WHERE CAST(len(list_intersect(a.tset, b.tset)) AS DOUBLE)
      / len(list_distinct(list_concat(a.tset, b.tset))) >= {_SNM_T}
"""


@register("dedup_sorted_neighborhood", oracle=_SNM_ORACLE, tags=("llm", "dedup"))
def dedup_sorted_neighborhood(spark, sf_dir):
    """Sorted-neighborhood near-dup pass (Hernández-Stolfo): one global
    sort by a cheap blocking key (5 alphabetically-first distinct
    tokens), compare each doc to its 4 successors, verify with exact
    token Jaccard >= 0.5. Linear candidate count; the global rank is the
    distributed two-pass global_index, never a one-task window."""
    return dedup.sorted_neighborhood_pairs(
        load_table(spark, sf_dir, "documents"), window=_SNM_W, threshold=_SNM_T
    )


# ---------------------------------------------------------------------------
# Winnowing (MOSS) fingerprints.
# ---------------------------------------------------------------------------

_WINNOW_K = 4
_WINNOW_W = 5

_WINNOW_ORACLE = f"""
WITH t AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents
), g AS (
  SELECT doc_id, len(toks) - {_WINNOW_K} + 1 AS n_grams, toks,
         unnest(generate_series(1, len(toks) - {_WINNOW_K} + 1)) AS p
  FROM t WHERE len(toks) >= {_WINNOW_K}
), h AS (
  SELECT doc_id, n_grams,
         greatest(1, n_grams - {_WINNOW_W} + 1) AS n_windows, p,
         CAST(('0x' || substring(md5(array_to_string(toks[p:p+{_WINNOW_K} - 1], ' ')), 1, 8))
              AS BIGINT) * 1048576 + (1048575 - p) AS key
  FROM g
), win AS (
  SELECT doc_id, n_grams, n_windows, p - o.off AS ws, MIN(key) AS sel_key
  FROM h, generate_series(0, {_WINNOW_W} - 1) AS o(off)
  WHERE p - o.off >= 1 AND p - o.off <= n_windows
  GROUP BY doc_id, n_grams, n_windows, p - o.off
)
SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
       CAST(n_windows AS BIGINT) AS n_windows,
       CAST(COUNT(DISTINCT sel_key) AS BIGINT) AS n_fingerprints,
       CAST(SUM(DISTINCT sel_key) AS BIGINT) AS fp_checksum
FROM win
GROUP BY doc_id, n_grams, n_windows
"""


@register("text_winnowing_fingerprints", oracle=_WINNOW_ORACLE, tags=("llm", "text"))
def text_winnowing_fingerprints(spark, sf_dir):
    """Winnowing fingerprint sketch per document (Schleimer et al.
    SIGMOD'03): min-hash-per-sliding-window gram selection with the
    rightmost tie-break, as one packed-bigint MIN aggregate — counts
    plus an exact SUM(DISTINCT) checksum. See
    operators/text.py:winnowing_fingerprints for the guarantee and the
    scale shape."""
    d = text.winnowing_fingerprints(
        load_table(spark, sf_dir, "documents"), k=_WINNOW_K, w=_WINNOW_W
    )
    return d.select(
        "doc_id",
        F.col("n_grams").cast("long").alias("n_grams"),
        F.col("n_windows").cast("long").alias("n_windows"),
        F.col("n_fingerprints").cast("long").alias("n_fingerprints"),
        F.col("fp_checksum").cast("long").alias("fp_checksum"),
    )


# ---------------------------------------------------------------------------
# Bigram-LM junk filter.
# ---------------------------------------------------------------------------

_BIGRAM_K = 50

_BIGRAM_ORACLE = f"""
WITH t AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents
), tok AS (
  SELECT unnest(toks) AS tok FROM t
), c1 AS (
  SELECT tok, COUNT(*) AS c1 FROM tok GROUP BY tok
), v AS (
  SELECT COUNT(*) AS v FROM c1
), bg AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(toks) - 1),
                i -> [toks[i], toks[i + 1]])) AS pair
  FROM t WHERE len(toks) >= 2
), b AS (
  SELECT doc_id, pair[1] AS w1, pair[2] AS w2 FROM bg
), c2 AS (
  SELECT w1, w2, COUNT(*) AS c2 FROM b GROUP BY w1, w2
), p AS (
  SELECT c2.w1, c2.w2,
         CAST(round(ln(CAST(c2.c2 + 1 AS DOUBLE) / CAST(c1.c1 + v.v AS DOUBLE)) * 1e6)
              AS BIGINT) AS q_lp
  FROM c2 JOIN c1 ON c1.tok = c2.w1, v
), d AS (
  SELECT b.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         CAST(SUM(p.q_lp) AS BIGINT) AS q_lp_sum
  FROM b JOIN p ON p.w1 = b.w1 AND p.w2 = b.w2
  GROUP BY b.doc_id
)
SELECT doc_id, n_bigrams, q_lp_sum,
       CAST(FLOOR(CAST(q_lp_sum AS DOUBLE) / n_bigrams) AS BIGINT) AS avg_micro_nats
FROM d ORDER BY avg_micro_nats ASC, doc_id ASC LIMIT {_BIGRAM_K}
"""


@register("text_bigram_logprob_junk", oracle=_BIGRAM_ORACLE, tags=("llm", "text", "quality"))
def text_bigram_logprob_junk(spark, sf_dir):
    """The 50 documents least likely under the corpus's own add-one-
    smoothed BIGRAM LM — the order-2 upgrade of
    text_unigram_logprob_junk (token salad with common unigrams now
    scores low). Same exactness contract: per-bigram ln p quantized to
    int64 micro-nats before the per-doc sum; ranking is
    TakeOrderedAndProject on (avg_micro_nats, doc_id). See
    operators/text.py:bigram_logprob for the scale shape."""
    return (
        text.bigram_logprob(load_table(spark, sf_dir, "documents"))
        .orderBy(F.asc("avg_micro_nats"), F.asc("doc_id"))
        .limit(_BIGRAM_K)
    )


# ---------------------------------------------------------------------------
# Cross-document overlap via shared winnowing fingerprints.
# ---------------------------------------------------------------------------

_OVERLAP_DF_CAP = 64
_OVERLAP_MIN_SHARED = 5

_WINNOW_OVERLAP_ORACLE = f"""
WITH t AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents
), g AS (
  SELECT doc_id, len(toks) - {_WINNOW_K} + 1 AS n_grams, toks,
         unnest(generate_series(1, len(toks) - {_WINNOW_K} + 1)) AS p
  FROM t WHERE len(toks) >= {_WINNOW_K}
), h AS (
  SELECT doc_id, greatest(1, n_grams - {_WINNOW_W} + 1) AS n_windows, p,
         CAST(('0x' || substring(md5(array_to_string(toks[p:p+{_WINNOW_K} - 1], ' ')), 1, 8))
              AS BIGINT) * 1048576 + (1048575 - p) AS key
  FROM g
), win AS (
  SELECT doc_id, p - o.off AS ws, MIN(key) AS sel_key
  FROM h, generate_series(0, {_WINNOW_W} - 1) AS o(off)
  WHERE p - o.off >= 1 AND p - o.off <= n_windows
  GROUP BY doc_id, p - o.off
), sel AS (
  SELECT DISTINCT doc_id, sel_key // 1048576 AS fh FROM win
), dfc AS (
  SELECT fh FROM sel GROUP BY fh
  HAVING COUNT(*) <= {_OVERLAP_DF_CAP}
), s2 AS (
  SELECT sel.doc_id, sel.fh FROM sel JOIN dfc USING (fh)
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(COUNT(*) AS BIGINT) AS n_shared
FROM s2 a JOIN s2 b ON a.fh = b.fh AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING COUNT(*) >= {_OVERLAP_MIN_SHARED}
"""


@register(
    "text_winnowing_overlap_pairs", oracle=_WINNOW_OVERLAP_ORACLE, tags=("llm", "text", "dedup")
)
def text_winnowing_overlap_pairs(spark, sf_dir):
    """Document pairs sharing >= 5 winnowing fingerprint hashes — the
    MOSS-style overlap report (each shared fingerprint witnesses a
    shared k-gram, and any shared run of k+w-1 tokens is guaranteed at
    least one). Fingerprints occurring in more than 64 documents are
    dropped BEFORE the pair join (identically in the oracle — the
    semantics of the operator include the cap): an ultra-common
    fingerprint is corpus boilerplate, and its df² pair blowup is the
    exact defect class the LSH bucket cap (_cap_buckets) already
    guards; exact clone families route through exact/fingerprint dedup
    first, as everywhere else in this engine.

    Scale shape: the selection is the winnowing aggregate (map-side
    explode ×w, one keyed MIN); the df cap is one fingerprint-keyed
    count; the pair join is an equi-join on the fingerprint hash with
    per-key fanout bounded by the cap — no cartesian, output bounded by
    capped-df² per hash."""
    from ..operators.text import winnowing_selected

    sel = winnowing_selected(
        load_table(spark, sf_dir, "documents"), k=_WINNOW_K, w=_WINNOW_W
    ).select("doc_id", "h").distinct()
    dfc = sel.groupBy("h").agg(F.count(F.lit(1)).alias("df")).filter(
        F.col("df") <= _OVERLAP_DF_CAP
    )
    s2 = sel.join(dfc.select("h"), "h")
    a = s2.select(F.col("doc_id").alias("id_a"), "h")
    b = s2.select(F.col("doc_id").alias("id_b"), "h")
    return (
        a.join(b, "h")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= _OVERLAP_MIN_SHARED)
    )


# ---------------------------------------------------------------------------
# Round-6 text analytics: lexical diversity, char-ngram source profile,
# PMI collocations, RAKE keyword extraction.
# ---------------------------------------------------------------------------

_LEXDIV_ORACLE = """
WITH t AS (
  SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
), f AS (
  SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c FROM t GROUP BY 1, 2
)
SELECT source,
       CAST(SUM(c) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_types,
       CAST(count_if(c = 1) AS BIGINT) AS n_hapax,
       round(CAST(COUNT(*) AS DOUBLE) / SUM(c), 6) AS type_token_ratio,
       round(CAST(count_if(c = 1) AS DOUBLE) / COUNT(*), 6) AS hapax_share
FROM f GROUP BY source
"""


@register("text_lexical_diversity", oracle=_LEXDIV_ORACLE, tags=("llm", "text", "quality"))
def text_lexical_diversity(spark, sf_dir):
    """Per-source lexical-diversity profile: type-token ratio and hapax
    share — the vocabulary-richness signals that separate generated /
    templated junk (low TTR, few hapax) from natural prose in corpus
    quality dashboards. Exact integers + two final divisions. Plan: one
    explode + two keyed aggs, all map-side-combinable."""
    docs = load_table(spark, sf_dir, "documents")
    f = (
        docs.select("source", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return f.groupBy("source").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
        F.count(F.when(F.col("c") == 1, 1)).alias("n_hapax"),
        F.round(F.count(F.lit(1)).cast("double") / F.sum("c"), 6).alias(
            "type_token_ratio"
        ),
        F.round(
            F.count(F.when(F.col("c") == 1, 1)).cast("double") / F.count(F.lit(1)), 6
        ).alias("hapax_share"),
    )


_CHARGRAM_ORACLE = """
WITH g AS (
  SELECT source, substring(text, s.i, 3) AS gram
  FROM documents,
       LATERAL unnest(generate_series(1, greatest(length(text) - 2, 0))) AS s(i)
), c AS (
  SELECT source, gram, CAST(COUNT(*) AS BIGINT) AS n FROM g GROUP BY 1, 2
), r AS (
  SELECT *, row_number() OVER (PARTITION BY source
                               ORDER BY n DESC, gram) AS rnk
  FROM c
)
SELECT source, gram, n, CAST(rnk AS BIGINT) AS rnk FROM r WHERE rnk <= 5
"""


@register("text_char_ngram_profile", oracle=_CHARGRAM_ORACLE, tags=("llm", "text"))
def text_char_ngram_profile(spark, sf_dir):
    """Top-5 character trigrams per source with counts — the
    language/script fingerprint cheap lang-id and encoding-anomaly
    detection read (a source whose trigram head suddenly shifts has a
    scraper or charset problem). Map-side position explode + one keyed
    count + one small window over the per-source gram relation.
    Deterministic ties by gram string."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    g = docs.select(
        "source",
        F.posexplode(
            F.expr("transform(sequence(1, greatest(length(text) - 2, 0)),"
                   " i -> substring(text, i, 3))")
        ).alias("_p", "gram"),
    ).drop("_p")
    c = g.groupBy("source", "gram").agg(F.count(F.lit(1)).alias("n"))
    w = W.partitionBy("source").orderBy(F.desc("n"), F.asc("gram"))
    return (
        c.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 5)
    )


_PMI_MIN_COUNT = 10

_PMI_ORACLE = f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), pos AS (
  SELECT doc_id, s.i AS p, toks[s.i] AS tok
  FROM t, LATERAL unnest(generate_series(1, len(toks))) AS s(i)
), uni AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM pos GROUP BY tok
), n AS (
  SELECT CAST(SUM(c) AS BIGINT) AS total FROM uni
), pairs AS (
  SELECT least(a.tok, b.tok) AS w1, greatest(a.tok, b.tok) AS w2,
         CAST(COUNT(*) AS BIGINT) AS c_xy
  FROM pos a JOIN pos b
    ON a.doc_id = b.doc_id AND b.p - a.p BETWEEN 1 AND 2
  GROUP BY 1, 2
  HAVING COUNT(*) >= {_PMI_MIN_COUNT}
)
SELECT p.w1, p.w2, p.c_xy,
       round(ln(CAST(p.c_xy AS DOUBLE) * n.total
                / (CAST(u1.c AS DOUBLE) * u2.c)), 6) AS pmi
FROM pairs p
JOIN uni u1 ON u1.tok = p.w1
JOIN uni u2 ON u2.tok = p.w2, n
"""


@register("text_collocations_pmi", oracle=_PMI_ORACLE, tags=("llm", "text"))
def text_collocations_pmi(spark, sf_dir):
    """Pointwise mutual information of token pairs co-occurring within
    a +-2 window — the collocation detector ("strongly associated word
    pairs") behind phrase mining and tokenizer-merge candidates.
    Co-occurrence pairing is an equi-join on doc_id with a 1..2
    position band (per-doc fanout 2n, never n^2); counts are exact;
    PMI is ONE ln expression per pair. Plan: position explode, one
    keyed pair count, two broadcast unigram joins + broadcast total."""
    docs = load_table(spark, sf_dir, "documents")
    pos = docs.select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("p", "tok"),
    )
    uni = pos.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    n = uni.agg(F.sum("c").alias("total"))
    # offset explode -> EQUI-join on (doc, position): per-token fanout is
    # exactly 2, never the n^2 a doc-keyed band filter would produce
    a = pos.select(
        "doc_id", F.col("p").alias("pa"), F.col("tok").alias("ta")
    ).withColumn("off", F.explode(F.array(F.lit(1), F.lit(2))))
    b = pos.select(
        "doc_id", (F.col("p")).alias("pb"), F.col("tok").alias("tb")
    )
    pairs = (
        a.withColumn("pb", F.col("pa") + F.col("off"))
        .join(b, ["doc_id", "pb"])
        .select(
            F.least("ta", "tb").alias("w1"), F.greatest("ta", "tb").alias("w2")
        )
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_xy"))
        .filter(F.col("c_xy") >= _PMI_MIN_COUNT)
    )
    u1 = uni.select(F.col("tok").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("tok").alias("w2"), F.col("c").alias("c2"))
    return (
        pairs.join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .crossJoin(F.broadcast(n))
        .select(
            "w1",
            "w2",
            "c_xy",
            F.round(
                F.log(
                    F.col("c_xy").cast("double")
                    * F.col("total")
                    / (F.col("c1").cast("double") * F.col("c2"))
                ),
                6,
            ).alias("pmi"),
        )
    )


_RAKE_STOPWORDS = ("the", "a")
_RAKE_MAX_PHRASE = 4
_RAKE_MIN_COUNT = 2

_RAKE_ORACLE = f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), pos AS (
  SELECT doc_id, s.i AS p, toks[s.i] AS tok,
         toks[s.i] IN ('the', 'a') AS stop
  FROM t, LATERAL unnest(generate_series(1, len(toks))) AS s(i)
), grp AS (
  SELECT doc_id, p, tok, stop,
         SUM(CASE WHEN stop THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY p) AS g
  FROM pos
), phr AS (
  SELECT doc_id, g, string_agg(tok, ' ' ORDER BY p) AS phrase,
         CAST(COUNT(*) AS BIGINT) AS plen
  FROM grp WHERE NOT stop GROUP BY doc_id, g
  HAVING COUNT(*) <= {_RAKE_MAX_PHRASE}
), pw AS (
  SELECT phrase, plen, unnest(string_split(phrase, ' ')) AS w FROM phr
), wstat AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS freq,
         CAST(SUM(plen) AS BIGINT) AS deg
  FROM pw GROUP BY w
), occ AS (
  SELECT phrase, CAST(COUNT(*) AS BIGINT) AS n_occurrences
  FROM phr GROUP BY phrase
), ps AS (
  SELECT d.phrase, round(SUM(CAST(ws.deg AS DOUBLE) / ws.freq), 6) AS rake_score
  FROM (SELECT DISTINCT phrase FROM phr) d,
       LATERAL unnest(string_split(d.phrase, ' ')) AS x(w)
  JOIN wstat ws ON ws.w = x.w
  GROUP BY d.phrase
)
SELECT o.phrase, o.n_occurrences, ps.rake_score
FROM occ o JOIN ps ON ps.phrase = o.phrase
WHERE o.n_occurrences >= {_RAKE_MIN_COUNT}
"""


@register("text_rake_keywords", oracle=_RAKE_ORACLE, tags=("llm", "text"))
def text_rake_keywords(spark, sf_dir):
    """RAKE keyword extraction (Rose et al. 2010): candidate phrases =
    maximal stopword-free token runs (<= 4 tokens); word score =
    degree/frequency over the phrase corpus; phrase score = sum of its
    words' scores — the classic unsupervised keyword extractor, run
    per-corpus. Phrase assembly is windowed grouping on the cumulative
    stopword count (deterministic order via sorted position structs —
    collect_list alone is shuffle-order-dependent); scoring is exact
    integer degree/freq with one float sum over <= 4 ratio terms.
    Emits every phrase occurring >= 2 times with its score."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    pos = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("p", "tok")
    ).withColumn("stop", F.col("tok").isin(*_RAKE_STOPWORDS))
    wg = W.partitionBy("doc_id").orderBy("p").rowsBetween(W.unboundedPreceding, 0)
    grp = pos.withColumn(
        "g", F.sum(F.when(F.col("stop"), 1).otherwise(0)).over(wg)
    )
    phr = (
        grp.filter(~F.col("stop"))
        .groupBy("doc_id", "g")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("p", "tok"))),
                    lambda s: s["tok"],
                ),
                " ",
            ).alias("phrase"),
            F.count(F.lit(1)).alias("plen"),
        )
        .filter(F.col("plen") <= _RAKE_MAX_PHRASE)
    )
    pw = phr.select("phrase", "plen", F.explode(F.split("phrase", " ")).alias("w"))
    wstat = pw.groupBy("w").agg(
        F.count(F.lit(1)).alias("freq"), F.sum("plen").alias("deg")
    )
    ps = (
        phr.select("phrase").distinct()
        .select("phrase", F.explode(F.split("phrase", " ")).alias("w"))
        .join(F.broadcast(wstat), "w")
        .groupBy("phrase")
        .agg(
            F.round(
                F.sum(F.col("deg").cast("double") / F.col("freq")), 6
            ).alias("rake_score")
        )
    )
    occ = phr.groupBy("phrase").agg(F.count(F.lit(1)).alias("n_occurrences"))
    return (
        occ.join(ps, "phrase")
        .filter(F.col("n_occurrences") >= _RAKE_MIN_COUNT)
        .select("phrase", "n_occurrences", "rake_score")
    )


# ---------------------------------------------------------------------------
# Round-6: TextRank keyword extraction — weighted PageRank on the token
# co-occurrence graph (Mihalcea & Tarau, "TextRank: Bringing Order into
# Text", EMNLP 2004), 3 iterations in EXACT integer arithmetic.
# ---------------------------------------------------------------------------

_TR_MIN_COUNT = 5
_TR_TOPK = 15
_TR_MASS = 1_000_000_000_000  # total rank mass (pico-units)

_TEXTRANK_ORACLE = f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), pos AS (
  SELECT doc_id, s.i AS p, toks[s.i] AS tok
  FROM t, LATERAL unnest(generate_series(1, len(toks))) AS s(i)
), pairs AS (
  SELECT least(a.tok, b.tok) AS w1, greatest(a.tok, b.tok) AS w2,
         CAST(COUNT(*) AS BIGINT) AS w
  FROM pos a JOIN pos b
    ON a.doc_id = b.doc_id AND b.p - a.p BETWEEN 1 AND 2
  GROUP BY 1, 2
  HAVING COUNT(*) >= {_TR_MIN_COUNT}
), sym AS (
  SELECT w1 AS u, w2 AS v, w FROM pairs
  UNION ALL
  SELECT w2 AS u, w1 AS v, w FROM pairs
), ws AS (
  SELECT u AS node, CAST(SUM(w) AS BIGINT) AS wu FROM sym GROUP BY u
), nn AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes FROM ws
), r0 AS (
  SELECT node, CAST({_TR_MASS} // n_nodes AS BIGINT) AS r FROM ws, nn
), c1 AS (
  SELECT sym.v AS node, CAST(SUM(r0.r * sym.w // ws.wu) AS BIGINT) AS s
  FROM sym JOIN r0 ON r0.node = sym.u JOIN ws ON ws.node = sym.u
  GROUP BY sym.v
), r1 AS (
  SELECT c1.node,
         CAST(15 * ({_TR_MASS} // nn.n_nodes) // 100 + 85 * c1.s // 100
              AS BIGINT) AS r
  FROM c1, nn
), c2 AS (
  SELECT sym.v AS node, CAST(SUM(r1.r * sym.w // ws.wu) AS BIGINT) AS s
  FROM sym JOIN r1 ON r1.node = sym.u JOIN ws ON ws.node = sym.u
  GROUP BY sym.v
), r2 AS (
  SELECT c2.node,
         CAST(15 * ({_TR_MASS} // nn.n_nodes) // 100 + 85 * c2.s // 100
              AS BIGINT) AS r
  FROM c2, nn
), c3 AS (
  SELECT sym.v AS node, CAST(SUM(r2.r * sym.w // ws.wu) AS BIGINT) AS s
  FROM sym JOIN r2 ON r2.node = sym.u JOIN ws ON ws.node = sym.u
  GROUP BY sym.v
), r3 AS (
  SELECT c3.node,
         CAST(15 * ({_TR_MASS} // nn.n_nodes) // 100 + 85 * c3.s // 100
              AS BIGINT) AS r
  FROM c3, nn
)
SELECT r3.node AS token, r3.r AS rank_pico, ws.wu AS cooc_weight
FROM r3 JOIN ws ON ws.node = r3.node
ORDER BY rank_pico DESC, token
LIMIT {_TR_TOPK}
"""


@register("text_textrank_keywords", oracle=_TEXTRANK_ORACLE, tags=("llm", "text", "graph"))
def text_textrank_keywords(spark, sf_dir):
    """TextRank keyword extraction (Mihalcea & Tarau EMNLP'04):
    weighted PageRank (d = 0.85, 3 iterations) over the token
    co-occurrence graph (+-2 window pairing, min edge weight 5), top-15
    tokens by rank. Complements RAKE (degree heuristic) with the
    random-walk centrality scorer the original paper showed beats
    frequency — a token ranks high when linked from other HIGH-RANKED
    tokens, not merely often.

    Exactness: rank mass is 1e12 integer pico-units; every step is
    integer multiply + FLOOR division in the SAME order in both engines
    (r*w DIV W_u per edge, 85*S DIV 100 + base per node) — three
    unrolled iterations, hash-identical, no float anywhere. Plan: the
    +-2 pairing is the PMI equi-join (per-token fanout exactly 2);
    each iteration is one edge-keyed join + keyed SUM with the
    degree relation broadcast — constant plan depth, the same
    scale shape as operators/graph.py:pagerank with the reliable pin
    (unnecessary here: 3 unrolls is bounded depth)."""
    docs = load_table(spark, sf_dir, "documents")
    pos = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("p", "tok")
    )
    a = pos.select(
        "doc_id", F.col("p").alias("pa"), F.col("tok").alias("ta")
    ).withColumn("off", F.explode(F.array(F.lit(1), F.lit(2))))
    b = pos.select("doc_id", F.col("p").alias("pb"), F.col("tok").alias("tb"))
    pairs = (
        a.withColumn("pb", F.col("pa") + F.col("off"))
        .join(b, ["doc_id", "pb"])
        .select(F.least("ta", "tb").alias("w1"), F.greatest("ta", "tb").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= _TR_MIN_COUNT)
    )
    # eager pin (optimization r13, guide §3.3): sym feeds every one of
    # the 3 unrolled iterations plus the degree rollup — unpinned, each
    # reference re-derived the posexplode + positional self-join +
    # count pipeline (the before-plan carried 150 Exchange nodes)
    sym = pin(
        pairs.select(F.col("w1").alias("u"), F.col("w2").alias("v"), "w")
        .unionByName(
            pairs.select(F.col("w2").alias("u"), F.col("w1").alias("v"), "w")
        )
    )
    ws = sym.groupBy(F.col("u").alias("node")).agg(F.sum("w").alias("wu"))
    nn = ws.agg(F.count(F.lit(1)).alias("n_nodes"))
    r = ws.crossJoin(F.broadcast(nn)).select(
        "node", F.expr(f"CAST({_TR_MASS} DIV n_nodes AS BIGINT)").alias("r")
    )
    wsrc = ws.select(F.col("node").alias("u"), "wu")
    for _ in range(3):
        contrib = (
            sym.join(r.select(F.col("node").alias("u"), "r"), "u")
            .join(F.broadcast(wsrc), "u")
            .select(F.col("v").alias("node"), F.expr("r * w DIV wu").alias("c"))
        )
        s = contrib.groupBy("node").agg(F.sum("c").alias("s"))
        r = s.crossJoin(F.broadcast(nn)).select(
            "node",
            F.expr(
                f"CAST(15 * ({_TR_MASS} DIV n_nodes) DIV 100"
                " + 85 * s DIV 100 AS BIGINT)"
            ).alias("r"),
        )
    return (
        r.join(F.broadcast(ws), "node")
        .select(F.col("node").alias("token"), F.col("r").alias("rank_pico"),
                F.col("wu").alias("cooc_weight"))
        .orderBy(F.desc("rank_pico"), "token")
        .limit(_TR_TOPK)
    )


# ---------------------------------------------------------------------------
# Round-6: token-distribution drift between corpus versions (JS
# divergence, exact micro-nat arithmetic).
# ---------------------------------------------------------------------------

_JS_ORACLE = """
WITH t AS (
  SELECT doc_id % 2 AS half, unnest(string_split(text, ' ')) AS tok
  FROM documents
), c AS (
  SELECT tok,
         CAST(SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS a,
         CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS b
  FROM t GROUP BY tok
), n AS (
  SELECT CAST(SUM(a) AS BIGINT) AS na, CAST(SUM(b) AS BIGINT) AS nb FROM c
), q AS (
  -- per-token contributions to KL(P||M) and KL(Q||M), each ln
  -- quantized to int64 micro-nats BEFORE the cross-token sum; M is the
  -- even mixture. Zero-count sides contribute 0 by the x*ln(x) limit.
  SELECT c.tok,
         CASE WHEN c.a = 0 THEN 0 ELSE c.a * CAST(round(ln(
           (CAST(c.a AS DOUBLE) / n.na)
           / ((CAST(c.a AS DOUBLE) / n.na + CAST(c.b AS DOUBLE) / n.nb) / 2)
         ) * 1000000) AS BIGINT) END AS ka_micro,
         CASE WHEN c.b = 0 THEN 0 ELSE c.b * CAST(round(ln(
           (CAST(c.b AS DOUBLE) / n.nb)
           / ((CAST(c.a AS DOUBLE) / n.na + CAST(c.b AS DOUBLE) / n.nb) / 2)
         ) * 1000000) AS BIGINT) END AS kb_micro,
         c.a, c.b
  FROM c, n
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_token_types,
       CAST(SUM(CASE WHEN a = 0 OR b = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_one_sided_types,
       CAST(SUM(ka_micro) AS BIGINT) AS kl_a_m_weighted_micro,
       CAST(SUM(kb_micro) AS BIGINT) AS kl_b_m_weighted_micro,
       round((CAST(SUM(ka_micro) AS DOUBLE) / (SELECT na FROM n)
              + CAST(SUM(kb_micro) AS DOUBLE) / (SELECT nb FROM n))
             / 2 / 1000000, 6) AS js_divergence_nats
FROM q
"""


@register("text_distribution_drift_js", oracle=_JS_ORACLE, tags=("llm", "text", "stats"))
def text_distribution_drift_js(spark, sf_dir):
    """Token-distribution DRIFT between two corpus versions (here the
    even/odd doc_id halves — in production: yesterday's snapshot vs
    today's): Jensen-Shannon divergence, the symmetric bounded
    [0, ln 2] drift score a pipeline alarms on before a tokenizer or
    mixture silently shifts. One-sided token types (present in only
    one half) are counted separately — vocabulary churn and frequency
    drift are different failure modes.

    Exactness: per-token ln contributions quantized to int64
    micro-nats BEFORE the cross-token sums (shuffle-order-proof — the
    unigram-LM discipline); zero counts take the x*ln(x) -> 0 limit
    explicitly rather than relying on engine NULL/Inf behavior. Plan:
    one conditional keyed count per token + broadcast totals — two
    scans' worth of work in one, map-side combinable."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        (F.col("doc_id") % 2).alias("half"),
        F.explode(F.split("text", " ")).alias("tok"),
    )
    c = t.groupBy("tok").agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).cast("long").alias("a"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).cast("long").alias("b"),
    )
    n = c.agg(F.sum("a").alias("na"), F.sum("b").alias("nb"))
    pa = F.col("a").cast("double") / F.col("na")
    pb = F.col("b").cast("double") / F.col("nb")
    mix = (pa + pb) / 2
    ka = F.when(
        F.col("a") == 0, F.lit(0).cast("long")
    ).otherwise(F.col("a") * F.round(F.log(pa / mix) * 1_000_000).cast("long"))
    kb = F.when(
        F.col("b") == 0, F.lit(0).cast("long")
    ).otherwise(F.col("b") * F.round(F.log(pb / mix) * 1_000_000).cast("long"))
    q = c.crossJoin(F.broadcast(n)).select(
        "a", "b", "na", "nb", ka.alias("ka_micro"), kb.alias("kb_micro")
    )
    return q.agg(
        F.count(F.lit(1)).alias("n_token_types"),
        F.sum(F.when((F.col("a") == 0) | (F.col("b") == 0), 1).otherwise(0))
        .cast("long")
        .alias("n_one_sided_types"),
        F.sum("ka_micro").cast("long").alias("kl_a_m_weighted_micro"),
        F.sum("kb_micro").cast("long").alias("kl_b_m_weighted_micro"),
        F.round(
            (
                F.sum("ka_micro").cast("double") / F.max("na")
                + F.sum("kb_micro").cast("double") / F.max("nb")
            )
            / 2
            / 1_000_000,
            6,
        ).alias("js_divergence_nats"),
    )


# ---------------------------------------------------------------------------
# Round-8: n-gram novelty rate — how much NEW text each document adds to
# the corpus, in ingestion order.
# ---------------------------------------------------------------------------

_NOVELTY_N = 5

_NOVELTY_ORACLE = f"""
WITH d AS (SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents),
g AS (
  SELECT DISTINCT doc_id, source,
         array_to_string(toks[i:i+{_NOVELTY_N - 1}], ' ') AS gram
  FROM d, UNNEST(generate_series(1, len(toks) - {_NOVELTY_N - 1})) AS t(i)
  WHERE len(toks) >= {_NOVELTY_N}
),
first_seen AS (SELECT gram, MIN(doc_id) AS first_doc FROM g GROUP BY gram),
per_doc AS (
  SELECT g.doc_id, g.source,
         CAST(COUNT(*) AS BIGINT) AS n_grams,
         CAST(SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END) AS BIGINT)
           AS n_novel
  FROM g JOIN first_seen f ON f.gram = g.gram
  GROUP BY 1, 2
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_grams) AS BIGINT) AS total_grams,
       CAST(SUM(n_novel) AS BIGINT) AS novel_grams,
       CAST(SUM(n_novel) * 1000000 // SUM(n_grams) AS BIGINT) AS novelty_ppm
FROM per_doc GROUP BY source
"""


@register("text_ngram_novelty_rate", oracle=_NOVELTY_ORACLE, tags=("llm", "text", "quality"))
def text_ngram_novelty_rate(spark, sf_dir):
    """N-GRAM NOVELTY per source: the share of a document's distinct
    word 5-grams whose FIRST corpus occurrence (min doc_id = ingestion
    order) is that document — the marginal-value curve a crawl
    operator reads to decide when a source is exhausted (novelty_ppm
    falling toward 0 = the source now only re-serves text the corpus
    already has; the dedup tiers remove copies, this prices the
    near-copy long tail BEFORE paying for dedup). Exact integers
    end-to-end (distinct grams, first-occurrence via MIN, ppm by
    integer division). Plan: one scan -> distinct (doc, gram) ->
    gram-keyed MIN (map-side combinable) -> gram-keyed equi-join back
    -> two keyed rollups. At 100 TB the join key becomes
    xxhash64(gram) (fixed-width shuffle), same counts to 2^-64."""
    from ..operators.curation import word_ngrams
    from ..operators.scale import spread

    docs = load_table(spark, sf_dir, "documents")
    g = (
        spread(docs)
        .withColumn("toks", F.split(F.col("text"), " "))
        .select(
            "doc_id",
            "source",
            F.explode(word_ngrams("toks", _NOVELTY_N)).alias("gram"),
        )
        .distinct()
    )
    first_seen = g.groupBy("gram").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (
        g.join(first_seen, "gram")
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            ).alias("n_novel"),
        )
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_grams").cast("long").alias("total_grams"),
        F.sum("n_novel").cast("long").alias("novel_grams"),
        F.expr(
            "CAST(SUM(n_novel) * 1000000 DIV SUM(n_grams) AS BIGINT)"
        ).alias("novelty_ppm"),
    )


# ---------------------------------------------------------------------------
# Round-8: token burstiness — dispersion of a term's per-document counts.
# ---------------------------------------------------------------------------

_BURSTINESS_ORACLE = """
WITH t AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
), c AS (
  SELECT tok, doc_id, CAST(COUNT(*) AS BIGINT) AS n
  FROM t WHERE tok <> '' GROUP BY 1, 2
), n_docs AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd FROM documents),
s AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS df,
         CAST(SUM(n) AS BIGINT) AS cf,
         CAST(SUM(n * n) AS BIGINT) AS cf2
  FROM c GROUP BY tok
), top AS (
  SELECT tok, df, cf, cf2 FROM s ORDER BY df DESC, tok LIMIT 20
)
SELECT tok, df, cf,
       round((nd * CAST(cf2 AS DOUBLE) - CAST(cf AS DOUBLE) * cf)
             / (CAST(cf AS DOUBLE) * (nd - 1)), 6) AS vmr
FROM top, n_docs
"""


@register("text_token_burstiness", oracle=_BURSTINESS_ORACLE, tags=("llm", "text", "quality"))
def text_token_burstiness(spark, sf_dir):
    """Token BURSTINESS — the variance-to-mean ratio (index of
    dispersion) of each top-df term's per-document count, zeros
    included: VMR ≈ 1 is Poisson scatter (function words), VMR >> 1 is
    a bursty content/boilerplate term that clumps into few documents —
    the dispersion axis that df/cf alone cannot see (two terms with
    identical df and cf can differ 10x in VMR), used by quality
    filters to separate topical vocabulary from template junk. Exact
    integer moments (per-doc counts, Σn, Σn²) with zeros handled in
    closed form (absent docs contribute 0 to both sums, so the
    all-docs VMR needs only nd); ONE double expression per output row
    rounded at 6. Plan: one explode -> two keyed map-side-combinable
    rollups -> TakeOrderedAndProject top-20."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    ).filter(F.col("tok") != "")
    c = t.groupBy("tok", "doc_id").agg(F.count(F.lit(1)).alias("n"))
    s = c.groupBy("tok").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum("n").alias("cf"),
        F.sum(F.col("n") * F.col("n")).alias("cf2"),
    )
    top = s.orderBy(F.desc("df"), F.asc("tok")).limit(20)
    nd = docs.agg(F.count(F.lit(1)).alias("nd"))
    return top.crossJoin(F.broadcast(nd)).select(
        "tok",
        "df",
        F.col("cf").cast("long").alias("cf"),
        F.round(
            (
                F.col("nd") * F.col("cf2").cast("double")
                - F.col("cf").cast("double") * F.col("cf")
            )
            / (F.col("cf").cast("double") * (F.col("nd") - 1)),
            6,
        ).alias("vmr"),
    )
