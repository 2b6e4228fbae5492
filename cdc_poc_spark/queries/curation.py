"""Corpus-curation queries, part 2: benchmark decontamination, PII
redaction, greedy sequence packing, repetition scoring, token entropy,
and domain-mixture sampling — the remaining first-class operators a
training-data pipeline runs between raw corpus and training batches.

Reference parity: the reference (thanminh24/CDC_POC) has no corpus
operators; these extend the engine per the north-star brief. Every
query is oracle-checked against DuckDB — including the applyInPandas
packer, whose sequential per-group semantics DuckDB reproduces with a
recursive CTE.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import curation
from ..operators.scale import pin, spilled
from ..tables import load_table
from . import register

# ---------------------------------------------------------------------------
# Benchmark decontamination (n-gram overlap test-set-leakage check)

_DECON_N = 8
_DECON_MIN_HITS = 3

_DECON_ORACLE = f"""
WITH d AS (SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents),
g AS (
  SELECT doc_id, source, array_to_string(toks[i:i+{_DECON_N - 1}], ' ') AS gram
  FROM d, UNNEST(generate_series(1, len(toks) - {_DECON_N - 1})) AS t(i)
  WHERE len(toks) >= {_DECON_N}
),
bench AS (SELECT DISTINCT gram FROM g WHERE source = 'src0'),
hits AS (
  SELECT g.doc_id, COUNT(DISTINCT g.gram) AS n_hit_grams
  FROM g JOIN bench b ON g.gram = b.gram
  WHERE g.source <> 'src0'
  GROUP BY g.doc_id
)
SELECT doc_id, n_hit_grams, n_hit_grams >= {_DECON_MIN_HITS} AS contaminated
FROM hits
"""


@register("pipeline_decontaminate_ngram", oracle=_DECON_ORACLE, tags=("llm", "pipeline"))
def pipeline_decontaminate_ngram(spark, sf_dir):
    """Test-set leakage check: treat source 'src0' as the benchmark
    slice and flag every other document sharing >= 3 distinct word
    8-grams with it. One corpus scan feeds both join sides; the join is
    a gram-keyed equi-join (no broadcast assumption — benchmark sets
    can be huge), then countDistinct per doc. At 100 TB the join key
    becomes xxhash64(gram) (fixed-width shuffle payload, same counts up
    to 2^-64 collisions); the string key here is for bit-exact oracle
    parity."""
    docs = load_table(spark, sf_dir, "documents")
    return curation.ngram_contamination(
        docs,
        bench_pred=F.col("source") == "src0",
        n=_DECON_N,
        min_hits=_DECON_MIN_HITS,
    )


# ---------------------------------------------------------------------------
# PII redaction (emails/phones injected deterministically, then scrubbed)

_PII_ORACLE = r"""
WITH aug AS (
  SELECT doc_id,
         text || ' contact user' || doc_id || '@example.com'
              || CASE WHEN doc_id % 3 = 0
                      THEN ' and backup' || doc_id || '@test.org' ELSE '' END
              || ' or call +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
           AS text
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_emails,
       CAST(len(regexp_extract_all(text, '\+1-555-[0-9]{4}')) AS INT) AS n_phones,
       md5(regexp_replace(
             regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\+1-555-[0-9]{4}', '<PHONE>', 'g')) AS redacted_hash
FROM aug
"""


@register("text_pii_redaction", oracle=_PII_ORACLE, tags=("llm", "text"))
def text_pii_redaction(spark, sf_dir):
    """PII scrubbing audit: the synthetic corpus carries no PII, so the
    query plants deterministic emails/phones per doc (one email + one
    phone, a second email on every third doc), then runs the real
    redaction operator and emits match counts + md5 of the scrubbed
    text. The md5 makes the oracle verify the REDACTED PAYLOAD
    byte-for-byte, not just the counts. Pure per-row regex — scan +
    map at any scale."""
    docs = load_table(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(
                    F.lit(" and backup"),
                    F.col("doc_id").cast("string"),
                    F.lit("@test.org"),
                ),
            ).otherwise(F.lit("")),
            F.lit(" or call +1-555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ).alias("text"),
    )
    return curation.pii_redact(aug).select(
        "doc_id", "n_emails", "n_phones", F.md5("redacted").alias("redacted_hash")
    )


# ---------------------------------------------------------------------------
# Greedy sequence packing (applyInPandas; oracle = recursive CTE)

_PACK_BUDGET = 500
_PACK_SHARDS = 8

_PACK_ORACLE = f"""
WITH RECURSIVE toks AS (
  SELECT source, doc_id % {_PACK_SHARDS} AS shard, doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
         row_number() OVER (PARTITION BY source, doc_id % {_PACK_SHARDS}
                            ORDER BY doc_id) AS rn
  FROM documents
),
pack AS (
  SELECT source, shard, doc_id, rn, n_tok,
         CAST(0 AS BIGINT) AS bin_id, n_tok AS fill
  FROM toks WHERE rn = 1
  UNION ALL
  SELECT t.source, t.shard, t.doc_id, t.rn, t.n_tok,
         CASE WHEN p.fill + t.n_tok <= {_PACK_BUDGET}
              THEN p.bin_id ELSE p.bin_id + 1 END,
         CASE WHEN p.fill + t.n_tok <= {_PACK_BUDGET}
              THEN p.fill + t.n_tok ELSE t.n_tok END
  FROM pack p
  JOIN toks t ON t.source = p.source AND t.shard = p.shard AND t.rn = p.rn + 1
)
SELECT source, shard, doc_id, n_tok, bin_id FROM pack
"""


@register("pipeline_pack_sequences", oracle=_PACK_ORACLE, tags=("llm", "pipeline"))
def pipeline_pack_sequences(spark, sf_dir):
    """Greedy sequence packing into a 500-token budget, per
    (source, shard), in doc_id order — the batch-assembly step that
    turns a curated corpus into dense training sequences. Bin fill is
    inherently sequential state (the reset depends on the running
    value), so it runs as an Arrow-batched applyInPandas kernel: one
    shuffle on the group key, then a linear scan per group. The shard
    key (deterministic ``doc_id % {n}``) decouples parallelism from
    |sources|: at 100 TB the kernel runs |sources| x n_shards tasks and
    no task scans more than its shard. The DuckDB oracle reproduces the
    exact greedy recurrence with a recursive CTE partitioned by the
    same (source, shard) — the packer's assignment is verified
    value-for-value, not just counted."""
    docs = load_table(spark, sf_dir, "documents")
    with_tok = docs.select(
        "source",
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("n_tok"),
    )
    return curation.pack_greedy(
        with_tok, budget=_PACK_BUDGET, n_shards=_PACK_SHARDS
    )


# ---------------------------------------------------------------------------
# Intra-document repetition (duplicate n-gram ratio)

_REP_N = 5

_REP_ORACLE = f"""
WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
g AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= {_REP_N}
              THEN [array_to_string(toks[i:i+{_REP_N - 1}], ' ')
                    FOR i IN generate_series(1, len(toks) - {_REP_N - 1})]
              ELSE [] END AS grams
  FROM d
)
SELECT doc_id,
       CAST(len(grams) AS BIGINT) AS n_grams,
       CASE WHEN len(grams) > 0
            THEN round(1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams), 5)
            ELSE 0.0 END AS rep_ratio
FROM g
"""


@register("text_repetition_score", oracle=_REP_ORACLE, tags=("llm", "text"))
def text_repetition_score(spark, sf_dir):
    """Intra-document repetition ratio (1 - distinct/total word
    5-grams) — the boilerplate/keyword-stuffing signal quality filters
    threshold on. Pure per-row array expressions inside whole-stage
    codegen; zero shuffles at any scale."""
    docs = load_table(spark, sf_dir, "documents")
    return curation.repetition_score(docs, n=_REP_N)


# ---------------------------------------------------------------------------
# Token-distribution entropy

_ENTROPY_ORACLE = """
WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
c AS (SELECT doc_id, tok, COUNT(*) AS c FROM t GROUP BY 1, 2),
n AS (SELECT doc_id, SUM(c) AS n, SUM(c * ln(c)) AS clnc FROM c GROUP BY 1)
SELECT doc_id, round(ln(n) - clnc / n, 5) AS token_entropy FROM n
"""


@register("text_token_entropy", oracle=_ENTROPY_ORACLE, tags=("llm", "text"))
def text_token_entropy(spark, sf_dir):
    """Per-document Shannon entropy of the token distribution (nats) —
    low entropy = gibberish/boilerplate, the complement of the
    repetition score. Exact integer counts through both aggs
    (H = ln(n) - sum(c ln c)/n), so the only float op is the final
    log/divide — cross-engine stable at 5 decimals."""
    docs = load_table(spark, sf_dir, "documents")
    return curation.token_entropy(docs)


# ---------------------------------------------------------------------------
# Domain-mixture sampling (deterministic per-source rates)

_MIX_RATES = {"src0": 1.0, "src1": 0.6, "src2": 0.25}
_MIX_DEFAULT = 0.1

_MIX_ORACLE = f"""
WITH r AS (
  SELECT doc_id, source,
         CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000
           AS bucket,
         CASE source
           WHEN 'src0' THEN {_MIX_RATES['src0']}
           WHEN 'src1' THEN {_MIX_RATES['src1']}
           WHEN 'src2' THEN {_MIX_RATES['src2']}
           ELSE {_MIX_DEFAULT} END AS rate
  FROM documents
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_total,
       CAST(SUM(CASE WHEN bucket < rate * 1000 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_kept
FROM r GROUP BY source
"""


@register("pipeline_domain_mixture", oracle=_MIX_ORACLE, tags=("llm", "pipeline"))
def pipeline_domain_mixture(spark, sf_dir):
    """Domain-mixture downsampling: each source gets a target keep-rate
    (src0 1.0, src1 0.6, src2 0.25, others 0.1) applied via the same
    deterministic md5(doc_id) bucket both engines compute identically —
    reweighting a 100 TB corpus toward a target domain mix without
    rand() (reproducible across retries/partitionings). Per-row
    expressions + one map-side-combinable agg over |sources| groups."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.pmod(
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast(
            "long"
        ),
        F.lit(1000),
    )
    rate = (
        F.when(F.col("source") == "src0", _MIX_RATES["src0"])
        .when(F.col("source") == "src1", _MIX_RATES["src1"])
        .when(F.col("source") == "src2", _MIX_RATES["src2"])
        .otherwise(_MIX_DEFAULT)
    )
    return (
        docs.select("doc_id", "source", bucket.alias("bucket"), rate.alias("rate"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(F.when(F.col("bucket") < F.col("rate") * 1000, 1).otherwise(0)).alias(
                "n_kept"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Document chunking (training-sequence prep: fixed window, overlapping stride)

_CHUNK_SIZE = 64
_CHUNK_STRIDE = 48

_CHUNK_ORACLE = f"""
WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
c AS (
  SELECT doc_id,
         CAST((s.s - 1) / {_CHUNK_STRIDE} AS BIGINT) AS chunk_idx,
         toks[s.s : s.s + {_CHUNK_SIZE - 1}] AS chunk
  FROM d, UNNEST(generate_series(1, len(toks), {_CHUNK_STRIDE})) AS s(s)
)
SELECT doc_id, chunk_idx,
       CAST(len(chunk) AS BIGINT) AS n_chunk_tokens,
       md5(array_to_string(chunk, ' ')) AS chunk_hash
FROM c
"""


@register("pipeline_chunk_documents", oracle=_CHUNK_ORACLE, tags=("llm", "pipeline"))
def pipeline_chunk_documents(spark, sf_dir):
    """Overlapping-window document chunking (64-token chunks, stride
    48) — the sequence-prep step between curation and packing. Each
    chunk is verified byte-for-byte via md5 of its joined tokens. Pure
    per-row explode of a sequence of slices: no shuffle, and chunk
    arrays are built from the already-split token array (one split per
    doc, not per chunk). At 100 TB this is scan + flatMap with output
    ~(1 + overlap) x input tokens — the declared stride tradeoff."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select("doc_id", F.split("text", " ").alias("toks"))
    starts = F.expr(f"sequence(1, size(toks), {_CHUNK_STRIDE})")
    c = d.select(
        "doc_id",
        F.explode(starts).alias("s"),
        F.col("toks"),
    ).select(
        "doc_id",
        ((F.col("s") - 1) / _CHUNK_STRIDE).cast("long").alias("chunk_idx"),
        F.expr(f"slice(toks, s, {_CHUNK_SIZE})").alias("chunk"),
    )
    return c.select(
        "doc_id",
        "chunk_idx",
        F.size("chunk").cast("long").alias("n_chunk_tokens"),
        F.md5(F.array_join("chunk", " ")).alias("chunk_hash"),
    )


# ---------------------------------------------------------------------------
# Int8 embedding quantization (symmetric, per-vector scale) + error contract

_QUANT_ORACLE = """
WITH s AS (
  SELECT vec_id, label, embedding,
         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS max_abs
  FROM embeddings
),
q AS (
  SELECT vec_id, label, max_abs,
         list_transform(embedding,
                        x -> round(CAST(x AS DOUBLE) * 127.0
                                   / (CASE WHEN max_abs = 0 THEN 1.0 ELSE max_abs END))) AS qv,
         embedding
  FROM s
)
SELECT vec_id, label,
       CAST(list_max(list_transform(qv, x -> abs(x))) AS BIGINT) AS q_max,
       CAST(list_sum(list_transform(qv, x -> abs(x))) AS BIGINT) AS q_l1,
       len(list_filter(qv, x -> x <> 0)) AS q_nnz,
       list_max(
         list_transform(
           list_zip(embedding, qv),
           p -> abs(CAST(p[1] AS DOUBLE) - p[2] * max_abs / 127.0)
         )
       ) <= max_abs / 127.0 * 0.5000001 AS err_within_half_step
FROM q
"""


@register("pipeline_embedding_quantize_int8", oracle=_QUANT_ORACLE, tags=("llm", "similarity"))
def pipeline_embedding_quantize_int8(spark, sf_dir):
    """Symmetric per-vector int8 quantization (scale = max_abs/127) —
    the 4x storage/bandwidth compression an ANN deployment applies to
    a 100 TB embedding corpus before indexing. The contract output is
    engine-exact: quantized codes are INTEGERS (identical IEEE double
    pipeline x*127/max_abs in both engines, then round — so q_max /
    q_l1 / q_nnz match exactly), and reconstruction error is asserted
    as a BOUND (max |x - dequant(q)| <= half a quantization step, with
    1e-7 slack for the fp comparison itself), not a rounded float.
    Pure per-row array math — scan + map at any scale."""
    emb = load_table(spark, sf_dir, "embeddings")
    s = emb.select(
        "vec_id",
        "label",
        "embedding",
        F.expr(
            "array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE))))"
        ).alias("max_abs"),
    )
    # All-zero vectors quantize to all-zero codes: divide by 1.0 instead of
    # 0.0 (the oracle guards identically), so the code path never emits NaN.
    q = s.withColumn(
        "qv",
        F.expr(
            "transform(embedding, x -> round(CAST(x AS DOUBLE) * 127.0"
            " / (CASE WHEN max_abs = 0 THEN CAST(1.0 AS DOUBLE) ELSE max_abs END)))"
        ),
    )
    return q.select(
        "vec_id",
        "label",
        F.expr("CAST(array_max(transform(qv, x -> abs(x))) AS BIGINT)").alias("q_max"),
        F.expr("CAST(aggregate(qv, 0.0D, (a, x) -> a + abs(x)) AS BIGINT)").alias(
            "q_l1"
        ),
        F.expr("size(filter(qv, x -> x <> 0.0D))").alias("q_nnz"),
        F.expr(
            "array_max(zip_with(embedding, qv,"
            " (x, v) -> abs(CAST(x AS DOUBLE) - v * max_abs / 127.0)))"
            " <= max_abs / 127.0 * 0.5000001"
        ).alias("err_within_half_step"),
    )


# ---------------------------------------------------------------------------
# Round-8: Bloom-filter decontamination — the fixed-memory scale path of
# the n-gram leakage check.
# ---------------------------------------------------------------------------

_BDC_M = curation.BDC_M
_BDC_K = curation.BDC_K
_BDC_N = curation.BDC_N

_BLOOM_DECON_ORACLE = f"""
WITH d AS (SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents),
g AS (
  SELECT DISTINCT doc_id, source,
         array_to_string(toks[i:i+{_BDC_N - 1}], ' ') AS gram
  FROM d, UNNEST(generate_series(1, len(toks) - {_BDC_N - 1})) AS t(i)
  WHERE len(toks) >= {_BDC_N}
),
bench AS (SELECT DISTINCT gram FROM g WHERE source = 'src0'),
js AS (SELECT unnest([0, 1, 2, 3]) AS j),
bits AS (
  SELECT DISTINCT
         CAST(('0x' || substring(md5('bdc' || CAST(j AS VARCHAR) || ':' || gram),
                                 1, 8)) AS BIGINT) % {_BDC_M} AS pos
  FROM bench, js
),
cand AS (SELECT doc_id, gram FROM g WHERE source <> 'src0'),
gp AS (
  SELECT doc_id, gram, j,
         CAST(('0x' || substring(md5('bdc' || CAST(j AS VARCHAR) || ':' || gram),
                                 1, 8)) AS BIGINT) % {_BDC_M} AS pos
  FROM cand, js
),
gpass AS (
  SELECT doc_id, gram FROM gp JOIN bits USING (pos)
  GROUP BY doc_id, gram HAVING COUNT(*) = {_BDC_K}
),
flagged AS (SELECT DISTINCT doc_id FROM gpass),
exact AS (
  SELECT DISTINCT c.doc_id FROM cand c JOIN bench b ON b.gram = c.gram
),
docs AS (SELECT DISTINCT doc_id FROM cand)
SELECT CAST((SELECT COUNT(*) FROM docs) AS BIGINT) AS n_docs,
       CAST((SELECT COUNT(*) FROM flagged) AS BIGINT) AS n_flagged,
       CAST((SELECT COUNT(*) FROM exact) AS BIGINT) AS n_exact,
       (SELECT COUNT(*) FROM exact e LEFT JOIN flagged f ON f.doc_id = e.doc_id
        WHERE f.doc_id IS NULL) = 0 AS no_false_negatives,
       CAST((SELECT COUNT(*) FROM flagged) -
            (SELECT COUNT(*) FROM exact) AS BIGINT) AS false_positive_docs
"""


@register("pipeline_bloom_decontaminate", oracle=_BLOOM_DECON_ORACLE, tags=("llm", "pipeline", "sketch"))
def pipeline_bloom_decontaminate(spark, sf_dir):
    """Bloom-filter DECONTAMINATION — the fixed-memory scale path of
    pipeline_decontaminate_ngram: the benchmark's word 8-grams compress
    into a k={_BDC_K}/m={_BDC_M} bit-set (engine-portable md5-prefix
    hashes, the agg_bloom_filter_semijoin construction) that BROADCASTS
    to the corpus scan, so a 100 TB corpus is screened without
    shuffling a single gram — the exact-join decontaminator shuffles
    corpus-sized gram relations; this ships benchmark-sized bits. The
    price is one-sided error, and that is the CONTRACT: the oracle
    independently rebuilds the bloom and pins (a) no false negatives —
    every exactly-contaminated doc is flagged (the soundness property
    that makes bloom screening admissible as a PRE-filter; flagged docs
    then pay the exact check) — and (b) the exact flagged/exact/FP doc
    counts, value-hashed. Bloom sizing rule at scale: m ~ 1.44 * k *
    |bench grams| keeps the gram-level FPR near 2^-k; the fixed m here
    is sized for the fixture SFs (the sizing is an input, not a
    semantic)."""
    docs = load_table(spark, sf_dir, "documents")
    # Cached ONCE for its four consumers (bench bits, the bloom
    # screen, the exact verify, the doc count — uncached, each re-ran
    # the corpus explode+distinct: a 72-Exchange plan), spilled rather
    # than pinned (ADVICE r13 / VERDICT r13 #2): this is the one
    # multi-consumer relation here whose size is O(corpus x n-grams).
    # The eager count() materializes the cache BEFORE the multi-branch
    # job (concurrent branches would race an empty cache and recompute
    # per branch). At 100 TB the production shape is a gram TABLE
    # written between stages; an in-session cache is its single-job
    # analogue.
    grams = curation.tagged_grams(docs, _BDC_N)
    with spilled(grams):
        grams.count()
        bench = grams.filter(F.col("__is_bench")).select("gram").distinct()
        cand = grams.filter(~F.col("__is_bench")).select("doc_id", "gram")
        gpass = curation.bloom_suspects(cand, curation.bloom_bits(bench))
        # flagged/exact each feed two consumers below — tiny doc-id sets
        flagged = pin(gpass.select("doc_id").distinct())
        exact = pin(
            cand.join(bench, "gram", "left_semi")
            .select("doc_id")
            .distinct()
        )
        # four 1-row aggregates crossed into the one result row, pinned
        # before the gram cache is released
        return pin(
            cand.agg(F.countDistinct("doc_id").alias("n_docs"))
            .crossJoin(flagged.agg(F.count(F.lit(1)).alias("n_flagged")))
            .crossJoin(exact.agg(F.count(F.lit(1)).alias("n_exact")))
            .crossJoin(
                exact.join(flagged, "doc_id", "left_anti").agg(
                    F.count(F.lit(1)).alias("missed")
                )
            )
            .select(
                "n_docs",
                "n_flagged",
                "n_exact",
                (F.col("missed") == 0).alias("no_false_negatives"),
                (F.col("n_flagged") - F.col("n_exact")).alias(
                    "false_positive_docs"
                ),
            )
        )


# ---------------------------------------------------------------------------
# Round-12 seed: packing-order quality — arrival-order greedy vs
# next-fit-decreasing, per (source, shard).
# ---------------------------------------------------------------------------

_PACK_CMP_ORACLE = f"""
WITH RECURSIVE toks AS (
  SELECT source, doc_id % {_PACK_SHARDS} AS shard, doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
  FROM documents
),
g AS (
  SELECT *, row_number() OVER (PARTITION BY source, shard
                               ORDER BY doc_id) AS rn
  FROM toks
),
packg AS (
  SELECT source, shard, rn, n_tok, CAST(0 AS BIGINT) AS bin_id,
         n_tok AS fill
  FROM g WHERE rn = 1
  UNION ALL
  SELECT t.source, t.shard, t.rn, t.n_tok,
         CASE WHEN p.fill + t.n_tok <= {_PACK_BUDGET}
              THEN p.bin_id ELSE p.bin_id + 1 END,
         CASE WHEN p.fill + t.n_tok <= {_PACK_BUDGET}
              THEN p.fill + t.n_tok ELSE t.n_tok END
  FROM packg p
  JOIN g t ON t.source = p.source AND t.shard = p.shard AND t.rn = p.rn + 1
),
d AS (
  SELECT *, row_number() OVER (PARTITION BY source, shard
                               ORDER BY n_tok DESC, doc_id) AS rn
  FROM toks
),
packd AS (
  SELECT source, shard, rn, n_tok, CAST(0 AS BIGINT) AS bin_id,
         n_tok AS fill
  FROM d WHERE rn = 1
  UNION ALL
  SELECT t.source, t.shard, t.rn, t.n_tok,
         CASE WHEN p.fill + t.n_tok <= {_PACK_BUDGET}
              THEN p.bin_id ELSE p.bin_id + 1 END,
         CASE WHEN p.fill + t.n_tok <= {_PACK_BUDGET}
              THEN p.fill + t.n_tok ELSE t.n_tok END
  FROM packd p
  JOIN d t ON t.source = p.source AND t.shard = p.shard AND t.rn = p.rn + 1
),
bg AS (
  SELECT source, shard, CAST(MAX(bin_id) + 1 AS BIGINT) AS bins_greedy
  FROM packg GROUP BY source, shard
),
bd AS (
  SELECT source, shard, CAST(MAX(bin_id) + 1 AS BIGINT) AS bins_nfd
  FROM packd GROUP BY source, shard
),
tt AS (
  SELECT source, shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_tok) AS BIGINT) AS total_tok
  FROM toks GROUP BY source, shard
)
SELECT tt.source, tt.shard, tt.n_docs, tt.total_tok,
       bg.bins_greedy, bd.bins_nfd,
       bg.bins_greedy - bd.bins_nfd AS bins_saved
FROM tt JOIN bg USING (source, shard) JOIN bd USING (source, shard)
"""


@register(
    "pipeline_pack_nfd_vs_greedy",
    oracle=_PACK_CMP_ORACLE,
    tags=("llm", "pipeline"),
)
def pipeline_pack_nfd_vs_greedy(spark, sf_dir):
    """Packing-ORDER quality evaluation: the same 500-token greedy
    recurrence run twice per (source, shard) — once in arrival
    (doc_id) order (the streaming packer, pipeline_pack_sequences'
    plan) and once in NEXT-FIT-DECREASING order (n_tok DESC; Johnson
    1973's NFD, the classic offline upper-bound companion) — reporting
    bins used by each and the bins saved by sorting. This is the
    measurement that decides whether a training-data pipeline should
    pay a sort before packing: NFD's bound is ~1.7x OPT vs greedy
    arrival-order's 2x, and the delta on real length distributions is
    what this query surfaces per source. (On the synthetic fixture the
    length distribution is narrow enough that the delta is 0 at every
    shard — itself a pinned finding; the 40 per-shard bin counts stay
    fully value-hashed either way.)

    Plan: both passes are the same Arrow grouped-map kernel
    (operators/curation.py pack_greedy, now with an order_desc_col
    knob) — one shuffle on (source, shard) each, linear scan per
    group; the oracle replays BOTH walks with recursive CTEs ordered
    by the two rank definitions. Counts and token totals are exact
    BIGINTs; no floats anywhere."""
    docs = load_table(spark, sf_dir, "documents")
    with_tok = docs.select(
        "source",
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("n_tok"),
    )
    pg = curation.pack_greedy(
        with_tok, budget=_PACK_BUDGET, n_shards=_PACK_SHARDS
    )
    pn = curation.pack_greedy(
        with_tok,
        budget=_PACK_BUDGET,
        n_shards=_PACK_SHARDS,
        order_desc_col="n_tok",
    )
    bg = pg.groupBy("source", "shard").agg(
        (F.max("bin_id") + 1).cast("long").alias("bins_greedy")
    )
    bd = pn.groupBy("source", "shard").agg(
        (F.max("bin_id") + 1).cast("long").alias("bins_nfd")
    )
    tt = (
        with_tok.withColumn(
            "shard", F.pmod("doc_id", F.lit(_PACK_SHARDS)).cast("long")
        )
        .groupBy("source", "shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("total_tok"),
        )
    )
    return (
        tt.join(bg, ["source", "shard"])
        .join(bd, ["source", "shard"])
        .withColumn(
            "bins_saved", (F.col("bins_greedy") - F.col("bins_nfd")).cast("long")
        )
    )


# ---------------------------------------------------------------------------
# Round-12: the training MANIFEST — packed bins with utilization stats
# and a deterministic epoch-shuffle position.
# ---------------------------------------------------------------------------

_MANIFEST_ORACLE = f"""
WITH RECURSIVE toks AS (
  SELECT source, doc_id % {_PACK_SHARDS} AS shard, doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
         row_number() OVER (PARTITION BY source, doc_id % {_PACK_SHARDS}
                            ORDER BY doc_id) AS rn
  FROM documents
),
pack AS (
  SELECT source, shard, doc_id, rn, n_tok,
         CAST(0 AS BIGINT) AS bin_id, n_tok AS fill
  FROM toks WHERE rn = 1
  UNION ALL
  SELECT t.source, t.shard, t.doc_id, t.rn, t.n_tok,
         CASE WHEN p.fill + t.n_tok <= {_PACK_BUDGET}
              THEN p.bin_id ELSE p.bin_id + 1 END,
         CASE WHEN p.fill + t.n_tok <= {_PACK_BUDGET}
              THEN p.fill + t.n_tok ELSE t.n_tok END
  FROM pack p
  JOIN toks t ON t.source = p.source AND t.shard = p.shard
             AND t.rn = p.rn + 1
),
bins AS (
  SELECT source, shard, bin_id,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_tok) AS BIGINT) AS fill
  FROM pack GROUP BY source, shard, bin_id
),
m AS (
  SELECT source, shard, bin_id, n_docs, fill,
         CAST({_PACK_BUDGET} - fill AS BIGINT) AS waste_tokens,
         md5(source || ':' || CAST(shard AS VARCHAR) || ':'
             || CAST(bin_id AS VARCHAR)) AS shuffle_key
  FROM bins
)
SELECT source, shard, bin_id, n_docs, fill, waste_tokens, shuffle_key,
       CAST(row_number() OVER (ORDER BY shuffle_key) - 1 AS BIGINT)
         AS epoch_position
FROM m
"""


@register(
    "pipeline_pack_manifest_shuffle",
    oracle=_MANIFEST_ORACLE,
    tags=("llm", "pipeline", "curation"),
)
def pipeline_pack_manifest_shuffle(spark, sf_dir):
    """The TRAINING MANIFEST — the last-mile relation a trainer
    actually consumes: one row per packed bin with its utilization
    stats (doc count, token fill, waste vs the 500-token budget —
    negative for the own-bin overflow case of a doc longer than the
    budget, pinned as-is) and a DETERMINISTIC epoch-shuffle position:
    shuffle_key = md5(source:shard:bin_id) and epoch_position = the
    bin's global rank in shuffle_key order. Hash-ordering is the
    standard seedable corpus shuffle (pipeline_epoch_shuffle's rule
    applied at BIN granularity, so sequences inside a bin stay
    contiguous while bins sample uniformly across sources/shards —
    what a data-loader wants).

    Plan/scale: the packer is the Arrow grouped-map kernel
    (|sources| x shards parallel linear scans); bins aggregate
    map-side; the global rank is the two-pass global_index — NO
    single-partition window anywhere. The oracle replays the greedy
    recurrence per (source, shard) with a recursive CTE, then the md5
    ordering."""
    from ..operators.scale import global_index

    docs = load_table(spark, sf_dir, "documents")
    with_tok = docs.select(
        "source",
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("n_tok"),
    )
    packed = curation.pack_greedy(
        with_tok, budget=_PACK_BUDGET, n_shards=_PACK_SHARDS
    )
    bins = (
        packed.groupBy("source", "shard", "bin_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("fill"),
        )
        .withColumn(
            "waste_tokens",
            (F.lit(_PACK_BUDGET) - F.col("fill")).cast("long"),
        )
        .withColumn(
            "shuffle_key",
            F.md5(
                F.concat_ws(
                    ":",
                    F.col("source"),
                    F.col("shard").cast("string"),
                    F.col("bin_id").cast("string"),
                )
            ),
        )
    )
    return global_index(bins, "epoch_position", ["shuffle_key"]).select(
        "source",
        "shard",
        "bin_id",
        "n_docs",
        "fill",
        "waste_tokens",
        "shuffle_key",
        F.col("epoch_position").cast("long").alias("epoch_position"),
    )


# ---------------------------------------------------------------------------
# Round-12: split-vs-truncate packing economics at a tight budget.
# ---------------------------------------------------------------------------

_SPLIT_BUDGET = 64  # tight enough that fixture docs (<= ~100 tokens)
#                     genuinely overflow — at the 500-token budget no
#                     fixture doc exceeds it and the deltas pin only 0s

_SPLIT_PACK_ORACLE = f"""
WITH RECURSIVE toks AS (
  SELECT source, doc_id % {_PACK_SHARDS} AS shard, doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
         row_number() OVER (PARTITION BY source, doc_id % {_PACK_SHARDS}
                            ORDER BY doc_id) AS rn
  FROM documents
),
packu AS (
  SELECT source, shard, rn, n_tok, CAST(0 AS BIGINT) AS bin_id,
         n_tok AS fill
  FROM toks WHERE rn = 1
  UNION ALL
  SELECT t.source, t.shard, t.rn, t.n_tok,
         CASE WHEN p.fill + t.n_tok <= {_SPLIT_BUDGET}
              THEN p.bin_id ELSE p.bin_id + 1 END,
         CASE WHEN p.fill + t.n_tok <= {_SPLIT_BUDGET}
              THEN p.fill + t.n_tok ELSE t.n_tok END
  FROM packu p
  JOIN toks t ON t.source = p.source AND t.shard = p.shard
             AND t.rn = p.rn + 1
),
binsu AS (
  SELECT source, shard, bin_id, CAST(SUM(n_tok) AS BIGINT) AS fill
  FROM packu GROUP BY source, shard, bin_id
),
aggu AS (
  SELECT source, shard,
         CAST(COUNT(*) AS BIGINT) AS bins_unsplit,
         CAST(SUM(GREATEST({_SPLIT_BUDGET} - fill, 0)) AS BIGINT)
           AS padding_unsplit,
         CAST(SUM(GREATEST(fill - {_SPLIT_BUDGET}, 0)) AS BIGINT)
           AS overflow_unsplit
  FROM binsu GROUP BY source, shard
),
ch AS (
  SELECT source, doc_id % {_PACK_SHARDS} AS shard, doc_id, i,
         LEAST({_SPLIT_BUDGET}, n_tok - i * {_SPLIT_BUDGET}) AS chunk_tok,
         row_number() OVER (PARTITION BY source, doc_id % {_PACK_SHARDS}
                            ORDER BY doc_id, i) AS rn
  FROM (SELECT source, doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        FROM documents) t,
       UNNEST(generate_series(0,
              (n_tok + {_SPLIT_BUDGET - 1}) // {_SPLIT_BUDGET} - 1))
         AS u(i)
),
packs AS (
  SELECT source, shard, rn, chunk_tok, CAST(0 AS BIGINT) AS bin_id,
         chunk_tok AS fill
  FROM ch WHERE rn = 1
  UNION ALL
  SELECT c.source, c.shard, c.rn, c.chunk_tok,
         CASE WHEN p.fill + c.chunk_tok <= {_SPLIT_BUDGET}
              THEN p.bin_id ELSE p.bin_id + 1 END,
         CASE WHEN p.fill + c.chunk_tok <= {_SPLIT_BUDGET}
              THEN p.fill + c.chunk_tok ELSE c.chunk_tok END
  FROM packs p
  JOIN ch c ON c.source = p.source AND c.shard = p.shard
           AND c.rn = p.rn + 1
),
binss AS (
  SELECT source, shard, bin_id, CAST(SUM(chunk_tok) AS BIGINT) AS fill
  FROM packs GROUP BY source, shard, bin_id
),
aggs AS (
  SELECT source, shard,
         CAST(COUNT(*) AS BIGINT) AS bins_split,
         CAST(SUM({_SPLIT_BUDGET} - fill) AS BIGINT) AS padding_split
  FROM binss GROUP BY source, shard
),
base AS (
  SELECT source, shard,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(CASE WHEN n_tok > {_SPLIT_BUDGET} THEN 1 ELSE 0 END)
              AS BIGINT) AS n_over_budget
  FROM toks GROUP BY source, shard
)
SELECT b.source, b.shard, b.n_docs, b.n_over_budget,
       u.bins_unsplit, u.padding_unsplit, u.overflow_unsplit,
       s.bins_split, s.padding_split,
       CAST(s.bins_split - u.bins_unsplit AS BIGINT) AS bins_delta
FROM base b
JOIN aggu u USING (source, shard)
JOIN aggs s USING (source, shard)
"""


@register(
    "pipeline_pack_split_vs_truncate",
    oracle=_SPLIT_PACK_ORACLE,
    tags=("llm", "pipeline", "curation"),
)
def pipeline_pack_split_vs_truncate(spark, sf_dir):
    """Packing ECONOMICS under a tight 64-token budget — the decision a
    training-data pipeline makes for docs longer than the sequence
    length: pack the doc WHOLE into its own overflowing bin (the
    truncation path: overflow tokens are lost at train time) vs SPLIT
    it into budget-sized chunks first (the chunking path: nothing
    lost, but chunk boundaries cut sentences and bins multiply). Per
    (source, shard): doc and over-budget counts, bins/padding/overflow
    for the unsplit walk, bins/padding for the split walk, and the bin
    delta — exactly the padding-vs-truncation-vs-bins trade, exact
    BIGINTs, both walks replayed by recursive-CTE oracles. (Budget 64
    because fixture docs top out near 100 tokens — at 500 every delta
    would pin 0; the knob is an input, not a semantic.)

    Plan/scale: both walks are the Arrow grouped-map packer
    (|sources| x shards parallel linear scans); the chunk explode is
    map-side (ceil(n_tok/64) rows per doc); aggregates are map-side
    combinable. The split walk orders by (doc_id, chunk_idx) via a
    composite surrogate id (chunk counts are bounded by
    n_tok/budget, far below the 1e6 stride)."""
    docs = load_table(spark, sf_dir, "documents")
    b = _SPLIT_BUDGET
    with_tok = docs.select(
        "source",
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("n_tok"),
    )
    packu = curation.pack_greedy(with_tok, budget=b, n_shards=_PACK_SHARDS)
    binsu = packu.groupBy("source", "shard", "bin_id").agg(
        F.sum("n_tok").cast("long").alias("fill")
    )
    aggu = binsu.groupBy("source", "shard").agg(
        F.count(F.lit(1)).cast("long").alias("bins_unsplit"),
        F.sum(F.greatest(F.lit(b) - F.col("fill"), F.lit(0)))
        .cast("long")
        .alias("padding_unsplit"),
        F.sum(F.greatest(F.col("fill") - F.lit(b), F.lit(0)))
        .cast("long")
        .alias("overflow_unsplit"),
    )
    chunks = (
        with_tok.select(
            "source",
            "doc_id",
            "n_tok",
            F.expr(
                f"explode(sequence(0, CAST((n_tok + {b - 1}) DIV {b} - 1"
                " AS INT)))"
            ).alias("i"),
        )
        .select(
            F.concat_ws(
                ":",
                F.col("source"),
                F.pmod("doc_id", F.lit(_PACK_SHARDS)).cast("string"),
            ).alias("grp"),
            (F.col("doc_id") * 1_000_000 + F.col("i")).alias("cid"),
            F.least(
                F.lit(b), F.col("n_tok") - F.col("i") * b
            ).cast("long").alias("chunk_tok"),
        )
    )
    packs = curation.pack_greedy(
        chunks, budget=b, group_col="grp", id_col="cid",
        ntok_col="chunk_tok",
    )
    binss = packs.groupBy("grp", "bin_id").agg(
        F.sum("chunk_tok").cast("long").alias("fill")
    )
    aggs = (
        binss.groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast("long").alias("bins_split"),
            F.sum(F.lit(b) - F.col("fill")).cast("long").alias(
                "padding_split"
            ),
        )
        .select(
            F.split("grp", ":")[0].alias("source"),
            F.split("grp", ":")[1].cast("long").alias("shard"),
            "bins_split",
            "padding_split",
        )
    )
    base = (
        with_tok.withColumn(
            "shard", F.pmod("doc_id", F.lit(_PACK_SHARDS)).cast("long")
        )
        .groupBy("source", "shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum((F.col("n_tok") > b).cast("long"))
            .cast("long")
            .alias("n_over_budget"),
        )
    )
    return (
        base.join(aggu, ["source", "shard"])
        .join(aggs, ["source", "shard"])
        .withColumn(
            "bins_delta",
            (F.col("bins_split") - F.col("bins_unsplit")).cast("long"),
        )
    )
