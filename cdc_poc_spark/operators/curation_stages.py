"""Shared stage implementations of the curation DAG's set-global tail
(stages 4-8) plus the stage-row builder — extracted VERBATIM from
queries/curation_e2e.pipeline_curation_e2e (round 12) so the batch DAG
and the round-13 streaming e2e drive execute the SAME code: the
stream-batch agreement contract (final streamed state == batch DAG on
the same corpus) is then a property of the incremental state
maintenance alone, not of two parallel stage implementations drifting.

Each helper takes the CORPUS docs relation (doc_id, source, lang,
text) and the upstream survivor id set, and returns the stage's
survivor id set plus its auxiliary observable — exactly the batch
semantics:

  stage 4  SemDeDup (Abbas et al. 2023) over the survivors' embeddings
  stage 5  two-tier Bloom decontamination vs the src0 benchmark
  stage 6  composite quality bar + language-id consistency
  stage 7  water-filling token quota + greedy per-source fill
  stage 8  greedy sequence packing (aux only — drops nothing)

Stages 1-3 (exact / containment / LSH) are NOT here: the batch DAG
computes them via the tier operators (operators/dedup.py) and the
streaming drive maintains them incrementally (streaming/
curation_e2e.py) — their agreement is what the stream e2e pins.

Reference provenance: the reference repo has no curation pipeline
(its surface is 151 lines of CDC plumbing — SURVEY.md §2); this DAG
is the BASELINE.json north-star surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .curation import bloom_bits, bloom_suspects, pack_greedy, tagged_grams
from .scale import global_cumsum, global_index, pin, spilled


def stage4_semdedup(
    emb: DataFrame, s3: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """SemDeDup over the stage-3 survivors' embeddings (vec_id =
    doc_id on the fixtures; unembedded docs pass through). Returns
    (s4, aux4) where aux4 = cells containing >= 1 drop."""
    from ..queries.llm_ops4 import semdedup_prune_pairs

    emb_s3 = emb.join(
        s3.withColumnRenamed("doc_id", "vec_id"), "vec_id", "left_semi"
    )
    pruned = pin(semdedup_prune_pairs(emb_s3))
    dom4 = pruned.select(F.col("dropped_id").alias("doc_id")).distinct()
    s4 = pin(s3.join(dom4, "doc_id", "left_anti"))
    aux4 = (
        pruned.select("cell_id")
        .distinct()
        .agg(F.count(F.lit(1)).cast("long").alias("aux"))
    )
    return s4, aux4


def stage5_decontam(
    docs: DataFrame,
    s4: DataFrame,
    n: int,
    k: int,
    m: int,
) -> tuple[DataFrame, DataFrame]:
    """Two-tier Bloom decontamination of the non-src0 survivors
    against the src0 benchmark's word n-grams (n/k/m are the
    operators.curation BDC_* contract constants). Returns (s5, aux5)
    where aux5 = Bloom-FLAGGED docs (pins false-positive behavior)."""
    # The distinct-gram relation feeds three job branches (the bloom
    # bits' bench side, the candidate side, and the exact-verify bench
    # side inside the s5 pin) — uncached, the corpus explode ran
    # once per branch. It is corpus-sized, so it is spilled, not pinned
    # (same rule as pipeline_bloom_decontaminate), with an eager
    # materializing count so concurrent branches cannot race an empty
    # cache; released after the pins below, so the streaming e2e twin
    # (which replays this stage per epoch) cannot leak caches across
    # batches.
    grams = tagged_grams(docs, n)
    with spilled(grams):
        grams.count()
        bench = grams.filter(F.col("__is_bench")).select("gram").distinct()
        cand = (
            grams.filter(~F.col("__is_bench"))
            .join(s4, "doc_id", "left_semi")
            .select("doc_id", "gram")
        )
        susp = pin(bloom_suspects(cand, bloom_bits(bench, k, m), k, m))
        # only Bloom-positive grams pay the exact verification join
        dom5 = (
            susp.join(bench, "gram", "left_semi").select("doc_id").distinct()
        )
        s5 = pin(s4.join(dom5, "doc_id", "left_anti"))
    aux5 = (
        susp.select("doc_id")
        .distinct()
        .agg(F.count(F.lit(1)).cast("long").alias("aux"))
    )
    return s5, aux5


def stage6_quality(
    docs: DataFrame, s5: DataFrame, quality_min: float
) -> tuple[DataFrame, DataFrame]:
    """Composite quality bar + heuristic language-id agreeing with the
    recorded label. Returns (s6, aux6) where aux6 = docs failing the
    quality bar alone."""
    from . import text

    docs_s5 = docs.join(s5, "doc_id", "left_semi")
    qual = text.quality_score(docs_s5).select("doc_id", "quality_score")
    lang = text.lang_id(docs_s5).select("doc_id", "pred_lang")
    qf = pin(
        qual.join(lang, "doc_id")
        .join(docs.select("doc_id", "lang"), "doc_id")
    )
    s6 = pin(
        qf.filter(
            (F.col("quality_score") >= quality_min)
            & (F.col("pred_lang") == F.col("lang"))
        )
        .select("doc_id")
    )
    aux6 = qf.filter(F.col("quality_score") < quality_min).agg(
        F.count(F.lit(1)).cast("long").alias("aux")
    )
    return s6, aux6


def stage7_waterfill(
    docs: DataFrame, s6: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Max-min-fair 60% token budget across sources (closed-form water
    level over cap-sorted prefix sums), then greedy doc_id-order fill
    per source up to min(cap, level). Returns (s7, aux7) where aux7 =
    the water level. Per-source running fill WITHOUT
    Window.partitionBy(source) — one global two-pass cumsum in
    (source, doc_id) order minus each source's prefix offset (the r12
    scale fix, operators/scale.py:global_cumsum)."""
    wf_tok = pin(
        docs.join(s6, "doc_id", "left_semi")
        .select(
            "doc_id",
            "source",
            F.size(F.split("text", " ")).cast("long").alias("n_tok"),
        )
    )
    caps = wf_tok.groupBy("source").agg(
        F.sum("n_tok").cast("long").alias("cap")
    )
    t = caps.agg(
        F.expr("CAST(SUM(cap) * 6 DIV 10 AS BIGINT)").alias("budget"),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    r = global_cumsum(
        global_index(caps, "i0", ["cap", "source"]),
        "cap",
        ["cap", "source"],
        "p_i",
    ).select("source", "cap", (F.col("i0") + 1).alias("i"), "p_i")
    lvl = r.crossJoin(F.broadcast(t)).agg(
        F.max(
            F.when(
                F.col("cap") * (F.col("k") - F.col("i")) + F.col("p_i")
                <= F.col("budget"),
                F.col("i"),
            ).otherwise(0)
        ).alias("i_star")
    )
    p_star = r.crossJoin(F.broadcast(lvl)).agg(
        F.coalesce(
            F.sum(F.when(F.col("i") == F.col("i_star"), F.col("p_i"))),
            F.lit(0),
        )
        .cast("long")
        .alias("p_star")
    )
    sol = pin(
        t.crossJoin(F.broadcast(lvl))
        .crossJoin(F.broadcast(p_star))
        .select(
            F.expr(
                "CAST((budget - p_star) DIV (k - i_star) AS BIGINT)"
            ).alias("level")
        )
    )
    alloc = caps.crossJoin(F.broadcast(sol)).select(
        "source", F.least(F.col("cap"), F.col("level")).alias("allocation")
    )
    gcum = global_cumsum(wf_tok, "n_tok", ["source", "doc_id"], "gcum")
    src_off = global_cumsum(caps, "cap", ["source"], "ccum").select(
        "source", (F.col("ccum") - F.col("cap")).alias("src_off")
    )
    s7 = pin(
        gcum.join(F.broadcast(src_off), "source")
        .join(F.broadcast(alloc), "source")
        .filter(F.col("gcum") - F.col("src_off") <= F.col("allocation"))
        .select("doc_id")
    )
    aux7 = sol.select(F.col("level").cast("long").alias("aux"))
    return s7, aux7


def stage8_pack(
    docs: DataFrame, s7: DataFrame, budget: int, n_shards: int
) -> DataFrame:
    """Greedy sequence packing of the final selection via the Arrow
    grouped-map kernel. Drops nothing; returns aux8 = total bins."""
    pk_in = docs.join(s7, "doc_id", "left_semi").select(
        "source",
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("n_tok"),
    )
    packed = pack_greedy(pk_in, budget=budget, n_shards=n_shards)
    return (
        packed.groupBy("source", "shard")
        .agg((F.max("bin_id") + 1).alias("bins"))
        .agg(F.sum("bins").cast("long").alias("aux"))
    )


def stage_row(
    stage: int,
    name: str,
    in_df: DataFrame,
    out_df: DataFrame,
    aux_df: DataFrame,
    n_dropped: int | None = None,
) -> DataFrame:
    """One (stage, stage_name, n_in, n_dropped, n_out, survivor_id_sum,
    aux) handoff-pin row."""
    n_in = in_df.agg(F.count(F.lit(1)).cast("long").alias("n_in"))
    no = out_df.agg(
        F.count(F.lit(1)).cast("long").alias("n_out"),
        F.sum("doc_id").cast("long").alias("survivor_id_sum"),
    )
    row = n_in.crossJoin(no).crossJoin(aux_df)
    nd = (
        F.lit(n_dropped).cast("long")
        if n_dropped is not None
        else (F.col("n_in") - F.col("n_out")).cast("long")
    )
    return row.select(
        F.lit(stage).cast("long").alias("stage"),
        F.lit(name).alias("stage_name"),
        "n_in",
        nd.alias("n_dropped"),
        "n_out",
        "survivor_id_sum",
        F.col("aux").cast("long").alias("aux"),
    )
