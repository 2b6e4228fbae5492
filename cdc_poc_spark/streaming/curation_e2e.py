"""The FULL curation DAG at ingest time (round 13) — the streaming
composition VERDICT r12 task #2 asked for: the standing-index dedup
drives (exact clone index, containment postings, MinHash-LSH band
index) and the set-global tail (SemDeDup, Bloom decontam,
quality/lang, water-fill quota, packing) wired into ONE checkpointed
multi-epoch foreachBatch pipeline whose derived survivor sets are, at
every epoch, EXACTLY the batch DAG (queries/curation_e2e.py) run on
the corpus prefix seen so far — the stream-batch agreement contract.

How agreement is achieved (and what it costs):

* **Incrementally maintained (the standing-index payoff).** The three
  pairwise dedup tiers' inputs are content-pairwise relations —
  whether two documents are exact clones, containment-related
  (c(A->B) = |A∩B|/|A| >= 0.9) or LSH-verified near-dups
  (band-collision AND Jaccard >= 0.5) depends only on the two texts —
  so the PAIR SETS over the corpus prefix grow append-only: each
  micro-batch computes only pairs TOUCHING its new canonicals
  (arrival-vs-standing via the band/posting indexes + within-batch),
  never re-touching old pairs. With id-ordered arrivals the md5 canon
  index reproduces the batch min-id canonical rule exactly, and the
  LSH bucket cap (keep the `cap` smallest ids per bucket) is
  prefix-consistent: earlier arrival == smaller id.

* **Derived per epoch (set algebra over standing state — cheap).**
  s2 = canon − {contained}; s3 = s2 − {larger side of an LSH pair
  whose BOTH sides are still in s2}. The batch DAG computes LSH pairs
  only among containment survivors; maintaining pairs over ALL
  canonicals and restricting to s2 at derive time yields the same set
  because the pair relation is content-pairwise. (Cap-boundary caveat:
  if a band bucket exceeds the cap, the standing index caps among ALL
  canonicals while the batch caps among s2 only — divergence is
  possible ONLY past the cap, is observable via the bucket-size
  accounting, and does not occur on the fixtures; the production fix
  is verdict-aware bucket retraction, the same trade every standing
  LSH index documents.)

* **Rebuilt per epoch (the documented non-monotone tail).** SemDeDup's
  centroids are a function of the current s3 set; the Bloom benchmark
  GROWS as src0 docs arrive (a doc that passed decontamination at
  epoch 0 can become contaminated at epoch 2 — re-screening against
  the grown benchmark is what the batch semantics require); the
  water-fill level moves with every cap. These stages re-run on the
  prefix each epoch through the SAME code the batch DAG executes
  (operators/curation_stages.py). The in-flight single-screen variants
  of these gates are separately proven (streaming/curation.py r12,
  streaming/decontam.py r10, streaming/semdedup.py r11); this drive
  pins exact agreement, which costs the rebuild.

Exactly-once: every state relation and the per-epoch stage rows are
epoch-partitioned with dynamic partition overwrite, and every standing
read filters to PRIOR epochs (`epoch < batch_id` — the ADVICE-r12
replay rule), so a replayed batch recomputes byte-identical state.

Reference provenance: the reference repo's streaming surface is the
84-line CDC consumer (consumer.py:68-81 — foreachBatch fan-out with
checkpointing); this module is that surface's pattern applied to the
north-star curation DAG.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ..operators.curation_stages import (
    stage4_semdedup,
    stage5_decontam,
    stage6_quality,
    stage7_waterfill,
    stage8_pack,
    stage_row,
)
from ..operators.dedup import (
    LSH_BUCKET_CAP,
    _lsh_banded_docs,
    with_shingles,
)
from ..operators.scale import pin
from .commit import write_epoch

#: epsilon slack shared with operators/dedup.py's prefix filters.
_EPS = 1e-9
#: shingle width (tier contract, operators/dedup.py n=3).
_N = 3
#: containment threshold (tier contract).
_CONT_T = 0.9
#: LSH verify threshold (tier contract).
_LSH_T = 0.5


def _delta_containment(
    delta_docs: DataFrame,
    standing_post: DataFrame,
    standing_hset: DataFrame,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """All exact-containment pairs (id_a contained-in id_b, both
    directions) TOUCHING the batch's new canonicals — arrival-vs-
    standing through the posting index plus within-batch. Returns
    (postings-to-append, hsets-to-append, new pairs).

    Candidate generation uses the asymmetric prefix filter of
    operators/dedup.exact_containment_pairs with a PLAIN-VALUE token
    order instead of the sampled rarest-first order: any fixed
    per-probe order is exact (the prefix principle needs only the
    probe's own order; the index side answers by membership), the
    sampled order is merely more selective. Both directions need both
    sides of the index: new-contained-in-old probes the new PREFIX
    against standing FULL postings; old-contained-in-new probes
    standing PREFIX postings against new FULL tokens. Verification is
    exact over the same xxhash64 shingle sets the batch operator uses,
    so emitted pairs are bit-identical."""
    sh = with_shingles(delta_docs, "text", _N).select(
        "doc_id",
        F.array_sort(
            F.array_distinct(
                F.transform("shingles", lambda s: F.xxhash64(s))
            )
        ).alias("hset"),
    )
    sh = sh.withColumn("sz", F.size("hset"))
    alpha = F.ceil(F.lit(_CONT_T) * F.col("sz") - _EPS)
    plen = (F.col("sz") - alpha + 1).cast("int")
    posts = sh.select(
        "doc_id",
        "sz",
        F.posexplode("hset").alias("rk0", "tok"),
        plen.alias("plen"),
    ).select(
        "doc_id",
        "sz",
        "tok",
        (F.col("rk0") < F.col("plen")).alias("is_pfx"),
    )
    posts = pin(posts)
    hsets = pin(sh.select("doc_id", "hset", "sz"))

    def _cands(probe: DataFrame, index: DataFrame) -> DataFrame:
        return (
            probe.filter(F.col("is_pfx"))
            .select(
                F.col("doc_id").alias("id_a"),
                F.col("sz").alias("sz_a"),
                "tok",
            )
            .join(
                index.select(
                    F.col("doc_id").alias("id_b"),
                    F.col("sz").alias("sz_b"),
                    "tok",
                ),
                "tok",
            )
            .filter(
                (F.col("id_a") != F.col("id_b"))
                & (F.col("sz_b") >= F.lit(_CONT_T) * F.col("sz_a") - _EPS)
            )
            .select("id_a", "id_b")
        )

    cands = (
        _cands(posts, standing_post)  # new contained in standing
        .unionByName(
            _cands(standing_post, posts)  # standing contained in new
        )
        .unionByName(_cands(posts, posts))  # within batch
        .distinct()
    )
    all_hs = hsets.select("doc_id", "hset").unionByName(
        standing_hset.select("doc_id", "hset")
    )
    a = all_hs.select(F.col("doc_id").alias("id_a"), F.col("hset").alias("sh_a"))
    b = all_hs.select(F.col("doc_id").alias("id_b"), F.col("hset").alias("sh_b"))
    pairs = (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .withColumn(
            "containment",
            F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
            / F.size("sh_a").cast("double"),
        )
        .filter(F.col("containment") >= F.lit(_CONT_T) - _EPS)
        .select("id_a", "id_b")
    )
    return posts, hsets.select("doc_id", "hset"), pairs


def _delta_lsh(
    delta_docs: DataFrame,
    standing_bands: DataFrame,
    standing_hs: DataFrame,
    cap: int = LSH_BUCKET_CAP,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """All LSH-verified near-dup pairs (id_a < id_b, Jaccard >= 0.5)
    touching the batch's new canonicals, through the standing band
    index — the portable-md5 banding of operators/dedup.
    _lsh_banded_docs, so bucket keys and verified Jaccard values are
    bit-identical to the batch tier. Returns (kept band rows to
    append, hashed-shingle rows to append, new pairs).

    Bucket admission reproduces the batch cap (keep the `cap` smallest
    ids per bucket) under id-ordered arrivals: a new member is kept
    only while the standing bucket has room, ranked by id within the
    batch."""
    banded = _lsh_banded_docs(delta_docs, "doc_id", "text", _N, portable=True)
    dband = pin(banded.select(
        F.col("doc.id").alias("doc_id"),
        F.col("doc.hs").alias("hs"),
        "band_id",
        "band_hash",
    ))
    dhs = pin(dband.groupBy("doc_id").agg(F.first("hs").alias("hs")))
    scnt = standing_bands.groupBy("band_id", "band_hash").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    rk = F.row_number().over(
        W.partitionBy("band_id", "band_hash").orderBy("doc_id")
    )
    kept = pin(
        dband.select("doc_id", "band_id", "band_hash")
        .withColumn("rk", rk)
        .join(scnt, ["band_id", "band_hash"], "left")
        .filter(F.coalesce(F.col("cnt"), F.lit(0)) + F.col("rk") <= cap)
        .select("doc_id", "band_id", "band_hash")
    )
    new_old = kept.join(
        standing_bands.select(
            F.col("doc_id").alias("old_id"), "band_id", "band_hash"
        ),
        ["band_id", "band_hash"],
    ).select(
        F.least("doc_id", "old_id").alias("id_a"),
        F.greatest("doc_id", "old_id").alias("id_b"),
    )
    ka = kept.select(F.col("doc_id").alias("id_a"), "band_id", "band_hash")
    kb = kept.select(F.col("doc_id").alias("id_b"), "band_id", "band_hash")
    new_new = (
        ka.join(kb, ["band_id", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    cands = new_old.unionByName(new_new).distinct()
    all_hs = dhs.unionByName(standing_hs.select("doc_id", "hs"))
    a = all_hs.select(F.col("doc_id").alias("id_a"), F.col("hs").alias("hs_a"))
    b = all_hs.select(F.col("doc_id").alias("id_b"), F.col("hs").alias("hs_b"))
    pairs = (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("hs_a", "hs_b")).cast("double")
            / F.size(F.array_union("hs_a", "hs_b")).cast("double"),
        )
        .filter(F.col("jaccard") >= _LSH_T)
        .select("id_a", "id_b")
    )
    return kept, dhs, pairs


#: state relation -> read schema (epoch column appended by the writer).
_STATE_SCHEMAS = {
    "corpus": "doc_id long, source string, lang string, text string, h string",
    "canon": "h string, doc_id long",
    "cont_post": "doc_id long, sz int, tok long, is_pfx boolean",
    "cont_hset": "doc_id long, hset array<bigint>",
    "lsh_bands": "doc_id long, band_id int, band_hash string",
    "lsh_hs": "doc_id long, hs array<bigint>",
    "pairs_cont": "id_a long, id_b long",
    "pairs_lsh": "id_a long, id_b long",
    "emb_st": "vec_id long, embedding array<float>, label int",
}


def curation_stream_e2e(
    stream_docs: DataFrame,
    emb: DataFrame,
    out_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    *,
    bdc_n: int,
    bdc_k: int,
    bdc_m: int,
    quality_min: float,
    pack_budget: int,
    pack_shards: int,
):
    """The checkpointed streaming curation DAG. Each micro-batch:

    1. lands arrivals in the corpus log and collapses them against the
       standing md5 canon index (corpus-wins; within-batch clones
       collapse to min id);
    2. runs the new canonicals through the standing containment
       posting index and the standing LSH band index (arrival-vs-
       standing + within-batch) and APPENDS the discovered pairs —
       the only pairwise work the batch pays, linear in arrivals;
    3. derives the full 8-stage survivor cascade for the corpus seen
       so far (set algebra over the standing pair relations for tiers
       1-3; the shared batch stage implementations for stages 4-8) and
       lands one stage-row set under its epoch.

    Returns the configured DataStreamWriter — call .start()."""
    spark = emb.sparkSession
    dirs = {k: os.path.join(state_dir, k) for k in _STATE_SCHEMAS}

    def _read(name: str, lt: int) -> DataFrame:
        # prior epochs only: write_epoch's replay rule
        return (
            spark.read.schema(_STATE_SCHEMAS[name] + ", epoch int")
            .parquet(dirs[name])
            .filter(F.col("epoch") < F.lit(lt))
            .drop("epoch")
        )

    # seed every relation with an empty epoch -1 partition so the
    # first batch's standing reads resolve
    for name, schema in _STATE_SCHEMAS.items():
        write_epoch(spark.createDataFrame([], schema), dirs[name], -1)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        bid = int(batch_id)
        b = pin(batch_df.withColumn("h", F.md5("text")))
        canon_pre = _read("canon", bid)
        # within-batch collapse to min id, then corpus-wins vs standing
        bc = (
            b.groupBy("h")
            .agg(
                F.min("doc_id").alias("doc_id"),
                F.min_by("text", "doc_id").alias("text"),
            )
        )
        delta = bc.join(canon_pre.select("h"), "h", "left_anti")
        delta = pin(delta)
        delta_docs = delta.select("doc_id", "text")

        posts, hsets, cont_pairs = _delta_containment(
            delta_docs, _read("cont_post", bid), _read("cont_hset", bid)
        )
        kept_bands, dhs, lsh_pairs = _delta_lsh(
            delta_docs, _read("lsh_bands", bid), _read("lsh_hs", bid)
        )
        emb_delta = emb.join(
            delta.select(F.col("doc_id").alias("vec_id")),
            "vec_id",
            "left_semi",
        ).select("vec_id", "embedding", "label")

        # materialize every append before writing (the pair plans READ
        # the state dirs being appended to — the ADVICE-r11 rule)
        cont_pairs = pin(cont_pairs)
        lsh_pairs = pin(lsh_pairs)
        emb_delta = pin(emb_delta)

        write_epoch(b.select("doc_id", "source", "lang", "text", "h"), dirs["corpus"], bid)
        write_epoch(delta.select("h", "doc_id"), dirs["canon"], bid)
        write_epoch(posts.select("doc_id", "sz", "tok", "is_pfx"), dirs["cont_post"], bid)
        write_epoch(hsets, dirs["cont_hset"], bid)
        write_epoch(kept_bands, dirs["lsh_bands"], bid)
        write_epoch(dhs, dirs["lsh_hs"], bid)
        write_epoch(cont_pairs, dirs["pairs_cont"], bid)
        write_epoch(lsh_pairs, dirs["pairs_lsh"], bid)
        write_epoch(emb_delta, dirs["emb_st"], bid)

        # ---- derive the full cascade for the corpus seen so far ----
        upto = bid + 1
        docs_all = pin(_read("corpus", upto))
        s1 = pin(_read("canon", upto).select("doc_id"))
        pc = pin(_read("pairs_cont", upto))
        pl = pin(_read("pairs_lsh", upto))
        emb_all = _read("emb_st", upto)

        aux1 = (
            docs_all.groupBy("h")
            .agg(F.count(F.lit(1)).alias("n_members"))
            .filter(F.col("n_members") > 1)
            .agg(F.count(F.lit(1)).cast("long").alias("aux"))
        )
        dom2 = pc.select(F.col("id_a").alias("doc_id")).distinct()
        s2 = pin(s1.join(dom2, "doc_id", "left_anti"))
        aux2 = (
            pc.select("id_b")
            .distinct()
            .agg(F.count(F.lit(1)).cast("long").alias("aux"))
        )
        lsh_eff = pin(
            pl.join(s2.withColumnRenamed("doc_id", "id_a"), "id_a", "left_semi")
            .join(s2.withColumnRenamed("doc_id", "id_b"), "id_b", "left_semi")
        )
        dom3 = lsh_eff.select(F.col("id_b").alias("doc_id")).distinct()
        s3 = pin(s2.join(dom3, "doc_id", "left_anti"))
        aux3 = lsh_eff.distinct().agg(
            F.count(F.lit(1)).cast("long").alias("aux")
        )

        s4, aux4 = stage4_semdedup(emb_all, s3)
        s5, aux5 = stage5_decontam(docs_all, s4, bdc_n, bdc_k, bdc_m)
        s6, aux6 = stage6_quality(docs_all, s5, quality_min)
        s7, aux7 = stage7_waterfill(docs_all, s6)
        aux8 = stage8_pack(docs_all, s7, pack_budget, pack_shards)

        out = stage_row(1, "exact", docs_all, s1, aux1)
        out = out.unionByName(stage_row(2, "containment", s1, s2, aux2))
        out = out.unionByName(stage_row(3, "minhash_lsh", s2, s3, aux3))
        out = out.unionByName(stage_row(4, "semdedup", s3, s4, aux4))
        out = out.unionByName(stage_row(5, "decontam", s4, s5, aux5))
        out = out.unionByName(stage_row(6, "quality_lang", s5, s6, aux6))
        out = out.unionByName(stage_row(7, "quota_waterfill", s6, s7, aux7))
        out = out.unionByName(stage_row(8, "pack", s7, s7, aux8, n_dropped=0))
        out = pin(out)
        write_epoch(out, out_dir, bid)

    return (
        stream_docs.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )
