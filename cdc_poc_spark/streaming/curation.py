"""The curation GATE at ingest time (round 12) — the streaming twin of
pipeline_curation_e2e's filter stages, composed into one checkpointed
foreachBatch drive (the reference's consumer surface, consumer.py:68-78,
re-expressed over curation semantics like streaming/{decontam,substr,
semdedup}.py):

arriving documents pass, in one map-heavy screen per micro-batch,
  1. benchmark-membership rejection (source = the frozen eval set's
     shard never enters training data);
  2. the composite quality filter (operators/text.quality_score);
  3. EXACT-clone screening against a STANDING md5 index — the curated
     base corpus plus every earlier batch's admitted docs (the
     cross-batch append protocol of streaming/semdedup.py: a lost
     append shows up as a false admit one epoch later). Corpus-wins:
     the standing doc survives, the arrival is rejected; clones WITHIN
     one micro-batch both pass (peers — resolved by the next
     batch-mode dedup pass);
  4. two-tier Bloom decontamination against the frozen benchmark
     n-grams (streaming/decontam.py: bits broadcast, only
     Bloom-positive grams pay the exact verify join).

Only docs passing ALL four gates are ADMITTED; their content hashes
append to the standing index under their epoch. Dispositions and index
appends land through streaming/commit.py:write_epoch (exactly-once on
replay), and both writes are eagerly materialized before touching the
index dir (a plan must not read the directory its write overwrites).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.scale import pin
from ..operators.text import quality_score
from .commit import write_epoch
from .decontam import benchmark_screen, screen_batch as decontam_screen

#: Admission bar for the composite quality score (shared with the
#: batch pipeline's stage 6).
QUALITY_MIN = 0.5


def curate_base(base_docs: DataFrame) -> DataFrame:
    """Batch-curate the standing base corpus: drop benchmark-shard
    docs, apply the quality bar, collapse exact clones to the min-id
    canonical. Returns index rows (h, doc_id)."""
    q = quality_score(base_docs).select("doc_id", "quality_score")
    return (
        base_docs.join(q, "doc_id")
        .filter(
            (F.col("source") != "src0")
            & (F.col("quality_score") >= QUALITY_MIN)
        )
        .groupBy(F.md5("text").alias("h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("h", "doc_id")
    )


def screen_ingest_batch(
    batch_df: DataFrame,
    bits: DataFrame,
    bench_grams: DataFrame,
    index: DataFrame,
) -> tuple[DataFrame, DataFrame]:
    """One ingest batch through all four gates. Returns (dispositions,
    admitted index rows). Disposition row: (doc_id, benchmark_member,
    quality_ok, is_clone, bloom_flagged, contaminated, admitted)."""
    d = batch_df.select(
        "doc_id", "source", "text", F.md5("text").alias("h")
    )
    q = quality_score(batch_df).select("doc_id", "quality_score")
    dec = decontam_screen(batch_df.select("doc_id", "text"), bits, bench_grams)
    clone = (
        d.join(
            index.select("h").distinct().withColumn("__c", F.lit(1)),
            "h",
            "left",
        )
        .select("doc_id", F.col("__c").isNotNull().alias("is_clone"))
    )
    disp = (
        d.join(q, "doc_id")
        .join(clone, "doc_id")
        .join(dec.select("doc_id", "bloom_flagged", "confirmed_contaminated"), "doc_id")
        .select(
            "doc_id",
            "h",
            (F.col("source") == "src0").alias("benchmark_member"),
            (F.col("quality_score") >= QUALITY_MIN).alias("quality_ok"),
            "is_clone",
            "bloom_flagged",
            F.col("confirmed_contaminated").alias("contaminated"),
        )
        .withColumn(
            "admitted",
            ~F.col("benchmark_member")
            & F.col("quality_ok")
            & ~F.col("is_clone")
            & ~F.col("contaminated"),
        )
    )
    survivors = disp.filter(F.col("admitted")).select("h", "doc_id")
    return disp.drop("h"), survivors


def curation_ingest_stream(
    stream_docs: DataFrame,
    base_docs: DataFrame,
    bench_docs: DataFrame,
    out_dir: str,
    index_dir: str,
    checkpoint_dir: str,
):
    """The checkpointed in-flight curation gate. The curated base index
    lands at epoch -1 before the stream starts; each micro-batch reads
    the CURRENT index (base + every prior epoch's admits), screens
    through all four gates, lands dispositions, and appends its admits
    under its own epoch. Returns the configured DataStreamWriter —
    call .start()."""
    bits, bench = benchmark_screen(bench_docs)
    spark = base_docs.sparkSession
    write_epoch(curate_base(base_docs), index_dir, -1)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        # prior epochs only (write_epoch's replay rule): a replay must
        # not reject its own first attempt's admits as clones
        index = (
            spark.read.schema("h string, doc_id long, epoch int")
            .parquet(index_dir)
            .filter(F.col("epoch") < F.lit(int(batch_id)))
        )
        disp, survivors = screen_ingest_batch(batch_df, bits, bench, index)
        # materialize both outputs before any write starts: survivors'
        # plan READS index_dir and the second write overwrites it
        # (the ADVICE-r11 rule, same as the semdedup drive)
        disp = pin(disp)
        survivors = pin(survivors)
        write_epoch(disp, out_dir, batch_id)
        write_epoch(survivors, index_dir, batch_id)

    return (
        stream_docs.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )
