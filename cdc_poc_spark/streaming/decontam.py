"""Approximate-membership DECONTAMINATION at stream time (VERDICT r9
task #4): the r8 Bloom decontaminator (queries/curation.py:
pipeline_bloom_decontaminate) wired into the reference's foreachBatch
surface (consumer.py:68-78) — arriving documents are screened against
a benchmark set IN-FLIGHT, each micro-batch paying only its own grams.

Production shape this models: the benchmark's word n-grams compress
once into a k-hash/m-bit Bloom bit-set that rides along broadcast;
every ingest batch explodes into distinct grams, probes the bits
map-side, and only the POSITIVE (suspect) grams pay the exact
verification join against the real benchmark gram set — the two-tier
screen that makes decontamination affordable at 100 TB ingest rates
(bloom soundness: a contaminated doc can never pass the pre-filter,
so the exact tier sees every true positive).

Exactly-once: dispositions are written per-epoch with dynamic
partition overwrite — a replayed batch rewrites its own epoch, same
protocol as the CDC log/DLQ sinks. The screen is STATELESS across
batches (the benchmark side is frozen), so no ledger is needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.curation import BDC_N, bloom_bits, bloom_suspects, word_ngrams
from .commit import write_epoch


def _doc_grams(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    return (
        df.withColumn("toks", F.split(F.col(text_col), " "))
        .select(
            F.col(id_col).alias("doc_id"),
            F.explode(word_ngrams("toks", BDC_N)).alias("gram"),
        )
        .distinct()
    )


def benchmark_screen(
    bench_docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> tuple[DataFrame, DataFrame]:
    """Build the frozen benchmark side once: (bits, bench_grams) —
    bits is the ≤ m-row Bloom position relation that broadcasts to
    every ingest batch; bench_grams is the exact gram set the suspect
    tier verifies against. Both are persisted (they serve every
    micro-batch for the stream's lifetime)."""
    from pyspark.storagelevel import StorageLevel

    bench = _doc_grams(bench_docs, id_col, text_col).select("gram").distinct()
    bits = bloom_bits(bench).persist(StorageLevel.MEMORY_AND_DISK)
    bench = bench.persist(StorageLevel.MEMORY_AND_DISK)
    return bits, bench


def screen_batch(
    batch_df: DataFrame,
    bits: DataFrame,
    bench_grams: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """One ingest batch through the two-tier screen. Returns one
    disposition row per arriving doc: (doc_id, n_grams,
    n_suspect_grams, bloom_flagged, confirmed_contaminated) — suspect
    = all k Bloom probes hit; confirmed = suspect gram exactly in the
    benchmark (only suspect grams pay this join)."""
    grams = _doc_grams(batch_df, id_col, text_col)
    suspects = bloom_suspects(grams, bits).select("doc_id", "gram")
    confirmed = (
        suspects.join(bench_grams, "gram", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("confirmed_contaminated", F.lit(True))
    )
    per_doc = grams.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_grams")
    )
    susp_per_doc = suspects.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_suspect_grams")
    )
    return (
        batch_df.select(F.col(id_col).alias("doc_id"))
        .distinct()
        .join(per_doc, "doc_id", "left")
        .join(susp_per_doc, "doc_id", "left")
        .join(confirmed, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.coalesce("n_suspect_grams", F.lit(0)).alias("n_suspect_grams"),
            (F.coalesce("n_suspect_grams", F.lit(0)) > 0).alias("bloom_flagged"),
            F.coalesce("confirmed_contaminated", F.lit(False)).alias(
                "confirmed_contaminated"
            ),
        )
    )


def decontam_stream(
    stream_docs: DataFrame,
    bench_docs: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """The checkpointed in-flight decontamination query: benchmark side
    built once, every micro-batch screened and its dispositions landed
    through write_epoch (idempotent on replay).
    Returns the configured DataStreamWriter — call .start()."""
    bits, bench = benchmark_screen(bench_docs, id_col, text_col)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        disp = screen_batch(batch_df, bits, bench, id_col, text_col)
        write_epoch(disp, out_dir, batch_id)

    return (
        stream_docs.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )
