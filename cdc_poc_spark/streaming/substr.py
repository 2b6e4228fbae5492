"""Streaming twin of the EXACT-substring dedup tier (VERDICT r9 task
#3) — ingest-vs-corpus incremental ExactSubstr, completing what MinHash
already has (streaming/neardup.py): a standing POSITIONAL-GRAM INDEX
maintained as bucketed catalog tables (the build_jaccard_index
lifecycle pattern, operators/dedup.py:692) plus a per-batch gram join
and the same gaps-and-islands run assembly as the batch operator
(operators/dedup.py:common_substring_runs).

Why it exists: ExactSubstr dedup (Lee et al. 2022) is the tier that
catches verbatim quote/boilerplate overlap MinHash's bag-of-shingles
misses; a training-data pipeline wants it at INGEST — an arriving
document should be flagged when it shares a >= min_span token run with
anything already accepted, paying only the batch's own grams, never a
corpus rescan.

Index tables ({name} prefix):

  {name}_grams (gh, id, pos)   bucketed by gh — every k-gram occurrence
                               of every accepted doc, as xxhash64(gram)
                               (the documented 100 TB variant of the
                               batch tier: hash through the join, the
                               island structure re-verifies adjacency)
  {name}_lens  (h, id, n_toks) bucketed by h (md5 of text) — the clone
                               ledger: an arriving exact clone of an
                               indexed doc is dropped, mirroring the
                               batch tier's collapse-first rule
  {name}_meta  (k, n_buckets)  one row; {name}_applied — exactly-once
                               batch ledger (streaming/commit.py:
                               already_applied / mark_applied)

Batch == streaming agreement (proved in tests/test_substr_stream.py):
with arrival order == doc_id order and no gram ever exceeding
gram_doc_cap distinct docs, the union of per-batch hit sets equals the
batch common_substring_pairs over the whole corpus, minus pairs wholly
inside the initially-indexed prefix — each pair emits exactly once, in
the micro-batch where its later doc arrives, INCLUDING runs that span
a micro-batch cut (the index side supplies the earlier doc's full
position list, so islands assemble identically).

Scale shape: the per-batch cost is (batch grams) x (their index
postings, frequency-capped) — bucket-local on gh, never an index
self-join; the index grows by plain bucketed appends.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ..operators.scale import pin
from .commit import already_applied, mark_applied, write_epoch


def gram_rows(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 8
) -> DataFrame:
    """(id, pos, gh) rows: every k-token gram start position with the
    gram's xxhash64 — the hashed form of the batch tier's gram
    relation (operators/dedup.py:1529), JVM-side slice/array_join."""
    toks = df.select(F.col(id_col).alias("id"), F.split(F.col(text_col), " ").alias("toks"))
    return (
        toks.filter(F.size("toks") >= k)
        .select(
            "id",
            F.posexplode(
                F.expr(
                    f"transform(sequence(1, size(toks) - {k} + 1),"
                    f" i -> xxhash64(array_join(slice(toks, i, {k}), ' ')))"
                )
            ).alias("pos0", "gh"),
        )
        .select("id", (F.col("pos0") + 1).cast("long").alias("pos"), "gh")
    )


def _collapse_batch(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """min-id representative per md5 within the batch — the same
    collapse-first rule as the batch tier."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("h"))
        .agg(F.min(id_col).alias("id"), F.min(text_col).alias("text"))
    )


def build_gram_index(
    df: DataFrame,
    name: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    n_buckets: int = 32,
) -> None:
    """Materialize the standing positional-gram index from an initial
    corpus (clone-collapsed), and reset the ingest ledger — the same
    build/append/ledger lifecycle as build_jaccard_index."""
    from ..operators.scale import write_bucketed

    spark = df.sparkSession
    collapsed = _collapse_batch(df, id_col, text_col)
    lens = collapsed.select(
        "h", "id", F.size(F.split("text", " ")).cast("long").alias("n_toks")
    )
    write_bucketed(lens, f"{name}_lens", ["h"], n_buckets=n_buckets)
    write_bucketed(
        gram_rows(collapsed, "id", "text", k),
        f"{name}_grams",
        ["gh"],
        n_buckets=n_buckets,
    )
    spark.createDataFrame([(k, n_buckets)], "k int, n_buckets int").write.mode(
        "overwrite"
    ).format("parquet").saveAsTable(f"{name}_meta")
    spark.sql(f"DROP TABLE IF EXISTS {name}_applied")


def batch_substr_hits(
    batch_df: DataFrame,
    name: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_span: int = 16,
    gram_doc_cap: int = 50,
) -> tuple[DataFrame, DataFrame]:
    """One ingest batch against the standing index: returns
    (hits, survivors) where hits = (id_a, id_b, max_shared_span,
    n_runs) for every pair — batch-vs-index AND within-batch — whose
    longest shared token run is >= min_span, and survivors = the
    batch's clone-collapsed, not-already-indexed (h, id, text, n_toks)
    rows that should grow the index.

    The frequency cap mirrors the batch tier against the corpus SO
    FAR: a gram's doc count = its index postings + its batch docs;
    grams over the cap are dropped from pairing (but still indexed —
    future batches recount). Islands assemble over the UNION of index
    and batch occurrences, so a run spanning the ingest cut is found
    whole."""
    spark = batch_df.sparkSession
    meta = spark.table(f"{name}_meta").collect()[0]
    k = int(meta.k)
    collapsed = _collapse_batch(batch_df, id_col, text_col)
    # consumed by hits AND index growth
    survivors = pin(
        collapsed.join(spark.table(f"{name}_lens"), "h", "left_anti")
        .select(
            "h", "id", "text",
            F.size(F.split("text", " ")).cast("long").alias("n_toks"),
        )
    )
    bg = pin(gram_rows(survivors, "id", "text", k))
    idx = spark.table(f"{name}_grams")
    batch_ghs = bg.select("gh").distinct()
    idx_touched = idx.join(batch_ghs, "gh", "left_semi")
    cnt = (
        bg.groupBy("gh")
        .agg(F.countDistinct("id").alias("c_new"))
        .join(
            idx_touched.groupBy("gh").agg(F.countDistinct("id").alias("c_idx")),
            "gh",
            "left",
        )
        .select(
            "gh",
            (F.col("c_new") + F.coalesce(F.col("c_idx"), F.lit(0))).alias("nd"),
        )
    )
    ok = cnt.filter((F.col("nd") >= 2) & (F.col("nd") <= gram_doc_cap)).select("gh")
    occ_new = bg.join(ok, "gh", "left_semi").withColumn("is_new", F.lit(True))
    occ_idx = idx_touched.join(ok, "gh", "left_semi").withColumn(
        "is_new", F.lit(False)
    )
    occ = occ_new.unionByName(occ_idx)
    a = occ.select("gh", F.col("id").alias("id_a"), F.col("pos").alias("pa"),
                   F.col("is_new").alias("new_a"))
    b = occ.select("gh", F.col("id").alias("id_b"), F.col("pos").alias("pb"),
                   F.col("is_new").alias("new_b"))
    p = (
        a.join(b, "gh")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(F.col("new_a") | F.col("new_b"))  # never index x index
        .select("id_a", "id_b", "pa", (F.col("pa") - F.col("pb")).alias("diag"))
    )
    w = W.partitionBy("id_a", "id_b", "diag").orderBy("pa")
    runs = (
        p.withColumn("grp", F.col("pa") - F.row_number().over(w))
        .groupBy("id_a", "id_b", "diag", "grp")
        .agg((F.count(F.lit(1)) + F.lit(k - 1)).cast("long").alias("span"))
    )
    hits = (
        runs.groupBy("id_a", "id_b")
        .agg(
            F.max("span").cast("long").alias("max_shared_span"),
            F.count(F.lit(1)).cast("long").alias("n_runs"),
        )
        .filter(F.col("max_shared_span") >= min_span)
    )
    return hits, survivors


def ingest_substr_stream(
    stream_docs: DataFrame,
    name: str,
    hits_dir: str,
    checkpoint_dir: str,
    min_span: int = 16,
    gram_doc_cap: int = 50,
):
    """The checkpointed ingest loop: every micro-batch is flagged
    against the positional-gram index (hits parquet to ``hits_dir``
    through write_epoch, idempotent on replay), and
    the batch's clone-collapsed new docs — flagged or not; keep/drop
    is a downstream POLICY, the index must see every distinct doc for
    future batches to pair against — are appended to the index.
    Exactly-once via the {name}_applied ledger of streaming/commit.py
    (same one-metadata-write residual window as ingest_vs_index,
    documented there). Returns the configured DataStreamWriter — call .start()."""
    from ..operators.scale import write_bucketed

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        ledger = f"{name}_applied"
        if already_applied(spark, ledger, batch_id):
            return
        hits, survivors = batch_substr_hits(
            batch_df, name, min_span=min_span, gram_doc_cap=gram_doc_cap
        )
        write_epoch(hits, hits_dir, batch_id)
        meta = spark.table(f"{name}_meta").collect()[0]
        write_bucketed(
            survivors.select("h", "id", "n_toks"),
            f"{name}_lens",
            ["h"],
            n_buckets=int(meta.n_buckets),
            mode="append",
        )
        write_bucketed(
            gram_rows(survivors, "id", "text", int(meta.k)),
            f"{name}_grams",
            ["gh"],
            n_buckets=int(meta.n_buckets),
            mode="append",
        )
        mark_applied(spark, ledger, batch_id)

    return (
        stream_docs.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )
