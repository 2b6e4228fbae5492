"""Streaming NEAR-duplicate detection — MinHash-LSH dedup at ingest
time, the stateful-streaming twin of the batch pipeline
(operators/dedup.py:minhash_lsh_dedup_pairs).

Why it exists: a training-data pipeline dedups on INGEST, not only in
batch sweeps — an arriving document should be flagged (or dropped)
when it near-duplicates anything already accepted, without rescanning
the corpus. The reference has no dedup surface at all (SURVEY §2
preamble); this is engine surface added per the north star, composing
the same primitives as batch: shingle -> MinHash -> banding, exact
Jaccard verification on candidates only.

Shape:

- Each arriving doc explodes into its ``bands`` (band_id, band_hash)
  rows carrying the doc's hashed shingle set (the same banding as the
  batch pipeline — same MINHASH_PERMS constants, so stream and batch
  agree bucket-for-bucket).
- ``groupBy(band_id, band_hash) -> applyInPandasWithState``: per-bucket
  state holds up to ``bucket_cap`` accepted (id, hashed-shingle-set)
  members. Each new doc is verified with EXACT Jaccard against the
  bucket's members (and earlier docs of the same batch, in doc-id
  order); matches >= threshold emit (doc_id, dup_of, jaccard) hit rows.
  New docs are appended to state while under the cap — the same
  adversarial-mega-bucket bound as batch (LSH_BUCKET_CAP).
- A doc matching in several bands emits one hit per band; the final
  per-doc verdict (any-band max) is a trivial batch aggregation in the
  consumer's foreachBatch / over the sink table — chaining a second
  stateful aggregation behind applyInPandasWithState inside one
  streaming query is not supported by Structured Streaming.

State is per BUCKET, not per doc: memory is bounded by
(#active buckets x cap x signature bytes), and the shuffle key is the
band hash — the same partitioning the batch job uses, so a 100 TB
backfill and the live stream produce identical candidate structure.

Agreement with batch (asserted in tests): with arrival order == doc_id
order and an uncapped bucket, the flagged set equals the distinct
``id_b`` side of the batch pipeline's pairs — a doc is flagged iff it
shares a band bucket with an EARLIER doc at Jaccard >= threshold.
"""

from __future__ import annotations

from typing import Iterable, Tuple

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..operators.dedup import LSH_BUCKET_CAP, MINHASH_PERMS, _P, shingles_expr
from ..operators.scale import pin
from .commit import already_applied, mark_applied, write_epoch

HIT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("dup_of", T.LongType()),
        T.StructField("band_id", T.IntegerType()),
        T.StructField("band_hash", T.IntegerType()),
        T.StructField("jaccard", T.DoubleType()),
    ]
)

#: per-bucket state: parallel arrays (ids, one flattened hash array with
#: offsets) — applyInPandasWithState state columns must be Arrow-simple,
#: so the per-member hash sets are flattened + offset-indexed instead of
#: nested array<array<long>>.
BUCKET_STATE_SCHEMA = T.StructType(
    [
        T.StructField("ids", T.ArrayType(T.LongType())),
        T.StructField("flat", T.ArrayType(T.LongType())),
        T.StructField("offs", T.ArrayType(T.IntegerType())),
    ]
)


def banded_stream(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    bands: int = 16,
) -> DataFrame:
    """(band_id, band_hash, id, hs) rows for a streaming document relation
    — identical banding math to the batch `_lsh_banded_docs` (shared
    MINHASH_PERMS / modulus), expressed without the batch helper's
    `spread()` (a streaming relation cannot be repartition-widened the
    same way; the groupBy shuffle distributes the load)."""
    k = len(MINHASH_PERMS)
    rows = k // bands
    sh = (
        docs.withColumn("toks", F.split(F.col(text_col), " "))
        .filter(F.size("toks") >= n)
        .withColumn("shingles", shingles_expr("toks", n))
        .withColumn(
            "hs",
            F.expr(f"array_distinct(transform(shingles, s -> pmod(xxhash64(s), {_P}L)))"),
        )
    )
    sig_cols = [
        F.array_min(
            F.expr(f"transform(hs, h -> pmod({a}L * h + {b}L, {_P}L))")
        ).alias(f"mh_{i}")
        for i, (a, b) in enumerate(MINHASH_PERMS)
    ]
    sig = sh.select(F.col(id_col).alias("id"), "hs", F.array(*sig_cols).alias("minhash"))
    return sig.select(
        "id",
        "hs",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.hash(F.slice("minhash", b * rows + 1, rows)).alias("band_hash"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band"),
    ).select("band.band_id", "band.band_hash", "id", "hs")


def _bucket_group(
    key: Tuple,
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
    threshold: float,
    cap: int,
) -> Iterable[pd.DataFrame]:
    band_id, band_hash = key
    if state.exists:
        ids, flat, offs = state.get
        ids, flat, offs = list(ids), list(flat), list(offs)
    else:
        ids, flat, offs = [], [], [0]
    members = [
        (ids[i], set(flat[offs[i]:offs[i + 1]])) for i in range(len(ids))
    ]
    hits = []
    rows = []
    for pdf in pdfs:
        rows.extend(
            (int(r.id), set(int(h) for h in r.hs)) for r in pdf.itertuples(index=False)
        )
    # doc-id order = deterministic "previously seen" within the batch
    for doc_id, hs in sorted(rows, key=lambda t: t[0]):
        for seen_id, seen_hs in members:
            if seen_id == doc_id:
                continue  # replayed doc (restart): never self-match
            inter = len(hs & seen_hs)
            if inter == 0:
                continue
            j = inter / len(hs | seen_hs)
            if j >= threshold:
                hits.append(
                    {
                        "doc_id": doc_id,
                        "dup_of": seen_id,
                        "band_id": band_id,
                        "band_hash": band_hash,
                        "jaccard": j,
                    }
                )
        if len(members) < cap and all(m[0] != doc_id for m in members):
            members.append((doc_id, hs))
    ids = [m[0] for m in members]
    flat, offs = [], [0]
    for _, hs in members:
        flat.extend(sorted(hs))
        offs.append(len(flat))
    state.update((ids, flat, offs))
    if hits:
        yield pd.DataFrame(hits)


def streaming_neardup_hits(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    bands: int = 16,
    bucket_cap: int = LSH_BUCKET_CAP,
) -> DataFrame:
    """Update-mode stream of near-dup HITS: one row per (arriving doc,
    matched band) with the earlier doc it duplicates and the exact
    Jaccard. Aggregate max-per-doc downstream (foreachBatch / sink
    table) for the final verdict; docs with no hit in any band are
    near-dup-free vs everything previously accepted."""
    import functools

    banded = banded_stream(docs, id_col, text_col, n, bands)
    fn = functools.partial(_bucket_group, threshold=threshold, cap=bucket_cap)
    return banded.groupBy("band_id", "band_hash").applyInPandasWithState(
        fn,
        outputStructType=HIT_SCHEMA,
        stateStructType=BUCKET_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def ingest_vs_index(
    stream_docs: DataFrame,
    index_name: str,
    hits_dir: str,
    checkpoint_dir: str,
    threshold: float = 0.5,
    grow: bool = True,
):
    """The full ingest-dedup LOOP against a PERSISTED corpus index
    (operators/dedup.py:build_jaccard_index), as a streaming query:
    every micro-batch is (1) flagged — exact R-S PPJoin of the batch
    against the index PLUS an exact within-batch pair check (a doc is a
    hit if it near-duplicates the index or any lower-id doc of its own
    batch), hits written parquet to ``hits_dir`` partitioned by epoch —
    and (2) when ``grow``, the batch's CLEAN docs (no hit) are appended
    to the index, so batch N+1 dedups against everything accepted
    through batch N and no intra-batch duplicate pair ever enters the
    index together. This is what `streaming_neardup_hits`
    is not: that operator dedups the stream against ITSELF (per-bucket
    state); this one dedups it against the standing corpus, with the
    index as the state — unbounded corpus, zero stream state.

    Exactly-once (streaming/commit.py): hits land through write_epoch,
    idempotent on replay; index growth is guarded by the per-batch
    ledger table ``{index_name}_applied`` (a replayed batch that
    completed is skipped wholesale). The unguarded window is one
    metadata write wide — a crash BETWEEN the index append and the
    ledger append replays the batch with its docs already indexed.
    Ids are globally unique in this loop, so index-side SELF-hits
    (new_id == index_id) are filtered in ``handle()``; the residual
    failure mode of that window is therefore that the replayed batch's
    clean docs are re-appended to the index (duplicate index rows →
    duplicate hit rows for later batches), NOT corrupted hits for the
    replayed epoch. Closing it fully needs a transactional table
    format (Delta/Iceberg MERGE — classpath-gated here, like the CDC
    MERGE path); the ledger narrows it to the same window every
    at-least-once ingest system documents.

    Returns the configured ``DataStreamWriter`` (availableNow) — call
    ``.start()``."""
    from pyspark.sql import functions as SF

    from ..operators.dedup import (
        append_to_jaccard_index,
        exact_jaccard_pairs,
        incremental_vs_jaccard_index,
    )

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        ledger = f"{index_name}_applied"
        if already_applied(spark, ledger, batch_id):
            return
        batch_df = pin(batch_df)  # consumed 4x below
        # A doc is flagged if it near-duplicates the INDEX or any
        # LOWER-ID doc of the same batch (with availableNow and no file
        # throttle the whole backlog can be ONE batch, so batch-vs-index
        # alone would wave intra-batch duplicates straight into the
        # index — r4 review). Same deterministic order rule as the
        # stateful LSH stream: the earlier doc wins regardless of its
        # own verdict.
        within = exact_jaccard_pairs(batch_df, threshold=threshold).select(
            SF.col("id_b").alias("new_id"),
            SF.col("id_a").alias("index_id"),
            "jaccard",
        )
        # new_id == index_id only happens when a crash between the
        # index append and the ledger append replays a batch whose docs
        # are already indexed (ids are globally unique); dropping the
        # self-hits keeps that epoch's hits output honest and shifts
        # the residual failure to re-appended index rows (docstring).
        hits = (
            incremental_vs_jaccard_index(
                batch_df, index_name, threshold=threshold
            )
            .filter(SF.col("new_id") != SF.col("index_id"))
            .unionByName(within)
        )
        write_epoch(hits, hits_dir, batch_id)
        if grow:
            flagged = hits.select(
                SF.col("new_id").alias("doc_id")
            ).distinct()
            clean = batch_df.join(flagged, "doc_id", "left_anti")
            append_to_jaccard_index(clean, index_name)
        mark_applied(spark, ledger, batch_id)

    return (
        stream_docs.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )
