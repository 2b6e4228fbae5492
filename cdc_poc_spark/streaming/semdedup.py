"""SemDeDup at INGEST time (round 11 — the streaming twin of
queries/llm_ops4.py dedup_semdedup_prune, the same batch->stream
promotion as streaming/substr.py and streaming/decontam.py): arriving
embeddings are screened for semantic near-duplicates against a
STANDING index — the frozen corpus canonicals plus every earlier
batch's survivors — and only survivors join the index.

Production shape this models: a 100 TB corpus is SemDeDup'd once in
batch; afterwards every ingest batch must answer "is this new example
semantically redundant against what we already kept?" without
re-clustering the corpus. The coarse quantizer (exact integer
centroids from the corpus) is FROZEN at build time; an arriving vector
is assigned map-side against the broadcast centroid relation, probes
ONLY its own cell of the index (equi-join on cell_id), and is dropped
if any index member clears the all-integer cosine threshold
(100*dot^2 >= 9*|a|^2*|b|^2, dot > 0 — no float in the decision).
Corpus-wins precedence: the standing member survives, the arrival is
dropped (the batch operator's keep-most-atypical rule is for
peer-vs-peer pruning; at ingest the index is the canon). Duplicates
WITHIN one micro-batch both survive — they are peers, resolved by the
next batch-mode pass — but batch N+1 screens against batch N's
survivors, so the cross-batch index append is load-bearing: a lost
append shows up as false survivors one epoch later.

Exactly-once: dispositions AND index appends land through
streaming/commit.py:write_epoch (the corpus base rides as epoch -1),
so a replayed micro-batch rewrites its own epoch in both relations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.scale import pin
from .commit import write_epoch

#: Component quantization (shared with the batch operator).
SD_Q = 1_000_000
#: tau^2 = 9/100 (tau = 0.30 — see the batch operator's fixture note).
TAU_NUM = 9
TAU_DEN = 100

_QVEC = (
    f"transform(embedding, x -> cast(round(cast(x as double) * {SD_Q})"
    " as bigint))"
)


def _quantize(df: DataFrame, id_col: str = "vec_id") -> DataFrame:
    return df.select(
        F.col(id_col).alias("vec_id"),
        F.expr(_QVEC).alias("qv"),
    ).withColumn("n2", F.expr("aggregate(qv, 0L, (acc, x) -> acc + x * x)"))


def _assign(vectors: DataFrame, cent: DataFrame) -> DataFrame:
    """Exact-integer nearest-centroid assignment against the FROZEN
    centroid sum relation (clabel, dim, s, n) — the
    ml_kmeans_step_assign discipline: DECIMAL(38) numerator, one
    double division, ties to the smaller centroid label. Input needs
    (vec_id, qv); output adds cell_id."""
    from pyspark.sql import Window as W

    q = vectors.select(
        "vec_id", F.posexplode("qv").alias("dim0", "xq")
    ).select("vec_id", (F.col("dim0") + 1).alias("dim"), "xq")
    t = (F.col("xq") * F.col("n") - F.col("s")).cast("decimal(38,0)")
    d2 = (
        q.join(F.broadcast(cent), "dim")
        .select("vec_id", "clabel", "n", t.alias("t"))
        .groupBy("vec_id", "clabel")
        .agg(
            (
                F.sum(F.col("t") * F.col("t")).cast("double")
                / (F.min("n").cast("double") * F.min("n"))
            ).alias("dist2")
        )
    )
    rn = F.row_number().over(
        W.partitionBy("vec_id").orderBy("dist2", "clabel")
    )
    return (
        d2.withColumn("rn", rn)
        .filter(F.col("rn") == 1)
        .select("vec_id", F.col("clabel").alias("cell_id"))
    )


def build_standing_index(corpus: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(centroids, index rows) from the corpus: byte-identical vectors
    collapse to min-id canonicals (the batch operator's first step),
    centroids are exact per-label integer sums over canonicals, index
    rows are the canonicals' (vec_id, cell_id, qv, n2). Both relations
    serve every micro-batch; the caller persists/lands them."""
    canon = corpus.groupBy("embedding").agg(
        F.min("vec_id").alias("vec_id"),
        F.min_by("label", "vec_id").alias("label"),
    )
    cent = (
        canon.select(
            "label", F.posexplode(F.expr(_QVEC)).alias("dim0", "xq")
        )
        .select(
            F.col("label").alias("clabel"),
            (F.col("dim0") + 1).alias("dim"),
            "xq",
        )
        .groupBy("clabel", "dim")
        .agg(F.sum("xq").alias("s"), F.count(F.lit(1)).alias("n"))
    )
    qc = _quantize(canon)
    idx = qc.join(_assign(qc, cent), "vec_id").select(
        "vec_id", "cell_id", "qv", "n2"
    )
    return cent, idx


def screen_batch(
    batch_df: DataFrame, cent: DataFrame, index: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """One ingest batch against the standing index. Returns
    (dispositions, survivors-as-index-rows). Disposition row:
    (vec_id, cell_id, n_index_dups, dropped, nearest_dup_id,
    nearest_cosine) — nearest by rounded cosine then smallest index
    id; the DROP decision itself is all-integer."""
    qb = _quantize(batch_df)
    vb = qb.join(_assign(qb, cent), "vec_id")
    a = vb.alias("a")
    b = index.alias("b")
    dot = F.expr(
        "aggregate(zip_with(a.qv, b.qv, (x, y) -> x * y), 0L,"
        " (acc, x) -> acc + x)"
    )
    dec38 = "decimal(38,0)"
    hits = (
        a.join(b, F.col("a.cell_id") == F.col("b.cell_id"))
        .select(
            F.col("a.vec_id").alias("vec_id"),
            F.col("b.vec_id").alias("idx_id"),
            dot.alias("dot"),
            F.col("a.n2").alias("n2_a"),
            F.col("b.n2").alias("n2_b"),
        )
        .filter(
            (F.col("dot") > 0)
            & (
                F.lit(TAU_DEN)
                * F.col("dot").cast(dec38)
                * F.col("dot").cast(dec38)
                >= F.lit(TAU_NUM)
                * F.col("n2_a").cast(dec38)
                * F.col("n2_b").cast(dec38)
            )
        )
        .withColumn(
            "cosine",
            F.round(
                F.col("dot").cast("double")
                / F.sqrt(
                    (
                        F.col("n2_a").cast(dec38) * F.col("n2_b").cast(dec38)
                    ).cast("double")
                ),
                6,
            ),
        )
    )
    per_vec = hits.groupBy("vec_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_index_dups"),
        F.max_by(
            F.struct(
                F.col("idx_id").alias("nearest_dup_id"),
                F.col("cosine").alias("nearest_cosine"),
            ),
            F.struct("cosine", (-F.col("idx_id")).alias("negid")),
        ).alias("best"),
    )
    disp = (
        vb.join(per_vec, "vec_id", "left")
        .select(
            "vec_id",
            "cell_id",
            F.coalesce("n_index_dups", F.lit(0)).alias("n_index_dups"),
            (F.coalesce("n_index_dups", F.lit(0)) > 0).alias("dropped"),
            F.col("best.nearest_dup_id").alias("nearest_dup_id"),
            F.col("best.nearest_cosine").alias("nearest_cosine"),
        )
    )
    survivors = (
        vb.join(
            disp.filter(F.col("dropped")).select("vec_id"),
            "vec_id",
            "left_anti",
        ).select("vec_id", "cell_id", "qv", "n2")
    )
    return disp, survivors


def semdedup_stream(
    stream_vecs: DataFrame,
    corpus: DataFrame,
    out_dir: str,
    index_dir: str,
    checkpoint_dir: str,
):
    """The checkpointed in-flight semantic-dedup query. The corpus
    index lands at epoch -1 before the stream starts; each micro-batch
    reads the CURRENT index dir (base + every prior epoch's
    survivors), screens, lands dispositions, and appends its survivors
    under its own epoch partition. Returns the configured
    DataStreamWriter — call .start()."""
    from pyspark.storagelevel import StorageLevel

    cent, idx0 = build_standing_index(corpus)
    cent = cent.persist(StorageLevel.MEMORY_AND_DISK)
    spark = corpus.sparkSession
    write_epoch(idx0, index_dir, -1)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        # prior epochs only (write_epoch's replay rule): a replay must
        # not match its own first attempt's survivors as duplicates
        index = (
            spark.read.schema(
                "vec_id long, cell_id long, qv array<bigint>, n2 long,"
                " epoch int"
            )
            .parquet(index_dir)
            .filter(F.col("epoch") < F.lit(int(batch_id)))
        )
        disp, survivors = screen_batch(batch_df, cent, index)
        # ADVICE r11: survivors' plan READS index_dir and the write
        # below overwrites the same directory — version-fragile
        # (depends on the listing being snapshotted at read time).
        # Materialize both outputs eagerly before any write starts so
        # the read is fully consumed first.
        disp = pin(disp)
        survivors = pin(survivors)
        write_epoch(disp, out_dir, batch_id)
        write_epoch(survivors, index_dir, batch_id)

    return (
        stream_vecs.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )
