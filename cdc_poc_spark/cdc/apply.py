"""Current-state materialization and merge — resolving the reference's
`TODO: Switch to MERGE INTO` (consumer.py:76).

Core primitive: ``apply_changes`` — last-writer-wins window dedup over a
changelog keyed by primary key and ordered by a monotonic sequence
(Kafka offset / LSN / ts_ms — the `_cdc.offset` idea, README.md:118),
with delete tombstones dropping keys. One shuffle on the key; state
bounded per key; the formulation that scales to 100 TB and that
Delta/Iceberg MERGE compiles to anyway.

``merge_upsert`` applies a change batch against an existing state
DataFrame (the incremental form used by streaming foreachBatch), and
``merge_into_parquet_bucketed`` persists it as a
``streaming.commit.BucketedState`` — the keyed store the maintained
join view (streaming/ivm_join.py) commits through too — rewriting only
the touched key buckets, exactly once per epoch. It is the documented
fallback when no transactional table format is on the classpath
(SURVEY §7 "degrade to the pure-Spark dedup/overwrite path"). Schema
evolution uses unionByName(allowMissingColumns=True) — the mergeSchema
semantics of consumer.py:76.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..streaming.commit import BUCKET, BucketedState


def _latest_per_key(
    log_df: DataFrame,
    key_cols: list[str],
    seq_col: str,
    op_col: str,
    delete_ops: tuple[str, ...],
) -> DataFrame:
    """The latest row per key, tombstones included: by seq desc, with
    an explicit delete-priority rank as the final tiebreak so a delete
    at the same seq wins over an insert (op letters do not sort that
    way in either the Debezium or the mirror op domain)."""
    delete_rank = F.when(F.col(op_col).isin(*delete_ops), 1).otherwise(0)
    w = W.partitionBy(*key_cols).orderBy(F.col(seq_col).desc(), delete_rank.desc())
    return (
        log_df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def apply_changes(
    log_df: DataFrame,
    key_cols: list[str],
    seq_col: str = "seq",
    op_col: str = "op",
    delete_ops: tuple[str, ...] = ("d", "D"),
) -> DataFrame:
    """Changelog -> current state: the latest row per key, then
    tombstones drop."""
    latest = _latest_per_key(log_df, key_cols, seq_col, op_col, delete_ops)
    return latest.filter(~F.col(op_col).isin(*delete_ops))


def merge_upsert(
    state_df: DataFrame | None,
    batch_df: DataFrame,
    key_cols: list[str],
    seq_col: str = "seq",
    op_col: str = "op",
    delete_ops: tuple[str, ...] = ("d", "D"),
) -> DataFrame:
    """MERGE a change batch into an existing state table.

    Equivalent to `MERGE INTO state USING batch ON keys WHEN MATCHED
    [AND op='d'] THEN DELETE / UPDATE WHEN NOT MATCHED THEN INSERT`
    with last-writer-wins inside the batch. Implemented as
    union-by-name (schema evolution included) + apply_changes: existing
    state rows carry their stored seq so a stale batch row cannot
    regress a newer state (idempotent under foreachBatch re-delivery).

    Rows of a ``BucketedState`` (both sides carry ``BUCKET``) are
    clustered by bucket before the window, which is partitioned by
    (``BUCKET``, *keys): the one shuffle also lays the result out as
    one write task per bucket.
    """
    combined = batch_df
    if state_df is not None:
        if op_col not in state_df.columns:
            state_df = state_df.withColumn(op_col, F.lit("u"))
        combined = state_df.unionByName(batch_df, allowMissingColumns=True)
    if BUCKET in combined.columns:
        combined, key_cols = combined.repartition(BUCKET), [BUCKET, *key_cols]
    return apply_changes(combined, key_cols, seq_col, op_col, delete_ops)


def merge_into_parquet_bucketed(
    spark: SparkSession,
    target_path: str,
    batch_df: DataFrame,
    key_cols: list[str],
    seq_col: str = "seq",
    op_col: str = "op",
    delete_ops: tuple[str, ...] = ("d", "D"),
    n_buckets: int = 64,
    *,
    epoch: int,
) -> None:
    """Partition-pruned merge of micro-batch ``epoch`` into the
    ``BucketedState`` at ``target_path``: rows live under
    ``__bucket=pmod(xxhash64(keys), width)/``, and a batch rewrites only
    the buckets its keys hash into.

    The width is the state's, sized by its bytes (``BucketedState``):
    the smallest power of two >= state bytes / the advisory partition
    size, capped at ``n_buckets``. A small mirror is one file, read and
    rewritten whole per batch; a large one keeps about one partition's
    worth of rows per bucket, so a batch costs O(touched buckets ×
    partition size) instead of a full rewrite's O(state) — the file
    pruning a MERGE INTO on a transactional format applies. At 100 TB
    with ``n_buckets`` sized so a bucket ≈ a few GB, a small CDC batch
    touches a handful of directories and the merge is effectively
    O(batch). A batch that moves the width rewrites every bucket. A
    replayed epoch is a no-op."""
    state = BucketedState(spark, target_path, n_buckets)
    if state.applied(epoch):
        return
    resized = state.resize([batch_df])
    bucket = state.bucket(key_cols)
    batch_b = batch_df.withColumn(BUCKET, bucket)
    old, touched = state.read(), None
    if old is not None and resized:
        old = old.withColumn(BUCKET, bucket)
    elif old is not None:
        if state.width == 1:  # the one bucket is touched unless the batch is empty
            touched = [] if batch_b.isEmpty() else [0]
        else:
            touched = [r[BUCKET] for r in batch_b.select(BUCKET).distinct().collect()]
        if not touched:
            return
        old = old.filter(F.col(BUCKET).isin(touched))
    merged = merge_upsert(old, batch_b, key_cols, seq_col, op_col, delete_ops)
    state.commit(epoch, touched, {"": merged})


def detect_merge_backend(spark: SparkSession) -> str | None:
    """Detect a transactional table format with SQL ``MERGE INTO``
    support on the classpath: 'delta', 'iceberg', or None.

    The reference enables Iceberg's SQL extensions exactly for this
    (consumer.py:22) and leaves the merge as a TODO (consumer.py:76);
    deployments with either runtime jar get real MERGE, everything else
    degrades to the bucketed-parquet merge with the same batch contract.
    """
    jvm = spark._jvm
    for cls, name in (
        ("org.apache.spark.sql.delta.DeltaLog", "delta"),
        ("org.apache.iceberg.spark.SparkCatalog", "iceberg"),
    ):
        try:
            jvm.java.lang.Class.forName(cls)
            return name
        except Exception:
            continue
    return None


def merge_sql(
    target_table: str,
    source_view: str,
    key_cols: list[str],
    seq_col: str = "seq",
    op_col: str = "op",
    delete_ops: tuple[str, ...] = ("d", "D"),
) -> str:
    """The MERGE statement the transactional path runs — the resolved
    form of the reference's `TODO: Switch to MERGE INTO`
    (consumer.py:76; upsert-by-id-columns, connect-iceberg-sink.json:29-30).

    Clause order is load-bearing (first matching WHEN wins):
    delete-with-newer-seq, then update-with-newer-seq, then insert.
    A matched row with a STALE source seq falls through every clause —
    a no-op, which is what makes epoch replay idempotent."""
    on = " AND ".join(f"t.{k} = s.{k}" for k in key_cols)
    dels = ", ".join(f"'{o}'" for o in delete_ops)
    return (
        f"MERGE INTO {target_table} t USING {source_view} s ON {on} "
        f"WHEN MATCHED AND s.{op_col} IN ({dels}) AND s.{seq_col} >= t.{seq_col} THEN DELETE "
        f"WHEN MATCHED AND s.{seq_col} >= t.{seq_col} THEN UPDATE SET * "
        f"WHEN NOT MATCHED AND s.{op_col} NOT IN ({dels}) THEN INSERT *"
    )


def merge_into_transactional(
    spark: SparkSession,
    target_table: str,
    batch_df: DataFrame,
    key_cols: list[str],
    seq_col: str = "seq",
    op_col: str = "op",
    delete_ops: tuple[str, ...] = ("d", "D"),
) -> None:
    """SQL MERGE INTO against a Delta/Iceberg table. The batch is
    deduped last-writer-wins per key FIRST (MERGE requires at most one
    source row per target row), keeping tombstones so deletes reach the
    DELETE clause. File-level pruning/rewrites are the format's job —
    this is the O(touched-files) path the bucketed fallback emulates."""
    latest = _latest_per_key(batch_df, key_cols, seq_col, op_col, delete_ops)
    view = "__cdc_merge_source__"
    latest.createOrReplaceTempView(view)
    try:
        spark.sql(merge_sql(target_table, view, key_cols, seq_col, op_col, delete_ops))
    finally:
        spark.catalog.dropTempView(view)


def merge_into(
    spark: SparkSession,
    target: str,
    batch_df: DataFrame,
    key_cols: list[str],
    seq_col: str = "seq",
    op_col: str = "op",
    delete_ops: tuple[str, ...] = ("d", "D"),
    n_buckets: int = 64,
    backend: str | None = None,
    *,
    epoch: int,
) -> None:
    """Unified merge entry point: SQL MERGE when a transactional format
    is on the classpath, bucketed-parquet merge otherwise. ``target``
    is a table name for transactional backends, a directory path for
    the parquet fallback — the caller's batch contract is identical
    (the SQL MERGE's seq guards make a replayed ``epoch`` a no-op)."""
    backend = backend if backend is not None else detect_merge_backend(spark)
    if backend:
        merge_into_transactional(
            spark, target, batch_df, key_cols, seq_col, op_col, delete_ops
        )
    else:
        merge_into_parquet_bucketed(
            spark, target, batch_df, key_cols, seq_col, op_col, delete_ops, n_buckets,
            epoch=epoch,
        )


def scd2_from_log(
    log_df: DataFrame,
    key_cols: list[str],
    seq_col: str = "seq",
    op_col: str = "op",
    delete_ops: tuple[str, ...] = ("d", "D"),
) -> DataFrame:
    """Changelog -> SCD2 history: every change becomes a validity
    interval [seq, next seq per key); current rows have valid_to NULL;
    delete rows close the interval without opening one."""
    w = W.partitionBy(*key_cols).orderBy(seq_col)
    return (
        log_df.withColumn("valid_from", F.col(seq_col))
        .withColumn("valid_to", F.lead(seq_col).over(w))
        .withColumn("is_current", F.col("valid_to").isNull() & ~F.col(op_col).isin(*delete_ops))
        .filter(~F.col(op_col).isin(*delete_ops))
    )
