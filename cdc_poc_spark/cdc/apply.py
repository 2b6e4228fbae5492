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
``merge_into_parquet_bucketed`` persists it by rewriting only the
touched key buckets — the documented fallback when no transactional
table format is on the classpath (SURVEY §7 "degrade to the pure-Spark
dedup/overwrite path"). Schema evolution uses
unionByName(allowMissingColumns=True) — the mergeSchema semantics of
consumer.py:76.
"""

from __future__ import annotations

import json
import os
import shutil

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T


def apply_changes(
    log_df: DataFrame,
    key_cols: list[str],
    seq_col: str = "seq",
    op_col: str = "op",
    delete_ops: tuple[str, ...] = ("d", "D"),
) -> DataFrame:
    """Changelog -> current state.

    Latest row per key (by seq desc; op as final tiebreak so a delete at
    the same seq wins over an insert — deletes sort after c/r/u
    alphabetically in both Debezium and mirror op domains is NOT true,
    so an explicit delete-priority rank is used), then tombstones drop.
    """
    delete_rank = F.when(F.col(op_col).isin(*delete_ops), 1).otherwise(0)
    w = W.partitionBy(*key_cols).orderBy(
        F.col(seq_col).desc(), delete_rank.desc()
    )
    return (
        log_df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
        .filter(~F.col(op_col).isin(*delete_ops))
    )


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
    """
    if state_df is None:
        return apply_changes(batch_df, key_cols, seq_col, op_col, delete_ops)
    prepared_state = state_df
    if op_col not in prepared_state.columns:
        prepared_state = prepared_state.withColumn(op_col, F.lit("u"))
    combined = prepared_state.unionByName(batch_df, allowMissingColumns=True)
    return apply_changes(combined, key_cols, seq_col, op_col, delete_ops)


def has_bucketed_state(target_path: str) -> bool:
    """True when a bucketed-merge target holds at least one bucket
    directory. A target whose keys were all deleted keeps only its
    ``_SUCCESS`` marker, which parquet schema inference cannot read."""
    return os.path.isdir(target_path) and any(
        e.startswith("__bucket=") for e in os.listdir(target_path)
    )


#: Parquet footer key under which Spark's writer stores the row schema
_SPARK_ROW_SCHEMA = b"org.apache.spark.sql.parquet.row.metadata"


def _bucket_state(
    spark: SparkSession, target_path: str, buckets: list[int] | None = None
) -> DataFrame | None:
    """Read the given bucket directories of a bucketed-merge target (all
    of them when ``buckets`` is None) with ``__bucket``, or None when
    none of them exists.

    The schema is the union by name of the files' Spark row schemas,
    read from their footers on the driver, so a column that only some
    buckets carry (schema evolution) is read from every file — NULL
    where a file lacks it — and the read plans with no schema-inference
    job. Its directory listing is driver-side too while the paths stay
    under ``parallelPartitionDiscovery.threshold`` (session.RUNTIME_CONFS).
    """
    names = sorted(
        (e for e in os.listdir(target_path) if e.startswith("__bucket=")),
        key=lambda e: int(e.split("=", 1)[1]),
    )
    if buckets is not None:
        wanted = {f"__bucket={b}" for b in buckets}
        names = [e for e in names if e in wanted]
    dirs = [os.path.join(target_path, e) for e in names]
    # one schema per distinct footer, in bucket order
    footers = dict.fromkeys(
        pq.read_schema(os.path.join(d, f)).metadata[_SPARK_ROW_SCHEMA]
        for d in dirs
        for f in sorted(os.listdir(d))
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    )
    if not footers:
        return None
    schema, *others = [T.StructType.fromJson(json.loads(f)) for f in footers]
    if others:
        # merge_upsert's combine rule: union by name, types widened
        union = spark.createDataFrame([], schema)
        for other in others:
            union = union.unionByName(
                spark.createDataFrame([], other), allowMissingColumns=True
            )
        schema = union.schema
    schema = schema.add("__bucket", T.IntegerType())
    return spark.read.schema(schema).option("basePath", target_path).parquet(*dirs)


def merge_into_parquet_bucketed(
    spark: SparkSession,
    target_path: str,
    batch_df: DataFrame,
    key_cols: list[str],
    seq_col: str = "seq",
    op_col: str = "op",
    delete_ops: tuple[str, ...] = ("d", "D"),
    n_buckets: int = 64,
) -> None:
    """Partition-pruned merge: the target is laid out as
    ``__bucket=pmod(xxhash64(keys), n_buckets)`` partition directories,
    and a batch only rewrites the buckets its keys hash into.

    Cost per batch is O(touched_buckets / n_buckets × state) instead of
    a full rewrite's O(state) — the same file-pruning idea a MERGE INTO
    on a transactional format applies, built from plain parquet +
    dynamic partition overwrite. At 100 TB with n_buckets sized so a
    bucket ≈ a few GB, a small CDC batch touches a handful of
    directories and the merge is effectively O(batch).
    """
    # Hash a type-STABLE representation of the key: xxhash64(int 2) !=
    # xxhash64(bigint 2), so schema evolution that widens a key type
    # would silently re-route existing keys to different buckets and
    # duplicate state. Casting to string first makes the bucket a
    # function of the key's value, not its physical type.
    bucket = F.pmod(
        F.xxhash64(*[F.col(c).cast("string") for c in key_cols]), F.lit(n_buckets)
    )
    batch_b = batch_df.withColumn("__bucket", bucket)
    # a target emptied by deletes has no bucket left: merge as if fresh
    exists = has_bucketed_state(target_path)
    state = None
    if exists:
        touched = [r["__bucket"] for r in batch_b.select("__bucket").distinct().collect()]
        if not touched:
            return
        state = _bucket_state(spark, target_path, touched)
    merged = merge_upsert(state, batch_b, key_cols, seq_col, op_col, delete_ops)
    # Self-overwrite hazard: the merged plan reads the very files being
    # replaced. Write-aside distributed, then swap ONLY the touched
    # bucket directories (driver does metadata renames, never data; on
    # an object store this is the commit protocol's job / a transactional
    # format's snapshot swap).
    tmp = target_path.rstrip("/") + ".__tmp__"
    merged.write.mode("overwrite").partitionBy("__bucket").parquet(tmp)
    if not exists:
        if os.path.exists(target_path):
            shutil.rmtree(target_path)
        os.rename(tmp, target_path)
        return
    moved = set()
    for entry in os.listdir(tmp):
        if not entry.startswith("__bucket="):
            continue
        dst = os.path.join(target_path, entry)
        if os.path.exists(dst):
            shutil.rmtree(dst)
        os.rename(os.path.join(tmp, entry), dst)
        moved.add(entry)
    # a touched bucket with NO merged output means every key in it was
    # deleted — drop the stale directory
    for b in touched:
        entry = f"__bucket={b}"
        stale = os.path.join(target_path, entry)
        if entry not in moved and os.path.exists(stale):
            shutil.rmtree(stale)
    shutil.rmtree(tmp)


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
    delete_rank = F.when(F.col(op_col).isin(*delete_ops), 1).otherwise(0)
    w = W.partitionBy(*key_cols).orderBy(F.col(seq_col).desc(), delete_rank.desc())
    latest = (
        batch_df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
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
) -> None:
    """Unified merge entry point: SQL MERGE when a transactional format
    is on the classpath, bucketed-parquet merge otherwise. ``target``
    is a table name for transactional backends, a directory path for
    the parquet fallback — the caller's batch contract is identical."""
    backend = backend if backend is not None else detect_merge_backend(spark)
    if backend:
        merge_into_transactional(
            spark, target, batch_df, key_cols, seq_col, op_col, delete_ops
        )
    else:
        merge_into_parquet_bucketed(
            spark, target, batch_df, key_cols, seq_col, op_col, delete_ops, n_buckets
        )


def read_bucketed_state(spark: SparkSession, target_path: str) -> DataFrame:
    """Read a bucketed-merge target without the layout column, with
    every column that any bucket holds."""
    state = _bucket_state(spark, target_path)
    if state is None:
        raise FileNotFoundError(f"no bucket data under {target_path}")
    return state.drop("__bucket")


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
