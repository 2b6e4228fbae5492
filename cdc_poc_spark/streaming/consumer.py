"""The streaming CDC consumer — reference E1 (spark/scripts/consumer.py)
re-built Spark-first.

Reference behavior reproduced:
- subscribe to an envelope stream, parse $.payload.{before,after,op}
  (consumer.py:43-57) -> here: sources.* + cdc.envelope
- foreachBatch fan-out to one landed table per source table, creating
  tables on first sight, schema-evolving appends (consumer.py:68-81)
- checkpointed exactly-once progress (consumer.py:16,81)

Reference anti-patterns fixed (SURVEY §4 last row):
- the N+1 re-scan (per-topic filter re-reads the batch,
  consumer.py:69-72) -> log mode lands ALL tables in ONE partitioned
  write (partitionBy over the routing column); mirror mode persists the
  raw batch before its DLQ split and per-table loop
- `.rdd.flatMap(list).collect()` topic discovery -> none in log or
  mirror mode (mirror mode loops over its configured tables); the
  catalog landing path keeps a plain distinct().collect() of the
  routing column (tiny cardinality)
- the `TODO: Switch to MERGE INTO` (consumer.py:76) -> mirror mode
  actually merges (cdc.apply.merge_into_parquet_bucketed; a
  transactional catalog swaps in SQL MERGE with the same batch contract)
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from ..cdc import apply as cdc_apply
from ..cdc import envelope as env
from .commit import BUCKET, BucketedState, write_epoch


@dataclass
class TableSpec:
    """Per-source-table config for mirror mode: the typed row schema and
    the primary-key columns (the `iceberg.table.<t>.id-columns` idea,
    reference connect-iceberg-sink.json:29-30)."""

    schema: T.StructType
    key_cols: tuple[str, ...]


@dataclass
class CDCConsumer:
    warehouse_dir: str
    checkpoint_dir: str
    #: mirror mode needs per-table specs; log mode needs none
    tables: dict[str, TableSpec] = field(default_factory=dict)
    #: the most key buckets of each mirror's partition-pruned merge
    #: (cdc_apply.merge_into_parquet_bucketed): a mirror is hashed into
    #: the smallest power of two of buckets that holds it at about one
    #: advisory partition size (spark.sql.adaptive.
    #: advisoryPartitionSizeInBytes) each, up to this many; a CDC batch
    #: rewrites only the buckets its keys hash into, so a small mirror
    #: is one file and a large one costs O(touched buckets) per batch
    mirror_buckets: int = 64
    #: when set, unparseable records (null/malformed/op-less envelopes)
    #: are quarantined to this parquet dir instead of poisoning the
    #: batch (envelope.split_dead_letters); None keeps them in-stream
    dlq_dir: str | None = None
    #: when set, the catalog landing path (start_catalog_query) creates
    #: tables in this database of the SESSION CATALOG via
    #: `tableExists` → `writeTo(...).create()` / append — the reference's
    #: dynamic-table branch (consumer.py:75-78) against spark_catalog
    #: instead of an Iceberg catalog
    catalog_db: str | None = None

    def __post_init__(self) -> None:
        if self.mirror_buckets < 1:
            raise ValueError(f"mirror_buckets must be >= 1, got {self.mirror_buckets}")

    def _quarantine(self, batch_df: DataFrame, epoch_id: int) -> DataFrame:
        """Split off dead letters (if a DLQ is configured) and return the
        parseable remainder. The DLQ lands through write_epoch, so a
        foreachBatch replay after a crash rewrites the SAME epoch
        partition instead of appending a duplicate copy — idempotent
        per epoch, matching the checkpointed main write."""
        if not self.dlq_dir:
            return batch_df
        good, bad = env.split_dead_letters(batch_df)
        write_epoch(bad, self.dlq_dir, epoch_id, col="__epoch")
        return good

    # -- log path (reference Spark path, §1.1c shape) -----------------

    def land_log_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        """Land the raw CDC log for every table in ONE write:
        partitionBy(table_name) replaces the reference's per-topic
        filter loop — single pass over the batch, dynamic table
        'creation' = new partition directory, any-schema acceptance =
        the log schema is fixed (before/after stay JSON strings).

        The write is additionally partitioned by epoch through
        write_epoch: epoch replay after a crash rewrites its own
        partitions, making the append path exactly-once (not merely
        at-least-once) under checkpoint recovery."""
        parsed = env.parse_envelope_raw(self._quarantine(batch_df, epoch_id))
        out = parsed.withColumn("table_name", env.table_from_topic("topic")).drop("topic")
        write_epoch(
            out,
            os.path.join(self.warehouse_dir, "cdc_log"),
            epoch_id,
            col="__epoch",
            by=("table_name",),
        )

    def start_log_query(self, stream_df: DataFrame, available_now: bool = True) -> StreamingQuery:
        writer = stream_df.writeStream.foreachBatch(self.land_log_batch).option(
            "checkpointLocation", os.path.join(self.checkpoint_dir, "log")
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    # -- mirror path (reference Connect path, §1.1d shape) ------------

    def merge_mirror_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        """Upsert current-state mirrors, one per configured table.
        The raw batch is persisted first, so the DLQ split and every
        table's slice share one source scan (fixes the N+1 re-scan);
        each slice is typed-parsed and MERGEd by key with
        last-writer-wins on Kafka offset. There is no per-batch table
        discovery: a table absent from the batch costs an existing
        mirror one touched-bucket collect and no read or write, and
        writes a mirror that does not exist yet as empty."""
        batch_df.persist()
        try:
            good = self._quarantine(batch_df, epoch_id)
            for tbl, spec in self.tables.items():
                sub = good.filter(env.table_from_topic("topic") == tbl)
                typed = env.parse_envelope_typed(
                    sub, spec.schema, key_cols=spec.key_cols
                ).select(
                    "*",
                    F.col("_cdc.op").alias("op"),
                    F.col("_cdc.offset").alias("seq"),
                ).drop("_cdc")
                target = os.path.join(self.warehouse_dir, "mirror", tbl)
                cdc_apply.merge_into_parquet_bucketed(
                    batch_df.sparkSession, target, typed,
                    list(spec.key_cols), seq_col="seq", op_col="op",
                    delete_ops=("D",), n_buckets=self.mirror_buckets,
                    epoch=epoch_id,
                )
        finally:
            batch_df.unpersist()

    def start_mirror_query(self, stream_df: DataFrame, available_now: bool = True) -> StreamingQuery:
        writer = stream_df.writeStream.foreachBatch(self.merge_mirror_batch).option(
            "checkpointLocation", os.path.join(self.checkpoint_dir, "mirror")
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    # -- debug sinks (reference consumer.py:61-62; file-sink tap) -----

    def start_console_query(
        self,
        stream_df: DataFrame,
        parsed: bool = False,
        available_now: bool = True,
        num_rows: int = 20,
    ) -> StreamingQuery:
        """Console debug sink — reference O5 (consumer.py:61-62 runs two
        of these): raw or envelope-parsed view of the stream, update
        output mode, no truncation. Unchekpointed by design: a debug tap
        restarts from scratch, never owns progress."""
        df = env.parse_envelope_raw(stream_df) if parsed else stream_df
        writer = (
            df.writeStream.format("console")
            .outputMode("update")
            .option("truncate", False)
            .option("numRows", num_rows)
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def start_raw_file_sink(
        self,
        stream_df: DataFrame,
        path: str,
        fmt: str = "json",
        available_now: bool = True,
    ) -> StreamingQuery:
        """Streaming raw-message file tap — reference O21
        (connect-file-sink.properties:16-27 appends raw messages to a
        text file). JSON-lines keeps the Kafka coordinates alongside the
        payload; text mode is the byte-for-byte reference shape (value
        only). Checkpointed: the FileStreamSink commit log makes the
        output exactly-once for downstream readers."""
        val = F.col("value").cast(T.StringType()).alias("value")
        if fmt == "text":
            out = stream_df.select(val)
        else:
            extras = [c for c in ("topic", "offset") if c in stream_df.columns]
            out = stream_df.select(val, *extras)
        writer = (
            out.writeStream.format(fmt)
            .option("path", path)
            .option(
                "checkpointLocation",
                os.path.join(self.checkpoint_dir, f"rawtap_{fmt}"),
            )
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    # -- catalog landing path (reference consumer.py:75-78) -----------

    def land_catalog_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        """Catalog-managed dynamic-table landing — the reference's
        create-vs-append branch re-expressed against the session
        catalog:

        - `spark.catalog.tableExists(name)` probe per target table
          (reference O10, consumer.py:75)
        - first sight: DataFrameWriterV2 CTAS with the
          `write.spark.accept-any-schema` table property (reference
          O11, consumer.py:78)
        - later batches: append by table name (reference O12,
          consumer.py:76; the session catalog's parquet tables take the
          V1 writer, so `saveAsTable(mode='append')` — with Iceberg on
          the classpath the same frame feeds
          `writeTo(name).option('mergeSchema','true').append()`)

        The batch is persisted once and sliced per table (fixing the
        reference's N+1 re-scan, consumer.py:69-72); the
        distinct-collect is one row per source table (tiny)."""
        assert self.catalog_db, "catalog_db must be set for catalog landing"
        spark = batch_df.sparkSession
        parsed = env.parse_envelope_raw(self._quarantine(batch_df, epoch_id))
        out = parsed.withColumn("table_name", env.table_from_topic("topic")).drop(
            "topic"
        )
        out.persist()
        try:
            spark.sql(f"CREATE DATABASE IF NOT EXISTS {self.catalog_db}")
            present = [
                r.t
                for r in out.select(F.col("table_name").alias("t"))
                .distinct()
                .collect()
            ]
            for tbl in present:
                name = f"{self.catalog_db}.{tbl}"
                sub = out.filter(F.col("table_name") == tbl).drop("table_name")
                if spark.catalog.tableExists(name):
                    sub.write.mode("append").saveAsTable(name)
                else:
                    (
                        sub.writeTo(name)
                        .using("parquet")
                        .tableProperty("write.spark.accept-any-schema", "true")
                        .create()
                    )
        finally:
            out.unpersist()

    def start_catalog_query(self, stream_df: DataFrame, available_now: bool = True) -> StreamingQuery:
        writer = stream_df.writeStream.foreachBatch(self.land_catalog_batch).option(
            "checkpointLocation", os.path.join(self.checkpoint_dir, "catalog")
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def read_catalog_table(self, spark, table_name: str) -> DataFrame:
        """Catalog-backed batch scan by qualified name — reference O15
        (print_iceberg_tables.py:40-41)."""
        return spark.read.table(f"{self.catalog_db}.{table_name}")

    # -- readers ------------------------------------------------------

    def read_log_table(self, spark, table_name: str) -> DataFrame:
        """Read one table's CDC log (partition pruning on table_name —
        the scan touches only that table's files). ``__epoch`` is write
        layout (idempotent replay), not data — dropped here."""
        return (
            spark.read.parquet(os.path.join(self.warehouse_dir, "cdc_log"))
            .filter(F.col("table_name") == table_name)
            .drop("__epoch")
        )

    def read_mirror(self, spark, table_name: str) -> DataFrame:
        """Current state of one mirrored table: its row columns plus the
        ``op``/``seq`` of each key's last change. A mirror whose keys were
        all deleted, or that no batch has committed yet, reads as zero
        rows."""
        target = os.path.join(self.warehouse_dir, "mirror", table_name)
        state = BucketedState(spark, target).read()
        if state is None:
            schema = T.StructType(
                [*self.tables[table_name].schema.fields,
                 T.StructField("op", T.StringType()), T.StructField("seq", T.LongType())]
            )
            return spark.createDataFrame([], schema)
        return state.drop(BUCKET)
