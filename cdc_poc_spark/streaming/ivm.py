"""Continuous aggregate maintenance (incremental view maintenance) for
a CDC event stream: keep `SUM(value) BY segment` current by applying
each micro-batch's DELTAS, never rescanning the full history.

The reference defers aggregate freshness to whatever SQL its Iceberg
sink's consumers run (full recompute per query); here the aggregate is
a first-class maintained table. Per micro-batch the cost is
O(batch + touched keys): the only full-table artifacts are the per-key
current-value state (same asymptotics as the CDC mirror itself) and a
|groups|-row totals table.

Batch math (the telescoping identity verified cross-engine by the
`cdc_incremental_agg` oracle query): for each key, the batch's net
effect is `new_live_value - previous_live_value`, where a tombstone
makes the new live value 0. Summing net effects per group advances the
group total to exactly what a naive recompute over all history gives.

Exactly-once: totals, key state, and the applied-epoch set COMMIT
ATOMICALLY. Each batch writes a complete new state VERSION
(``v<N>/{totals,key_state,meta.json}``) while reading the previous
one, then publishes it through the CURRENT-pointer protocol of
streaming/commit.py (``VersionedDir``). A crash anywhere before the
pointer swap leaves CURRENT on the old version — the epoch is
unrecorded AND the totals are unadvanced, so replay recomputes from
consistent state (no torn window where totals moved but the epoch
marker didn't). Versioning also removes the write-aside-then-rename
dance: the new version's plan reads the old version's files, never
its own output.

Known tradeoff: tombstones evict the key row entirely, so an event
arriving LATER but timestamped BEFORE the tombstone resurrects the key
(no seq to compare against). The fix at scale is tombstone retention
with TTL (keep the tombstoned row, null value, for the late-data
horizon) — same policy Kafka compaction and Cassandra use.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from .commit import VersionedDir

VAL_DEC = "decimal(12,2)"
TOMBSTONE = "error"


class ContinuousAggregate(VersionedDir):
    """Maintains per-key live values + per-group totals from CDC batches.

    Wire `apply_batch` into `writeStream.foreachBatch`, or drive it
    directly for batch backfills. `dim_df` maps keys to groups
    (broadcast per batch — the slowly-changing-dimension enrichment)."""

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        dim_df: DataFrame,
        key_col: str = "user_id",
        dim_key: str = "c_custkey",
        group_col: str = "c_mktsegment",
    ) -> None:
        super().__init__(state_dir)
        self.spark = spark
        self.dim_df = dim_df
        self.key_col = key_col
        self.dim_key = dim_key
        self.group_col = group_col

    def _vpath(self, version: int | None, name: str) -> str | None:
        if version is None:
            return None
        p = os.path.join(self._vdir(version), name)
        return p if os.path.exists(p) else None

    def _epochs(self, version: int | None) -> list[int]:
        return [] if version is None else self._meta(version)["epochs"]

    # -- the per-batch update -----------------------------------------

    def apply_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        """Advance key state and group totals by one micro-batch."""
        cur = self._current_version()
        epochs = self._epochs(cur)
        if epoch_id in epochs:
            return  # replay after crash: committed state reflects this epoch
        new_v = self._begin(cur)
        vdir = self._vdir(new_v)
        keys_path = self._vpath(cur, "key_state")
        totals_path = self._vpath(cur, "totals")

        k = self.key_col
        # 1. net effect per key: the LAST event in the batch wins
        #    (one window shuffle keyed by the key — batch-sized, not state-sized)
        w = W.partitionBy(k).orderBy(
            F.expr("ts DIV 1000").desc(), F.col("event_id").desc()
        )
        latest = (
            batch_df.withColumn("__rn", F.row_number().over(w))
            .filter("__rn = 1")
            .select(
                k,
                F.when(F.col("event_type") == TOMBSTONE, F.lit(None))
                .otherwise(F.col("value").cast(VAL_DEC))
                .alias("new_live"),
                F.expr("ts DIV 1000").alias("seq"),
            )
        )

        # 2. delta vs previous live value. Late-data guard: a batch
        #    winner OLDER than the stored state (seq < prev_seq) must
        #    not move the aggregate — last-writer-wins applies to the
        #    view exactly as it does to the mirror.
        zero = F.lit(0).cast(VAL_DEC)
        if keys_path is not None:
            prev = self.spark.read.parquet(keys_path).select(
                k,
                F.col("live_value").alias("prev_live"),
                F.col("seq").alias("prev_seq"),
            )
            joined = latest.join(prev, k, "left").filter(
                F.col("prev_seq").isNull() | (F.col("seq") >= F.col("prev_seq"))
            )
        else:
            joined = latest.withColumn("prev_live", F.lit(None).cast(VAL_DEC))
        deltas = joined.select(
            k,
            "new_live",
            "seq",
            (F.coalesce("new_live", zero) - F.coalesce("prev_live", zero)).alias(
                "delta"
            ),
        )
        deltas.persist()
        try:
            # 3. advance group totals (tiny table: |groups| rows)
            d = F.broadcast(
                self.dim_df.select(
                    F.col(self.dim_key).alias(k), F.col(self.group_col)
                )
            )
            batch_totals = (
                deltas.join(d, k)
                .groupBy(self.group_col)
                .agg(F.sum("delta").alias("delta"))
            )
            if totals_path is not None:
                old = self.spark.read.parquet(totals_path)
                merged = (
                    old.join(batch_totals, self.group_col, "full")
                    .select(
                        self.group_col,
                        (
                            F.coalesce("total_value", zero)
                            + F.coalesce("delta", zero)
                        ).alias("total_value"),
                    )
                )
            else:
                merged = batch_totals.withColumnRenamed("delta", "total_value")
            merged.write.mode("overwrite").parquet(os.path.join(vdir, "totals"))

            # 4. advance key state (upsert new lives, drop tombstoned keys)
            live = deltas.select(
                k, F.col("new_live").alias("live_value"), "seq"
            )
            if keys_path is not None:
                state = self.spark.read.parquet(keys_path)
                all_rows = state.unionByName(live)
            else:
                all_rows = live
            ws = W.partitionBy(k).orderBy(F.col("seq").desc())
            new_state = (
                all_rows.withColumn("__rn", F.row_number().over(ws))
                .filter("__rn = 1")
                .filter(F.col("live_value").isNotNull())  # tombstone eviction
                .drop("__rn")
            )
            new_state.write.mode("overwrite").parquet(os.path.join(vdir, "key_state"))

            # 5. atomic commit: totals + key_state + epoch set flip together
            self._commit(new_v, {"epochs": epochs + [epoch_id]})
        finally:
            deltas.unpersist()

    def totals(self) -> DataFrame:
        cur = self._current_version()
        path = self._vpath(cur, "totals")
        assert path is not None, "no committed state yet"
        return self.spark.read.parquet(path)
