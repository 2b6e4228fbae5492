"""Incremental view maintenance for JOINS: keep ``left JOIN right ON
join_key`` current under CDC deltas to BOTH sides, without ever
re-joining the full tables.

This maintains a JOIN VIEW and, in ``MaterializedJoinAggregate``, an
aggregate over it — what a "materialized view" engine offers; the
reference has neither (its Iceberg consumers re-join and re-aggregate
per query). ``ContinuousAggregate`` is the aggregate of a CDC event
stream kept on the same engine.

Delta-key maintenance: an equi-join row can only change when its join
key's slice of either side changes, so per micro-batch the view is
recomputed ONLY for the join keys the batch touches:

    affected = jk(delta_left) ∪ jk(delta_right)
    V_new[affected]   = L_new[affected] ⋈ R_new[affected]
    V_new[~affected]  = V_old[~affected]        (no I/O)

Storage: both side states and the view are sides of one
``streaming.commit.BucketedState`` — the keyed store the CDC mirror
(cdc/apply.py) commits through too — hash-bucketed by join key under
``<state_dir>/<side>/__bucket=N/``. All sides share one width (bucket
count), sized by the bytes of all sides together: one advisory
partition per bucket, up to ``n_buckets``. A batch reads and rewrites
only the affected buckets of the sides it changes; untouched buckets
keep their files, so per-batch I/O is O(delta + affected buckets), not
O(state). A batch that moves the width rewrites every side.
The new files of every side and the applied epoch are published by
one manifest commit, so a crash before it leaves every reader and
every replay on the old state, and a replayed epoch is a no-op.

Contract (documented constraint, the same one Kafka Streams KTable
joins and most MV engines impose): the JOIN KEY is part of a row's
identity — a "key move" must be expressed as delete(old jk) +
insert(new jk). Without it, finding a moved row's old bucket would be
an O(state) scan per batch. Delta rows carry ``__op`` ('u' upsert /
'd' delete) and an orderable ``__seq`` (a long, or a struct compared
field by field); last writer (max __seq, ties to 'd') wins per key,
matching the CDC mirror's semantics.
"""

from __future__ import annotations

from contextlib import ExitStack
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cdc.apply import merge_upsert
from ..operators.scale import spilled
from .commit import BUCKET, BucketedState


class MaterializedJoin(BucketedState):
    """Maintains ``left ⋈ right ON left[join_key] = right[join_key]``
    (inner equi-join) under two-sided CDC deltas.

    ``left_id``: the left row identity column (e.g. order key).
    ``join_key``: the equi-join column, present on both sides and on
    every delta row (deletes included — it addresses the bucket).
    Right rows are identified BY the join key (the dimension shape);
    a many-to-many right side would carry its own ``right_id`` — the
    maintenance algebra is unchanged, only the merge key differs.
    ``n_buckets``: the cap on the width both sides, the view and its
    derived sides share; below it the width follows their bytes
    (``BucketedState.resize``)."""

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        left_id: str,
        join_key: str,
        n_buckets: int = 16,
    ) -> None:
        super().__init__(spark, state_dir, max_width=n_buckets)
        self.left_id = left_id
        self.join_key = join_key

    # -- the per-batch update -------------------------------------------

    def apply_batch(
        self,
        delta_left: DataFrame | None,
        delta_right: DataFrame | None,
        epoch_id: int,
    ) -> None:
        """Advance both side states and the join view by one micro-batch
        of deltas (either side may be None = no changes)."""
        if self.applied(epoch_id):
            return  # replay after crash: committed state reflects this epoch
        jk = self.join_key
        deltas = {
            side: d
            for side, d in (("left", delta_left), ("right", delta_right))
            if d is not None
        }
        # a width change re-buckets and rewrites every side and bucket
        resized = self.resize(deltas.values())
        bucket = self.bucket([jk])
        deltas = {side: d.withColumn(BUCKET, bucket) for side, d in deltas.items()}
        affected = None
        if not resized:
            affected = []
            if deltas:
                bkts = reduce(DataFrame.union, [d.select(BUCKET) for d in deltas.values()])
                affected = [r[BUCKET] for r in bkts.distinct().collect()]
            if not affected:  # record the epoch, keep every file
                self.commit(epoch_id, [], {})
                return

        # only the affected buckets' old state is ever read; last writer
        # wins per key, the CDC mirror's rule: max __seq, a delete wins
        # a tie, surviving deletes evict the row
        lww = dict(seq_col="__seq", op_col="__op", delete_ops=("d",))
        keys = {"left": [self.left_id], "right": [jk]}
        new = {}
        for side in ("left", "right"):
            old = self.read(side)
            if old is not None and resized:
                old = old.withColumn(BUCKET, bucket)
            elif old is not None:
                old = old.filter(F.col(BUCKET).isin(affected))
            new[side] = (
                merge_upsert(old, deltas[side], keys[side], **lww)
                if side in deltas
                else old
            )
        with ExitStack() as held:
            # each side feeds its own write, the view and the view's
            # derived sides: held, it is merged once per commit. A write
            # to a directory drops the cached rows read from it, so the
            # view and what derives from it are written first.
            new = {s: held.enter_context(spilled(df)) for s, df in new.items() if df is not None}
            sides = {}
            if len(new) == 2:
                meta = ("__op", "__seq", BUCKET)
                lpay = [c for c in new["left"].columns if c not in meta]
                rpay = [c for c in new["right"].columns if c not in (*meta, jk)]
                view_new = new["left"].select(*lpay, BUCKET).join(new["right"].select(jk, *rpay), jk)
                sides["view"] = view_new
                sides.update(self._derived_sides(view_new))
            sides.update((s, df) for s, df in new.items() if resized or s in deltas)
            self.commit(epoch_id, affected, sides)

    def _derived_sides(self, view_new: DataFrame) -> dict[str, DataFrame]:
        """Hook for subclasses that maintain relations DERIVED from the
        join view (e.g. per-bucket aggregate partials). Returns
        {side_name: df_with_BUCKET} for the affected buckets, committed
        together with the view itself."""
        return {}

    # -- readers ----------------------------------------------------------

    def _side(self, side: str) -> DataFrame:
        df = self.read(side)
        assert df is not None, f"{side} was never written (no joined epochs yet)"
        return df.drop(BUCKET)

    def view(self) -> DataFrame:
        return self._side("view")

    def left_state(self) -> DataFrame:
        return self._side("left").drop("__op", "__seq")

    def right_state(self) -> DataFrame:
        return self._side("right").drop("__op", "__seq")


class MaterializedJoinAggregate(MaterializedJoin):
    """Maintained AGGREGATE over the maintained JOIN — the composition a
    CDC consumer actually materializes (the reference's mirror tables
    exist to feed exactly this shape: upsert sink → BI rollup;
    reference connect-iceberg-sink.json:29-30). ``GROUP BY group_cols``
    with sum/count/min/max measures over the join view, kept current
    under two-sided deltas.

    Maintenance algebra: the view is already recomputed ONLY for the
    join-key buckets a batch touches, so the aggregate keeps ONE
    partial-aggregate relation per bucket (rows = |groups present in
    that bucket|, written in the same atomic version commit as the
    view). A batch rewrites partials for affected buckets only — cost
    bounded by delta keys, never view size — and the full rollup is
    the re-combination of per-bucket partials at read time
    (n_buckets x n_groups rows, a broadcast-scale relation). Because
    each affected bucket's partial is recomputed from that bucket's
    full new slice (not incremented from deltas), NON-self-maintainable
    measures (min/max) are exact too — the classic IVM min/max-
    under-delete problem never arises.

    ``measures``: {out_col: (sql_expr_over_view_cols, fn)} with fn in
    {'sum', 'count', 'min', 'max'}. Partials use fn; re-combination
    uses sum for sum/count and fn for min/max."""

    _COMBINE = {"sum": F.sum, "count": F.sum, "min": F.min, "max": F.max}

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        left_id: str,
        join_key: str,
        group_cols: list[str],
        measures: dict[str, tuple[str, str]],
        n_buckets: int = 16,
    ) -> None:
        super().__init__(spark, state_dir, left_id, join_key, n_buckets)
        assert measures, "at least one measure"
        for name, (_, fn) in measures.items():
            assert fn in self._COMBINE, f"unsupported measure fn {fn!r} for {name!r}"
        self.group_cols = list(group_cols)
        self.measures = dict(measures)

    def _derived_sides(self, view_new: DataFrame) -> dict[str, DataFrame]:
        partial = {
            "sum": F.sum,
            "count": F.count,
            "min": F.min,
            "max": F.max,
        }
        agg = view_new.groupBy(BUCKET, *self.group_cols).agg(
            *[
                partial[fn](F.expr(expr)).alias(name)
                for name, (expr, fn) in self.measures.items()
            ]
        )
        return {"agg": agg}

    def aggregate(self) -> DataFrame:
        """The current rollup: re-combine the per-bucket partials. The
        input relation is at most n_buckets x |groups| rows — at 100 TB
        this read costs the same as at 100 MB."""
        return self._side("agg").groupBy(*self.group_cols).agg(
            *[
                self._COMBINE[fn](F.col(name)).alias(name)
                for name, (_, fn) in self.measures.items()
            ]
        )


class ContinuousAggregate(MaterializedJoinAggregate):
    """``SUM(value) BY group_col`` of a CDC event stream (``event_id``,
    ``ts`` epoch-nanos, ``key_col``, ``event_type``, ``value``; an
    ``event_type`` of 'error' is a tombstone), kept current per
    micro-batch: the full-history recompute's answer after every epoch.

    The left side is each key's latest event by ``__seq = (ts DIV 1000,
    event_id)``, its ``live_value`` null for a tombstone. Tombstones are
    kept, not evicted, so an event older than one cannot bring its key
    back. The right side is ``dim_df`` (``dim_key`` -> ``group_col``),
    snapshotted at the store's first commit. The measure is
    ``sum(coalesce(live_value, 0))``, so a batch costs the buckets its
    keys touch, whatever the history's length."""

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        dim_df: DataFrame,
        key_col: str = "user_id",
        dim_key: str = "c_custkey",
        group_col: str = "c_mktsegment",
    ) -> None:
        super().__init__(
            spark, state_dir, left_id=key_col, join_key=key_col, group_cols=[group_col],
            measures={"total_value": ("coalesce(live_value, 0)", "sum")},
        )
        self.dim_df = dim_df
        self.dim_key = dim_key

    def apply_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        """Fold one micro-batch of events into the key state and totals."""
        k, op = self.join_key, F.lit("u").alias("__op")
        left = batch_df.select(
            k,
            F.when(F.col("event_type") == "error", F.lit(None))
            .otherwise(F.col("value").cast("decimal(12,2)"))
            .alias("live_value"),
            op,
            F.struct(F.expr("ts DIV 1000").alias("us"), F.col("event_id").cast("long")).alias("__seq"),
        )
        right = None
        if self._current_version() is None:
            g = self.group_cols[0]
            right = self.dim_df.select(F.col(self.dim_key).alias(k), g, op, F.lit(0).alias("__seq"))
        super().apply_batch(left, right, epoch_id)

    def totals(self) -> DataFrame:
        return self.aggregate()


def materialized_join_stream(
    tagged_stream: DataFrame,
    mj: MaterializedJoin,
    checkpoint_dir: str,
    left_cols: list[str],
    right_cols: list[str],
):
    """Wire a MaterializedJoin into Structured Streaming: ONE stream of
    side-tagged delta rows (column ``__side`` in {'l', 'r'}; the union
    schema carries both sides' columns, the other side's as nulls)
    drives both sides of the view through foreachBatch. ``left_cols``/
    ``right_cols`` name each side's real columns (join key included);
    ``__op``/``__seq`` ride along.

    One tagged stream, not two queries: two independent streaming
    queries cannot share the CURRENT pointer without cross-query
    ordering (each would race the other's versions); a single
    micro-batch delivering both sides' deltas gives the view a total
    epoch order for free — the same reason CDC buses multiplex tables
    onto one changelog. Exactly-once composes: the epoch guard inside
    apply_batch makes replayed foreachBatch invocations no-ops."""

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df = batch_df.persist()
        try:
            dl = batch_df.filter(F.col("__side") == "l").select(
                *left_cols, "__op", "__seq"
            )
            dr = batch_df.filter(F.col("__side") == "r").select(
                *right_cols, "__op", "__seq"
            )
            mj.apply_batch(
                dl if dl.limit(1).count() else None,
                dr if dr.limit(1).count() else None,
                epoch_id,
            )
        finally:
            batch_df.unpersist()

    return (
        tagged_stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
