"""Scale toolkit: the join strategies that keep 100 TB shuffles healthy
(SURVEY §4 rows "join reordering / strategies", "shuffle parallelism").

Three tiers, in the order a plan should try them:

1. broadcast     — small side under the threshold: no shuffle at all
                   (`F.broadcast`, used throughout queries/).
2. AQE skew-join — runtime split of oversized partitions; enabled
                   globally in session.RUNTIME_CONFS. Handles skew
                   DISCOVERED at runtime.
3. salted join   — for skew KNOWN ahead of time (a hot key carrying a
                   double-digit percent of rows): explicit key salting
                   splits each hot key into `salt` sub-keys so no single
                   task owns a whole hot key. Costs a `salt`-fold
                   replication of the other side — use for truly hot
                   keys, not as a default.

Plus `write_bucketed` / co-located reads: pre-shuffling both sides of a
repeated join into the same bucketing lets every subsequent join run
with ZERO exchanges (bucket-local sort-merge) — the batch analogue of
partitioned stream-stream joins, and the right layout for a fact table
joined on the same key by many queries.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from typing import Callable, Iterator, TypeVar

from pyspark import StorageLevel, inheritable_thread_target

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F


def spread(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Widen a narrow scan before heavy per-row compute.

    A parquet file written as a single row group scans as ONE task no
    matter what `maxPartitionBytes` says (documents/embeddings at small
    SF are the motivating case): every downstream map — tokenize,
    shingle, MinHash, dot-product — then runs on one core. One
    round-robin repartition right after the scan costs a shuffle of the
    raw rows but unlocks full-cluster parallelism for the expensive
    part (measured 2x on the MinHash pipeline at sf0.1).

    No-op when the input is already at least `min_partitions` wide
    (default: the cluster's default parallelism) — at 100 TB a scan has
    thousands of input splits and must NOT be re-shuffled here.
    """
    spark = df.sparkSession
    target = min_partitions or spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def pin(df: DataFrame, checkpoint_dir: str | None = None) -> DataFrame:
    """Eagerly pin a DataFrame, truncating lineage: the one way this
    package materializes a relation for reuse by several consumers.

    Pin policy: a relation is admissible here only when it is
    (a) bounded by construction — an id set, an aggregate over bounded
    keys (labels², cells×dims, families), a verified pair list — or
    (b) rebuilt from scratch inside the query on every invocation. The
    executor-local, non-replicated recovery tradeoff below is acceptable
    exactly because such relations are small. A corpus-sized relation
    with several consumers goes through ``spilled`` instead, which is
    recomputable from lineage and spills to disk.

    With ``checkpoint_dir``: a RELIABLE checkpoint (survives executor
    loss — what a cluster deployment wants under an iterative or
    multi-consumer plan). Without: ``localCheckpoint`` (executor-local
    blocks; fine on local[*] or when recompute on loss is acceptable).

    ``setCheckpointDir`` is session-global state: this helper only sets
    it when none is set, and WARNS before overriding a different
    existing dir (a silent redirect would send every other operator's
    checkpoints to this directory — ADVICE r3)."""
    if checkpoint_dir is None:
        return df.localCheckpoint(eager=True)
    import warnings

    sc = df.sparkSession.sparkContext

    def _parts(p: str) -> tuple:
        # (scheme, authority, normalized-path) — scheme AND authority
        # participate in the comparison, so file:/X vs hdfs://nn/X are
        # DIFFERENT dirs and trigger the override warning rather than
        # silently keeping local checkpoints (ADVICE r4). Scheme-less
        # and file: paths normalize to ("file", "", path).
        if "://" in p:
            scheme, rest = p.split("://", 1)
            authority, _, path = rest.partition("/")
            return (scheme, authority, "/" + path.strip("/"))
        if p.startswith("file:"):
            p = p[len("file:"):]
        return ("file", "", "/" + p.strip("/"))

    def _parent(parts: tuple) -> tuple:
        head = parts[2].rsplit("/", 1)[0]
        return (parts[0], parts[1], head or "/")

    # getCheckpointDir() reports the UUID SUBDIR Spark created inside
    # the dir passed to setCheckpointDir, so "already set to this dir"
    # means: the existing dir's PARENT equals the requested dir (a
    # substring test would let any short request match — r4 review).
    existing = sc.getCheckpointDir()
    if existing is None:
        sc.setCheckpointDir(checkpoint_dir)
    elif _parent(_parts(existing)) != _parts(checkpoint_dir):
        warnings.warn(
            f"overriding session checkpoint dir {existing!r} with "
            f"{checkpoint_dir!r} — checkpoints elsewhere in this session "
            "will now land there too",
            stacklevel=3,
        )
        sc.setCheckpointDir(checkpoint_dir)
    return df.checkpoint(eager=True)


_R = TypeVar("_R")


def overlap(*fns: Callable[[], _R]) -> list[_R]:
    """Run independent zero-argument callables — typically ``pin``s whose
    inputs are already pinned — on up to 3 driver threads, so their jobs
    fill each other's stage tails instead of running back to back (3 in
    flight is enough without starving any one job of executors).
    Returns the results in argument order; the first exception raised
    (in argument order) propagates once every callable has finished.
    Each thread runs its jobs under the caller's Spark local properties
    (job group, description, scheduler pool) and job tags, so the
    caller's job group or tag counts and cancels them."""
    if not fns:
        return []
    session = SparkSession.getActiveSession()
    inherit = inheritable_thread_target(session) if session else inheritable_thread_target
    with ThreadPoolExecutor(max_workers=min(len(fns), 3)) as pool:
        futures = [pool.submit(inherit(fn)) for fn in fns]
    return [f.result() for f in futures]


@contextmanager
def spilled(df: DataFrame) -> Iterator[DataFrame]:
    """Cache a corpus-sized relation that feeds several consumers at
    MEMORY_AND_DISK (spillable, and recomputable from lineage on
    executor loss — unlike ``pin``) for the body of the ``with``, and
    release it on exit, exception or not. Caching is lazy: the first
    job inside the body that reads ``df`` fills the cache."""
    df.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        yield df
    finally:
        df.unpersist()


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    how: str = "inner",
    salt: int = 16,
) -> DataFrame:
    """Equi-join on `on` with the LEFT side's key salted and the RIGHT
    side replicated `salt` times.

    left gets a deterministic per-row salt (hash of the whole row — no
    rand(), so retries/speculative tasks agree); right is exploded once
    per salt value. The join key becomes (on, salt): a key holding p% of
    all rows now spreads over `salt` tasks. Semantics are identical to
    `left.join(right, on, how)` for inner/left joins when `right` is
    unique per key (the dimension-table case)."""
    salt_col = F.pmod(F.xxhash64(*[F.col(c) for c in left.columns]), F.lit(salt))
    l_salted = left.withColumn("__salt", salt_col)
    r_replicated = right.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
    )
    return l_salted.join(r_replicated, [on, "__salt"], how).drop("__salt")


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int = 32,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist as a bucketed (and optionally sorted) managed table.
    Reads of two tables bucketed the same way join bucket-to-bucket with
    no Exchange (verify with .explain: SortMergeJoin over FileScans,
    'SelectedBucketsCount' present, no Exchange above the scans).
    ``mode='append'`` adds files honoring the existing bucket spec
    (the spec passed here must match the table's)."""
    writer = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.format("parquet").saveAsTable(table)


def cluster_by_key(
    df: DataFrame, key_cols: list[str], n_partitions: int | None = None
) -> DataFrame:
    """Repartition by key so a downstream groupBy/join on the same key
    reuses the exchange (Catalyst's ReuseExchange / output-partitioning
    matching) instead of shuffling twice."""
    cols = [F.col(c) for c in key_cols]
    return df.repartition(n_partitions, *cols) if n_partitions else df.repartition(*cols)


def global_index(
    df: DataFrame, idx_col: str = "row_idx", order_cols: list[str] | None = None
) -> DataFrame:
    """Contiguous 0-based global row index, computed WITHOUT the
    single-partition window antipattern (`row_number() OVER ()` pulls
    the whole table through one task — a non-starter at scale).

    Two-pass: (1) count rows per partition (tiny driver collect, one
    value per partition), (2) add partition-local position to the
    partition's cumulative offset. Order: by `order_cols` within a
    repartition-by-range (global total order), or the current partition
    layout when None (arbitrary but stable order — the sharding case).

    The partition-id frame is MATERIALIZED (eager localCheckpoint)
    before either job: both passes must see the SAME partition
    assignment, and without pinning it, repartitionByRange re-samples
    its range bounds per execution and AQE may re-plan — the two jobs
    could disagree and emit duplicate/skipped indices.
    """
    if order_cols:
        df = df.repartitionByRange(*order_cols).sortWithinPartitions(*order_cols)
    sdf = pin(df.withColumn("__pid", F.spark_partition_id()))
    counts = {
        r["__pid"]: r["n"]
        for r in sdf.groupBy("__pid").count().withColumnRenamed("count", "n").collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    w = W.partitionBy("__pid").orderBy(*(order_cols or [F.lit(1)]))
    offset_map = F.create_map(
        *[x for pid, off in offsets.items() for x in (F.lit(pid), F.lit(off))]
    )
    return (
        sdf.withColumn("__local", F.row_number().over(w) - 1)
        .withColumn(idx_col, offset_map[F.col("__pid")] + F.col("__local"))
        .drop("__pid", "__local")
    )


def zorder_by(
    df: DataFrame,
    cols: list[str],
    n_partitions: int | None = None,
    bits: int = 8,
) -> DataFrame:
    """Cluster rows along a Z-order (Morton) curve over ``cols`` so
    parquet row-group min/max statistics prune on EVERY listed column,
    not just a lexicographic leading one — the public technique behind
    Delta's OPTIMIZE ZORDER BY / Iceberg's sort-order rewrites.

    Why it matters at 100 TB: a plain ``orderBy(a, b)`` gives perfect
    skipping on `a` but near-none on `b` (each file spans the whole `b`
    domain). Interleaving the bits of rank(a) and rank(b) places rows so
    each file covers a small HYPERCUBE of the (a, b) space; a selective
    filter on either column then skips most files
    (`PushedFilters` + row-group stats do the rest — no index needed).

    Implementation, scale-first: each column is rank-normalized to
    ``bits`` bits against APPROX-QUANTILE boundaries (one sampled pass
    computes all columns' boundaries together; skew-proof, unlike
    equal-width bucketing) — NOT a global percent_rank window, which
    would drag the whole table through one task. Bucketing against the
    broadcast boundary array and the bit interleave are plain
    expressions; the only shuffle is the final
    ``repartitionByRange(zkey)`` — the same cost as any global sort.

    Cite: reference has no layout ops at all (SURVEY §4 'partition
    pruning' row — tables created unpartitioned); this is engine surface
    added for the 100 TB north star.
    """
    n_buckets = 1 << bits
    probs = [i / n_buckets for i in range(1, n_buckets)]
    bounds_per_col = df.stat.approxQuantile(cols, probs, 1.0 / (4 * n_buckets))
    zkey = None
    for ci, c in enumerate(cols):
        # distinct sorted boundaries; bucket = #boundaries strictly below
        bounds = sorted(set(bounds_per_col[ci]))
        barr = F.lit(bounds)
        rank = F.aggregate(
            barr,
            F.lit(0).cast("long"),
            lambda acc, b: acc + F.when(F.col(c) > b, 1).otherwise(0),
        )
        # Low-cardinality columns dedupe to << 2^bits boundaries, which
        # would leave their HIGH interleaved bits constant (zero) — the
        # file splitter then ignores the column entirely. Stretch the
        # rank over the full bit range so every column contributes its
        # information to the top-of-key bits that drive file splits.
        if len(bounds) + 1 < n_buckets:
            rank = F.floor(rank * F.lit((n_buckets - 1) / max(1, len(bounds)))).cast(
                "long"
            )
        # spread column ci's bit j to interleaved position j*len(cols)+ci
        part = sum(
            (
                F.shiftleft(
                    F.shiftright(rank, j).bitwiseAND(F.lit(1)),
                    j * len(cols) + ci,
                )
                for j in range(bits)
            ),
            F.lit(0).cast("long"),
        )
        zkey = part if zkey is None else zkey.bitwiseOR(part)
    out = df.withColumn("__zkey", zkey)
    if n_partitions:
        out = out.repartitionByRange(n_partitions, "__zkey")
    else:
        out = out.repartitionByRange("__zkey")
    return out.sortWithinPartitions("__zkey").drop("__zkey")


def global_cumsum(
    df: DataFrame,
    val_col: str,
    order_cols: list[str],
    cum_col: str = "cum",
) -> DataFrame:
    """Running total of ``val_col`` in the global (order_cols) total
    order — WITHOUT the single-partition `SUM() OVER (ORDER BY ...)`
    window (which serializes the whole table through one task; the
    cumulative-share / Pareto / quota family of queries all need this).

    Same two-pass shape as global_index: (1) range-repartition by the
    order, pin the partition assignment (both jobs must see the same
    layout — repartitionByRange re-samples bounds per execution), sum
    per partition (one tiny driver collect, a value per partition);
    (2) each partition adds its prefix offset to a partition-local
    running sum. The per-partition window touches only local rows; the
    collect is O(#partitions).
    """
    df = df.repartitionByRange(*order_cols).sortWithinPartitions(*order_cols)
    sdf = pin(df.withColumn("__pid", F.spark_partition_id()))
    sums = {
        r["__pid"]: r["s"]
        for r in sdf.groupBy("__pid").agg(F.sum(val_col).alias("s")).collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(sums):
        offsets[pid] = acc
        acc += sums[pid] or 0
    w = W.partitionBy("__pid").orderBy(*order_cols).rowsBetween(W.unboundedPreceding, 0)
    offset_map = F.create_map(
        *[x for pid, off in offsets.items() for x in (F.lit(pid), F.lit(off))]
    )
    return (
        sdf.withColumn("__local", F.sum(val_col).over(w))
        .withColumn(cum_col, offset_map[F.col("__pid")] + F.col("__local"))
        .drop("__pid", "__local")
    )
