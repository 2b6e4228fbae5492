"""The exactly-once commit policy of every foreachBatch sink in the
package — Structured Streaming's sink contract (a checkpointed
foreachBatch whose writes are idempotent per epoch, reference
consumer.py:16,81) written out once.

Three forms, one per kind of state:

- ``write_epoch``: append-style relations land each micro-batch as its
  own epoch partition, so a replayed batch rewrites exactly its own
  rows (CDC log and DLQ, windowed increments, standing indexes,
  dispositions).
- ``already_applied`` / ``mark_applied``: a ``{name}_applied`` catalog
  ledger guards side effects that cannot be made per-epoch (appends to
  bucketed catalog tables). The unguarded window is the one write
  between the side effect and ``mark_applied``.
- ``BucketedState``: hash-bucketed keyed state (the CDC mirror, the
  maintained join view and aggregates) appends each epoch's touched
  buckets in place and publishes the set of live files by swapping the
  ``CURRENT`` pointer to a new ``v<N>/meta.json`` manifest; its bucket
  count follows the state's bytes.

``expire_log_epochs`` is the retention of the ``write_epoch`` layout.
"""

from __future__ import annotations

import json
import math
import os
import shutil
from typing import Iterable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: the layout column of a ``BucketedState``: rows live under
#: ``<side>/__bucket=N/``
BUCKET = "__bucket"


def write_epoch(
    df: DataFrame, path: str, epoch: int, col: str = "epoch", by: tuple[str, ...] = ()
) -> None:
    """Land ``df`` as partition ``col=epoch`` (under the ``by``
    partitions, when given) of the parquet directory ``path``.

    Two replay rules hold for every caller:

    - The overwrite is DYNAMIC: only the partitions this write produces
      are replaced. A foreachBatch replay rewrites its own epoch and
      leaves every other one in place, and so does a restart from
      checkpoint, which re-runs the epoch -1 seed of a standing index;
      a static overwrite would wipe every epoch admitted since.
    - An empty ``df`` writes no partition, so a replay whose output is
      now empty leaves the first attempt's rows behind. A batch that
      reads a relation its own stream appends to must therefore filter
      to ``col < batch_id``: the replay then sees exactly the pre-batch
      state and recomputes byte-identical output.
    """
    (
        df.withColumn(col, F.lit(int(epoch)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*by, col)
        .parquet(path)
    )


def already_applied(spark: SparkSession, ledger: str, batch_id: int) -> bool:
    """True when ``batch_id`` is recorded in the ledger table
    ``ledger`` — a replayed batch that completed is skipped wholesale.
    Creates the empty ledger on first use, before the batch runs."""
    if not spark.catalog.tableExists(ledger):
        spark.createDataFrame([], "batch_id long").write.format(
            "parquet"
        ).saveAsTable(ledger)
    return (
        spark.table(ledger).filter(F.col("batch_id") == batch_id).limit(1).count()
        > 0
    )


def mark_applied(spark: SparkSession, ledger: str, batch_id: int) -> None:
    """Record ``batch_id`` in ``ledger``: the batch's last write."""
    spark.createDataFrame([(batch_id,)], "batch_id long").write.mode(
        "append"
    ).format("parquet").saveAsTable(ledger)


def expire_log_epochs(path: str, keep_last: int) -> list[int]:
    """Retention for the epoch-partitioned CDC log/DLQ
    (`__epoch=N/` directories under each table partition, written by
    CDCConsumer.land_log_batch / _quarantine): delete every epoch
    partition older than the newest ``keep_last`` epochs and return the
    sorted list of expired epoch ids.

    This is the parquet-directory form of lakehouse snapshot expiry
    (Iceberg `expireSnapshots` / Delta `VACUUM`): the log grows without
    bound otherwise, and at 100 TB the object-store LIST cost of an
    unbounded partition count taxes EVERY downstream scan, not just
    storage. Partition-pruned readers (filters on __epoch / table) are
    unaffected by expiry of partitions they don't read; expiry is a
    driver-side metadata walk + directory deletes — no data job, no
    shuffle, safe to run concurrently with partition-pruned readers of
    RETAINED epochs (the same contract lakehouse retention gives)."""
    epoch_dirs: dict[int, list[str]] = {}
    for dp, dns, _ in os.walk(path):
        for dn in dns:
            if dn.startswith("__epoch="):
                epoch_dirs.setdefault(
                    int(dn.split("=", 1)[1]), []
                ).append(os.path.join(dp, dn))
    if not epoch_dirs:
        return []
    keep = set(sorted(epoch_dirs)[-keep_last:]) if keep_last > 0 else set()
    expired = sorted(e for e in epoch_dirs if e not in keep)
    for e in expired:
        for d in epoch_dirs[e]:
            shutil.rmtree(d)
    return expired


def _plan_bytes(df: DataFrame) -> int:
    """Spark's size estimate of ``df``'s optimized plan, with no job:
    file sizes for a file scan, ``spark.sql.defaultSizeInBytes``
    (Long.MaxValue) for rows it cannot size, such as a local collection."""
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def _write_durable(path: str, text: str) -> None:
    with open(path, "w") as f:
        f.write(text)
        f.flush()
        os.fsync(f.fileno())


class BucketedState:
    """Keyed state hash-bucketed by ``BUCKET`` into one or more sides:
    side ``s`` keeps its rows under ``<state_dir>/<s>/__bucket=N/`` (side
    ``""`` is ``state_dir`` itself). The manifest is ``v<N>/meta.json``
    of the version the ``CURRENT`` file names: each side's live file
    names per bucket, each side's row schema (union by name of every
    epoch's, types widened), the width (bucket count) every side is
    hashed with, and the last applied epoch.

    The width follows the state's bytes: it is the smallest power of two
    >= bytes / ``spark.sql.adaptive.advisoryPartitionSizeInBytes``,
    capped at ``max_width``, so a bucket holds about one merge task's
    rows and a small state is one file per side. ``resize`` fixes the
    width of each commit (see there); ``bucket`` hashes with it.

    A commit appends new files for the buckets it touches next to the
    live ones, publishes the manifest that swaps them in, and only then
    deletes the files it superseded. A crash anywhere leaves either the
    old manifest (the new files are orphans, deleted by the next commit
    before it writes) or the new one (the superseded files are never
    read again), so a replay of the epoch rebuilds or skips it."""

    def __init__(self, spark: SparkSession, state_dir: str, max_width: int = 64) -> None:
        self.state_dir = state_dir
        os.makedirs(state_dir, exist_ok=True)
        self.spark = spark
        self.max_width = max_width
        #: the width the next commit hashes and writes with (``resize``)
        self.width: int | None = None

    @property
    def _pointer_path(self) -> str:
        return os.path.join(self.state_dir, "CURRENT")

    def _current_version(self) -> int | None:
        if not os.path.exists(self._pointer_path):
            return None
        with open(self._pointer_path) as f:
            return int(f.read().strip())

    def _vdir(self, version: int) -> str:
        return os.path.join(self.state_dir, f"v{version}")

    def _meta(self, version: int) -> dict:
        with open(os.path.join(self._vdir(version), "meta.json")) as f:
            return json.load(f)

    def _begin(self, cur: int | None) -> int:
        """Open the version after ``cur``: clear any stale uncommitted
        attempt at it and create its directory."""
        version = (cur or 0) + 1
        vdir = self._vdir(version)
        shutil.rmtree(vdir, ignore_errors=True)
        os.makedirs(vdir)
        return version

    def _publish(self, version: int, meta: dict) -> None:
        """The commit point. meta.json is made durable inside the
        version dir BEFORE the pointer swap, else a crash after the
        swap could publish a torn meta.json; then the pointer goes to a
        durable temp file that is renamed over CURRENT."""
        _write_durable(os.path.join(self._vdir(version), "meta.json"), json.dumps(meta))
        tmp = self._pointer_path + ".tmp"
        _write_durable(tmp, str(version))
        os.replace(tmp, self._pointer_path)

    def _commit(self, version: int, meta: dict) -> None:
        """Publish ``version``, then remove every other version dir
        (best effort)."""
        self._publish(version, meta)
        for entry in os.listdir(self.state_dir):
            if entry.startswith("v") and entry[1:].isdigit() and int(entry[1:]) != version:
                shutil.rmtree(os.path.join(self.state_dir, entry), ignore_errors=True)

    def bucket(self, key_cols: Iterable[str]) -> Column:
        """The bucket of a row at ``self.width``:
        ``pmod(xxhash64(cast(key as string)), width)``. The cast makes it
        a function of the key's value, not of its physical type
        (xxhash64(int 2) != xxhash64(bigint 2)), so a key widened by
        schema evolution stays in its bucket."""
        h = F.xxhash64(*[F.col(c).cast("string") for c in key_cols])
        return F.pmod(h, F.lit(self.width)).cast("int")

    def resize(self, fresh: Iterable[DataFrame] = ()) -> bool:
        """Fix ``self.width`` for the next commit; True when it differs
        from the committed width. Such a commit rewrites every side in
        every bucket (``touched=None``) from its rows re-bucketed with
        ``bucket``: a full rewrite, amortised like a hash-table resize.

        The state's bytes are its live files' sizes (``os.stat``, no
        Spark job). A fresh state takes the plan's size estimate of the
        ``fresh`` rows it is about to hold, so rows with no estimate
        start it at ``max_width``. The width grows as soon as the state
        outgrows it but shrinks only once the state fits a quarter of
        it, so a state at a boundary does not flap between widths."""
        m = self._manifest()
        if m is None:
            size, cur = sum(_plan_bytes(df) for df in fresh), None
        else:
            paths = [p for side in m["files"] for p in self._paths(m, side)]
            size, cur = sum(os.stat(p).st_size for p in paths), m["width"]
        target = self.spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
            self.spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")
        )
        fit = min(self.max_width, 1 << max(0, math.ceil(size / target) - 1).bit_length())
        if cur is None or fit > cur or cur > self.max_width or 4 * size <= cur * target:
            self.width = fit
        else:
            self.width = cur
        return self.width != cur

    def _manifest(self) -> dict | None:
        cur = self._current_version()
        return None if cur is None else self._meta(cur)

    def _paths(self, m: dict, side: str) -> list[str]:
        root = os.path.join(self.state_dir, side)
        return [
            os.path.join(root, f"{BUCKET}={b}", name)
            for b, names in m["files"][side].items()
            for name in names
        ]

    def applied(self, epoch: int) -> bool:
        """True when ``epoch`` is at or below the last committed one:
        epochs are a stream's increasing batch ids, so it is a replay."""
        m = self._manifest()
        return m is not None and epoch <= m["epoch"]

    def read(self, side: str = "") -> DataFrame | None:
        """Every live row of ``side`` with ``BUCKET`` at the committed
        width, or None before the side's first commit. One scan over the
        manifest's files in its recorded schema, so it plans with no
        Spark job; a side that holds no rows reads as zero rows in that
        schema. Filter on ``BUCKET`` to read some buckets: the scan
        prunes the rest."""
        m = self._manifest()
        if m is None or side not in m["schemas"]:
            return None
        schema = T.StructType.fromJson(m["schemas"][side]).add(BUCKET, T.IntegerType())
        paths = self._paths(m, side)
        if not paths:
            return self.spark.createDataFrame([], schema)
        root = os.path.join(self.state_dir, side)
        return self.spark.read.schema(schema).option("basePath", root).parquet(*paths)

    def commit(
        self, epoch: int, touched: Iterable[int] | None, sides: dict[str, DataFrame]
    ) -> None:
        """Commit ``epoch`` at ``self.width``: each ``sides[s]`` (rows
        with ``BUCKET``) becomes the whole content of side ``s``'s
        ``touched`` buckets (of every bucket when ``touched`` is None),
        one file per bucket; every other bucket and side keeps its
        files. A commit that changes the width must rewrite every side
        in full."""
        cur = self._current_version()
        old = self._meta(cur) if cur is not None else {"schemas": {}, "files": {}}
        assert self.width is not None, "resize() fixes the width of a commit"
        if self.width != old.get("width"):
            assert touched is None and set(old["files"]) <= set(sides), "a resize is a full rewrite"
        version = self._begin(cur)
        self._sweep(old["files"])
        touched = None if touched is None else {str(b) for b in touched}
        schemas, files = dict(old["schemas"]), dict(old["files"])
        for side, df in sides.items():
            root = os.path.join(self.state_dir, side)
            df.repartition(BUCKET).write.mode("append").partitionBy(BUCKET).parquet(root)
            schemas[side] = self._widen(schemas.get(side), df.drop(BUCKET).schema)
            prev = files.get(side, {})
            live = {b: n for b, n in prev.items() if touched is not None and b not in touched}
            for b, names in self._listing(root).items():
                new = sorted(set(names) - set(prev.get(b, ())))
                if new and (touched is None or b in touched):
                    live[b] = new
            files[side] = live
        meta = {"epoch": epoch, "width": self.width, "schemas": schemas, "files": files}
        self._commit(version, meta)
        self._sweep(files)

    def _widen(self, recorded: dict | None, schema: T.StructType) -> dict:
        """``schema`` united by name with the ``recorded`` one: the
        schema every live file of the side reads in."""
        if recorded is not None and recorded != schema.jsonValue():
            empty = self.spark.createDataFrame
            schema = (
                empty([], T.StructType.fromJson(recorded))
                .unionByName(empty([], schema), allowMissingColumns=True)
                .schema
            )
        return schema.jsonValue()

    @staticmethod
    def _listing(root: str) -> dict[str, list[str]]:
        """Bucket -> the data files on disk in its directory under ``root``."""
        if not os.path.isdir(root):
            return {}
        return {
            d.split("=", 1)[1]: [
                n for n in os.listdir(os.path.join(root, d)) if not n.startswith((".", "_"))
            ]
            for d in os.listdir(root)
            if d.startswith(BUCKET + "=")
        }

    def _sweep(self, files: dict) -> None:
        """Delete every file in a bucket directory that ``files`` does
        not list (with its checksum), each bucket directory this leaves
        empty, and the ``_temporary`` directory of an unfinished write."""
        for root, dirs, names in os.walk(self.state_dir):
            if "_temporary" in dirs:
                dirs.remove("_temporary")
                shutil.rmtree(os.path.join(root, "_temporary"))
            base = os.path.basename(root)
            if not base.startswith(BUCKET + "="):
                continue
            side = os.path.relpath(os.path.dirname(root), self.state_dir)
            live = set(files.get("" if side == "." else side, {}).get(base.split("=", 1)[1], ()))
            for n in names:
                if n not in live and n.lstrip(".").removesuffix(".crc") not in live:
                    os.remove(os.path.join(root, n))
            if not os.listdir(root):
                os.rmdir(root)
