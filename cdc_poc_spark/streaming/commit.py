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
- ``VersionedDir``: state that is rewritten rather than appended
  (maintained aggregates and join views) commits whole versions
  ``v<N>/`` with a ``meta.json`` and publishes them by swapping the
  ``CURRENT`` pointer file.
"""

from __future__ import annotations

import json
import os
import shutil
from typing import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


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


def _write_durable(path: str, text: str) -> None:
    with open(path, "w") as f:
        f.write(text)
        f.flush()
        os.fsync(f.fileno())


class VersionedDir:
    """State under ``state_dir`` that commits as whole versions:
    ``v<N>/`` holds one version's data and its ``meta.json``, and the
    ``CURRENT`` file names the committed version. A batch writes a new
    version while reading the committed one and then publishes it with
    one atomic rename, so a crash before the swap leaves every reader
    and every replay on the old version — data and meta.json (which
    records the applied epochs) move together or not at all."""

    def __init__(self, state_dir: str) -> None:
        self.state_dir = state_dir
        os.makedirs(state_dir, exist_ok=True)

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

    def _gc(self, live_versions: set[int]) -> None:
        """Best-effort removal of every version dir not in
        ``live_versions`` (post-commit)."""
        for entry in os.listdir(self.state_dir):
            if entry.startswith("v") and entry[1:].isdigit():
                if int(entry[1:]) not in live_versions:
                    shutil.rmtree(os.path.join(self.state_dir, entry), ignore_errors=True)

    def _commit(self, version: int, meta: dict, live_versions: Iterable[int] = ()) -> None:
        """Publish ``version`` and drop every version that neither it
        nor ``live_versions`` still needs."""
        self._publish(version, meta)
        self._gc({version, *live_versions})
