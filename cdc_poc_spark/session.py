"""SparkSession factory.

Local-first (tests run on local[N]) but with scale-ready defaults: AQE on
(runtime coalesce + skew-join handling), UTC session timezone (parity with
naive-timestamp engines), Arrow enabled for the pandas-UDF slow path.

The reference builds its session in spark/scripts/consumer.py:20-41 with
``spark.sql.shuffle.partitions=2`` sized for toy data; here the default
tracks core count and AQE coalesces at runtime, which is the setting that
survives a 1000-executor cluster.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Runtime-settable confs every entry point applies, even to sessions built
#: by an external harness. ``nanosAsLong`` is required because the events
#: fixture stores TIMESTAMP(NANOS) which Spark's parquet reader otherwise
#: rejects; reading it as an int64 of epoch-nanos also mirrors the
#: reference's load-bearing micros-since-epoch semantics (SURVEY §1.2).
RUNTIME_CONFS = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    # Python Data Source filter pushdown (sources/pyds.py implements
    # pushFilters; the API refuses a pushdown-capable reader when this
    # is off, rather than silently skipping pushdown)
    "spark.sql.python.filterPushdown.enabled": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Size shuffle partitions by BYTES, not by the static partition count:
    # small intermediates coalesce to one task (kills per-task overhead on
    # local runs) while a 100 TB shuffle still fans out to
    # total_bytes / 64 MB partitions. parallelismFirst=true (the default)
    # would pin tiny shuffles at defaultParallelism tasks forever.
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64m",
    # Let AQE re-partition CACHED plans too: by default a .persist()
    # pins its shuffle at the static partition count (observed: a
    # 200-task materialization of a 5-row delta table in the IVM path).
    # Cache consumers may see different partitioning across re-use —
    # fine here: nothing relies on cached output partitioning.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    # List up to 1024 input paths on the driver instead of in a Spark
    # job. At the default of 32, a read of a 64-bucket mirror state
    # (cdc.apply) ran a 64-task listing job per table per micro-batch,
    # even with its schema given: measured, 64 bucket directories or
    # 64 file paths -> 1 job, 20 directories -> 0 jobs. At local[2] on
    # a 4-vCPU 2.1 GHz Xeon, planning that read took ~0.5 s with the
    # job and ~0.05-0.08 s listed on the driver.
    "spark.sql.sources.parallelPartitionDiscovery.threshold": "1024",
}


def configure_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an existing session (idempotent)."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # A conf may be non-settable on some builds; never fail a query
            # over a tuning knob.
            pass
    return spark


def get_spark(
    app_name: str = "cdc-poc-spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | str | None = None,
) -> SparkSession:
    """Build (or fetch) the local session.

    ``SPARK_GRAFT_CPUS`` controls parallelism (default 32 to match the
    driver harness). Shuffle partitions default to core count — correct
    for local mode; a cluster deployment would size this to
    2-3x total cores and let AQE coalesce.
    """
    cpus = str(cpus or os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = str(shuffle_partitions or cpus)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", shuffle_partitions)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    # Parameterised tuning overrides (optimization r14, guide §1.2
    # "config last"): `SPARK_GRAFT_EXTRA_CONFS="k=v;k=v"` lets a
    # deployment (or an A/B harness) inject session confs — including
    # static ones like the shuffle codec — without code edits. Empty by
    # default, so the driver's bench runs the committed defaults.
    extra = os.environ.get("SPARK_GRAFT_EXTRA_CONFS", "")
    for kv in filter(None, (s.strip() for s in extra.split(";"))):
        k, _, v = kv.partition("=")
        builder = builder.config(k.strip(), v.strip())
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return configure_session(spark)
