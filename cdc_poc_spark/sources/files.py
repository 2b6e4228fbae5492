"""File-based sources: batch readers for every format the engine
supports, plus file *streams* that stand in for Kafka in tests —
deterministic (processAllAvailable/availableNow) instead of the
reference's sleep-and-poll e2e (reference test_cdc.py:119-122).
Every staged stream drive builds its source with ``stage_batches``
under an ``ephemeral_dir``.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..session import configure_session


def ephemeral_dir(prefix: str) -> str:
    """mkdtemp reaped at interpreter exit. The stream-drive and IVM
    queries return a DataFrame that reads this dir lazily, so it must
    outlive the query function — but repeated invocations (the driver
    runs each query twice; the sweep/audit/bench rebuild it) must not
    leak bucketed parquet state trees under /tmp for the life of the
    machine (ADVICE r7)."""
    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


def ephemeral_database(spark: SparkSession, db: str) -> str:
    """(Re)create the session-catalog database ``db`` with its location
    in an ``ephemeral_dir``, and return ``db``. An earlier ``db`` is
    dropped with its tables first, so every call starts empty, and the
    managed tables' files are reaped at exit instead of staying in the
    working directory's ``spark-warehouse/``."""
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    spark.sql(f"CREATE DATABASE {db} LOCATION '{ephemeral_dir(db + '_')}'")
    return db


def stage_batches(df: DataFrame, batch_col: str, work: str, fmt: str = "json") -> str:
    """Stage ``df`` as a file stream of one micro-batch per distinct
    ``batch_col`` value and return its directory (``work/data``).

    One pass writes ``df`` partitioned by ``batch_col`` (an integer tag)
    in ``fmt``; each tag's single data file then becomes
    ``b{i:05d}.{fmt}``, i its rank in numeric tag order, with mtime
    ``1_700_000_000 + i``. The tag column is not in the files. A file
    stream sorts by mtime, so under ``maxFilesPerTrigger=1`` micro-batch
    i holds exactly the rows of the i-th smallest tag."""
    staged = os.path.join(work, "staged")
    df.repartition(1).write.partitionBy(batch_col).format(fmt).save(staged)
    prefix = f"{batch_col}="
    tag_dirs = sorted(
        (d for d in os.listdir(staged) if d.startswith(prefix)),
        key=lambda d: int(d[len(prefix):]),
    )
    data_dir = os.path.join(work, "data")
    os.makedirs(data_dir)
    for i, d in enumerate(tag_dirs):
        tag_dir = os.path.join(staged, d)
        parts = [f for f in os.listdir(tag_dir) if f.startswith("part-")]
        if len(parts) != 1:
            raise RuntimeError(f"{tag_dir}: expected one data file, got {parts}")
        dest = os.path.join(data_dir, f"b{i:05d}.{fmt}")
        shutil.move(os.path.join(tag_dir, parts[0]), dest)
        os.utime(dest, (1_700_000_000 + i, 1_700_000_000 + i))
    return data_dir


#: schema of a file-backed envelope record (matches what
#: cdc.envelope.parse_envelope_* expect from a Kafka record)
ENVELOPE_FILE_SCHEMA = T.StructType(
    [
        T.StructField("value", T.StringType()),
        T.StructField("topic", T.StringType()),
        T.StructField("offset", T.LongType()),
    ]
)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    configure_session(spark)
    return spark.read.parquet(path)


def read_json(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """Schema always explicit — inference is a second full scan at 100 TB."""
    return spark.read.schema(schema).json(path)


def read_csv(spark: SparkSession, path: str, schema: T.StructType, header: bool = True) -> DataFrame:
    return spark.read.schema(schema).csv(path, header=header)


def read_jdbc_snapshot(
    spark: SparkSession, url: str, table: str, partition_column: str | None = None,
    num_partitions: int = 8, lower_bound=None, upper_bound=None, **options
) -> DataFrame:
    """JDBC initial-snapshot read — the batch twin of Debezium's snapshot
    phase (op='r' records, reference connect-postgres-source.json:4).
    Partitioned pull when a numeric key is available (never single-task
    at scale)."""
    reader = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("numPartitions", num_partitions)
            .option("lowerBound", lower_bound)
            .option("upperBound", upper_bound)
        )
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load()


def envelope_json_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Streaming source of envelope records from a directory of JSON
    files — the test/local stand-in for the Kafka source (same columns:
    value, topic, offset). ``max_files_per_trigger`` throttles each
    micro-batch (honored by availableNow), the way tests force a
    multi-epoch run from a static directory."""
    reader = spark.readStream.schema(ENVELOPE_FILE_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.json(path)


def parquet_stream(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """Streaming parquet source (schema mandatory for streams)."""
    configure_session(spark)
    return spark.readStream.schema(schema).parquet(path)
