"""Debezium envelope parsing.

The envelope (reference kafka/config/connect-standalone.properties:21-26
uses JsonConverter with embedded schemas; observed shape README.md:90-128):

    {"schema": {...}, "payload": {"before": ..., "after": ..., "op": "r|c|u|d",
                                  "ts_ms": ..., "source": {...}}}

Two parse levels, mirroring the reference's two landed shapes (SURVEY
§1.1c/d):

- ``parse_envelope_raw``  -> before/after stay JSON **strings** (exactly
  the reference's get_json_object behavior, consumer.py:53-55) — the
  append-only CDC *log* shape.
- ``parse_envelope_typed`` -> before/after as typed structs via
  from_json with a caller-supplied row schema — the *mirror* input
  shape, plus a ``_cdc`` metadata struct (op/ts/offset/source/target/
  key) equivalent to the Connect path's DebeziumTransform SMT
  (connect-iceberg-sink.json:9-12; observed README.md:115-128).

Timestamp semantics (load-bearing, SURVEY §1.2): Debezium serializes
Postgres TIMESTAMP as int64 **micros since epoch** (MicroTimestamp);
golden value 1713192083639740 <-> 2024-04-15T14:41:23.639740Z
(README.md:93). Conversions cross that boundary exactly once, here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: op codes on the wire (Debezium) and in mirror metadata (Iceberg sink)
OPS_SOURCE = ("r", "c", "u", "d")  # snapshot read / create / update / delete
OP_TO_MIRROR = {"r": "I", "c": "I", "u": "U", "d": "D"}  # README.md:118 shows I

#: payload envelope minus before/after (those need per-table schemas)
PAYLOAD_META_SCHEMA = T.StructType(
    [
        T.StructField("op", T.StringType()),
        T.StructField("ts_ms", T.LongType()),
        T.StructField(
            "source",
            T.StructType(
                [
                    T.StructField("db", T.StringType()),
                    T.StructField("schema", T.StringType()),
                    T.StructField("table", T.StringType()),
                    T.StructField("lsn", T.LongType()),
                ]
            ),
        ),
    ]
)


def micros_to_ts(col: F.Column | str) -> F.Column:
    """Debezium MicroTimestamp (int64 epoch-micros) -> TimestampType."""
    c = F.col(col) if isinstance(col, str) else col
    return F.timestamp_micros(c)


def parse_envelope_raw(df: DataFrame, value_col: str = "value", topic_col: str = "topic") -> DataFrame:
    """Kafka record -> raw CDC log row (before/after as JSON strings).

    Byte-for-byte the semantics of reference consumer.py:51-57 (cast
    binary value to string; extract $.payload.{before,after,op}; keep
    topic; drop scratch), expressed once with get_json_object — plus
    ts_ms and a stable ``seq`` ordering column derived from the Kafka
    coordinates when present (offset) for last-writer-wins.
    """
    val = F.col(value_col).cast(T.StringType())
    cols = [
        F.get_json_object(val, "$.payload.before").alias("before"),
        F.get_json_object(val, "$.payload.after").alias("after"),
        F.get_json_object(val, "$.payload.op").alias("op"),
        F.get_json_object(val, "$.payload.ts_ms").cast("long").alias("ts_ms"),
        F.col(topic_col).alias("topic"),
    ]
    if "offset" in df.columns:
        cols.append(F.col("offset").cast("long").alias("seq"))
    else:
        cols.append(F.get_json_object(val, "$.payload.ts_ms").cast("long").alias("seq"))
    return df.select(*cols)


def parse_envelope_typed(
    df: DataFrame,
    row_schema: T.StructType,
    value_col: str = "value",
    topic_col: str = "topic",
    key_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Kafka record -> typed change row: after.* flattened + ``_cdc``
    metadata struct — the DebeziumTransform SMT semantics
    (connect-iceberg-sink.json:9-12) as a Catalyst projection.

    Delete events have after=NULL; their row payload comes from
    ``before`` so the key columns survive for MERGE (the sink needs the
    key to delete by, README.md:118 `_cdc.key`).
    """
    val = F.col(value_col).cast(T.StringType())
    payload_schema = T.StructType(
        [
            T.StructField("before", row_schema),
            T.StructField("after", row_schema),
            *PAYLOAD_META_SCHEMA.fields,
        ]
    )
    env = T.StructType([T.StructField("payload", payload_schema)])
    p = F.from_json(val, env).getField("payload")
    row = F.coalesce(p.getField("after"), p.getField("before"))
    mirror_op = (
        F.when(p.getField("op").isin("r", "c"), "I")
        .when(p.getField("op") == "u", "U")
        .otherwise("D")
    )
    seq = (
        F.col("offset").cast("long")
        if "offset" in df.columns
        else p.getField("ts_ms")
    )
    key_struct = (
        F.struct(*[row.getField(k).alias(k) for k in key_cols])
        if key_cols
        else F.lit(None).cast("string")
    )
    target = F.concat_ws(
        "_", F.slice(F.split(F.col(topic_col), "\\."), 2, 10)
    )  # cdc.commerce.account -> commerce_account (connect cdc.target.pattern)
    out = df.select(
        row.alias("row"),
        F.struct(
            mirror_op.alias("op"),
            micros_to_ts(p.getField("ts_ms") * 1000).alias("ts"),
            seq.alias("offset"),
            F.col(topic_col).alias("source"),
            target.alias("target"),
            key_struct.alias("key"),
        ).alias("_cdc"),
    )
    return out.select("row.*", "_cdc")


def table_from_topic(topic_col: str = "topic") -> F.Column:
    """Route a topic `prefix.schema.table` to a landed-table name
    `schema_table` — the distributed twin of reference consumer.py:73-74
    (which splits on the driver)."""
    parts = F.split(F.col(topic_col), "\\.")
    return F.concat_ws("_", F.slice(parts, 2, 10))


def split_dead_letters(
    df: DataFrame, value_col: str = "value", topic_col: str = "topic"
) -> tuple[DataFrame, DataFrame]:
    """Split a raw record batch into (parseable, dead_letters).

    A record is a dead letter when its value is NULL, is not valid
    JSON, or parses but carries no `$.payload.op` — the three ways a
    poisoned Kafka message breaks a CDC pipeline. The reference has no
    bad-message path (a malformed envelope kills its consumer); at
    100 TB/day a DLQ is mandatory: one bad producer must quarantine
    records, not stall the stream.

    Dead letters keep the raw value + source coordinates + a reason
    tag so they can be replayed after a producer fix. Both outputs are
    plain column-pruned filters over the same scan — no extra pass.
    """
    val = F.col(value_col).cast(T.StringType())
    parsed_doc = F.get_json_object(val, "$")   # null iff not valid JSON
    op = F.get_json_object(val, "$.payload.op")
    is_bad = F.col(value_col).isNull() | op.isNull()
    reason = (
        F.when(F.col(value_col).isNull(), "null_value")
        .when(parsed_doc.isNull(), "malformed_json")
        .otherwise("missing_op")
    )
    dlq_cols = [
        val.alias("raw_value"),
        F.col(topic_col).alias("topic"),
        reason.alias("reason"),
    ]
    if "offset" in df.columns:
        dlq_cols.append(F.col("offset").cast("long").alias("offset"))
    return df.filter(~is_bad), df.filter(is_bad).select(*dlq_cols)
