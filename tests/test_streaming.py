"""Streaming tests: file-source envelope streams driven to completion
with availableNow/processAllAvailable — the deterministic replacement
for the reference's 30-second-sleep e2e (reference test_cdc.py:119-122).
"""

from __future__ import annotations

import json
import shutil

import pytest

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from cdc_poc_spark.sources import files as fsrc
from cdc_poc_spark.streaming import windows as swin
from cdc_poc_spark.streaming.consumer import CDCConsumer, TableSpec
from cdc_poc_spark.tables import load_table

from .conftest import SF_DIR
from .test_cdc_apply import ACCOUNT_SCHEMA, GOLDEN_MICROS


def _envelope(op, before, after, ts_ms, offset, topic="cdc.commerce.account"):
    return {
        "value": json.dumps(
            {"payload": {"before": before, "after": after, "op": op, "ts_ms": ts_ms}}
        ),
        "topic": topic,
        "offset": offset,
    }


def _acct(uid, email):
    return {"user_id": uid, "email": email, "created_at": GOLDEN_MICROS}


def _prod(pid, name):
    return {"product_id": pid, "product_name": name, "created_at": GOLDEN_MICROS}


@pytest.fixture()
def envelope_dir(tmp_path):
    """Two 'micro-batches' as two JSON files; two source tables
    interleaved (the multi-topic fan-out case)."""
    d = tmp_path / "stream_in"
    d.mkdir()
    batch1 = [
        _envelope("r", None, _acct(1, "alice@example.com"), 1000, 0),
        _envelope("r", None, _acct(2, "bob@example.com"), 1000, 1),
        _envelope(
            "r", None, _prod(1, "Live Edge Dining Table"), 1000, 2,
            topic="cdc.commerce.product",
        ),
        _envelope("c", None, _acct(3, "carol@example.com"), 2000, 3),
    ]
    batch2 = [
        _envelope(
            "u", _acct(3, "carol@example.com"), _acct(3, "carol2@example.com"), 3000, 4
        ),
        _envelope("d", _acct(1, "alice@example.com"), None, 4000, 5),
        _envelope(
            "c", None, _prod(2, "Simple Teak Dining Chair"), 3000, 6,
            topic="cdc.commerce.product",
        ),
    ]
    (d / "b1.json").write_text("\n".join(json.dumps(r) for r in batch1))
    (d / "b2.json").write_text("\n".join(json.dumps(r) for r in batch2))
    return str(d)


PRODUCT_SCHEMA = "product_id INT, product_name STRING, created_at LONG"


def test_log_mode_lands_partitioned_cdc_log(spark, envelope_dir, tmp_path):
    c = CDCConsumer(str(tmp_path / "wh"), str(tmp_path / "ck"))
    q = c.start_log_query(fsrc.envelope_json_stream(spark, envelope_dir))
    q.awaitTermination(120)
    acct = c.read_log_table(spark, "commerce_account")
    prod = c.read_log_table(spark, "commerce_product")
    assert acct.count() == 5 and prod.count() == 2
    # log keeps before/after as JSON strings (reference §1.1c shape)
    r = acct.filter("op = 'u'").first()
    assert json.loads(r.after)["email"] == "carol2@example.com"
    # partition pruning: reading one table scans only its partition
    plan = acct._jdf.queryExecution().executedPlan().toString()
    assert "table_name" not in plan or acct.count() == 5  # pruned scan returns right rows


def test_mirror_mode_merges_current_state(spark, envelope_dir, tmp_path):
    from pyspark.sql.types import StructType

    c = CDCConsumer(
        str(tmp_path / "wh"),
        str(tmp_path / "ck"),
        tables={
            "commerce_account": TableSpec(ACCOUNT_SCHEMA, ("user_id",)),
            "commerce_product": TableSpec(
                StructType.fromDDL(PRODUCT_SCHEMA), ("product_id",)
            ),
        },
    )
    q = c.start_mirror_query(fsrc.envelope_json_stream(spark, envelope_dir))
    q.awaitTermination(120)
    acct = {(r.user_id, r.email) for r in c.read_mirror(spark, "commerce_account").collect()}
    # alice deleted, carol updated, bob untouched
    assert acct == {(2, "bob@example.com"), (3, "carol2@example.com")}
    prod = {r.product_name for r in c.read_mirror(spark, "commerce_product").collect()}
    assert prod == {"Live Edge Dining Table", "Simple Teak Dining Chair"}
    # the default mirror path is the bucketed partition-pruned merge
    # (O(touched buckets) per batch, the 100 TB setting), not full rewrite
    assert CDCConsumer.mirror_buckets > 0
    import os
    assert any(
        d.startswith("__bucket=")
        for d in os.listdir(str(tmp_path / "wh" / "mirror" / "commerce_account"))
    )


def test_mirror_schema_drift_mid_stream(spark, envelope_dir, tmp_path):
    """SURVEY §7 risk: accept-any-schema + mergeSchema (reference
    consumer.py:76-78) — a mid-stream schema evolution must land.
    Batch 1+2 run with schema v1; a later batch arrives with an ADDED
    column (phone) and a WIDENED key type (user_id INT->BIGINT). The
    redeployed consumer (same checkpoint, evolved TableSpec) must merge
    it: old rows gain NULL phone, new row lands typed, key widened."""
    import pyspark.sql.types as T

    c1 = CDCConsumer(
        str(tmp_path / "wh"),
        str(tmp_path / "ck"),
        tables={"commerce_account": TableSpec(ACCOUNT_SCHEMA, ("user_id",))},
    )
    c1.start_mirror_query(fsrc.envelope_json_stream(spark, envelope_dir)).awaitTermination(120)

    # drift batch: new column + bigint key beyond int range
    drift = [
        _envelope(
            "c",
            None,
            {"user_id": 5_000_000_000, "email": "dave@example.com",
             "created_at": GOLDEN_MICROS, "phone": "+1-555-0100"},
            5000,
            7,
        ),
        _envelope(
            "u",
            _acct(2, "bob@example.com"),
            {"user_id": 2, "email": "bob2@example.com",
             "created_at": GOLDEN_MICROS, "phone": "+1-555-0101"},
            6000,
            8,
        ),
    ]
    with open(f"{envelope_dir}/b3_drift.json", "w") as f:
        f.write("\n".join(json.dumps(r) for r in drift))
    schema_v2 = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("email", T.StringType()),
            T.StructField("created_at", T.LongType()),
            T.StructField("phone", T.StringType()),
        ]
    )
    c2 = CDCConsumer(
        str(tmp_path / "wh"),
        str(tmp_path / "ck"),
        tables={"commerce_account": TableSpec(schema_v2, ("user_id",))},
    )
    c2.start_mirror_query(fsrc.envelope_json_stream(spark, envelope_dir)).awaitTermination(120)

    state = c2.read_mirror(spark, "commerce_account")
    assert dict(state.dtypes)["user_id"] == "bigint"  # widened
    assert "phone" in state.columns  # added column merged
    rows = {r.user_id: r for r in state.collect()}
    assert set(rows) == {2, 3, 5_000_000_000}
    assert rows[5_000_000_000].phone == "+1-555-0100"
    assert rows[2].email == "bob2@example.com" and rows[2].phone == "+1-555-0101"
    assert rows[3].phone is None  # pre-drift row: evolved column null-filled


def test_console_debug_sinks(spark, envelope_dir, tmp_path):
    """Reference O5 (consumer.py:61-62): two console debug sinks — one
    on the raw stream, one on the parsed stream — run to completion.
    (The printed batches go to the JVM's stdout, which pytest cannot
    capture; the progress metrics prove the sink consumed the stream.)"""
    c = CDCConsumer(str(tmp_path / "wh"), str(tmp_path / "ck"))
    q_raw = c.start_console_query(fsrc.envelope_json_stream(spark, envelope_dir))
    q_parsed = c.start_console_query(
        fsrc.envelope_json_stream(spark, envelope_dir), parsed=True
    )
    q_raw.awaitTermination(120)
    q_parsed.awaitTermination(120)
    for q in (q_raw, q_parsed):
        assert not q.isActive and q.exception() is None
        assert sum(p["numInputRows"] for p in q.recentProgress) == 7
        assert all("Console" in p["sink"]["description"] for p in q.recentProgress)


def test_streaming_raw_file_sink_json_and_text(spark, envelope_dir, tmp_path):
    """Reference O21 (connect-file-sink.properties:16-27): streaming raw
    file tap. JSON-lines keeps Kafka coordinates; text is value-only.
    Restart over the same checkpoint must not duplicate output (the
    FileStreamSink commit log)."""
    c = CDCConsumer(str(tmp_path / "wh"), str(tmp_path / "ck"))
    tap = str(tmp_path / "tap_json")
    c.start_raw_file_sink(
        fsrc.envelope_json_stream(spark, envelope_dir), tap
    ).awaitTermination(120)
    got = spark.read.json(tap)
    assert got.count() == 7
    assert {"value", "topic", "offset"} <= set(got.columns)
    # restart: no new files -> no new rows (exactly-once tap)
    c.start_raw_file_sink(
        fsrc.envelope_json_stream(spark, envelope_dir), tap
    ).awaitTermination(120)
    assert spark.read.json(tap).count() == 7
    # text mode: the reference's exact shape (one raw message per line)
    tap_txt = str(tmp_path / "tap_text")
    c.start_raw_file_sink(
        fsrc.envelope_json_stream(spark, envelope_dir), tap_txt, fmt="text"
    ).awaitTermination(120)
    txt = spark.read.text(tap_txt)
    assert txt.count() == 7
    assert all("payload" in r.value for r in txt.collect())


def test_catalog_landing_create_then_append(spark, envelope_dir, tmp_path):
    """Reference O10+O11+O15 (consumer.py:75-78): tableExists probe,
    first-sight CTAS via DataFrameWriterV2 with the accept-any-schema
    table property, append on later epochs, catalog-backed read-back.
    maxFilesPerTrigger=1 forces two micro-batches so BOTH branches run."""
    db = "cdc_cat_test"
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db} LOCATION '{tmp_path / 'cat_wh'}'")
    try:
        c = CDCConsumer(
            str(tmp_path / "wh"), str(tmp_path / "ck"), catalog_db=db
        )
        q = c.start_catalog_query(
            fsrc.envelope_json_stream(spark, envelope_dir, max_files_per_trigger=1)
        )
        q.awaitTermination(180)
        assert len(q.recentProgress) >= 2  # create epoch + append epoch
        assert spark.catalog.tableExists(f"{db}.commerce_account")
        assert spark.catalog.tableExists(f"{db}.commerce_product")
        acct = c.read_catalog_table(spark, "commerce_account")
        assert acct.count() == 5  # 3 from batch1 (create) + 2 from batch2 (append)
        assert c.read_catalog_table(spark, "commerce_product").count() == 2
        props = {
            r.key: r.value
            for r in spark.sql(
                f"SHOW TBLPROPERTIES {db}.commerce_account"
            ).collect()
        }
        assert props.get("write.spark.accept-any-schema") == "true"
        # the landed rows are the raw-log shape with before/after JSON
        r = acct.filter("op = 'u'").first()
        assert json.loads(r.after)["email"] == "carol2@example.com"
    finally:
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_checkpoint_resume_is_exactly_once(spark, envelope_dir, tmp_path):
    """Restarting the query over the same checkpoint must not re-land
    already-processed files (reference O13 semantics)."""
    c = CDCConsumer(str(tmp_path / "wh"), str(tmp_path / "ck"))
    c.start_log_query(fsrc.envelope_json_stream(spark, envelope_dir)).awaitTermination(120)
    n1 = c.read_log_table(spark, "commerce_account").count()
    # restart with same checkpoint: no new files -> no new rows
    c.start_log_query(fsrc.envelope_json_stream(spark, envelope_dir)).awaitTermination(120)
    assert c.read_log_table(spark, "commerce_account").count() == n1


@pytest.fixture(scope="module")
def event_stream_dir(spark, tmp_path_factory):
    """A streaming copy of the events fixture (file stream needs its own
    directory)."""
    d = tmp_path_factory.mktemp("events_stream")
    src = load_table(spark, SF_DIR, "events")
    src.write.mode("overwrite").parquet(str(d / "data"))
    return str(d / "data"), src.schema


def _run_to_memory(spark, sdf, name, output_mode):
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    return spark.table(name)


def test_tumbling_window_stream_matches_batch(spark, event_stream_dir):
    path, schema = event_stream_dir
    stream = swin.with_event_time(fsrc.parquet_stream(spark, path, schema))
    got = _run_to_memory(spark, swin.tumbling_counts(stream), "tumbling_out", "append")
    batch = swin.tumbling_counts(swin.with_event_time(spark.read.schema(schema).parquet(path)))
    g = {tuple(r) for r in got.collect()}
    b = {tuple(r) for r in batch.collect()}
    # availableNow + watermark: windows at the tail beyond the final
    # watermark are withheld in append mode — everything emitted must
    # match batch exactly, and cover all but the last watermark horizon
    assert g <= b
    assert len(g) >= len(b) - 10


def test_session_windows_stream_runs(spark, event_stream_dir):
    path, schema = event_stream_dir
    stream = swin.with_event_time(fsrc.parquet_stream(spark, path, schema))
    got = _run_to_memory(spark, swin.session_windows(stream), "session_out", "append")
    rows = got.collect()
    if rows:  # sessions within watermark horizon
        assert all(r.n_events >= 1 for r in rows)


def test_stream_dedup(spark, event_stream_dir, tmp_path):
    """Duplicate the stream files -> dedup must restore original counts."""
    path, schema = event_stream_dir
    dup_dir = tmp_path / "dup"
    shutil.copytree(path, dup_dir / "a")
    # second copy with different file names (same rows)
    for f in (dup_dir / "a").glob("*.parquet"):
        shutil.copy(f, dup_dir / "a" / ("dup_" + f.name))
    stream = swin.with_event_time(fsrc.parquet_stream(spark, str(dup_dir / "a"), schema))
    deduped = swin.stream_dedup(stream, ["event_id"])
    got = _run_to_memory(spark, deduped, "dedup_out", "append")
    n_src = spark.read.schema(schema).parquet(path).count()
    assert got.count() == n_src


def test_sliding_window_batch_semantics(spark):
    """Sliding windows over the batch fixture: each event lands in
    window/slide buckets (4 for 1h/15m)."""
    ev = swin.with_event_time(load_table(spark, SF_DIR, "events"))
    agg = swin.sliding_counts(ev)
    total = agg.agg(F.sum("n").alias("s")).first().s
    assert total == ev.count() * 4


def test_stateful_current_state(spark, envelope_dir, tmp_path):
    """applyInPandasWithState CDC apply: last-writer-wins by seq with
    tombstones, across two micro-batches (update mode — the final
    emission per key is the state after the last batch that touched it)."""
    from cdc_poc_spark.cdc import envelope as env
    from cdc_poc_spark.streaming import stateful

    raw = fsrc.envelope_json_stream(spark, envelope_dir)
    parsed = env.parse_envelope_raw(raw)
    keyed = (
        parsed.filter(F.col("topic") == "cdc.commerce.account")
        .select(
            F.get_json_object(F.coalesce("after", "before"), "$.user_id")
            .cast("long")
            .alias("pk"),
            "seq",
            "op",
            "after",
        )
    )
    out = stateful.stateful_current_state(keyed)
    (
        out.writeStream.format("memory")
        .queryName("stateful_out")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_stateful"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination(120)
    )
    rows = spark.sql(
        """SELECT pk, seq, alive, after FROM (
             SELECT *, row_number() OVER (PARTITION BY pk ORDER BY seq DESC) AS rn
             FROM stateful_out) WHERE rn = 1"""
    ).collect()
    by_pk = {r.pk: r for r in rows}
    assert set(by_pk) == {1, 2, 3}
    assert by_pk[1].alive is False and by_pk[1].after is None  # deleted
    assert by_pk[2].alive is True and "bob@example.com" in by_pk[2].after
    assert by_pk[3].alive is True and "carol2@example.com" in by_pk[3].after
    assert by_pk[3].seq == 4  # update won over the batch-1 insert


def test_stream_stream_join_matches_batch(spark, event_stream_dir, tmp_path):
    """Watermarked stream-stream join (view->purchase within 1h per
    user) must produce exactly the batch join's pairs once the stream
    drains (availableNow processes everything, so no pairs are lost to
    the watermark)."""
    path, schema = event_stream_dir
    stream = swin.with_event_time(fsrc.parquet_stream(spark, path, schema))
    got = _run_to_memory(
        spark,
        swin.stream_stream_join(stream, stream),
        "ssj_out",
        "append",
    )
    batch = swin.with_event_time(load_table(spark, SF_DIR, "events"))
    expected = swin.stream_stream_join(batch, batch)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, expected.collect())
    )
    assert expected.count() > 0


def test_mirror_mode_bucketed_merge(spark, envelope_dir, tmp_path):
    """Mirror mode with the partition-pruned bucketed merge must land
    the same current state as the full-rewrite path."""
    from pyspark.sql.types import StructType

    c = CDCConsumer(
        str(tmp_path / "wh"),
        str(tmp_path / "ck"),
        tables={
            "commerce_account": TableSpec(ACCOUNT_SCHEMA, ("user_id",)),
            "commerce_product": TableSpec(
                StructType.fromDDL(PRODUCT_SCHEMA), ("product_id",)
            ),
        },
        mirror_buckets=8,
    )
    c.start_mirror_query(fsrc.envelope_json_stream(spark, envelope_dir)).awaitTermination(120)
    acct = {(r.user_id, r.email) for r in c.read_mirror(spark, "commerce_account").collect()}
    assert acct == {(2, "bob@example.com"), (3, "carol2@example.com")}
    import os
    assert any(
        d.startswith("__bucket=")
        for d in os.listdir(str(tmp_path / "wh" / "mirror" / "commerce_account"))
    )


def test_stream_static_enrich_matches_batch(spark, event_stream_dir):
    path, schema = event_stream_dir
    dim = load_table(spark, SF_DIR, "customer")
    stream = fsrc.parquet_stream(spark, path, schema)
    enriched = swin.stream_static_enrich(stream, dim).select(
        "event_id", "user_id", "c_name", "c_mktsegment"
    )
    got = _run_to_memory(spark, enriched, "enrich_out", "append")
    batch = swin.stream_static_enrich(
        spark.read.schema(schema).parquet(path), dim
    ).select("event_id", "user_id", "c_name", "c_mktsegment")
    g = sorted(tuple(r) for r in got.collect())
    b = sorted(tuple(r) for r in batch.collect())
    # stateless enrichment: stream output == batch output, every event kept
    assert g == b
    assert len(g) == spark.read.schema(schema).parquet(path).count()
    assert all(r[2] is not None for r in g)  # every user resolved to a customer


def test_dead_letter_quarantine(spark, envelope_dir, tmp_path):
    # poison the stream: invalid JSON, an envelope with no op, a null value
    bad = [
        {"value": "{not json at all", "topic": "cdc.commerce.account", "offset": 100},
        {"value": json.dumps({"payload": {"before": None}}), "topic": "cdc.commerce.account", "offset": 101},
        {"value": None, "topic": "cdc.commerce.account", "offset": 102},
    ]
    with open(f"{envelope_dir}/b3_poison.json", "w") as f:
        f.write("\n".join(json.dumps(r) for r in bad))
    dlq = str(tmp_path / "dlq")
    consumer = CDCConsumer(
        warehouse_dir=str(tmp_path / "wh"),
        checkpoint_dir=str(tmp_path / "ck"),
        dlq_dir=dlq,
    )
    stream = fsrc.envelope_json_stream(spark, envelope_dir)
    q = consumer.start_log_query(stream)
    q.awaitTermination(180)
    # good records all landed (7 from the two clean batches)
    log = spark.read.parquet(str(tmp_path / "wh" / "cdc_log"))
    assert log.count() == 7
    assert log.filter(F.col("op").isNull()).count() == 0
    # all three poison records quarantined with the right reasons
    dlq_df = spark.read.parquet(dlq)
    got = {(r["offset"], r["reason"]) for r in dlq_df.collect()}
    assert got == {(100, "malformed_json"), (101, "missing_op"), (102, "null_value")}


def _ivm_chunks(spark):
    """events split into three time-ordered 'micro-batches'."""
    ev = load_table(spark, SF_DIR, "events")
    cust = load_table(spark, SF_DIR, "customer")
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
    cut1, cut2 = lo + (hi - lo) // 3, lo + 2 * (hi - lo) // 3
    chunks = [
        ev.filter(F.col("ts") <= cut1),
        ev.filter((F.col("ts") > cut1) & (F.col("ts") <= cut2)),
        ev.filter(F.col("ts") > cut2),
    ]
    return ev, cust, chunks


def test_continuous_aggregate_matches_recompute(spark, tmp_path):
    from cdc_poc_spark.streaming.ivm_join import ContinuousAggregate

    ev, cust, chunks = _ivm_chunks(spark)
    agg = ContinuousAggregate(spark, str(tmp_path / "ivm"), cust)
    for i, chunk in enumerate(chunks):
        agg.apply_batch(chunk, epoch_id=i)

    got = {
        (r[0], round(float(r[1]), 2)) for r in agg.totals().collect()
    }
    # naive recompute over the full history (the cdc_incremental_agg oracle)
    w = W.partitionBy("user_id").orderBy(
        F.expr("ts DIV 1000").desc(), F.col("event_id").desc()
    )
    latest = ev.withColumn("rn", F.row_number().over(w)).filter("rn = 1")
    expect_df = (
        latest.join(F.broadcast(cust), latest.user_id == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.sum(
                F.when(F.col("event_type") != "error", F.col("value").cast("decimal(12,2)"))
                .otherwise(F.lit(0).cast("decimal(12,2)"))
            ).alias("total_value")
        )
    )
    expect = {(r[0], round(float(r[1]), 2)) for r in expect_df.collect()}
    assert got == expect

    # replayed epoch is a no-op (exactly-once under availableNow restart)
    agg.apply_batch(chunks[1], epoch_id=1)
    again = {(r[0], round(float(r[1]), 2)) for r in agg.totals().collect()}
    assert again == expect


def test_continuous_aggregate_crash_is_atomic(spark, tmp_path):
    """ADVICE torn-state window: a crash AFTER the state writes but
    BEFORE the commit must leave the previous version fully intact
    (totals unadvanced AND epoch unrecorded), and the retried epoch
    must then land exactly once — no double-count."""
    from cdc_poc_spark.streaming.ivm_join import ContinuousAggregate

    ev, cust, chunks = _ivm_chunks(spark)
    agg = ContinuousAggregate(spark, str(tmp_path / "ivm"), cust)
    agg.apply_batch(chunks[0], epoch_id=0)
    agg.apply_batch(chunks[1], epoch_id=1)
    committed = {(r[0], round(float(r[1]), 2)) for r in agg.totals().collect()}

    real_publish = agg._publish
    def crash(version, epochs):
        raise RuntimeError("simulated crash before pointer swap")
    agg._publish = crash
    with pytest.raises(RuntimeError):
        agg.apply_batch(chunks[2], epoch_id=2)
    # nothing visible changed: totals identical, epoch 2 not recorded
    assert {(r[0], round(float(r[1]), 2)) for r in agg.totals().collect()} == committed
    assert agg.applied(1) and not agg.applied(2)

    # retry (foreachBatch replay) applies epoch 2 exactly once
    agg._publish = real_publish
    agg.apply_batch(chunks[2], epoch_id=2)
    got = {(r[0], round(float(r[1]), 2)) for r in agg.totals().collect()}
    w = W.partitionBy("user_id").orderBy(
        F.expr("ts DIV 1000").desc(), F.col("event_id").desc()
    )
    latest = ev.withColumn("rn", F.row_number().over(w)).filter("rn = 1")
    expect_df = (
        latest.join(F.broadcast(cust), latest.user_id == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.sum(
                F.when(F.col("event_type") != "error", F.col("value").cast("decimal(12,2)"))
                .otherwise(F.lit(0).cast("decimal(12,2)"))
            ).alias("total_value")
        )
    )
    expect = {(r[0], round(float(r[1]), 2)) for r in expect_df.collect()}
    assert got == expect


_T0 = 1_700_000_000_000_000_000  # epoch-nanos, like the events fixture
_S = 1_000_000_000  # one second in nanos


@pytest.mark.parametrize(
    "batches, expect",
    [
        pytest.param(
            # (event_id, ts, user_id, event_type, value) per batch
            [[(1, _T0, 0, "buy", 7.0)], [(3, _T0 + 2 * _S, 0, "error", 0.0)], [(2, _T0 + _S, 0, "buy", 7.0)]],
            0.0,
            id="late_event_after_tombstone",
        ),
        pytest.param(
            [[(1, _T0, 0, "buy", 5.0)], [(2, _T0 + 1, 0, "buy", 15.0)], [(3, _T0 + _S, 0, "buy", 5.0)]],
            5.0,
            id="same_microsecond_update_then_later",
        ),
    ],
)
def test_continuous_aggregate_history_equals_spec(spark, tmp_path, batches, expect):
    """The totals equal the full-history spec (each key's latest event
    by (ts DIV 1000, event_id), a tombstone counting 0) for histories
    whose order is decided across batches: an event older than a
    tombstone must not bring its key back, and an update in the same
    microsecond as the state's row wins by event_id. The last epoch is
    replayed."""
    from cdc_poc_spark.streaming.ivm_join import ContinuousAggregate

    schema = "event_id long, ts long, user_id long, event_type string, value double"
    dim = spark.createDataFrame([(0, "A")], "c_custkey long, c_mktsegment string")
    agg = ContinuousAggregate(spark, str(tmp_path / "ivm"), dim)
    for epoch, rows in enumerate(batches):
        agg.apply_batch(spark.createDataFrame(rows, schema), epoch_id=epoch)
    agg.apply_batch(spark.createDataFrame(batches[-1], schema), epoch_id=len(batches) - 1)
    assert {r[0]: float(r[1]) for r in agg.totals().collect()} == {"A": expect}


@pytest.mark.parametrize("cls", ["ContinuousAggregate", "MaterializedJoin"])
def test_versioned_commit_is_durable_before_pointer_swap(spark, tmp_path, monkeypatch, cls):
    """A version's meta.json must be fsynced BEFORE the CURRENT.tmp
    pointer file (else a crash after the swap can publish a torn
    meta.json), and CURRENT must name that version."""
    import os

    from cdc_poc_spark.streaming.ivm_join import ContinuousAggregate, MaterializedJoin

    state = str(tmp_path / "state")
    if cls == "ContinuousAggregate":
        _, cust, chunks = _ivm_chunks(spark)
        view = ContinuousAggregate(spark, state, cust)
        batch = (chunks[0], 0)
    else:
        view = MaterializedJoin(spark, state, left_id="l_id", join_key="jk", n_buckets=4)
        left = spark.createDataFrame(
            [(1, 10, 100, "u", 0)], "l_id long, jk long, amount long, __op string, __seq long"
        )
        right = spark.createDataFrame([(10, "A", "u", 0)], "jk long, seg string, __op string, __seq long")
        batch = (left, right, 0)

    synced = []
    real_fsync = os.fsync

    def record(fd):
        synced.append(os.readlink(f"/proc/self/fd/{fd}"))
        real_fsync(fd)

    monkeypatch.setattr(os, "fsync", record)
    view.apply_batch(*batch)
    version = view._current_version()
    meta = os.path.realpath(os.path.join(state, f"v{version}", "meta.json"))
    pointer_tmp = os.path.realpath(os.path.join(state, "CURRENT.tmp"))
    assert meta in synced and pointer_tmp in synced, synced
    assert synced.index(meta) < synced.index(pointer_tmp)
    with open(os.path.join(state, "CURRENT")) as f:
        assert f.read() == str(version) == "1"


def test_epoch_commits_only_in_commit_module():
    """Every epoch-partition overwrite, pointer swap and fsync goes
    through streaming/commit.py: no other package file hand-rolls the
    exactly-once commit. No other cdc/, streaming/ or operators/ file
    renames or deletes files either: the swaps of keyed state and the
    expiry of epoch partitions are commit.py's."""
    import os
    import re

    from cdc_poc_spark.streaming import commit

    pkg = os.path.dirname(os.path.dirname(commit.__file__))
    pattern = re.compile(r"partitionOverwriteMode|os\.replace|\bfsync\b")
    swap = re.compile(r"os\.rename|shutil\.rmtree|os\.remove|os\.unlink")
    offenders = []
    for root, _, files in os.walk(pkg):
        for f in files:
            path = os.path.join(root, f)
            if not f.endswith(".py") or path == commit.__file__:
                continue
            rel = os.path.relpath(path, pkg)
            state_code = rel.startswith(tuple(d + os.sep for d in ("cdc", "streaming", "operators")))
            with open(path) as fh:
                offenders += [
                    f"{rel}:{i}"
                    for i, line in enumerate(fh, 1)
                    if pattern.search(line) or (state_code and swap.search(line))
                ]
    assert not offenders, offenders


def test_tws_matches_applyinpandaswithstate(spark, envelope_dir, tmp_path):
    """The transformWithStateInPandas twin must land the exact same
    final per-key state as the applyInPandasWithState implementation —
    two APIs, one CDC state machine."""
    from cdc_poc_spark.cdc import envelope as env
    from cdc_poc_spark.streaming import stateful

    import pytest

    if stateful.stateful_current_state_tws is None:
        pytest.skip("transformWithStateInPandas unavailable on this Spark")
    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError:
        pytest.skip(
            "transformWithState state-server protocol needs google.protobuf, "
            "absent in this container (plumbing is real; see stateful.py)"
        )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )

    raw = fsrc.envelope_json_stream(spark, envelope_dir)
    parsed = env.parse_envelope_raw(raw)
    keyed = (
        parsed.filter(F.col("topic") == "cdc.commerce.account")
        .select(
            F.get_json_object(F.coalesce("after", "before"), "$.user_id")
            .cast("long")
            .alias("pk"),
            "seq",
            "op",
            "after",
        )
    )
    out = stateful.stateful_current_state_tws(keyed)
    (
        out.writeStream.format("memory")
        .queryName("tws_out")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_tws"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination(120)
    )
    rows = spark.sql(
        """SELECT pk, seq, alive, after FROM (
             SELECT *, row_number() OVER (PARTITION BY pk ORDER BY seq DESC) AS rn
             FROM tws_out) WHERE rn = 1"""
    ).collect()
    by_pk = {r.pk: r for r in rows}
    assert set(by_pk) == {1, 2, 3}
    assert by_pk[1].alive is False and by_pk[1].after is None
    assert by_pk[2].alive is True and "bob@example.com" in by_pk[2].after
    assert by_pk[3].alive is True and "carol2@example.com" in by_pk[3].after
    assert by_pk[3].seq == 4


def test_observe_metrics_collected_per_batch(spark, envelope_dir, tmp_path):
    """observe() metrics must ride the streaming plan (no extra scan)
    and surface per micro-batch through a StreamingQueryListener: op
    mix, DLQ count, and the max-seq high-water mark across all batches
    must equal the fixture's totals."""
    from cdc_poc_spark.cdc import envelope as env
    from cdc_poc_spark.streaming import observe as obs

    listener = obs.CollectingListener()
    spark.streams.addListener(listener)
    try:
        raw = fsrc.envelope_json_stream(spark, envelope_dir)
        parsed = env.parse_envelope_raw(raw)
        observed = obs.observe_cdc_metrics(parsed)
        (
            observed.writeStream.format("noop")
            .option("checkpointLocation", str(tmp_path / "ckpt_obs"))
            .trigger(availableNow=True)
            .start()
            .awaitTermination(120)
        )
        # listener bus is async: wait for the progress events to drain
        import time as _t

        for _ in range(50):
            if listener.metric_totals("cdc_metrics").get("n_rows") == 7:
                break
            _t.sleep(0.2)
        totals = listener.metric_totals("cdc_metrics")
        assert totals["n_rows"] == 7
        assert totals["n_inserts"] == 5  # 3 r + 2 c
        assert totals["n_updates"] == 1
        assert totals["n_deletes"] == 1
        assert totals["n_dead_letters"] == 0
        assert totals["max_seq"] == 6
    finally:
        spark.streams.removeListener(listener)


def test_observe_batch_returns_metrics_with_output(spark):
    """Batch Observation: metrics come from the SAME job that produced
    the output — no second scan."""
    from cdc_poc_spark.streaming.observe import observe_batch

    li = load_table(spark, SF_DIR, "lineitem")
    n, metrics = observe_batch(
        li.filter(F.col("l_quantity") > 10),
        "probe",
        F.count(F.lit(1)).alias("n"),
        F.sum("l_quantity").alias("qty"),
    )
    assert n == metrics["n"] > 0
    assert metrics["qty"] > 0


def test_stateful_sessionize_matches_batch(spark, tmp_path):
    """applyInPandasWithState sessionizer == the batch gaps-and-islands
    query (tw_sessionize_ids), including ACROSS micro-batches: events
    are split at a global time cut into two files consumed one per
    trigger, so sessions spanning the cut must survive in state and
    re-emit with the same session_id."""
    from cdc_poc_spark.queries import all_specs
    from cdc_poc_spark.streaming import stateful
    from cdc_poc_spark.tables import events_with_time

    ev = events_with_time(spark, SF_DIR).select("user_id", "ts_us")
    cut = ev.approxQuantile("ts_us", [0.5], 0.0)[0]
    d = tmp_path / "sessions_stream"
    ev.filter(F.col("ts_us") <= cut).coalesce(1).write.parquet(str(d / "00"))
    ev.filter(F.col("ts_us") > cut).coalesce(1).write.parquet(str(d / "01"))
    import glob
    import shutil

    data = d / "data"
    data.mkdir()
    for i, part in enumerate(["00", "01"]):
        src = glob.glob(str(d / part / "part-*.parquet"))[0]
        shutil.copy(src, str(data / f"{i:02d}.parquet"))

    stream = (
        spark.readStream.schema("user_id long, ts_us long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(data))
    )
    out = stateful.stateful_sessionize(stream)
    (
        out.writeStream.format("memory")
        .queryName("sessionize_out")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_sess"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination(180)
    )
    got = {
        (r.user_id, r.session_id): (r.n_events, r.start_us, r.end_us)
        for r in spark.sql(
            """SELECT user_id, session_id, n_events, start_us, end_us FROM (
                 SELECT *, row_number() OVER (
                   PARTITION BY user_id, session_id ORDER BY n_events DESC) AS rn
                 FROM sessionize_out) WHERE rn = 1"""
        ).collect()
    }
    batch = {
        (r.user_id, r.session_id): (r.n_events, r.start_us, r.end_us)
        for r in all_specs()["tw_sessionize_ids"].fn(spark, SF_DIR).collect()
    }
    assert got == batch


class _FakeGroupState:
    """Minimal stand-in for pyspark GroupState — lets the timeout
    branches of the stateful group functions be unit-tested without
    driving wall-clock processing-time timeouts through a real stream."""

    def __init__(self, value=None, timed_out=False):
        self._value = value
        self.hasTimedOut = timed_out
        self.removed = False
        self.timeout_set_ms = None

    @property
    def exists(self):
        return self._value is not None

    @property
    def get(self):
        return self._value

    def update(self, v):
        self._value = v

    def remove(self):
        self._value, self.removed = None, True

    def setTimeoutDuration(self, ms):
        self.timeout_set_ms = ms


def test_sessionize_timeout_branch_drops_state():
    """ADVICE r3: a configured timeout must actually fire — the
    timed-out invocation removes the key's state and emits nothing, and
    every normal invocation re-arms the timeout duration."""
    import pandas as pd

    from cdc_poc_spark.streaming.stateful import _sessionize_group

    # timed-out call: state dropped, nothing emitted
    st = _FakeGroupState(value=(3, 100, 200, 5), timed_out=True)
    out = list(_sessionize_group((1,), iter([]), st, timeout_ms=60000))
    assert out == [] and st.removed and not st.exists

    # normal call with timeout configured: emits and re-arms the clock
    st2 = _FakeGroupState()
    pdf = pd.DataFrame({"ts_us": [10, 20]})
    out2 = list(_sessionize_group((1,), iter([pdf]), st2, timeout_ms=60000))
    assert len(out2) == 1 and st2.timeout_set_ms == 60000
    assert st2.get == (1, 10, 20, 2)

    # no timeout configured: setTimeoutDuration must NOT be called
    # (raises under NoTimeout in the real GroupState)
    st3 = _FakeGroupState()
    list(_sessionize_group((1,), iter([pdf]), st3, timeout_ms=None))
    assert st3.timeout_set_ms is None


def test_current_state_timeout_branch_drops_state():
    import pandas as pd

    from cdc_poc_spark.streaming.stateful import _apply_group

    st = _FakeGroupState(value=(7, True, "{}"), timed_out=True)
    out = list(_apply_group((1,), iter([]), st, timeout_ms=1000))
    assert out == [] and st.removed

    st2 = _FakeGroupState()
    pdf = pd.DataFrame({"seq": [1], "op": ["c"], "after": ["{\"a\":1}"]})
    out2 = list(_apply_group((1,), iter([pdf]), st2, timeout_ms=1000))
    assert len(out2) == 1 and st2.timeout_set_ms == 1000


def test_validated_timeout_ms_rejects_event_time():
    import pytest as _pytest

    from pyspark.sql.streaming.state import GroupStateTimeout

    from cdc_poc_spark.streaming.stateful import _validated_timeout_ms

    assert _validated_timeout_ms(GroupStateTimeout.NoTimeout, 5) is None
    assert _validated_timeout_ms(GroupStateTimeout.ProcessingTimeTimeout, 5) == 5
    with _pytest.raises(NotImplementedError):
        _validated_timeout_ms(GroupStateTimeout.EventTimeTimeout, 5)
    with _pytest.raises(ValueError):
        _validated_timeout_ms(GroupStateTimeout.ProcessingTimeTimeout, 0)


def test_streaming_neardup_matches_batch_lsh(spark, tmp_path):
    """Streaming MinHash-LSH near-dup hits == the batch pipeline's pairs
    when arrival order follows doc_id: every batch pair (a, b) must
    surface as doc b flagged with dup_of a — including pairs that SPAN
    the micro-batch cut (doc a accepted in batch 1, near-dup b arriving
    in batch 2), which is the whole point of keeping bucket state."""
    import glob
    import shutil

    from pyspark.sql import functions as F

    from cdc_poc_spark.operators import dedup
    from cdc_poc_spark.streaming import neardup
    from cdc_poc_spark.tables import load_table

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    cut = docs.approxQuantile("doc_id", [0.5], 0.0)[0]
    d = tmp_path / "neardup_stream"
    docs.filter(F.col("doc_id") <= cut).coalesce(1).write.parquet(str(d / "00"))
    docs.filter(F.col("doc_id") > cut).coalesce(1).write.parquet(str(d / "01"))
    data = d / "data"
    data.mkdir()
    for i, part in enumerate(["00", "01"]):
        src = glob.glob(str(d / part / "part-*.parquet"))[0]
        shutil.copy(src, str(data / f"{i:02d}.parquet"))

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(data))
    )
    hits = neardup.streaming_neardup_hits(stream, threshold=0.5)
    (
        hits.writeStream.format("memory")
        .queryName("neardup_hits")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_neardup"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination(180)
    )
    got = {
        (r.dup_of, r.doc_id, round(r.jaccard, 9))
        for r in spark.sql("SELECT * FROM neardup_hits").collect()
    }
    want = {
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in dedup.minhash_lsh_dedup_pairs(docs, threshold=0.5).collect()
    }
    assert got == want and want, f"{len(got)} streaming vs {len(want)} batch"
    # at least one pair must span the batch cut (state did its job)
    assert any(a <= cut < b for a, b, _ in got)


@pytest.mark.slow
def test_ingest_vs_index_streams_and_grows(spark, tmp_path):
    """The foreachBatch ingest loop against a persisted Jaccard index:
    batch 1 (slice B) is flagged vs the built index (slice A) and its
    clean docs appended; batch 2 (slice C) must then be flagged vs
    A ∪ clean(B) — asserted equal to the inline R-S joins computed
    batch-style. A replayed completed batch is a ledger no-op."""
    import glob
    import shutil

    from pyspark.sql import functions as F

    from cdc_poc_spark.operators import dedup
    from cdc_poc_spark.streaming import neardup
    from cdc_poc_spark.tables import load_table

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    part = F.pmod(F.col("doc_id"), F.lit(3))
    a = docs.filter(part == 1)
    b = docs.filter(part == 2)
    c = docs.filter(part == 0)
    dedup.build_jaccard_index(a, "jidx_stream", threshold=0.5)
    d = tmp_path / "ingest_stream"
    b.coalesce(1).write.parquet(str(d / "b"))
    c.coalesce(1).write.parquet(str(d / "c"))
    data = d / "data"
    data.mkdir()
    for i, part_dir in enumerate(["b", "c"]):  # lexical order = arrival order
        src = glob.glob(str(d / part_dir / "part-*.parquet"))[0]
        shutil.copy(src, str(data / f"{i:02d}.parquet"))
    try:
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(data))
        )
        hits_dir = str(tmp_path / "hits")
        writer = neardup.ingest_vs_index(
            stream, "jidx_stream", hits_dir, str(tmp_path / "ckpt_ingest")
        )
        writer.start().awaitTermination(180)
        got = {
            (r.new_id, r.index_id, round(r.jaccard, 9), r.epoch)
            for r in spark.read.parquet(hits_dir).collect()
        }
        def within(slice_df, epoch):
            return {
                (r.id_b, r.id_a, round(r.jaccard, 9), epoch)
                for r in dedup.exact_jaccard_pairs(
                    slice_df, threshold=0.5
                ).collect()
            }

        want_b = {
            (r.new_id, r.index_id, round(r.jaccard, 9), 0)
            for r in dedup.exact_jaccard_pairs_incremental(
                b, a, threshold=0.5
            ).collect()
        } | within(b, 0)
        flagged_b = {x[0] for x in want_b}
        clean_b = b.filter(~F.col("doc_id").isin(list(flagged_b) or [-1]))
        want_c = {
            (r.new_id, r.index_id, round(r.jaccard, 9), 1)
            for r in dedup.exact_jaccard_pairs_incremental(
                c, a.unionByName(clean_b), threshold=0.5
            ).collect()
        } | within(c, 1)
        assert got == want_b | want_c, (
            f"{len(got)} streamed vs {len(want_b)}+{len(want_c)} inline"
        )
        assert want_b and want_c  # both epochs must exercise the join
        # replaying a completed batch is a no-op (ledger guard)
        n_hsets = spark.table("jidx_stream_hsets").count()
        writer2 = neardup.ingest_vs_index(
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(data)),
            "jidx_stream",
            hits_dir,
            str(tmp_path / "ckpt_ingest"),  # same checkpoint: no new data
        )
        writer2.start().awaitTermination(180)
        assert spark.table("jidx_stream_hsets").count() == n_hsets
        assert {
            (r.new_id, r.index_id, round(r.jaccard, 9), r.epoch)
            for r in spark.read.parquet(hits_dir).collect()
        } == got
    finally:
        for t_name in (
            "jidx_stream_hsets",
            "jidx_stream_prefix",
            "jidx_stream_commons",
            "jidx_stream_meta",
            "jidx_stream_applied",
        ):
            spark.sql(f"DROP TABLE IF EXISTS {t_name}")


@pytest.mark.slow
def test_event_time_sessionize_closes_on_watermark(spark, tmp_path):
    """EVENT-TIME sessionization (stateful_sessionize_event_time —
    VERDICT r4 #5): out-of-order events WITHIN the watermark delay are
    sessionized exactly (buffered + sorted at finalization, matching
    the batch gaps-and-islands rule), events at/below the watermark are
    dropped, and sessions are emitted (append mode, exactly once) only
    after the watermark passes last_event + gap. A sentinel key's
    far-future event advances the watermark so every earlier key's
    timer fires before the availableNow run drains."""
    from cdc_poc_spark.streaming import stateful

    S = 1_000_000  # seconds -> micros

    def ts(sec):
        import datetime

        return datetime.datetime.fromtimestamp(sec, datetime.timezone.utc)

    # gap = 1800 s, delay = 600 s. Files consumed one per trigger.
    files = [
        [(1, ts(1000)), (1, ts(1200)), (2, ts(1100))],   # wm after: 600 s
        [(1, ts(1150)), (2, ts(1250))],                  # in-order violation, inside delay
        [(1, ts(100)), (1, ts(5000)), (2, ts(5100))],    # 100 s is below wm 650 -> dropped
        [(99, ts(20000))],                               # sentinel: wm -> 19400 s, fires timers
    ]
    data = tmp_path / "et_sessions"
    data.mkdir()
    for i, rows in enumerate(files):
        spark.createDataFrame(rows, "user_id long, ts timestamp").coalesce(
            1
        ).write.parquet(str(data / f"tmp_{i:02d}"))
    import glob
    import shutil

    feed = tmp_path / "et_feed"
    feed.mkdir()
    import os as _os
    import time as _time

    base = _time.time()
    for i in range(len(files)):
        src = glob.glob(str(data / f"tmp_{i:02d}" / "part-*.parquet"))[0]
        dst = str(feed / f"{i:02d}.parquet")
        shutil.copy(src, dst)
        # FileStreamSource orders by modification time; back-to-back
        # copies land in the same mtime tick, so pin strictly
        # increasing mtimes to make per-trigger file order the list
        # order (the standalone repro worked only because interleaved
        # write+copy spaced the mtimes naturally).
        _os.utime(dst, (base + i, base + i))

    stream = (
        spark.readStream.schema("user_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(feed))
    )
    out = stateful.stateful_sessionize_event_time(
        stream, ts_col="ts", delay="600 seconds", gap_us=1800 * S
    )
    q = (
        out.writeStream.format("memory")
        .queryName("et_sessionize_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_et_sess"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    rows = spark.sql("SELECT * FROM et_sessionize_out").collect()
    got = {
        (r.user_id, r.session_id): (r.n_events, r.start_us, r.end_us)
        for r in rows
    }
    assert len(rows) == len(got), "append mode must emit each session once"
    assert got == {
        # u1: [1000, 1150, 1200] | [5000]  (100 dropped as too late)
        (1, 1): (3, 1000 * S, 1200 * S),
        (1, 2): (1, 5000 * S, 5000 * S),
        # u2: [1100, 1250] | [5100]
        (2, 1): (2, 1100 * S, 1250 * S),
        (2, 2): (1, 5100 * S, 5100 * S),
        # sentinel u99: never times out -> never emitted
    }


def test_event_time_sessionize_matches_batch_twin(spark, tmp_path):
    """On the real events fixture, the event-time sessionizer's CLOSED
    sessions equal the batch gaps-and-islands query (tw_sessionize_ids)
    exactly: the stream is fed in two ts-ordered halves plus a sentinel
    event far enough ahead (max_ts + gap + delay) that the watermark
    closes every real session before the availableNow run drains."""
    import glob
    import os as _os
    import time as _time

    from cdc_poc_spark.queries import all_specs
    from cdc_poc_spark.streaming import stateful
    from cdc_poc_spark.tables import events_with_time

    ev = ts_ev = events_with_time(spark, SF_DIR).select(
        "user_id", F.timestamp_micros(F.col("ts_us")).alias("ts")
    )
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).collect()[0]
    cut = lo + (hi - lo) / 2
    sentinel_ts = hi + __import__("datetime").timedelta(seconds=1800 + 600 + 10)
    parts = [
        ev.filter(F.col("ts") <= F.lit(cut)),
        ev.filter(F.col("ts") > F.lit(cut)),
        spark.createDataFrame([(-1, sentinel_ts)], "user_id long, ts timestamp"),
    ]
    feed = tmp_path / "et_twin_feed"
    feed.mkdir()
    base = _time.time()
    for i, part in enumerate(parts):
        d = tmp_path / f"et_twin_{i}"
        part.coalesce(1).write.parquet(str(d))
        src = glob.glob(str(d / "part-*.parquet"))[0]
        dst = str(feed / f"{i:02d}.parquet")
        shutil.copy(src, dst)
        _os.utime(dst, (base + i, base + i))  # pin per-trigger order

    stream = (
        spark.readStream.schema("user_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(feed))
    )
    out = stateful.stateful_sessionize_event_time(
        stream, ts_col="ts", delay="600 seconds"
    )
    (
        out.writeStream.format("memory")
        .queryName("et_twin_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_et_twin"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination(300)
    )
    got = {
        (r.user_id, r.session_id): (r.n_events, r.start_us, r.end_us)
        for r in spark.sql(
            "SELECT * FROM et_twin_out WHERE user_id >= 0"
        ).collect()
    }
    batch = {
        (r.user_id, r.session_id): (r.n_events, r.start_us, r.end_us)
        for r in all_specs()["tw_sessionize_ids"].fn(spark, SF_DIR).collect()
    }
    assert got == batch


def test_m4_downsample_runs_streaming(spark, event_stream_dir):
    """The M4 aggregation (min/max/min_by/max_by per pixel bucket) must
    run as a streaming update-mode aggregate — the same groupBy the
    batch query tw_m4_downsample uses — and its final per-key rows must
    equal the batch result (update mode re-emits; last row per key
    wins; with availableNow the final emission has seen every event)."""
    path, schema = event_stream_dir
    from cdc_poc_spark.queries.timewindows import _M4_US

    def m4(df):
        ev = df.withColumn("ts_us", F.expr("ts DIV 1000"))
        key = F.struct(F.col("ts_us"), F.col("event_id"))
        return (
            ev.withColumn(
                "bucket_us", (F.col("ts_us") - F.pmod("ts_us", F.lit(_M4_US)))
            )
            .groupBy("event_type", "bucket_us")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.min("value").alias("v_min"),
                F.max("value").alias("v_max"),
                F.min_by("value", key).alias("v_first"),
                F.max_by("value", key).alias("v_last"),
            )
        )

    stream = fsrc.parquet_stream(spark, path, schema)
    got_df = _run_to_memory(spark, m4(stream), "m4_stream_out", "update")
    # last emission per key = the complete aggregate
    got = {
        (r.event_type, r.bucket_us): (r.n_events, r.v_min, r.v_max, r.v_first, r.v_last)
        for r in spark.sql(
            """SELECT * FROM (
                 SELECT *, row_number() OVER (
                   PARTITION BY event_type, bucket_us ORDER BY n_events DESC) rn
                 FROM m4_stream_out) WHERE rn = 1"""
        ).collect()
    }
    batch = {
        (r.event_type, r.bucket_us): (r.n_events, r.v_min, r.v_max, r.v_first, r.v_last)
        for r in m4(spark.read.schema(schema).parquet(path)).collect()
    }
    assert got == batch


def test_streaming_anomaly_zscore_matches_batch(spark, event_stream_dir, tmp_path):
    """The incrementally-maintained hourly bucket counts, drained over
    the whole fixture with availableNow, must derive EXACTLY the batch
    tw_anomaly_zscore flags (same z-scores, same buckets): the IVM
    shape gives full-history semantics with per-epoch incremental cost
    — no append-mode watermark withholding to excuse."""
    from cdc_poc_spark.queries import all_specs

    path, schema = event_stream_dir
    stream = fsrc.parquet_stream(spark, path, schema)
    inc_dir = str(tmp_path / "inc")
    q = swin.streaming_anomaly_zscore(stream, inc_dir, str(tmp_path / "ckpt"))
    q.awaitTermination(180)
    got = {
        tuple(r)
        for r in swin.derive_bucket_anomalies(spark, inc_dir)
        .select("event_type", "bucket_us", "n_events", "zscore")
        .collect()
    }
    want = {
        tuple(r)
        for r in all_specs()["tw_anomaly_zscore"]
        .fn(spark, SF_DIR)
        .select("event_type", "bucket_us", "n_events", "zscore")
        .collect()
    }
    assert got == want and got


def test_streaming_anomaly_replay_is_idempotent(spark, event_stream_dir, tmp_path):
    """Replaying an epoch (the foreachBatch crash-recovery case) must
    leave the maintained bucket counts — and the derived flags —
    unchanged: the epoch-partitioned dynamic overwrite rewrites its own
    partition instead of appending duplicates."""
    from cdc_poc_spark.tables import load_table

    path, schema = event_stream_dir
    stream = fsrc.parquet_stream(spark, path, schema)
    inc_dir = str(tmp_path / "inc")
    q = swin.streaming_anomaly_zscore(stream, inc_dir, str(tmp_path / "ckpt"))
    q.awaitTermination(180)
    before = sorted(
        tuple(r)
        for r in swin.derive_bucket_anomalies(spark, inc_dir).collect()
    )
    # availableNow landed the whole fixture as ONE epoch (assert it — the
    # replay below re-lands the full batch under that epoch id)
    import os

    epochs = [d for d in os.listdir(inc_dir) if d.startswith("__epoch=")]
    assert epochs == ["__epoch=0"], epochs
    # simulate the foreachBatch replay of epoch 0: land the same
    # increments under the same epoch id again
    batch = load_table(spark, SF_DIR, "events")
    from pyspark.sql import functions as F

    inc = (
        batch.withColumn("ts_us", F.expr("ts DIV 1000"))
        .withColumn(
            "bucket_us", (F.col("ts_us") - F.pmod("ts_us", F.lit(3600 * 1_000_000)))
        )
        .groupBy("event_type", "bucket_us")
        .agg(F.count(F.lit(1)).alias("n_inc"))
        .withColumn("__epoch", F.lit(0))
    )
    (
        inc.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("__epoch")
        .parquet(inc_dir)
    )
    after = sorted(
        tuple(r)
        for r in swin.derive_bucket_anomalies(spark, inc_dir).collect()
    )
    assert after == before and before


def test_streaming_watermark_recommendation_matches_batch(spark, tmp_path):
    """The incrementally-maintained lateness histogram, drained with
    availableNow, must derive EXACTLY the batch
    cdc_watermark_recommendation rows — in BOTH epoch shapes: (a) one
    epoch holding every arrival bucket (the within-batch running-hwm
    path) and (b) one file per arrival bucket with maxFilesPerTrigger=1
    (the cross-epoch prior-hwm state path)."""
    from cdc_poc_spark.operators.temporal import JITTER_SPARK, WM_BATCH
    from cdc_poc_spark.queries import all_specs
    from cdc_poc_spark.tables import load_table

    src = load_table(spark, SF_DIR, "events")
    schema = src.schema
    want = sorted(
        tuple(r)
        for r in all_specs()["cdc_watermark_recommendation"]
        .fn(spark, SF_DIR)
        .collect()
    )

    # (a) single epoch, all buckets together
    d_all = tmp_path / "all"
    src.coalesce(1).write.parquet(str(d_all / "data"))
    stream = spark.readStream.schema(schema).parquet(str(d_all / "data"))
    q = swin.streaming_watermark_recommendation(
        stream, str(d_all / "state"), str(d_all / "ckpt")
    )
    q.awaitTermination(180)
    got_a = sorted(
        tuple(r)
        for r in swin.derive_watermark_recommendation(
            spark, str(d_all / "state")
        ).collect()
    )
    assert got_a == want and want

    # (b) one file per arrival bucket, processed in arrival order
    import os
    import time as _time

    from pyspark.sql import functions as F

    d_split = tmp_path / "split"
    data_dir = d_split / "data"
    data_dir.mkdir(parents=True)
    bkts = sorted(
        r.bkt
        for r in src.select(
            F.expr(f"({JITTER_SPARK}) DIV {WM_BATCH}").alias("bkt")
        )
        .distinct()
        .collect()
    )
    assert len(bkts) >= 2, "fixture must span multiple arrival buckets"
    import glob
    import shutil

    for i, b in enumerate(bkts):
        part = src.filter(F.expr(f"({JITTER_SPARK}) DIV {WM_BATCH}") == b)
        tmp_out = str(tmp_path / f"tmp_b{i}")
        part.coalesce(1).write.parquet(tmp_out)
        (pf,) = glob.glob(os.path.join(tmp_out, "part-*.parquet"))
        dest = str(data_dir / f"b{i:03d}.parquet")
        shutil.move(pf, dest)
        # file source orders by modification time: pin arrival order
        os.utime(dest, (1_700_000_000 + i, 1_700_000_000 + i))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(data_dir))
    )
    q = swin.streaming_watermark_recommendation(
        stream, str(d_split / "state"), str(d_split / "ckpt")
    )
    q.awaitTermination(180)
    state = str(d_split / "state")
    epochs = {
        d for d in os.listdir(os.path.join(state, "hist")) if d.startswith("__epoch=")
    }
    assert len(epochs) >= 2, f"expected multi-epoch drain, got {epochs}"
    got_b = sorted(
        tuple(r)
        for r in swin.derive_watermark_recommendation(spark, state).collect()
    )
    assert got_b == want

    # replay idempotence: re-land the LAST epoch's increments (the
    # foreachBatch crash-recovery case) and re-derive — unchanged
    last_epoch = max(int(d.split("=")[1]) for d in epochs)
    batch = src.filter(
        F.expr(f"({JITTER_SPARK}) DIV {WM_BATCH}") == bkts[-1]
    )

    # simulate the foreachBatch replay of the last epoch: re-land the
    # increments computed the same way the handler does (prior = max
    # bmax of EARLIER epochs only) under the same epoch id
    prior = (
        spark.read.parquet(os.path.join(state, "bm"))
        .filter(F.col("__epoch") < last_epoch)
        .agg(F.max("bmax"))
        .collect()[0][0]
    )
    e = batch.select(
        "event_type",
        "event_id",
        F.expr("ts DIV 1000").alias("ts_us"),
        F.expr(f"({JITTER_SPARK}) DIV {WM_BATCH}").alias("bkt"),
    )
    from pyspark.sql import Window as W

    from cdc_poc_spark.operators.temporal import lateness_histogram

    bm = e.groupBy("bkt").agg(F.max("ts_us").alias("bmax"))
    wprev = W.orderBy("bkt").rowsBetween(W.unboundedPreceding, -1)
    hwm = bm.select(
        "bkt",
        F.greatest(F.lit(prior).cast("long"), F.max("bmax").over(wprev)).alias(
            "hwm_prev"
        ),
    )
    inc = lateness_histogram(e, hwm).withColumnRenamed("c", "n_inc")
    (
        inc.withColumn("__epoch", F.lit(last_epoch))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("__epoch")
        .parquet(os.path.join(state, "hist"))
    )
    got_replay = sorted(
        tuple(r)
        for r in swin.derive_watermark_recommendation(spark, state).collect()
    )
    assert got_replay == got_b


def test_streaming_bucket_derivations_match_batch(spark, event_stream_dir, tmp_path):
    """ONE incrementally-maintained bucket-count aggregate, THREE
    derived analytics: after an availableNow drain, the EWMA and CUSUM
    derivations over the maintained counts must equal their batch
    queries row-for-row (the z-score equality is its own test) — the
    IVM design's whole point: derivations share the batch code, so the
    streaming path can never drift."""
    from cdc_poc_spark.queries import all_specs

    path, schema = event_stream_dir
    stream = fsrc.parquet_stream(spark, path, schema)
    inc_dir = str(tmp_path / "inc")
    q = swin.streaming_anomaly_zscore(stream, inc_dir, str(tmp_path / "ckpt"))
    q.awaitTermination(180)
    specs = all_specs()
    for derive, batch_name in (
        (swin.derive_bucket_ewma, "tw_ewma_trailing"),
        (swin.derive_bucket_cusum, "tw_cusum_changepoint"),
    ):
        got = sorted(tuple(r) for r in derive(spark, inc_dir).collect())
        want = sorted(
            tuple(r) for r in specs[batch_name].fn(spark, SF_DIR).collect()
        )
        assert got == want and got, batch_name


def _pit_keyed_batch(spark):
    """The batch-side keyed relation the PIT twin consumes: purchase
    state changes (kind 0) + click facts (kind 1), mirroring
    queries/cdc_queries.py:cdc_point_in_time_join's inputs."""
    from cdc_poc_spark.tables import VAL, dec, events_with_time

    ev = events_with_time(spark, SF_DIR)
    cents = F.round(dec("value", VAL) * 100).cast("long")
    dim = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts_us",
        F.lit(0).alias("kind"),
        "event_id",
        cents.alias("cents"),
    )
    facts = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts_us",
        F.lit(1).alias("kind"),
        "event_id",
        F.lit(None).cast("long").alias("cents"),
    )
    return dim.unionByName(facts)


def test_streaming_point_in_time_matches_batch(spark, tmp_path):
    """The streaming PIT enricher, drained with availableNow, must
    emit EXACTLY the batch cdc_point_in_time_join rows — in both epoch
    shapes: (a) the whole keyed relation in one file (within-batch
    event-time sort path) and (b) four time-ordered files with
    maxFilesPerTrigger=1 (the carried-state-across-epochs path)."""
    from cdc_poc_spark.queries import all_specs
    from cdc_poc_spark.streaming.stateful import streaming_point_in_time_enrich

    want = sorted(
        (r["user_id"], r["click_event_id"], r["ts_us"], r["state_event_id"],
         r["state_cents"], r["staleness_us"])
        for r in all_specs()["cdc_point_in_time_join"].fn(spark, SF_DIR).collect()
    )
    assert want  # non-degenerate fixture

    keyed = _pit_keyed_batch(spark)
    schema = keyed.schema

    def drain(src_dir, name, **read_opts):
        reader = spark.readStream.schema(schema)
        for k, v in read_opts.items():
            reader = reader.option(k, v)
        stream = reader.parquet(src_dir)
        q = (
            streaming_point_in_time_enrich(stream)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / (name + "_ckpt")))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        return sorted(
            tuple(r)
            for r in spark.sql(f"SELECT * FROM {name}").collect()
        )

    # (a) one epoch holding everything
    d_all = tmp_path / "all"
    keyed.coalesce(1).write.parquet(str(d_all))
    assert drain(str(d_all), "pit_one_epoch") == want

    # (b) four time-ordered files, one micro-batch each (state carried
    # across epochs). Files must be fed in time order: name them by
    # time-quartile and rely on maxFilesPerTrigger=1 + sorted listing.
    import time as _time

    d_split = tmp_path / "split"
    d_split.mkdir()
    qs = keyed.approxQuantile("ts_us", [0.25, 0.5, 0.75], 0.0)
    bounds = [float("-inf"), *qs, float("inf")]
    for i in range(4):
        part = keyed.filter(
            (F.col("ts_us") > F.lit(bounds[i]))
            & (F.col("ts_us") <= F.lit(bounds[i + 1]))
        )
        pdir = tmp_path / f"part{i}"
        part.coalesce(1).write.parquet(str(pdir))
        src = next(p for p in pdir.iterdir() if p.suffix == ".parquet")
        src.rename(d_split / f"epoch_{i}.parquet")
        _time.sleep(0.05)  # distinct mtimes: listing order == time order
    got = drain(str(d_split), "pit_epochs", maxFilesPerTrigger="1")
    assert got == want


def test_streaming_sequence_gap_detect_known_gaps(spark, tmp_path):
    """Synthetic known-gap stream: per-key id sequences with planted
    holes, split across two micro-batches INCLUDING a gap that spans
    the epoch boundary; the operator must emit exactly the planted
    gaps, once each, and ignore a replayed stale id."""
    from cdc_poc_spark.streaming.stateful import streaming_sequence_gap_detect

    epoch1 = [(1, 1), (1, 2), (1, 5), (2, 10), (2, 11), (3, 7)]
    #            gap 2->5 (2 missing)            ;  user 3 starts at 7
    epoch2 = [(1, 6), (1, 9), (2, 14), (2, 11), (3, 8)]
    #          gap 6->9        gap 11->14 SPANS epochs; (2,11) replay no-op
    expected = sorted(
        [(1, 2, 5, 2), (1, 6, 9, 2), (2, 11, 14, 2)]
    )
    src = tmp_path / "src"
    src.mkdir()
    cols = ["user_id", "event_id"]
    for i, rows in enumerate((epoch1, epoch2)):
        pdir = tmp_path / f"e{i}"
        spark.createDataFrame(rows, cols).coalesce(1).write.parquet(str(pdir))
        f = next(p for p in pdir.iterdir() if p.suffix == ".parquet")
        f.rename(src / f"epoch_{i}.parquet")
    schema = spark.createDataFrame([(1, 1)], cols).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    q = (
        streaming_sequence_gap_detect(stream)
        .writeStream.format("memory")
        .queryName("gaps")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r.user_id, r.gap_after, r.resume_at, r.n_missing)
        for r in spark.sql("SELECT * FROM gaps").collect()
    )
    assert got == expected


def test_streaming_out_of_order_profile_matches_batch(spark, tmp_path):
    """The incrementally-maintained out-of-order counters, drained with
    availableNow, must derive EXACTLY the batch cdc_out_of_order_profile
    rows — in BOTH epoch shapes: (a) one epoch holding the whole arrival
    sequence (within-batch lag path) and (b) one file per arrival bucket
    with maxFilesPerTrigger=1 (the cross-epoch per-user last-arrival
    state path) — plus replay idempotence of the last epoch."""
    import glob
    import os

    from cdc_poc_spark.operators.temporal import JITTER_SPARK, WM_BATCH
    from cdc_poc_spark.queries import all_specs
    from cdc_poc_spark.queries.profiling import _JITTER_SPARK as BATCH_JITTER

    # the twin shares the batch query's arrival key VERBATIM
    assert JITTER_SPARK == BATCH_JITTER

    src = load_table(spark, SF_DIR, "events")
    schema = src.schema
    want = sorted(
        tuple(r)
        for r in all_specs()["cdc_out_of_order_profile"].fn(spark, SF_DIR).collect()
    )
    assert want and any(r[2] > 0 for r in want), (
        "fixture must contain out-of-order events to be discriminating"
    )

    # (a) single epoch
    d_all = tmp_path / "all"
    src.coalesce(1).write.parquet(str(d_all / "data"))
    stream = spark.readStream.schema(schema).parquet(str(d_all / "data"))
    q = swin.streaming_out_of_order_profile(
        stream, str(d_all / "state"), str(d_all / "ckpt")
    )
    q.awaitTermination(180)
    got_a = sorted(
        tuple(r)
        for r in swin.derive_out_of_order_profile(
            spark, str(d_all / "state")
        ).collect()
    )
    assert got_a == want

    # (b) one file per arrival bucket, processed in arrival order
    d_split = tmp_path / "split"
    data_dir = d_split / "data"
    data_dir.mkdir(parents=True)
    bkts = sorted(
        r.bkt
        for r in src.select(
            F.expr(f"({JITTER_SPARK}) DIV {WM_BATCH}").alias("bkt")
        )
        .distinct()
        .collect()
    )
    assert len(bkts) >= 2
    for i, b in enumerate(bkts):
        part = src.filter(F.expr(f"({JITTER_SPARK}) DIV {WM_BATCH}") == b)
        tmp_out = str(tmp_path / f"ooo_tmp_b{i}")
        part.coalesce(1).write.parquet(tmp_out)
        (pf,) = glob.glob(os.path.join(tmp_out, "part-*.parquet"))
        dest = str(data_dir / f"b{i:03d}.parquet")
        shutil.move(pf, dest)
        os.utime(dest, (1_700_000_000 + i, 1_700_000_000 + i))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(data_dir))
    )
    state = str(d_split / "state")
    q = swin.streaming_out_of_order_profile(stream, state, str(d_split / "ckpt"))
    q.awaitTermination(180)
    epochs = {
        d for d in os.listdir(os.path.join(state, "inc")) if d.startswith("__epoch=")
    }
    assert len(epochs) >= 2, f"expected multi-epoch drain, got {epochs}"
    got_b = sorted(
        tuple(r)
        for r in swin.derive_out_of_order_profile(spark, state).collect()
    )
    assert got_b == want

    # replay idempotence: recompute and re-land the LAST epoch's
    # increments exactly as the handler's crash-recovery would (prior
    # state = earlier epochs only) and re-derive — unchanged
    last_epoch = max(int(d.split("=")[1]) for d in epochs)
    batch = src.filter(F.expr(f"({JITTER_SPARK}) DIV {WM_BATCH}") == bkts[-1])
    e = batch.select(
        "event_type",
        "user_id",
        "event_id",
        F.expr("ts DIV 1000").alias("ts_us"),
        F.expr(f"({JITTER_SPARK})").alias("arr"),
    )
    prior = (
        spark.read.parquet(os.path.join(state, "last"))
        .filter(F.col("__epoch") < last_epoch)
        .groupBy("user_id")
        .agg(F.max(F.struct("arr", "event_id", "ts_us")).alias("s"))
        .select("user_id", F.col("s.ts_us").alias("prior_ts"))
    )
    seq = W.partitionBy("user_id").orderBy("arr", "event_id")
    lagged = (
        e.withColumn("prev_ts", F.lag("ts_us").over(seq))
        .join(prior, "user_id", "left")
        .withColumn("prev_ts", F.coalesce("prev_ts", "prior_ts"))
    )
    late = F.when(F.col("ts_us") < F.col("prev_ts"), 1).otherwise(0)
    inc = (
        lagged.select("event_type", late.alias("late"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_inc"), F.sum("late").alias("late_inc"))
    )
    (
        inc.withColumn("__epoch", F.lit(last_epoch))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("__epoch")
        .parquet(os.path.join(state, "inc"))
    )
    got_replay = sorted(
        tuple(r)
        for r in swin.derive_out_of_order_profile(spark, state).collect()
    )
    assert got_replay == got_b
