"""Golden tests for the CDC core, re-expressing the reference's manual
CRUD scenarios (reference postgres/scripts/manual/001-003 + seed data,
expected envelope outputs README.md:90-128, FIXTURES.md A2) as
deterministic asserts — replacing the reference's sleep-and-scrape e2e
(test_cdc.py:119-140, SURVEY §5)."""

from __future__ import annotations

import json
import os
import shutil

import pytest

from pyspark.sql import functions as F
from pyspark.sql import types as T

from cdc_poc_spark.cdc import apply as cdc_apply
from cdc_poc_spark.cdc import envelope as env
from cdc_poc_spark.streaming import commit
from cdc_poc_spark.streaming.commit import BUCKET, BucketedState
from cdc_poc_spark.streaming.consumer import CDCConsumer, TableSpec

ACCOUNT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.IntegerType()),
        T.StructField("email", T.StringType()),
        T.StructField("created_at", T.LongType()),  # Debezium MicroTimestamp
    ]
)

#: golden micros value observed in reference README.md:93
GOLDEN_MICROS = 1713192083639740
GOLDEN_TS_STR = "2024-04-15 14:41:23.639740"


def _env(op, before, after, ts_ms, offset):
    return (
        json.dumps(
            {
                "schema": {"type": "struct"},
                "payload": {
                    "before": before,
                    "after": after,
                    "op": op,
                    "ts_ms": ts_ms,
                    "source": {"db": "cdc", "schema": "commerce", "table": "account"},
                },
            }
        ),
        "cdc.commerce.account",
        offset,
    )


def _state(spark, target):
    """The committed rows of a bucketed-merge target."""
    return BucketedState(spark, target).read().drop(BUCKET)


def _buckets(target):
    """The bucket directories of a bucketed-merge target."""
    return sorted(d for d in os.listdir(target) if d.startswith(BUCKET + "="))


def _row(uid, email):
    return {"user_id": uid, "email": email, "created_at": GOLDEN_MICROS}


@pytest.fixture(scope="module")
def scenario(spark):
    """FIXTURES.md A2: snapshot(3) -> insert(2) -> update(emily->emma)
    -> delete all 5 (manual/003 deletes the whole table)."""
    records = [
        _env("r", None, _row(1, "alice@example.com"), 1000, 0),
        _env("r", None, _row(2, "bob@example.com"), 1000, 1),
        _env("r", None, _row(3, "carol@example.com"), 1000, 2),
        _env("c", None, _row(4, "derek@example.com"), 2000, 3),
        _env("c", None, _row(5, "emily@example.com"), 2000, 4),
        _env("u", _row(5, "emily@example.com"), _row(5, "emma@example.com"), 3000, 5),
    ]
    deletes = [
        _env("d", _row(uid, e), None, 4000, 6 + i)
        for i, (uid, e) in enumerate(
            [
                (1, "alice@example.com"),
                (2, "bob@example.com"),
                (3, "carol@example.com"),
                (4, "derek@example.com"),
                (5, "emma@example.com"),
            ]
        )
    ]
    df = spark.createDataFrame(
        records + deletes, "value string, topic string, offset long"
    )
    return df


def test_micros_golden_roundtrip(spark):
    df = spark.createDataFrame([(GOLDEN_MICROS,)], "us long")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    r = df.select(
        F.date_format(env.micros_to_ts("us"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("s"),
        F.unix_micros(env.micros_to_ts("us")).alias("back"),
    ).first()
    assert r.s == GOLDEN_TS_STR
    assert r.back == GOLDEN_MICROS


def test_parse_envelope_raw_matches_reference_shape(spark, scenario):
    parsed = env.parse_envelope_raw(scenario)
    assert set(parsed.columns) == {"before", "after", "op", "ts_ms", "topic", "seq"}
    rows = parsed.orderBy("seq").collect()
    # op domain and JSON-string preservation (SURVEY §1.1c: log keeps strings)
    assert [r.op for r in rows[:6]] == ["r", "r", "r", "c", "c", "u"]
    assert all(r.op == "d" for r in rows[6:])
    assert json.loads(rows[5].after)["email"] == "emma@example.com"
    assert json.loads(rows[5].before)["email"] == "emily@example.com"
    assert rows[0].before is None and rows[6].after is None


def test_parse_envelope_typed_flatten_and_cdc_meta(spark, scenario):
    typed = env.parse_envelope_typed(
        scenario, ACCOUNT_SCHEMA, key_cols=("user_id",)
    )
    assert set(typed.columns) == {"user_id", "email", "created_at", "_cdc"}
    rows = typed.orderBy("_cdc.offset").collect()
    # op mapping r/c -> I, u -> U, d -> D (README.md:118 shows I)
    assert [r._cdc.op for r in rows[:6]] == ["I", "I", "I", "I", "I", "U"]
    assert rows[6]._cdc.op == "D"
    # delete rows keep their key from `before` (after is NULL on the wire)
    assert rows[6].user_id == 1
    # routing target matches the Connect SMT pattern cdc.{db}_{table}
    assert rows[0]._cdc.target == "commerce_account"
    assert rows[0]._cdc.key.user_id == 1


@pytest.fixture(scope="module")
def typed_log(spark, scenario):
    t = env.parse_envelope_typed(scenario, ACCOUNT_SCHEMA, key_cols=("user_id",))
    return t.select(
        "user_id", "email", "created_at",
        F.col("_cdc.op").alias("op"), F.col("_cdc.offset").alias("seq"),
    )


def test_apply_through_update_matches_reference_expected_state(spark, typed_log):
    """FIXTURES.md A2 golden: after apply-through-update, 5 rows with
    emma replacing emily."""
    through_update = typed_log.filter("seq <= 5")
    state = cdc_apply.apply_changes(through_update, ["user_id"])
    got = {(r.user_id, r.email) for r in state.collect()}
    assert got == {
        (1, "alice@example.com"),
        (2, "bob@example.com"),
        (3, "carol@example.com"),
        (4, "derek@example.com"),
        (5, "emma@example.com"),
    }


def test_apply_full_log_is_empty(spark, typed_log):
    """After the whole-table delete (manual/003), current state is empty."""
    assert cdc_apply.apply_changes(typed_log, ["user_id"]).count() == 0


def test_incremental_merge_equals_full_apply(spark, typed_log):
    """merge_upsert batch-by-batch == apply_changes over the whole log
    (the foreachBatch invariant)."""
    full = cdc_apply.apply_changes(typed_log.filter("seq <= 5"), ["user_id"])
    b1 = typed_log.filter("seq <= 2")
    b2 = typed_log.filter("seq BETWEEN 3 AND 5")
    state = cdc_apply.merge_upsert(None, b1, ["user_id"])
    state = cdc_apply.merge_upsert(state, b2, ["user_id"])
    assert sorted((r.user_id, r.email) for r in state.collect()) == sorted(
        (r.user_id, r.email) for r in full.collect()
    )


def test_merge_is_idempotent_under_redelivery(spark, typed_log):
    """Re-applying an already-applied batch must not change state
    (foreachBatch re-delivery after recovery, SURVEY §7 hard parts)."""
    b1 = typed_log.filter("seq <= 4")
    b2 = typed_log.filter("seq = 5")
    s1 = cdc_apply.merge_upsert(None, b1, ["user_id"])
    s2 = cdc_apply.merge_upsert(s1, b2, ["user_id"])
    s3 = cdc_apply.merge_upsert(s2, b2, ["user_id"])  # redelivered
    s2r = sorted((r.user_id, r.email) for r in s2.collect())
    assert sorted((r.user_id, r.email) for r in s3.collect()) == s2r
    # stale redelivery of an OLD batch must not regress newer state
    s4 = cdc_apply.merge_upsert(s3, b1, ["user_id"])
    assert sorted((r.user_id, r.email) for r in s4.collect()) == s2r


def test_merge_into_parquet_roundtrip(spark, typed_log, tmp_path):
    target = str(tmp_path / "mirror")
    cdc_apply.merge_into_parquet_bucketed(
        spark, target, typed_log.filter("seq <= 2"), ["user_id"], n_buckets=4, epoch=0
    )
    cdc_apply.merge_into_parquet_bucketed(
        spark, target, typed_log.filter("seq BETWEEN 3 AND 5"), ["user_id"], n_buckets=4,
        epoch=1,
    )
    state = _state(spark, target)
    assert {(r.user_id, r.email) for r in state.collect()} == {
        (1, "alice@example.com"),
        (2, "bob@example.com"),
        (3, "carol@example.com"),
        (4, "derek@example.com"),
        (5, "emma@example.com"),
    }
    cdc_apply.merge_into_parquet_bucketed(
        spark, target, typed_log.filter("seq >= 6"), ["user_id"], n_buckets=4, epoch=2
    )
    assert _state(spark, target).count() == 0
    assert not any(d.startswith("__bucket=") for d in os.listdir(target))


def test_mirror_survives_delete_all(spark, scenario, tmp_path):
    """Reference manual/003: an unqualified DELETE FROM empties
    commerce.account, and later inserts must still merge. The emptied
    mirror keeps no bucket directory and reads as zero rows with the
    table's columns."""
    c = CDCConsumer(
        str(tmp_path / "wh"),
        str(tmp_path / "ck"),
        tables={"commerce_account": TableSpec(ACCOUNT_SCHEMA, ("user_id",))},
        mirror_buckets=4,
    )
    c.merge_mirror_batch(scenario.filter("offset <= 5"), 0)
    assert c.read_mirror(spark, "commerce_account").count() == 5
    c.merge_mirror_batch(scenario.filter("offset >= 6"), 1)
    empty = c.read_mirror(spark, "commerce_account")
    assert empty.count() == 0
    reinsert = spark.createDataFrame(
        [_env("c", None, _row(6, "frank@example.com"), 5000, 11)],
        "value string, topic string, offset long",
    )
    c.merge_mirror_batch(reinsert, 2)
    state = c.read_mirror(spark, "commerce_account")
    assert [(r.user_id, r.email) for r in state.collect()] == [(6, "frank@example.com")]
    assert empty.dtypes == state.dtypes


def test_mirror_buckets_must_be_positive(tmp_path):
    with pytest.raises(ValueError, match="mirror_buckets"):
        CDCConsumer(str(tmp_path / "wh"), str(tmp_path / "ck"), mirror_buckets=0)


def test_schema_evolution_merge(spark, typed_log):
    """A batch with a new column merges; old state rows get NULL —
    mergeSchema/accept-any-schema semantics (consumer.py:76-78)."""
    b1 = typed_log.filter("seq <= 2")
    b2 = typed_log.filter("seq BETWEEN 3 AND 5").withColumn(
        "plan", F.lit("premium")
    )
    state = cdc_apply.merge_upsert(None, b1, ["user_id"])
    state = cdc_apply.merge_upsert(state, b2, ["user_id"])
    assert "plan" in state.columns
    by_id = {r.user_id: r.plan for r in state.collect()}
    assert by_id[4] == "premium" and by_id[1] is None


def test_scd2_history(spark, typed_log):
    hist = cdc_apply.scd2_from_log(typed_log, ["user_id"])
    emily = hist.filter("user_id = 5").orderBy("valid_from").collect()
    assert len(emily) == 2
    assert emily[0].email == "emily@example.com" and emily[0].valid_to == 5
    assert emily[1].email == "emma@example.com" and emily[1].valid_to == 10  # closed by delete
    assert not emily[1].is_current


def test_merge_into_parquet_bucketed(spark, tmp_path, tiny_partitions):
    """Bucketed merge: correct state across batches, only touched bucket
    dirs rewritten, all-deleted buckets removed. (A 1-byte partition
    size holds the state at its 8 buckets.)"""
    import os

    target = str(tmp_path / "state")
    schema = "pk LONG, val STRING, seq LONG, op STRING"
    b1 = spark.createDataFrame(
        [(i, f"v{i}", i, "c") for i in range(20)], schema
    )
    cdc_apply.merge_into_parquet_bucketed(spark, target, b1, ["pk"], n_buckets=8, epoch=0)
    got = {(r.pk, r.val) for r in _state(spark, target).collect()}
    assert got == {(i, f"v{i}") for i in range(20)}

    dirs_before = {
        d: os.path.getmtime(os.path.join(target, d)) for d in os.listdir(target)
    }
    # batch 2 touches exactly one key -> at most one bucket rewritten
    b2 = spark.createDataFrame([(3, "v3b", 100, "u")], schema)
    cdc_apply.merge_into_parquet_bucketed(spark, target, b2, ["pk"], n_buckets=8, epoch=1)
    got = {(r.pk, r.val) for r in _state(spark, target).collect()}
    assert (3, "v3b") in got and len(got) == 20
    changed = [
        d
        for d in os.listdir(target)
        if d.startswith("__bucket=")
        and os.path.getmtime(os.path.join(target, d)) != dirs_before.get(d)
    ]
    assert len(changed) == 1, changed

    # batch 3 deletes every key of one bucket -> its directory disappears
    bucket_of_3 = changed[0]
    same_bucket_keys = [
        r.pk
        for r in _state(spark, target)
        .withColumn("b", F.expr("pmod(xxhash64(cast(pk as string)), 8)"))
        .filter(F.expr(f"b = {bucket_of_3.split('=')[1]}"))
        .collect()
    ]
    b3 = spark.createDataFrame(
        [(pk, None, 200 + pk, "d") for pk in same_bucket_keys], schema
    )
    cdc_apply.merge_into_parquet_bucketed(spark, target, b3, ["pk"], n_buckets=8, epoch=2)
    assert not os.path.exists(os.path.join(target, bucket_of_3))
    got = {r.pk for r in _state(spark, target).collect()}
    assert got == set(range(20)) - set(same_bucket_keys)


def test_bucketed_merge_writes_one_file_per_bucket(spark, tmp_path, tiny_partitions):
    """A merge writes one file per bucket whatever the partition count
    of its shuffle. The merge's window once shuffled by key alone, so
    with AQE's coalescing off every shuffle partition held rows of
    every bucket: a fresh 5,000-row merge at local[4] left 256 files in
    64 buckets. (A 1-byte partition size holds the state at its 64
    buckets.)"""
    target = str(tmp_path / "state")
    rows = [(i, f"v{i}", i, "c") for i in range(5000)]
    b1 = spark.createDataFrame(rows, "pk LONG, val STRING, seq LONG, op STRING")
    conf = "spark.sql.adaptive.coalescePartitions.enabled"
    was = spark.conf.get(conf)
    spark.conf.set(conf, "false")
    try:
        cdc_apply.merge_into_parquet_bucketed(spark, target, b1, ["pk"], epoch=0)
    finally:
        spark.conf.set(conf, was)
    buckets = [d for d in os.listdir(target) if d.startswith("__bucket=")]
    files = [
        f
        for d in buckets
        for f in os.listdir(os.path.join(target, d))
        if f.endswith(".parquet")
    ]
    assert len(buckets) == 64 and len(files) == 64, (len(buckets), len(files))
    assert _state(spark, target).count() == 5000


class _Crash(Exception):
    pass


#: every filesystem call a bucketed-merge commit may make to swap data
#: in or out; the data itself is written by Spark's JVM, not by these
_FS_CALLS = [
    (os, "rename"),
    (os, "replace"),
    (os, "remove"),
    (os, "unlink"),
    (shutil, "rmtree"),
    (commit, "_write_durable"),
]


def _crash_at(monkeypatch, k):
    """Make the ``k``-th call (1-based; 0 = none) of any ``_FS_CALLS``
    raise ``_Crash``; return the list the calls' names are recorded in."""
    calls = []
    for mod, name in _FS_CALLS:

        def fake(*args, _real=getattr(mod, name), _name=name, **kwargs):
            calls.append(_name)
            if len(calls) == k:
                raise _Crash(f"call {k}: {_name}")
            return _real(*args, **kwargs)

        monkeypatch.setattr(mod, name, fake)
    return calls


def _crash_replay(spark, tmp_path, partition_size, sweep):
    """40 keys in 8 buckets, then an 8-key update batch whose merge dies
    at the k-th filesystem call and is replayed, as foreachBatch re-
    delivers a failed epoch. For every k the state must equal
    apply_changes of the whole log. The update epoch runs twice: at the
    state's width (a 1-byte partition size keeps 8 buckets) and as a
    width change (at 64 MB the 40-row state shrinks to one bucket).
    ``sweep(calls)`` picks the k's from the call names of an
    uninterrupted merge."""
    schema = "pk LONG, val STRING, seq LONG, op STRING"
    rows = [(i, f"v{i}", i, "c") for i in range(40)]
    upd = [(i, f"w{i}", 100 + i, "u") for i in range(0, 40, 5)]
    b1, b2 = spark.createDataFrame(rows, schema), spark.createDataFrame(upd, schema)
    want = {r[0]: r[:3] for r in rows} | {r[0]: r[:3] for r in upd}

    def merge(target, k):
        with pytest.MonkeyPatch.context() as mp:
            calls = _crash_at(mp, k)
            try:
                cdc_apply.merge_into_parquet_bucketed(
                    spark, target, b2, ["pk"], n_buckets=8, epoch=1
                )
            except _Crash:
                pass
        return calls

    for size, width in (("1", 8), ("64m", 1)):
        partition_size(size)
        base = str(tmp_path / f"base{size}")
        cdc_apply.merge_into_parquet_bucketed(spark, base, b1, ["pk"], n_buckets=8, epoch=0)
        calls = merge(shutil.copytree(base, str(tmp_path / f"dry{size}")), 0)
        for k in sweep(calls):
            target = shutil.copytree(base, str(tmp_path / f"k{k}_{size}"))
            merge(target, k)
            cdc_apply.merge_into_parquet_bucketed(
                spark, target, b2, ["pk"], n_buckets=8, epoch=1
            )
            rows = BucketedState(spark, target).read().collect()
            got = {r.pk: (r.pk, r.val, r.seq) for r in rows}
            assert got == want, (size, k, calls[k - 1], len(got))
            # the live rows' buckets: files superseded by a commit that
            # died before deleting them stay on disk until the next one
            buckets = {r[BUCKET] for r in rows}
            assert buckets <= set(range(width)) and len(buckets) > width // 2, (size, k, buckets)


def test_bucketed_merge_replay_after_crash_is_exact(spark, tmp_path, partition_size):
    """A merge that dies at the first call of each kind it makes (the
    pointer swap, the durable meta.json write, the delete of a
    superseded file, ...) and is then replayed leaves exactly the state
    of the whole log: no bucket is lost and no update is applied twice,
    also in an epoch that changes the state's width.
    (The write-aside-then-rename swap lost a bucket when the process
    died between its rmtree and its rename: 38 rows of 40 came back.)"""
    _crash_replay(
        spark, tmp_path, partition_size, lambda calls: sorted({calls.index(c) + 1 for c in calls})
    )


@pytest.mark.slow
def test_bucketed_merge_replay_after_crash_at_every_call(spark, tmp_path, partition_size):
    """The exhaustive sweep: a crash at every one of the merge's
    filesystem calls in turn, each replayed to the exact state."""
    _crash_replay(spark, tmp_path, partition_size, lambda calls: range(1, len(calls) + 1))


def test_bucketed_state_keeps_columns_of_any_bucket(spark, tmp_path):
    """A column that only some buckets carry survives a merge into a
    bucket whose batch lacks it, and every read shows it: the state
    schema is the union of all bucket files' schemas, not one file's.
    (Reading one file's schema dropped ``plan`` from the state, and the
    third merge rewrote pk 3's bucket without it.)"""
    target = str(tmp_path / "state")
    old = "pk LONG, val STRING, seq LONG, op STRING"
    b1 = spark.createDataFrame([(i, f"v{i}", i, "c") for i in range(40)], old)
    cdc_apply.merge_into_parquet_bucketed(spark, target, b1, ["pk"], n_buckets=8, epoch=0)
    b2 = spark.createDataFrame(
        [(3, "v3", "premium", 100, "u")],
        "pk LONG, val STRING, plan STRING, seq LONG, op STRING",
    )
    cdc_apply.merge_into_parquet_bucketed(spark, target, b2, ["pk"], n_buckets=8, epoch=1)
    assert "plan" in _state(spark, target).columns
    b3 = spark.createDataFrame(
        [(i, f"w{i}", 200 + i, "u") for i in range(40) if i != 3], old
    )
    cdc_apply.merge_into_parquet_bucketed(spark, target, b3, ["pk"], n_buckets=8, epoch=2)
    got = {
        r.pk: (r.val, r.plan)
        for r in _state(spark, target).collect()
    }
    assert got == {
        i: ("v3", "premium") if i == 3 else (f"w{i}", None) for i in range(40)
    }


def test_bucketed_state_widens_a_type_that_differs_across_buckets(spark, tmp_path):
    """A key widened from INT to BIGINT rewrites only the touched
    buckets; the state read widens the untouched buckets' INT files to
    BIGINT (merge_upsert's union rule) instead of failing on them."""
    target = str(tmp_path / "state")
    narrow = "pk INT, val STRING, seq LONG, op STRING"
    b1 = spark.createDataFrame([(i, f"v{i}", i, "c") for i in range(40)], narrow)
    cdc_apply.merge_into_parquet_bucketed(spark, target, b1, ["pk"], n_buckets=8, epoch=0)
    b2 = spark.createDataFrame(
        [(3, "w3", 100, "u"), (2**40, "big", 101, "c")],
        "pk LONG, val STRING, seq LONG, op STRING",
    )
    cdc_apply.merge_into_parquet_bucketed(spark, target, b2, ["pk"], n_buckets=8, epoch=1)
    b3 = spark.createDataFrame([(5, "w5", 200, "u")], narrow)
    cdc_apply.merge_into_parquet_bucketed(spark, target, b3, ["pk"], n_buckets=8, epoch=2)
    state = _state(spark, target)
    assert dict(state.dtypes)["pk"] == "bigint"
    want = {i: f"v{i}" for i in range(40)} | {3: "w3", 5: "w5", 2**40: "big"}
    assert {r.pk: r.val for r in state.collect()} == want


def test_read_mirror_before_first_commit_is_empty(spark, tmp_path):
    """A mirror that no batch has committed yet reads as zero rows in
    its table's columns plus ``op``/``seq``, the schema a committed
    mirror reads in. (It raised AttributeError on the None state.)"""
    c = CDCConsumer(
        str(tmp_path / "wh"),
        str(tmp_path / "ck"),
        tables={"commerce_account": TableSpec(ACCOUNT_SCHEMA, ("user_id",))},
    )
    empty = c.read_mirror(spark, "commerce_account")
    assert empty.count() == 0
    insert = spark.createDataFrame(
        [_env("c", None, _row(6, "frank@example.com"), 5000, 0)],
        "value string, topic string, offset long",
    )
    c.merge_mirror_batch(insert, 0)
    assert empty.dtypes == c.read_mirror(spark, "commerce_account").dtypes


def _bucket_files(target):
    return [f for b in _buckets(target) for f in os.listdir(os.path.join(target, b))
            if f.endswith(".parquet")]


def test_small_state_commits_one_file(spark, tmp_path):
    """A state far below one advisory partition is one bucket, one
    file. Fresh from a file scan, whose plan Spark sizes, it starts at
    width 1; fresh from local rows, which Spark cannot size, it starts
    at ``n_buckets`` and its next merge shrinks it to one file."""
    schema = "pk LONG, val STRING, seq LONG, op STRING"
    rows = spark.createDataFrame([(i, f"v{i}", i, "c") for i in range(100)], schema)
    rows.write.parquet(str(tmp_path / "batch"))
    sized = str(tmp_path / "sized")
    cdc_apply.merge_into_parquet_bucketed(
        spark, sized, spark.read.parquet(str(tmp_path / "batch")), ["pk"], epoch=0
    )
    assert len(_bucket_files(sized)) == 1

    unsized = str(tmp_path / "unsized")
    cdc_apply.merge_into_parquet_bucketed(spark, unsized, rows, ["pk"], n_buckets=8, epoch=0)
    assert len(_buckets(unsized)) == 8
    upd = spark.createDataFrame([(1, "w1", 200, "u")], schema)
    cdc_apply.merge_into_parquet_bucketed(spark, unsized, upd, ["pk"], n_buckets=8, epoch=1)
    assert _buckets(unsized) == [f"{BUCKET}=0"] and len(_bucket_files(unsized)) == 1
    want = {i: f"v{i}" for i in range(100)} | {1: "w1"}
    assert {r.pk: r.val for r in _state(spark, unsized).collect()} == want


def test_bucketed_state_width_follows_bytes(spark, tmp_path, partition_size):
    """The width is the smallest power of two >= bytes / partition size,
    capped at ``max_width``; it grows as soon as the state outgrows it
    and shrinks only once the state fits a quarter of it."""
    schema = "pk LONG, val STRING, seq LONG, op STRING"
    target = str(tmp_path / "state")
    rows = spark.createDataFrame([(i, f"v{i}", i, "c") for i in range(100)], schema)
    cdc_apply.merge_into_parquet_bucketed(spark, target, rows, ["pk"], n_buckets=4, epoch=0)
    size = sum(
        os.path.getsize(os.path.join(target, b, f)) for b in _buckets(target)
        for f in os.listdir(os.path.join(target, b)) if f.endswith(".parquet")
    )

    def width(target_bytes, max_width=4):
        partition_size(str(target_bytes))
        state = BucketedState(spark, target, max_width)
        return state.resize(), state.width

    assert width(size // 3) == (False, 4)  # needs 4 buckets
    assert width(size // 2) == (False, 4)  # fits 2, but not a quarter of 4
    assert width(size) == (True, 1)  # fits a quarter of 4
    assert width(size // 100) == (False, 4)  # capped
    assert width(size // 100, max_width=2) == (True, 2)  # a lower cap


def test_bucketed_merge_is_exact_across_width_changes(spark, tmp_path, partition_size):
    """A merge that changes the width re-buckets the whole state in the
    same commit: growing 1 -> 8 and shrinking 8 -> 1, each with
    inserts, updates and deletes, leaves the state of the whole log."""
    schema = "pk LONG, val STRING, seq LONG, op STRING"
    target = str(tmp_path / "state")
    want = {}
    epochs = [
        ("64m", 1, [(i, f"v{i}", i, "c") for i in range(60)]),
        ("1", 8, [(i, f"w{i}", 100 + i, "u") for i in range(0, 60, 3)]
         + [(i, None, 200 + i, "d") for i in range(1, 60, 7)] + [(70, "x", 300, "c")]),
        ("64m", 1, [(i, f"y{i}", 400 + i, "u") for i in range(0, 60, 4)]
         + [(i, None, 500 + i, "d") for i in range(2, 60, 5)]),
    ]
    seed = spark.createDataFrame(epochs[0][2], schema)
    seed.write.parquet(str(tmp_path / "seed"))
    for epoch, (size, width, rows) in enumerate(epochs):
        partition_size(size)
        batch = (
            spark.read.parquet(str(tmp_path / "seed")) if epoch == 0
            else spark.createDataFrame(rows, schema)
        )
        cdc_apply.merge_into_parquet_bucketed(
            spark, target, batch, ["pk"], n_buckets=8, epoch=epoch
        )
        for pk, val, _, op in rows:
            if op == "d":
                want.pop(pk, None)
            else:
                want[pk] = val
        assert len(_buckets(target)) == width, (epoch, _buckets(target))
        assert {r.pk: r.val for r in _state(spark, target).collect()} == want, epoch


def _jobs_in_group(spark, group, fn) -> int:
    """Run ``fn`` under Spark job group ``group``; return its job count."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _kv_env(table, key, val, offset):
    after = {f"{table}_id": key, "name": val}
    value = json.dumps(
        {"payload": {"before": None, "after": after, "op": "u", "ts_ms": offset}}
    )
    return (value, f"cdc.commerce.{table}", offset)


def test_bucketed_merge_plans_state_read_without_jobs(spark, tmp_path):
    """The merge into an existing 64-bucket target plans its state read
    with no Spark job: no schema-inference job (the schema comes from
    the state's manifest) and no listing job (its 64 file paths are
    under ``parallelPartitionDiscovery.threshold``). That merge shrinks
    the 1,000-row state to the one bucket its bytes call for, and the
    next merge runs at that width; each keeps the budget. Measured at
    local[4]: the merge ran 6 jobs when its state read inferred the
    schema and listed the buckets in a job, and runs 4 now (touched
    collect and write); one two-table ``merge_mirror_batch`` with a DLQ
    ran 16 jobs when it also collected the batch's tables, and runs 9
    now."""
    target = str(tmp_path / "state")
    schema = "pk LONG, val STRING, seq LONG, op STRING"
    keys = range(1000)
    b1 = spark.createDataFrame([(i, f"v{i}", i, "c") for i in keys], schema)
    cdc_apply.merge_into_parquet_bucketed(spark, target, b1, ["pk"], epoch=0)
    for epoch in (1, 2):
        b2 = spark.createDataFrame([(i, f"w{epoch}_{i}", 5000 * epoch + i, "u") for i in keys], schema)
        n_jobs = _jobs_in_group(
            spark,
            f"bucketed_merge_budget_{epoch}",
            lambda: cdc_apply.merge_into_parquet_bucketed(spark, target, b2, ["pk"], epoch=epoch),
        )
        assert len(_buckets(target)) == 1
        got = {(r.pk, r.val) for r in _state(spark, target).collect()}
        assert got == {(i, f"w{epoch}_{i}") for i in keys}
        assert n_jobs <= 4, (epoch, n_jobs)

    tables = {
        f"commerce_{t}": TableSpec(
            T.StructType(
                [
                    T.StructField(f"{t}_id", T.IntegerType()),
                    T.StructField("name", T.StringType()),
                ]
            ),
            (f"{t}_id",),
        )
        for t in ("account", "product")
    }
    c = CDCConsumer(
        str(tmp_path / "wh"), str(tmp_path / "ck"), tables=tables,
        dlq_dir=str(tmp_path / "dlq"),
    )
    raw = "value string, topic string, offset long"

    def batch(base):
        rows = [
            _kv_env(t, i, f"n{base + i}", base + 2 * i + j)
            for i in range(500)
            for j, t in enumerate(("account", "product"))
        ]
        return spark.createDataFrame(rows + [("{oops", "cdc.commerce.account", base)], raw)

    c.merge_mirror_batch(batch(0), 0)
    for epoch in (1, 2):
        b = batch(10_000 * epoch)
        n_jobs = _jobs_in_group(
            spark, f"mirror_batch_budget_{epoch}", lambda: c.merge_mirror_batch(b, epoch)
        )
        for tbl, key in (("commerce_account", "account_id"), ("commerce_product", "product_id")):
            got = {(r[key], r.name) for r in c.read_mirror(spark, tbl).collect()}
            assert got == {(i, f"n{10_000 * epoch + i}") for i in range(500)}
        assert n_jobs <= 9, (epoch, n_jobs)


def test_merge_sql_statement_shape():
    """The resolved form of the reference's `TODO: Switch to MERGE INTO`
    (consumer.py:76): clause ORDER is delete -> update -> insert, all
    seq-guarded, so stale/replayed rows no-op."""
    sql = cdc_apply.merge_sql("cat.db.mirror", "src", ["pk", "region"])
    assert "MERGE INTO cat.db.mirror t USING src s" in sql
    assert "ON t.pk = s.pk AND t.region = s.region" in sql
    i_del, i_upd, i_ins = (
        sql.index("THEN DELETE"), sql.index("THEN UPDATE"), sql.index("THEN INSERT")
    )
    assert i_del < i_upd < i_ins
    assert sql.count("s.seq >= t.seq") == 2  # delete + update both guarded
    assert "WHEN NOT MATCHED AND s.op NOT IN ('d', 'D') THEN INSERT *" in sql


def test_merge_sql_golden_string():
    """Byte-exact golden for the generated MERGE statement (VERDICT r2
    #6): with no Delta/Iceberg jar loadable in this container the SQL
    path cannot execute, so the emitted text itself is pinned — any
    drift in clause order, seq guards, or delete-op quoting fails here
    rather than silently on a cluster."""
    got = cdc_apply.merge_sql("iceberg.cdc.commerce_account", "batch", ["user_id"])
    golden = (
        "MERGE INTO iceberg.cdc.commerce_account t USING batch s "
        "ON t.user_id = s.user_id "
        "WHEN MATCHED AND s.op IN ('d', 'D') AND s.seq >= t.seq THEN DELETE "
        "WHEN MATCHED AND s.seq >= t.seq THEN UPDATE SET * "
        "WHEN NOT MATCHED AND s.op NOT IN ('d', 'D') THEN INSERT *"
    )
    assert got == golden
    got2 = cdc_apply.merge_sql(
        "m", "v", ["a", "b"], seq_col="lsn", op_col="kind", delete_ops=("D",)
    )
    golden2 = (
        "MERGE INTO m t USING v s ON t.a = s.a AND t.b = s.b "
        "WHEN MATCHED AND s.kind IN ('D') AND s.lsn >= t.lsn THEN DELETE "
        "WHEN MATCHED AND s.lsn >= t.lsn THEN UPDATE SET * "
        "WHEN NOT MATCHED AND s.kind NOT IN ('D') THEN INSERT *"
    )
    assert got2 == golden2


def test_merge_into_dispatcher_falls_back_to_bucketed(spark, typed_log, tmp_path):
    """No Delta/Iceberg jar in this container -> detect returns None and
    merge_into takes the bucketed-parquet path with identical semantics."""
    assert cdc_apply.detect_merge_backend(spark) is None
    target = str(tmp_path / "mirror")
    cdc_apply.merge_into(
        spark, target, typed_log.filter("seq <= 2"), ["user_id"], n_buckets=4, epoch=0
    )
    cdc_apply.merge_into(
        spark, target, typed_log.filter("seq BETWEEN 3 AND 5"), ["user_id"], n_buckets=4,
        epoch=1,
    )
    state = _state(spark, target)
    assert {(r.user_id, r.email) for r in state.collect()} == {
        (1, "alice@example.com"),
        (2, "bob@example.com"),
        (3, "carol@example.com"),
        (4, "derek@example.com"),
        (5, "emma@example.com"),
    }
    import os
    assert any(d.startswith("__bucket=") for d in os.listdir(target))


def test_merge_into_transactional_live(spark, typed_log, tmp_path):
    """Runs the REAL SQL MERGE when a transactional format is present;
    skipped where neither Delta nor Iceberg is on the classpath (this
    container) — the statement itself is verified by
    test_merge_sql_statement_shape and the dispatcher by the fallback
    test."""
    backend = cdc_apply.detect_merge_backend(spark)
    if backend is None:
        pytest.skip("no transactional table format on the classpath")
    name = "default.cdc_merge_live_test"
    fmt = "delta" if backend == "delta" else "iceberg"
    typed_log.filter("seq <= 2").writeTo(name).using(fmt).createOrReplace()
    cdc_apply.merge_into_transactional(
        spark, name, typed_log.filter("seq BETWEEN 3 AND 5"), ["user_id"]
    )
    got = {(r.user_id, r.email) for r in spark.read.table(name).collect()}
    assert (5, "emma@example.com") in got and len(got) == 5
    spark.sql(f"DROP TABLE {name}")
