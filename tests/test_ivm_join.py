"""MaterializedJoin (streaming/ivm_join.py): the maintained-join-view
engine surface. Four angles:

1. Equality with a full recompute after every epoch of a mixed
   upsert/delete two-sided delta sequence (the IVM identity).
2. Replay idempotence (crash-recovery epoch re-applied → unchanged).
3. Crash atomicity: files written by an epoch that died before its
   manifest commit are invisible, and its replay deletes them.
4. Bucket locality: an epoch touching one join key rewrites ONLY that
   key's bucket files; every other bucket keeps its files.
"""

from __future__ import annotations

import pytest

import json
import os

from pyspark.sql import functions as F

from cdc_poc_spark.streaming.ivm_join import MaterializedJoin


def _live_files(state):
    """(side, bucket dir) -> the data files on disk of a join state."""
    return {
        (side, b): frozenset(
            f for f in os.listdir(os.path.join(state, side, b)) if f.endswith(".parquet")
        )
        for side in os.listdir(state)
        if os.path.isdir(os.path.join(state, side))
        for b in os.listdir(os.path.join(state, side))
        if b.startswith("__bucket=")
    }


def _changed(before, after):
    return {k for k in before.keys() | after.keys() if before.get(k) != after.get(k)}


def _delta(spark, rows, schema):
    return spark.createDataFrame(rows, schema)


L_SCHEMA = "l_id long, jk long, amount long, __op string, __seq long"
R_SCHEMA = "jk long, seg string, __op string, __seq long"


def _reference_join(left_rows, right_rows):
    """Pure-Python recompute: replay all deltas (last __seq wins, ties
    to delete), then inner-join the survivors."""
    def survivors(rows, key):
        state = {}
        for r in rows:
            k = r[key]
            prev = state.get(k)
            # order of arrival is the list order; resolve by (__seq, op)
            # engine rule: max __seq wins, ties break toward the delete
            if prev is None or (r["__seq"], r["__op"] == "d") >= (
                prev["__seq"],
                prev["__op"] == "d",
            ):
                state[k] = r
        return [r for r in state.values() if r["__op"] == "u"]

    lefts = survivors([dict(zip(("l_id", "jk", "amount", "__op", "__seq"), r)) for r in left_rows], "l_id")
    rights = survivors([dict(zip(("jk", "seg", "__op", "__seq"), r)) for r in right_rows], "jk")
    rmap = {r["jk"]: r["seg"] for r in rights}
    return sorted(
        (r["l_id"], r["jk"], r["amount"], rmap[r["jk"]])
        for r in lefts
        if r["jk"] in rmap
    )


def _view_rows(mj):
    return sorted(
        (r.l_id, r.jk, r.amount, r.seg)
        for r in mj.view().select("l_id", "jk", "amount", "seg").collect()
    )


@pytest.mark.slow
def test_materialized_join_matches_recompute(spark, tmp_path):
    mj = MaterializedJoin(spark, str(tmp_path / "mj"), left_id="l_id", join_key="jk", n_buckets=8)
    all_l, all_r = [], []

    def apply(epoch, lrows, rrows):
        all_l.extend(lrows)
        all_r.extend(rrows)
        dl = _delta(spark, lrows, L_SCHEMA) if lrows else None
        dr = _delta(spark, rrows, R_SCHEMA) if rrows else None
        mj.apply_batch(dl, dr, epoch)
        assert _view_rows(mj) == _reference_join(all_l, all_r), f"epoch {epoch}"

    # epoch 0: initial load, both sides
    apply(
        0,
        [(1, 10, 100, "u", 0), (2, 10, 200, "u", 0), (3, 20, 300, "u", 0)],
        [(10, "A", "u", 0), (20, "B", "u", 0), (30, "C", "u", 0)],
    )
    # epoch 1: left upsert (amount change) + new left row on an
    # unmatched key (must NOT appear in the inner view)
    apply(1, [(1, 10, 111, "u", 1), (4, 99, 400, "u", 1)], [])
    # epoch 2: right update (segment change) + right delete of jk=20
    # (drops left row 3 from the view)
    apply(2, [], [(10, "A2", "u", 2), (20, None, "d", 2)])
    # epoch 3: left delete + key move expressed as delete+insert (the
    # documented contract; the insert takes a LATER __seq — a same-seq
    # tie resolves to the delete by the conservative CDC rule)
    apply(
        3,
        [(2, 10, None, "d", 3), (1, 10, None, "d", 3), (1, 30, 111, "u", 4)],
        [],
    )
    # epoch 3b: same-seq delete+upsert tie on one key resolves to the
    # delete — the fully-deleted bucket must read back as EMPTY, not
    # error (schema survives via the manifest)
    apply(5, [(4, 99, None, "d", 5), (4, 99, 444, "u", 5)], [])
    # epoch 6: right re-insert of jk=20 (row 3 resurfaces)
    apply(6, [], [(20, "B2", "u", 6)])
    # epoch 7: empty batch (both None) — must commit the epoch and
    # change nothing
    mj.apply_batch(None, None, 7)
    assert _view_rows(mj) == _reference_join(all_l, all_r)
    assert mj.applied(7)


def test_materialized_join_replay_is_idempotent(spark, tmp_path):
    mj = MaterializedJoin(spark, str(tmp_path / "mj"), left_id="l_id", join_key="jk", n_buckets=4)
    mj.apply_batch(
        _delta(spark, [(1, 10, 100, "u", 0)], L_SCHEMA),
        _delta(spark, [(10, "A", "u", 0)], R_SCHEMA),
        0,
    )
    d1 = _delta(spark, [(1, 10, 999, "u", 1)], L_SCHEMA)
    mj.apply_batch(d1, None, 1)
    before = _view_rows(mj)
    mj.apply_batch(d1, None, 1)  # foreachBatch replay after crash
    assert _view_rows(mj) == before


def test_materialized_join_crash_is_atomic(spark, tmp_path, monkeypatch):
    """An epoch that dies after writing its bucket files but before its
    manifest commit leaves the view as it was; its replay commits the
    epoch and deletes the dead attempt's files."""
    state = str(tmp_path / "mj")
    mj = MaterializedJoin(spark, state, left_id="l_id", join_key="jk", n_buckets=4)
    mj.apply_batch(
        _delta(spark, [(1, 10, 100, "u", 0)], L_SCHEMA),
        _delta(spark, [(10, "A", "u", 0)], R_SCHEMA),
        0,
    )
    before, committed = _view_rows(mj), _live_files(state)
    d1 = _delta(spark, [(2, 10, 200, "u", 1)], L_SCHEMA)

    def crash(*args):
        raise RuntimeError("crash before the manifest commit")

    with monkeypatch.context() as mp:
        mp.setattr(mj, "_publish", crash)
        with pytest.raises(RuntimeError):
            mj.apply_batch(d1, None, 1)
    assert _changed(committed, _live_files(state))  # the dead attempt's files
    assert not mj.applied(1)
    assert _view_rows(mj) == before  # readers never see them
    mj.apply_batch(d1, None, 1)  # the replay
    assert _view_rows(mj) == [(1, 10, 100, "A"), (2, 10, 200, "A")]
    files = _live_files(state)
    assert all(len(names) == 1 for names in files.values()), files


def test_materialized_join_bucket_locality(spark, tmp_path, tiny_partitions):
    """An epoch touching ONE join key must rewrite only that key's
    bucket, and only in the sides it changes; every other bucket keeps
    its files. (A 1-byte partition size holds the state at its 8
    buckets.)"""
    state = str(tmp_path / "mj")
    nb = 8
    mj = MaterializedJoin(spark, state, left_id="l_id", join_key="jk", n_buckets=nb)
    # spread initial data over many buckets
    lrows = [(i, i * 10, i * 100, "u", 0) for i in range(1, 13)]
    rrows = [(i * 10, f"s{i}", "u", 0) for i in range(1, 13)]
    mj.apply_batch(_delta(spark, lrows, L_SCHEMA), _delta(spark, rrows, R_SCHEMA), 0)
    before = _live_files(state)
    assert len({b for _, b in before}) >= 4  # 12 keys over 8 buckets

    # single-key epoch on the left side
    mj.apply_batch(_delta(spark, [(1, 10, 999, "u", 1)], L_SCHEMA), None, 1)
    changed = _changed(before, _live_files(state))
    assert len({b for _, b in changed}) == 1, f"exactly one bucket should move, got {changed}"
    assert {side for side, _ in changed} == {"left", "view"}
    # and the view still reads correctly across old and new bucket files
    rows = _view_rows(mj)
    assert (1, 10, 999, "s1") in rows and (12, 120, 1200, "s12") in rows
    assert len(rows) == 12


@pytest.mark.slow
def test_materialized_join_streaming_drain(spark, tmp_path):
    """End-to-end Structured Streaming drive: a file stream of
    side-tagged delta files (one file per epoch, maxFilesPerTrigger=1)
    drained with availableNow must leave the view equal to the pure-
    Python recompute, across a history that exercises both sides,
    deletes, and an update — and a second drain over the same
    checkpoint must be a no-op."""
    import glob
    import shutil as sh

    from cdc_poc_spark.streaming.ivm_join import materialized_join_stream

    U = (
        "__side string, l_id long, jk long, amount long, seg string,"
        " __op string, __seq long"
    )
    epochs = [
        # epoch file 0: left + right initial
        [
            ("l", 1, 10, 100, None, "u", 0),
            ("l", 2, 20, 200, None, "u", 0),
            ("r", None, 10, None, "A", "u", 0),
            ("r", None, 20, None, "B", "u", 0),
        ],
        # epoch file 1: left update + right delete of jk=20
        [
            ("l", 1, 10, 111, None, "u", 1),
            ("r", None, 20, None, None, "d", 1),
        ],
        # epoch file 2: new left row on jk=20 (no right match yet),
        # right re-insert of jk=20
        [
            ("l", 3, 20, 300, None, "u", 2),
            ("r", None, 20, None, "B2", "u", 2),
        ],
    ]
    all_l = [
        (r[1], r[2], r[3], r[5], r[6]) for ep in epochs for r in ep if r[0] == "l"
    ]
    all_r = [(r[2], r[4], r[5], r[6]) for ep in epochs for r in ep if r[0] == "r"]

    data_dir = tmp_path / "stream"
    data_dir.mkdir()
    for i, rows in enumerate(epochs):
        out = str(tmp_path / f"ep{i}")
        spark.createDataFrame(rows, U).coalesce(1).write.parquet(out)
        (pf,) = glob.glob(os.path.join(out, "part-*.parquet"))
        dest = str(data_dir / f"e{i:03d}.parquet")
        sh.move(pf, dest)
        os.utime(dest, (1_700_000_000 + i, 1_700_000_000 + i))

    mj = MaterializedJoin(
        spark, str(tmp_path / "mjs"), left_id="l_id", join_key="jk", n_buckets=4
    )
    stream = (
        spark.readStream.schema(U)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(data_dir))
    )
    q = materialized_join_stream(
        stream,
        mj,
        str(tmp_path / "ckpt"),
        left_cols=["l_id", "jk", "amount"],
        right_cols=["jk", "seg"],
    )
    q.awaitTermination(180)
    want = _reference_join(all_l, all_r)
    assert _view_rows(mj) == want and want
    assert mj.applied(2)  # one file per trigger

    # restart over the same checkpoint: nothing new to process, view
    # unchanged (exactly-once composes with the epoch guard)
    q2 = materialized_join_stream(
        spark.readStream.schema(U)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(data_dir)),
        mj,
        str(tmp_path / "ckpt"),
        left_cols=["l_id", "jk", "amount"],
        right_cols=["jk", "seg"],
    )
    q2.awaitTermination(180)
    assert _view_rows(mj) == want


@pytest.mark.slow
def test_materialized_join_from_cdc_envelopes(spark, tmp_path):
    """The reference's CDC shape, upgraded from mirror tables to a
    maintained JOIN view: two Debezium-style topics (account, plan)
    multiplexed on one changelog stream, parsed with
    cdc.envelope.parse_envelope_typed, mapped to tagged deltas
    (I/U -> 'u', D -> 'd', offset -> __seq), and drained through
    materialized_join_stream. The final view must equal the hand-
    computed current-state join."""
    import glob
    import shutil as sh

    from pyspark.sql import types as T

    from cdc_poc_spark.cdc import envelope as env
    from cdc_poc_spark.streaming.ivm_join import (
        MaterializedJoin,
        materialized_join_stream,
    )

    ACC = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("email", T.StringType()),
            T.StructField("plan_id", T.LongType()),
        ]
    )
    PLAN = T.StructType(
        [
            T.StructField("plan_id", T.LongType()),
            T.StructField("plan_name", T.StringType()),
        ]
    )

    def rec(op, table, before, after, ts_ms, offset):
        return (
            json.dumps(
                {
                    "schema": {"type": "struct"},
                    "payload": {
                        "before": before,
                        "after": after,
                        "op": op,
                        "ts_ms": ts_ms,
                        "source": {"db": "cdc", "schema": "commerce", "table": table},
                    },
                }
            ),
            f"cdc.commerce.{table}",
            offset,
        )

    epochs = [
        [  # snapshot: two plans, two accounts
            rec("r", "plan", None, {"plan_id": 1, "plan_name": "free"}, 1000, 0),
            rec("r", "plan", None, {"plan_id": 2, "plan_name": "pro"}, 1000, 1),
            rec("r", "account", None, {"user_id": 10, "email": "a@x", "plan_id": 1}, 1000, 2),
            rec("r", "account", None, {"user_id": 11, "email": "b@x", "plan_id": 2}, 1000, 3),
        ],
        [  # account 10 upgrades plan (delete+insert per the jk contract),
           # plan 2 renamed, account 12 appears on plan 2
            rec("d", "account", {"user_id": 10, "email": "a@x", "plan_id": 1}, None, 2000, 4),
            rec("c", "account", None, {"user_id": 10, "email": "a@x", "plan_id": 2}, 2000, 5),
            rec("u", "plan", {"plan_id": 2, "plan_name": "pro"}, {"plan_id": 2, "plan_name": "pro+"}, 2000, 6),
            rec("c", "account", None, {"user_id": 12, "email": "c@x", "plan_id": 2}, 2000, 7),
        ],
        [  # account 11 deleted
            rec("d", "account", {"user_id": 11, "email": "b@x", "plan_id": 2}, None, 3000, 8),
        ],
    ]
    data_dir = tmp_path / "cdc_stream"
    data_dir.mkdir()
    for i, rows in enumerate(epochs):
        out = str(tmp_path / f"cdc_ep{i}")
        spark.createDataFrame(
            rows, "value string, topic string, offset long"
        ).coalesce(1).write.parquet(out)
        (pf,) = glob.glob(os.path.join(out, "part-*.parquet"))
        dest = str(data_dir / f"e{i:03d}.parquet")
        sh.move(pf, dest)
        os.utime(dest, (1_700_000_000 + i, 1_700_000_000 + i))

    raw = (
        spark.readStream.schema("value string, topic string, offset long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(data_dir))
    )

    def tagged(side, table, schema, cols):
        t = env.parse_envelope_typed(
            raw.filter(F.col("topic").endswith("." + table)), schema
        )
        return t.select(
            F.lit(side).alias("__side"),
            *cols,
            F.when(F.col("_cdc.op") == "D", "d").otherwise("u").alias("__op"),
            F.col("_cdc.offset").alias("__seq"),
        )

    acc = tagged(
        "l",
        "account",
        ACC,
        [
            F.col("user_id"),
            F.col("plan_id"),
            F.col("email"),
            F.lit(None).cast("string").alias("plan_name"),
        ],
    )
    pln = tagged(
        "r",
        "plan",
        PLAN,
        [
            F.lit(None).cast("long").alias("user_id"),
            F.col("plan_id"),
            F.lit(None).cast("string").alias("email"),
            F.col("plan_name"),
        ],
    )
    mj = MaterializedJoin(
        spark, str(tmp_path / "cdcmj"), left_id="user_id", join_key="plan_id", n_buckets=4
    )
    q = materialized_join_stream(
        acc.unionByName(pln),
        mj,
        str(tmp_path / "cdc_ckpt"),
        left_cols=["user_id", "plan_id", "email"],
        right_cols=["plan_id", "plan_name"],
    )
    q.awaitTermination(180)
    got = sorted(
        (r.user_id, r.plan_id, r.email, r.plan_name)
        for r in mj.view().select("user_id", "plan_id", "email", "plan_name").collect()
    )
    assert got == [
        (10, 2, "a@x", "pro+"),
        (12, 2, "c@x", "pro+"),
    ]


@pytest.mark.slow
def test_materialized_join_random_histories(spark, tmp_path):
    """Three seeded random delta histories (mixed upserts/deletes on
    both sides, duplicate keys within epochs, interleaved empty sides)
    must each end row-equal to the pure-Python recompute — the
    randomized sibling of the hand-built scenario test."""
    import random

    for seed in (7, 23, 61):
        rng = random.Random(seed)
        mj = MaterializedJoin(
            spark,
            str(tmp_path / f"mj{seed}"),
            left_id="l_id",
            join_key="jk",
            n_buckets=4,
        )
        all_l, all_r = [], []
        seq = 0
        cur_jk: dict[int, int] = {}  # the key-move CONTRACT: an l_id's
        # jk may only change via delete + insert, so the generator
        # tracks each live row's jk and emits moves as two deltas
        for epoch in range(4):
            lrows, rrows = [], []
            for _ in range(rng.randint(0, 6)):
                seq += 1
                lid = rng.randint(1, 8)
                jk = cur_jk.get(lid, rng.choice([10, 20, 30]))
                r = rng.random()
                if r < 0.25 and lid in cur_jk:
                    lrows.append((lid, jk, None, "d", seq))
                    del cur_jk[lid]
                elif r < 0.40 and lid in cur_jk:
                    # key move: delete at the old jk, insert at a new one
                    lrows.append((lid, jk, None, "d", seq))
                    seq += 1
                    new_jk = rng.choice([k for k in (10, 20, 30) if k != jk])
                    lrows.append((lid, new_jk, rng.randint(1, 999), "u", seq))
                    cur_jk[lid] = new_jk
                else:
                    lrows.append((lid, jk, rng.randint(1, 999), "u", seq))
                    cur_jk[lid] = jk
            for _ in range(rng.randint(0, 3)):
                seq += 1
                jk = rng.choice([10, 20, 30])
                if rng.random() < 0.25:
                    rrows.append((jk, None, "d", seq))
                else:
                    rrows.append((jk, f"s{rng.randint(1, 5)}", "u", seq))
            all_l.extend(lrows)
            all_r.extend(rrows)
            mj.apply_batch(
                _delta(spark, lrows, L_SCHEMA) if lrows else None,
                _delta(spark, rrows, R_SCHEMA) if rrows else None,
                epoch,
            )
        want = _reference_join(all_l, all_r)
        try:
            got = _view_rows(mj)
        except AssertionError:
            got = []  # view never written or fully empty
        assert got == want, f"seed {seed}"


# ---------------------------------------------------------------------------
# Round-8: MaterializedJoinAggregate — maintained rollup over the
# maintained join (sum/count and the non-self-maintainable max).
# ---------------------------------------------------------------------------


def _reference_agg(left_rows, right_rows):
    """Pure-Python recompute: rollup of the reference join by seg."""
    out = {}
    for _, _, amount, seg in _reference_join(left_rows, right_rows):
        n, s, mx = out.get(seg, (0, 0, None))
        out[seg] = (n + 1, s + amount, amount if mx is None else max(mx, amount))
    return {k: v for k, v in out.items()}


def _make_agg(spark, path, nb=8):
    from cdc_poc_spark.streaming.ivm_join import MaterializedJoinAggregate

    return MaterializedJoinAggregate(
        spark,
        str(path),
        left_id="l_id",
        join_key="jk",
        group_cols=["seg"],
        measures={
            "n_rows": ("1", "count"),
            "total": ("amount", "sum"),
            "max_amount": ("amount", "max"),
        },
        n_buckets=nb,
    )


def _agg_rows(mj):
    return {
        r.seg: (r.n_rows, r.total, r.max_amount) for r in mj.aggregate().collect()
    }


@pytest.mark.slow
def test_materialized_join_agg_matches_recompute(spark, tmp_path):
    """Epoch-by-epoch equality with the pure-Python rollup across a
    history whose deletes REMOVE the current max of a group — the
    classic case self-maintaining aggregates get wrong; the per-bucket
    recompute must not."""
    mj = _make_agg(spark, tmp_path / "mja")
    all_l, all_r = [], []

    def apply(epoch, lrows, rrows):
        all_l.extend(lrows)
        all_r.extend(rrows)
        dl = _delta(spark, lrows, L_SCHEMA) if lrows else None
        dr = _delta(spark, rrows, R_SCHEMA) if rrows else None
        mj.apply_batch(dl, dr, epoch)
        assert _agg_rows(mj) == _reference_agg(all_l, all_r), f"epoch {epoch}"

    apply(
        0,
        [(1, 10, 100, "u", 0), (2, 10, 900, "u", 0), (3, 20, 300, "u", 0)],
        [(10, "A", "u", 0), (20, "B", "u", 0)],
    )
    # delete the max of group A (l_id=2, amount=900): max must FALL to 100
    apply(1, [(2, 10, None, "d", 1)], [])
    assert _agg_rows(mj)["A"] == (1, 100, 100)
    # right re-segment: group A's rows move to segment A2 wholesale
    apply(2, [], [(10, "A2", "u", 2)])
    assert "A" not in _agg_rows(mj) and _agg_rows(mj)["A2"] == (1, 100, 100)
    # new max arrives, then an unmatched left row (invisible to rollup)
    apply(3, [(4, 10, 5000, "u", 3), (9, 99, 7, "u", 3)], [])
    assert _agg_rows(mj)["A2"] == (2, 5100, 5000)
    # delete the whole of group B: the group must VANISH, not zero out
    apply(4, [(3, 20, None, "d", 4)], [])
    assert "B" not in _agg_rows(mj)


@pytest.mark.slow
def test_materialized_join_agg_streaming_drain(spark, tmp_path):
    """The streaming wiring is inherited: drain side-tagged delta files
    through materialized_join_stream into a MaterializedJoinAggregate
    and the rollup must equal the recompute."""
    import glob
    import shutil as sh

    from cdc_poc_spark.streaming.ivm_join import materialized_join_stream

    U = (
        "__side string, l_id long, jk long, amount long, seg string,"
        " __op string, __seq long"
    )
    epochs = [
        [
            ("l", 1, 10, 100, None, "u", 0),
            ("l", 2, 20, 9000, None, "u", 0),
            ("r", None, 10, None, "A", "u", 0),
            ("r", None, 20, None, "A", "u", 0),
        ],
        # delete the group max via the LEFT side
        [("l", 2, 20, None, None, "d", 1)],
        # move jk=10 to a new segment
        [("r", None, 10, None, "B", "u", 2)],
    ]
    all_l = [
        (r[1], r[2], r[3], r[5], r[6]) for ep in epochs for r in ep if r[0] == "l"
    ]
    all_r = [(r[2], r[4], r[5], r[6]) for ep in epochs for r in ep if r[0] == "r"]

    data_dir = tmp_path / "stream"
    data_dir.mkdir()
    for i, rows in enumerate(epochs):
        out = str(tmp_path / f"ep{i}")
        spark.createDataFrame(rows, U).coalesce(1).write.parquet(out)
        (pf,) = glob.glob(os.path.join(out, "part-*.parquet"))
        dest = str(data_dir / f"e{i:03d}.parquet")
        sh.move(pf, dest)
        os.utime(dest, (1_700_000_000 + i, 1_700_000_000 + i))

    mj = _make_agg(spark, tmp_path / "mjas", nb=4)
    q = materialized_join_stream(
        spark.readStream.schema(U)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(data_dir)),
        mj,
        str(tmp_path / "ckpt"),
        left_cols=["l_id", "jk", "amount"],
        right_cols=["jk", "seg"],
    )
    q.awaitTermination(180)
    want = _reference_agg(all_l, all_r)
    assert _agg_rows(mj) == want and want == {"B": (1, 100, 100)}


def test_materialized_join_agg_partial_locality(spark, tmp_path, tiny_partitions):
    """A single-key epoch rewrites ONLY the touched bucket's aggregate
    partial; every other bucket's partial keeps its files — per-batch
    rollup upkeep is bounded by delta keys, not view size. (A 1-byte
    partition size holds the state at its 8 buckets.)"""
    state = str(tmp_path / "mjl")
    mj = _make_agg(spark, state)
    lrows = [(i, i * 10, i * 100, "u", 0) for i in range(1, 13)]
    rrows = [(i * 10, f"s{i}", "u", 0) for i in range(1, 13)]
    mj.apply_batch(_delta(spark, lrows, L_SCHEMA), _delta(spark, rrows, R_SCHEMA), 0)
    before = _live_files(state)

    mj.apply_batch(_delta(spark, [(1, 10, 999, "u", 1)], L_SCHEMA), None, 1)
    changed = _changed(before, _live_files(state))
    (moved,) = {b for _, b in changed}
    assert ("agg", moved) in changed
    # and the combined rollup is still exact across old and new partials
    got = _agg_rows(mj)
    assert got["s1"] == (1, 999, 999)
    assert got["s12"] == (1, 1200, 1200)
    assert len(got) == 12


@pytest.mark.slow
def test_materialized_join_agg_random_histories(spark, tmp_path):
    """The randomized sibling for the AGGREGATE view: seeded random
    two-sided histories (upserts/deletes/key-moves, group re-segments,
    max-deletions) must leave the maintained rollup equal to the
    pure-Python recompute after EVERY epoch — the per-bucket partial
    upkeep has no drift anywhere in the lattice of cases the generator
    reaches."""
    import random

    for seed in (11, 47):
        rng = random.Random(seed)
        mj = _make_agg(spark, tmp_path / f"mja{seed}", nb=4)
        all_l, all_r = [], []
        seq = 0
        cur_jk: dict[int, int] = {}
        for epoch in range(4):
            lrows, rrows = [], []
            for _ in range(rng.randint(0, 6)):
                seq += 1
                lid = rng.randint(1, 8)
                jk = cur_jk.get(lid, rng.choice([10, 20, 30]))
                r = rng.random()
                if r < 0.25 and lid in cur_jk:
                    lrows.append((lid, jk, None, "d", seq))
                    del cur_jk[lid]
                elif r < 0.40 and lid in cur_jk:
                    lrows.append((lid, jk, None, "d", seq))
                    seq += 1
                    new_jk = rng.choice([k for k in (10, 20, 30) if k != jk])
                    lrows.append((lid, new_jk, rng.randint(1, 999), "u", seq))
                    cur_jk[lid] = new_jk
                else:
                    lrows.append((lid, jk, rng.randint(1, 999), "u", seq))
                    cur_jk[lid] = jk
            for _ in range(rng.randint(0, 3)):
                seq += 1
                jk = rng.choice([10, 20, 30])
                if rng.random() < 0.25:
                    rrows.append((jk, None, "d", seq))
                else:
                    rrows.append((jk, f"s{rng.randint(1, 5)}", "u", seq))
            all_l.extend(lrows)
            all_r.extend(rrows)
            mj.apply_batch(
                _delta(spark, lrows, L_SCHEMA) if lrows else None,
                _delta(spark, rrows, R_SCHEMA) if rrows else None,
                epoch,
            )
            want = _reference_agg(all_l, all_r)
            try:
                got = _agg_rows(mj)
            except AssertionError:
                # agg side not yet written = no joined epoch yet; the
                # reference must agree that the rollup is empty
                assert want == {}, f"seed {seed} epoch {epoch}"
                continue
            assert got == want, f"seed {seed} epoch {epoch}"


def test_materialized_join_small_state_is_one_file_per_side(spark, tmp_path):
    """A join state far below one advisory partition keeps one bucket:
    after the epoch that shrinks it from its 8-bucket start (local rows
    carry no size estimate), every side is one file in ``__bucket=0``."""
    state = str(tmp_path / "mjs")
    mj = _make_agg(spark, state)
    lrows = [(i, i % 5 * 10, i * 100, "u", 0) for i in range(1, 41)]
    rrows = [(k * 10, f"s{k}", "u", 0) for k in range(5)]
    mj.apply_batch(_delta(spark, lrows, L_SCHEMA), _delta(spark, rrows, R_SCHEMA), 0)
    mj.apply_batch(_delta(spark, [(1, 10, 999, "u", 1)], L_SCHEMA), None, 1)
    files = _live_files(state)
    assert set(files) == {(s, "__bucket=0") for s in ("left", "right", "view", "agg")}, files
    assert all(len(names) == 1 for names in files.values()), files
    assert _agg_rows(mj) == _reference_agg(lrows + [(1, 10, 999, "u", 1)], rrows)


def test_materialized_join_agg_exact_across_width_changes(spark, tmp_path, partition_size):
    """Epochs that grow the state 1 -> 4 buckets and shrink it 4 -> 1
    re-bucket every side, the view and the aggregate partials in one
    commit; the rollup equals the pure-Python recompute after each."""
    mj = _make_agg(spark, tmp_path / "mjw", nb=4)
    all_l, all_r = [], []
    epochs = [
        ("1", 4, [(i, i % 6 * 10, i, "u", 0) for i in range(1, 31)],
         [(k * 10, f"s{k % 3}", "u", 0) for k in range(6)]),
        ("64m", 1, [(i, i % 6 * 10, None, "d", 1) for i in range(1, 31, 4)]
         + [(40, 20, 7000, "u", 1)], [(30, "s9", "u", 1)]),
        ("1", 4, [(3, 30, 5, "u", 2)], [(50, None, "d", 2)]),
    ]
    for epoch, (size, width, lrows, rrows) in enumerate(epochs):
        partition_size(size)
        all_l.extend(lrows)
        all_r.extend(rrows)
        mj.apply_batch(_delta(spark, lrows, L_SCHEMA), _delta(spark, rrows, R_SCHEMA), epoch)
        assert mj.width == width
        assert _agg_rows(mj) == _reference_agg(all_l, all_r), epoch
        assert _view_rows(mj) == _reference_join(all_l, all_r), epoch


def test_materialized_join_agg_epoch_job_budget(spark, tmp_path, tiny_partitions):
    """One two-sided epoch of a MaterializedJoinAggregate (2,000 left
    rows, 50 join keys, 8 buckets) merges each side once: the merged
    sides are held for the commit, so the view and the aggregate
    partials read them instead of merging again. Measured: 16 jobs and
    33 stages (skipped ones included) at local[2] and local[4], running
    25 and 37 tasks. When each side was merged three times (its write,
    the view, the partials) the epoch ran 14-17 jobs and 21-31 stages
    but 35-38 and 64-65 tasks."""
    mj = _make_agg(spark, tmp_path / "mjb")
    lrows = [(i, i % 50, i, "u", 0) for i in range(2000)]
    rrows = [(k, f"s{k % 5}", "u", 0) for k in range(50)]
    mj.apply_batch(_delta(spark, lrows, L_SCHEMA), _delta(spark, rrows, R_SCHEMA), 0)
    lrows1 = [(i, i % 50, i + 1, "u", 1) for i in range(2000)]
    rrows1 = [(k, f"t{k % 5}", "u", 1) for k in range(50)]
    dl, dr = _delta(spark, lrows1, L_SCHEMA), _delta(spark, rrows1, R_SCHEMA)
    sc = spark.sparkContext
    sc.setJobGroup("mj_epoch_budget", "mj_epoch_budget")
    try:
        mj.apply_batch(dl, dr, 1)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup("mj_epoch_budget")
    stages = [s for j in jobs for s in tracker.getJobInfo(j).stageIds]
    tasks = sum(i.numCompletedTasks for i in map(tracker.getStageInfo, stages) if i)
    assert _agg_rows(mj) == _reference_agg(lrows + lrows1, rrows + rrows1)
    assert len(jobs) <= 16 and len(stages) <= 33, (len(jobs), len(stages))
    # the two measured task counts, 6 per task slot and 13 more
    assert tasks <= 6 * sc.defaultParallelism + 13, (tasks, sc.defaultParallelism)
