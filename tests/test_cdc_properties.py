"""Property-based tests (hypothesis): for ANY changelog, the engine's
window-dedup current state must equal a naive sequential replay, and
incremental merge (any batch split + replays) must equal one-shot apply.

This is the deterministic upgrade of the reference's randomized-but-
unchecked e2e inserts (reference test_cdc.py:86-94 generates random rows
and then asks a human to eyeball the output; here the model IS the
check). Spark round-trips are expensive, so examples are capped and the
generated logs are small — breadth comes from hypothesis shrinking over
op interleavings, not volume.
"""

from __future__ import annotations

import pytest

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import types as T

from cdc_poc_spark.cdc.apply import apply_changes, merge_upsert

LOG_SCHEMA = T.StructType(
    [
        T.StructField("pk", T.IntegerType()),
        T.StructField("seq", T.LongType()),
        T.StructField("op", T.StringType()),
        T.StructField("val", T.StringType()),
    ]
)

# A changelog: per-event (key in a tiny domain, op, payload). seq is the
# global arrival index — unique and monotonic, like a Kafka offset.
events_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=4),
        st.sampled_from(["r", "c", "u", "d"]),
        st.text(alphabet="abcxyz", min_size=0, max_size=4),
    ),
    min_size=0,
    max_size=30,
)


def _naive_replay(events):
    """The executable spec: apply ops one at a time in seq order."""
    state: dict[int, tuple[int, str]] = {}
    for seq, (pk, op, val) in enumerate(events):
        if op == "d":
            state.pop(pk, None)
        else:
            state[pk] = (seq, val)
    return {pk: (seq, val) for pk, (seq, val) in state.items()}


def _rows(events):
    return [(pk, seq, op, val) for seq, (pk, op, val) in enumerate(events)]


def _state_of(df):
    return {r.pk: (r.seq, r.val) for r in df.collect()}


@settings(
    max_examples=25, deadline=None, suppress_health_check=[HealthCheck.too_slow]
)
@given(events=events_strategy)
@pytest.mark.slow
def test_apply_changes_equals_naive_replay(spark, events):
    log = spark.createDataFrame(_rows(events), LOG_SCHEMA)
    got = _state_of(apply_changes(log, ["pk"]))
    assert got == _naive_replay(events)


@settings(
    max_examples=15, deadline=None, suppress_health_check=[HealthCheck.too_slow]
)
@given(events=events_strategy, cut=st.integers(min_value=0, max_value=30))
@pytest.mark.slow
def test_incremental_merge_equals_oneshot(spark, events, cut):
    """Splitting the log at any point and merging the tail into the
    head's state — WITH the tail replayed twice (foreachBatch
    re-delivery) — matches applying the whole log at once."""
    cut = min(cut, len(events))
    rows = _rows(events)
    head, tail = rows[:cut], rows[cut:]
    state = None
    if head:
        state = apply_changes(spark.createDataFrame(head, LOG_SCHEMA), ["pk"])
    batch = spark.createDataFrame(tail or [], LOG_SCHEMA)
    once = merge_upsert(state, batch, ["pk"])
    twice = merge_upsert(once, batch, ["pk"])  # idempotent re-delivery
    assert _state_of(twice) == _naive_replay(events)


# ---------------------------------------------------------------------------
# Continuous aggregate (IVM): any changelog, any split, replayed epochs
# ---------------------------------------------------------------------------

EV_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.LongType()),  # epoch-nanos, like the fixture
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)

DIM = [(0, "A"), (1, "A"), (2, "B"), (3, "B"), (4, "C")]

_T0 = 1_700_000_000_000_000_000

ivm_events = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=4),          # user
        st.sampled_from(["click", "buy", "error"]),      # error = tombstone
        st.integers(min_value=0, max_value=99_999),      # value in cents
        # ts offset in nanos: few seconds, so timestamps collide and run
        # out of order; 0/1/999 share a microsecond, 1000 is the next
        st.builds(
            lambda s, ns: s * 1_000_000_000 + ns,
            st.integers(min_value=0, max_value=3),
            st.sampled_from([0, 1, 999, 1000]),
        ),
    ),
    min_size=0,
    max_size=24,
)


def _ivm_rows(events):
    return [
        (i, _T0 + off, u, etype, cents / 100.0)
        for i, (u, etype, cents, off) in enumerate(events)
    ]


def _ivm_expected_cents(events):
    """Spec: final live value (cents) per user — its latest event by
    (ts // 1000, event_id), a tombstone counting 0; totals per dim group."""
    latest: dict[int, tuple[tuple[int, int], int]] = {}
    for i, (u, etype, cents, off) in enumerate(events):
        seq = ((_T0 + off) // 1000, i)
        if u not in latest or seq > latest[u][0]:
            latest[u] = (seq, 0 if etype == "error" else cents)
    groups: dict[str, int] = {}
    gmap = dict(DIM)
    for u, (_, cents) in latest.items():
        groups[gmap[u]] = groups.get(gmap[u], 0) + cents
    return groups


@settings(
    max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow]
)
@given(events=ivm_events, cut=st.integers(min_value=0, max_value=24))
@pytest.mark.slow
def test_continuous_aggregate_any_split_equals_spec(spark, events, cut, tmp_path_factory):
    from cdc_poc_spark.streaming.ivm_join import ContinuousAggregate

    cut = min(cut, len(events))
    rows = _ivm_rows(events)
    dim = spark.createDataFrame(DIM, "c_custkey LONG, c_mktsegment STRING")
    state = tmp_path_factory.mktemp("ivm_prop")
    agg = ContinuousAggregate(spark, str(state), dim)
    b0 = spark.createDataFrame(rows[:cut] or [], EV_SCHEMA)
    b1 = spark.createDataFrame(rows[cut:] or [], EV_SCHEMA)
    agg.apply_batch(b0, epoch_id=0)
    agg.apply_batch(b1, epoch_id=1)
    agg.apply_batch(b1, epoch_id=1)  # crash-replay of the last epoch
    got = {
        r[0]: int(round(float(r[1]) * 100))
        for r in agg.totals().collect()
        if r[1] is not None
    }
    expected = _ivm_expected_cents(events)
    # groups may be present with 0 totals on either side
    for g in set(got) | set(expected):
        assert got.get(g, 0) == expected.get(g, 0), (g, got, expected)
