"""Scale-toolkit semantics + plan-shape assertions: salted join result
parity, and bucketed joins running without exchanges (the property that
makes bucketing worth the write cost at 100 TB)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from cdc_poc_spark.operators import scale
from cdc_poc_spark.tables import load_table

from .conftest import SF_DIR


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_salted_join_matches_plain_join(spark):
    orders = load_table(spark, SF_DIR, "orders")
    cust = load_table(spark, SF_DIR, "customer").withColumnRenamed(
        "c_custkey", "o_custkey"
    )
    plain = (
        orders.join(cust, "o_custkey")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    salted = (
        scale.salted_join(orders, cust, "o_custkey", salt=8)
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_salted_join_left_outer(spark):
    """Left rows with no match must still survive exactly once."""
    orders = load_table(spark, SF_DIR, "orders")
    # dimension missing half the keys
    cust = (
        load_table(spark, SF_DIR, "customer")
        .filter("c_custkey % 2 = 0")
        .withColumnRenamed("c_custkey", "o_custkey")
    )
    plain = orders.join(cust, "o_custkey", "left").count()
    salted = scale.salted_join(orders, cust, "o_custkey", "left", salt=8).count()
    assert plain == salted == orders.count()


@pytest.fixture(scope="module")
def bucketed_tables(spark):
    scale.write_bucketed(
        load_table(spark, SF_DIR, "orders"), "b_orders", ["o_custkey"], 8,
        sort_cols=["o_custkey"],
    )
    scale.write_bucketed(
        load_table(spark, SF_DIR, "customer"), "b_customer", ["c_custkey"], 8,
        sort_cols=["c_custkey"],
    )
    yield "b_orders", "b_customer"
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_customer")


def test_bucketed_join_has_no_exchange(spark, bucketed_tables):
    """With broadcast off (at real scale neither side fits), the join
    must consume the bucket layout: SortMergeJoin directly over the
    FileScans with no Exchange."""
    t_orders, t_cust = bucketed_tables
    threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table(t_orders).join(
            spark.table(t_cust),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        plan = _plan(joined)
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan
        # and it must be the same rows as the unbucketed join
        orders = load_table(spark, SF_DIR, "orders")
        cust = load_table(spark, SF_DIR, "customer")
        expected = orders.join(cust, orders.o_custkey == cust.c_custkey).count()
        assert joined.count() == expected
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)


def test_cluster_by_key_reuses_partitioning(spark):
    """groupBy on the repartition key must not add a second Exchange."""
    orders = scale.cluster_by_key(
        load_table(spark, SF_DIR, "orders"), ["o_custkey"], 8
    )
    agg = orders.groupBy("o_custkey").agg(F.sum("o_totalprice").alias("s"))
    assert _plan(agg).count("Exchange") == 1  # only the explicit repartition


def test_global_index_ordered(spark):
    """Ordered global index must equal the single-partition row_number
    result, without ever forming a single-partition window."""
    orders = load_table(spark, SF_DIR, "orders")
    idx = scale.global_index(orders, "row_idx", ["o_orderkey"])
    n = orders.count()
    got = idx.select("o_orderkey", "row_idx").collect()
    assert sorted(r.row_idx for r in got) == list(range(n))
    # index order must follow key order
    by_key = sorted(got, key=lambda r: r.o_orderkey)
    assert [r.row_idx for r in by_key] == list(range(n))
    plan = idx._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan, plan


def test_global_index_unordered_is_contiguous(spark):
    li = load_table(spark, SF_DIR, "lineitem")
    idx = scale.global_index(li)
    n = li.count()
    assert sorted(r.row_idx for r in idx.select("row_idx").collect()) == list(range(n))


def test_spread_widens_narrow_scan(spark):
    docs = load_table(spark, SF_DIR, "documents").coalesce(1)
    assert docs.rdd.getNumPartitions() == 1
    wide = scale.spread(docs)
    assert wide.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    # content preserved exactly
    assert wide.count() == docs.count()
    assert {r.doc_id for r in wide.select("doc_id").collect()} == {
        r.doc_id for r in docs.select("doc_id").collect()
    }


def test_spread_noop_when_already_wide(spark):
    target = spark.sparkContext.defaultParallelism
    docs = load_table(spark, SF_DIR, "documents").repartition(target + 4)
    out = scale.spread(docs)
    # must not re-shuffle an already-wide input (the 100 TB case)
    assert out is docs


def test_zorder_clusters_both_columns(spark, tmp_path):
    """Z-order layout must give per-file min/max locality on BOTH
    columns (the data-skipping property), where a lexicographic sort
    only localizes the leading column. Rows must be preserved exactly."""
    import os

    from cdc_poc_spark.operators.scale import zorder_by

    li = load_table(spark, SF_DIR, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )
    n_files = 16
    z = zorder_by(li, ["l_quantity", "l_extendedprice"], n_partitions=n_files)
    zdir = str(tmp_path / "z")
    z.write.mode("overwrite").parquet(zdir)
    # row preservation
    assert spark.read.parquet(zdir).count() == li.count()

    def file_spread(d, col):
        """mean per-file (max-min)/(global max-min) — 1.0 = no locality."""
        files = [
            os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet")
        ]
        glo = li.agg(F.min(col), F.max(col)).first()
        lo, hi = float(glo[0]), float(glo[1])
        spans = []
        for f in files:
            r = spark.read.parquet(f).agg(F.min(col), F.max(col)).first()
            spans.append((float(r[1]) - float(r[0])) / (hi - lo))
        return sum(spans) / len(spans)

    # a plain sort on l_quantity: perfect on quantity, useless on price
    sdir = str(tmp_path / "s")
    li.repartitionByRange(n_files, "l_quantity").sortWithinPartitions(
        "l_quantity"
    ).write.mode("overwrite").parquet(sdir)

    z_q, z_p = file_spread(zdir, "l_quantity"), file_spread(zdir, "l_extendedprice")
    s_p = file_spread(sdir, "l_extendedprice")
    # z-order: BOTH columns localized well below the no-locality baseline
    assert z_q < 0.5 and z_p < 0.5, (z_q, z_p)
    # lexicographic baseline leaves the second column unlocalized
    assert s_p > 0.9, s_p
    assert z_p < s_p / 2


def test_expire_log_epochs(spark, tmp_path):
    """Epoch retention must drop exactly the old epoch partitions (per
    table), keep the newest N readable, and be a pure metadata op."""
    from cdc_poc_spark.streaming.commit import expire_log_epochs

    log = str(tmp_path / "log")
    for epoch in range(5):
        (
            spark.range(3)
            .withColumn("table_name", F.lit("account"))
            .withColumn("__epoch", F.lit(epoch))
            .write.mode("append")
            .partitionBy("table_name", "__epoch")
            .parquet(log)
        )
    expired = expire_log_epochs(log, keep_last=2)
    assert expired == [0, 1, 2]
    remaining = spark.read.parquet(log)
    assert sorted(
        r["__epoch"] for r in remaining.select("__epoch").distinct().collect()
    ) == [3, 4]
    assert remaining.count() == 6
    # idempotent: nothing further to expire
    assert expire_log_epochs(log, keep_last=2) == []


def test_pin_guards_session_dir(spark, tmp_path):
    """pin only sets the session checkpoint dir when
    unset, re-uses it silently for the same dir, and WARNS before
    redirecting to a different one (ADVICE r3: setCheckpointDir is
    session-global state)."""
    import warnings

    from cdc_poc_spark.operators.scale import pin

    df = spark.range(10)
    # local path (no dir): no session mutation
    out = pin(df)
    assert out.count() == 10

    d1 = str(tmp_path / "ck1")
    # first pin MAY warn (an earlier test in the session can have set a
    # different dir — that's exactly the override the guard reports)
    assert pin(df, d1).count() == 10
    with warnings.catch_warnings():
        warnings.simplefilter("error")  # same-dir re-pin must not warn
        assert pin(df, d1).count() == 10
    assert d1.lstrip("/") in spark.sparkContext.getCheckpointDir()

    d2 = str(tmp_path / "ck2")
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        assert pin(df, d2).count() == 10
    assert any("overriding session checkpoint dir" in str(x.message) for x in w)
    assert d2.lstrip("/") in spark.sparkContext.getCheckpointDir()


def test_pin_scheme_and_authority_compared(spark, tmp_path):
    """A same-path dir on a DIFFERENT scheme/authority must be treated
    as a different dir (warn + override), not silently reused — a
    caller asking for hdfs://nn/X while the session points at
    file:/X would otherwise keep checkpointing to local disk,
    defeating the executor-loss guarantee (ADVICE r4)."""
    import warnings

    from cdc_poc_spark.operators.scale import pin

    df = spark.range(10)
    d = str(tmp_path / "ck_scheme")
    assert pin(df, d).count() == 10
    # same dir, explicit file: scheme — still "same", no warning
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        assert pin(df, "file://" + d).count() == 10
    # same path under a different scheme+authority — must warn (the
    # write itself fails without an hdfs cluster, which is fine: the
    # guard decision happens before the checkpoint)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        try:
            pin(df, "hdfs://namenode" + d).count()
        except Exception:
            pass  # no HDFS in the sandbox; only the guard is under test
    assert any("overriding session checkpoint dir" in str(x.message) for x in w)
    # restore a usable local dir for later tests in the session
    spark.sparkContext.setCheckpointDir(d)


def test_overlap_keeps_argument_order_and_propagates():
    """overlap returns results in argument order whatever order the
    threads finish in, and re-raises a callable's exception."""
    import time

    def slow(v, delay):
        def fn():
            time.sleep(delay)
            return v

        return fn

    assert scale.overlap(slow("a", 0.2), slow("b", 0.0), slow("c", 0.1)) == [
        "a",
        "b",
        "c",
    ]

    def boom():
        raise RuntimeError("boom")

    with pytest.raises(RuntimeError, match="boom"):
        scale.overlap(slow("a", 0.0), boom)


def test_overlap_runs_jobs_under_the_callers_job_group(spark):
    """Jobs started inside overlap's threads carry the caller's Spark
    local properties, so the caller's job group counts (and can cancel)
    them."""
    sc = spark.sparkContext
    sc.setJobGroup("overlap_group", "overlap")
    try:
        scale.overlap(lambda: spark.range(10).count(), lambda: spark.range(5).count())
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup("overlap_group")) >= 2


def test_overlap_of_nothing_is_empty():
    assert scale.overlap() == []


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_spilled_releases_cache_on_exit_and_on_error(spark):
    """spilled caches for the body of the with-block and releases the
    cache on a normal exit and on an exception alike."""
    spark.catalog.clearCache()
    df = spark.range(100)
    with scale.spilled(df) as cached:
        assert cached.count() == 100
        assert not _cache_empty(spark)
    assert _cache_empty(spark)

    with pytest.raises(ValueError):
        with scale.spilled(df):
            df.count()
            raise ValueError("inside")
    assert _cache_empty(spark)


@pytest.mark.parametrize(
    "name",
    ["pipeline_bloom_decontaminate", "agg_heavy_hitters_tokens", "pipeline_curation_e2e"],
)
def test_query_releases_its_caches(spark, name):
    """A query releases every cached relation it creates: after it ran,
    the session cache manager holds nothing."""
    from cdc_poc_spark.queries import all_specs

    spark.catalog.clearCache()
    all_specs()[name].fn(spark, SF_DIR).collect()
    assert _cache_empty(spark)


def test_pins_and_overlaps_only_in_scale():
    """Every eager pin, reliable checkpoint and driver-thread overlap
    goes through operators/scale.py (pin / overlap): no other package
    file hand-rolls one."""
    import os
    import re

    pkg = os.path.dirname(os.path.dirname(scale.__file__))
    pattern = re.compile(r"\.localCheckpoint\b|\.checkpoint\(|ThreadPoolExecutor")
    offenders = []
    for root, _, files in os.walk(pkg):
        for f in files:
            path = os.path.join(root, f)
            if not f.endswith(".py") or path == scale.__file__:
                continue
            with open(path) as fh:
                offenders += [
                    f"{os.path.relpath(path, pkg)}:{i}"
                    for i, line in enumerate(fh, 1)
                    if pattern.search(line)
                ]
    assert not offenders, offenders


def test_heavy_hitters_exact_and_partitioning_independent(spark):
    """heavy_hitters returns EXACTLY the values with freq > N/(k+1),
    with exact counts, regardless of physical partitioning (the
    pigeonhole candidate superset holds for any layout)."""
    from collections import Counter

    from cdc_poc_spark.operators.sketches import heavy_hitters

    vals = (["a"] * 300 + ["b"] * 150 + ["c"] * 40
            + [f"x{i}" for i in range(510)])  # N=1000
    k = 9  # threshold: freq > 100
    expect = {
        v: c for v, c in Counter(vals).items() if c * (k + 1) > len(vals)
    }
    assert expect == {"a": 300, "b": 150}  # c=40 below, singletons far below
    for parts in (1, 7, 32):
        df = spark.createDataFrame(
            [(v,) for v in vals], "v string"
        ).repartition(parts)
        got = {r.v: r.n for r in heavy_hitters(df, "v", k).collect()}
        assert got == expect, f"partitioning {parts} changed the result"


def test_global_cumsum_matches_window(spark):
    """global_cumsum (range partition + prefix offsets) must equal the
    single-partition window cumsum on the same total order, including
    ties broken by the secondary key and null-sum partitions."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from cdc_poc_spark.operators.scale import global_cumsum

    df = spark.range(0, 1000).select(
        F.col("id"),
        (F.pmod(F.col("id") * 2654435761, F.lit(997))).alias("v"),
    )
    got = {
        r.id: r.cum
        for r in global_cumsum(df, "v", ["v", "id"], cum_col="cum").collect()
    }
    w = W.orderBy("v", "id").rowsBetween(W.unboundedPreceding, 0)
    want = {r.id: r.cum for r in df.withColumn("cum", F.sum("v").over(w)).collect()}
    assert got == want


def test_min_label_propagation_fixpoint_is_components(spark):
    """Run past the graph diameter, min-label propagation IS connected
    components (every node labeled with its component's min id)."""
    from cdc_poc_spark.operators.graph import min_label_propagation

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (20, 21)],
        "u long, v long",
    )
    out = {r.node: r.lbl for r in min_label_propagation(edges, n_iters=4).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_kcore_peel_matches_python_reference(spark):
    """kcore_peel's per-round survivor counts must equal a pure-Python
    peel on a deterministic pseudo-random graph (and shrink
    monotonically)."""
    import random

    from cdc_poc_spark.operators.graph import kcore_peel

    rng = random.Random(7)
    # canonicalized (min, max) and deduped: the operator symmetrizes
    # with UNION ALL (matching its SQL oracle), so a pair present in
    # both orientations would double its degree contribution — callers
    # feed DISTINCT one-orientation edge relations (the registered
    # bipartite graph cannot even express a reversed duplicate).
    edges = sorted(
        {
            (min(a, b), max(a, b))
            for a, b in ((rng.randrange(40), rng.randrange(40)) for _ in range(120))
            if a != b
        }
    )
    k, rounds = 3, 3
    # python reference: symmetric adjacency, peel by current degree
    cur = {(u, v) for u, v in edges} | {(v, u) for u, v in edges}
    expect = []
    for _ in range(rounds):
        deg = {}
        for u, _v in cur:
            deg[u] = deg.get(u, 0) + 1
        keep = {n for n, d in deg.items() if d >= k}
        cur = {(u, v) for u, v in cur if u in keep and v in keep}
        expect.append((len({u for u, _ in cur}), len(cur)))
    df = spark.createDataFrame(edges, "u long, v long")
    got = [
        (r.n_nodes, r.n_edges_x2)
        for r in kcore_peel(df, k=k, n_rounds=rounds).orderBy("round").collect()
    ]
    assert got == expect
    assert all(got[i] >= got[i + 1] for i in range(len(got) - 1))


def test_min_label_propagation_matches_python_reference(spark):
    """Bounded min-label propagation must equal the synchronous
    pure-Python rounds on a deterministic pseudo-random graph."""
    import random

    from cdc_poc_spark.operators.graph import min_label_propagation

    rng = random.Random(11)
    edges = sorted({(rng.randrange(60), rng.randrange(60)) for _ in range(80)})
    edges = [(u, v) for u, v in edges if u != v]
    adj = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    lbl = {n: n for n in adj}
    for _ in range(3):
        lbl = {n: min([lbl[n]] + [lbl[m] for m in adj[n]]) for n in adj}
    df = spark.createDataFrame(edges, "u long, v long")
    got = {r.node: r.lbl for r in min_label_propagation(df, n_iters=3).collect()}
    assert got == lbl


@pytest.mark.parametrize(
    "u, v, ok",
    [
        (2**31 - 1, 2**31, True),
        (2**31, 2**31 + 1, False),  # u * 2^32 overflows the long
        (1, 2**32 + 1, False),  # v spills into u's bits: decodes as (2, 1)
        (-5, -3, False),  # the arithmetic shift decodes u as -6
    ],
)
def test_coorder_pack_bound_is_enforced(spark, tmp_path, u, v, ok):
    """The co-order pair pack u*2^32 + v decodes exactly while
    0 <= u < 2^31 and v < 2^32; outside that range the query must fail
    with its own message instead of returning a wrong pair."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from cdc_poc_spark.queries.profiling import _coorder_part_edges

    pq.write_table(
        pa.table({"l_orderkey": [1, 1, 2, 2], "l_partkey": [u, v, u, v]}),
        str(tmp_path / "lineitem.parquet"),
    )
    if ok:
        got = [tuple(r) for r in _coorder_part_edges(spark, str(tmp_path)).collect()]
        assert got == [(u, v, 2)]
    else:
        with pytest.raises(Exception, match="co-order part key out of the packed range"):
            _coorder_part_edges(spark, str(tmp_path))
