"""Semantic tests for the sketch/LSH operators that have no SQL oracle:
each approximate path is validated against its exact twin (recall), and
the multimodal plumbing is validated for shape + determinism."""

from __future__ import annotations

import pytest

from cdc_poc_spark.operators import dedup, multimodal, similarity
from cdc_poc_spark.tables import load_table

from .conftest import SF_DIR


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF_DIR, "documents")


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF_DIR, "embeddings")


def test_minhash_lsh_recall_vs_exact(spark, docs):
    """LSH candidates + exact verification must recover (almost) all true
    near-dup pairs; verified pairs must be a subset of the truth."""
    truth = {
        (r.id_a, r.id_b)
        for r in dedup.exact_jaccard_pairs(docs, threshold=0.5).collect()
    }
    found = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_lsh_dedup_pairs(docs, threshold=0.5).collect()
    }
    assert found <= truth  # exact verification step guarantees precision
    if truth:
        recall = len(found & truth) / len(truth)
        assert recall >= 0.9, f"LSH recall {recall:.2f} over {len(truth)} true pairs"


def test_minhash_lsh_collapsed_equals_flat_on_clones(spark, docs):
    """The clone-collapsed LSH pipeline must emit EXACTLY the flat
    pipeline's (id_a, id_b, jaccard) rows on a clone-doubled corpus
    (each doc duplicated under a shifted id — the 10x-probe shape where
    flat LSH was measured 7.7x). Identical texts have identical hashed
    shingle sets, so clone pairs carry Jaccard exactly 1.0 and expanded
    pairs inherit the canonical pair's value bit-for-bit."""
    from pyspark.sql import functions as F

    base = docs.limit(300)
    offset = 1_000_000
    doubled = base.unionByName(
        base.withColumn("doc_id", F.col("doc_id") + offset)
    )
    flat = {
        (r.id_a, r.id_b, r.jaccard)
        for r in dedup.minhash_lsh_dedup_pairs(doubled, threshold=0.5).collect()
    }
    collapsed = {
        (r.id_a, r.id_b, r.jaccard)
        for r in dedup.minhash_lsh_pairs_collapsed(doubled, threshold=0.5).collect()
    }
    assert collapsed == flat
    # the clone pairs themselves must be present at jaccard 1.0
    assert any(b == a + offset and j == 1.0 for a, b, j in collapsed)


def test_simhash_detects_near_dups(spark, docs):
    """True high-Jaccard pairs should sit close in SimHash space."""
    truth = {
        (r.id_a, r.id_b)
        for r in dedup.exact_jaccard_pairs(docs, threshold=0.8).collect()
    }
    near = {
        (r.id_a, r.id_b)
        for r in dedup.simhash_near_pairs(docs, max_hamming=10).collect()
    }
    if truth:
        recall = len(near & truth) / len(truth)
        assert recall >= 0.7, f"SimHash recall {recall:.2f} over {len(truth)} pairs"


def test_simhash_is_deterministic(spark, docs):
    a = {(r.doc_id, r.simhash) for r in dedup.simhash(docs.limit(50)).collect()}
    b = {(r.doc_id, r.simhash) for r in dedup.simhash(docs.limit(50)).collect()}
    assert a == b


def test_ann_lsh_recall_vs_brute_force(spark, emb):
    """Bucketed ANN must find a reasonable fraction of the true top-5
    (4 hyperplanes -> 16 buckets -> ~1/16 of corpus scanned)."""
    exact = {
        (r.query_id, r.neighbor_id)
        for r in similarity.cosine_topk(emb).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in similarity.ann_lsh_topk(emb).collect()
    }
    recall = len(exact & approx) / len(exact)
    # random-hyperplane LSH on top-5: same-bucket probability rises with
    # cosine; loose floor documents the tradeoff rather than tuning to it
    assert recall >= 0.2, f"ANN recall {recall:.2f}"


def test_ann_ivf_recall_vs_brute_force(spark, emb):
    """IVF with 4/16 probes scans ~25% of the corpus; on clustered data
    recall would be near 1, on this random fixture the floor documents
    that probing the nearest cells beats random (25%) scanning."""
    exact = {
        (r.query_id, r.neighbor_id)
        for r in similarity.cosine_topk(emb).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in similarity.ivf_topk(emb).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.3, f"IVF recall {recall:.2f}"


def test_ann_ivfpq_recall_vs_brute_force(spark, emb):
    """IVF-PQ: same 4/16 pruning as IVF plus PQ asymmetric distance —
    recall must still beat the 25% random-scan floor even though
    database vectors are scored from 8 one-byte codes (32x
    compression; measured 0.34 on the fixture, ceiling 0.92)."""
    exact = {
        (r.query_id, r.neighbor_id)
        for r in similarity.euclidean_topk(emb).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in similarity.ivfpq_topk(emb).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.28, f"IVFPQ recall {recall:.2f}"


def test_embedding_cosine_pairs_symmetric_subset(spark, emb):
    """Blocked pairs must be ordered (id_a < id_b), unique, and respect
    the threshold."""
    rows = similarity.embedding_cosine_pairs(emb, threshold=0.3).collect()
    assert rows, "threshold 0.3 should yield pairs on the fixture"
    assert all(r.id_a < r.id_b for r in rows)
    assert all(r.cosine >= 0.3 for r in rows)
    assert len({(r.id_a, r.id_b) for r in rows}) == len(rows)


def _naive_block_pairs(emb, threshold):
    """The textbook within-block self-join — correctness twin for the
    clone-collapsed formulation (mirrors the DuckDB oracle)."""
    from pyspark.sql import functions as F

    from cdc_poc_spark.operators.similarity import as_double, dot, norm

    e = (
        emb.filter(F.col("label").isNotNull())
        .select("vec_id", "label", as_double("embedding").alias("vec"))
        .withColumn("vnorm", norm("vec"))
    )
    a = e.select("label", F.col("vec_id").alias("id_a"), F.col("vec").alias("va"), F.col("vnorm").alias("na"))
    b = e.select("label", F.col("vec_id").alias("id_b"), F.col("vec").alias("vb"), F.col("vnorm").alias("nb"))
    cos = F.round(dot("va", "vb") / (F.col("na") * F.col("nb")), 5).alias("cosine")
    return (
        a.join(b, "label")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cos)
        .filter(F.col("cosine") >= threshold)
    )


def test_embedding_cosine_pairs_clone_collapse_exact(spark, emb):
    """The clone-collapsed plan must emit EXACTLY the naive within-label
    self-join's rows on a clone-heavy input (every vector duplicated
    under shifted ids — the 10x-probe shape, where label blocking alone
    was measured 10.2x)."""
    from pyspark.sql import functions as F

    base = emb.limit(300)
    offset = 1_000_000
    clones = base.withColumn("vec_id", F.col("vec_id") + offset)
    doubled = base.unionByName(clones)
    got = {
        (r.id_a, r.id_b, r.cosine)
        for r in similarity.embedding_cosine_pairs(doubled, threshold=0.3).collect()
    }
    want = {
        (r.id_a, r.id_b, r.cosine)
        for r in _naive_block_pairs(doubled, 0.3).collect()
    }
    assert got == want
    # clone pairs (cosine 1.0 in-family) must be present
    assert any(b == a + offset for a, b, _ in got)


def test_unigram_logprob_scores_rarity(spark):
    """Docs made of rare tokens must score lower (more negative avg
    log-prob) than docs made of the corpus-dominant token; values are
    exact-integer micro-nats and deterministic across runs."""
    from cdc_poc_spark.operators.text import unigram_logprob

    rows = [(i, "common common common common") for i in range(20)]
    rows.append((100, "rareword common common common"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in unigram_logprob(df).collect()}
    assert set(got) == {*range(20), 100}
    assert all(r.q_lp_sum < 0 for r in got.values())
    common_avg = got[0].avg_micro_nats
    assert got[100].avg_micro_nats < common_avg  # rare token drags it down
    assert all(got[i].avg_micro_nats == common_avg for i in range(20))
    again = {r.doc_id: r.q_lp_sum for r in unigram_logprob(df).collect()}
    assert again == {k: v.q_lp_sum for k, v in got.items()}


def test_media_features_shape_and_determinism(spark, docs):
    media = multimodal.synthesize_media(docs.limit(20))
    f1 = multimodal.extract_features(media).collect()
    f2 = multimodal.extract_features(media).collect()
    assert len(f1) == 20
    assert all(len(r.features) == multimodal.FEATURE_DIM for r in f1)
    assert sorted((r.media_id, tuple(r.features)) for r in f1) == sorted(
        (r.media_id, tuple(r.features)) for r in f2
    )


def test_decode_stub_raises(spark):
    with pytest.raises(NotImplementedError):
        multimodal.decode_image(b"bytes")


def test_resize_media_targets(spark, docs):
    media = multimodal.synthesize_media(docs.limit(30))
    out = multimodal.resize_media(media, 256, 256).collect()
    src = {r.media_id: (r.meta.width, r.meta.height) for r in media.collect()}
    assert len(out) == 30
    for r in out:
        w0, h0 = src[r.media_id]
        assert 1 <= r.width <= 256 and 1 <= r.height <= 256
        s = min(256 / w0, 256 / h0, 1.0)
        expect = (max(int(w0 * s), 1), max(int(h0 * s), 1))
        assert (r.width, r.height) == expect


# ---------------------------------------------------------------------------
# Connected components (operators/graph.py)
# ---------------------------------------------------------------------------

def _union_find(edges):
    """Reference implementation: classic union-find over collected edges."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


@pytest.mark.parametrize(
    "edges",
    [
        [(1, 2)],
        [(1, 2), (2, 3), (4, 5)],  # transitive chain + separate pair
        [(5, 1), (3, 5), (2, 4), (9, 8), (8, 2)],  # order-scrambled
        [(i, i + 1) for i in range(1, 30)],  # one long path (worst diameter)
        [(1, 2), (2, 1), (2, 3), (3, 1)],  # cycles + duplicate edges
    ],
)
def test_connected_components_matches_union_find(spark, edges):
    """Both execution paths — the driver union-find fast path (default
    for small graphs) and the distributed large/small-star rounds
    (forced with driver_threshold=0) — must match the reference."""
    from cdc_poc_spark.operators.graph import connected_components

    df = spark.createDataFrame(edges, ["src", "dst"])
    expect = _union_find(edges)
    fast = {r.node: r.component for r in connected_components(df).collect()}
    dist = {
        r.node: r.component
        for r in connected_components(df, driver_threshold=0).collect()
    }
    assert fast == expect
    assert dist == expect


def test_connected_components_random_graph(spark):
    """Randomized graph (fixed seed): star/chain/clique mixture; both
    paths again."""
    import random

    rng = random.Random(7)
    edges = [(rng.randrange(200), rng.randrange(200)) for _ in range(150)]
    edges = [(a, b) for a, b in edges if a != b]
    from cdc_poc_spark.operators.graph import connected_components

    df = spark.createDataFrame(edges, ["src", "dst"])
    expect = _union_find(edges)
    assert {r.node: r.component for r in connected_components(df).collect()} == expect
    assert {
        r.node: r.component
        for r in connected_components(df, driver_threshold=0).collect()
    } == expect


def test_connected_components_reliable_checkpoint(spark, tmp_path):
    """checkpoint_dir switches the per-round lineage pins of the
    distributed star rounds from localCheckpoint to a reliable
    checkpoint (mirrors the PPJoin's option): identical components, and
    checkpoint files land in the given dir."""
    import os
    import random

    from cdc_poc_spark.operators.graph import connected_components

    rng = random.Random(11)
    edges = [(rng.randrange(300), rng.randrange(300)) for _ in range(200)]
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, ["src", "dst"])
    expect = _union_find(edges)
    ckpt = str(tmp_path / "cc_ckpt")
    got = {
        r.node: r.component
        for r in connected_components(
            df, driver_threshold=0, checkpoint_dir=ckpt
        ).collect()
    }
    assert got == expect
    assert any(files for _, _, files in os.walk(ckpt)), "no checkpoint files written"


def test_dup_rate_precomputed_components_identical(spark, docs):
    """dup_rate_by_source(docs, components=...) lets a composed pipeline
    reuse one exact_jaccard_components run across reports; results must
    be identical to the self-contained path."""
    from cdc_poc_spark.queries.analytics import dup_rate_by_source

    comp = dedup.exact_jaccard_components(docs)
    a = {tuple(r) for r in dup_rate_by_source(docs).collect()}
    b = {tuple(r) for r in dup_rate_by_source(docs, components=comp).collect()}
    assert a == b and a


def test_lsh_clusters_agree_with_exact_graph(spark, docs):
    """Cluster assignments from LSH pairs must agree with the exact
    Jaccard pair graph on (almost) all documents — same last stage, only
    the candidate generation differs."""
    from cdc_poc_spark.operators.graph import connected_components

    exact = dedup.exact_jaccard_pairs(docs).select("id_a", "id_b")
    lsh = dedup.minhash_lsh_dedup_pairs(docs).select("id_a", "id_b")
    ce = {r.node: r.component for r in connected_components(exact).collect()}
    cl = {r.node: r.component for r in connected_components(lsh).collect()}
    if ce:
        agree = sum(1 for n, c in ce.items() if cl.get(n) == c) / len(ce)
        assert agree >= 0.9, f"cluster agreement {agree:.2f} over {len(ce)} nodes"


def test_hll_sketch_union_accuracy(spark):
    """Unioned per-group HLL sketches must estimate the true global
    cardinality within the in-query 5% contract (every row's flag TRUE,
    including the unioned ALL row), and the exact columns must match a
    direct distinct count."""
    from cdc_poc_spark.queries import all_specs

    rows = {r.event_type: r for r in
            all_specs()["agg_hll_sketch_union"].fn(spark, SF_DIR).collect()}
    ev = load_table(spark, SF_DIR, "events")
    exact_global = ev.selectExpr("count(distinct user_id) c").first().c
    assert rows["ALL"].n_users_exact == exact_global
    assert all(r.sketch_within_5pct for r in rows.values())


def test_minhash_tiered_agrees_with_flat_on_canonicals(spark):
    from cdc_poc_spark.operators import dedup as dd

    docs = load_table(spark, SF_DIR, "documents")
    flat = dd.minhash_lsh_dedup_pairs(docs)
    tiered = dd.minhash_tiered_pairs(docs)
    # canonical ids: min doc_id per md5(text) — true byte-identical
    # clones only (the tier-1 semantics the tiered pipeline collapses)
    from pyspark.sql import functions as F2
    all_fp = (
        docs.select("doc_id", F2.md5(F2.col("text")).alias("fp"))
        .groupBy("fp")
        .agg(F2.min("doc_id").alias("keep_id"))
    )
    canon = {r["keep_id"] for r in all_fp.collect()}
    flat_canon = {
        (r["id_a"], r["id_b"])
        for r in flat.collect()
        if r["id_a"] in canon and r["id_b"] in canon
    }
    tiered_pairs = {(r["id_a"], r["id_b"]) for r in tiered.collect()}
    assert tiered_pairs == flat_canon
    # member counts are consistent: every pair endpoint counts >= 1
    assert all(
        r["n_members_a"] >= 1 and r["n_members_b"] >= 1 for r in tiered.collect()
    )


def test_lsh_mega_bucket_is_capped(spark):
    """Adversarial skew (VERDICT r1): 10k byte-identical boilerplate
    docs all land in ONE LSH bucket per band. The capped bucket
    expansion must bound the per-task pair blowup (<= cap^2/2 pairs,
    never 10k^2/2 ~ 50M) and still identify the clones among the kept
    members; the stats query must report the truncation."""
    from pyspark.sql import functions as F2

    boiler = "the quick brown fox jumps over the lazy dog " * 5
    rows = [(i, boiler) for i in range(10_000)] + [
        (20_000, "a completely different document about spark shuffles and scale"),
        (20_001, "a completely different document about spark shuffles at scale"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    cap = dedup.LSH_BUCKET_CAP
    pairs = dedup.minhash_lsh_dedup_pairs(df, threshold=0.5)
    n_pairs = pairs.count()
    # bounded: at most C(cap,2) clone pairs per bucket (identical docs
    # dedupe to the same pair set across bands) + the distinct near-dup pair
    assert 0 < n_pairs <= cap * (cap - 1) // 2 + 1
    # the kept members are the cap-smallest ids -> pairs only among them
    max_id_in_pairs = pairs.agg(F2.max(F2.greatest("id_a", "id_b"))).first()[0]
    assert max_id_in_pairs >= 20_000 or max_id_in_pairs < cap
    # truncation is visible, not silent
    stats = dedup.lsh_bucket_stats(df).first()
    assert stats.max_bucket >= 10_000
    assert stats.n_buckets_over_cap >= 1
    assert stats.n_members_dropped >= 10_000 - cap
    # tiered pipeline (production ordering) collapses the clones first:
    # no mega-bucket ever forms
    tiered = dedup.minhash_tiered_pairs(df, threshold=0.5)
    t = {(r.id_a, r.id_b): (r.n_members_a, r.n_members_b) for r in tiered.collect()}
    assert (20_000, 20_001) in t
    # the boilerplate cluster collapsed to ONE canonical doc (id 0,
    # 10k members) before LSH — no mega-bucket formed at all
    assert all(a < cap or a >= 20_000 for pair in t for a in pair)
    member_counts = {v for vals in t.values() for v in vals}
    assert member_counts <= {1, 10_000}


def test_lsh_mega_bucket_capped_for_near_identical_docs(spark):
    """Adversarial skew the clone-collapse tier CANNOT absorb: 10k docs
    sharing one boilerplate body but each with a unique trailing token,
    so md5(text) differs per doc and the tiered path sees 10k distinct
    docs whose MinHash bands still concentrate into mega-buckets. Both
    the flat and tiered pipelines must stay bounded (cap^2-scale pair
    counts, never ~50M) and the stats query must expose the truncation."""
    boiler = "terms of service boilerplate common to every page " * 4
    rows = [(i, f"{boiler}unique{i}") for i in range(10_000)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    cap = dedup.LSH_BUCKET_CAP
    bound = 8 * cap * (cap - 1) // 2  # <= C(cap,2) per band x 8 bands
    n_flat = dedup.minhash_lsh_dedup_pairs(df, threshold=0.5).count()
    assert 0 < n_flat <= bound
    n_tiered = dedup.minhash_tiered_pairs(df, threshold=0.5).count()
    assert 0 < n_tiered <= bound
    stats = dedup.lsh_bucket_stats(df).first()
    assert stats.n_buckets_over_cap >= 1
    assert stats.n_members_dropped > 0


def test_simhash_mega_bucket_is_capped(spark):
    """Same adversarial shape through the SimHash path: identical docs
    share a simhash, so every band bucket holds all 5k — capped
    expansion keeps the job bounded."""
    boiler = "lorem ipsum dolor sit amet consectetur adipiscing elit " * 3
    rows = [(i, boiler) for i in range(5_000)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    cap = dedup.LSH_BUCKET_CAP
    n = dedup.simhash_near_pairs(df, max_hamming=3).count()
    assert 0 < n <= cap * (cap - 1) // 2


def test_prefix_jaccard_reliable_checkpoint(spark, docs, tmp_path):
    """checkpoint_dir switches the pair pin from localCheckpoint to a
    reliable checkpoint: results are identical, the checkpoint files
    land in the given dir, and the pairs stay consumable after the
    working caches were released (multi-consumer pattern)."""
    import os

    ckpt = str(tmp_path / "ppjoin_ckpt")
    out = dedup.exact_jaccard_pairs(docs, threshold=0.5, checkpoint_dir=ckpt)
    reliable = {(r.id_a, r.id_b, round(r.jaccard, 9)) for r in out.collect()}
    local = {
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in dedup.exact_jaccard_pairs(docs, threshold=0.5).collect()
    }
    assert reliable == local
    assert any(files for _, _, files in os.walk(ckpt)), "no checkpoint files written"
    # still consumable: count + join after the caches are gone
    assert out.count() == len(reliable)


def test_prefix_jaccard_equals_quadratic(spark, docs):
    """exact_jaccard_pairs (prefix-filtered equi-join) must emit exactly
    the naive cross join's rows — prefix filtering is a pruning rule,
    not an approximation — at two thresholds."""
    for t in (0.5, 0.8):
        q = {
            (r.id_a, r.id_b, round(r.jaccard, 9))
            for r in dedup.exact_jaccard_pairs_quadratic(docs, threshold=t).collect()
        }
        p = {
            (r.id_a, r.id_b, round(r.jaccard, 9))
            for r in dedup.exact_jaccard_pairs(docs, threshold=t).collect()
        }
        assert p == q, f"threshold {t}: {len(p)} vs {len(q)} pairs"


def test_incremental_jaccard_equals_quadratic(spark, docs):
    """exact_jaccard_pairs_incremental (R-S prefix filter) must emit
    exactly the naive new x index cross join's rows, at two thresholds
    — the R-S prefix/length/positional filters are pruning rules over
    distinct relations, not approximations."""
    from pyspark.sql import functions as F2

    new = docs.filter(F2.pmod(F2.col("doc_id"), F2.lit(10)) == 0)
    idx = docs.filter(F2.pmod(F2.col("doc_id"), F2.lit(10)) != 0)
    a = dedup.with_shingles(new).select(
        F2.col("doc_id").alias("new_id"), F2.col("shingles").alias("sh_a")
    )
    b = dedup.with_shingles(idx).select(
        F2.col("doc_id").alias("index_id"), F2.col("shingles").alias("sh_b")
    )
    for t in (0.5, 0.8):
        q = {
            (r.new_id, r.index_id, round(r.jaccard, 9))
            for r in a.crossJoin(b)
            .withColumn("jaccard", dedup.jaccard("sh_a", "sh_b"))
            .filter(F2.col("jaccard") >= t)
            .collect()
        }
        for collapse in (False, True):
            p = {
                (r.new_id, r.index_id, round(r.jaccard, 9))
                for r in dedup.exact_jaccard_pairs_incremental(
                    new, idx, threshold=t, collapse_clones=collapse
                ).collect()
            }
            assert p == q, (
                f"threshold {t} collapse={collapse}: {len(p)} vs {len(q)} pairs"
            )


def test_prefix_jaccard_empty_common_sample(spark):
    """Inputs so small the 1/8 common-token sample selects zero docs
    must still plan and run (typed empty literal, not array<string>)."""
    from pyspark.sql import functions as F2

    base = spark.createDataFrame([(i,) for i in range(200)], "doc_id long")
    miss = [
        r.doc_id
        for r in base.withColumn("h", F2.pmod(F2.xxhash64("doc_id"), F2.lit(8)))
        .filter("h <> 0")
        .limit(4)
        .collect()
    ]
    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta") for i in miss[:2]]
        + [(i, f"totally different text body number {i} here") for i in miss[2:]],
        "doc_id long, text string",
    )
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.exact_jaccard_pairs(docs, threshold=0.5).collect()
    }
    assert pairs == {(miss[0], miss[1]): 1.0}  # the two clones, nobody else


def test_triangle_stats_known_graphs(spark):
    """K4 (4 triangles, 12 wedges, coefficient 1.0) plus a disjoint
    2-path (1 wedge, 0 triangles) — totals must be exact."""
    from cdc_poc_spark.operators.graph import triangle_stats

    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    path = [(10, 11), (11, 12)]
    df = spark.createDataFrame(k4 + path, ["src", "dst"])
    row = triangle_stats(df).collect()[0]
    assert row.n_nodes == 7
    assert row.n_edges == 8
    assert row.n_wedges == 13
    assert row.n_triangles == 4
    assert row.clustering_coefficient == round(12 / 13, 6)


def test_triangle_stats_no_triangles(spark):
    from cdc_poc_spark.operators.graph import triangle_stats

    df = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], ["src", "dst"])
    row = triangle_stats(df).collect()[0]
    assert row.n_triangles == 0 and row.n_wedges == 2
    assert row.clustering_coefficient == 0.0


def test_persisted_jaccard_index_matches_inline(spark, docs):
    """build_jaccard_index + incremental_vs_jaccard_index must emit
    exactly the inline R-S join's rows — at the built threshold AND at
    a higher one (the stored prefixes re-cut to the query threshold) —
    and refuse a query below the built threshold."""
    import pytest as _pytest
    from pyspark.sql import functions as F2

    new = docs.filter(F2.pmod(F2.col("doc_id"), F2.lit(10)) == 0)
    idx = docs.filter(F2.pmod(F2.col("doc_id"), F2.lit(10)) != 0)
    dedup.build_jaccard_index(idx, "jidx_test", threshold=0.5)
    try:
        for t in (0.5, 0.8):
            inline = {
                (r.new_id, r.index_id, round(r.jaccard, 9))
                for r in dedup.exact_jaccard_pairs_incremental(
                    new, idx, threshold=t, collapse_clones=False
                ).collect()
            }
            saved = {
                (r.new_id, r.index_id, round(r.jaccard, 9))
                for r in dedup.incremental_vs_jaccard_index(
                    new, "jidx_test", threshold=t
                ).collect()
            }
            assert saved == inline, f"threshold {t}"
        # the index side must stream from the bucketed tables
        plan = dedup.incremental_vs_jaccard_index(
            new, "jidx_test", threshold=0.5, pin_result=False
        )._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        assert "Bucketed: true" in plan
        with _pytest.raises(ValueError, match="lower threshold"):
            dedup.incremental_vs_jaccard_index(new, "jidx_test", threshold=0.3)
    finally:
        for t_name in (
            "jidx_test_hsets",
            "jidx_test_prefix",
            "jidx_test_commons",
            "jidx_test_meta",
        ):
            spark.sql(f"DROP TABLE IF EXISTS {t_name}")


def test_jaccard_index_append_grows_index(spark, docs):
    """build on slice A, append slice B, query slice C: results must
    equal the inline R-S join of C against A ∪ B — the appended rows
    participate under the frozen token order/threshold."""
    from pyspark.sql import functions as F2

    part = F2.pmod(F2.col("doc_id"), F2.lit(3))
    a = docs.filter(part == 1)
    b = docs.filter(part == 2)
    c = docs.filter(part == 0)
    dedup.build_jaccard_index(a, "jidx_grow", threshold=0.5)
    try:
        dedup.append_to_jaccard_index(b, "jidx_grow")
        saved = {
            (r.new_id, r.index_id, round(r.jaccard, 9))
            for r in dedup.incremental_vs_jaccard_index(
                c, "jidx_grow", threshold=0.5
            ).collect()
        }
        inline = {
            (r.new_id, r.index_id, round(r.jaccard, 9))
            for r in dedup.exact_jaccard_pairs_incremental(
                c, a.unionByName(b), threshold=0.5, collapse_clones=False
            ).collect()
        }
        assert saved == inline and inline  # fixture has cross-slice near-dups
    finally:
        for t_name in (
            "jidx_grow_hsets",
            "jidx_grow_prefix",
            "jidx_grow_commons",
            "jidx_grow_meta",
        ):
            spark.sql(f"DROP TABLE IF EXISTS {t_name}")


def test_jaccard_index_rejects_other_format_version(spark, docs):
    """An index whose _meta carries no format version (written before the
    version existed) or another version is refused by both readers:
    its prefix rows are cut differently and would silently lose pairs."""
    from pyspark.sql import functions as F2

    part = F2.pmod(F2.col("doc_id"), F2.lit(2))
    dedup.build_jaccard_index(docs.filter(part == 0), "jidx_ver", threshold=0.5)
    new = docs.filter(part == 1)
    try:
        for row, schema in (
            ((0.5, 32), "built_t double, n_buckets int"),
            ((0.5, 32, 1), "built_t double, n_buckets int, format_version int"),
        ):
            spark.createDataFrame([row], schema).write.mode("overwrite").format(
                "parquet"
            ).saveAsTable("jidx_ver_meta")
            with pytest.raises(ValueError, match="format version"):
                dedup.incremental_vs_jaccard_index(new, "jidx_ver", threshold=0.5)
            with pytest.raises(ValueError, match="format version"):
                dedup.append_to_jaccard_index(new, "jidx_ver")
    finally:
        for t_name in (
            "jidx_ver_hsets",
            "jidx_ver_prefix",
            "jidx_ver_commons",
            "jidx_ver_meta",
        ):
            spark.sql(f"DROP TABLE IF EXISTS {t_name}")


def test_persisted_ivf_index_recall_and_determinism(spark, emb):
    """The persisted IVF index must (1) beat the random-scan recall
    floor vs brute force exactly like the inline variant, (2) be
    deterministic across query calls (the index is frozen on disk),
    and (3) source every neighbor from one of the query's n_probe
    probed cells (candidates come from the stored inverted lists, not
    a corpus rescan)."""
    from pyspark.sql import functions as F2

    similarity.build_ivf_index(emb, "ivf_test")
    try:
        queries = emb.filter(F2.col("vec_id") < 10)
        got1 = {
            (r.query_id, r.neighbor_id, r.cosine, r.rank)
            for r in similarity.ivf_index_topk(queries, "ivf_test").collect()
        }
        got2 = {
            (r.query_id, r.neighbor_id, r.cosine, r.rank)
            for r in similarity.ivf_index_topk(queries, "ivf_test").collect()
        }
        assert got1 == got2 and got1
        exact = {
            (r.query_id, r.neighbor_id)
            for r in similarity.cosine_topk(emb).collect()
        }
        approx = {(q, n) for q, n, _, _ in got1}
        recall = len(exact & approx) / len(exact)
        assert recall >= 0.3, f"IVF-index recall {recall:.2f}"
        # neighbors must come from the probed cells' stored lists
        lists = {
            (r.cell_id, r.id) for r in spark.table("ivf_test_lists").collect()
        }
        assert all(any((c, n) in lists for c in range(16)) for _, n in approx)
    finally:
        for t_name in ("ivf_test_centroids", "ivf_test_lists"):
            spark.sql(f"DROP TABLE IF EXISTS {t_name}")


def test_triangle_stats_reliable_checkpoint(spark, tmp_path):
    """checkpoint_dir switches triangle_stats' multi-consumer pins to
    reliable checkpoints (same contract as connected_components /
    PPJoin — VERDICT r4 #3): identical stats, files in the dir."""
    import os

    from cdc_poc_spark.operators.graph import triangle_stats

    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    df = spark.createDataFrame(k4 + [(10, 11), (11, 12)], ["src", "dst"])
    ckpt = str(tmp_path / "tri_ckpt")
    row = triangle_stats(df, checkpoint_dir=ckpt).collect()[0]
    assert (row.n_nodes, row.n_edges, row.n_wedges, row.n_triangles) == (7, 8, 13, 4)
    assert any(files for _, _, files in os.walk(ckpt)), "no checkpoint files written"


def _pagerank_reference(edges, n_iters, total_mass=1_000_000_000_000, damping=85):
    """Driver-side integer PageRank oracle (same BIGINT DIV rounding)."""
    sym = {}
    for u, v in edges:
        sym.setdefault(u, []).append(v)
        sym.setdefault(v, []).append(u)
    deg = {n: len(vs) for n, vs in sym.items()}
    n = len(deg)
    quantum = total_mass // n
    base = (quantum * (100 - damping)) // 100
    r = {node: quantum for node in deg}
    for _ in range(n_iters):
        r = {
            node: base + (damping * sum(r[v] // deg[v] for v in vs)) // 100
            for node, vs in sym.items()
        }
    return r


def test_pagerank_k5_matches_reference_and_bucketed(spark, tmp_path):
    """The generalized pagerank operator (VERDICT r4 #4): (a) n_iters=5
    runs with per-round pins (no lineage blowup) and matches a
    driver-side integer reference bit-for-bit; (b) the bucketed
    edge-table path and the reliable-checkpoint path return identical
    rows; (c) checkpoint files land in the given dir."""
    import os
    import random

    from cdc_poc_spark.operators.graph import pagerank

    rng = random.Random(7)
    edges = sorted({(rng.randrange(40), 40 + rng.randrange(40)) for _ in range(120)})
    df = spark.createDataFrame(edges, ["u", "v"])
    expect = _pagerank_reference(edges, n_iters=5)

    got = {r.node: r.rank_micro for r in pagerank(df, n_iters=5).collect()}
    assert got == expect

    ckpt = str(tmp_path / "pr_ckpt")
    got_ck = {
        r.node: r.rank_micro
        for r in pagerank(df, n_iters=5, checkpoint_dir=ckpt).collect()
    }
    assert got_ck == expect
    assert any(files for _, _, files in os.walk(ckpt)), "no checkpoint files written"

    got_bucketed = {
        r.node: r.rank_micro
        for r in pagerank(df, n_iters=5, edge_table="pr_edges_test").collect()
    }
    assert got_bucketed == expect
    spark.sql("DROP TABLE IF EXISTS pr_edges_test")


def test_passage_dedup_short_docs_match_oracle(spark, tmp_path):
    """Documents with fewer than 10 words must contribute ZERO passages
    in BOTH engines — Spark's sequence(0, -1) descends instead of being
    empty, so the query guards it (r5 review). Parity is checked on a
    fixture that actually contains short, empty, and exact-boundary
    docs (the shipped corpus has none)."""
    import duckdb

    from cdc_poc_spark.queries import all_specs

    rows = [
        (1, "a b c", "en", "src_1", 5),                     # 3 words
        (2, "", "en", "src_1", 0),                          # empty
        (3, " ".join(f"w{i}" for i in range(10)), "en", "src_1", 30),  # exactly 1 passage
        (4, " ".join(f"w{i}" for i in range(10)), "en", "src_2", 30),  # dup of 3
        (5, " ".join(f"w{i}" for i in range(25)), "en", "src_2", 60),  # 2 passages + tail
    ]
    d = str(tmp_path / "shortdocs")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(d + "/documents.parquet")
    spec = all_specs()["text_passage_dedup"]
    sdf = spec.fn(spark, d).toPandas().sort_values("source").reset_index(drop=True)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{d}/documents.parquet/*.parquet')"
    )
    odf = con.execute(spec.oracle).fetchdf().sort_values("source").reset_index(drop=True)
    assert sdf[sorted(sdf.columns)].astype(str).equals(
        odf[sorted(sdf.columns)].astype(str)
    ), f"\n{sdf}\nvs\n{odf}"
    # and the short/empty docs contributed nothing
    assert int(sdf["n_passages"].sum()) == 4  # docs 3,4 -> 1 each; doc 5 -> 2


def test_knn_graph_cells_gemm_identical_to_catalyst(spark):
    """knn_graph_cells_gemm (per-cell numpy GEMM scoring over an Arrow
    cogroup) must emit EXACTLY the Catalyst knn_graph_cells graph — the
    round(cosine, 5) edge contract absorbs float-summation-order
    differences between numpy and the sequential higher-order-function
    aggregate, so the variants are output-identical, not merely
    recall-equivalent. Checked on the sf0.001 fixture (real corpus, all
    16 cells populated)."""
    from cdc_poc_spark.operators import similarity
    from cdc_poc_spark.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    catalyst = {
        (r.vec_id, r.rnk): (r.neighbor_id, r.cosine)
        for r in similarity.knn_graph_cells(emb).collect()
    }
    gemm = {
        (r.vec_id, r.rnk): (r.neighbor_id, r.cosine)
        for r in similarity.knn_graph_cells_gemm(emb).collect()
    }
    assert gemm == catalyst
    assert len(catalyst) > 0


def test_knn_graph_exact_sample_is_prefix_of_full(spark):
    """knn_graph_exact_sample's edges must equal the full exact graph's
    edges restricted to the sampled vec_ids (the n_sample smallest) —
    the sample baseline is a restriction, not an approximation."""
    from cdc_poc_spark.operators import similarity
    from cdc_poc_spark.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    n_sample = 16
    full = similarity.knn_graph_exact(emb).collect()
    ids = sorted({r.vec_id for r in full})[:n_sample]
    expect = {
        (r.vec_id, r.rnk, r.neighbor_id, r.cosine)
        for r in full
        if r.vec_id in set(ids)
    }
    got = {
        (r.vec_id, r.rnk, r.neighbor_id, r.cosine)
        for r in similarity.knn_graph_exact_sample(emb, n_sample=n_sample).collect()
    }
    assert got == expect
    assert len(got) == 3 * n_sample


def test_knn_graph_collapsed_identical_to_naive(spark):
    """knn_graph_blocked_collapsed must emit EXACTLY the naive all-pairs
    graph — including on a clone-heavy corpus where in-family (cosine
    1.0) edges, cross-family ties, and the k-th-level family tie all
    exercise the expansion rules (dense_rank tie keep, k-smallest-id
    caps)."""
    import random

    from cdc_poc_spark.operators import similarity

    rng = random.Random(3)
    rows = []
    vid = 0
    for label in (0, 1):
        for fam in range(6):
            base = [round(rng.uniform(-1, 1), 3) for _ in range(8)]
            for _ in range(rng.choice([1, 1, 2, 5])):  # clone families
                rows.append((vid, [float(x) for x in base], label))
                vid += 1
    # adversarial: two distinct families with the SAME pairwise cosine
    # to a third (scaled copies -> identical cosine, dense_rank tie)
    rows.append((vid, [1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0], 0)); vid += 1
    rows.append((vid, [2.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0], 0)); vid += 1
    rows.append((vid, [0.0, 1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0], 0)); vid += 1
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    naive = {
        (r.vec_id, r.rnk): (r.neighbor_id, r.cosine)
        for r in similarity.knn_graph_blocked_naive(emb).collect()
    }
    collapsed = {
        (r.vec_id, r.rnk): (r.neighbor_id, r.cosine)
        for r in similarity.knn_graph_blocked_collapsed(emb).collect()
    }
    assert collapsed == naive
    assert len(naive) > 0


def test_containment_equals_quadratic(spark, docs):
    """exact_containment_pairs (asymmetric prefix filter) must emit
    exactly the naive cross join's ordered (id_a, id_b, containment)
    rows — the probe-prefix / index-full-list split and the positional
    bound are pruning rules, not approximations — at two thresholds."""
    from pyspark.sql import functions as F

    sh = dedup.with_shingles(docs).select(
        "doc_id",
        F.array_distinct(F.transform("shingles", lambda s: F.xxhash64(s))).alias("hs"),
    )
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("hs").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("hs").alias("sh_b"))
    for t in (0.7, 0.9):
        naive = {
            (r.id_a, r.id_b, round(r.c, 9))
            for r in a.crossJoin(b)
            .filter(F.col("id_a") != F.col("id_b"))
            .withColumn(
                "c",
                F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
                / F.size("sh_a").cast("double"),
            )
            .filter(F.col("c") >= t - 1e-9)
            .collect()
        }
        pruned = {
            (r.id_a, r.id_b, round(r.containment, 9))
            for r in dedup.exact_containment_pairs(docs, threshold=t).collect()
        }
        assert pruned == naive, f"threshold {t}: {len(pruned)} vs {len(naive)} pairs"


def test_sorted_neighborhood_properties(spark, docs):
    """SNM pairs must respect the window bound, the verification
    threshold, and precision (every emitted pair IS a true >=t Jaccard
    pair on distinct token sets); a doubled corpus must surface clone
    pairs whenever the clones end up within the window."""
    from pyspark.sql import functions as F

    w, t = 4, 0.5
    rows = dedup.sorted_neighborhood_pairs(docs, window=w, threshold=t).collect()
    assert rows, "fixture clone families should produce SNM pairs"
    assert all(1 <= r.rank_gap <= w for r in rows)
    assert all(r.jaccard >= t for r in rows)
    # precision: re-verify each emitted pair against the true token sets
    tset = {
        r.doc_id: frozenset(x for x in r.text.split(" ") if x)
        for r in docs.select("doc_id", "text").collect()
    }
    for r in rows:
        a, b = tset[r.id_a], tset[r.id_b]
        true_j = len(a & b) / len(a | b)
        assert abs(true_j - r.jaccard) < 1e-9 and true_j >= t


def test_winnowing_guarantee_and_density(spark):
    """The winnowing guarantee (SIGMOD'03): two documents sharing a
    substring of >= k + w - 1 tokens must share at least one selected
    fingerprint HASH. Density: ~2/(w+1) of grams selected — assert the
    loose upper bound that selection never exceeds window count."""
    from cdc_poc_spark.operators import text as T

    k, w = 4, 5
    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 = k+w-1 tokens
    df = spark.createDataFrame(
        [
            (1, "x1 y1 z1 " + shared + " q1 r1"),
            (2, "m2 n2 " + shared + " s2 t2 u2 v2 w2"),
            (3, "completely different tokens without any overlap here at all"),
        ],
        "doc_id int, text string",
    )
    sel = T.winnowing_selected(df, k=k, w=w).collect()
    by_doc = {}
    for r in sel:
        by_doc.setdefault(r.doc_id, set()).add(r.h)
    assert by_doc[1] & by_doc[2], "shared k+w-1 substring must share a fingerprint"
    assert not (by_doc[1] & by_doc[3]) and not (by_doc[2] & by_doc[3])
    fp = T.winnowing_fingerprints(df, k=k, w=w).collect()
    for r in fp:
        assert 1 <= r.n_fingerprints <= r.n_windows


def test_winnowing_oversized_doc_fails_loudly(spark, monkeypatch):
    """A document whose gram positions exceed the packed-key position
    field must FAIL (raise_error inside the key expression) instead of
    silently corrupting fingerprints (ADVICE r5). Patch the position
    width down to 4 bits so a 20-gram doc overflows it cheaply."""
    import pytest
    from py4j.protocol import Py4JJavaError

    from cdc_poc_spark.operators import text as T

    monkeypatch.setattr(T, "_WINNOW_POS_BITS", 4)
    df = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(24)))], "doc_id int, text string"
    )
    with pytest.raises((Py4JJavaError, Exception), match="winnowing"):
        T.winnowing_fingerprints(df, k=4, w=5).collect()
    # and a doc under the patched bound still fingerprints fine
    ok = spark.createDataFrame(
        [(2, " ".join(f"t{i}" for i in range(12)))], "doc_id int, text string"
    )
    assert T.winnowing_fingerprints(ok, k=4, w=5).count() == 1


def test_anomaly_zscore_constant_series_no_flags(spark):
    """A constant series (variance 0) must be an explicit NO-FLAG path,
    not NaN fallout (ADVICE r5) — and a genuinely anomalous series in
    the same relation still flags."""
    from cdc_poc_spark.operators.temporal import anomaly_zscore_flags

    rows = [("const", i, 5) for i in range(20)]
    rows += [("spiky", i, 5) for i in range(19)] + [("spiky", 19, 500)]
    b = spark.createDataFrame(
        rows, "event_type string, bucket_us long, n_events long"
    )
    out = anomaly_zscore_flags(b).collect()
    series = {r.event_type for r in out}
    assert "const" not in series
    assert "spiky" in series
    assert all(r.zscore == r.zscore for r in out)  # no NaN survives


def test_bigram_logprob_ranks_salad_below_prose(spark):
    """A token-salad document whose unigrams are common but whose
    transitions never occur in the corpus must score BELOW (more
    negative than) the repetitive docs that define the corpus's bigram
    mass — the separation unigram scoring cannot make."""
    from cdc_poc_spark.operators import text as T

    base = [(i, "a b c d a b c d a b c d") for i in range(20)]
    salad = [(100, "d c b a d c b a d c b a")]  # same unigrams, unseen bigrams
    df = spark.createDataFrame(base + salad, "doc_id int, text string")
    out = {r.doc_id: r.avg_micro_nats for r in T.bigram_logprob(df).collect()}
    assert out[100] < out[0], (out[100], out[0])


def test_containment_collapsed_equals_flat_on_clones(spark, docs):
    """The clone-collapsed containment pipeline must emit EXACTLY the
    flat operator's ordered (id_a, id_b, containment) rows on a
    clone-doubled corpus — cross-family pairs inherit the canonical
    containment bit-for-bit, in-family ordered pairs appear at exactly
    1.0, direction preserved."""
    from pyspark.sql import functions as F

    base = docs.limit(250)
    doubled = base.unionByName(base.withColumn("doc_id", F.col("doc_id") + 1_000_000))
    flat = {
        (r.id_a, r.id_b, round(r.containment, 9))
        for r in dedup.exact_containment_pairs(doubled, threshold=0.9).collect()
    }
    coll = {
        (r.id_a, r.id_b, round(r.containment, 9))
        for r in dedup.exact_containment_pairs_collapsed(doubled, threshold=0.9).collect()
    }
    assert coll == flat and flat


def test_containment_reliable_checkpoint(spark, docs, tmp_path):
    """checkpoint_dir must route the containment pair pin through a
    RELIABLE checkpoint (files on disk), with output identical to the
    local-checkpoint default — same contract as exact_jaccard_pairs."""
    import os

    ckpt = str(tmp_path / "ckpt")
    out = dedup.exact_containment_pairs_collapsed(
        docs, threshold=0.9, checkpoint_dir=ckpt
    )
    reliable = {
        (r.id_a, r.id_b, round(r.containment, 9)) for r in out.collect()
    }
    assert any(files for _, _, files in os.walk(ckpt)), "no checkpoint files written"
    local = {
        (r.id_a, r.id_b, round(r.containment, 9))
        for r in dedup.exact_containment_pairs_collapsed(docs, threshold=0.9).collect()
    }
    assert reliable == local
