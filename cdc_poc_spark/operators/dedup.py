"""Deduplication operators over a text corpus.

Four tiers, cheapest-first — the order a 100 TB pipeline applies them:

1. exact          hash-groupBy on raw text (one shuffle of 16-byte keys)
2. fingerprint    hash-groupBy on a normalized token-set fingerprint
3. MinHash + LSH  near-dup candidate generation in O(n · k), then exact
                  Jaccard verification on candidates only
4. SimHash        64-bit bitwise sketch, Hamming-ball lookup via banding

All JVM-side: shingling/hashing use Catalyst higher-order array
functions + xxhash64 — no Python in the row path. Exact pairwise
Jaccard (`exact_jaccard_pairs`) runs as a PPJoin-style prefix-filtered
equi-join — sub-quadratic and output-identical to the naive cross join
(kept as `exact_jaccard_pairs_quadratic` purely as its correctness
twin).
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from .scale import pin, spilled

#: Max members expanded per LSH/SimHash bucket. A bucket of m docs costs
#: m(m-1)/2 pairs and an m-element collect_set in ONE task's agg buffer;
#: an adversarial mega-bucket (boilerplate shingle sets, near-identical
#: templates) would otherwise OOM a single executor at 100 TB. The cap
#: is enforced BEFORE the collect via a row_number over the same shuffle
#: key (the window sorter spills to disk; an agg buffer does not), so
#: task memory is bounded by cap × doc-state regardless of skew. Within
#: a bucket the kept members are the cap smallest ids (deterministic);
#: dropped membership is observable via `*_bucket_stats`.
LSH_BUCKET_CAP = 200

# Mersenne prime 2^31-1: universal-hash modulus. (a, b) parameters are
# fixed constants (seeded once, committed) so signatures are stable
# across runs and machines.
_P = 2_147_483_647
_rng = random.Random(42)
MINHASH_PERMS = [(_rng.randrange(1, 1 << 20), _rng.randrange(0, 1 << 20)) for _ in range(32)]


def tokens_col(text_col: str = "text") -> F.Column:
    return F.split(F.col(text_col), " ")


def shingles_expr(toks: str = "toks", n: int = 3) -> F.Column:
    """Distinct n-token shingles (word n-grams) as strings. Pure Catalyst:
    sequence + transform + slice + concat_ws.

    TOTAL on every input, including size < n: the callers all filter
    short docs first, but the optimizer is free to evaluate this
    expression OUTSIDE that filter's protection (e.g. the inferred
    `size(generatorInput) > 0` predicate a posexplode plants gets
    conjoined into the same Filter node and does not reliably
    short-circuit behind the eligibility conjunct) — and an unguarded
    `sequence(0, size - n)` on a short doc is a DESCENDING sequence
    whose slice(toks, 0, n) is a runtime error, not an empty array."""
    return F.expr(
        f"if(size({toks}) >= {n},"
        f" array_distinct(transform(sequence(0, size({toks}) - {n}),"
        f" i -> concat_ws(' ', slice({toks}, i + 1, {n})))),"
        " array())"
    )


def with_shingles(df: DataFrame, text_col: str = "text", n: int = 3) -> DataFrame:
    from .scale import spread

    return (
        spread(df)
        .withColumn("toks", tokens_col(text_col))
        .filter(F.size("toks") >= n)
        .withColumn("shingles", shingles_expr("toks", n))
    )


# ---------------------------------------------------------------------------
# Tier 1/2: exact + fingerprint dedup
# ---------------------------------------------------------------------------

def exact_dup_groups(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup: md5(text) groupBy; representative = min id. The
    shuffle carries (hash, id) only — constant bytes/row regardless of
    document size."""
    return (
        df.select(F.md5(F.col(text_col)).alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def fingerprint_clusters(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Normalized-content dedup: fingerprint = md5 of the sorted distinct
    token set (order/duplication-insensitive). Returns multi-doc clusters."""
    fp = F.md5(
        F.array_join(F.array_sort(F.array_distinct(tokens_col(text_col))), " ")
    ).alias("fp")
    return (
        df.select(fp, F.col(id_col))
        .groupBy("fp")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_docs"))
        .filter("n_docs >= 2")
    )


# ---------------------------------------------------------------------------
# Tier 3: MinHash + LSH
# ---------------------------------------------------------------------------

def minhash_signature(
    df: DataFrame,
    shingle_col: str = "shingles",
    keep_hashes: bool = False,
    portable: bool = False,
) -> DataFrame:
    """32-permutation MinHash signature via universal hashing
    h_i(s) = (a_i * H(s) + b_i) mod p.

    The string hashing (the expensive part) is projected ONCE into an
    intermediate column; the 32 permutations are then pure integer
    arithmetic over that array. Inlining the hash transform into
    each permutation would re-hash every shingle 32 times — Catalyst
    does not common-subexpression-eliminate across higher-order lambda
    expressions.

    H(s) is xxhash64 by default (the fast JVM path for 100 TB);
    ``portable=True`` switches to the md5-prefix hash (the Bloom
    decontaminator's engine-portable construction), which any ANSI
    engine can reproduce — the variant that makes the LSH pair LIST
    itself cross-engine verifiable (VERDICT r9 task #5). Same
    algorithm, same permutation constants, different H."""
    hfn = (
        f"pmod(CAST(conv(substring(md5(s), 1, 8), 16, 10) AS BIGINT), {_P}L)"
        if portable
        else f"pmod(xxhash64(s), {_P}L)"
    )
    hashed = df.withColumn(
        "_sh_hash", F.expr(f"transform({shingle_col}, s -> {hfn})")
    )
    sig_cols = [
        F.array_min(
            F.expr(f"transform(_sh_hash, h -> pmod({a}L * h + {b}L, {_P}L))")
        ).alias(f"mh_{i}")
        for i, (a, b) in enumerate(MINHASH_PERMS)
    ]
    keep = [*df.columns, "_sh_hash"] if keep_hashes else list(df.columns)
    return hashed.select(*keep, F.array(*sig_cols).alias("minhash"))


def _cap_buckets(
    banded: DataFrame,
    bucket_keys: list[str],
    member_col: str,
    order_col: str,
    cap: int,
) -> DataFrame:
    """Bucket groupBy with BOUNDED membership: a row_number over the
    same shuffle key ranks members (the window sorter spills; agg
    buffers don't), then collect_set keeps only rank <= cap. One
    shuffle total — the downstream groupBy reuses the window's
    partitioning. `n_total` carries the true bucket size so truncation
    is observable (`n_total > cap` == dropped members)."""
    w = W.partitionBy(*bucket_keys).orderBy(order_col)
    return (
        banded.withColumn("__rk", F.row_number().over(w))
        .groupBy(*bucket_keys)
        .agg(
            F.array_sort(
                F.collect_set(F.when(F.col("__rk") <= cap, F.col(member_col)))
            ).alias("docs"),
            F.count(F.lit(1)).alias("n_total"),
        )
    )


def lsh_candidate_pairs(
    sig_df: DataFrame,
    id_col: str = "doc_id",
    bands: int = 16,
    bucket_cap: int = LSH_BUCKET_CAP,
) -> DataFrame:
    """Band the signature (bands × rows) and generate candidate pairs
    per bucket. Shuffle key = (band_id, band_hash): only same-bucket
    docs ever meet, which is what makes near-dup detection sub-quadratic
    at scale.

    Implemented as ONE groupBy + in-bucket pair expansion rather than a
    bucket self-join: a self-join evaluates the whole upstream
    shingle/signature pipeline twice (once per side) and shuffles both
    sides; the groupBy computes it once and shuffles (id, band) rows
    once. Bucket membership is capped (LSH_BUCKET_CAP) so an
    adversarial mega-bucket cannot OOM a task — see _cap_buckets."""
    k = len(MINHASH_PERMS)
    rows = k // bands
    banded = sig_df.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.hash(F.slice("minhash", b * rows + 1, rows)).alias("band_hash"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band"),
    ).select(id_col, "band.band_id", "band.band_hash")
    return (
        _cap_buckets(banded, ["band_id", "band_hash"], id_col, id_col, bucket_cap)
        .filter(F.size("docs") >= 2)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(docs, (x, i) ->"
                    " transform(slice(docs, i + 2, size(docs)),"
                    " y -> struct(x AS id_a, y AS id_b))))"
                )
            ).alias("p")
        )
        .select("p.id_a", "p.id_b")
        .distinct()
    )


#: Multi-prefix filter width (the "l-prefix scheme" of AdaptJoin —
#: Wang, Li & Feng, "Can we beat the prefix filtering?", SIGMOD'12):
#: each side's prefix is cut at |r| − α_min + C instead of the textbook
#: |r| − α_min + 1, and a candidate pair must share ≥ min(C, α) prefix
#: tokens (α = the pair's required overlap) instead of ≥ 1. Soundness
#: is the standard prefix-filter argument applied C times: if
#: |A∩B| = m ≥ α, the i-th smallest common token (global order) has
#: ≥ m−i ≥ α−C later common tokens in BOTH arrays for every i ≤
#: min(C, m), so it sits inside both extended prefixes; min(C, m) ≥
#: min(C, α) matches are therefore guaranteed — the filter can never
#: drop a true pair (and verification is exact regardless). Measured at
#: sf0.1 (t=0.5, 5000 docs, near-uniform token df — the worst case for
#: frequency ordering): 1-prefix candidates 209,263 for 256 final
#: pairs; C=4 multi-prefix candidates 309 — a 677x cut for C−1 = 3
#: extra prefix tokens per doc (guide §3.2: prune the join input, not
#: the verify).
PPJOIN_PREFIX_C = 4

#: Layout version of a persisted Jaccard index (build_jaccard_index),
#: stored in its ``{name}_meta`` row and checked by every reader. Bump
#: it whenever the stored prefix cut or token order changes. Version 2:
#: the multi-prefix cut at sz − ceil(t·sz) + PPJOIN_PREFIX_C; indexes
#: written before the version column existed carry none.
JACCARD_INDEX_VERSION = 2


def _token_order(common: list[int]):
    """Row-level expression builder for the fixed global token order
    shared by every PPJoin relation: tokens OUTSIDE the sampled common
    list first (ascending by hashed value), then common tokens
    rarest-first (reverse of the collect's descending-frequency rank).
    Any fixed total order is correct; demoting frequent tokens out of
    prefixes is the selective choice (Chaudhuri et al., ICDE'06).

    Built from array_except + array_intersect (hash-set semantics,
    O(|hset| + |common|) per row, and array_intersect preserves
    first-argument order — asserted in tests) instead of the former
    per-token array_contains scan + struct sort, which cost
    O(|common|·|hset|) comparisons per row."""
    asc = F.lit(list(reversed(common))).cast("array<bigint>")

    def order(hset_col) -> F.Column:
        col = F.col(hset_col) if isinstance(hset_col, str) else hset_col
        return F.concat(
            F.array_sort(F.array_except(col, asc)), F.array_intersect(asc, col)
        )

    return order


def jaccard(col_a: str, col_b: str) -> F.Column:
    """Exact Jaccard over two DISTINCT-ELEMENT arrays.

    PRECONDITION (caller's responsibility, not checked here): both
    columns hold arrays without duplicate elements — every current call
    site passes array_distinct outputs. On duplicate-bearing input the
    |A|+|B|-|A∩B| identity below over-counts the union and the result
    is silently wrong; wrap new inputs in F.array_distinct first.

    (integer set sizes -> exact double ratio). |A∪B| is derived as |A|+|B|−|A∩B| (exact on
    distinct-element inputs — the documented contract of every call
    site) instead of materializing array_union: the intersect hash
    probe is the only per-pair array pass left, halving verification
    CPU on the 100k+-candidate PPJoin verify stages (optimization r13,
    guide §1.2 per-task work). Same integers, same double, same hash."""
    inter = F.size(F.array_intersect(F.col(col_a), F.col(col_b)))
    union = F.size(F.col(col_a)) + F.size(F.col(col_b)) - inter
    return (inter.cast("double") / union.cast("double"))


def _lsh_banded_docs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    portable: bool = False,
    pre_shingled: bool = False,
) -> DataFrame:
    """Shared front half of the LSH pipeline: shingle -> MinHash ->
    banded (doc{id, hs}, band_id, band_hash) rows. ``portable=True``
    uses the md5-prefix shingle hash AND replaces the murmur band hash
    with the band's minhash values joined as a string — the band hash
    is only a bucketing key, so any injective-enough encoding works,
    and the string form is reproducible in ANSI SQL (the key is wider
    on the shuffle, which is why the xxhash64+murmur form stays the
    default at scale)."""
    sh = (
        df.select(id_col, "shingles")
        if pre_shingled
        else with_shingles(df, text_col, n).select(id_col, "shingles")
    )
    hs = minhash_signature(sh, keep_hashes=True, portable=portable).withColumnRenamed(
        "_sh_hash", "hs"
    )
    k = len(MINHASH_PERMS)
    bands, rows = 16, k // 16

    def band_hash(b):
        if portable:
            return F.expr(
                f"array_join(transform(slice(minhash, {b * rows + 1}, {rows}),"
                f" x -> cast(x as string)), '-')"
            ).alias("band_hash")
        return F.hash(F.slice("minhash", b * rows + 1, rows)).alias("band_hash")

    return hs.select(
        F.struct(F.col(id_col).alias("id"), F.col("hs").alias("hs")).alias("doc"),
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band_id"), band_hash(b))
                    for b in range(bands)
                ]
            )
        ).alias("band"),
    ).select("doc", "band.band_id", "band.band_hash")


def minhash_lsh_dedup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    bucket_cap: int = LSH_BUCKET_CAP,
    portable: bool = False,
    pre_shingled: bool = False,
) -> DataFrame:
    """Full near-dup pipeline: shingle -> MinHash -> LSH buckets ->
    exact-Jaccard verification of candidates, in ONE shuffle.

    The hashed shingle set rides along into the bucket groupBy so the
    Jaccard verification happens inline during pair expansion — no join
    back to the corpus, and the shingle pipeline is evaluated exactly
    once. Jaccard over the 64-bit-hashed distinct shingles equals
    Jaccard over the shingles themselves up to hash collisions
    (P < |S|^2 / 2^31 per pair — negligible at realistic shingle
    counts). Shuffle volume is bands x hashed-set bytes per doc; for
    very large documents at 100 TB, prefer capping shingle count
    upstream (sample/stride) over reverting to the two-sided
    corpus join, which evaluates the upstream pipeline three times.

    Bucket membership is capped at ``bucket_cap`` BEFORE the collect
    (see _cap_buckets): one adversarial bucket of near-identical
    boilerplate cannot OOM a task. Exact clones should be collapsed
    upstream anyway (minhash_tiered_pairs — the production ordering);
    use lsh_bucket_stats to see whether any bucket hit the cap."""
    banded = _lsh_banded_docs(
        df, id_col, text_col, n, portable=portable, pre_shingled=pre_shingled
    )
    pair_expr = (
        "flatten(transform(docs, (x, i) ->"
        " transform(slice(docs, i + 2, size(docs)), y -> struct("
        " x.id AS id_a, y.id AS id_b,"
        " CAST(size(array_intersect(x.hs, y.hs)) AS DOUBLE)"
        " / size(array_union(x.hs, y.hs)) AS jaccard))))"
    )
    return (
        _cap_buckets(banded, ["band_id", "band_hash"], "doc", "doc.id", bucket_cap)
        .filter(F.size("docs") >= 2)
        .select(F.explode(F.expr(pair_expr)).alias("p"))
        .select("p.id_a", "p.id_b", "p.jaccard")
        .filter(F.col("jaccard") >= threshold)
        .distinct()
    )


def lsh_bucket_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    bucket_cap: int = LSH_BUCKET_CAP,
) -> DataFrame:
    """Truncation accounting for the capped LSH path: one row with the
    bucket count, the max bucket size, how many buckets exceeded the
    cap, and the total members dropped by the cap. Run this alongside a
    dedup job (same banding, ids-only shuffle) to KNOW whether the cap
    bit — a silent cap is a recall bug, a logged one is a tuning
    signal."""
    banded = _lsh_banded_docs(df, id_col, text_col, n).select(
        F.col("doc.id").alias("id"), "band_id", "band_hash"
    )
    sizes = banded.groupBy("band_id", "band_hash").agg(F.count(F.lit(1)).alias("sz"))
    return sizes.agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.max("sz").alias("max_bucket"),
        F.sum((F.col("sz") > bucket_cap).cast("long")).alias("n_buckets_over_cap"),
        F.sum(F.greatest(F.col("sz") - bucket_cap, F.lit(0))).alias("n_members_dropped"),
    )


def exact_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """EXACT pairwise Jaccard >= threshold via prefix filtering (the
    PPJoin family — Xiao et al., "Efficient Similarity Joins for Near
    Duplicate Detection", WWW'08): output-identical to the naive cross
    join, sub-quadratic plan.

    Filter principle: order all shingles by global frequency (rarest
    first; ties by value — any FIXED total order is correct, frequency
    order is the selective one). If J(A,B) >= t, then A and B must
    share at least one shingle among each one's first
    |r| - ceil(t*|r|) + 1 shingles in that order ("prefix"). So
    candidates = pairs sharing >= 1 prefix token — an EQUI-join on the
    token, never a cross join — and each candidate is then verified
    with exact Jaccard over the true shingle sets.

    Shuffle profile (v2): sampled common-token agg (~1/8 of docs, one
    small shuffle + 256-row collect), then prefixes are computed PER
    ROW (sort hset by (is_common, tok), slice) — no token-frequency
    join, no per-doc window shuffle; the only full-size shuffles left
    are the prefix self-equi-join and the two verification id joins —
    all key-partitioned, no cartesian anywhere. The common-demoted
    order keeps prefix-token buckets small (a token common enough to
    blow up a bucket is almost never in anyone's prefix). This makes
    EXACT similarity join a legitimate scale path, not just the
    small-scale oracle.

    Two refinements over the textbook prefix filter:

    - Shingles are 64-bit-hashed ONCE (xxhash64) and all downstream
      relations carry longs, not 3-gram strings — the token shuffle, the
      prefix self-join key, and the verification arrays shrink ~5-10x
      and compare as integers. Set SIZES are preserved w.h.p.
      (collisions across ~2^64 space), so the emitted Jaccard values
      equal the string-set values bit-for-bit — asserted against the
      string-based quadratic twin in tests.
    - PPJoin POSITIONAL filter: a matching prefix token at sorted
      positions (pa, pb) bounds the overlap by 1 + min(|A|-pa, |B|-pb);
      a pair whose best bound misses the required overlap
      t/(1+t)*(|A|+|B|) is pruned BEFORE the verification join. All
      numeric prune bounds carry an epsilon of slack so float rounding
      can only under-prune (extra candidates — harmless; verification
      is exact), never drop a true borderline pair (e.g. 0.8*5 rounding
      above 4.0 must not require |B|>=5).

    The shingle projection feeds three consumers (prefix generation +
    both verification sides), so it is persisted (memory-and-disk,
    spillable) rather than recomputed 3x — measured 3x wall on the
    fixture; the materialize-once step every published similarity-join
    pipeline has."""
    eps = 1e-9
    sh = (
        with_shingles(df, text_col, n)
        .select(
            id_col,
            F.array_distinct(
                F.transform("shingles", lambda s: F.xxhash64(s))
            ).alias("hset"),
        )
    )
    with spilled(sh):
        # The cache must be materialized BEFORE the self-join below: its
        # three consumers sit in independent stage branches of one job and
        # would otherwise race the (empty) cache and recompute the shingle
        # pipeline concurrently. The sampled-commons collect below is itself
        # one full sequential scan of `sh`, so it doubles as the
        # materializer — no separate count() job (one job saved per call).
        # Prefix ORDER: any FIXED total order of tokens is correct; the
        # selective choice demotes frequent tokens out of prefixes. The
        # exact-frequency formulation (token-freq groupBy + tok join +
        # per-doc row_number window) costs three shuffles of the full token
        # stream; instead the common-token set is ESTIMATED once from a
        # deterministic ~1/8 doc sample (top-K by sampled df, K=256 — far
        # more than any real boilerplate vocabulary), broadcast as a
        # literal, and each doc computes its own prefix PER ROW:
        # sort hset by (is_common, tok) and slice the first
        # sz - ceil(t*sz) + 1. Zero shuffles, no window, no persisted
        # prefix relation (recomputing the per-row sort for the self-join's
        # two sides is cheaper than a cache materialization job).
        # Correctness does not depend on the sample: a missed common token
        # only makes prefixes less selective (more candidates, still exact
        # after verification) — asserted output-identical to the quadratic
        # twin in tests regardless of sampling.
        k_common = 256
        sampled = sh.filter(F.pmod(F.xxhash64(F.col(id_col)), F.lit(8)) == 0)
        common = [
            r.tok
            for r in sampled.select(F.explode("hset").alias("tok"))
            .groupBy("tok")
            .agg(F.count(F.lit(1)).alias("c"))
            .orderBy(F.desc("c"), "tok")
            .limit(k_common)
            .collect()
        ]
        # Prefix relation under the shared construction (_index_prefix_rel:
        # _token_order + multi-prefix cut at sz − ceil(t·sz) + C). The
        # common list rides as a typed array literal inside it, not SQL
        # text (ADVICE r3: a token equal to Long.MIN_VALUE would render as
        # an unparseable unary-minus bigint literal in SQL; the empty cast
        # covers tiny inputs sampling 0 docs).
        prefix = _index_prefix_rel(
            sh.select(F.col(id_col).alias("id"), "hset"), common, threshold
        )
        # Length filter (exact, eps-slack): J(A,B) >= t forces
        # t|A| <= |B| <= |A|/t. Positional filter: overlap needed is
        # alpha = t/(1+t)*(|A|+|B|); best-case overlap through this match
        # is 1 + min(szA-rkA, szB-rkB); keep the pair iff its BEST matching
        # occurrence clears alpha (max over matches = earliest match).
        # Multi-prefix filter: a true pair shares >= min(C, ceil(alpha))
        # prefix tokens (see PPJOIN_PREFIX_C), so `cnt` below prunes the
        # 1-token coincidences BEFORE the verification joins.
        need = F.lit(threshold / (1.0 + threshold)) * (
            F.col("a.sz") + F.col("b.sz")
        ) - eps
        ub = 1 + F.least(
            F.col("a.sz") - F.col("a.rk"), F.col("b.sz") - F.col("b.rk")
        )
        cand = (
            prefix.alias("a")
            .join(prefix.alias("b"), "tok")
            .filter(
                (F.col("a.id") < F.col("b.id"))
                & (F.col("b.sz") >= F.lit(threshold) * F.col("a.sz") - eps)
                & (F.col("b.sz") <= F.col("a.sz") / F.lit(threshold) + eps)
            )
            .groupBy(
                F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b")
            )
            .agg(
                F.count(F.lit(1)).alias("cnt"),
                F.max(ub).alias("ub"),
                F.max(need).alias("need"),
            )
            .filter(
                (F.col("cnt") >= F.least(
                    F.lit(PPJOIN_PREFIX_C).cast("long"), F.ceil(F.col("need"))
                ))
                & (F.col("ub") >= F.col("need"))
            )
            .select("id_a", "id_b")
        )
        # Verification is CPU-bound per candidate (array intersect/union),
        # not byte-bound: AQE's byte-sized coalesce would serialize it on
        # small-byte inputs, so spread candidates across the cluster
        # explicitly (row count is tiny; the hash join below broadcasts or
        # re-shuffles as usual).
        cand = cand.repartition(df.sparkSession.sparkContext.defaultParallelism, "id_a")
        a = sh.select(F.col(id_col).alias("id_a"), F.col("hset").alias("sh_a"))
        b = sh.select(F.col(id_col).alias("id_b"), F.col("hset").alias("sh_b"))
        out = (
            cand.join(a, "id_a")
            .join(b, "id_b")
            .withColumn("jaccard", jaccard("sh_a", "sh_b"))
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard")
        )
        # Materialize the (tiny) verified pair list NOW and release the two
        # working caches. Every multi-consumer caller (connected components:
        # count + collect + joins; recall contracts: several aggregates)
        # would otherwise re-run the verification join per consumer, and the
        # sh/prefix caches would leak into the session (no unpersist point
        # once a lazy result escapes). Pairs are O(near-dup count) rows —
        # the cheapest possible thing to pin. With ``checkpoint_dir`` the
        # pin is a RELIABLE checkpoint (survives executor loss — a cluster
        # deployment should pass one, or a lost executor after unpersist
        # silently re-runs the whole verification join); without it, a
        # localCheckpoint. See scale.pin for the session-global
        # setCheckpointDir guard.
        out = pin(out, checkpoint_dir)
    return out


def exact_jaccard_pairs_quadratic(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """The naive cross-join formulation — kept ONLY as the correctness
    twin for exact_jaccard_pairs (the prefix-filtered plan must emit
    identical rows; asserted in tests). Never run this at scale."""
    sh = with_shingles(df, text_col, n).select(id_col, "shingles")
    a = sh.select(F.col(id_col).alias("id_a"), F.col("shingles").alias("sh_a"))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("shingles").alias("sh_b"))
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("jaccard", jaccard("sh_a", "sh_b"))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def exact_jaccard_pairs_incremental(
    new_df: DataFrame,
    index_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    checkpoint_dir: str | None = None,
    collapse_clones: bool = True,
) -> DataFrame:
    """EXACT incremental near-dup join: every (new, index) pair with
    3-gram Jaccard >= threshold — the R-S form of the PPJoin prefix
    filter (Xiao et al., WWW'08, §5 extends the self-join filter to
    two relations unchanged: any FIXED global token order shared by
    both sides preserves the prefix-intersection guarantee).

    ``collapse_clones`` (default on — the standing rule for every
    similarity-join consumer): md5-exact clones are grouped PER SIDE,
    the R-S join runs on one canonical doc per family, and canonical
    pairs expand back over both member lists (identical texts have
    identical shingle sets, so the Jaccard carries over verbatim; a
    text present on both sides meets itself at exactly 1.0 through its
    two canonicals). Output-identical to the flat formulation —
    asserted in tests — while an ingest batch full of re-crawled
    boilerplate costs one row per family in the prefix join instead of
    a quadratic member cross.

    THE production dedup shape at 100 TB: a corpus is deduped once,
    then every ingest batch is checked against the standing corpus —
    never re-join the whole corpus against itself. The plan here is
    asymmetric by design:

    - the prefix EQUI-join keys (token) the huge index side once
      against the small batch side; AQE broadcasts the batch-side
      prefix relation when it is small enough, so the index stream
      never shuffles for the join;
    - length + positional filters prune candidates before the
      verification joins exactly as in the self-join (eps-slack so
      float rounding can only under-prune — verification is exact);
    - on a real deployment the index's hashed-shingle/prefix relation
      is PERSISTED once (write_bucketed by token) and reused across
      batches; here it is recomputed because the fixture index is
      parquet-only.

    The common-token order is estimated from the INDEX side (the big
    side: its frequent tokens are the ones that would blow up prefix
    buckets); the sample scan doubles as the index cache
    materializer. Output is exact — identical to the quadratic
    new x index cross join (asserted in tests) — so the driver
    hash-checks it directly, no recall contract needed."""
    if collapse_clones:
        def fams(df: DataFrame) -> DataFrame:
            # Eligibility (>= n tokens) decided once per family on the
            # canonical text — clones tokenize identically. Pinned: the
            # relation feeds the canonical join side AND the expansion
            # (reliable when checkpoint_dir is given — a localCheckpoint
            # here would defeat the caller's executor-loss contract).
            return pin(
                df.select(
                    F.col(id_col).alias("__id"),
                    F.col(text_col).alias("__text"),
                    F.md5(text_col).alias("__fp"),
                )
                .groupBy("__fp")
                .agg(
                    F.min("__id").alias("canon"),
                    F.array_sort(F.collect_list("__id")).alias("members"),
                    F.min_by("__text", F.col("__id")).alias("__text"),
                )
                .filter(F.size(tokens_col("__text")) >= n),
                checkpoint_dir,
            )

        fn, fi = fams(new_df), fams(index_df)
        cpairs = exact_jaccard_pairs_incremental(
            fn.select(F.col("canon").alias(id_col), F.col("__text").alias(text_col)),
            fi.select(F.col("canon").alias(id_col), F.col("__text").alias(text_col)),
            id_col, text_col, n, threshold, checkpoint_dir,
            collapse_clones=False,
        )
        ma = fn.select(F.col("canon").alias("new_id"), F.col("members").alias("ma"))
        mb = fi.select(F.col("canon").alias("index_id"), F.col("members").alias("mb"))
        return (
            cpairs.join(ma, "new_id")
            .join(mb, "index_id")
            .select(F.explode("ma").alias("x"), "mb", "jaccard")
            .select("x", F.explode("mb").alias("y"), "jaccard")
            .select(
                F.col("x").alias("new_id"),
                F.col("y").alias("index_id"),
                "jaccard",
            )
        )

    eps = 1e-9

    def hset(df: DataFrame) -> DataFrame:
        return with_shingles(df, text_col, n).select(
            id_col,
            F.array_distinct(
                F.transform("shingles", lambda s: F.xxhash64(s))
            ).alias("hset"),
        )

    sh_new = hset(new_df)
    sh_idx = hset(index_df)
    with spilled(sh_new), spilled(sh_idx):
        # Materialize both caches before the multi-consumer join jobs (the
        # prefix and verification branches would otherwise race an empty
        # cache and re-run the shingle pipeline per branch). The commons
        # sample below is a full scan of sh_idx; the small batch side pays
        # one explicit count job.
        sh_new.count()
        k_common = 256
        sampled = sh_idx.filter(F.pmod(F.xxhash64(F.col(id_col)), F.lit(8)) == 0)
        common = [
            r.tok
            for r in sampled.select(F.explode("hset").alias("tok"))
            .groupBy("tok")
            .agg(F.count(F.lit(1)).alias("c"))
            .orderBy(F.desc("c"), "tok")
            .limit(k_common)
            .collect()
        ]
        def prefix(sh: DataFrame) -> DataFrame:
            # shared prefix-cut construction — the ONE implementation the
            # persisted index also uses, so inline and index paths cannot
            # drift (r4 review)
            return _index_prefix_rel(
                sh.select(F.col(id_col).alias("id"), "hset"), common, threshold
            )

        # R-S filters: J(A,B) >= t forces t|A| <= |B| <= |A|/t (no id
        # inequality — the sides are distinct relations). Positional bound
        # identical to the self-join.
        need = F.lit(threshold / (1.0 + threshold)) * (
            F.col("a.sz") + F.col("b.sz")
        ) - eps
        ub = 1 + F.least(
            F.col("a.sz") - F.col("a.rk"), F.col("b.sz") - F.col("b.rk")
        )
        cand = (
            prefix(sh_new).alias("a")
            .join(prefix(sh_idx).alias("b"), "tok")
            .filter(
                (F.col("b.sz") >= F.lit(threshold) * F.col("a.sz") - eps)
                & (F.col("b.sz") <= F.col("a.sz") / F.lit(threshold) + eps)
            )
            .groupBy(F.col("a.id").alias("new_id"), F.col("b.id").alias("index_id"))
            .agg(
                F.count(F.lit(1)).alias("cnt"),
                F.max(ub).alias("ub"),
                F.max(need).alias("need"),
            )
            .filter(
                (F.col("cnt") >= F.least(
                    F.lit(PPJOIN_PREFIX_C).cast("long"), F.ceil(F.col("need"))
                ))
                & (F.col("ub") >= F.col("need"))
            )
            .select("new_id", "index_id")
        )
        # Verification is CPU-bound per candidate — spread explicitly (see
        # exact_jaccard_pairs).
        cand = cand.repartition(
            new_df.sparkSession.sparkContext.defaultParallelism, "new_id"
        )
        a = sh_new.select(F.col(id_col).alias("new_id"), F.col("hset").alias("sh_a"))
        b = sh_idx.select(F.col(id_col).alias("index_id"), F.col("hset").alias("sh_b"))
        out = (
            cand.join(a, "new_id")
            .join(b, "index_id")
            .withColumn("jaccard", jaccard("sh_a", "sh_b"))
            .filter(F.col("jaccard") >= threshold)
            .select("new_id", "index_id", "jaccard")
        )
        out = pin(out, checkpoint_dir)
    return out


def build_jaccard_index(
    df: DataFrame,
    name: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    n_buckets: int = 32,
) -> None:
    """Materialize the standing-corpus side of the incremental R-S
    PPJoin ONCE, as bucketed catalog tables — the deployment shape the
    flat `exact_jaccard_pairs_incremental` docstring promises:

      {name}_hsets   (id, hset)          bucketed by id   [verification]
      {name}_prefix  (tok, id, sz, rk)   bucketed by tok  [candidate join]
      {name}_commons (tok, rank)                          [shared token order]
      {name}_meta    (built_t, n_buckets, format_version) [one row]

    Every future ingest batch then pays ONLY its own shingling: the
    candidate equi-join reads the prefix table bucket-local (no index
    shuffle — the batch side repartitions to the bucket layout), and
    the verification join reads hsets the same way. The index GROWS
    with the corpus via append_to_jaccard_index (accepted batches add
    their hset/prefix rows under the frozen token order + threshold).

    The prefix table is cut at ``threshold`` — build at the LOWEST t
    you intend to query. Querying at t' >= t keeps rows with
    rk <= plen(t') (the same fixed token order makes t''s prefix a
    prefix of t's), so one index serves a threshold range; querying
    below the built threshold raises."""
    sh = with_shingles(df, text_col, n).select(
        id_col,
        F.array_distinct(F.transform("shingles", lambda s: F.xxhash64(s))).alias(
            "hset"
        ),
    )
    from .scale import write_bucketed

    write_bucketed(
        sh.select(F.col(id_col).alias("id"), "hset"),
        f"{name}_hsets",
        ["id"],
        n_buckets=n_buckets,
    )
    spark = df.sparkSession
    sh_t = spark.table(f"{name}_hsets")
    sampled = sh_t.filter(F.pmod(F.xxhash64(F.col("id")), F.lit(8)) == 0)
    common = [
        r.tok
        for r in sampled.select(F.explode("hset").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), "tok")
        .limit(256)
        .collect()
    ]
    spark.createDataFrame(
        [(t, i) for i, t in enumerate(common)], "tok long, rank int"
    ).write.mode("overwrite").format("parquet").saveAsTable(f"{name}_commons")
    spark.createDataFrame(
        [(float(threshold), n_buckets, JACCARD_INDEX_VERSION)],
        "built_t double, n_buckets int, format_version int",
    ).write.mode("overwrite").format("parquet").saveAsTable(f"{name}_meta")
    # A REBUILD resets the streaming ingest ledger: batch ids restart
    # with a fresh stream checkpoint, and a stale ledger would mark the
    # new run's batches as already-applied and silently drop them
    # (r4 review). The ledger belongs to the index's lifetime.
    spark.sql(f"DROP TABLE IF EXISTS {name}_applied")
    prefix = _index_prefix_rel(sh_t, common, threshold)
    write_bucketed(prefix, f"{name}_prefix", ["tok"], n_buckets=n_buckets)


def _jaccard_index_meta(spark, name: str):
    """The ``{name}_meta`` row of a persisted Jaccard index, refusing an
    index written under another layout: its prefix rows would be cut
    differently from this code's probe side and silently lose pairs."""
    meta = spark.table(f"{name}_meta").collect()[0]
    version = meta.asDict().get("format_version")
    if version != JACCARD_INDEX_VERSION:
        raise ValueError(
            f"Jaccard index {name!r} has format version {version}; this code"
            f" reads version {JACCARD_INDEX_VERSION} — rebuild it with"
            " build_jaccard_index"
        )
    return meta


def _index_prefix_rel(
    sh: DataFrame, common: list[int], threshold: float
) -> DataFrame:
    """(tok, id, sz, rk) multi-prefix rows for an (id, hset) relation
    under the frozen common-token order and build threshold: the first
    sz − ceil(t·sz) + PPJOIN_PREFIX_C tokens (capped at sz) of the
    globally-ordered token list, rk = 1-based position in that full
    order (the positional filter's coordinate)."""
    eps = 1e-9
    order = _token_order(common)
    plen = (
        F.col("sz")
        - F.ceil(F.lit(threshold) * F.col("sz") - eps)
        + PPJOIN_PREFIX_C
    )
    return (
        sh.select(
            "id",
            F.size("hset").alias("sz"),
            F.slice(
                order("hset"),
                F.lit(1),
                F.least(plen, F.col("sz")).cast("int"),
            ).alias("pfx"),
        )
        .select("id", "sz", F.posexplode("pfx").alias("rk0", "tok"))
        .select("tok", "id", "sz", (F.col("rk0") + 1).alias("rk"))
    )


def append_to_jaccard_index(
    df: DataFrame,
    name: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> None:
    """Grow a persisted Jaccard index with an accepted ingest batch:
    the batch's (id, hset) and prefix rows are APPENDED to the bucketed
    tables under the index's FROZEN common-token order and build
    threshold (read from {name}_meta/{name}_commons) — the order is a
    pruning heuristic, so drift between the original sample and the
    grown corpus can only cost candidate selectivity, never
    correctness. This is the maintenance half of the daily loop:
    dedup the batch against the index, then index what was kept."""
    spark = df.sparkSession
    meta = _jaccard_index_meta(spark, name)
    common = [
        r.tok for r in spark.table(f"{name}_commons").orderBy("rank").collect()
    ]
    sh = with_shingles(df, text_col, n).select(
        F.col(id_col).alias("id"),
        F.array_distinct(F.transform("shingles", lambda s: F.xxhash64(s))).alias(
            "hset"
        ),
    )
    from .scale import write_bucketed

    write_bucketed(
        sh, f"{name}_hsets", ["id"], n_buckets=meta.n_buckets, mode="append"
    )
    write_bucketed(
        _index_prefix_rel(sh, common, meta.built_t),
        f"{name}_prefix",
        ["tok"],
        n_buckets=meta.n_buckets,
        mode="append",
    )


def incremental_vs_jaccard_index(
    new_df: DataFrame,
    name: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    checkpoint_dir: str | None = None,
    pin_result: bool = True,
) -> DataFrame:
    """R-S PPJoin of an ingest batch against a PERSISTED corpus index
    (see build_jaccard_index) — output-identical to
    `exact_jaccard_pairs_incremental(new, corpus)` (asserted in tests),
    but the corpus pays nothing per batch: its shingle/prefix relations
    stream from the bucketed tables, bucket-local on both joins, while
    only the (small) batch side is computed and shuffled.

    ``pin_result`` (default): the verified pair list is eagerly pinned
    (reliable checkpoint with ``checkpoint_dir``, else localCheckpoint)
    and the batch-side cache released — the same multi-consumer
    contract as exact_jaccard_pairs. Pass False to inspect the
    un-pinned plan (a pinned DataFrame explains as an RDD scan)."""
    eps = 1e-9
    spark = new_df.sparkSession
    built_t = _jaccard_index_meta(spark, name).built_t
    if threshold < built_t - 1e-12:
        raise ValueError(
            f"index {name!r} built at threshold {built_t}; cannot query at"
            f" lower threshold {threshold} (prefixes too short)"
        )
    common = [
        r.tok for r in spark.table(f"{name}_commons").orderBy("rank").collect()
    ]
    plen = (
        F.col("sz")
        - F.ceil(F.lit(threshold) * F.col("sz") - eps)
        + PPJOIN_PREFIX_C
    )
    sh_new = (
        with_shingles(new_df, text_col, n)
        .select(
            id_col,
            F.array_distinct(
                F.transform("shingles", lambda s: F.xxhash64(s))
            ).alias("hset"),
        )
    )
    with spilled(sh_new):
        sh_new.count()  # materialize before the multi-consumer fan-out
        # batch-side prefixes cut at the QUERY threshold via the same
        # construction the index build used (shared _index_prefix_rel)
        prefix_new = _index_prefix_rel(
            sh_new.select(F.col(id_col).alias("id"), "hset"), common, threshold
        )
        # Re-cut the stored prefixes to THIS query's (>= built) threshold.
        prefix_idx = spark.table(f"{name}_prefix").filter(F.col("rk") <= plen)
        need = F.lit(threshold / (1.0 + threshold)) * (
            F.col("a.sz") + F.col("b.sz")
        ) - eps
        ub = 1 + F.least(
            F.col("a.sz") - F.col("a.rk"), F.col("b.sz") - F.col("b.rk")
        )
        cand = (
            prefix_new.alias("a")
            .join(prefix_idx.alias("b"), "tok")
            .filter(
                (F.col("b.sz") >= F.lit(threshold) * F.col("a.sz") - eps)
                & (F.col("b.sz") <= F.col("a.sz") / F.lit(threshold) + eps)
            )
            .groupBy(F.col("a.id").alias("new_id"), F.col("b.id").alias("index_id"))
            .agg(
                F.count(F.lit(1)).alias("cnt"),
                F.max(ub).alias("ub"),
                F.max(need).alias("need"),
            )
            .filter(
                (F.col("cnt") >= F.least(
                    F.lit(PPJOIN_PREFIX_C).cast("long"), F.ceil(F.col("need"))
                ))
                & (F.col("ub") >= F.col("need"))
            )
            .select("new_id", "index_id")
        )
        a = sh_new.select(F.col(id_col).alias("new_id"), F.col("hset").alias("sh_a"))
        b = spark.table(f"{name}_hsets").select(
            F.col("id").alias("index_id"), F.col("hset").alias("sh_b")
        )
        out = (
            cand.join(a, "new_id")
            .join(b, "index_id")
            .withColumn("jaccard", jaccard("sh_a", "sh_b"))
            .filter(F.col("jaccard") >= threshold)
            .select("new_id", "index_id", "jaccard")
        )
        if pin_result:
            out = pin(out, checkpoint_dir)
    # unpinned (plan inspection), an action on the returned frame
    # recomputes the batch shingles — acceptable for the documented
    # explain() use; leaking the cache across repeated calls is not
    return out


# ---------------------------------------------------------------------------
# Tier 4: SimHash
# ---------------------------------------------------------------------------

def simhash(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """64-bit SimHash: per-token xxhash64, per-bit ±1 majority vote,
    assembled with shiftleft (distinct powers — no carries). Explode +
    64 map-side-combinable sums; everything JVM-side."""
    tok = df.select(F.col(id_col), F.explode(tokens_col(text_col)).alias("tok"))
    h = F.xxhash64("tok")
    sums = [
        F.sum(
            F.when(F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{j}")
        for j in range(64)
    ]
    per_doc = tok.groupBy(id_col).agg(*sums)
    sim = None
    for j in range(64):
        bit = F.when(F.col(f"b{j}") > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        term = F.shiftleft(bit, j)
        sim = term if sim is None else sim + term
    return per_doc.select(F.col(id_col), sim.alias("simhash"))


def simhash_near_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 8,
    bucket_cap: int = LSH_BUCKET_CAP,
) -> DataFrame:
    """Hamming-ball near-dup via 4×16-bit banding (a pair within Hamming
    distance 3 must agree on ≥1 band; wider distances trade recall):
    bucket-join on band value, verify with bit_count(xor)."""
    sig = simhash(df, id_col, text_col)
    bands = sig.select(
        F.struct(F.col(id_col).alias("id"), F.col("simhash").alias("sh")).alias("doc"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.shiftright("simhash", b * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("band_val"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("band"),
    ).select("doc", "band.band_id", "band.band_val")
    # One groupBy-bucket pass (not a self-join — see lsh_candidate_pairs).
    # array_sort on structs orders by the first field (id), so pair
    # expansion emits each unordered pair exactly once as id_a < id_b.
    # Membership capped like the MinHash path (_cap_buckets).
    return (
        _cap_buckets(bands, ["band_id", "band_val"], "doc", "doc.id", bucket_cap)
        .filter(F.size("docs") >= 2)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(docs, (x, i) ->"
                    " transform(slice(docs, i + 2, size(docs)),"
                    " y -> struct(x.id AS id_a, y.id AS id_b,"
                    " bit_count(x.sh ^ y.sh) AS hamming))))"
                )
            ).alias("p")
        )
        .select("p.id_a", "p.id_b", "p.hamming")
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def minhash_tiered_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    portable: bool = False,
) -> DataFrame:
    """Production-ordered near-dedup: collapse EXACT duplicates first
    (md5 of the raw text — true byte-identical clones only), then run
    MinHash-LSH only on the canonical documents.

    Why this ordering matters at 100 TB: web corpora carry heavy exact
    duplication, and LSH pair expansion is quadratic IN THE BUCKET — a
    cluster of m exact clones costs m(m-1)/2 candidate pairs in every
    band for zero information. Collapsing clones first makes that cost
    1 canonical row. Emits the same near-dup pairs as the flat pipeline
    restricted to canonical ids (asserted in tests), with
    `n_members_a/b` so downstream can expand clusters.

    The clone tier is deliberately md5(text), NOT the order-insensitive
    token-set fingerprint (dedup tier 2): two documents with the same
    token set but different word order have DIFFERENT shingle sets, so
    collapsing them would change which near-dup pairs the LSH stage can
    emit. Callers who want fingerprint-level collapse compose
    fingerprint_clusters explicitly and accept that semantic.

    Cost: one extra groupBy(md5) shuffle, map-side combinable, constant
    bytes/row; the LSH stage then runs on the (often much smaller)
    canonical set."""
    fp = df.select(
        F.col(id_col),
        F.col(text_col),
        F.md5(F.col(text_col)).alias("__fp"),
    )
    canon = (
        fp.groupBy("__fp")
        .agg(
            F.min(id_col).alias(id_col),
            F.min_by(text_col, F.col(id_col)).alias(text_col),
            F.count(F.lit(1)).alias("n_members"),
        )
        .drop("__fp")
    )
    members = canon.select(F.col(id_col).alias("__cid"), "n_members")
    pairs = minhash_lsh_dedup_pairs(
        canon, id_col, text_col, n, threshold, portable=portable
    )
    return (
        pairs.join(members.withColumnRenamed("__cid", "id_a"), "id_a")
        .withColumnRenamed("n_members", "n_members_a")
        .join(members.withColumnRenamed("__cid", "id_b"), "id_b")
        .withColumnRenamed("n_members", "n_members_b")
        .select("id_a", "id_b", "jaccard", "n_members_a", "n_members_b")
    )


def minhash_lsh_pairs_collapsed(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    bucket_cap: int = LSH_BUCKET_CAP,
    checkpoint_dir: str | None = None,
    portable: bool = False,
) -> DataFrame:
    """MinHash-LSH near-dup pairs over ALL document ids, computed with
    clone collapse: md5-exact clones are grouped first, the flat LSH
    pipeline (`minhash_lsh_dedup_pairs`) runs on one canonical document
    per clone family, and the result is expanded back over members —
    canonical pairs fan out to every member combination (identical
    shingle sets => identical Jaccard), and clone families of >= 2
    eligible documents emit their in-family pairs at Jaccard 1.0
    exactly (intersection == union for identical hashed shingle sets).

    Emits the same (id_a, id_b, jaccard) rows the flat pipeline emits on
    the raw corpus (asserted in tests on a clone-doubled fixture),
    WITHOUT paying the flat pipeline's quadratic-per-bucket cost on
    clones: a family of m clones is 1 row in every LSH bucket instead of
    m rows costing m(m-1)/2 candidate pairs per band.

    Identity caveat ABOVE the bucket cap: flat truncates each bucket to
    ``bucket_cap`` raw DOCS (dropping true pairs — its documented memory
    bound), while collapsed caps FAMILIES and then expands each kept
    family's full clique. A clone family larger than the cap therefore
    yields MORE (true) pairs collapsed than flat — collapsed is a
    superset on such inputs, never missing a pair flat finds; the
    clique expansion streams from one members array, so the flat cap's
    task-memory rationale does not apply to it. This is the same
    rule every similarity-join consumer follows
    (exact_jaccard_components, minhash_tiered_pairs); the flat
    formulation stays available as the correctness twin. Eligibility
    (>= n tokens, mirroring with_shingles) is decided once per family
    on the canonical text — identical texts tokenize identically, so
    short-doc clone families drop out exactly as they do flat. A clone
    family of m docs holds one m-element id array in a single agg
    buffer — fine up to millions; the expanded pairs are the answer
    itself."""
    # The canonical text rides through the collapse groupBy (min_by) so
    # no join back to the corpus is needed — same shape as
    # minhash_tiered_pairs; consumers that only need (canon, members)
    # get the text column pruned by Catalyst. Eligibility (>= n tokens,
    # mirroring with_shingles) is applied per FAMILY, not per doc —
    # clones share their text, so one tokenize of the canonical text
    # decides the whole family, exactly as each member would decide
    # individually.
    fams = (
        df.select(
            F.col(id_col).alias("__id"),
            F.col(text_col).alias("__text"),
            F.md5(text_col).alias("__fp"),
        )
        .groupBy("__fp")
        .agg(
            F.min("__id").alias("canon"),
            F.array_sort(F.collect_list("__id")).alias("members"),
            F.min_by("__text", F.col("__id")).alias("__text"),
        )
        .filter(F.size(tokens_col("__text")) >= n)
    )

    # fams feeds FOUR consumers (the LSH pipeline + both member-
    # expansion sides + the cliques); pin it once instead of
    # recomputing the collapse groupBy per branch — reliably when the
    # caller passed a checkpoint_dir (cluster deployments).
    fams = pin(fams, checkpoint_dir)
    canon_docs = fams.select(
        F.col("canon").alias(id_col), F.col("__text").alias(text_col)
    )
    cpairs = minhash_lsh_dedup_pairs(
        canon_docs, id_col, text_col, n, threshold, bucket_cap, portable=portable
    )
    ma = fams.select(F.col("canon").alias("id_a"), F.col("members").alias("ma"))
    mb = fams.select(F.col("canon").alias("id_b"), F.col("members").alias("mb"))
    cross = (
        cpairs.join(ma, "id_a")
        .join(mb, "id_b")
        .select(F.explode("ma").alias("x"), "mb", "jaccard")
        .select("x", F.explode("mb").alias("y"), "jaccard")
        .select(
            F.least("x", "y").alias("id_a"),
            F.greatest("x", "y").alias("id_b"),
            "jaccard",
        )
    )
    cliques = (
        fams.filter(F.size("members") >= 2)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(members, (x, i) ->"
                    " transform(slice(members, i + 2, size(members)),"
                    " y -> struct(x AS id_a, y AS id_b))))"
                )
            ).alias("p")
        )
        .select("p.id_a", "p.id_b", F.lit(1.0).alias("jaccard"))
    )
    return cross.unionByName(cliques)


def exact_jaccard_components(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """(node, component) over the EXACT-Jaccard pair graph — identical
    output to `connected_components(exact_jaccard_pairs(df))`, computed
    with the tiered decomposition so byte-identical clones never enter
    the similarity join:

    - J(X, clone(Y)) = J(X, Y) and J(clone, clone) = 1 >= any
      threshold, so the full pair graph is exactly (canonical-level
      pairs expanded over clone members) ∪ (clone cliques). Components
      therefore = canonical-graph components expanded to members, plus
      one component per pair-less clone group of size >= 2.
    - Component labels agree: each canonical is the MIN id of its clone
      group, so the min over a canonical component equals the min over
      the expanded member set.
    - Eligibility mirrors `with_shingles` (docs with >= n tokens):
      clone groups of too-short docs share the same token count and
      drop out together, exactly as they are absent from the pairwise
      formulation.

    Why it matters: real corpora are clone-heavy, and clone groups are
    quadratic INSIDE the similarity join (a 10x-replicated corpus costs
    100x the candidate pairs — measured 124 s vs 10 s at the 10x
    probe). Collapsing first makes the exact pair-graph clustering
    scale with DISTINCT content, not raw row count."""
    from .graph import connected_components

    eligible = df.filter(F.size(tokens_col(text_col)) >= n)
    fp = eligible.select(F.col(id_col).alias("__id"), F.md5(text_col).alias("fp"))
    groups = fp.groupBy("fp").agg(
        F.min("__id").alias("canon"), F.count(F.lit(1)).alias("sz")
    )
    canon_docs = df.join(
        groups.select(F.col("canon").alias(id_col)), id_col, "semi"
    )
    pairs = exact_jaccard_pairs(
        canon_docs, id_col, text_col, n, threshold, checkpoint_dir
    )
    comp = connected_components(
        pairs.select("id_a", "id_b"), checkpoint_dir=checkpoint_dir
    )
    clone_selfs = (
        groups.filter(F.col("sz") >= 2)
        .select(F.col("canon").alias("node"), F.col("canon").alias("component"))
        .join(comp.select("node"), "node", "left_anti")
    )
    canon_comp = comp.unionByName(clone_selfs)
    return (
        fp.join(groups.select("fp", "canon"), "fp")
        .join(canon_comp.withColumnRenamed("node", "canon"), "canon")
        .select(F.col("__id").alias("node"), "component")
    )


def exact_containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.9,
    checkpoint_dir: str | None = None,
    pre_shingled: bool = False,
) -> DataFrame:
    """EXACT pairwise set CONTAINMENT c(A→B) = |A∩B| / |A| >= threshold
    over 3-gram shingle sets — the ASYMMETRIC near-dup relation Jaccard
    misses: a document wholly embedded in a longer one (quote farms,
    re-posts with appended boilerplate, truncated mirrors) scores
    containment ~1.0 while its Jaccard can be arbitrarily low. Output is
    ordered pairs (id_a ⊂~ id_b), both directions possible.

    Prefix filter, asymmetric form (the R-S containment variant of
    PPJoin — Xiao et al. WWW'08): the required overlap α = ceil(t·|A|)
    depends ONLY on the probe side A, so A joins through its
    |A| − α + 1 rarest-first prefix tokens while B must expose its FULL
    ordered token list (no index-side prefix exists when α is unknown
    at index time). The join stays an equi-join on the token; selectivity
    survives because A's prefixes exclude the common tokens (sampled
    common-256 demotion, same order as exact_jaccard_pairs), so hot
    B-side tokens mostly never match a probe. Candidates then pass the
    positional upper bound 1 + min(|A|−rkA, |B|−rkB) >= α before the
    exact |A∩B| verification — all bounds with eps slack so float
    rounding can only under-prune, never drop a borderline pair.

    Scale shape: sampled-commons collect (256 rows), one token
    equi-join, pair groupBy, two id-keyed verification joins — no
    cartesian, no window. Verification is exact, so (as with the
    Jaccard twin) correctness never depends on the sample."""
    eps = 1e-9
    # ``pre_shingled``: the caller hands a relation that already carries
    # the distinct string shingles (a pinned handoff a multi-stage DAG
    # derives ONCE and shares across its PPJoin stages — optimization
    # r14, guide §2.3 "don't recompute what a sibling stage computed");
    # eligibility (>= n tokens) is with_shingles' contract, so a
    # pre-shingled input must already be filtered to eligible docs.
    src = (
        df.select(id_col, "shingles")
        if pre_shingled
        else with_shingles(df, text_col, n).select(id_col, "shingles")
    )
    sh = src.select(
        id_col,
        F.array_distinct(
            F.transform("shingles", lambda s: F.xxhash64(s))
        ).alias("hset"),
    )
    with spilled(sh):
        k_common = 256
        sampled = sh.filter(F.pmod(F.xxhash64(F.col(id_col)), F.lit(8)) == 0)
        common = [
            r.tok
            for r in sampled.select(F.explode("hset").alias("tok"))
            .groupBy("tok")
            .agg(F.count(F.lit(1)).alias("c"))
            .orderBy(F.desc("c"), "tok")
            .limit(k_common)
            .collect()
        ]
        order = _token_order(common)
        # Probe side: rarest-first MULTI-prefix of length
        # |A| - ceil(t|A|) + C, capped at |A| (see PPJOIN_PREFIX_C — the
        # asymmetric form: alpha = ceil(t·|A|) depends only on A, so the
        # same min(C, alpha)-shared-tokens guarantee holds against the
        # index side's full list).
        alpha = F.ceil(F.lit(threshold) * F.col("sz") - eps)
        plen = F.col("sz") - alpha + PPJOIN_PREFIX_C
        probe = (
            sh.select(
                F.col(id_col).alias("id"),
                F.size("hset").alias("sz"),
                F.slice(
                    order("hset"),
                    F.lit(1),
                    F.least(plen, F.col("sz")).cast("int"),
                ).alias("pfx"),
            )
            .select("id", "sz", F.posexplode("pfx").alias("rk0", "tok"))
            .select("tok", "id", "sz", (F.col("rk0") + 1).alias("rk"))
        )
        # Index side: FULL ordered token list (alpha is probe-dependent).
        index = (
            sh.select(
                F.col(id_col).alias("id"),
                F.size("hset").alias("sz"),
                F.posexplode(order("hset")).alias("rk0", "tok"),
            )
            .select("tok", "id", "sz", (F.col("rk0") + 1).alias("rk"))
        )
        need = F.ceil(F.lit(threshold) * F.col("a.sz") - eps)
        ub = 1 + F.least(F.col("a.sz") - F.col("a.rk"), F.col("b.sz") - F.col("b.rk"))
        cand = (
            probe.alias("a")
            .join(index.alias("b"), "tok")
            .filter(
                (F.col("a.id") != F.col("b.id"))
                & (F.col("b.sz") >= F.lit(threshold) * F.col("a.sz") - eps)
            )
            .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .agg(
                F.count(F.lit(1)).alias("cnt"),
                F.max(ub).alias("ub"),
                F.max(need).alias("need"),
            )
            .filter(
                (F.col("cnt") >= F.least(
                    F.lit(PPJOIN_PREFIX_C).cast("long"), F.col("need")
                ))
                & (F.col("ub") >= F.col("need"))
            )
            .select("id_a", "id_b")
        )
        cand = cand.repartition(df.sparkSession.sparkContext.defaultParallelism, "id_a")
        a = sh.select(F.col(id_col).alias("id_a"), F.col("hset").alias("sh_a"))
        b = sh.select(F.col(id_col).alias("id_b"), F.col("hset").alias("sh_b"))
        out = (
            cand.join(a, "id_a")
            .join(b, "id_b")
            .withColumn(
                "containment",
                F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
                / F.size("sh_a").cast("double"),
            )
            .filter(F.col("containment") >= F.lit(threshold) - eps)
            .select("id_a", "id_b", "containment")
        )
        out = pin(out, checkpoint_dir)
    return out


def sorted_neighborhood_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """Sorted-neighborhood near-dup candidates (Hernández & Stolfo,
    SIGMOD'95): sort the corpus once by a cheap blocking key (here the
    document's 5 alphabetically-first distinct tokens — shared almost
    verbatim by near-identical docs), then compare each record only to
    its `window` successors in that order, verifying with exact token
    Jaccard. Linear candidate count (N·w), no token inverted index at
    all — the classic cheap first pass when a full similarity join is
    too expensive or the sort key is known-discriminative.

    Scale shape: the global rank comes from operators.scale.global_index
    (range repartition + per-partition offsets), NOT a single-partition
    row_number window; neighbor pairing is w map-side offset copies of
    the rank column feeding ONE rank equi-join; verification is the
    id-keyed join of the pair list against the token sets. Everything is
    keyed — no cartesian, no global sort through one task."""
    from .scale import global_index

    tset = F.array_sort(
        F.array_distinct(F.filter(F.split(F.col(text_col), " "), lambda t: t != ""))
    )
    d = df.select(
        F.col(id_col).alias("id"),
        tset.alias("tset"),
    ).withColumn("key", F.array_join(F.slice("tset", 1, 5), " "))
    ranked = global_index(d, idx_col="rk", order_cols=["key", "id"])
    left = (
        ranked.select("id", "tset", "rk")
        .withColumn("off", F.explode(F.sequence(F.lit(1), F.lit(window))))
        .select(
            F.col("id").alias("id_a"),
            F.col("tset").alias("t_a"),
            F.col("rk").alias("rk_a"),
            (F.col("rk") + F.col("off")).alias("rk_b"),
        )
    )
    right = ranked.select(
        F.col("id").alias("id_b"), F.col("tset").alias("t_b"), F.col("rk").alias("rk_b")
    )
    return (
        left.join(right, "rk_b")
        .withColumn("jaccard", jaccard("t_a", "t_b"))
        .filter(F.col("jaccard") >= threshold)
        .select(
            "id_a",
            "id_b",
            (F.col("rk_b") - F.col("rk_a")).cast("long").alias("rank_gap"),
            "jaccard",
        )
    )


def exact_containment_pairs_collapsed(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.9,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """exact_containment_pairs with CLONE COLLAPSE — the same
    decomposition rule every pairwise similarity consumer in this
    engine follows (minhash_lsh_pairs_collapsed, knn_graph, embedding
    pairs): md5-exact clones are grouped first, the asymmetric prefix
    join runs on ONE canonical per family, and the ordered result is
    expanded back over members — canonical pairs fan out to every
    (member-of-A, member-of-B) combination carrying the SAME
    containment double (identical shingle sets), and families of >= 2
    eligible docs emit their in-family ORDERED pairs at containment
    exactly 1.0 (a set contains itself).

    Output-identical to the flat operator (asserted on a clone-doubled
    fixture in tests) without its quadratic-in-clones candidate cost: a
    family of m clones is ONE probe row and ONE index row instead of m
    of each costing m^2 candidate pairs per shared prefix token — the
    exact blowup the 10x clone probe measures."""
    fams = (
        df.select(
            F.col(id_col).alias("__id"),
            F.col(text_col).alias("__text"),
            F.md5(text_col).alias("__fp"),
        )
        .groupBy("__fp")
        .agg(
            F.min("__id").alias("canon"),
            F.array_sort(F.collect_list("__id")).alias("members"),
            F.min_by("__text", F.col("__id")).alias("__text"),
        )
        .filter(F.size(tokens_col("__text")) >= n)
    )

    fams = pin(fams, checkpoint_dir)
    canon_docs = fams.select(
        F.col("canon").alias(id_col), F.col("__text").alias(text_col)
    )
    cpairs = exact_containment_pairs(
        canon_docs, id_col, text_col, n, threshold, checkpoint_dir
    )
    ma = fams.select(F.col("canon").alias("id_a"), F.col("members").alias("ma"))
    mb = fams.select(F.col("canon").alias("id_b"), F.col("members").alias("mb"))
    # DIRECTION is preserved: x ranges over the probe family, y over the
    # index family (families are disjoint id sets, so x != y always).
    cross = (
        cpairs.join(ma, "id_a")
        .join(mb, "id_b")
        .select(F.explode("ma").alias("x"), "mb", "containment")
        .select("x", F.explode("mb").alias("y"), "containment")
        .select(
            F.col("x").alias("id_a"), F.col("y").alias("id_b"), "containment"
        )
    )
    cliques = (
        fams.filter(F.size("members") >= 2)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(members, x ->"
                    " transform(members, y -> struct(x AS id_a, y AS id_b))))"
                )
            ).alias("p")
        )
        .filter(F.col("p.id_a") != F.col("p.id_b"))
        .select("p.id_a", "p.id_b", F.lit(1.0).alias("containment"))
    )
    return cross.unionByName(cliques)


# ---------------------------------------------------------------------------
# Round 9: cross-document EXACT substring dedup (the Lee et al. 2022
# "Deduplicating Training Data Makes Language Models Better" tier —
# ExactSubstr). The reference's surface has no dedup at all
# (consumer.py is envelope landing only); this is part of the
# LLM-pipeline operator family the north star adds on top.
# ---------------------------------------------------------------------------


def common_substring_runs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    gram_doc_cap: int = 50,
) -> DataFrame:
    """Maximal shared token RUNS between document pairs — the core of
    the ExactSubstr decomposition (see common_substring_pairs), exposed
    with positions so derived detectors (full containment,
    suffix-prefix shard boundaries) can reason about where a run sits:

    (id_a, id_b, pa_start, pb_start, span, len_a, len_b)

    with span in TOKENS (a maximal island of m consecutive k-grams is
    m + k - 1 tokens), 1-based start positions in the clone-collapsed
    docs, and each side's token length carried for boundary predicates.
    Steps 1-5 of common_substring_pairs verbatim; see that docstring
    for the 100 TB variant."""
    collapsed = (
        df.groupBy(F.md5(F.col(text_col)).alias("_h"))
        .agg(
            F.min(id_col).alias(id_col),
            F.min(text_col).alias(text_col),  # identical within group
        )
        .drop("_h")
    )
    toks = collapsed.select(
        id_col, F.split(F.col(text_col), " ").alias("toks")
    )
    lens = toks.select(
        F.col(id_col), F.size("toks").cast("long").alias("n_toks")
    )
    g = (
        toks.filter(F.size("toks") >= k)
        .select(
            F.col(id_col),
            F.posexplode(
                F.expr(
                    f"transform(sequence(1, size(toks) - {k} + 1),"
                    f" i -> array_join(slice(toks, i, {k}), ' '))"
                )
            ).alias("pos0", "gram"),
        )
        .select(F.col(id_col), (F.col("pos0") + 1).alias("pos"), "gram")
    )
    shared = (
        g.groupBy("gram")
        .agg(F.countDistinct(id_col).alias("n_docs"))
        .filter((F.col("n_docs") >= 2) & (F.col("n_docs") <= gram_doc_cap))
        .select("gram")
    )
    occ = g.join(shared, "gram")
    a = occ.select(
        F.col("gram"), F.col(id_col).alias("id_a"), F.col("pos").alias("pa")
    )
    b = occ.select(
        F.col("gram"), F.col(id_col).alias("id_b"), F.col("pos").alias("pb")
    )
    p = (
        a.join(b, "gram")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "pa", (F.col("pa") - F.col("pb")).alias("diag"))
    )
    w = W.partitionBy("id_a", "id_b", "diag").orderBy("pa")
    runs = (
        p.withColumn("grp", F.col("pa") - F.row_number().over(w))
        .groupBy("id_a", "id_b", "diag", "grp")
        .agg(
            F.min("pa").cast("long").alias("pa_start"),
            (F.count(F.lit(1)) + F.lit(k - 1)).cast("long").alias("span"),
        )
        .select(
            "id_a",
            "id_b",
            "pa_start",
            (F.col("pa_start") - F.col("diag")).cast("long").alias("pb_start"),
            "span",
        )
    )
    return (
        runs.join(lens.select(F.col(id_col).alias("id_a"), F.col("n_toks").alias("len_a")), "id_a")
        .join(lens.select(F.col(id_col).alias("id_b"), F.col("n_toks").alias("len_b")), "id_b")
    )


def common_substring_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    min_span: int = 16,
    gram_doc_cap: int = 50,
) -> DataFrame:
    """Pairs of documents sharing an EXACT common token run of >=
    ``min_span`` tokens, with the length of the longest shared run —
    the suffix-array ExactSubstr dedup of Lee et al. 2022 re-expressed
    as keyed shuffles (no suffix array, same answer for runs built from
    grams the cap keeps):

    1. collapse md5-exact clones first (the standing rule for every
       pairwise consumer — a 1000-copy boilerplate family must cost 1
       doc, not 10^6 pairs);
    2. every k-token gram with its start position (posexplode — one
       row per gram, JVM-side slice/array_join only);
    3. drop grams in < 2 or > ``gram_doc_cap`` distinct docs (the
       LSH_BUCKET_CAP discipline: an ultra-common boilerplate gram
       would otherwise fan the self-join quadratically; dropped-gram
       spans are observable via the frequency relation, and a run of
       L > k capped grams is only ALL-capped if every window of it is
       — boilerplate, by construction);
    4. equi-join gram occurrences (id_a < id_b) — never a cross join;
    5. gaps-and-islands per (pair, diagonal): grams of the same pair
       whose position difference pa - pb is equal AND whose pa values
       are consecutive belong to one run; a maximal island of m grams
       is a shared token run of m + k - 1 tokens (window partitioned
       by (id_a, id_b, diag) — many small partitions, distributed);
    6. keep pairs whose longest run >= min_span.

    100 TB variant (documented, not needed at fixture SF): carry
    xxhash64(gram) through the join instead of the gram string (w.h.p.
    collision-free; the island structure re-verifies adjacency), and
    range-partition the gram relation — the same two knobs the PPJoin
    path uses. Output: (id_a, id_b, max_shared_span, n_runs).
    """
    runs = common_substring_runs(df, id_col, text_col, k, gram_doc_cap)
    return (
        runs.groupBy("id_a", "id_b")
        .agg(
            F.max("span").cast("long").alias("max_shared_span"),
            F.count(F.lit(1)).cast("long").alias("n_runs"),
        )
        .filter(F.col("max_shared_span") >= min_span)
    )
