"""Distributed connected components over an edge list.

The missing last stage of a dedup pipeline: candidate PAIRS (from
MinHash/SimHash/Jaccard — operators/dedup.py) must become CLUSTERS
before you can keep one canonical document per group. Transitivity
matters: if A~B and B~C, then {A,B,C} is one duplicate group even when
A~C was never emitted as a pair.

Algorithm: alternating large-star / small-star (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14) — the
published shuffle-bounded formulation:

  large-star(u): for every neighbor v > u, connect v to
                 m = min(N(u) ∪ {u})
  small-star(u): for every neighbor v <= u, connect v to
                 m = min({w in N(u) : w <= u} ∪ {u})

Each round is two groupBy-free join-less passes expressed as
groupBy(min) + join-back — one shuffle on the node id each. The edge
set converges to a star forest (every node points at its component
minimum) in O(log n) rounds with high probability; dedup graphs
(tiny components, small diameter) converge in 2-3 rounds.

Scale notes (100 TB): per-round cost is O(|E|) shuffled bytes of two
longs each; no driver-side state beyond a converged? boolean per
round. Lineage is truncated every round with eager localCheckpoint —
without it the plan doubles per iteration and Catalyst analysis time
explodes. The reference implements no graph operators (SURVEY §2
preamble; its dedup surface is absent entirely) — this is engine
surface added per the north star.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .scale import pin

__all__ = [
    "connected_components",
    "dedup_clusters",
    "triangle_stats",
    "pagerank",
    "min_label_propagation",
    "kcore_peel",
    "local_clustering",
    "common_neighbor_linkpred",
]

#: Below this many symmetric edges the component map is resolved on the
#: driver (one collect + union-find) instead of the iterative
#: large/small-star rounds. 500k edges of two longs ≈ 8 MB collected —
#: broadcast-small. Dedup pair graphs are SPARSE (pairs only among
#: near-dups), so at sf0.01 this path replaces ~3 rounds × several jobs
#: with one job; at 100 TB a dense pair graph exceeds the threshold and
#: takes the O(log n) distributed path unchanged.
DRIVER_CC_EDGE_THRESHOLD = 500_000


def _symmetric(edges: DataFrame) -> DataFrame:
    """Undirected edge list as a symmetric (u, v) relation, self-loops
    dropped, deduplicated."""
    e = edges.select(F.col(edges.columns[0]).alias("u"), F.col(edges.columns[1]).alias("v"))
    return e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v"))).filter(
        "u <> v"
    ).distinct()


def _large_star(nb: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor of u to min(N(u) ∪ {u})."""
    m = nb.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
    return (
        nb.join(m, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter("u <> v")
        .distinct()
    )


def _small_star(nb: DataFrame) -> DataFrame:
    """Connect every neighbor v <= u of u to the min of those (and u)."""
    small = nb.filter(F.col("v") <= F.col("u"))
    m = small.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
    return (
        small.join(m, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .union(m.select(F.col("u"), F.col("m").alias("v")))
        .filter("u <> v")
        .distinct()
    )


def _driver_components(spark, rows, node_t) -> DataFrame:
    """Small-graph fast path: union-find with min-label roots on the
    driver over RAW edge rows (duplicates, self-loops, and either
    orientation are all harmless to union-find — no symmetrize/distinct
    shuffle needed, unlike the star rounds). Exactly the same
    (node, component=min reachable id) contract as the distributed
    rounds, minus the per-round job overhead that dominates when the
    pair graph is tiny."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for r in rows:
        u, v = r[0], r[1]
        if u == v:
            continue  # self-loops carry no membership (matches _symmetric)
        ra, rb = find(u), find(v)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)  # min label becomes the root
    out_schema = T.StructType(
        [T.StructField("node", node_t), T.StructField("component", node_t)]
    )
    out = [(n, find(n)) for n in list(parent)]
    return spark.createDataFrame(out, out_schema)


def connected_components(
    edges: DataFrame,
    max_iter: int = 20,
    driver_threshold: int = DRIVER_CC_EDGE_THRESHOLD,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Return (node, component) for every node appearing in ``edges``,
    where component = the minimum node id reachable from it.

    ``edges``: two-column DataFrame of undirected edges (any column
    names; both sides same orderable type). Converges when a round
    changes nothing; raises if ``max_iter`` rounds were not enough
    (log2-bounded — 20 rounds covers any practically finite graph).

    A broadcast-small edge list (<= ``driver_threshold``//2 raw edges)
    short-circuits to a driver union-find — see
    DRIVER_CC_EDGE_THRESHOLD. The probe and the collect are both
    SCAN-ONLY jobs on the raw edge relation (union-find needs neither
    symmetrization nor dedup), so the small-graph path never pays the
    distinct shuffle the star rounds need; only a graph that exceeds
    the threshold pays for `_symmetric` + checkpoint.

    ``checkpoint_dir``: when given, the per-round lineage pins are
    RELIABLE checkpoints instead of localCheckpoint — on a cluster, a
    lost executor otherwise silently recomputes prior star rounds (the
    same option the PPJoin's pair pin has; see
    scale.pin for the setCheckpointDir guard).
    """
    raw_cap = driver_threshold // 2  # raw edges expand <= 2x symmetric
    two = edges.select(edges.columns[0], edges.columns[1])
    # take(cap+1) short-circuits the scan; getting <= cap rows back means
    # the relation is exhausted — probe and collect are the SAME job.
    head = two.take(raw_cap + 1)
    if len(head) <= raw_cap:
        node_t = edges.schema[edges.columns[0]].dataType
        return _driver_components(edges.sparkSession, head, node_t)
    nb = pin(_symmetric(edges), checkpoint_dir)
    for _ in range(max_iter):
        after_large = _symmetric(_large_star(nb))
        nxt = pin(_symmetric(_small_star(after_large)), checkpoint_dir)
        # Converged iff the symmetric edge sets are identical. Both sides
        # are distinct()-ed, so the union of the two anti-joins decides
        # it exactly — ONE job per round, short-circuited by limit(1).
        changed = (
            nxt.join(nb, ["u", "v"], "left_anti")
            .unionByName(nb.join(nxt, ["u", "v"], "left_anti"))
            .limit(1)
            .count()
        )
        nb = nxt
        if changed == 0:
            break
    else:
        raise RuntimeError(f"connected_components did not converge in {max_iter} rounds")
    # Star forest: every non-root points at its root (the component min).
    non_roots = nb.filter(F.col("u") > F.col("v")).select(
        F.col("u").alias("node"), F.col("v").alias("component")
    )
    roots = non_roots.select(F.col("component").alias("node")).distinct().select(
        "node", F.col("node").alias("component")
    )
    return non_roots.union(roots)


def dedup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Assign every document a duplicate-cluster id: the minimum doc id
    of its connected component in the near-dup pair graph; singletons
    (docs in no pair) are their own cluster. One broadcast-sized join —
    the component map is |nodes-in-pairs| rows, tiny relative to the
    corpus because near-dup pairs are sparse."""
    comp = connected_components(
        pairs.select(pairs.columns[0], pairs.columns[1]),
        checkpoint_dir=checkpoint_dir,
    )
    return (
        docs.join(
            comp.withColumnRenamed("node", id_col),
            on=id_col,
            how="left",
        )
        .withColumn("cluster_id", F.coalesce("component", F.col(id_col)))
        .drop("component")
    )


def triangle_stats(
    edges: DataFrame, checkpoint_dir: str | None = None
) -> DataFrame:
    """One-row graph profile of an undirected edge list: nodes, edges,
    wedges (open 2-paths), triangles, and the global clustering
    coefficient 3*triangles/wedges — the transitivity measure that tells
    a dedup pipeline whether its pair graph is clique-like (true dup
    families close their triangles) or chain-like (threshold too loose,
    clusters formed by weak transitive links).

    Triangle counting via DEGREE-ORDERED ORIENTATION (Suri &
    Vassilvitskii, "Counting Triangles and the Curse of the Last
    Reducer", WWW'11): orient every undirected edge from its
    lower-(degree, id) endpoint to the higher one, build wedges by
    joining oriented edges on their SOURCE (fanout per node is its
    out-degree, which orientation bounds by ~sqrt(|E|) — a hub of
    degree d contributes d(d-1)/2 wedges UNORIENTED but only
    out-deg^2 oriented), then close each wedge with one equi-join
    against the oriented edge set. Every triangle is counted exactly
    once (its vertices have a unique orientation order). Three keyed
    shuffles total: degrees, the wedge self-join, the closing join —
    no cartesian anywhere.

    ``checkpoint_dir``: when given, the multi-consumer pins are RELIABLE
    checkpoints instead of localCheckpoint — same executor-loss contract
    as connected_components / the PPJoin pair pin (VERDICT r4 #3)."""
    # Pinned: e feeds deg + the orientation join, deg feeds four
    # consumers, oriented feeds both wedge sides + the closing relation
    # + its own count — without the pins the whole upstream (including
    # a possibly-unpinned pair join) re-evaluates ~5x (r4 review).
    e = pin(_symmetric(edges), checkpoint_dir)
    deg = pin(
        e.groupBy("u").agg(F.count(F.lit(1)).alias("deg")), checkpoint_dir
    )
    n_nodes = deg.count()
    # wedges from the SYMMETRIC view: sum_v deg(deg-1)/2
    wedge_cnt = deg.agg(
        F.sum(F.col("deg").cast("decimal(38,0)") * (F.col("deg") - 1) / 2)
        .cast("long")
        .alias("w")
    )
    # orientation rank = (deg, id): strict total order over nodes
    ranked = e.join(deg, "u").join(
        deg.select(F.col("u").alias("v"), F.col("deg").alias("deg_v")), "v"
    )
    oriented = pin(
        ranked.filter(
            (F.col("deg") < F.col("deg_v"))
            | ((F.col("deg") == F.col("deg_v")) & (F.col("u") < F.col("v")))
        ).select("u", "v"),
        checkpoint_dir,
    )
    a = oriented.select(F.col("u").alias("c"), F.col("v").alias("x"))
    b = oriented.select(F.col("u").alias("c"), F.col("v").alias("y"))
    wedges = a.join(b, "c").filter(F.col("x") < F.col("y"))
    closing = oriented.select(
        F.col("u").alias("x"), F.col("v").alias("y")
    ).unionByName(
        oriented.select(F.col("u").alias("y"), F.col("v").alias("x"))
    )
    tri_cnt = (
        wedges.join(closing, ["x", "y"], "left_semi")
        .agg(F.count(F.lit(1)).alias("t"))
    )
    n_edges = oriented.count()
    return (
        tri_cnt.crossJoin(F.broadcast(wedge_cnt))
        .select(
            F.lit(n_nodes).alias("n_nodes"),
            F.lit(n_edges).alias("n_edges"),
            F.col("w").alias("n_wedges"),
            F.col("t").alias("n_triangles"),
            F.when(F.col("w") > 0, F.round(3.0 * F.col("t") / F.col("w"), 6))
            .otherwise(F.lit(0.0))
            .alias("clustering_coefficient"),
        )
    )


def pagerank(
    edges: DataFrame,
    n_iters: int = 3,
    total_mass: int = 1_000_000_000_000,
    damping_pct: int = 85,
    checkpoint_dir: str | None = None,
    edge_table: str | None = None,
    n_buckets: int = 32,
) -> DataFrame:
    """Integer-quantized PageRank over an undirected graph, returning
    (node, rank_micro BIGINT) after ``n_iters`` power iterations.

    ``edges`` is a two-column directed edge list treated as undirected:
    it is symmetrized by a both-directions union (UNION ALL — callers
    pass a deduped edge relation, matching the SQL oracle's ``sym``
    CTE). Total mass is ``total_mass`` integer units and every per-edge
    contribution is BIGINT DIV, so any two engines round identically at
    every step and the result is bit-reproducible across cluster
    topologies (a float formulation drifts with summation order).

    Scale design (VERDICT r4 #4 — this is the generalization of the
    formerly-unrolled 3-iteration query):

    - **Per-round pin.** The rank relation is re-pinned every round
      (pin — localCheckpoint without ``checkpoint_dir``,
      reliable checkpoint with), so round k's plan is one join + one agg
      deep regardless of k — no lineage nesting of all prior rounds
      (the connected_components-style blowup this avoids).
    - **Bucketed edge list.** With ``edge_table``, the symmetric edges
      are written ONCE as a managed table bucketed by the join key
      ``v`` (write_bucketed) and every round's contribution join reads
      it back exchange-free on the edge side — only the |nodes|-row
      rank relation shuffles per round, never the |edges|-row relation.
      Use it when the rank relation is too large to broadcast (the
      billions-of-nodes regime): measured at the 10x probe with
      broadcast disabled, 5 iterations run 34 s bucketed vs 48 s plain
      (the one-time write amortizes over rounds). When the rank
      relation DOES broadcast (small graphs), every round's join is
      already exchange-free map-side and the bucketed write is pure
      overhead (30 s plain vs 47 s bucketed, same probe) — so the
      default is off and the caller opts in at scale.
    - The remaining per-round shuffle is the keyed contribution sum
      (map-side combinable) — the same log-bounded round structure
      connected_components uses.
    """
    from .scale import write_bucketed

    two = edges.select(
        F.col(edges.columns[0]).alias("u"), F.col(edges.columns[1]).alias("v")
    )
    sym = two.unionByName(two.select(F.col("v").alias("u"), F.col("u").alias("v")))
    if edge_table is not None:
        # NOT sortBy: with >1 file per bucket Spark cannot exploit
        # bucket sortedness at read, so sortBy only adds write cost
        # (measured: 34 s unsorted vs 49 s sorted, 10x probe, 5 iters,
        # no-broadcast regime — PLANS.md round 5 pagerank table).
        write_bucketed(sym, edge_table, ["v"], n_buckets=n_buckets)
        sym = edges.sparkSession.table(edge_table)
    else:
        sym = pin(sym, checkpoint_dir)
    deg = pin(
        sym.groupBy(F.col("u").alias("node")).agg(F.count(F.lit(1)).alias("deg")),
        checkpoint_dir,
    )
    n = deg.count()
    if n == 0:
        raise ValueError(
            "pagerank: empty edge relation — no nodes to distribute mass over"
        )
    quantum = total_mass // n
    base = (quantum * (100 - damping_pct)) // 100
    r = deg.select("node", "deg", F.lit(quantum).alias("r"))
    for _ in range(n_iters):
        contrib = sym.join(r.withColumnRenamed("node", "v"), "v").select(
            "u", F.expr("r DIV deg").alias("c")
        )
        rsum = contrib.groupBy(F.col("u").alias("node")).agg(F.sum("c").alias("sc"))
        r = pin(
            rsum.join(deg, "node").select(
                "node",
                "deg",
                (F.lit(base) + F.expr(f"({damping_pct} * sc) DIV 100")).alias("r"),
            ),
            checkpoint_dir,
        )
    return r.select("node", F.col("r").alias("rank_micro"))


def min_label_propagation(
    edges: DataFrame,
    n_iters: int = 3,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Synchronous min-label propagation over an undirected graph:
    every node starts labeled with its own id and each round takes the
    MIN of its label and its neighbors' labels. After k rounds a node's
    label is the minimum node id within k hops — the deterministic,
    oracle-checkable core of community
    detection / components detection (run to fixpoint it IS connected
    components; bounded-k is the cheap approximation a triage pass
    uses, and every step is exactly reproducible in ANSI SQL, unlike
    randomized/async label propagation variants).

    Scale shape (identical to pagerank's round structure): edges are
    symmetrized once and pinned; each round is ONE neighbor equi-join +
    ONE map-side-combinable keyed MIN + a node-keyed join with the
    previous labels, and the label relation is re-pinned per round
    (pin — with ``checkpoint_dir`` it survives executor
    loss), so round k's plan stays one-join deep with no lineage
    nesting. Labels are BIGINT mins — bit-exact under any shuffle
    order, and ROBUST to duplicate or both-orientation input edges
    (MIN over a multiset equals MIN over its support — unlike
    kcore_peel's degree counts, no dedup is needed; ADVICE r5)."""
    two = edges.select(
        F.col(edges.columns[0]).alias("u"), F.col(edges.columns[1]).alias("v")
    )
    sym = pin(
        two.unionByName(two.select(F.col("v").alias("u"), F.col("u").alias("v"))),
        checkpoint_dir,
    )
    lbl = sym.select(F.col("u").alias("node")).distinct().withColumn(
        "lbl", F.col("node")
    )
    for _ in range(n_iters):
        nb = (
            sym.join(lbl.withColumnRenamed("node", "v"), "v")
            .groupBy(F.col("u").alias("node"))
            .agg(F.min("lbl").alias("nb_min"))
        )
        lbl = pin(
            lbl.join(nb, "node").select(
                "node", F.least(F.col("lbl"), F.col("nb_min")).alias("lbl")
            ),
            checkpoint_dir,
        )
    return lbl


def kcore_peel(
    edges: DataFrame,
    k: int = 3,
    n_rounds: int = 3,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Bounded k-core peeling over an undirected graph: each round drops
    every node whose CURRENT degree is < k, then recomputes degrees on
    the induced subgraph. Run to fixpoint this yields the k-core
    (Seidman 1983 — the standard cohesion filter before community/
    embedding work); bounded rounds are the deterministic, exactly
    SQL-expressible prefix a triage pass uses. Returns one row per
    round: (round, n_nodes, n_edges_x2) of the surviving subgraph —
    the shrinkage profile that says how much of the graph is load-
    bearing vs peripheral fuzz.

    Scale shape (the pagerank/label-propagation round structure): edges
    are symmetrized once (with a DISTINCT, so duplicate input edges or
    edges already present in both orientations cannot double-count
    degrees — ADVICE r5; degree here = number of distinct neighbors)
    and pinned; each round is one keyed degree count + one semi-join of
    the edge list against surviving nodes per endpoint (two keyed
    shuffles, no cartesian), with the edge relation re-pinned per round
    — plan depth stays constant in n_rounds."""
    two = edges.select(
        F.col(edges.columns[0]).alias("u"), F.col(edges.columns[1]).alias("v")
    )
    sym = pin(
        two.unionByName(
            two.select(F.col("v").alias("u"), F.col("u").alias("v"))
        ).distinct(),
        checkpoint_dir,
    )
    spark = edges.sparkSession
    rows = []
    cur = sym
    for rnd in range(1, n_rounds + 1):
        deg = cur.groupBy(F.col("u").alias("node")).agg(
            F.count(F.lit(1)).alias("deg")
        )
        keep = deg.filter(F.col("deg") >= k).select("node")
        cur = pin(
            cur.join(keep.withColumnRenamed("node", "u"), "u")
            .join(keep.withColumnRenamed("node", "v"), "v")
            .select("u", "v"),
            checkpoint_dir,
        )
        stats = cur.agg(
            F.count_distinct("u").alias("n_nodes"),
            F.count(F.lit(1)).alias("n_edges_x2"),
        ).collect()[0]
        rows.append((rnd, stats.n_nodes or 0, stats.n_edges_x2 or 0))
    return spark.createDataFrame(
        rows, "round int, n_nodes long, n_edges_x2 long"
    )


def bfs_distances(
    edges: DataFrame,
    seeds: DataFrame,
    n_rounds: int = 3,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Bounded multi-source BFS: hop distance (0..n_rounds) from a seed
    node set over an undirected graph — the reachability primitive
    behind influence radius, contamination spread, and "how far is
    every account from a flagged one" triage. Nodes unreached within
    ``n_rounds`` hops are absent from the output (their distance is
    only known to exceed the bound).

    Round structure identical to min_label_propagation/pagerank: edges
    symmetrized once and pinned; each round ONE neighbor equi-join +
    ONE keyed MIN + a merge with the previous frontier, re-pinned per
    round (constant plan depth, executor-loss-safe with
    ``checkpoint_dir``). Distances are exact BIGINT mins, ROBUST to
    duplicate or both-orientation input edges (MIN over a multiset
    equals MIN over its support — no dedup needed; ADVICE r5).

    ``seeds``: one-column DataFrame of seed node ids."""
    two = edges.select(
        F.col(edges.columns[0]).alias("u"), F.col(edges.columns[1]).alias("v")
    )
    sym = pin(
        two.unionByName(two.select(F.col("v").alias("u"), F.col("u").alias("v"))),
        checkpoint_dir,
    )
    dist = seeds.select(F.col(seeds.columns[0]).alias("node")).distinct().withColumn(
        "dist", F.lit(0).cast("long")
    )
    for _ in range(n_rounds):
        nb = (
            sym.join(dist.withColumnRenamed("node", "v"), "v")
            .groupBy(F.col("u").alias("node"))
            .agg((F.min("dist") + 1).alias("nb_dist"))
        )
        dist = pin(
            dist.join(nb, "node", "full_outer").select(
                "node",
                F.least(
                    F.coalesce(F.col("dist"), F.col("nb_dist")),
                    F.coalesce(F.col("nb_dist"), F.col("dist")),
                ).alias("dist"),
            ),
            checkpoint_dir,
        )
    return dist


def local_clustering(
    edges: DataFrame, checkpoint_dir: str | None = None
) -> DataFrame:
    """Per-node LOCAL clustering coefficients over an undirected edge
    list: (node, deg, n_triangles, local_cc = 2T/(deg(deg-1))) — the
    node-level transitivity profile (triangle_stats reports the global
    coefficient; this is the per-node decomposition community methods
    and anomaly triage consume: a high-degree node with near-zero local
    cc is a hub bridging unrelated clusters).

    Same degree-ordered orientation as triangle_stats (Suri &
    Vassilvitskii WWW'11) so wedge fanout stays bounded by out-degree;
    the closing join here is an INNER join (not semi) because every
    triangle must be ENUMERATED once to credit its three vertices —
    one extra explode(3) per triangle, still keyed shuffles only."""
    e = pin(_symmetric(edges), checkpoint_dir)
    deg = pin(
        e.groupBy("u").agg(F.count(F.lit(1)).alias("deg")), checkpoint_dir
    )
    ranked = e.join(deg, "u").join(
        deg.select(F.col("u").alias("v"), F.col("deg").alias("deg_v")), "v"
    )
    oriented = pin(
        ranked.filter(
            (F.col("deg") < F.col("deg_v"))
            | ((F.col("deg") == F.col("deg_v")) & (F.col("u") < F.col("v")))
        ).select("u", "v"),
        checkpoint_dir,
    )
    a = oriented.select(F.col("u").alias("c"), F.col("v").alias("x"))
    b = oriented.select(F.col("u").alias("c"), F.col("v").alias("y"))
    wedges = a.join(b, "c").filter(F.col("x") < F.col("y"))
    closing = oriented.select(
        F.col("u").alias("x"), F.col("v").alias("y")
    ).unionByName(
        oriented.select(F.col("u").alias("y"), F.col("v").alias("x"))
    )
    tri_nodes = (
        wedges.join(closing, ["x", "y"])
        .select(F.explode(F.array("c", "x", "y")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    d = deg.select(F.col("u").alias("node"), "deg")
    return d.join(tri_nodes, "node", "left").select(
        "node",
        "deg",
        F.coalesce(F.col("n_triangles"), F.lit(0)).alias("n_triangles"),
        F.when(
            F.col("deg") >= 2,
            F.round(
                2.0 * F.coalesce(F.col("n_triangles"), F.lit(0))
                / (F.col("deg") * (F.col("deg") - 1.0)),
                6,
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("local_cc"),
    )


def common_neighbor_linkpred(edges: DataFrame, hub_cap: int) -> DataFrame:
    """Common-neighbor link prediction over an undirected u<v edge list:
    NON-adjacent pairs (a, b) with >= 2 shared neighbors, scored by
    neighborhood Jaccard. Returns (a, b, n_common, neighbor_jaccard)
    with a < b.

    HUB CAP (mandatory, part of the semantics): nodes whose symmetric
    degree exceeds ``hub_cap`` are excluded as WEDGE CENTERS — they can
    still appear as a/b, but never as the shared neighbor. Without the
    cap the wedge self-join on the shared neighbor fans out deg² per
    key: one degree-10⁶ staple node emits 10¹² candidate pairs of ~zero
    predictive signal. With it, per-key fanout is <= hub_cap², so the
    shuffle stays bounded on arbitrarily skewed degree distributions
    (the same df-cap rule graph_copurchase_projection and the winnowing
    overlap use). Both Jaccard degrees come from the SAME hub-filtered
    neighborhood N'(x) = {non-hub neighbors of x}, so
    |N'(a) ∪ N'(b)| = deg'(a) + deg'(b) - n_common stays an exact set
    identity.

    Plan: one keyed degree agg, a broadcast anti-join of the (tiny) hub
    list onto the symmetric edges, the wedge equi-join on the shared
    neighbor, a left-anti join against the input edges (drop already-
    adjacent pairs), two broadcast degree joins. Exact integers until
    the single final division."""
    raw = edges.select(
        F.col(edges.columns[0]).alias("u"), F.col(edges.columns[1]).alias("v")
    )
    # normalize to u < v so the adjacency anti-join below matches the
    # a < b candidate orientation regardless of input edge orientation
    e = raw.select(
        F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
    ).filter("u <> v").distinct()
    # Pinned (optimization r14, guide §5 plan truncation): `e` feeds
    # the symmetrization AND the adjacency anti-join, and the
    # hub-filtered `symf` feeds THREE consumers (degn + both wedge
    # sides) — unpinned, each reference re-derives the normalize/
    # symmetrize/anti-join subtree (the query's plan carried 120
    # Exchange nodes). Both relations are O(|edges|).
    e = pin(e)
    sym = _symmetric(e)
    deg = sym.groupBy(F.col("u").alias("node")).agg(F.count(F.lit(1)).alias("deg"))
    hubs = deg.filter(F.col("deg") > hub_cap).select(F.col("node").alias("v"))
    symf = pin(sym.join(F.broadcast(hubs), "v", "left_anti"))
    degn = symf.groupBy(F.col("u").alias("node")).agg(F.count(F.lit(1)).alias("deg"))
    s1 = symf.select(F.col("u").alias("a"), F.col("v").alias("n"))
    s2 = symf.select(F.col("u").alias("b"), F.col("v").alias("n"))
    cn = (
        s1.join(s2, "n")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .filter(F.col("n_common") >= 2)
    )
    cand = cn.join(e, (e.u == cn.a) & (e.v == cn.b), "left_anti")
    da = degn.select(F.col("node").alias("a"), F.col("deg").alias("deg_a"))
    db = degn.select(F.col("node").alias("b"), F.col("deg").alias("deg_b"))
    return (
        cand.join(F.broadcast(da), "a")
        .join(F.broadcast(db), "b")
        .select(
            "a",
            "b",
            "n_common",
            F.round(
                F.col("n_common").cast("double")
                / (F.col("deg_a") + F.col("deg_b") - F.col("n_common")),
                6,
            ).alias("neighbor_jaccard"),
        )
    )
