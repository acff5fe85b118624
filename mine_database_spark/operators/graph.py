"""Graph operators: iterative frontier BFS / reachability and pruning.

Reference semantics (studied, not copied): `find_minimal_set` reverse-BFS
(/root/reference/minedatabase/pickaxe.py:995-1044), `prune_network`
(pickaxe.py:942-969), pathway BFS (Scripts/pathway_search.py:59-144).

Spark-first design: the graph is an edge DataFrame `(src, dst)`; each BFS
round is one distributed join + anti-join. The frontier is usually small so
it is broadcast. Every loop that checkpoints a round runs on
`iterate.iterate`; `bfs_reach_bipartite` is the one lazy fixed-hop loop
(no checkpoint, no job at build). At 100 TB the edge table is the big side
and stays shuffle-partitioned on `src`; only the frontier moves.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mine_database_spark.operators.iterate import iterate
from mine_database_spark.operators.pairs import key_pairs, postings


def bfs_reach_bipartite(
    membership: DataFrame,
    seeds: DataFrame,
    max_iter: int,
    group_col: str = "g",
    id_col: str = "id",
) -> DataFrame:
    """Reachability over a co-occurrence graph WITHOUT materializing pair edges.

    `membership` is the bipartite (group, item) table; two items are adjacent
    iff they share a group. One hop = two equi-joins (items -> their groups ->
    those groups' items) instead of a self-joined pair-edge table.

    Scale rationale (100 TB): the pair-edge table is quadratic in
    items-per-group and its `distinct` dominates the shuffle (measured 2.5x
    slower end-to-end at sf0.1); the bipartite form shuffles only the
    membership table — pre-bucketable on either key — and broadcasts the
    frontier/group sets. The loop stays lazy: building the result runs no
    job, so it suits small fixed hop counts.

    Reference semantics: find_minimal_set reverse BFS
    (/root/reference/minedatabase/pickaxe.py:995-1044) over the implicit
    compound–reaction bipartite graph (pickaxe.py:546-547).
    """
    # no distinct on membership: reachability is duplicate-insensitive
    # (left_semi probe sides and the per-hop frontier distinct absorb dups),
    # so the (group, id) dedup shuffle would be pure overhead. The projection
    # is deliberately NOT persisted: each round re-scans the two-column
    # pushed-down parquet, which at scale beats pinning the big side in
    # executor storage (the standard Pregel-on-DataFrames tradeoff).
    m = membership.select(F.col(group_col).alias("__g"), F.col(id_col).alias(id_col))
    visited = seeds.select(F.col(seeds.columns[0]).alias(id_col)).distinct().withColumn("hops", F.lit(0))
    frontier = visited.select(id_col)
    for it in range(1, max_iter + 1):
        # left_semi instead of join+distinct: duplicates in a broadcast build
        # side are harmless, and skipping the distinct removes one shuffle
        # per hop (the distinct on the new frontier below stays — hop labels
        # must be unique).
        groups = m.join(F.broadcast(frontier), id_col, "left_semi").select("__g")
        nxt = (
            m.join(F.broadcast(groups), "__g", "left_semi")
            .select(id_col)
            .distinct()
            .join(visited.select(id_col), id_col, "left_anti")
        )
        # no checkpoint or cache: under AQE even a lazy localCheckpoint
        # forces the upstream broadcast stages, and cache() pins the
        # CacheManager until an explicit unpersist
        visited = visited.unionByName(nxt.withColumn("hops", F.lit(it)))
        frontier = nxt
    return visited


def connected_components(
    edges: DataFrame,
    id_a: str = "a_id",
    id_b: str = "b_id",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components by min-label propagation to fixpoint.

    Returns (id, component) for every node appearing in `edges`, where
    component = the minimum node id in that node's component. This is the
    step that turns near-duplicate PAIRS (minhash/simhash/embedding) into
    dedup CLUSTERS with a canonical survivor per cluster.

    Each round is one join + min-aggregate on the symmetrized edge table
    (`iterate`; stops at the first round that moves no label). Rounds
    needed = graph diameter (near-dup clusters are shallow, typically 2-4);
    a graph still moving after `max_iter` rounds raises RuntimeError rather
    than return plausible-but-wrong clusters. At 100 TB the edge table
    stays partitioned by src across rounds; only labels shuffle.
    """
    e = edges.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    # lazy localCheckpoint, not cache(): reused every round once the first
    # round materializes it, and GC-cleaned with the DataFrame instead of
    # leaking a CacheManager entry per invocation
    sym = (
        e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    labels = sym.select(F.col("src").alias("id")).distinct().withColumn("label", F.col("id"))

    def step(history):
        labels = history[-1]
        nbr_min = (
            sym.join(labels.select(F.col("id").alias("dst"), F.col("label").alias("dlabel")), "dst")
            .groupBy("src")
            .agg(F.min("dlabel").alias("nlabel"))
        )
        return labels.join(nbr_min.withColumnRenamed("src", "id"), "id", "left").select(
            "id", F.least(F.col("label"), F.coalesce("nlabel", "label")).alias("label")
        )

    history, converged = iterate(
        labels.localCheckpoint(eager=True), step, max_rounds=max_iter,
        done=lambda prev, new: new.join(prev, ["id", "label"], "left_anti").isEmpty(),
    )
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds; "
            "raise max_iter above the component diameter"
        )
    return history[-1].select("id", F.col("label").alias("component"))


def _path_levels(
    edges: DataFrame, frontier: DataFrame, hops: int, excluded: DataFrame | None = None
) -> list:
    """The simple-path walk `enumerate_paths` and `network.pathway_bfs`
    share. `frontier` is (node, nodes), `nodes` the path array ending at
    `node`; each round extends every path by one edge (src, dst, ...)
    whose `dst` is not already on it and dedups; the walk stops after
    `hops` rounds or at the first empty level. `excluded` (one id column)
    leaves the walk by anti-joins on the frontier and both edge endpoints
    before the loop. Returns every level, the (filtered) frontier first."""
    if excluded is not None:
        bad = excluded.select(F.col(excluded.columns[0]).alias("node")).distinct()
        frontier = frontier.join(bad, "node", "left_anti")
        edges = edges.join(bad.withColumnRenamed("node", "src"), "src", "left_anti")
        edges = edges.join(bad.withColumnRenamed("node", "dst"), "dst", "left_anti")

    def step(history):
        return (
            edges.join(history[-1].withColumnRenamed("node", "src"), "src")
            .where(~F.array_contains(F.col("nodes"), F.col("dst")))
            .select(
                F.col("dst").alias("node"),
                F.concat(F.col("nodes"), F.array(F.col("dst"))).alias("nodes"),
            )
            .distinct()
        )

    return iterate(frontier, step, max_rounds=hops, done=lambda prev, new: new.isEmpty())[0]


def enumerate_paths(
    edges: DataFrame,
    starts: DataFrame,
    max_depth: int = 5,
    excluded_nodes: DataFrame | None = None,
) -> DataFrame:
    """Depth-capped simple-path enumeration from `starts` over directed
    `edges(src, dst)` — the reference's PathwaySearch carries exactly this
    growing path per frontier row (Scripts/pathway_search.py:59-144).

    Returns one row per path prefix: (node, path, length) where `path` is the
    '->'-joined node sequence and `node` its tail. Each round is one join on
    the frontier's tail node (`_path_levels`); cycles are cut by
    `array_contains` on the path array. At 100 TB the edge table is the big
    side, partitioned on `src`; only the (small) frontier with its paths
    shuffles.

    `excluded_nodes` (one id column) removes nodes from the walk entirely —
    no path may start at, pass through, or end on one (pathway_search.py:
    32-43's node guard): one anti-join on each edge endpoint before the
    walk, not a per-hop predicate.
    """
    start_col = starts.columns[0]
    frontier = starts.select(
        F.col(start_col).alias("node"), F.array(F.col(start_col)).alias("nodes")
    ).distinct()
    levels = _path_levels(edges, frontier, max_depth - 1, excluded_nodes)
    return reduce(DataFrame.unionByName, levels).select(
        "node",
        F.array_join(F.transform(F.col("nodes"), lambda x: x.cast("string")), "->").alias("path"),
        F.size("nodes").cast("int").alias("length"),
    )


def co_occurrence_edges(df: DataFrame, group_col: str, item_col: str) -> DataFrame:
    """Undirected co-occurrence edges: items sharing a group value.

    Used to build the co-purchase graph from lineitem (group=order,
    item=part). Returns (src, dst): both directions of every pair (the
    symmetric closure), no self-loops, deduplicated. NULL groups and NULL
    items produce no edges; items must be orderable (pairs.postings).

    Scale: one posting list per group (pairs.key_pairs); the explode volume
    is Σ n_g² over groups and a giant group's pairs land in one task.
    """
    und = key_pairs(postings(df, [group_col], item_col)).select(
        F.col("a_id").alias("src"), F.col("b_id").alias("dst")
    ).distinct()
    return und.select(
        F.explode(
            F.array(
                F.struct(F.col("src"), F.col("dst")),
                F.struct(F.col("dst").alias("src"), F.col("src").alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")


def pagerank_fixed(
    edges: DataFrame,
    iters: int = 5,
    damping_pct: int = 85,
    scale: int = 10**9,
    src_col: str = "src",
    dst_col: str = "dst",
    symmetric: bool = False,
    storage_level=None,
    broadcast_ranks: bool = False,
) -> DataFrame:
    """Fixed-iteration PageRank in INTEGER arithmetic, so the result is
    bit-reproducible across engines and partition counts: ranks live in
    `scale` units per node (start = scale ≡ rank 1.0, unnormalized
    convention), each node sends `r div outdeg` units down every out-edge,
    and the update is `(scale - d) + (d_pct · Σ_in) div 100` with every
    division an integer floor — the incoming SUM is an integer sum, which
    is order-independent where a float PageRank's partial sums are not.
    Floor truncation loses ≤ outdeg + 100 units (≈1e-7 of a rank) per node
    per iteration — far below any ranking-relevant difference — and buys a
    value a SQL oracle reproduces exactly.

    Node set = every id appearing as a source or destination; dangling
    mass (nodes with no out-edges) simply evaporates, the common
    simplification. Returns (id, rank_units BIGINT, rank = units/scale
    rounded 6).

    Scale: each iteration is one src-keyed equi-join (ranks are
    O(nodes)) + one map-side-combinable dst-keyed sum + a left join back
    onto the node list — shuffle volume O(edges) per iteration, the
    standard distributed PageRank shape. iters is a constant, so the
    logical plan is a depth-`iters` LINEAR chain (no self-join doubling —
    the plan-growth hazard documented for scrub pipelines doesn't apply).
    Overflow headroom: Σ ranks ≤ n·scale, so damping_pct·Σ needs
    n·scale·100 < 2^63 — at scale=1e9 that holds to ~90M nodes; lower
    `scale` for larger graphs.

    `storage_level` LAZILY persists the weighted edge table (edges ⋈
    outdeg) and the node list across the iteration's many references
    (`ew` per contribution join, `nodes` per rank rebuild). MEASURED at
    sf0.1 (r15 A/B, min-of-3 isolated noop passes): the persist LOSES —
    6.47 s recompute vs 7.12 s MEMORY_AND_DISK for the registered
    co-purchase query — because AQE's runtime ReusedExchange already
    dedupes the repeated edge-derivation subtrees within one execution,
    and the cache only adds materialization cost and blocks the reuse
    path. The registered query therefore passes None (the default). The
    option remains for inputs whose derivation AQE cannot reuse (e.g. an
    expensive remote scan with no exchange boundary); at 100 TB prefer
    feeding this function PRE-MATERIALIZED edges either way.

    `broadcast_ranks` pins a broadcast hint on the two O(nodes) sides of
    each iteration (the rank vector entering the contribution join, the
    per-dst sums entering the rank rebuild), turning both per-iteration
    sort-merge joins into broadcast hash joins: the O(edges) side is
    never exchanged or sorted for the join, only the partial-aggregated
    contribution sums still shuffle. MEASURED at sf0.1 (r15 A/B, min-of-3
    isolated noop passes, identical rows asserted): 7.86 s → 6.67 s on
    the registered co-purchase query; eager/lazy localCheckpoints of the
    edge table and a shuffle_hash hint were also measured and LOSE (9.6 /
    8.8 / 7.6 s). Default False because the hint commits every executor
    (and the driver) to holding the full rank vector: with the default
    scale=1e9 the overflow headroom already documented above caps the
    graph at ~9e7 nodes ≈ 1.4 GB of (id, rank) pairs — inside Spark's
    broadcast cap but far beyond the comfortable range — so the hint is a
    deliberate opt-in for node sets known to be join-table-sized, and the
    hint-free default keeps the operator safe for billion-node graphs
    (where `scale` must be lowered anyway).

    Reference context: the reference's graph ops are BFS reach/pruning
    (pickaxe.py:898-1021); PageRank extends the same edge-table model with
    the canonical iterative-centrality workload.

    No `converged` flag and no `iterate`: power iteration converges only
    asymptotically, so consecutive iterates are essentially never equal,
    and the build must run no job. Pick `iters` from the geometric bound
    ‖r_t − r*‖₁ ≤ d^t·‖r_0 − r*‖₁ (d = damping_pct/100; d=0.85 leaves
    <1e-3 of residual mass at iters≈43).
    """
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    if not 0 <= damping_pct <= 100:
        raise ValueError(f"damping_pct must be in [0, 100], got {damping_pct}")
    e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).cast("bigint").alias("od"))
    # symmetric graphs (e.g. co-occurrence): src-set == dst-set == node set,
    # so the node list falls out of the outdeg aggregate for free instead
    # of a second union+distinct pass over the edge table
    if symmetric:
        nodes = outdeg.select(F.col("src").alias("id"))
    else:
        nodes = (
            e.select(F.col("src").alias("id"))
            .unionByName(e.select(F.col("dst").alias("id")))
            .distinct()
        )
    ew = e.join(outdeg, "src")
    if storage_level is not None:
        ew = ew.persist(storage_level)
        nodes = nodes.persist(storage_level)
    base = scale - scale * damping_pct // 100
    ranks = nodes.select("id", F.lit(scale).cast("bigint").alias("r"))
    for _ in range(iters):
        rhs = F.broadcast(ranks) if broadcast_ranks else ranks
        contrib = ew.join(rhs, ew.src == rhs.id).select(
            "dst", F.expr("r div od").alias("c")
        )
        sums = contrib.groupBy("dst").agg(F.sum("c").alias("s"))
        srhs = F.broadcast(sums) if broadcast_ranks else sums
        ranks = nodes.join(srhs, nodes.id == srhs.dst, "left").select(
            nodes.id,
            (
                F.lit(base).cast("bigint")
                + F.expr(f"({damping_pct}L * coalesce(s, 0L)) div 100")
            ).alias("r"),
        )
    return ranks.select(
        "id",
        F.col("r").alias("rank_units"),
        F.round(F.col("r") / F.lit(float(scale)), 6).alias("rank"),
    )


def triangle_count(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    storage_level=None,
) -> DataFrame:
    """Per-node triangle counts + local clustering coefficient over an
    undirected edge set — the community-structure audit of any
    co-occurrence graph (a dedup-pair graph whose nodes close triangles
    is CLUSTERED duplication — template families — where a triangle-free
    one is pairwise noise; the same read tells a link-graph curator which
    domains are citation rings).

    Input edges may carry either or both directions; they canonicalize to
    a < b internally. Returns (node, degree, triangles, clustering_coeff
    = 2·t/(d·(d−1)) rounded 6, 0.0 for degree < 2) for every node.

    Scale: the classic oriented edge-iterator — wedges enumerate only
    from the id-ordered edge list (a<b joined to b<c), so each triangle
    is generated exactly once and the wedge volume is Σ_b deg_lo(b)·
    deg_hi(b), never the all-pairs square. All three joins are equi-joins
    Catalyst shuffles on node keys. The id orientation keeps the SQL
    oracle a three-line replay but is SKEW-EXPOSED: a low-id hub emits
    O(deg²) wedges from one node. `triangle_count_deg` is the
    (degree, id)-oriented twin (Chiba–Nishizeki — provably minimum wedge
    volume, identical output) — use it whenever the degree distribution
    is heavy-tailed; `wedge_volume(e, by_degree=...)` measures the trade
    on a sample before committing either way.

    The canonical edge set feeds FOUR branches (three triangle joins +
    the degree count) and AQE does not reuse its exchange across them
    (measured 0 ReusedExchange over 25 exchanges at sf0.1 — the edge
    build re-ran per branch); `storage_level` (e.g. MEMORY_AND_DISK)
    persists it so the build runs ONCE per execution. Measured at sf0.1:
    fresh-execution (cache cleared) 7.8s -> 7.1s median — modest here
    because this edge build is one cheap self-join, and the win scales
    with build cost; warm cross-invocation steady state (Spark's
    cacheManager serves plan-identical scans) 2.24s -> 0.85s. The
    persisted handle is exposed on the result as `out.persisted_edges`
    so callers can `.unpersist()` (the winnow_pairs convention); None
    (default) keeps the pure recompute form for one-shot batch jobs where
    the edge set dwarfs executor storage.
    """
    canon = _canon_edges(edges, src_col, dst_col)
    if storage_level is not None:
        canon = canon.persist(storage_level)
    # wedge (a<b<c) closed by the (a,c) edge
    e2 = canon.select(F.col("a").alias("b"), F.col("b").alias("c"))
    e3 = canon.select(F.col("a").alias("ta"), F.col("b").alias("tc"))
    tri = (
        canon.join(e2, "b")
        .join(e3, (F.col("a") == F.col("ta")) & (F.col("c") == F.col("tc")))
        .select("a", "b", "c")
    )
    per_node = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("triangles"))
    )
    both = canon.select("a", "b").unionAll(
        canon.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    deg = both.groupBy(F.col("a").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("degree")
    )
    t = F.coalesce(F.col("triangles"), F.lit(0).cast("bigint"))
    coeff = F.when(
        F.col("degree") >= 2,
        F.round(2.0 * t / (F.col("degree") * (F.col("degree") - 1)), 6),
    ).otherwise(F.lit(0.0))
    out = deg.join(per_node, "node", "left").select(
        "node", "degree", t.alias("triangles"), coeff.alias("clustering_coeff")
    )
    if storage_level is not None:
        out.persisted_edges = canon
    return out


def _peel_round(e: DataFrame, keep: DataFrame, broadcast_keep: bool) -> DataFrame:
    """One k-core peel round: restrict the edge set to endpoints in `keep`
    via two left-semi joins. Split out so plan tests can .explain() the
    per-round join shape directly (inside k_core every round is eagerly
    localCheckpointed, which hides the joins from the final plan)."""
    side = F.broadcast(keep) if broadcast_keep else keep
    return e.join(side, e["src"] == keep["node"], "left_semi").join(
        side, e["dst"] == keep["node"], "left_semi"
    )


def _canon_edges(edges: DataFrame, src_col: str, dst_col: str) -> DataFrame:
    """Undirected edge set canonicalized to (a < b), self-loops dropped,
    deduplicated — the shared input of both triangle orientations."""
    return (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("a"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )


def _degree_oriented(canon: DataFrame) -> DataFrame:
    """Orient each canonical edge from the (degree, id)-smaller endpoint
    to the larger (Chiba–Nishizeki order). Returns (s, t, dt) with dt the
    degree of t, carried so the wedge join can compare (degree, id)
    without re-joining the degree table."""
    both = canon.select("a", "b").unionAll(
        canon.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    deg = both.groupBy(F.col("a").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("degree")
    )
    da = deg.select(F.col("node").alias("a"), F.col("degree").alias("da"))
    db = deg.select(F.col("node").alias("b"), F.col("degree").alias("db"))
    e = canon.join(da, "a").join(db, "b")
    # canon already has a < b, so a degree tie orients a -> b
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    return e.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("s"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("t"),
        F.when(a_first, F.col("db")).otherwise(F.col("da")).alias("dt"),
    )


def triangle_count_deg(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    storage_level=None,
) -> DataFrame:
    """Degree-oriented twin of `triangle_count` — identical output
    (triangles are orientation-invariant), different wedge volume.

    Edges orient from the (degree, id)-smaller endpoint to the larger
    (Chiba–Nishizeki); wedges enumerate only between out-neighbors, so a
    node's wedge contribution is C(outdeg, 2) and every out-degree is
    bounded by the node's CORENESS-ish rank, not its raw degree: a hub
    that id-orientation would hand O(deg²) wedges (triangle_count's
    documented skew exposure) has NO out-edges here — all its edges point
    at it. Σ C(outdeg, 2) is provably the minimum over edge orientations
    by total order, which is what caps the skewed-key wedge blow-up at
    100× scale. Costs two extra O(nodes) degree equi-joins onto the edge
    set relative to the id form — the right trade whenever the degree
    distribution is heavy-tailed (every real co-occurrence graph).

    Returns (node, degree, triangles, clustering_coeff) exactly as
    `triangle_count`. `storage_level` persists the ORIENTED edge set
    (feeds the two wedge sides + the closing join); handle exposed as
    `out.persisted_edges`. The canonical set appears ~7× in the plan
    TEXT (the orientation's degree build embeds it twice per endpoint
    join) but is NOT persisted: measured at sf0.1, also persisting it
    changed nothing (7.31s vs 7.27s median isolated) — AQE's
    ReusedExchange already dedupes the canon build's exchanges within
    one execution, and an extra pinned table is pure storage pressure.

    Measured at sf0.1 (co-purchase graph, isolated steady-state, quiet
    machine): 7.3s median vs the id form's 6.9s — the bench graph's
    degree distribution is near-uniform (~90 everywhere), so the two
    orientation joins cost more than the wedge reduction saves there;
    the planted-hub pytest shows the 1226→1 wedge collapse this form
    exists for. Pick by `wedge_volume` on a sample, as documented.
    """
    canon = _canon_edges(edges, src_col, dst_col)
    o = _degree_oriented(canon)
    if storage_level is not None:
        o = o.persist(storage_level)
    w1 = o.select(F.col("s"), F.col("t").alias("t1"), F.col("dt").alias("dt1"))
    w2 = o.select(F.col("s"), F.col("t").alias("t2"), F.col("dt").alias("dt2"))
    closing = o.select(F.col("s").alias("t1"), F.col("t").alias("t2"))
    tri = (
        w1.join(w2, "s")
        .where(
            (F.col("dt1") < F.col("dt2"))
            | ((F.col("dt1") == F.col("dt2")) & (F.col("t1") < F.col("t2")))
        )
        .join(closing, ["t1", "t2"])
        .select("s", "t1", "t2")
    )
    per_node = (
        tri.select(F.explode(F.array("s", "t1", "t2")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("triangles"))
    )
    both = canon.select("a", "b").unionAll(
        canon.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    deg = both.groupBy(F.col("a").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("degree")
    )
    t = F.coalesce(F.col("triangles"), F.lit(0).cast("bigint"))
    coeff = F.when(
        F.col("degree") >= 2,
        F.round(2.0 * t / (F.col("degree") * (F.col("degree") - 1)), 6),
    ).otherwise(F.lit(0.0))
    out = deg.join(per_node, "node", "left").select(
        "node", "degree", t.alias("triangles"), coeff.alias("clustering_coeff")
    )
    if storage_level is not None:
        out.persisted_edges = o
    return out


def adamic_adar(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    top_k: int = 100,
    max_degree: int | None = None,
    exclude_existing: bool = True,
    storage_level=None,
) -> DataFrame:
    """Adamic–Adar link prediction over an undirected graph: for a node
    pair (u, v), score = Σ over common neighbors w of 1/ln(deg(w)) —
    the classic "which pairs SHOULD be connected" audit (missing edges in
    a co-purchase graph are bundle candidates; in a dup-pair graph they
    are family members one band-collision short of detection).

    Determinism: each center's weight is quantized ONCE to integer ppm
    (floor(1e6/ln(deg))), so the per-pair score is an exact integer SUM —
    never an order-sensitive float accumulation (the embedding_outliers
    quantization convention). `score` = ppm/1e6 rounded 6 derives from it
    in one fixed expression.

    Returns top_k rows (src, dst, common_neighbors, score, rank) by
    (score desc, src, dst); `exclude_existing=True` (default) anti-joins
    pairs that are already edges — the link-PREDICTION form; False keeps
    them (the neighborhood-overlap audit form).

    Scale: common-neighbor enumeration is one posting list per center w
    (pairs.key_pairs), O(Σ C(deg(w), 2)) pairs. `max_degree` EXCLUDES hub
    centers before their neighbor set is built (pairs.postings cap) —
    principled, not an approximation dodge: a hub's weight 1/ln(deg) is
    the smallest in the graph and its C(deg, 2) wedges the most expensive.
    The final top-k is a sort-limit (TakeOrdered).

    `storage_level` lazily persists the canonical edge set and the
    weighted adjacency; the registered query passes None (measurements in
    docs/SHUFFLES.md).
    """
    if top_k < 1:
        raise ValueError(f"top_k must be >= 1, got {top_k}")
    canon = _canon_edges(edges, src_col, dst_col)
    if storage_level is not None:
        canon = canon.persist(storage_level)
    both = canon.select("a", "b").unionAll(
        canon.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    # `both` is distinct, so each center's posting size is its degree
    nbrs = postings(both, ["a"], "b", cap=max_degree)
    degree = F.size("ids").cast("bigint")
    w_ppm = F.floor(
        F.lit(1_000_000.0) / F.log(degree.cast("double"))
    ).cast("bigint")
    adj = nbrs.where(degree >= 2).select(w_ppm.alias("w_ppm"), "ids")
    if storage_level is not None:
        adj = adj.persist(storage_level)
    scored = (
        key_pairs(adj)
        .groupBy(F.col("a_id").alias("u"), F.col("b_id").alias("v"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("common_neighbors"),
            F.sum("w_ppm").alias("aa_ppm"),
        )
    )
    if exclude_existing:
        scored = scored.join(
            canon,
            (scored["u"] == canon["a"]) & (scored["v"] == canon["b"]),
            "left_anti",
        )
    top = scored.orderBy(F.desc("aa_ppm"), F.asc("u"), F.asc("v")).limit(top_k)
    win = Window.orderBy(F.desc("aa_ppm"), F.asc("u"), F.asc("v"))
    return top.select(
        F.col("u").alias("src"),
        F.col("v").alias("dst"),
        "common_neighbors",
        F.round(F.col("aa_ppm") / 1_000_000.0, 6).alias("score"),
        F.row_number().over(win).cast("int").alias("rank"),
    )


def wedge_volume(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    by_degree: bool = False,
) -> int:
    """Σ_u C(outdeg(u), 2) of the oriented edge set — the exact row count
    entering the wedge self-join, i.e. the cost model both triangle
    orientations compete on. An AUDIT scalar (one aggregate, collected);
    run it at a sampled SF to decide orientation before the real job."""
    canon = _canon_edges(edges, src_col, dst_col)
    o = (
        _degree_oriented(canon)
        if by_degree
        else canon.select(F.col("a").alias("s"))
    )
    row = (
        o.groupBy("s")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .agg(
            F.sum((F.col("n") * (F.col("n") - 1)) / F.lit(2))
            .cast("bigint")
            .alias("w")
        )
        .collect()[0]
    )
    return int(row["w"] or 0)


def k_core(
    edges: DataFrame,
    k: int | None = None,
    iters: int = 6,
    src_col: str = "src",
    dst_col: str = "dst",
    broadcast_keep: bool = False,
) -> DataFrame:
    """k-core peel: repeatedly drop nodes whose CURRENT degree is below k
    until (up to `iters` rounds of) fixpoint; returns the surviving
    (node, core_degree) — the dense backbone of a graph. For a dedup-pair
    graph the core IS the template family worth human review; for a link
    graph it is the citation ring; for the co-purchase graph the staple
    basket set.

    `k=None` derives k as the LOWER-MEDIAN initial degree via a scalar
    subquery (degree-histogram cum·2 >= total — the hist_quantiles
    integer rule, no float, no collect), making the query meaningful at
    any scale factor without a hand-tuned constant. The peel runs on
    `iterate`, at most `iters` rounds, and stops at the first round that
    removes no edge. Every output row carries `converged` — true iff such
    a round came, i.e. the result is the true k-core fixpoint; with
    insufficient `iters` under-peeled nodes can remain, and callers
    branching on core membership should gate on the flag.

    Scale: each round is one degree aggregate + two node semi-joins over
    the shrinking edge set — O(edges) per round. The keep-list is
    O(nodes), so by default (`broadcast_keep=False`) the semi-joins carry
    NO broadcast hint: Catalyst/AQE picks broadcast at runtime when the
    surviving node set is actually small (each round is checkpointed, so
    AQE sees real sizes), and falls back to shuffle/sort-merge when it is
    not — at 100 TB bucket the edge table on src/dst and the semi-joins
    sort-merge co-located as documented.
    `broadcast_keep=True` pins the hint for callers who KNOW the core is
    tiny (a hint-pinned O(nodes) build side would otherwise OOM the
    driver on a billion-node graph long before any fallback). Input edges
    may carry either or both directions; they are symmetrized internally.
    """
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    if k is not None and k < 1:
        raise ValueError(f"k must be >= 1 (or None), got {k}")
    sym = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .unionAll(
            edges.select(
                F.col(dst_col).alias("src"), F.col(src_col).alias("dst")
            )
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    if k is None:
        deg0 = sym.groupBy("src").agg(F.count(F.lit(1)).cast("bigint").alias("d"))
        hist = deg0.groupBy("d").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        wcum = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, Window.currentRow)
        wtot = Window.partitionBy()
        # read every round: checkpoint once, or each round replays the
        # degree histogram
        kdf = (
            hist.select(
                "d",
                F.sum("n").over(wcum).alias("cum"),
                F.sum("n").over(wtot).alias("tot"),
            )
            .where(F.col("cum") * 2 >= F.col("tot"))
            .agg(F.min("d").alias("k"))
            .localCheckpoint(eager=True)
        )
    else:
        # literal threshold: a 1-row range, never a pass over the graph
        kdf = edges.sparkSession.range(1).select(
            F.lit(int(k)).cast("bigint").alias("k")
        )

    def step(history):
        e = history[-1]
        deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
        keep = (
            deg.crossJoin(F.broadcast(kdf))
            .where(F.col("d") >= F.col("k"))
            .select(F.col("src").alias("node"))
        )
        return _peel_round(e, keep, broadcast_keep)

    history, converged = iterate(
        sym, step, max_rounds=iters,
        done=lambda prev, new: prev.join(new, ["src", "dst"], "left_anti").isEmpty(),
    )
    return (
        history[-1].groupBy("src")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
        .select(
            F.col("src").alias("node"),
            F.col("d").alias("core_degree"),
            F.lit(converged).alias("converged"),
        )
    )


def label_propagation(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iters: int = 4,
    broadcast_labels: bool = False,
) -> DataFrame:
    """Community detection by synchronous label propagation (LPA,
    Raghavan et al. 2007): every node starts as its own label; each round
    it adopts the most frequent label among its neighbors PLUS its own
    current label (the self-vote damps the bipartite oscillation
    synchronous LPA is known for), ties broken by the smallest label — a
    total order, so the result is deterministic and SQL-replayable round
    by round.

    Distinct from connected_components (min-label to FIXPOINT, one label
    per component): LPA splits a connected graph into densely-linked
    communities — on a dup-pair graph, the template families WITHIN one
    giant near-dup component; on the co-purchase graph, product
    neighborhoods rather than the whole connected market.

    At most `iters` rounds on `iterate`, stopping at the first round that
    changes no label: synchronous LPA has no convergence guarantee, and a
    round cap keeps the oracle an iterative CTE replay (the update is
    deterministic, so a fixpoint stays fixed and stopping early returns
    the same rows). Returns (node, label, converged) for every node in
    the symmetrized edge set — `converged` true iff a round changed zero
    labels (oscillating configurations report false, which is exactly
    the signal callers need before trusting community assignments).

    Scale: each round is one edge⋈labels equi-join (labels shuffle; the
    edge table's partitioning is reusable across rounds), one (node,
    label) count, and a per-node max_by argmax — every aggregate keeps a
    map-side partial, no per-node sort anywhere. State per node is one
    label — O(nodes) total, never collected (unless `broadcast_labels`
    opts in, below).

    `broadcast_labels` pins a broadcast hint on the label state entering
    each round's edge join: the checkpointed label RDD carries no size
    statistics, so Catalyst plans the join sort-merge and re-sorts the
    symmetrized edge table every round; the hint makes each round one
    broadcast hash join + two hash aggregates with no edge-side sort or
    exchange. MEASURED at sf0.1 (r15 A/B, min-of-3 interleaved noop
    passes, identical rows asserted): 13.99 s → 11.71 s on the registered
    co-purchase query (contended host — the delta, not the absolutes, is
    the signal). Default False for the same reason as k_core's
    broadcast_keep and pagerank_fixed's broadcast_ranks: the label state
    is O(nodes), and a hint-pinned broadcast of a billion-node state
    would OOM the driver before any runtime fallback — opt in only when
    the node set is known join-table-sized.
    """
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    canon = _canon_edges(edges, src_col, dst_col)
    sym = (
        canon.select("a", "b")
        .unionAll(canon.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .localCheckpoint(eager=False)
    )
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )
    history, converged = iterate(
        labels, lambda h: _lpa_round(sym, h[-1], broadcast_labels), max_rounds=iters,
        done=lambda prev, new: prev.join(new, ["node", "label"], "left_anti").isEmpty(),
    )
    return history[-1].withColumn("converged", F.lit(converged))


def _lpa_round(
    sym: DataFrame, labels: DataFrame, broadcast_labels: bool = False
) -> DataFrame:
    """One synchronous LPA round: neighbor votes + self-vote, per-node
    argmax by (count desc, label asc) as a min_by AGGREGATE over the
    ordering struct (-c, label) — both the vote count and the argmax are
    map-side-combinable hash aggregates, so no exchange ever carries a
    per-node sort. Measured vs the row_number-window form at sf0.1:
    9.5s → 6.3s steady-state for the 4-round query, identical rows.

    The negation sits on the vote COUNT (always bigint), never on the
    label, so the deterministic total order holds for string node ids
    too — matching the module-wide id contract (_canon_edges,
    connected_components, k_core all order ids via least/greatest); the
    previous max_by(label, struct(c, -label)) form threw
    CAST_INVALID_INPUT on string labels under ANSI mode."""
    lab = labels.select(F.col("node").alias("b"), "label")
    if broadcast_labels:
        lab = F.broadcast(lab)
    nbr = sym.join(lab, "b").select(F.col("a").alias("node"), "label")
    votes = nbr.unionAll(labels.select("node", "label"))
    return (
        votes.groupBy("node", "label")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .groupBy("node")
        .agg(
            F.min_by(
                "label", F.struct((-F.col("c")).alias("nc"), F.col("label").alias("l"))
            ).alias("label")
        )
    )


def k_truss(
    edges: DataFrame,
    k: int = 4,
    iters: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """k-truss peel: repeatedly drop edges supported by fewer than k−2
    triangles (support counted within the CURRENT surviving edge set)
    until (up to `iters` rounds of) fixpoint — the EDGE-density backbone
    one notch stronger than k_core's node degrees: a star hub survives a
    2-core but carries zero triangles, so a truss keeps only genuinely
    interlocked structure (on a dedup-pair graph: the mutually-confirmed
    template families; on a co-purchase graph: the basket cliques).

    Returns the surviving canonical edges (a, b, support, converged) with
    `support` the triangle count within the returned edge set (recomputed
    after the final peel, so the column is consistent with what survived —
    matching k_core's post-peel degree contract). The peel runs on
    `iterate`, at most `iters` rounds, and stops at the first round that
    removes no edge; `converged` is true iff such a round came, i.e. the
    result is a fixpoint. The support >= k−2 truss invariant is
    guaranteed only when `converged` is true: with insufficient `iters`
    the final recompute can report supports below k−2 (down to 0) for
    edges a further round would have peeled — callers branching on truss
    membership should gate on the flag rather than assume fixpoint.

    Scale: each round is ONE id-oriented wedge self-join (each triangle
    generated exactly once, the triangle_count recipe) + a 3-edge explode
    + one edge-keyed count + the filter join — O(wedges) per round over a
    SHRINKING edge set. All id comparisons are least/greatest/'<' —
    string node ids work.
    """
    if k < 3:
        raise ValueError(f"k must be >= 3, got {k}")
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    thr = k - 2
    e = _canon_edges(edges, src_col, dst_col).localCheckpoint(eager=True)

    def support(cur: DataFrame) -> DataFrame:
        tri = (
            cur.alias("e1")
            .join(cur.alias("e2"), F.col("e1.a") == F.col("e2.a"))
            .where(F.col("e1.b") < F.col("e2.b"))
            .select(
                F.col("e1.a").alias("x"),
                F.col("e1.b").alias("y"),
                F.col("e2.b").alias("z"),
            )
            .join(
                cur.select(F.col("a").alias("y"), F.col("b").alias("z")),
                ["y", "z"],
            )
        )
        return (
            tri.select(
                F.explode(
                    F.array(
                        F.struct(F.col("x").alias("a"), F.col("y").alias("b")),
                        F.struct(F.col("x").alias("a"), F.col("z").alias("b")),
                        F.struct(F.col("y").alias("a"), F.col("z").alias("b")),
                    )
                ).alias("ed")
            )
            .select(F.col("ed.a").alias("a"), F.col("ed.b").alias("b"))
            .groupBy("a", "b")
            .agg(F.count(F.lit(1)).cast("bigint").alias("support"))
        )

    def step(history):
        e = history[-1]
        return (
            e.join(support(e), ["a", "b"], "left")
            .where(F.coalesce(F.col("support"), F.lit(0)) >= thr)
            .select("a", "b")
        )

    history, converged = iterate(
        e, step, max_rounds=iters,
        done=lambda prev, new: prev.join(new, ["a", "b"], "left_anti").isEmpty(),
    )
    e = history[-1]
    return e.join(support(e), ["a", "b"], "left").select(
        "a",
        "b",
        F.coalesce(F.col("support"), F.lit(0).cast("bigint")).alias("support"),
        F.lit(converged).alias("converged"),
    )
