"""Iterative graph algorithms as DataFrame loops (PageRank).

Alongside connected components (``operators/dedup.py`` large-star /
small-star — the dedup-cluster canonicalizer that generalizes
gtfsclean's ID-remapping semantics, /root/reference/import.sh:44-100),
PageRank is the second iterative-fixpoint algorithm family: ranking
nodes of a relationship graph (here the customer↔supplier trade graph
derived from orders ⋈ lineitem) by stationary random-walk mass.

**Exact integer arithmetic.** Ranks are BIGINTs scaled by ``SCALE`` =
1e12 and every step uses integer division (Spark ``div`` == DuckDB
``//`` for non-negative operands). Integer sums are exact and
associative, so the result is bit-identical regardless of partitioning,
aggregation order, or engine — float PageRank is none of those things.
The update is

    rank'(v) = BASE + (17 * sum_{u->v} (rank(u) div outdeg(u))) div 20

i.e. damping 0.85 = 17/20 and BASE = (3*SCALE) div (20*N). Dangling
nodes would leak mass (their rank has nowhere to go); the trade graph
has none because every edge is mirrored (bipartite, both directions).

Scale design:
- The edge list is the big side. On the default broadcast-state path it
  is EAGERLY localCheckpointed once (``_pin``): the loop-invariant
  relation becomes a LogicalRDD leaf, so each round's analysis pass
  stops re-walking the edge-derivation subtree — per-round PLANNING,
  not execution, dominates iterative wall time (measured r11: the
  shortest-paths loop went 7.2 -> 4.4 s warm from this change alone).
  On the sort-merge fallback
  (``broadcast_state=False``) it is repartitioned **once** by source
  and persisted — InMemoryRelation preserves the partitioning, so every
  iteration's contribution join reuses the co-location.
- Each iteration is one shuffle (the sum by destination); the join of
  ranks to edges is broadcast when ranks fit (|V| ≪ |E|), else
  sort-merge on the pre-partitioned key.
- Lineage is cut with an EAGER ``localCheckpoint`` every
  ``checkpoint_every`` rounds AND after the final round — an unbounded
  iterative plan otherwise nests every round's joins into the final
  plan (duplicated subtrees, re-execution from source on failure), the
  classic iterative-DataFrame trap. Re-measured at sf0.1 (r5): EVERY
  round is fastest — each iterate is |V|-sized, so the materialization
  barrier is noise next to planning/executing an un-truncated
  multi-round subplan. pagerank 4 iters: cadence 1 = 4.4 s warm vs
  cadence 2 = 5.1 s; eigenvector 6 iters: 3.6 / 5.5 / 7.0 / 33 s for
  cadence 1 / 2 / 3 / end-only (the end-only blowup is the nested-plan
  trap in full). An earlier 4-iteration measurement had preferred
  cadence 2; the barrier cost it amortized shrank when the state
  relations moved to broadcast joins, flipping the trade.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SCALE = 1_000_000_000_000


def _pin(df: DataFrame, checkpoint: bool, pinned: list) -> DataFrame:
    """Materialize a loop-invariant relation for an iterative loop.

    ``checkpoint=True`` (the broadcast-state path): EAGER
    ``localCheckpoint`` — the relation becomes a LogicalRDD leaf, so
    every per-round action's analysis/optimization pass sees a leaf
    instead of re-canonicalizing the relation's full derivation subtree
    (with ``persist()`` the logical plan keeps the whole upstream
    pipeline and every round's planning pass re-walks it for the cache
    lookup). Measured at sf0.1 (r11): the per-round PLANNING pass, not
    execution, dominates iterative wall time in local mode — the
    shortest-paths loop went 7.2 -> 4.4 s warm from this change alone; a trivial pre-planned
    1-row collect is ~15 ms while the same collect behind a fresh
    count() is ~120 ms. At cluster scale the same effect multiplies by
    rounds x (driver planning latency), and the checkpointed relation
    is read from executor-local blocks exactly like a persisted one.

    ``checkpoint=False`` (the sort-merge fallback for state beyond
    executor memory): ``persist()`` — keeps Catalyst partitioning info
    (InMemoryRelation preserves outputPartitioning; a LogicalRDD does
    not), which is what lets the pre-``repartition``ed edge relation
    skip its side of every per-round sort-merge exchange. Caller
    unpersists via ``pinned``.
    """
    if checkpoint:
        return df.localCheckpoint(eager=True)
    df = df.persist()
    pinned.append(df)
    return df


def pagerank(
    edges: DataFrame,
    iterations: int = 4,
    src_col: str = "src",
    dst_col: str = "dst",
    checkpoint_every: int = 1,
    broadcast_state: bool = True,
) -> DataFrame:
    """Exact-integer PageRank over a directed edge list.

    ``edges`` must be deduplicated ``(src, dst)`` pairs with every node
    appearing as a source at least once (no dangling nodes — mirror the
    edges first if the graph is undirected/bipartite). Returns
    ``(node, rank_s)`` with ``rank_s`` the SCALE-scaled integer rank
    after ``iterations`` synchronous updates from a uniform start.

    ``broadcast_state=True`` (default) broadcasts the |V|-sized rank,
    degree, and incoming-sum relations into the per-iteration joins, so
    the only shuffle per round is the contribution sum keyed by
    destination — right whenever |V| ≪ |E| (web/trade graphs; the
    checkpointed state has no catalog stats, so the auto-broadcast
    estimator cannot make this call itself). Set it False for graphs
    whose node set exceeds executor memory: every join falls back to
    sort-merge on the pre-partitioned edge key.
    """
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).dropDuplicates(["src", "dst"])
    # broadcast-state path: the src-keyed repartition bought co-location
    # only for the sort-merge fallback — under broadcast joins it was a
    # pure extra shuffle of |E| (guide §2.4), so it is now conditional.
    pinned: list = []
    if not broadcast_state:
        e = e.repartition("src")
    e = _pin(e, broadcast_state, pinned)
    try:
        hint = F.broadcast if broadcast_state else (lambda df: df)
        deg = hint(
            _pin(
                e.groupBy("src").agg(F.count("*").alias("deg")),
                broadcast_state,
                pinned,
            )
        )
        nodes = _pin(
            e.select(F.col("src").alias("node"))
            .union(e.select(F.col("dst").alias("node")))
            .distinct(),
            broadcast_state,
            pinned,
        )
        n = nodes.count()
        if n == 0:
            # empty graph: no nodes to rank (the uniform-start division
            # below would be a driver-side ZeroDivisionError)
            return nodes.select(
                "node", F.lit(None).cast("long").alias("rank_s")
            )
        base = (3 * SCALE) // (20 * n)
        r0 = SCALE // n
        ranks = nodes.select("node", F.lit(r0).cast("long").alias("rank_s"))
        for i in range(int(iterations)):
            contribs = (
                e.join(hint(ranks.withColumnRenamed("node", "src")), "src")
                .join(deg, "src")
                .select(
                    F.col("dst").alias("node"),
                    F.expr("rank_s div deg").alias("contrib"),
                )
            )
            incoming = contribs.groupBy("node").agg(
                F.sum("contrib").alias("inc")
            )
            ranks = nodes.join(hint(incoming), "node", "left").select(
                "node",
                (
                    F.lit(base)
                    + F.expr("(17 * coalesce(inc, 0L)) div 20")
                ).cast("long").alias("rank_s"),
            )
            if (i + 1) % checkpoint_every == 0 or i + 1 == iterations:
                # EAGER: a lazy checkpoint truncates nothing until someone
                # materializes it, so the final plan would still nest every
                # iteration's joins (measured: 415 Exchange nodes at 4
                # iterations vs single digits with eager cuts). Ranks are
                # |V|-sized — materializing each round is noise next to
                # replanning the whole chain. The FINAL iteration must be
                # cut too: the edge cache is dropped on return, so a lazy
                # tail would replay the uncached edge lineage when the
                # caller finally executes.
                ranks = ranks.localCheckpoint(eager=True)
        return ranks
    finally:
        for p in pinned:
            p.unpersist()


def trade_graph_edges(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """Customer↔supplier bipartite trade graph from orders ⋈ lineitem.

    Node ids share one integer keyspace: customers map to ``2*custkey``,
    suppliers to ``2*suppkey + 1``. Edges are mirrored so the walk is
    ergodic and no node dangles.
    """
    pairs = (
        orders.select("o_orderkey", "o_custkey")
        .join(lineitem.select("l_orderkey", "l_suppkey"),
              orders.o_orderkey == lineitem.l_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("c_node"),
            (F.col("l_suppkey") * 2 + 1).alias("s_node"),
        )
        .dropDuplicates(["c_node", "s_node"])
    )
    fwd = pairs.select(F.col("c_node").alias("src"), F.col("s_node").alias("dst"))
    rev = pairs.select(F.col("s_node").alias("src"), F.col("c_node").alias("dst"))
    return fwd.union(rev)


def eigenvector_centrality(
    edges: DataFrame,
    iterations: int = 6,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str = "w",
    broadcast_state: bool = True,
) -> DataFrame:
    """Eigenvector centrality by power iteration — exact integers.

    The third iterative-graph family member (PageRank ranks a random
    walk, connected components ranks nothing, this ranks by the
    dominant eigenvector of the weighted adjacency): v_{t+1} ∝ A·v_t.
    ``edges`` must already be symmetric (emit both directions) with
    positive integer weights; for a connected non-bipartite graph the
    iteration converges to the Perron vector.

    Normalization is L∞ in integers: v' = (A·v) * SCALE0 div max(A·v)
    with SCALE0 = 1e6 — no square sums (which overflow BIGINT long
    before the matvec does) and no float norm; every iterate is exactly
    reproducible on any engine, so the oracle unrolls the same
    iterations as CTEs and matches bit-for-bit. Overflow bound: each
    matvec term is w * v <= max_w * 1e6; keep max_w * 1e6 * max_degree
    < 2^63 (holds for count-weighted token graphs by orders of
    magnitude).

    Plan per iteration: one shuffle (the matvec sum keyed by dst); the
    v side broadcasts under ``broadcast_state`` (|V| ≪ |E|), the max is
    a scalar broadcast; lineage cut by an eager localCheckpoint of the
    RAW matvec aggregate (see the in-loop note — checkpointing the
    derived v instead re-computed the matvec twice per iteration).
    Returns (node, v) with v in [0, 1e6].
    """
    scale0 = 1_000_000
    pinned: list = []
    e = _pin(
        edges.select(
            F.col(src_col).alias("src"),
            F.col(dst_col).alias("dst"),
            F.col(weight_col).cast("long").alias("w"),
        ),
        broadcast_state,
        pinned,
    )
    hint = F.broadcast if broadcast_state else (lambda df: df)
    try:
        nodes = _pin(
            e.select(F.col("src").alias("node"))
            .union(e.select(F.col("dst").alias("node")))
            .distinct(),
            broadcast_state,
            pinned,
        )
        v = nodes.select("node", F.lit(scale0).cast("long").alias("v"))
        for i in range(int(iterations)):
            # Checkpoint the RAW matvec aggregate (the hits() lesson):
            # u feeds both the max normalizer and the rank projection,
            # so unmaterialized it was computed TWICE per iteration
            # (the edge join+agg under both branches of v's plan). The
            # normalized v is then a one-join view over the checkpoint
            # plus a 1-row broadcast and needs no cut of its own.
            # Measured honestly at sf0.1: 3.8 -> 4.0 s warm — the saved
            # matvec is offset by the extra per-iteration job at this
            # graph size. Kept anyway: the |E|-sized join+agg is the
            # term that dominates at scale, and this form runs it once
            # per iteration instead of twice (hits(), with its deeper
            # two-state nesting of the same pattern, measured 9.8 ->
            # 5.1 s from the identical change).
            u = (
                e.join(hint(v.withColumnRenamed("node", "src")), "src")
                .select(F.col("dst").alias("node"), (F.col("w") * F.col("v")).alias("t"))
                .groupBy("node")
                .agg(F.sum("t").alias("u"))
                .localCheckpoint(eager=True)
            )
            m = u.agg(F.max("u").alias("m"))
            v = (
                nodes.join(hint(u), "node", "left")
                .crossJoin(hint(m))
                .select(
                    "node",
                    F.expr(f"coalesce((u * {scale0}) div m, 0L)")
                    .cast("long")
                    .alias("v"),
                )
            )
        return v
    finally:
        for p in pinned:
            p.unpersist()


def part_cooccurrence_edges(lineitem: DataFrame) -> DataFrame:
    """Undirected part co-occurrence graph: edge (a, b), a < b, iff parts
    a and b appear in the same order. Pair generation is MAP-SIDE: the
    per-order distinct part list is collected in one aggregate and the
    a<b pairs are emitted from a nested array transform — TPC-H orders
    carry at most 7 lines, so the quadratic term is bounded per row
    (document the cap before reusing on unbounded baskets: a k-line
    order emits k(k-1)/2 pairs)."""
    per_order = (
        lineitem.select("l_orderkey", "l_partkey")
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("parts"))
    )
    pairs = F.expr(
        "flatten(transform(parts, (x, i) ->"
        " transform(slice(parts, i + 2, size(parts)),"
        " y -> struct(x AS a, y AS b))))"
    )
    return (
        per_order.select(F.explode(pairs).alias("p"))
        .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .distinct()
    )


def triangle_count(edges: DataFrame) -> DataFrame:
    """Global triangle count by degree orientation — EDGE-ITERATOR form:
    orient every undirected edge from its lower-(degree, id) endpoint
    to the higher one (every node's oriented out-adjacency is then
    O(sqrt(m)) — THE property that survives power-law degree skew at
    100 TB: a celebrity node of degree 10^7 still owns ~sqrt(m)
    out-neighbors), collect each node's SORTED oriented adjacency
    array once, and count per oriented edge (u, v) the intersection
    |N+(u) ∩ N+(v)|. A triangle whose vertices order u < v < w under
    the orientation has oriented edges u->v, u->w, v->w; it is counted
    exactly once, at edge (u, v), where w sits in both N+(u) and
    N+(v) — at (u, w) and (v, w) the highest vertex w contributes no
    out-neighbor inside the triangle.

    Chosen over the wedge-materializing three-way self-join after
    measuring both at sf0.1 (1.2M edges, 1.88M triangles): wedge join
    5.0 s warm vs 2.3 s — the wedge relation (every open two-path) is
    an order of magnitude larger than the edge list and all of it
    crossed a shuffle; the adjacency arrays ship each neighbor list
    once instead. Intersection cost per edge is bounded by the
    orientation's sqrt(m) cap on both arrays.

    Input: undirected edges (a, b), a < b, distinct.
    Output: one row (n_nodes, n_edges, n_triangles).

    The edge relation is reused (adjacency build, edge count) and the
    oriented adjacency twice (probe explode + intersect side); both
    are materialized so single-computation is a guarantee rather than
    a ReusedExchange outcome.
    """
    from .dedup import materialize

    edges = materialize(edges)
    # explode-form enumeration (VERDICT r10 item 2, shared with
    # ktruss round 1): the oriented edge list falls out of the
    # adjacency relation itself, deleting the src-side adjacency
    # join the r10 plan paid — see _oriented_out_adjacency.
    adj = materialize(_oriented_out_adjacency(edges))
    # NARROW-PROBE enumeration (see _tri_rows): explode the oriented
    # edges without carrying the neighbor array, attach both arrays by
    # node-sized hint-free joins, and re-spread the AQE-coalesced
    # adjacency across cores first (_respread) — measured at sf0.1 the
    # nu-carrying explode form cost 2.1 s vs 0.4 s for this shape.
    probed = (
        _respread(adj)
        .select("src", F.explode("nbrs").alias("dst"))
        .join(adj.select("src", F.col("nbrs").alias("nu")), "src")
        .join(
            adj.select(
                F.col("src").alias("dst"), F.col("nbrs").alias("nw")
            ),
            "dst",
        )
    )
    n_tri = probed.agg(
        F.coalesce(
            F.sum(F.size(F.array_intersect("nu", "nw"))), F.lit(0)
        )
        .cast("long")
        .alias("n_triangles")
    )
    # adj omits degree-order-maximal nodes (see _oriented_out_adjacency)
    # — count nodes from the edge relation itself
    n_nodes = (
        edges.select(F.col("a").alias("node"))
        .union(edges.select(F.col("b").alias("node")))
        .distinct()
        .agg(F.count("*").cast("long").alias("n_nodes"))
    )
    n_edges = edges.agg(F.count("*").cast("long").alias("n_edges"))
    return n_nodes.crossJoin(n_edges).crossJoin(n_tri)


def part_cooccurrence_counts(lineitem: DataFrame) -> DataFrame:
    """(a, b, cooc) with a < b: in how many orders parts a and b appear
    together — the support counts the recommendation family (item
    similarity, association rules) consumes. Same map-side bounded pair
    generation as :func:`part_cooccurrence_edges`, aggregated instead
    of distinct'd."""
    per_order = (
        lineitem.select("l_orderkey", "l_partkey")
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("parts"))
    )
    pairs = F.expr(
        "flatten(transform(parts, (x, i) ->"
        " transform(slice(parts, i + 2, size(parts)),"
        " y -> struct(x AS a, y AS b))))"
    )
    return (
        per_order.select(F.explode(pairs).alias("p"))
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.count("*").cast("long").alias("cooc"))
    )


def kcore(
    edges: DataFrame, k: int, max_rounds: int = 10
) -> DataFrame:
    """k-core decomposition: iteratively peel nodes of degree < k until
    fixpoint — the fourth iterative-graph family member (PageRank /
    eigenvector / connected components rank or label; this one carves
    the densely-connected backbone community detection and graph
    cleaning start from).

    Input: undirected distinct edges (a, b), a < b. Output: one row per
    ORIGINAL node — (node, in_core, core_deg) with core_deg the node's
    degree inside the final core (0 outside). Peeling is synchronous
    (all sub-k nodes of a round drop together), the textbook
    formulation whose unrolled-round replay is the oracle.

    Scale shape per round: one degree aggregate (map-side combined) +
    one semi-join of the edge list against the surviving nodes — both
    keyed shuffles, nothing quadratic; the edge list only ever shrinks.
    Convergence is a 1-row driver probe per round (the same justified
    collect as connected_components); lineage is cut by materializing
    the shrinking edge list each round, the iterative-DataFrame
    discipline pagerank documents. ``max_rounds`` bounds the loop; the
    caller (and the registry oracle, which unrolls the same rounds)
    must pick it >= the data's peel depth — an exhausted bound with
    sub-k nodes still present raises RuntimeError rather than silently
    returning a partially-peeled core.
    """
    from .dedup import materialize

    e = materialize(edges.select("a", "b").dropDuplicates(["a", "b"]))
    all_nodes = materialize(
        e.select(F.col("a").alias("node"))
        .union(e.select(F.col("b").alias("node")))
        .distinct()
    )
    converged = False
    for _ in range(int(max_rounds)):
        deg = (
            e.select(F.col("a").alias("node"))
            .union(e.select(F.col("b").alias("node")))
            .groupBy("node")
            .agg(F.count("*").alias("deg"))
        )
        any_drop = deg.filter(F.col("deg") < k).limit(1).collect()
        if not any_drop:
            converged = True
            break
        keep = deg.filter(F.col("deg") >= k).select("node")
        e = materialize(
            e.join(keep.withColumnRenamed("node", "a"), "a")
            .join(keep.withColumnRenamed("node", "b"), "b")
            .select("a", "b")
        )
    if not converged:
        # Exhausting the bound with sub-k nodes still present would
        # silently return a partially-peeled (wrong) core; the docstring
        # promises an insufficient bound is VISIBLE. One extra tiny
        # aggregate, only on the exhaustion path.
        deg = (
            e.select(F.col("a").alias("node"))
            .union(e.select(F.col("b").alias("node")))
            .groupBy("node")
            .agg(F.count("*").alias("deg"))
        )
        if deg.filter(F.col("deg") < k).limit(1).collect():
            raise RuntimeError(
                f"kcore did not reach a fixpoint within max_rounds="
                f"{max_rounds}; raise the bound (and the oracle's unroll"
                f" depth) above the data's peel depth"
            )
    core_deg = (
        e.select(F.col("a").alias("node"))
        .union(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("core_deg"))
    )
    return all_nodes.join(core_deg, "node", "left").select(
        "node",
        F.col("core_deg").isNotNull().alias("in_core"),
        F.coalesce(F.col("core_deg"), F.lit(0)).cast("long").alias("core_deg"),
    )


def sssp(
    edges: DataFrame,
    source: int | None = None,
    max_rounds: int = 12,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str = "w",
) -> DataFrame:
    """Single-source shortest paths over a weighted directed edge list —
    synchronous Bellman-Ford relaxation, the fifth iterative-graph
    family member (PageRank / eigenvector / connected components /
    k-core rank, score, label, peel; this one measures).

    Weights must be non-negative BIGINTs, so every tentative distance is
    an exact integer: min() over integers is associative and
    partition-order-free, which is what lets the DataFrame loop and an
    unrolled-CTE replay agree bit-for-bit (the float-free discipline all
    five families share). ``source`` defaults to the smallest node id in
    the graph — a data-derived anchor both engines compute identically.

    Returns one row per node: ``(node, dist, reached)`` with
    ``dist = -1`` for nodes the source cannot reach within
    ``max_rounds`` relaxations. A fixpoint probe (1-row driver collect,
    the kcore/connected-components pattern) exits early; because a
    fixpoint is stable under further rounds, early exit and the oracle's
    full unroll coincide whenever the data converges within the bound —
    tests assert convergence so the bound is evidence, not hope.

    Scale shape per round: ONE shuffle — the min-by-destination
    aggregate of relaxed candidates — and the relaxation is
    DELTA-FRONTIER: only edges out of nodes whose distance CHANGED last
    round emit candidates. Offers from unchanged sources are stale
    (their dist+w was already folded into the destination min the round
    after they last changed), so every per-round distance relation is
    BIT-IDENTICAL to the full synchronous form the oracle unrolls —
    while the shuffled candidate volume tracks the shrinking frontier
    instead of all settled nodes (at 100 TB the convergence tail stops
    re-shuffling the whole reached set every round; measured at sf0.1
    the warm time dropped 8.5 s -> ~6.1 s, bounded below by the
    ~11-round job cadence in local mode). Distances are |V|-sized and
    broadcast into the edge join; lineage is cut by materializing the
    new distance relation every round (each is one aggregate deep, so
    per-round checkpoint cost is the floor, unlike pagerank's cadence
    trade-off). The changed flag rides ALONG the distance relation, so
    the fixpoint probe and next round's frontier read the same
    materialization — and the probe runs at HALF cadence (odd rounds
    only): convergence is stable under extra rounds, so late detection
    costs at most one identity round while halving the driver's
    action count.
    """
    from .dedup import materialize

    e = (
        edges.select(
            F.col(src_col).alias("src"),
            F.col(dst_col).alias("dst"),
            F.col(weight_col).cast("long").alias("w"),
        )
        .groupBy("src", "dst")
        .agg(F.min("w").alias("w"))
    )
    # EAGER checkpoint, not repartition+persist: the frontier side is
    # always broadcast here, so the src-keyed repartition was a pure
    # extra |E| shuffle (guide §2.4), and the persisted plan kept the
    # full edge-derivation subtree in every round's analysis pass — the
    # _pin() planning-cost lesson (measured: 7.2 -> 4.4 s warm at
    # sf0.1 from this change).
    e = e.localCheckpoint(eager=True)
    nodes = materialize(
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    if source is None:
        source = nodes.agg(F.min("node")).collect()[0][0]
    dist = materialize(
        nodes.select(
            "node",
            F.when(F.col("node") == F.lit(source), F.lit(0))
            .cast("long")
            .alias("dist"),
            (F.col("node") == F.lit(source)).alias("changed"),
        )
    )
    for rnd in range(int(max_rounds)):
        frontier = dist.filter(F.col("changed")).select("node", "dist")
        relaxed = (
            e.join(
                F.broadcast(frontier.withColumnRenamed("node", "src")),
                "src",
            )
            .select(
                F.col("dst").alias("node"),
                (F.col("dist") + F.col("w")).alias("cand"),
            )
            .groupBy("node")
            .agg(F.min("cand").alias("cand"))
        )
        new_dist = materialize(
            dist.join(F.broadcast(relaxed), "node", "left").select(
                "node",
                F.least(F.col("dist"), F.col("cand")).alias("dist"),
                (
                    F.col("cand").isNotNull()
                    & (
                        F.col("dist").isNull()
                        | (F.col("cand") < F.col("dist"))
                    )
                ).alias("changed"),
            )
        )
        dist = new_dist
        # Fixpoint probe at HALF cadence (r11, guide §1.2): the probe is
        # pure convergence detection — a converged distance relation is
        # stable under further relaxation (empty frontier -> empty
        # relaxed -> identical dist, changed all false), so probing on
        # odd rounds only halves the driver's action count (each action
        # pays a fresh plan+schedule; the lazy checkpoints of the
        # skipped round materialize inside the next probe's action) at
        # the cost of at most ONE identity round past the fixpoint.
        # Distances are bit-identical either way.
        if rnd % 2 == 1 or rnd == int(max_rounds) - 1:
            improved = dist.filter(F.col("changed")).limit(1).collect()
            if not improved:
                break
    return dist.select(
        "node",
        F.coalesce(F.col("dist"), F.lit(-1)).cast("long").alias("dist"),
        F.col("dist").isNotNull().alias("reached"),
    )


def hits(
    pairs: DataFrame,
    iterations: int = 3,
    hub_col: str = "hub",
    auth_col: str = "auth",
    broadcast_state: bool = True,
) -> DataFrame:
    """HITS hubs-and-authorities by mutual power iteration — exact
    integers; the sixth iterative-graph family member (PageRank ranks a
    random walk, eigenvector the adjacency spectrum; HITS ranks the
    BIPARTITE mutual reinforcement: a good hub points at good
    authorities, a good authority is pointed at by good hubs —
    Kleinberg's original two-sided ranking).

    ``pairs`` is the directed edge list (hub → authority), assumed
    deduplicated. Per iteration the two half-steps run in sequence:
    a = Σ_in h then h = Σ_out a, each L∞-normalized in integers
    (score' = raw * 1e6 div max(raw) — the eigenvector_centrality
    discipline: no square-sum overflow, no float norm, every iterate
    bit-identical on any engine, so the oracle unrolls the same
    rounds as MATERIALIZED CTEs). Overflow bound: raw ≤ max_degree *
    1e6, then * 1e6 for the scaling ≤ 1e12 * max_degree ≪ 2^63.

    Plan per half-step: one shuffle (the sum keyed on the far side);
    the score state is |V|-sized and broadcasts under
    ``broadcast_state``; the max is a 1-row broadcast; lineage cut by
    an eager localCheckpoint of the RAW half-step aggregate (the
    normalized score is then a one-projection-deep view over it — see
    the in-loop note for the measured double-compute this removes).
    Every hub has an out-edge and every authority an in-edge by
    construction of an edge list, so no zero-fill relation is needed.

    Returns (side, node, score): side 'hub' or 'auth', score in
    [0, 1e6] with max(score) = 1e6 on each side.
    """
    if int(iterations) < 1:
        raise ValueError("hits needs iterations >= 1 (the authority side"
                         " only exists after the first half-step)")
    scale0 = 1_000_000
    pinned: list = []
    e = _pin(
        pairs.select(
            F.col(hub_col).alias("hub"), F.col(auth_col).alias("auth")
        ),
        broadcast_state,
        pinned,
    )
    hint = F.broadcast if broadcast_state else (lambda df: df)
    try:
        h = (
            e.select("hub").distinct()
            .select("hub", F.lit(scale0).cast("long").alias("hs"))
        )
        a = None
        for i in range(int(iterations)):
            # Materialize the RAW half-step aggregate once: its plan
            # feeds both the max-normalizer and the scaled projection —
            # unmaterialized, each iterate recomputed the edge join+agg
            # TWICE per half-step (measured 9.9 s for 3 iterations at
            # sf0.1 vs 5.1 s after; the normalized score is then a
            # cheap projection over the checkpoint + a 1-row broadcast,
            # so it needs no checkpoint of its own — lineage stays one
            # projection deep per half-step).
            a_raw = (
                e.join(hint(h), "hub")
                .groupBy("auth")
                .agg(F.sum("hs").alias("_raw"))
                .localCheckpoint(eager=True)
            )
            am = a_raw.agg(F.max("_raw").alias("_m"))
            a = a_raw.crossJoin(hint(am)).select(
                "auth",
                F.expr(f"(_raw * {scale0}) div _m").cast("long").alias("as_"),
            )
            h_raw = (
                e.join(hint(a), "auth")
                .groupBy("hub")
                .agg(F.sum("as_").alias("_raw"))
                .localCheckpoint(eager=True)
            )
            hm = h_raw.agg(F.max("_raw").alias("_m"))
            h = h_raw.crossJoin(hint(hm)).select(
                "hub",
                F.expr(f"(_raw * {scale0}) div _m").cast("long").alias("hs"),
            )
        return (
            h.select(
                F.lit("hub").alias("side"),
                F.col("hub").alias("node"),
                F.col("hs").alias("score"),
            )
            .unionByName(
                a.select(
                    F.lit("auth").alias("side"),
                    F.col("auth").alias("node"),
                    F.col("as_").alias("score"),
                )
            )
        )
    finally:
        for p in pinned:
            p.unpersist()


def label_propagation(
    edges: DataFrame,
    iterations: int = 4,
    src_col: str = "src",
    dst_col: str = "dst",
    color_mod: int = 2,
    checkpoint_every: int = 1,
    broadcast_state: bool = True,
) -> DataFrame:
    """Semi-synchronous label propagation (LPA) community detection —
    the seventh iterative-graph family member (pagerank/eigenvector/
    hits rank nodes, kcore/sssp/triangles measure structure; LPA
    PARTITIONS the graph into communities by majority vote: each node
    adopts the label most common among its neighbors).

    Fully synchronous LPA famously 2-cycles on bipartite graphs (both
    sides swap labels forever). The published fix (Cordasco & Gargano
    2012, semi-synchronous LPA) updates one COLOR CLASS per round; here
    the color is ``node % color_mod``, which for the customer↔supplier
    trade graph (trade_graph_edges: customers even, suppliers odd) is a
    PERFECT 2-coloring, so every round is oscillation-free by
    construction. Round ``i`` (1-based) updates nodes with
    ``node % color_mod == i % color_mod``; other nodes keep their
    label. Exact integer discipline: labels start as node ids and every
    update is an argmax over (neighbor-label count DESC, label ASC) —
    deterministic on any engine or partitioning, so a fixed-round run
    unrolls into a DuckDB CTE oracle like the other iterative families.

    ``edges`` must be the MIRRORED (undirected) edge list, deduplicated
    ``(src, dst)`` pairs — neighbor votes are read from incoming edges,
    so a one-directional list would vote asymmetrically.

    Scale design (the pagerank/hits discipline): the edge list is
    persisted once and is the only |E|-sized relation; per round the
    |V|-sized label state broadcasts into the edge join
    (``broadcast_state``; set False to fall back to sort-merge for node
    sets beyond executor memory), the vote count is ONE map-side-
    combined shuffle keyed (dst, label), the argmax is a groupBy-max
    over the already-reduced votes (no window, no per-node sort), and
    lineage is cut with an eager localCheckpoint per round (the
    iterative-DataFrame nested-plan trap; measured in pagerank's
    module docstring).

    Returns ``(node, community)``: the final label per node. Nodes
    sharing a community label are the detected communities; label
    values are node ids (the community's "anchor" member under the
    tie-break, not a rank).
    """
    pinned: list = []
    e = _pin(
        edges.select(
            F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
        ).dropDuplicates(["src", "dst"]),
        broadcast_state,
        pinned,
    )
    hint = F.broadcast if broadcast_state else (lambda df: df)
    try:
        nodes = _pin(
            e.select(F.col("src").alias("node"))
            .union(e.select(F.col("dst").alias("node")))
            .distinct(),
            broadcast_state,
            pinned,
        )
        labels = nodes.select("node", F.col("node").alias("label"))
        for i in range(1, int(iterations) + 1):
            active = i % int(color_mod)
            votes = (
                e.join(
                    hint(labels.withColumnRenamed("node", "src")), "src"
                )
                .filter(F.col("dst") % color_mod == active)
                .groupBy(F.col("dst").alias("node"), "label")
                .agg(F.count("*").alias("c"))
            )
            # argmax (count DESC, label ASC) == max of (c, -label):
            # labels are non-negative node ids, so negation inverts
            # their order inside the struct comparison. groupBy-max
            # over the reduced votes — no per-node sort window.
            best = votes.groupBy("node").agg(
                F.max(F.struct(F.col("c"), (-F.col("label")).alias("nl")))
                .alias("_b")
            ).select("node", (-F.col("_b.nl")).alias("_new"))
            labels = (
                labels.join(hint(best), "node", "left")
                .select(
                    "node",
                    F.when(
                        (F.col("node") % color_mod == active)
                        & F.col("_new").isNotNull(),
                        F.col("_new"),
                    )
                    .otherwise(F.col("label"))
                    .alias("label"),
                )
            )
            if i % checkpoint_every == 0 or i == iterations:
                # eager: see pagerank's in-loop note — an un-cut
                # iterative plan nests every round's joins, and the
                # final round must be cut because the edge cache is
                # dropped on return.
                labels = labels.localCheckpoint(eager=True)
        return labels.select("node", F.col("label").alias("community"))
    finally:
        for p in pinned:
            p.unpersist()
        if nodes is not None:
            nodes.unpersist()


def degree_assortativity(
    edges: DataFrame, src_col: str = "src", dst_col: str = "dst"
) -> DataFrame:
    """Degree-assortativity summary of a directed edge list: does the
    graph wire high-degree nodes to high-degree nodes (r > 0, social
    graphs) or hubs to leaves (r < 0, web/biology/trade)? Newman
    (2002): the Pearson correlation of (out-degree(src),
    in-degree(dst)) over edges.

    The moment sums are EXACT BIGINTs from one aggregate over the
    degree-joined edge list; only the FINAL combination touches doubles
    — the cross terms (n·sxy, sx·sy ~ 1e20 on a 1M-edge graph) overflow
    int64, so they are formed from the double-cast moments instead, a
    fixed tree of correctly-rounded IEEE ops (cast, multiply, subtract,
    sqrt, divide) that evaluates bit-identically in every engine. The
    casts themselves are exact while the moments stay < 2^53 (holds
    through ~1e14-scale moments); beyond that the statistic carries
    double rounding in the last place while the REPORTED moments remain
    exact — which is why they are in the output.

    Plan: the edge relation is MATERIALIZED once — it feeds three
    consumers (both degree aggregates and the probe side of the join),
    and un-cut each one re-executes the caller's edge-derivation
    subtree (measured on the trade graph: 29 exchanges — three full
    orders⋈lineitem rebuilds — vs 5 after the cut; ReusedExchange is
    an optimizer outcome, not a contract, the materialize() lesson).
    Then two degree aggregates (one shuffle each over |E|), both
    |V|-sized and broadcast into the edge join, and one
    map-side-combined global aggregate — no |E|-keyed shuffle at all.
    Output: 1 row (n_edges, sx, sy, sxy, sx2, sy2, assortativity_e6).
    """
    from .dedup import materialize

    e = materialize(
        edges.select(
            F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
        )
    )
    outd = e.groupBy("src").agg(F.count("*").alias("x"))
    ind = e.groupBy("dst").agg(F.count("*").alias("y"))
    joined = (
        e.join(F.broadcast(outd), "src")
        .join(F.broadcast(ind), "dst")
        .select(F.col("x").cast("long").alias("x"),
                F.col("y").cast("long").alias("y"))
    )
    m = joined.agg(
        F.count("*").alias("n_edges"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sx2"),
        F.sum(F.col("y") * F.col("y")).alias("sy2"),
    )
    nd = F.col("n_edges").cast("double")
    sxd, syd = F.col("sx").cast("double"), F.col("sy").cast("double")
    num = nd * F.col("sxy").cast("double") - sxd * syd
    vx = nd * F.col("sx2").cast("double") - sxd * sxd
    vy = nd * F.col("sy2").cast("double") - syd * syd
    r = num / (F.sqrt(vx) * F.sqrt(vy))
    return m.select(
        "n_edges", "sx", "sy", "sxy", "sx2", "sy2",
        F.when(
            (vx > 0) & (vy > 0),
            F.floor(r * F.lit(1e6) + F.lit(0.5)).cast("long"),
        ).alias("assortativity_e6"),
    )


def local_clustering(edges: DataFrame, k: int = 100) -> DataFrame:
    """Per-node local clustering coefficient — the node-level refinement
    of :func:`triangle_count`: lcc(v) = triangles through v divided by
    the wedges at v (deg·(deg−1)/2), Watts & Strogatz (1998). The
    corpus-graph question it answers: which entities sit inside tightly
    interconnected neighborhoods (cliquish co-occurrence) vs merely
    popular hubs (high degree, low closure)?

    Same degree-orientation machinery as triangle_count (oriented
    out-adjacency bounded by O(sqrt(m)) under power-law skew), with one
    extension: the per-edge common-out-neighbor set is EXPLODED so each
    triangle (u<v<w oriented) credits all three corners — u and v from
    the edge endpoints, w from the intersection row. The explode is
    output-bounded (exactly one row per triangle), so the extra shuffle
    is 3·|triangles| credit rows keyed by node — never wedge-sized.
    The rational lcc is e6 fixed-point (floor(x·1e6+0.5), the
    engine-portable recipe); nodes with deg < 2 have no wedge and
    report NULL rather than a fake zero.

    Input: undirected edges (a, b), a < b, distinct. Output: the top
    ``k`` nodes by (lcc_e6 DESC NULLS LAST, tri DESC, node ASC) as
    (node, deg, tri, lcc_e6) — bounded, deterministic.
    """
    from .dedup import materialize

    # project to the two key columns up front: extra input columns
    # would both widen every shuffle below and collide with the
    # internal names (deg/da/db/nbrs/nu/nw)
    edges = materialize(edges.select("a", "b"))
    deg = (
        edges.select(F.col("a").alias("node"))
        .union(edges.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("deg"))
    )
    with_deg = (
        edges.join(
            deg.select(F.col("node").alias("a"), F.col("deg").alias("da")),
            "a",
        ).join(
            deg.select(F.col("node").alias("b"), F.col("deg").alias("db")),
            "b",
        )
    )
    lower_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = with_deg.select(
        F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("dst"),
    )
    # adjacency is the one materialization point: it feeds both sides
    # of the probe below, and `oriented` now feeds nothing else (the
    # r10 plan checkpointed it for a src-side probe join the
    # explode-form makes redundant — the same rewrite as ktruss
    # round 1 / triangle_count, VERDICT r10 item 2)
    adj = materialize(
        oriented.groupBy("src").agg(
            F.array_sort(F.collect_list("dst")).alias("nbrs")
        )
    )
    # narrow-probe enumeration (r11, see _tri_rows): 2.1 -> 0.4 s at
    # sf0.1 by not copying the neighbor array through the explode
    tri_rows = _tri_rows(adj)
    # all three corner credits in ONE map-side explode — the r10
    # three-branch unionAll re-ran the un-materialized enumeration
    # three times (the ktruss _tri_edges lesson: ReusedExchange shares
    # the join's build side, not the probe-side map work)
    credits = (
        tri_rows.select(
            F.explode(F.array("src", "dst", "w")).alias("node")
        )
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("tri"))
    )
    lcc = F.when(
        F.col("deg") >= 2,
        F.floor(
            F.lit(2.0)
            * F.col("tri")
            / (F.col("deg") * (F.col("deg") - 1))
            * F.lit(1e6)
            + F.lit(0.5)
        ).cast("long"),
    )
    return (
        deg.join(credits, "node", "left")
        .select(
            "node", "deg",
            F.coalesce(F.col("tri"), F.lit(0)).cast("long").alias("tri"),
        )
        .withColumn("lcc_e6", lcc)
        .orderBy(
            F.desc_nulls_last("lcc_e6"), F.desc("tri"), F.asc("node")
        )
        .limit(int(k))
    )


def adamic_adar(
    edges: DataFrame,
    k: int = 100,
    max_degree: int | None = None,
) -> DataFrame:
    """Adamic–Adar link prediction (Adamic & Adar 2003): score every
    NON-adjacent pair (u, v) by ``sum over common neighbors w of
    1/ln(deg(w))`` — rare shared neighbors say more than hubs — and
    return the top ``k`` predicted links. The corpus-graph question:
    which two entities that never co-occur are most likely to (the
    recommendation/knowledge-graph-completion primitive next to
    item_similarity's cosine on explicit co-counts).

    Plan — wedges enumerated MAP-SIDE from each center's neighbor
    array, never a positional self-join: ONE edge-keyed aggregate
    builds the per-center sorted adjacency, the a<b pairs flatten out
    of the array (the part_cooccurrence_edges nested-transform trick),
    each wedge carries its center's e6-quantized weight
    ``floor(1e6/ln(deg) + 0.5)`` (an exact BIGINT, so pair sums are
    order-independent; ln's sub-ulp cross-engine spread is the
    documented A-ES class), one (u, v)-keyed map-side-combined sum,
    an anti-join against the existing edge set, and a distributed
    TakeOrdered for the top k.

    Scale: the wedge term is ``sum of deg(w)^2`` — quadratic in HUB
    degree. ``max_degree`` caps it: centers above the cap are skipped
    ENTIRELY (documented, not silent — their per-wedge weight
    1/ln(deg) is the score's smallest term by construction, which is
    the standard justification for the cap; the result is exact FOR
    THE DECLARED CAP and the oracle replays the same cap). At 100 TB
    leave it set — an uncapped celebrity node with 10M neighbors would
    emit 5·10^13 wedges.

    Input: undirected edges (a, b), a < b, distinct. Output:
    (a, b, common_nbrs, aa_e6), top k by (aa_e6 DESC, a ASC, b ASC).
    Centers of degree < 2 form no wedge; degree-1-only pairs simply
    never appear (no NULL policy needed).
    """
    if int(k) < 1:
        raise ValueError(f"adamic_adar needs k >= 1, got {k}")
    if max_degree is not None and int(max_degree) < 2:
        raise ValueError(
            f"adamic_adar needs max_degree >= 2 (or None), got {max_degree}"
        )
    from .dedup import materialize

    # the edge relation feeds BOTH the wedge path and the final
    # anti-join — materialize once or the (possibly expensive) edge
    # derivation re-executes per consumer (the degree_assortativity
    # 29-to-5-exchanges lesson)
    edges = materialize(edges.select("a", "b"))
    bidir = edges.union(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).select(F.col("a").alias("_w"), F.col("b").alias("_n"))
    centers = bidir.groupBy("_w").agg(
        F.array_sort(F.collect_list("_n")).alias("_nbrs"),
        F.count("*").cast("long").alias("_deg"),
    )
    centers = centers.filter(F.col("_deg") >= 2)
    if max_degree is not None:
        centers = centers.filter(F.col("_deg") <= int(max_degree))
    weight = F.floor(
        F.lit(1_000_000.0) / F.log(F.col("_deg").cast("double")) + F.lit(0.5)
    ).cast("long")
    pairs = F.expr(
        "flatten(transform(_nbrs, (x, i) ->"
        " transform(slice(_nbrs, i + 2, size(_nbrs)),"
        " y -> struct(x AS u, y AS v))))"
    )
    # materialize + re-spread the node-sized centers relation before
    # the QUADRATIC wedge explode: AQE sizes the adjacency aggregate's
    # partitions by bytes (a handful at sf0.1), but the explode does
    # sum-of-deg^2 work per partition — the _respread/_tri_rows lesson
    # (a compute-heavy map stage left on an AQE-coalesced relation
    # runs on a fraction of the cores).
    centers = materialize(centers)
    wedges = _respread(centers).select(
        F.explode(pairs).alias("_p"), weight.alias("_wt")
    ).select(
        F.col("_p.u").alias("a"), F.col("_p.v").alias("b"), "_wt"
    )
    scored = wedges.groupBy("a", "b").agg(
        F.count("*").cast("long").alias("common_nbrs"),
        F.sum("_wt").alias("aa_e6"),
    )
    return (
        scored.join(edges, ["a", "b"], "left_anti")
        .orderBy(F.desc("aa_e6"), F.asc("a"), F.asc("b"))
        .limit(int(k))
    )


def _oriented_out_adjacency(g: DataFrame) -> DataFrame:
    """Degree-oriented out-adjacency — each node's SORTED array of
    neighbors that rank above it under the (degree, id) total order:
    degree aggregate over the mirrored edge list, both endpoint
    degrees joined back on (node-sized build sides — AQE broadcasts
    them whenever node count allows, shuffles otherwise, never a
    nested loop), orientation as a map-side conditional swap, one
    |E|-row adjacency groupBy. Two measured alternatives lost the
    interleaved A/B at sf0.1 and are recorded here so they aren't
    re-tried: mirroring via a single array-of-structs explode instead
    of the two-branch union (5.49 vs 4.28 s median — per-row struct
    allocation beats a second columnar read of the materialized edge
    relation only on paper), and folding orientation into the
    adjacency aggregate by collecting (nbr_deg, nbr) structs over the
    2|E| mirror and filtering map-side (4.27 vs 3.89 s — it saves a
    broadcast join but doubles the rows and widens the payload of the
    one data-sized shuffle).

    Orientation property (Chiba–Nishizeki): every out-array is
    O(sqrt(m)) even under power-law skew — the bound the triangle
    enumerators' per-edge intersections rely on.

    Input: undirected distinct edges (a, b). Output: (src, nbrs);
    nodes whose every neighbor ranks below them (local maxima of the
    degree order) do not appear — consumers explode or probe, never
    enumerate nodes from it (use the degree relation for that).
    """
    deg = (
        g.select(F.col("a").alias("node"))
        .union(g.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("deg"))
    )
    with_deg = g.join(
        deg.select(F.col("node").alias("a"), F.col("deg").alias("da")), "a"
    ).join(
        deg.select(F.col("node").alias("b"), F.col("deg").alias("db")), "b"
    )
    lower_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = with_deg.select(
        F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("dst"),
    )
    return oriented.groupBy("src").agg(
        F.array_sort(F.collect_list("dst")).alias("nbrs")
    )


def _respread(df: DataFrame) -> DataFrame:
    """Re-spread an AQE-coalesced small relation across cores before a
    compute-heavy map stage.

    AQE sizes post-shuffle partitions by BYTES, so a 10 MB adjacency
    relation coalesces to a handful of partitions — correct for
    shuffle cost, but the enumeration that follows (explode x avg
    degree, per-edge array intersections) is CPU-bound and was running
    on 5 of 32 cores at sf0.1 (measured: 3.7 -> 2.1 s for the k-truss
    round-1 enumeration from this alone). Only widens (max with
    defaultParallelism); at scale the relation already has >= cores
    partitions and this is a no-op, so it is not a local-only tune.

    CONSTRAINT (VERDICT r11 item 4): ``df.rdd.getNumPartitions()``
    forces a physical-planning pass (``toRdd``) for the probe — call
    this ONLY on relations that are already materialized
    (localCheckpoint/persist leaves), where the probe resolves a
    LogicalRDD leaf and the planning pass is trivial. Every current
    call site (ktruss/triangle/local_clustering adjacency,
    adamic_adar's wedge input) satisfies that; do not point it at a
    deep unmaterialized derivation.
    """
    dp = df.sparkSession.sparkContext.defaultParallelism
    try:
        n = df.rdd.getNumPartitions()
    except Exception:
        return df
    return df.repartition(dp) if n < dp else df


def _tri_rows(adj: DataFrame) -> DataFrame:
    """One row per oriented triangle (src < dst < w in degree order)
    from the oriented out-adjacency — NARROW-PROBE form (r11): the
    oriented edge list is exploded WITHOUT carrying the source's
    neighbor array, and both endpoint arrays are attached by two
    node-sized adjacency joins (hint-free: AQE broadcasts the
    adjacency when it fits, shuffles when it doesn't, never a nested
    loop). The r10 form carried ``nu`` (avg-degree ~60 longs, ~500 B)
    through every exploded edge row — Tungsten copies the array per
    row, and that copy dominated enumeration: measured at sf0.1 (1.2M
    oriented edges, 1.88M triangles) 2.1 s for the fused nu-carrying
    explode vs 0.4 s for this form (guide §2.3: project before the
    heavy operator — here, don't widen the stream side at all).
    """
    oriented = _respread(adj).select("src", F.explode("nbrs").alias("dst"))
    return (
        oriented.join(
            adj.select("src", F.col("nbrs").alias("nu")), "src"
        )
        .join(
            adj.select(F.col("src").alias("dst"), F.col("nbrs").alias("nw")),
            "dst",
        )
        .select(
            "src", "dst",
            F.explode(F.array_intersect("nu", "nw")).alias("w"),
        )
    )


def _tri_edges(tri: DataFrame) -> DataFrame:
    """The three (a, b) edges of each triangle row, each paired with the
    triangle's third vertex as ``w`` (the partner the edge loses when the
    triangle dies), emitted in ONE map-side explode.

    Precondition: every input row is canonical, ``x < y < z``. Nothing
    here checks it; a row out of that order emits pairs with ``a > b``,
    and ktruss would count their support on keys that no canonical
    (a < b) edge carries.

    One explode scans the input once. A unionAll of three per-edge
    projections would scan it three times (r12; the input is the
    materialized triangle stream, so those scans only re-read a
    checkpoint, but one scan is still strictly less work and one plan
    branch instead of three). Canonical order makes least/greatest
    unnecessary: x < y < z implies every emitted pair is already
    (a < b)."""
    return tri.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("x").alias("a"), F.col("y").alias("b"),
                    F.col("z").alias("w"),
                ),
                F.struct(
                    F.col("x").alias("a"), F.col("z").alias("b"),
                    F.col("y").alias("w"),
                ),
                F.struct(
                    F.col("y").alias("a"), F.col("z").alias("b"),
                    F.col("x").alias("w"),
                ),
            )
        ).alias("_e")
    ).select("_e.a", "_e.b", "_e.w")


def ktruss(
    edges: DataFrame,
    k: int = 4,
    max_rounds: int = 10,
) -> DataFrame:
    """k-truss decomposition (Cohen 2008) — the eighth iterative graph
    family: the maximal subgraph in which EVERY edge closes at least
    ``k-2`` triangles. Stricter than k-core (which bounds degree — a
    star passes k-core but has zero triangles); the community-core
    primitive for "cohesive group" extraction over co-occurrence
    graphs.

    INCREMENTAL peeling over COUNT-ONLY support state + a materialized
    triangle stream (r12, VERDICT r11 item 3; supersedes the r9-r11
    per-edge partner LISTS): round 1 enumerates every triangle once via
    the triangle_count degree-orientation machinery, materializes the
    canonical (x < y < z) triple stream, and aggregates per edge a
    plain ``count(*)`` — map-side combinable, so round 1's state
    shuffle carries one long per (edge, partition) instead of every
    partner id into a ``collect_list``/``array_sort`` array (guide
    §2.3 "aggregate before you shuffle"), and every round's state
    checkpoint stores narrow (a, b, support) rows instead of partner
    arrays. Rounds 2+ find a removed edge's destroyed triangles by a
    semi-join of the materialized triple stream's edge expansion
    against the removed set, anti-joined against the CUMULATIVE
    destroyed set (a triangle already destroyed in an earlier round
    must not decrement twice — the partner-list form got this for free
    because the partner had been deleted from the list; the count form
    tracks it explicitly). Each surviving edge of a newly destroyed
    triangle is decremented by one per triangle. The maintained counts
    are bit-identical to the partner-list form and to a full
    recompute, so the unrolled-CTE oracle that recomputes support per
    round agrees exactly. Stops at the fixpoint (no removals) or
    ``max_rounds``.

    Returns the surviving edges as (a, b, support) with each edge's
    support as computed in its FINAL round's input graph — at the
    fixpoint this IS its k-truss support. Deterministic: no RNG, no
    floats, pure integer counting.

    Scale: the graph-sized triangle join runs ONCE; each later round
    is one scan of the materialized triple stream (semi-join against
    the removed set — AQE broadcasts it when small), one cascade-sized
    dedup + decrement aggregate, and one AQE-sized join back onto the
    state. Trade vs the partner-list form: a per-round O(|triangles|)
    checkpoint SCAN (narrow, no shuffle) replaces carrying
    O(|triangles|) partner ids through round 1's shuffle AND through
    every round's state rewrite — strictly fewer shuffled bytes, and
    the hub-edge array-width cap disappears. State is eagerly
    materialized per round so lineage stays one round deep (the
    pagerank checkpoint lesson); each round's newly destroyed triples
    are materialized too (cascade-sized) so later rounds' cumulative
    anti-join reads checkpoints instead of re-deriving every prior
    round's semi-join. The per-round removed-count probe is a 1-value
    convergence collect (the documented class). No explicit broadcast
    hints: a pathological round can remove a graph-sized edge set, and
    a forced broadcast would OOM where AQE's runtime-sized plan
    degrades to a shuffle gracefully.
    """
    if int(k) < 3:
        raise ValueError(f"ktruss needs k >= 3, got {k}")
    if int(max_rounds) < 1:
        raise ValueError(f"ktruss needs max_rounds >= 1, got {max_rounds}")
    from .dedup import materialize

    min_sup = int(k) - 2
    # post-r10 the deduped edge list feeds ONLY the adjacency build,
    # but that build consumes it twice (degree aggregate + join probe)
    # — measured at sf0.1, relying on ReusedExchange instead of the
    # checkpoint re-ran the co-occurrence pipeline per consumer and
    # cost ~1.5 s, so the materialize stays
    g = materialize(edges.select("a", "b").distinct())
    # each triangle once (orientation guarantees uniqueness), already
    # as canonical vertex triples. Round-1 enumeration is the
    # EXPLODE form (VERDICT r10 item 2): the oriented edge list is
    # derived by exploding the adjacency relation itself — (src, nu)
    # already sit on the same row, so the r10 plan's src-side
    # adjacency join disappears entirely and only the dst-side join
    # remains (node-sized build relation: AQE broadcasts it when it
    # fits, shuffles when it doesn't). The exploded rows carry nu
    # into the dst join — exactly the volume the old second join
    # shipped after its first, so the rewrite deletes a shuffle
    # without adding bytes anywhere. Measured at sf0.1 (1.2M edges,
    # 1.88M triangles): 0.4-0.7 s vs 2.0-3.4 s for the 2-join form.
    adj = materialize(_oriented_out_adjacency(g))
    # narrow-probe enumeration (r11, see _tri_rows): 2.1 -> 0.4 s at
    # sf0.1 by not copying the neighbor array through the explode.
    # Materialized as CANONICAL (x < y < z) triples (r12): every round
    # reads this stream — round 1 for the support counts, rounds 2+
    # for the destroyed-triangle semi-join — so it checkpoints once.
    # The canonical sort here makes every downstream edge expansion
    # least/greatest-free and the destroyed-set dedup a plain distinct.
    tri_sorted = _tri_rows(adj).select(
        F.array_sort(F.array("src", "dst", "w")).alias("_t")
    )
    tri_m = materialize(
        tri_sorted.select(
            F.element_at("_t", 1).alias("x"),
            F.element_at("_t", 2).alias("y"),
            F.element_at("_t", 3).alias("z"),
        )
    )
    # Zero-triangle edges are deliberately absent from the state: they
    # can never survive (min_sup >= 1 for k >= 3), own no triangles,
    # and belong to no destroyable triangle, so the r10 plan's
    # graph-sized LEFT join attaching empty support bought nothing.
    # count(*) partial-aggregates map-side; the r9-r11 collect_list
    # shuffled every partner id and stored arrays in the checkpoint.
    state = materialize(
        _tri_edges(tri_m).groupBy("a", "b").agg(
            F.count("*").cast("long").alias("support")
        )
    )
    # out/removed are filters over the checkpointed state (a second
    # checkpoint of the same rows would double the materialization
    # cost for no lineage benefit)
    out = state.filter(F.col("support") >= min_sup)
    removed = state.filter(F.col("support") < min_sup)
    # cumulative destroyed-triangle checkpoints, one small frame per
    # completed round (never rewritten — the union is over
    # materialized leaves, so the anti-join below re-reads, not
    # re-derives, prior rounds' work)
    destroyed_parts: list[DataFrame] = []
    for r in range(2, int(max_rounds) + 1):
        if removed.count() == 0:
            break
        rem = removed.select("a", "b")
        # triangles destroyed THIS round: still-alive triangles (not
        # in any earlier round's destroyed set) that contain a newly
        # removed edge. One scan of the materialized triple stream;
        # the distinct dedups a triangle reached from two removed
        # edges in the same round.
        cand = (
            tri_m.select(
                F.explode(
                    F.array(
                        F.struct(
                            F.col("x").alias("a"), F.col("y").alias("b")
                        ),
                        F.struct(
                            F.col("x").alias("a"), F.col("z").alias("b")
                        ),
                        F.struct(
                            F.col("y").alias("a"), F.col("z").alias("b")
                        ),
                    )
                ).alias("_e"),
                "x", "y", "z",
            )
            .select("_e.a", "_e.b", "x", "y", "z")
            .join(rem, ["a", "b"], "left_semi")
            .select("x", "y", "z")
            .distinct()
        )
        for prior in destroyed_parts:
            cand = cand.join(prior, ["x", "y", "z"], "left_anti")
        # per surviving edge: how many of its triangles die this round
        # ("surviving" = not removed — every edge of a destroyed
        # triangle existed in this round's input graph)
        if r == int(max_rounds):
            # FINAL round: no later round will read the destroyed set,
            # so skip its checkpoint — the decrement plus one
            # AQE-sized join finishes the answer lazily
            destroyed = cand
        else:
            destroyed = materialize(cand)
            destroyed_parts.append(destroyed)
        dec = (
            _tri_edges(destroyed)
            .select("a", "b")
            .join(rem, ["a", "b"], "left_anti")
            .groupBy("a", "b")
            .agg(F.count("*").cast("long").alias("_dec"))
        )
        new_state = out.join(dec, ["a", "b"], "left").select(
            "a",
            "b",
            (F.col("support") - F.coalesce("_dec", F.lit(0)))
            .cast("long")
            .alias("support"),
        )
        if r == int(max_rounds):
            return new_state.filter(F.col("support") >= min_sup)
        state = materialize(new_state)
        out = state.filter(F.col("support") >= min_sup)
        removed = state.filter(F.col("support") < min_sup)
    return out.select("a", "b", "support")


def closeness_centrality(
    edges: DataFrame,
    k_sources: int = 8,
    max_rounds: int = 4,
) -> DataFrame:
    """Harmonic closeness centrality from a deterministic source
    sample — the NINTH iterative family (rank, score, label, peel,
    measure, cluster, community, truss — and now distance-centrality):
    ``C(v) = sum over sampled sources s of 1/d(s, v)`` (harmonic form:
    well-defined under disconnection, Boldi & Vigna 2014), the standard
    scalable stand-in for exact closeness (all-pairs BFS is O(nm)).
    EXACT for the declared sample: sources are the ``k_sources``
    smallest node ids (the kmeans seeding rule — deterministic, no
    RNG), distances are true BFS levels, and each contribution is the
    exact integer ``1e6 div d``.

    Synchronous multi-source BFS over a PER-NODE SOURCE BITMASK (r11
    rewrite, guide §2.3 "shuffle fewer bytes"): state is one row per
    REACHED NODE — ``(node, mask, dists)`` with bit ``i`` of ``mask``
    set iff source ``i`` has reached the node and ``dists[i]`` its BFS
    level — instead of the r9 form's one row per (node, source) pair.
    Each round expands the frontier one hop: the frontier's new-source
    masks broadcast into ONE edge join, a ``bit_or`` aggregate
    (map-side combinable, unlike the r9 round's ``distinct``) merges
    offers per neighbor, and one node-keyed outer join against the
    state applies ``offer & ~mask`` — newly set bits get distance =
    round. That is k_sources-fold fewer shuffled rows per round and
    ONE shuffle instead of two (the (node, source) distinct AND the
    per-pair anti-join are both gone); BFS levels are deterministic,
    so the result is bit-identical to the row form and to the unrolled
    oracle. Measured at sf0.1 (part co-occurrence graph, 20k nodes,
    2.4M directed edges, 3 rounds): 9.5 -> ~3.5 s warm. Stops at
    ``max_rounds`` or an empty frontier (parity-safe early exit: an
    exhausted frontier adds nothing, which is exactly what the
    unrolled oracle's later rounds compute).

    Scale: per round ONE node-keyed expansion aggregate + one
    node-keyed state join; state is ONE row per reached node with a
    k_sources-wide array — k stays the sampling knob, and the
    single-long mask caps the implementation at ``k_sources <= 62``
    (the registry uses 8; a wider sample would shard into mask words).
    Per-round lazy materialization keeps lineage one hop deep (the
    pagerank lesson); the empty-frontier probe is the documented
    1-value convergence collect — the round's ONLY action.

    Input: undirected edges (a, b), a < b, distinct. Returns
    (node, n_reached, max_dist, harmonic_e6) for every node reached by
    at least one source at distance >= 1 (a source's own d=0 entry is
    excluded from its harmonic, the standard convention).
    """
    if int(k_sources) < 1:
        raise ValueError(
            f"closeness_centrality needs k_sources >= 1, got {k_sources}"
        )
    if int(k_sources) > 62:
        raise ValueError(
            "closeness_centrality supports k_sources <= 62 (single-long "
            f"source bitmask), got {k_sources}"
        )
    if int(max_rounds) < 1:
        raise ValueError(
            f"closeness_centrality needs max_rounds >= 1, got {max_rounds}"
        )
    from .dedup import materialize

    spark = edges.sparkSession
    # cut the caller's edge pipeline ONCE before mirroring: the union
    # references it twice, and un-cut both branches re-executed the
    # full derivation (for the registry graph, a second complete
    # co-occurrence build) inside the bidir materialization
    e0 = materialize(edges.select("a", "b"))
    bidir = materialize(
        e0.union(
            e0.select(F.col("b").alias("a"), F.col("a").alias("b"))
        ).select(F.col("a").alias("_n"), F.col("b").alias("_m"))
    )
    src_ids = [
        r["_n"]
        for r in bidir.select("_n").distinct().orderBy("_n")
        .limit(int(k_sources)).collect()
    ]
    k = len(src_ids)
    # Seed schema derives node from the EDGE column type (string, int,
    # long, ... all work) — a hardcoded `node long` would crash at
    # runtime on non-integer node ids, unlike the other graph
    # operators, which are id-type agnostic.
    from pyspark.sql import types as T

    node_type = bidir.schema["_n"].dataType
    schema = T.StructType(
        [
            T.StructField("node", node_type),
            T.StructField("mask", T.LongType()),
            T.StructField("dists", T.ArrayType(T.LongType())),
        ]
    )
    state = materialize(
        spark.createDataFrame(
            [
                (s, 1 << i, [0 if j == i else None for j in range(k)])
                for i, s in enumerate(src_ids)
            ],
            schema,
        )
    )
    frontier = state.select("node", F.col("mask").alias("new_mask"))
    for r in range(1, int(max_rounds) + 1):
        offers = (
            bidir.join(
                F.broadcast(frontier), bidir["_n"] == frontier["node"]
            )
            .groupBy(F.col("_m").alias("node"))
            .agg(F.expr("bit_or(new_mask)").alias("_offer"))
        )
        dist_cols = [
            F.coalesce(
                F.element_at("dists", i + 1),
                F.when(
                    F.expr(f"shiftright(new_mask, {i}) & 1L = 1L"),
                    F.lit(r),
                ).cast("long"),
            )
            for i in range(k)
        ]
        state = materialize(
            state.join(offers, "node", "full")
            .withColumn(
                "new_mask",
                F.expr("coalesce(_offer, 0L) & ~coalesce(mask, 0L)"),
            )
            .select(
                "node",
                F.expr("coalesce(mask, 0L) | new_mask").alias("mask"),
                (
                    F.array(*dist_cols)
                    if k
                    else F.expr("array()").cast("array<long>")
                ).alias("dists"),
                "new_mask",
            )
        )
        frontier = state.filter(F.col("new_mask") != 0).select(
            "node", "new_mask"
        )
        # Frontier-empty probe at HALF cadence (r11, the sssp pattern):
        # a drained frontier is stable — the next round's offers are
        # empty, masks and dists unchanged — so probing every 2nd round
        # halves the driver actions at the cost of at most one identity
        # round past BFS completion. Distances are bit-identical.
        if r % 2 == 0 or r == int(max_rounds):
            if not frontier.limit(1).collect():
                break
    return (
        state.select(
            "node",
            F.expr(
                "filter(dists, d -> d is not null and d >= 1)"
            ).alias("_v"),
        )
        .filter(F.size("_v") >= 1)
        .select(
            "node",
            F.size("_v").cast("long").alias("n_reached"),
            F.array_max("_v").cast("long").alias("max_dist"),
            F.expr(
                "aggregate(_v, cast(0 as long),"
                " (acc, d) -> acc + (1000000 div d))"
            ).alias("harmonic_e6"),
        )
    )
