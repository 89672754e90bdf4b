"""Graph analytics over edge-list DataFrames (beyond SURVEY.md §2:
an iterative-algorithm family alongside dedup.connected_components).

PageRank is the canonical "iterate a join until done" workload and a
standard co-occurrence-graph ranking (product graphs, citation
graphs, web link graphs). No GraphFrames/GraphX dependency — the
whole loop is DataFrame joins, so Catalyst/AQE plan every step.

Scale posture: per iteration the rank vector (|V| rows) joins the
static (edge, out-degree) relation on src — a shuffle of the SMALL
rank relation against a cached, already-partitioned edge list — then
one groupBy(dst) shuffle. 2 shuffles × iterations, edges scanned from
cache, never recomputed. Fixed iteration count (the common production
choice — convergence checks cost an action per round; rank ORDER
stabilizes long before values do).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.rounding import round4
from . import ckpt


def _contribs_nodes(
    s: ckpt.Scope, edges: DataFrame, src: str, dst: str
) -> tuple[DataFrame, DataFrame]:
    """Shared directed-PageRank prelude: the CACHED (edge, out-degree)
    relation pre-hashed on the rank-join key, and the CACHED node set
    derived from it. One definition for pagerank and
    personalized_pagerank (they previously carried verbatim copies —
    code-review r8) so prelude fixes cannot diverge. Both caches are
    held by the caller's scope `s`.

    NULL-endpoint edges are dropped up front: a NULL id is not a
    node, but it survives every equi-join asymmetrically — it would
    be counted in |V|, receive the teleport floor, and emit a
    phantom (NULL, rank) output row (code-review r8; the
    sssp_distances review-r5 stance). _undirected's least/greatest
    filter does the same for the undirected operators.

    Build the (edge, out-degree) relation with ONE shuffle: hash the
    edges on _src, then attach out-degree as a count window over the
    same partitioning — Catalyst plans zero additional exchanges for
    the window. The previous formulation (groupBy(_src) degree agg +
    join + repartition) spent three exchanges reaching the identical
    cached relation and AQE broadcast the degree side, which forced
    the explicit repartition to restore _src-hashing for the cache
    (interleaved A/B at sf0.1, 2.4 M edges: prelude 3.3 s → 2.1 s,
    identical results; round-5 session, recorded in BASELINE.md).
    Repartition BEFORE caching: every iteration joins this relation
    on _src, and a cache preserves whatever partitioning it was
    materialized with — pre-hashing on the join key means only the
    (|V|-sized) rank vector shuffles per iteration, never the
    (|E|-sized) edge relation (measured ~2× on the sf0.1
    co-purchase graph; the win grows with |E|/|V|).

    The node set derives from the CACHED contribs, not from the raw
    edges: the window attaches _deg to every edge row without
    dropping any, so src∪dst over contribs is exactly src∪dst over
    the filtered edges — but reading it from the cache means the
    (possibly expensive — e.g. a basket self-join) edge lineage
    materializes ONCE, for the cache, instead of once more for the
    caller's nodes.count() (measured ~2 s of the m13 co-purchase
    graph's ~7 s).
    """
    e = edges.select(
        F.col(src).alias("_src"), F.col(dst).alias("_dst")
    ).filter(F.col("_src").isNotNull() & F.col("_dst").isNotNull())
    contribs = s.cache(
        e.repartition("_src").withColumn(
            "_deg", F.count(F.lit(1)).over(Window.partitionBy("_src"))
        )
    )
    nodes = s.cache(
        contribs.select(F.col("_src").alias("id"))
        .union(contribs.select(F.col("_dst").alias("id")))
        .distinct()
    )
    return contribs, nodes


def pagerank(
    edges: DataFrame,
    iterations: int = 5,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    durable: bool = False,
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list.

    Returns (id, pagerank) where pagerank is SCALED BY |V| (mean 1.0):
    raw ranks are ~1/|V| and vanish under the house 4-dp rounding;
    the scaled form keeps full discrimination at any graph size and
    is the form PageRank is usually reported in anyway.

    Recurrence (classic, teleport mass spread uniformly):

        r_{k+1}(v) = (1-d)/N + d * Σ_{u→v} r_k(u) / outdeg(u)

    Dangling nodes (out-degree 0) leak their mass — this operator
    does NOT redistribute it (the usual simplification; PageRank on a
    SYMMETRIZED graph, the common co-occurrence case, has no dangling
    nodes at all). Nodes with no in-edges stay at the teleport floor
    via the zero-contribution union leg below, so no node ever drops
    out of the result.

    The edge×degree relation is cached: it is iterated `iterations`
    times and its lineage may be an expensive upstream join (same
    rationale as dedup.connected_components' edge cache). The loop
    builds ONE composite plan — ranks are never cached or collected,
    so the full recurrence stays a single lazy DAG over the cached
    edges, and the caches are released once the result is pinned.

    The (|V|-row) result is pinned to executor storage and
    unrecoverable on executor loss (the trade of
    mining.apriori_frequent_itemsets' localCheckpoint) — callers
    needing lineage durability should write the result to a sink, or
    pass durable=True for a reliable checkpoint (operators/ckpt.py).
    """
    with ckpt.Scope(durable) as s:
        contribs, nodes = _contribs_nodes(s, edges, src, dst)
        # Scalar sizing action (documented eager step, like the
        # guard probes elsewhere): N parameterizes the teleport term.
        n = nodes.count()
        if n == 0:
            return s.keep(
                s.pin(nodes.select("id", F.lit(0.0).alias("pagerank")))
            )
        teleport = (1.0 - damping) / n
        # The teleport floor for no-inbound nodes is folded INTO the
        # inflow aggregate: union one zero-contribution row per node
        # (read from the nodes cache) into each iteration's inflow, so
        # groupBy(id) emits every node — sum 0.0 for the inbound-less
        # ones — and the per-iteration nodes LEFT JOIN the old plan
        # ran is gone. One fewer join per iteration at identical
        # results (A/B'd at sf0.01+sf0.1, round-5 session); the union
        # leg costs |V| cached rows through the existing exchange.
        zeros = nodes.select("id", F.lit(0.0).alias("_c"))
        ranks = nodes.select("id", F.lit(1.0 / n).alias("_rank"))
        for _ in range(iterations):
            ranks = (
                contribs.join(ranks, contribs["_src"] == ranks["id"])
                .select(
                    F.col("_dst").alias("id"),
                    (F.col("_rank") / F.col("_deg")).alias("_c"),
                )
                .unionByName(zeros)
                .groupBy("id")
                .agg(F.sum("_c").alias("_in"))
                .select(
                    "id",
                    (
                        F.lit(teleport) + F.lit(damping) * F.col("_in")
                    ).alias("_rank"),
                )
            )
        out = ranks.select(
            "id", F.round(F.col("_rank") * n, 4).alias("pagerank")
        )
        # Pinned while the caches it reads are still alive.
        return s.keep(s.pin(out))


def _undirected(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Normalize any edge list to canonical undirected form (s < d):
    direction, duplicates, and self-loops removed."""
    return (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("s"),
            F.greatest(F.col(src), F.col(dst)).alias("d"),
        )
        .filter(F.col("s") < F.col("d"))
        .distinct()
    )


def _degrees(und: DataFrame) -> DataFrame:
    """(v, deg) over a canonical undirected edge list."""
    return (
        und.select(F.col("s").alias("v"))
        .unionAll(und.select(F.col("d").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("deg"))
    )


def triangle_counts(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-node triangle counts over an UNDIRECTED graph given as any
    edge list (direction, duplicates, and self-loops are normalized
    away). Returns (id, n_triangles) for every node in ≥1 triangle.

    Algorithm: compact-forward / node-iterator++ — orient each
    undirected edge from its LOWER-(degree, id) endpoint to its
    higher one, enumerate wedges a→b, b→c by joining the oriented
    list with itself, and close them against a third oriented edge
    a→c. Each triangle is found exactly once, and per-node credit is
    an explode over its three corners.

    Why degree ordering instead of plain id ordering: the wedge
    volume is Σ outdeg(v)², and orienting toward the higher-degree
    endpoint caps every out-degree at O(√E) — the classic bound that
    keeps a power-law hub (a part in every order, a follower-magnet
    account) from generating deg² wedge rows in one task. Triangle
    COUNTS are invariant to the orientation chosen, which is what
    lets the id-oriented SQL oracle hash-match this degree-oriented
    plan. Three equi-joins + one explode aggregate; no caching needed
    (each relation is consumed once — this is a DAG, not a loop)."""
    und = _undirected(edges, src, dst)
    return _triangle_counts_normalized(und, _degrees(und))


def _triangle_counts_normalized(
    und: DataFrame, deg: DataFrame
) -> DataFrame:
    """triangle_counts body over an ALREADY canonical (s < d,
    deduplicated) edge list and its (v, deg) relation — the seam
    clustering_coefficient reuses so the normalization shuffle and
    degree aggregate are built once per plan, not twice."""
    ds = deg.select(F.col("v").alias("s"), F.col("deg").alias("_dg_s"))
    dd = deg.select(F.col("v").alias("d"), F.col("deg").alias("_dg_d"))
    lower_first = (F.col("_dg_s") < F.col("_dg_d")) | (
        (F.col("_dg_s") == F.col("_dg_d")) & (F.col("s") < F.col("d"))
    )
    oriented = (
        und.join(ds, "s")
        .join(dd, "d")
        .select(
            F.when(lower_first, F.col("s")).otherwise(F.col("d")).alias("a"),
            F.when(lower_first, F.col("d")).otherwise(F.col("s")).alias("b"),
        )
    )
    o1, o2, o3 = oriented.alias("o1"), oriented.alias("o2"), oriented.alias("o3")
    tri = (
        o1.join(o2, F.col("o2.a") == F.col("o1.b"))
        .join(
            o3,
            (F.col("o3.a") == F.col("o1.a"))
            & (F.col("o3.b") == F.col("o2.b")),
        )
        .select(
            F.col("o1.a").alias("x"),
            F.col("o1.b").alias("y"),
            F.col("o2.b").alias("z"),
        )
    )
    return (
        tri.select(F.explode(F.array("x", "y", "z")).alias("id"))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


def clustering_coefficient(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-node LOCAL clustering coefficient over the undirected graph:
    c(v) = 2·T(v) / (deg(v)·(deg(v)−1)) — the fraction of a node's
    neighbor pairs that are themselves connected, the standard local
    density companion to `triangle_counts`' raw counts (community
    tightness, Watts–Strogatz small-world analysis).

    Returns (id, degree, n_triangles, clustering_coeff) for every node
    of degree ≥ 2 (degree-0/1 nodes have no neighbor pairs — the
    coefficient is undefined, and emitting NULL rows would just push
    the decision downstream); triangle-free nodes appear with 0.0.

    Shape: ONE normalization and ONE degree aggregate, shared between
    the triangle enumeration and the coefficient stitch via the
    `_triangle_counts_normalized` seam (self-review r5: calling the
    public triangle_counts here re-normalized the same relation and
    recomputed the identical degree aggregate); the stitch is a LEFT
    join of the |V|-sized degree relation against the ≤|V|-sized
    triangle relation — both tiny next to the edge list, so AQE
    broadcasts at any realistic |V|/|E| ratio.
    """
    und = _undirected(edges, src, dst)
    deg = _degrees(und)
    tri = _triangle_counts_normalized(und, deg)
    return (
        deg.select(F.col("v").alias("id"), F.col("deg").alias("degree"))
        .filter(F.col("degree") >= 2)
        .join(tri, "id", "left")
        .select(
            "id",
            "degree",
            F.coalesce(F.col("n_triangles"), F.lit(0)).alias("n_triangles"),
            F.round(
                2.0
                * F.coalesce(F.col("n_triangles"), F.lit(0))
                / (F.col("degree") * (F.col("degree") - 1)),
                4,
            ).alias("clustering_coeff"),
        )
    )


def kcore(
    edges: DataFrame,
    k: int,
    max_iter: int = 50,
    src: str = "src",
    dst: str = "dst",
    durable: bool = False,
) -> DataFrame:
    """k-core decomposition membership at a fixed k: iteratively peel
    every node of degree < k until the remaining subgraph is stable
    (Seidman's cores — the standard dense-substructure / graph
    pruning primitive; the k-core is the maximal subgraph where every
    node keeps ≥ k neighbors WITHIN the subgraph, strictly stronger
    than a one-shot degree filter).

    Returns (id, core_degree) for every k-core member, core_degree
    being the node's degree inside the core (≥ k by definition). An
    empty result is a valid answer (the graph has no k-core).

    Shape per round: one degree aggregate (map-side partial union of
    both endpoints, uniform node key) + two semi joins restricting the
    edge list to surviving endpoints — all hash-keyed, no driver data
    path except the convergence counter. The edge relation strictly
    shrinks, so later rounds cost less than earlier ones. Round count
    is bounded by the peel depth (the graph's degeneracy ordering
    depth at k), NOT diameter; pathological chains peel one layer per
    round, hence the max_iter guard RAISES rather than returning a
    too-large pseudo-core (same partial-result-is-wrong-result stance
    as connected_components). Per-round localCheckpoint truncates
    lineage for the same measured reason as the CC loops: a
    cache-only loop re-analyzes a plan that doubles every round;
    durable=True swaps it for the reliable-checkpoint form
    (operators/ckpt.py). The survivor count is observed on the
    degree relation's own pin, so each round runs the |E|-stub degree
    aggregate once and no separate count: both semi-join build sides
    and the fixpoint result read the pinned (v, deg) rows.
    """
    with ckpt.Scope(durable) as s:
        e = s.pin(_undirected(edges, src, dst))
        prev_nodes: int | None = None
        for _ in range(max_iter):
            dgs, seen = s.pin(
                _degrees(e), n=F.count(F.when(F.col("deg") >= k, 1))
            )
            keep = dgs.filter(F.col("deg") >= k).select("v")
            n = seen["n"]
            if n in (0, prev_nodes):
                # No node is left, or none fell below k this round —
                # fixpoint reached (count equality forces keep == last
                # round's keep ⊇ nodes(e) ⊇ keep, so every node of e has
                # deg >= k and the unfiltered projection IS the core).
                # Pin the (core-sized) result: the pins it derives from
                # are released on leaving the scope.
                core = dgs.select(
                    F.col("v").alias("id"), F.col("deg").alias("core_degree")
                )
                return s.keep(s.pin(core if n else core.limit(0)))
            prev_nodes = n
            nxt = s.pin(
                e.join(keep.withColumnRenamed("v", "s"), "s", "semi")
                .join(keep.withColumnRenamed("v", "d"), "d", "semi")
                .select("s", "d")
            )
            s.release(e, dgs)
            e = nxt
        raise RuntimeError(
            f"kcore(k={k}) did not stabilize in {max_iter} rounds; "
            "raise max_iter (peel depth exceeds it)"
        )


def khop_distances(
    edges: DataFrame,
    sources: DataFrame,
    max_hops: int = 3,
    src: str = "src",
    dst: str = "dst",
    id_col: str = "id",
    durable: bool = False,
) -> DataFrame:
    """Multi-source BFS: min hop distance from any source node, out to
    `max_hops`. Returns (id, dist) with dist ∈ [0, max_hops]; nodes
    farther than max_hops (or unreachable) are absent. The k-hop
    neighborhood primitive behind blast-radius analysis, recall
    expansion over an item graph, and "related within N degrees"
    queries — the traversal complement to pagerank's global ranking
    and kcore's density peeling.

    Semantics: edges are followed as DIRECTED (src → dst); callers
    wanting undirected reach pass a symmetrized list, exactly as
    m13's co-purchase usage does for pagerank. Source ids absent
    from the graph still appear at dist 0 (a seed is trivially
    reachable from itself). Frontier exhaustion short-circuits the
    remaining hops, so a disconnected seed set never pays for empty
    iterations.

    Shape per hop (the kcore loop pattern, not pagerank's composite
    plan): the frontier — pinned via the shared ckpt seam, so each
    hop's plan starts from a LogicalRDD instead of re-deriving every
    earlier frontier (the O(hops²) recomputation a lazy union-of-
    anti-joins would pay) — equi-joins the CACHED, pre-partitioned
    edge relation on the edge key (only the |frontier|-sized side
    shuffles; the |E|-sized side never moves after the one prelude
    exchange, same rationale as pagerank's contribs cache), then one
    distinct on the discovered ids and one anti join against the
    visited union (all prior pinned legs — id-keyed, reusing the
    distinct's hashing). Per-hop driver traffic is the frontier size,
    observed on the frontier's own pin, never node data. The final
    (≤|V|-row) result is pinned before the per-hop legs are released
    — callers get a handle whose storage does not dangle into freed
    blocks; durable=True swaps every pin for a reliable checkpoint
    (recoverable on executor loss, see operators/ckpt.py).
    """
    # NULL endpoints dropped up front (the sssp review-r5 stance): a
    # NULL dst never equi-matches the visited anti-join, so it would
    # be re-"discovered" at EVERY hop and emit one (NULL, dist) row
    # per distance — violating the one-min-distance-per-id contract
    # (code-review r8). NULL seed ids are likewise not nodes.
    with ckpt.Scope(durable) as s:
        e = s.cache(
            edges.select(F.col(src).alias("_src"), F.col(dst).alias("_dst"))
            .filter(F.col("_src").isNotNull() & F.col("_dst").isNotNull())
            .repartition("_src")
        )
        frontier, seen = s.pin(
            sources.select(F.col(id_col).alias("id"))
            .filter(F.col("id").isNotNull())
            .distinct(),
            n=F.count(F.lit(1)),
        )
        out_legs = [frontier.select("id", F.lit(0).alias("dist"))]
        visited = frontier
        for h in range(1, max_hops + 1):
            if seen["n"] == 0:
                break
            frontier, seen = s.pin(
                e.join(frontier.withColumnRenamed("id", "_src"), "_src")
                .select(F.col("_dst").alias("id"))
                .distinct()
                .join(visited, "id", "anti"),
                n=F.count(F.lit(1)),
            )
            out_legs.append(frontier.select("id", F.lit(h).alias("dist")))
            visited = visited.unionByName(frontier)
        out = out_legs[0]
        for leg in out_legs[1:]:
            out = out.unionByName(leg)
        return s.keep(s.pin(out))


def sssp_distances(
    edges: DataFrame,
    sources: DataFrame,
    max_rounds: int = 3,
    src: str = "src",
    dst: str = "dst",
    weight: str = "weight",
    id_col: str = "id",
    require_converged: bool = False,
    durable: bool = False,
) -> DataFrame:
    """Weighted multi-source shortest paths by frontier Bellman-Ford:
    after round h, `dist` is EXACTLY the cheapest path cost using at
    most h edges — so with bounded `max_rounds` the result is the
    well-defined "cheapest within k hops" relation (the khop
    semantics, weighted), and with `require_converged=True` the
    operator RAISES if the last round still improved anything (the
    connected_components raise-don't-truncate stance) — converged
    output is the true unbounded shortest path. Returns (id, dist)
    for reached nodes; unreachable nodes are absent; seeds are 0.

    Negative weights are accepted (Bellman-Ford's advantage over
    Dijkstra); a negative CYCLE never converges and is exactly what
    require_converged turns into a loud failure instead of a
    silently-wrong fixpoint claim. NULL-weight edges are dropped up
    front (an unpriceable edge can't participate in a cheapest
    path; the interval_merge documented-drop stance), and so are
    NULL-endpoint edges — a NULL dst would otherwise survive the
    improved-filter's left join (NULL never equi-joins) and emit a
    spurious id=NULL distance row (review r5, confirmed by
    execution).

    Shape per round (the khop loop): only the improved-frontier side
    shuffles against the CACHED pre-partitioned edges; candidate
    relaxations min-combine per node (map-side partials) and join
    the pinned dist relation id-keyed; `improved` keeps strictly
    cheaper entries only, so the frontier shrinks to ∅ on
    convergence and each round's plan starts from pinned LogicalRDDs
    (no O(rounds²) lineage re-derivation). Per-round driver traffic
    is the frontier size, observed on the frontier's own pin.
    """
    with ckpt.Scope(durable) as s:
        e = s.cache(
            edges.select(
                F.col(src).alias("_src"),
                F.col(dst).alias("_dst"),
                F.col(weight).cast("double").alias("_w"),
            )
            .filter(
                F.col("_w").isNotNull()
                & F.col("_src").isNotNull()
                & F.col("_dst").isNotNull()
            )
            .repartition("_src")
        )
        dist, seen = s.pin(
            # a NULL id is not a node (the khop_distances stance —
            # r10 sweep): without the filter a NULL seed emits a
            # spurious (NULL, 0.0) output row
            sources.select(F.col(id_col).alias("id"))
            .filter(F.col("id").isNotNull())
            .distinct()
            .select("id", F.lit(0.0).alias("dist")),
            n=F.count(F.lit(1)),
        )
        frontier = dist
        for _ in range(max_rounds):
            if seen["n"] == 0:
                break
            cand = (
                e.join(frontier.withColumnRenamed("id", "_src"), "_src")
                .select(
                    F.col("_dst").alias("id"),
                    (F.col("dist") + F.col("_w")).alias("_nd"),
                )
                .groupBy("id")
                .agg(F.min("_nd").alias("_nd"))
            )
            improved, seen = s.pin(
                cand.join(dist.withColumnRenamed("dist", "_cur"), "id", "left")
                .filter(
                    F.col("_cur").isNull() | (F.col("_nd") < F.col("_cur"))
                )
                .select("id", F.col("_nd").alias("dist")),
                n=F.count(F.lit(1)),
            )
            nxt = s.pin(
                dist.join(improved, "id", "anti").unionByName(improved)
            )
            # The superseded dist and frontier have no reader left.
            s.release(dist, frontier)
            dist, frontier = nxt, improved
        if require_converged and seen["n"] > 0:
            raise RuntimeError(
                f"sssp_distances: still improving after {max_rounds} "
                "rounds — raise max_rounds (or a negative cycle exists); "
                "refusing to return a truncated relation as the fixpoint"
            )
        # dist is already a pinned generation — returned as is, not
        # re-materialized into a second pin.
        return s.keep(dist)


def degree_assortativity(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Degree assortativity of an undirected graph — ONE row
    (n_nodes, n_edges, assortativity) with the Newman coefficient:
    the Pearson correlation of (deg(u), deg(v)) over all directed
    stubs (each undirected edge contributes BOTH orientations, the
    standard symmetrization — without it the s < d canonical order
    biases the correlation toward whichever endpoint sorts lower).
    Positive = hubs link to hubs (social nets), negative = hub-and-
    spoke (catalogs, the co-purchase graph here) — the one-number
    graph-health monitor that catches a degree-structure shift after
    an ingestion change, next to m13's importance ranking and m14's
    local density.

    Shape: canonical-undirected normalize + the stub-count degree
    aggregate (both the m14-certified seams), two equi-joins of the
    NODE-sized degree relation onto the edge list, one 1-row moment
    aggregate — no window, no UDF, nothing corpus². Degenerate pins:
    a REGULAR graph (every degree equal — zero variance) and a
    single-edge graph yield NULL assortativity, never NaN (the r44
    flat-series pin); an empty edge list yields (0, 0, NULL) rather
    than no row, so monitors always see a line.
    """
    und = _undirected(edges, src, dst)
    deg = _degrees(und)
    stubs = und.select(F.col("s").alias("u"), F.col("d").alias("v")).unionAll(
        und.select(F.col("d").alias("u"), F.col("s").alias("v"))
    )
    du = deg.select(F.col("v").alias("u"), F.col("deg").alias("deg_u"))
    dv = deg.select(F.col("v").alias("v"), F.col("deg").alias("deg_v"))
    paired = stubs.join(du, "u").join(dv, "v")
    agg = paired.agg(
        (F.count(F.lit(1)) / 2).cast("long").alias("n_edges"),
        F.corr(
            F.col("deg_u").cast("double"), F.col("deg_v").cast("double")
        ).alias("_rawr"),
    )
    nodes = deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    return nodes.crossJoin(F.broadcast(agg)).select(
        "n_nodes",
        "n_edges",
        round4(
            F.when(~F.isnan(F.col("_rawr")), F.col("_rawr"))
        ).alias("assortativity"),
    )


def _edge_support(e: DataFrame) -> DataFrame:
    """(s, d, support) — per-edge triangle counts over a canonical
    (s < d) edge list: id-oriented triple join enumerates each
    triangle x < y < z once, then each triangle credits its three
    edges (already canonical under the orientation). Edges in no
    triangle have no row — callers coalesce to 0."""
    a, b, c = e.alias("a"), e.alias("b"), e.alias("c")
    tri = (
        a.join(b, F.col("a.d") == F.col("b.s"))
        .join(
            c,
            (F.col("c.s") == F.col("a.s"))
            & (F.col("c.d") == F.col("b.d")),
        )
        .select(
            F.col("a.s").alias("x"),
            F.col("a.d").alias("y"),
            F.col("b.d").alias("z"),
        )
    )
    edges3 = tri.select(
        F.explode(
            F.array(
                F.struct(F.col("x").alias("s"), F.col("y").alias("d")),
                F.struct(F.col("y").alias("s"), F.col("z").alias("d")),
                F.struct(F.col("x").alias("s"), F.col("z").alias("d")),
            )
        ).alias("_e")
    ).select("_e.s", "_e.d")
    return edges3.groupBy("s", "d").agg(F.count(F.lit(1)).alias("support"))


def ktruss(
    edges: DataFrame,
    k: int,
    max_iter: int = 30,
    src: str = "src",
    dst: str = "dst",
    durable: bool = False,
) -> DataFrame:
    """k-truss membership: iteratively drop every edge in fewer than
    k−2 triangles until stable — the EDGE-cohesion strengthening of
    kcore (every k-truss edge sits in ≥ k−2 triangles whose OTHER
    edges also survive; a k-truss is within the (k−1)-core but
    strictly denser — it is the standard community-core /
    spam-subgraph primitive one notch above m18). Returns
    (s, d, support) for surviving edges, support being the edge's
    triangle count INSIDE the truss (≥ k−2 by definition; at the
    fixpoint round nothing dropped, so the last computed support IS
    the within-truss support). An empty result is a valid answer.

    Shape per round: one triangle enumeration (the m14 triple join,
    id-oriented — the compact-forward degree orientation
    triangle_counts uses is the documented upgrade if hub wedge
    fan-out ever dominates), a 3-way explode (row-local), one edge-
    keyed support aggregate, and a left-join filter — all hash-keyed;
    the edge relation strictly shrinks so later rounds cost less.
    Rounds are bounded by the peel depth; the max_iter guard RAISES
    rather than returning a too-large pseudo-truss (the kcore/CC
    stance), and per-round lineage pinning + release follow kcore
    exactly (durable=True for the reliable-checkpoint form). The
    surviving-edge count is observed on the filtered (s, d, support)
    relation's own pin, so each round runs the triangle enumeration —
    the round's dominant cost — once and no separate count: the
    fixpoint return and the next round's edge view read that pin.
    """
    need = k - 2
    with ckpt.Scope(durable) as s:
        held = e = s.pin(_undirected(edges, src, dst))
        prev: int | None = None
        for _ in range(max_iter):
            sup = _edge_support(e)
            keep, seen = s.pin(
                e.join(sup, ["s", "d"], "left")
                .select(
                    "s",
                    "d",
                    F.coalesce(F.col("support"), F.lit(0)).alias(
                        "support"
                    ),
                )
                .filter(F.col("support") >= need),
                n=F.count(F.lit(1)),
            )
            n = seen["n"]
            if n in (0, prev):
                # nothing is left, or no edge fell below k−2 this round
                # — fixpoint; the support column was computed against
                # this same edge set, so it is the within-truss
                # support, and keep is already the pinned result.
                return s.keep(keep)
            prev = n
            # Next round reads the (s, d) view of the pinned keep —
            # a lazy projection over the LogicalRDD, no second
            # materialization and bounded plan depth.
            s.release(held)
            held, e = keep, keep.select("s", "d")
        raise RuntimeError(
            f"ktruss(k={k}) did not stabilize in {max_iter} rounds; "
            "raise max_iter (peel depth exceeds it)"
        )


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    iterations: int = 5,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    seed_col: str = "id",
    durable: bool = False,
) -> DataFrame:
    """Personalized PageRank: teleport mass returns to a SEED set
    instead of spreading uniformly —

        r_{k+1}(v) = (1−d)·p(v) + d·Σ_{u→v} r_k(u)/outdeg(u)

    with p uniform over the seeds — the similar-items / related-
    content / local-community primitive (scores concentrate around
    the seeds; global PageRank is the p = 1/N special case).
    Returns (id, ppr) scaled by |V| like m13's pagerank (raw scores
    vanish under 4dp; the scale is a constant, rankings unchanged).
    Seeds OUTSIDE the graph are ignored (they have no edges to
    receive or spend mass through); an empty effective seed set
    RAISES — teleport would be undefined, and a silent uniform
    fallback would answer a different question. Dangling-node leak
    follows pagerank's documented stance.

    Shape: identical to pagerank per iteration — the cached
    pre-partitioned edge×degree relation, ONE rank shuffle join and
    ONE inflow aggregate — because the personalized teleport folds
    into the same union leg that pagerank uses for its zero floor:
    union _c = (1−d)·p(v)/d per node (0 for non-seeds), then the
    closing ·d distributes over the sum. No extra join, no extra
    exchange vs the uniform operator. Sizing actions (N, |seeds∩V|)
    are the documented bounded eager steps.
    """
    # damping outside (0, 1) breaks the teleport algebra below:
    # d=0 divides by zero in (1-d)/(d*m) before any Spark work, and
    # d=1 zeroes every teleport weight so the rank init's seed
    # detection (_c > 0) matches nothing — all-zero ppr with no
    # error (r10 sweep). The random-walk model needs 0 < d < 1
    # anyway; plain pagerank's d=0 (uniform) remains legal there.
    if not 0.0 < damping < 1.0:
        raise ValueError(
            f"personalized_pagerank: damping must be in (0, 1), "
            f"got {damping}"
        )
    with ckpt.Scope(durable) as s:
        contribs, nodes = _contribs_nodes(s, edges, src, dst)
        seeds_in = s.cache(
            seeds.select(F.col(seed_col).alias("id"))
            .distinct()
            .join(nodes, "id", "semi")
        )
        n = nodes.count()
        m = seeds_in.count()
        if n == 0:
            return s.keep(s.pin(nodes.select("id", F.lit(0.0).alias("ppr"))))
        if m == 0:
            raise ValueError(
                "personalized_pagerank: no seed is a graph node — "
                "teleport is undefined (check seed ids against the "
                "edge list)"
            )
        # teleport leg: (1−d)·p(v)/d so the closing ·d restores
        # (1−d)·p(v) + d·inflow; p(v) = 1/m on seeds, 0 elsewhere —
        # the 0 rows double as pagerank's every-node floor
        tele_c = F.when(
            F.col("_is").isNotNull(),
            F.lit((1.0 - damping) / (damping * m)),
        ).otherwise(F.lit(0.0))
        tele = s.cache(
            nodes.join(
                F.broadcast(seeds_in.withColumn("_is", F.lit(1))),
                "id",
                "left",
            ).select("id", tele_c.alias("_c"))
        )
        ranks = tele.select(
            "id",
            F.when(F.col("_c") > 0, F.lit(1.0 / m))
            .otherwise(F.lit(0.0))
            .alias("_rank"),
        )
        for _ in range(iterations):
            ranks = (
                contribs.join(ranks, contribs["_src"] == ranks["id"])
                .select(
                    F.col("_dst").alias("id"),
                    (F.col("_rank") / F.col("_deg")).alias("_c"),
                )
                .unionByName(tele)
                .groupBy("id")
                .agg(F.sum("_c").alias("_in"))
                .select(
                    "id",
                    (F.lit(damping) * F.col("_in")).alias("_rank"),
                )
            )
        out = ranks.select(
            "id", F.round(F.col("_rank") * n, 4).alias("ppr")
        )
        return s.keep(s.pin(out))


def label_propagation(
    edges: DataFrame,
    iterations: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Synchronous label-propagation communities over an UNDIRECTED
    graph — (id, community) after `iterations` rounds of

        label_{k+1}(v) = argmax_label count{u ∈ N(v) : label_k(u)}
                         (ties → the SMALLEST label)

    initialized with label_0 = node id. The classic near-linear
    community detector (Raghavan 2007): a node adopts its neighbors'
    majority label, so dense blocks agree within a few rounds while
    bridges stay contested — the community grain BETWEEN m17's local
    clustering coefficient and l02e's connected components (CC calls
    two cliques joined by one edge ONE component; LPA keeps them two
    communities).

    Determinism pin: the min-label tiebreak + synchronous rounds make
    every round a pure function of the previous labeling — no
    run-to-run flapping, and an unrolled-CTE SQL oracle computes the
    identical labeling (the m13/m25 fixed-iteration stance; classic
    LPA randomizes update ORDER, which is unobservable distributed —
    the synchronous form is the one with a cross-engine ground truth).

    Shape: edges normalized to canonical undirected then BOTH stub
    orientations, pre-hashed on the neighbor key and CACHED (the m13
    prelude); per round the label relation joins the cached stubs
    (no edge reshuffle), then ONE explicit hash(node) exchange of
    the joined rows that BOTH the (node, label) count and the
    per-node argmax ride — see the round-body comment. Lineage
    truncates per round (localCheckpoint — the r5 Catalyst
    exponential-plan fix).
    Isolated nodes never appear (an edge list carries no degree-0
    nodes) and self-loops are dropped by normalization.
    """
    und = _undirected(edges, src, dst)
    with ckpt.Scope() as s:
        stubs = s.cache(
            und.select(F.col("s").alias("_u"), F.col("d").alias("_v"))
            .unionAll(
                und.select(F.col("d").alias("_u"), F.col("s").alias("_v"))
            )
            .repartition("_u")
        )
        labels = stubs.select(F.col("_v").alias("id")).distinct().select(
            "id", F.col("id").alias("_lab")
        )
        for _ in range(iterations):
            # argmax on (count DESC, label ASC) as ONE aggregate:
            # min_by over the (-n, label) struct picks the same row
            # the rank-1 window did (labels are distinct within a
            # node's count relation, so the struct key is unique —
            # deterministic), but rides the (id, _lab) count
            # shuffle's partitioning instead of adding a second
            # exchange + sort per round (measured: the window form
            # made m28 the slowest headline query at sf0.1). The
            # negation sits on the COUNT (always numeric), not the
            # label, so string/date node ids keep the documented
            # smallest-label tiebreak — negating a string label under
            # ANSI-off casts to double and NULLs the key, turning the
            # tiebreak nondeterministic (code-review r8 finding).
            # ONE exchange per round (VERDICT r9 shave, measured
            # 7.1->4.2 s at sf0.1 with bit-identical communities):
            # the explicit repartition(id) hash-partitions the joined
            # (node, neighbor-label) rows by node, and BOTH
            # aggregations ride it — HashPartitioning([id]) satisfies
            # ClusteredDistribution([id, _lab]) (partitioning keys ⊆
            # clustering keys), so Catalyst inserts no further
            # exchange for the count OR the argmax. The default plan
            # paid TWO full-width exchanges: hash(id,_lab) for the
            # count, then hash(id) for the argmax — and the count's
            # map-side combine is worthless in round 1, where every
            # (node, neighbor-label) pair is unique by construction
            # (labels start as node ids).
            prev, labels = labels, s.pin(
                stubs.join(labels, stubs["_u"] == labels["id"])
                .select(F.col("_v").alias("id"), "_lab")
                .repartition("id")
                .groupBy("id", "_lab")
                .agg(F.count(F.lit(1)).alias("_n"))
                .groupBy("id")
                .agg(
                    F.min_by(
                        "_lab", F.struct(-F.col("_n"), F.col("_lab"))
                    ).alias("_lab")
                )
            )
            # Only the final generation stays pinned: it is the RDD
            # the returned plan reads (ADVICE r9: without the release,
            # each round leaked a |V|-row block set for the session).
            s.release(prev)
        return s.keep(labels).select("id", F.col("_lab").alias("community"))
