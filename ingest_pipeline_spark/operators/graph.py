"""Entity provenance-graph traversal operators.

The reference walks a Donor → Sample → Dataset → derived-Dataset DAG
through lazy per-entity REST lookups with a memo cache (reference
misc/tools/survey.py:75,150-303,667-704; dags/utils.py:1160-1164;
dags/status_change/status_utils.py:333-346).  Here the graph is two
DataFrames:

    entities(uuid, entity_type, status, ...)
    edges(parent_uuid, child_uuid)

Traversal = iterative self-join to a bounded depth (reference walks
are depth ≤ ~5 in practice: Dataset→Sample*→Donor).  Each iteration is
one shuffle on the join key; frontier DataFrames are checkpointed and
the loop stops early when a frontier is empty — the Spark-native
restatement of the reference's memoized lazy walk.

Every converge-or-stop loop here (BFS, kcore, ktruss, Borůvka) ends
its round with ``components._settle``: the round's checkpoint job also
counts the rows the stop probe needs, so no probe is an action of its
own.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .components import _settle

# rounds between lineage cuts of a lazily grown loop relation
_BFS_VISITED_CKPT_EVERY = 10
_PAGERANK_CKPT_EVERY = 5
_SSSP_CKPT_EVERY = 5
# lazy kcore peels per convergence check (r13: halving the driver
# barriers cut the sf0.1 graph_kcore_parts 3.4 -> 2.6 s)
_KCORE_PEELS_PER_CHECK = 2


def descendants_bfs(
    edges: DataFrame,
    roots: DataFrame,
    max_depth: int | None = 5,
) -> DataFrame:
    """All (root_uuid, uuid, depth) reachable downward from roots,
    depth = shortest hop count.

    edges: (parent_uuid, child_uuid); roots: one column `uuid`.
    ``max_depth=None`` iterates to the FIXPOINT — until the frontier
    empties (reference lazy full walks: misc/tools/survey.py:226-263,
    dags/utils.py:1160-1164).  Each round subtracts the visited set
    (anti-join on the per-root key), which both guarantees termination
    on cyclic inputs and keeps diamond-shaped DAG fan-in from
    re-expanding already-settled nodes; BFS level order makes the first
    arrival the min depth, so no final re-aggregation is needed.  The
    frontier is localCheckpoint-materialized every round by ``_settle``
    (it feeds the expand join and the visited union, and the same job
    counts its rows for the emptiness probe) and the visited
    accumulator every ``_BFS_VISITED_CKPT_EVERY`` rounds — the
    connected-components lineage-cut discipline for pathological DAGs.
    """
    frontier = (
        roots.select(
            F.col("uuid").alias("root_uuid"), F.col("uuid"), F.lit(0).alias("depth")
        )
        .distinct()  # roots are a SET; dup input rows must not fan out
        .localCheckpoint(eager=True)
    )
    visited = frontier
    depth = 0
    while max_depth is None or depth < max_depth:
        depth += 1
        frontier, n_new = _settle(
            frontier.join(edges, frontier.uuid == edges.parent_uuid)
            .select(
                "root_uuid",
                F.col("child_uuid").alias("uuid"),
                F.lit(depth).alias("depth"),
            )
            .distinct()
            .join(visited, ["root_uuid", "uuid"], "left_anti"),
            F.lit(True),
        )
        if n_new == 0:
            break
        visited = visited.unionByName(frontier)
        if depth % _BFS_VISITED_CKPT_EVERY == 0:
            visited = visited.localCheckpoint(eager=True)
    return visited


def ancestors_bfs(
    edges: DataFrame,
    roots: DataFrame,
    max_depth: int | None = 5,
) -> DataFrame:
    """All (root_uuid, uuid, depth) reachable upward from roots."""
    flipped = edges.select(
        F.col("child_uuid").alias("parent_uuid"),
        F.col("parent_uuid").alias("child_uuid"),
    )
    return descendants_bfs(flipped, roots, max_depth)


def latest_child(
    edges: DataFrame,
    entities: DataFrame,
    ts_col: str = "last_modified",
    status_filter: list[str] | None = None,
) -> DataFrame:
    """Most-recent child per parent (reference dags/extra_utils.py:20-48).

    Window-dedup — row_number over (parent, desc ts)) == 1 — replacing
    the reference's per-parent REST loop with one shuffle on parent.
    Optional status filter applied before the window (pushdown-friendly).
    """
    kids = edges.join(entities, edges.child_uuid == entities.uuid)
    if status_filter:
        kids = kids.filter(F.lower(F.col("status")).isin([s.lower() for s in status_filter]))
    w = Window.partitionBy("parent_uuid").orderBy(F.desc(ts_col), F.asc("uuid"))
    return (
        kids.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def pagerank(
    edges: DataFrame,
    iterations: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """Iterative PageRank over a directed edge list (src, dst).

    Returns (node, rank).  Every node must have out-degree >= 1 (feed an
    undirected graph as both edge directions to guarantee it — dangling
    mass redistribution is deliberately out of scope so the math stays
    oracle-expressible).

    Determinism across engines: per-edge contributions rank/outdeg are
    rounded to 12 dp and SUMMED AS DECIMAL(28,12) (order-proof under any
    partitioning), then rank' = round((1-d)/N + d*sum, 12) — identical
    unrolled SQL reproduces the exact doubles.

    Scale shape: one rank⋈degree join per iteration keyed on node, one
    contribution aggregation keyed on dst — both reuse the same hash
    partitioning.  The logical plan grows linearly with iterations, so
    every ``_PAGERANK_CKPT_EVERY`` rounds the rank frontier is
    localCheckpointed (same lineage-cut pattern as
    connected_components); for the typical 3-5 analytic iterations no
    checkpoint triggers.
    """
    # materialize the (possibly expensive) edge derivation ONCE — each
    # iteration joins edges twice and the unrolled lineage would
    # otherwise re-derive it per reference (the n_nodes count below
    # forces it anyway)
    edges = edges.localCheckpoint(eager=True)
    deg = edges.groupBy(F.col("src").alias("d_node")).agg(
        F.count("*").alias("outdeg")
    )
    nodes = edges.select(F.col("src").alias("node")).distinct()
    n_nodes = nodes.count()
    if n_nodes == 0:
        # empty graph (e.g. an empty incremental partition): empty
        # ranks, same schema — never a driver-side division by zero
        return nodes.withColumn("rank", F.lit(0.0)).select("node", "rank")
    base = (1.0 - damping) / n_nodes
    ranks = nodes.withColumn("rank", F.round(F.lit(1.0 / n_nodes), 12))
    for i in range(1, iterations + 1):
        contrib = (
            edges.join(ranks, edges.src == ranks.node)
            .join(deg, F.col("src") == F.col("d_node"))
            .select(
                F.col("dst").alias("node"),
                F.round(F.col("rank") / F.col("outdeg"), 12)
                .cast("decimal(28,12)")
                .alias("c"),
            )
        )
        ranks = contrib.groupBy("node").agg(
            F.round(
                F.lit(base) + F.lit(damping) * F.sum("c").cast("double"), 12
            ).alias("rank")
        )
        if i % _PAGERANK_CKPT_EVERY == 0 and i < iterations:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks


def shortest_paths(
    edges: DataFrame,
    source,
    rounds: int = 4,
) -> DataFrame:
    """Single-source shortest paths by ``rounds`` Bellman-Ford
    relaxations over a weighted edge list (src, dst, w).

    Returns (node, dist) for nodes reachable within ``rounds`` hops —
    the bounded-hop variant a distributed engine actually runs (full
    convergence = rounds ≥ longest shortest path; each round is one
    edges⋈frontier join + a dst-keyed MIN).  Determinism needs no
    decimal: path sums are per-row IEEE on identical doubles and MIN
    is order-free, so any partitioning yields the same distances.
    Lineage is cut every ``_SSSP_CKPT_EVERY`` rounds (the
    connected-components / pagerank discipline).
    """
    edges = edges.localCheckpoint(eager=True)
    dist = (
        edges.sparkSession.createDataFrame([(source,)], "node long")
        .withColumn("dist", F.lit(0.0))
    )
    for i in range(1, rounds + 1):
        relaxed = (
            edges.join(dist, edges.src == dist.node)
            .select(F.col("dst").alias("node"), (F.col("dist") + F.col("w")).alias("dist"))
        )
        dist = (
            dist.unionByName(relaxed)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
        )
        if i % _SSSP_CKPT_EVERY == 0 and i < rounds:
            dist = dist.localCheckpoint(eager=True)
    return dist


def _orient_by_degree(
    e: DataFrame, pin_degrees: bool = False
) -> tuple[DataFrame, DataFrame]:
    """Degree-ordered orientation of an undirected edge list (u, v):
    every edge points at its higher-degree endpoint, id tiebreak, as
    (s, t).  The (degree, id) total order bounds every out-degree by
    O(√m) and is transitive, so each triangle is enumerated once, as
    s→t→w closed by s→w.

    Returns (oriented, deg): ``oriented`` is eagerly checkpointed (it
    feeds both wedge-join sides and the closure); ``deg`` is the
    (node, d) relation, checkpointed too when ``pin_degrees`` (a caller
    that reads it again).
    """
    deg = (
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )
    if pin_degrees:
        deg = deg.localCheckpoint(eager=True)
    da, db = deg.alias("da"), deg.alias("db")
    flip = (F.col("db.d") < F.col("da.d")) | (
        (F.col("db.d") == F.col("da.d")) & (F.col("v") < F.col("u"))
    )
    oriented = (
        e.join(da, F.col("u") == F.col("da.node"))
        .join(db, F.col("v") == F.col("db.node"))
        .select(
            F.when(flip, F.col("v")).otherwise(F.col("u")).alias("s"),
            F.when(flip, F.col("u")).otherwise(F.col("v")).alias("t"),
        )
        .localCheckpoint(eager=True)
    )
    return oriented, deg


def triangle_stats(edges: DataFrame, src: str = "u", dst: str = "v") -> DataFrame:
    """Exact triangle count + global clustering coefficient over an
    undirected simple edge list (each edge once, ``src < dst``).

    The scale problem with the naive 3-way self-join is wedge
    explosion around hubs (a degree-d node spawns d² wedge rows).  The
    classic fix — degree-ordered orientation (point every edge at the
    higher-degree endpoint, id tiebreak) — bounds every out-degree by
    O(√m), so wedge volume is O(m^1.5) worst-case and tiny on real
    skewed graphs; each triangle is then generated exactly once.  All
    joins are key-equi (node / edge keys) and every count is exact
    integer math, so the result is partitioning-invariant by
    construction.  Reference has no graph analytics beyond BFS walks
    (tools/survey.py:226-263); this is the training-pipeline grade
    structure probe over, e.g., co-occurrence graphs.

    Returns ONE row: n_nodes, n_edges, n_triangles, n_wedges,
    clustering (3·T/W, NULL when W = 0).
    """
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    e = e.localCheckpoint(eager=True)  # degrees + orientation share it
    # degrees have 3 consumers: both orientation joins and the wedges
    oriented, deg = _orient_by_degree(e, pin_degrees=True)
    e1, e2, e3 = oriented.alias("e1"), oriented.alias("e2"), oriented.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.t") == F.col("e2.s"))
        .join(
            e3,
            (F.col("e3.s") == F.col("e1.s")) & (F.col("e3.t") == F.col("e2.t")),
        )
        .agg(F.count("*").alias("n_triangles"))
    )
    nodes = deg.agg(
        F.count("*").alias("n_nodes"),
        # DIV keeps the arithmetic integral (long / long would go
        # through double and drift past 2^53)
        F.sum(F.expr("(d * (d - 1)) DIV 2")).cast("long").alias("n_wedges"),
    )
    n_edges = e.agg(F.count("*").alias("n_edges"))
    out = (
        nodes.crossJoin(F.broadcast(n_edges))
        .crossJoin(F.broadcast(tri))
        .select(
            "n_nodes",
            "n_edges",
            "n_triangles",
            "n_wedges",
            F.when(
                F.col("n_wedges") > 0,
                F.round(
                    F.lit(3.0) * F.col("n_triangles").cast("double")
                    / F.col("n_wedges").cast("double"),
                    6,
                ),
            ).alias("clustering"),
        )
    )
    return out


def kcore(
    edges: DataFrame,
    k: int,
    src: str = "u",
    dst: str = "v",
) -> DataFrame:
    """k-core decomposition membership: iteratively peel vertices of
    degree < k until the remaining subgraph has min degree ≥ k.

    The standard graph-pruning step before expensive pairwise work
    (e.g. dropping weakly-connected items from a dedup/co-occurrence
    graph).  Input is an undirected simple edge list (each edge once,
    any orientation); returns ``(node, core_degree)`` for the
    surviving vertices, where ``core_degree`` is the degree INSIDE the
    k-core.

    Execution shape: each round is one degree aggregation + two
    hash-semi-joins keyed on the endpoints (never all-pairs).  Every
    round removes EVERY current sub-k vertex at once, so the round
    count is the peeling depth, not the vertex count.  Rounds are
    BATCHED (r13): ``_KCORE_PEELS_PER_CHECK`` peels run lazily between
    the round barriers — a peel at or past the fixpoint is a no-op
    (every vertex already >= k), so over-peeling never changes the
    result.  Each barrier checkpoints the peeled edges, then
    ``_settle``s their degree relation, whose job also counts the
    sub-k vertices (the convergence probe); that checkpointed degree
    relation is the result at the fixpoint and the next batch's first
    peel otherwise, so it is computed once.
    Oracle (r12): because extra peel rounds past convergence are
    no-ops, the fixpoint IS SQL-expressible by unrolling past the
    measured depth — graph_kcore_parts' oracle materializes
    ``_KCORE_PEELS`` fixed peel rounds as chained CTEs (queries.py),
    with a depth-margin unit pinning the measured depth + slack;
    a margin shortfall surfaces as a hash mismatch, never silently.
    Also pinned by the pure-Python peeling reference unit
    (tests/test_estimator_references.py) and shape fixtures
    (tests/test_graph_fixpoint.py).
    """
    sym = edges.select(
        F.col(src).alias("a"), F.col(dst).alias("b")
    ).unionByName(
        edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
    ).distinct()
    sym = sym.localCheckpoint(eager=True)
    deg = sym.groupBy("a").agg(F.count("*").alias("d"))
    while True:
        # peels are LAZY — on an already-converged graph the whole
        # batch folds into the barrier as no-op semi-joins, so
        # peel-first costs no extra action
        for _ in range(_KCORE_PEELS_PER_CHECK):
            survivors = deg.where(F.col("d") >= k).select("a")
            sym = sym.join(survivors, "a", "semi").join(
                survivors.select(F.col("a").alias("b")), "b", "semi"
            )
            deg = sym.groupBy("a").agg(F.count("*").alias("d"))
        sym = sym.localCheckpoint(eager=True)
        deg, n_bad = _settle(
            sym.groupBy("a").agg(F.count("*").alias("d")), F.col("d") < k
        )
        if n_bad == 0:
            return deg.select(
                F.col("a").alias("node"), F.col("d").alias("core_degree")
            )


def boruvka_mst(
    edges: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
    w_col: str = "w",
    max_rounds: int = 20,
) -> DataFrame:
    """Minimum spanning forest by Boruvka's algorithm — the classic
    distributed MST (each round EVERY component picks its cheapest
    outgoing edge, components contract; O(log n) rounds).  Edges are
    totally ordered by the struct (w, a, b), so ties never make the
    forest ambiguous: the MSF is UNIQUE and reference-checkable
    (tests/test_mst.py holds the edge set to exact equality with a
    pure-Python Kruskal).  Input: undirected weighted edges (a < b
    expected, one row per edge).  Output: (a, b, w) tree edges.

    Shape per round: two comp-label equi-joins onto the edge list, a
    per-component min-struct aggregate (the PQ-argmin discipline — a
    hash agg, never a sort window), and a component contraction via
    connected_components over the SELECTED edges only (a forest on
    components, so the inner fixpoint propagates over a relation that
    halves every round).  Driver state: the live cross-component edge
    count, observed on the job that checkpoints them (``_settle``, the
    fixpoint-loop discipline of connected_components).
    """
    from .components import connected_components

    e = edges.select(
        F.col(a_col).alias("a"), F.col(b_col).alias("b"), F.col(w_col).alias("w")
    ).localCheckpoint(eager=True)
    comp = (
        e.select(F.col("a").alias("id"))
        .unionByName(e.select(F.col("b").alias("id")))
        .distinct()
        .withColumn("comp", F.col("id"))
        .localCheckpoint(eager=True)
    )
    tree: DataFrame | None = None
    converged = False
    for _ in range(max_rounds):
        ca = comp.select(F.col("id").alias("a"), F.col("comp").alias("ca"))
        cb = comp.select(F.col("id").alias("b"), F.col("comp").alias("cb"))
        lab, n_live = _settle(  # both min-agg sides share it
            e.join(ca, "a").join(cb, "b").filter(F.col("ca") != F.col("cb")),
            F.lit(True),
        )
        if n_live == 0:
            converged = True
            break
        est = F.struct("w", "a", "b", "ca", "cb").alias("e")
        sym = lab.select(F.col("ca").alias("c"), est).unionByName(
            lab.select(F.col("cb").alias("c"), est)
        )
        sel = (
            sym.groupBy("c")
            .agg(F.min("e").alias("e"))
            .select("e.w", "e.a", "e.b", "e.ca", "e.cb")
            .distinct()
            .localCheckpoint(eager=True)  # tree union + contraction share
        )
        picked = sel.select("a", "b", "w")
        tree = picked if tree is None else tree.unionByName(picked)
        mapping = connected_components(
            sel.select(F.col("ca").alias("id_a"), F.col("cb").alias("id_b"))
        )
        comp = (
            comp.join(mapping, comp.comp == mapping.id, "left")
            .select(
                comp.id,
                F.coalesce(mapping.component, comp.comp).alias("comp"),
            )
            .localCheckpoint(eager=True)
        )
    if not converged:
        # a truncated forest returned silently would look like a valid
        # MSF — match the connected_components fixpoint discipline
        raise RuntimeError(
            f"boruvka_mst did not converge in {max_rounds} rounds"
        )
    if tree is None:
        return e.select("a", "b", "w").limit(0)
    # no cross-round distinct needed (r14): within a round ``sel`` is
    # already distinct, and an edge picked in round r joins its two
    # endpoints into one component, so every later round's ca != cb
    # filter excludes it — the union is duplicate-free by construction
    # (tests/test_mst.py holds the edge set to exact Kruskal equality)
    return tree


def ktruss(
    edges: DataFrame,
    k: int,
    src: str = "u",
    dst: str = "v",
) -> DataFrame:
    """k-truss decomposition: the maximal subgraph in which every edge
    participates in >= k-2 triangles (Cohen 2008) — the EDGE-based
    cousin of the k-core vertex peel, and the standard community-core
    extractor that survives the degree-hub noise k-core keeps.
    Requires k >= 3 (at k <= 2 every edge trivially survives).

    Returns the surviving canonical edges with their in-truss triangle
    support: (u, v, support), u < v.

    Execution shape per peel round (r14: DEGREE-ordered orientation,
    the r13 verdict's scale fix — the old a<b<c id-orientation keyed
    the wedge join on the middle VERTEX ID, so a high-degree low-id
    hub concentrated wedge rows in one task; pointing every edge at
    its higher-degree endpoint (id tiebreak) bounds every out-degree
    by O(√m) exactly as in ``triangle_stats`` (both orient through
    ``_orient_by_degree``), and the (deg, id) total order is
    transitively consistent, so each triangle is still enumerated
    exactly once as the path s→t→w with the closing edge guaranteed
    oriented s→w):

    1. orientation: per-round degree count + two node-keyed joins
       (degrees change as edges peel, so the orientation is re-derived
       from the surviving edges each round);
    2. triangles: o(s,t) |><| o(t,w) on t, closed by a semi-join on
       the oriented (s,w) edge — one hash join + one semi-join;
    3. per-edge support: each triangle row contributes its three edges
       re-CANONICALIZED to (u < v) keys — support attribution needs
       the canonical key, orientation only serves enumeration — into
       one keyed count;
    4. drop edges with support < k-2; converged when nothing drops.

    Rounds remove ALL light edges at once (round count = peeling
    depth); the oriented relation is localCheckpointed every round (it
    feeds three join sides), and the scored edge relation is
    ``_settle``d (it yields the next round's edges, and its checkpoint
    job counts the light edges for the convergence probe).  Like kcore,
    rounds at or past the fixpoint are no-ops, which is what makes the
    unrolled-CTE oracle exact (queries.graph_ktruss_copurchase) — and
    the oracle enumerates triangles by the id-ordered a<b<c join, which
    is the SAME triangle set (orientation never changes which triangles
    exist, only the join's task balance).
    """
    if k < 3:
        raise ValueError(f"ktruss requires k >= 3, got {k}")
    canon = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    while True:
        oriented, _ = _orient_by_degree(canon)
        o1 = oriented.select(F.col("s").alias("a"), F.col("t").alias("b"))
        o2 = oriented.select(F.col("s").alias("b"), F.col("t").alias("c"))
        tri = (
            o1.join(o2, "b")
            .join(
                oriented.select(F.col("s").alias("a"), F.col("t").alias("c")),
                ["a", "c"],
                "semi",
            )
        )
        canon_pair = lambda x, y: (  # noqa: E731
            F.least(F.col(x), F.col(y)).alias("u"),
            F.greatest(F.col(x), F.col(y)).alias("v"),
        )
        contrib = (
            tri.select(*canon_pair("a", "b"))
            .unionByName(tri.select(*canon_pair("b", "c")))
            .unionByName(tri.select(*canon_pair("a", "c")))
        )
        supp = contrib.groupBy("u", "v").agg(
            F.count("*").cast("bigint").alias("support")
        )
        # checkpoint the SCORED relation and count its light edges in
        # the same job: the triangle join executes exactly once per
        # round.  Left join: an edge in no triangle scores 0 < k-2
        # and drops (k >= 3 guarantees that's the correct fate).
        scored, n_light = _settle(
            canon.join(supp, ["u", "v"], "left").withColumn(
                "support", F.coalesce("support", F.lit(0).cast("bigint"))
            ),
            F.col("support") < k - 2,
        )
        if n_light == 0:
            return scored
        canon = scored.filter(F.col("support") >= k - 2).select("u", "v")
