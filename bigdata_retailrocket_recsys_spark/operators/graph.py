"""Graph operators over relational edge lists.

Connected components (dedup clustering) lives in ``operators/dedup.py``;
this module holds the scoring side: PageRank over an edge list — the
classic "importance in the co-visitation graph" signal a recommender
blends with popularity (the reference's pop_cands strategy, py:331-340,
is the degenerate damping=1-iteration version of this).

The iterative operators here (``pagerank``, ``pagerank_exact``,
``k_core``, ``bfs_distances``) run through ``operators/iterate.py``,
which states their round, round-limit and pin-lifetime contract once;
all but ``bfs_distances`` carry each node's adjacency, as dedup.py's
min-label ``connected_components`` does, so a round is one :func:`_push`.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bigdata_retailrocket_recsys_spark.operators.iterate import (
    Iteration,
    Round,
)


def _adjacency(pairs: DataFrame) -> DataFrame:
    """``(node, peer)`` rows as ``(node, out)``, ``out`` the set of the
    node's peers; NULL peers are dropped, so a node with only NULL peers
    keeps a row with an empty ``out``."""
    return pairs.groupBy("node").agg(F.collect_set("peer").alias("out"))


def _push(state: DataFrame, keep: Column, send: Column, *aggs: Column) -> DataFrame:
    """One message-passing round over ``(node, out, ...)`` state, as in
    Pregel (Malewicz et al., SIGMOD'10): each row keeps ``(node, out,
    c=keep)`` and sends ``(peer, NULL, c=send)`` to every peer in
    ``out``; per node, ``aggs`` fold ``c`` and ``out`` carries over. The
    union and its groupBy are one Exchange, no join."""
    sent = F.explode("out").alias("node"), F.lit(None).alias("out"), send.alias("c")
    return (
        state.select("node", "out", keep.alias("c"))
        .union(state.select(*sent))
        .groupBy("node")
        .agg(*aggs, F.first("out", ignorenulls=True).alias("out"))
    )


def _undirected(edges: DataFrame, src_col: str, dst_col: str) -> DataFrame:
    """Distinct undirected edges as ``(u < v)``, self-loops dropped."""
    return (
        edges.select(
            F.least(src_col, dst_col).alias("u"),
            F.greatest(src_col, dst_col).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _neighbors(edges: DataFrame, src_col: str, dst_col: str) -> DataFrame:
    """``(node, out)``: every endpoint of ``edges`` with its peers in
    either direction, in one aggregate."""
    return _adjacency(
        edges.select(F.col(src_col).alias("node"), F.col(dst_col).alias("peer")).union(
            edges.select(F.col(dst_col).alias("node"), F.col(src_col).alias("peer"))
        )
    )


def _closed_wedges(with_deg: DataFrame) -> DataFrame:
    """Every triangle once, as ``(s, a, b)`` at its lowest-order apex
    ``s``, from canonical edges with endpoint degrees ``(u, v, du,
    dv)``: each edge is oriented low→high in the (deg, id) total order
    (the orientation is cached: both wedge sides and the closing join
    read it), wedges pair two out-neighbors ``a < b`` of ``s`` in that
    order, and a wedge closes when the oriented a→b edge exists (an
    inner join cannot duplicate — oriented edges are distinct).

    Each caller builds its own degree table. They differ by a no-op
    ``bigint`` cast, which keeps the two cached orientations apart: with
    one plan, a session that ran edge_jaccard first hands triangle_counts
    the orientation cache planned over edge_jaccard's cached input."""
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = (
        with_deg.select(
            F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("s"),
            F.when(u_first, F.struct("dv", "v"))
            .otherwise(F.struct(F.col("du").alias("dv"), F.col("u").alias("v")))
            .alias("d"),
        )
        .select("s", F.col("d.v").alias("d"), F.col("d.dv").alias("dd"))
        .cache()
    )
    e1 = oriented.select("s", F.col("d").alias("a"), F.col("dd").alias("da"))
    e2 = oriented.select("s", F.col("d").alias("b"), F.col("dd").alias("db"))
    wedges = e1.join(e2, "s").filter(
        (F.col("da") < F.col("db"))
        | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b")))
    )
    return wedges.join(
        oriented.select(F.col("s").alias("a"), F.col("d").alias("b")),
        ["a", "b"],
        "inner",
    ).select("s", "a", "b")


def pagerank(
    edges: DataFrame,
    *,
    src_col: str = "src",
    dst_col: str = "dst",
    damping: float = 0.85,
    iters: int = 10,
) -> DataFrame:
    """Power-iteration PageRank over a directed edge list.

    Standard formulation: ``r' = (1-d)/N + d * (Σ_in r/outdeg +
    dangling_mass/N)`` — dangling nodes (no out-edges) redistribute their
    mass uniformly, so total rank mass stays 1 every iteration (asserted
    in tests). Exactly ``iters >= 1`` rounds; duplicate edges count once
    and edges with a NULL endpoint are dropped.

    Each node carries its out-list through the rounds, as in Spark's RDD
    PageRank (Zaharia et al., "Resilient Distributed Datasets", NSDI'12
    §3.2.2), so no round joins or broadcasts the graph: a round is one
    :func:`_push` of ``rank/outdeg`` to every out-neighbor. The dangling
    mass is an observed metric of the previous round's checkpoint job;
    ``N`` and the dangling count are metrics of the node table's. The
    last round stays lazy for the caller's action.

    Output: (node, rank) — float ranks are reduction-order dependent →
    rows-only in the driver contract; invariants (mass conservation,
    NumPy power-iteration agreement) are property-tested.
    """
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    e = edges.filter(F.col(src_col).isNotNull() & F.col(dst_col).isNotNull())
    # duplicate edges count once; the NULL peer gives every destination a row
    adj = _adjacency(
        e.select(F.col(src_col).alias("node"), F.col(dst_col).alias("peer")).union(
            e.select(F.col(dst_col).alias("node"), F.lit(None).alias("peer"))
        )
    )
    dangling = F.size("out") == 0
    with Iteration() as it:
        nodes = it.checkpoint(
            adj, F.count(F.lit(1)).alias("n"), F.count_if(dangling).alias("dng")
        )
        n = nodes.seen["n"]
        if n == 0:
            return it.result(nodes.df.select("node", F.lit(0.0).alias("rank")))
        base = (1.0 - damping) / n
        # built once: each Column costs the driver round trips to the JVM
        keep, send = F.lit(0.0), F.col("rank") / F.size("out")

        def step(cur: Round) -> DataFrame:
            rank = F.lit(base) + F.lit(damping) * (
                F.sum("c") + F.lit(cur.seen["dangling_m"]) / F.lit(float(n))
            )
            return _push(cur.df, keep, send, rank.alias("rank"))

        start = Round(
            nodes.df.select("node", "out", F.lit(1.0 / n).alias("rank")),
            {"dangling_m": nodes.seen["dng"] / n},
        )
        last = it.fixpoint(
            step,
            start,
            max_iter=iters - 1,
            metrics=(
                F.sum(F.when(dangling, F.col("rank")).otherwise(0.0)).alias("dangling_m"),
            ),
        )
        return it.result(step(last).select("node", "rank"))


def triangle_counts(
    edges: DataFrame,
    *,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Per-vertex triangle counts over an undirected edge list.

    Input edges may be directed/duplicated either way; they are first
    canonicalized to distinct undirected ``(u < v)`` pairs. Enumeration
    uses the degree-orientation optimization (Schank/Wagner; the
    MapReduce form is Suri & Vassilvitskii's "Counting triangles and the
    curse of the last reducer", WWW'11): every undirected edge is
    directed from its lower-(degree, id) endpoint to the higher one, so
    wedges are only built at each triangle's *lowest-order* apex. That
    bounds the wedge fan-out by O(m^1.5) overall instead of Σ deg(v)²
    — the hub vertex of a star graph generates ZERO wedges because all
    its edges point inward. Each triangle is found exactly once, then
    exploded to its three vertices for the per-vertex rollup.

    Shuffle shape: degree agg (map-side combinable) + two self-joins on
    vertex keys + one final groupBy — all hash-partitioned on vertex /
    edge keys; no driver collection, no iteration. The canonical edge
    list is referenced 4× (degrees, orientation, both wedge sides via
    `oriented`) and Spark's ReuseExchange does NOT dedupe it (verified
    on the executed plan), so `und` and `oriented` are cached — the S7
    shared-subtree discipline; without it the upstream edge derivation
    (often itself a self-join) recomputes ~6×.

    Returns ``(vtx, n_tri)`` — vertices in ≥1 triangle only.
    Complements the reference's popularity/co-visitation signals
    (py:331-340) with a cohesion signal; oracle-checked against the
    naive a<b<c enumeration in DuckDB (orientation changes which join
    finds a triangle, never the triangle set).
    """
    und = _undirected(edges, src_col, dst_col).cache()
    deg = (
        und.select(F.col("u").alias("vtx"))
        .unionAll(und.select(F.col("v").alias("vtx")))
        .groupBy("vtx")
        .agg(F.count("*").alias("deg"))
    )
    with_deg = (
        und.join(deg.withColumnRenamed("vtx", "u").withColumnRenamed("deg", "du"), "u")
        .join(deg.withColumnRenamed("vtx", "v").withColumnRenamed("deg", "dv"), "v")
    )
    closed = _closed_wedges(with_deg)
    tri_vertices = closed.select(
        F.explode(F.array("s", "a", "b")).alias("vtx")
    )
    return tri_vertices.groupBy("vtx").agg(
        F.count("*").cast("bigint").alias("n_tri")
    )


def pagerank_exact(
    edges: DataFrame,
    *,
    src_col: str = "src",
    dst_col: str = "dst",
    iters: int = 4,
    unit: int = 1_000_000,
    damping_num: int = 850,
    damping_den: int = 1000,
) -> DataFrame:
    """Integer-mass PageRank — bit-exact cross-engine, so an iterative
    graph algorithm can be ORACLED instead of rows-only (`pagerank`'s
    float ranks are reduction-order dependent; these integer masses are
    not: + and div on bigints are associative-safe).

    Semantics: canonicalize input to the SYMMETRIC directed graph (both
    orientations of each undirected edge — guarantees every node has
    out- and in-degree, so no dangling handling), start every node at
    ``unit`` micro-mass, then exactly ``iters >= 1`` rounds of

        mass'(v) = base + (num · Σ_{u→v} floor(mass(u)/outdeg(u))) div den

    with ``base = unit·(den−num) div den``. The floors leak a little
    mass (deterministically — this is a defined fixed-point scheme, not
    an approximation of the float one); ranking order converges to the
    same importance order as float PageRank on these graphs. Each node
    carries its neighbor list, so a round is one :func:`_push` of ``mass
    div outdeg`` (one Exchange, no join); the last round stays lazy.
    """
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    base = (unit * (damping_den - damping_num)) // damping_den
    send = F.expr("mass div size(out)")
    mass = (
        (F.lit(base) + F.expr(f"({damping_num} * sum(c)) div {damping_den}"))
        .cast("bigint")
        .alias("mass")
    )

    e = edges.filter(F.col(src_col) != F.col(dst_col))  # no self-loop, no NULL end

    def step(cur: Round) -> DataFrame:
        return _push(cur.df, F.lit(0), send, mass)

    with Iteration() as it:
        start = it.checkpoint(
            _neighbors(e, src_col, dst_col).withColumn("mass", F.lit(unit).cast("bigint"))
        )
        last = it.fixpoint(step, start, max_iter=iters - 1)
        return it.result(step(last).select(F.col("node").alias("vtx"), "mass"))


def edge_jaccard(
    edges: DataFrame,
    *,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Per-edge neighborhood Jaccard similarity — the classic
    link-prediction / community-strength feature:
    ``J(u,v) = |N(u) ∩ N(v)| / |N(u) ∪ N(v)|`` for every undirected edge
    ``(u < v)``, where ``N(x)`` is x's adjacent vertex set (so v ∈ N(u)
    and u ∈ N(v): the union denominator is ``deg(u) + deg(v) − common``
    and is ≥ 2 for any real edge — no zero-division branch).

    |N(u) ∩ N(v)| for an EDGE is exactly the number of triangles through
    that edge, so the counting rides the same degree-oriented wedge
    closure as :func:`triangle_counts` (Suri & Vassilvitskii WWW'11) —
    O(m^1.5) wedge bound instead of the Σ deg(v)² a naive
    adjacency×adjacency self-join pays; a hub's edges all point inward
    and generate zero wedges. Each closed triangle (s,a,b) then credits
    its THREE canonical edges. Edges in no triangle surface with
    common = 0 via the left join back onto the canonical edge list.

    All counts are exact ints; the single jaccard division runs on
    int→double casts (bit-identical across engines, plans/catalog.py
    rules). Extends the reference's co-visitation signal (py:331-340)
    from pair-counts to normalized neighborhood overlap.

    Returns ``(u, v, common, deg_u, deg_v, jaccard)``.
    """
    und = _undirected(edges, src_col, dst_col).cache()
    deg = (
        und.select(F.col("u").alias("vtx"))
        .unionAll(und.select(F.col("v").alias("vtx")))
        .groupBy("vtx")
        .agg(F.count("*").cast("bigint").alias("deg"))
    )
    with_deg = (
        und.join(
            deg.withColumnRenamed("vtx", "u").withColumnRenamed("deg", "du"),
            "u",
        )
        .join(
            deg.withColumnRenamed("vtx", "v").withColumnRenamed("deg", "dv"),
            "v",
        )
        .cache()  # consumed by BOTH the orientation and the output join;
        # ReuseExchange does not dedupe shared subtrees (CLAUDE.md)
    )
    closed = _closed_wedges(with_deg)
    # each triangle (s,a,b) → its three canonical (min,max) edges
    tri_edges = closed.select(
        F.explode(
            F.array(
                F.struct(
                    F.least("s", "a").alias("u"), F.greatest("s", "a").alias("v")
                ),
                F.struct(
                    F.least("s", "b").alias("u"), F.greatest("s", "b").alias("v")
                ),
                F.struct(
                    F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
                ),
            )
        ).alias("e")
    ).select("e.u", "e.v")
    per_edge = tri_edges.groupBy("u", "v").agg(
        F.count("*").cast("bigint").alias("common")
    )
    out = (
        with_deg.select("u", "v", "du", "dv")
        .join(per_edge, ["u", "v"], "left")
        .select(
            "u",
            "v",
            F.coalesce("common", F.lit(0)).cast("bigint").alias("common"),
            F.col("du").cast("bigint").alias("deg_u"),
            F.col("dv").cast("bigint").alias("deg_v"),
        )
    )
    return out.withColumn(
        "jaccard",
        F.col("common").cast("double")
        / (F.col("deg_u") + F.col("deg_v") - F.col("common")).cast("double"),
    )


def k_core(
    edges: DataFrame,
    k: int,
    *,
    src_col: str = "src",
    dst_col: str = "dst",
    max_iter: int = 100,
) -> DataFrame:
    """k-core decomposition by iterative peeling: repeatedly delete
    vertices of degree < k until none remain; the survivors are the
    (unique, order-independent) maximal subgraph with min degree ≥ k —
    the standard community-cohesion / crawler-spam filter next to
    triangles and Jaccard — a cohesion gate for the reference's
    co-visitation graph (py:331-340), like the other graph operators.

    Each vertex carries its neighbor list, and each round is one
    :func:`_push`: a vertex of degree < k sends its id to its neighbors
    and drops out, every survivor removes the ids it receives (a vertex
    left with no neighbor drops out too), until a round keeps every
    vertex; rounds are bounded by the degeneracy ordering depth,
    typically ≪ 20 on real graphs. Not SQL-recursion expressible
    (fixpoint needs aggregation in the recursive term, which neither
    engine allows) → rows-only entry with the defining invariant locked
    in tests.

    Returns ``(vtx, deg)`` — vertices of the k-core with their degree
    WITHIN the core.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    e = edges.filter(F.col(src_col) != F.col(dst_col))  # no self-loop, no NULL end
    # survivors send NULL, which collect_set drops
    keep, send = F.lit(None), F.when(F.size("out") < k, F.col("node"))

    def step(cur: Round) -> DataFrame:
        # messages to a vertex that dies this round go with its row; a
        # vertex left with no neighbor goes too, so the row count holds
        # exactly when a round peels no edge
        return (
            _push(cur.df, keep, send, F.collect_set("c").alias("dead"))
            .filter(F.size("out") >= k)
            .select("node", F.array_except("out", "dead").alias("out"))
            .filter(F.size("out") > 0)
        )

    with Iteration() as it:
        cur = it.fixpoint(
            step,
            it.checkpoint(_neighbors(e, src_col, dst_col)),
            max_iter=max_iter,
            converged=lambda prev, cur: cur.rows == prev.rows,
            hint="k_core is still peeling.",
        ).df
        return it.result(
            cur.select(F.col("node").alias("vtx"), F.size("out").cast("bigint").alias("deg"))
        )


def bfs_distances(
    edges: DataFrame,
    source,
    *,
    src_col: str = "src",
    dst_col: str = "dst",
    max_hops: int = 30,
) -> DataFrame:
    """Single-source shortest hop distances over an undirected edge
    list — the SCALE path for reachability that `q_sql_recursive_bfs`'s
    recursive CTE enumerates by paths (exponential on dense graphs):
    classic frontier BFS, exactly ``max_hops`` rounds (frontiers past the
    source's eccentricity are empty), each ONE join (frontier →
    neighbors) + ONE left-anti against the union of the checkpointed
    frontiers + dedup. Every edge relaxes at most twice over the run.

    Returns ``(node, min_hop)`` for every node reachable within
    ``max_hops`` (source included at hop 0). Deterministic exact ints →
    fully DuckDB-oracle-checkable against the recursive-CTE min-hop.
    Reachability over the reference's co-visitation pair graph
    (py:252-260 builds the edges this walks).
    """
    visited = []  # one (node, min_hop) arm per frontier

    def visit(frontier: DataFrame) -> DataFrame:
        visited.append(frontier.select("node", F.lit(len(visited)).alias("min_hop")))
        return reduce(DataFrame.union, visited)

    def step(cur: Round) -> DataFrame:
        frontier = cur.df
        return (
            frontier.join(adj, frontier.node == adj.x)
            .select(F.col("y").alias("node"))
            .distinct()
            .join(visit(frontier).select("node"), "node", "left_anti")
        )

    und = _undirected(edges, src_col, dst_col)
    with Iteration() as it:
        adj = it.checkpoint(
            und.select(F.col("u").alias("x"), F.col("v").alias("y")).unionAll(
                und.select(F.col("v").alias("x"), F.col("u").alias("y"))
            )
        ).df
        start = it.checkpoint(
            edges.sparkSession.createDataFrame([(source,)], ["node"])
        )
        last = it.fixpoint(step, start, max_iter=max_hops).df
        return it.result(
            visit(last).select("node", F.col("min_hop").cast("bigint").alias("min_hop"))
        )
