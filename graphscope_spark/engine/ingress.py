"""Ingress-style incremental recomputation for monotone kernels.

Reference: ``docs/analytical_engine/ingress.md`` — GraphScope's Ingress
engine re-runs an iterative app on a *delta* of the input instead of from
scratch, exploiting that for monotone kernels (wcc / sssp / bfs under edge
ADDITION) the converged state remains a valid lower/upper bound: adding
edges can only merge components, shorten distances, or shallow depths, so
resuming the fixpoint with the new edges' endpoints as the frontier reaches
exactly the full-recompute answer in rounds proportional to how far the
delta's effect propagates.

Each function takes the BASE graph, the new edge rows, and the converged
base output (the kernel's own result schema) and returns the same schema
the full kernel would produce on ``graph.add_edges(new_edges)`` —
bit-for-bit (see tests/test_ingress.py).

Deletions are NOT monotone (a removed edge can invalidate arbitrarily much
of the converged state); the reference handles that case with full
recomputation. Here two deletion kernels ARE supported without
monotonicity, each bounded by the damage, not the graph:
:func:`wcc_delta_delete` (a deleted edge can only split its own component
→ recompute just the touched components' induced subgraphs) and
:func:`sssp_delta_delete` (classic invalidate-and-repair: only the forward
tight-DAG cone of a deleted shortest-path edge can be wrong → reset the
cone, re-relax from its outside boundary). pagerank deletions remain
full-recompute (every score depends on every edge).

BFS depth is unit-weight SSSP distance (-1 ↔ +inf), so :func:`bfs_delta`
and :func:`bfs_delta_delete` are thin wrappers over :func:`sssp_delta` and
:func:`sssp_delta_delete` that convert depths at the boundary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphscope_spark.graph.graph import Graph
from graphscope_spark.engine.tuning import tuned_loop

__all__ = [
    "wcc_delta",
    "wcc_delta_delete",
    "sssp_delta_delete",
    "bfs_delta_delete",
    "sssp_delta",
    "bfs_delta",
    "pagerank_delta",
]


def _endpoints(new_edges: DataFrame, side: str | None = None) -> DataFrame:
    if side == "src":
        e = new_edges.select(F.col("src").cast("long").alias("id"))
    else:
        e = new_edges.select(F.col("src").cast("long").alias("id")).unionByName(
            new_edges.select(F.col("dst").cast("long").alias("id"))
        )
    return e.distinct().withColumn("_touched", F.lit(True))


def wcc_delta(
    graph: Graph,
    new_edges: DataFrame,
    prev_components: DataFrame,
    max_iter: int = 200,
    mode: str = "dataframe",
) -> DataFrame:
    """``(id, component)`` over ``graph.add_edges(new_edges)``, resumed from
    the converged base labeling ``prev_components`` (id, component).

    Seeds: every delta-edge endpoint (labels may merge across the new edge)
    plus vertices the delta introduced (labeled with their own id)."""
    from graphscope_spark.algorithms.wcc import wcc

    g2 = graph.add_edges(new_edges)
    prev = prev_components.select(
        "id", F.col("component").cast("long").alias("label")
    )
    state = (
        g2.vertices.select("id")
        .join(prev, "id", "left")
        .join(_endpoints(new_edges), "id", "left")
        .select(
            "id",
            F.coalesce("label", F.col("id")).alias("label"),
            (F.col("_touched").isNotNull() | F.col("label").isNull()).alias(
                "changed"
            ),
        )
    )
    return wcc(g2, max_iter=max_iter, mode=mode, warm_start=state)


@tuned_loop
def wcc_delta_delete(
    graph: Graph,
    del_edges: DataFrame,
    prev_components: DataFrame,
    max_iter: int = 200,
    mode: str = "dataframe",
) -> DataFrame:
    """``(id, component)`` over ``graph.remove_edges(del_edges)`` — the
    deletion side of Ingress WCC maintenance (reference:
    docs/analytical_engine/ingress.md; the reference recomputes in full).

    A deleted edge can only SPLIT the component that contained it, never
    affect any other, so: (1) mark the components touched by any deleted
    edge's endpoint, (2) re-run WCC on just their induced subgraph (every
    surviving edge stays inside its original component, so filtering edges
    by the src endpoint's old label is exact), (3) keep every untouched
    vertex's label as-is. Labels are the component-minimum vertex id in
    both the full and the induced run, so the union is bit-for-bit the
    full-recompute answer.

    Scale shape: two broadcast-size semi-joins against the (usually tiny)
    affected-component list + one WCC over the affected subgraph; cost is
    proportional to the affected components, not the graph.
    """
    from graphscope_spark.algorithms.wcc import wcc

    g2 = graph.remove_edges(del_edges)
    prev = prev_components.select(
        "id", F.col("component").cast("long").alias("component")
    )
    touched = (
        _endpoints(del_edges)
        .join(prev, "id")
        .select("component")
        .distinct()
    )
    kept = prev.join(touched, "component", "left_anti").select(
        "id", "component"
    )
    sub_vertices = prev.join(touched, "component", "left_semi").select("id")
    src_comp = prev.withColumnRenamed("id", "src")
    sub_edges = (
        g2.edges.select("src", "dst")
        .join(src_comp, "src")
        .join(touched, "component", "left_semi")
        .select("src", "dst")
    )
    sub = Graph(
        sub_edges,
        vertices=sub_vertices,
        num_partitions=graph.num_partitions,
        directed=graph.directed,
    )
    redone = wcc(sub, max_iter=max_iter, mode=mode)
    return kept.unionByName(redone.select("id", "component"))


def sssp_delta(
    graph: Graph,
    new_edges: DataFrame,
    prev_distances: DataFrame,
    source: int,
    weight_col: str | None = "weight",
    max_iter: int = 10_000,
) -> DataFrame:
    """``(id, distance)`` over the edge-augmented graph, resumed from the
    converged base distances (id, distance; null = unreachable).

    Only a delta edge's SOURCE endpoint can start an improvement (relaxation
    flows src→dst), so those are the frontier; anything they improve joins
    the frontier through the normal superstep loop."""
    from graphscope_spark.algorithms.traversal import sssp

    g2 = graph.add_edges(new_edges)
    prev = prev_distances.select(
        "id", F.col("distance").cast("double").alias("pdist")
    )
    state = (
        g2.vertices.select("id")
        .join(prev, "id", "left")
        .join(_endpoints(new_edges, side="src"), "id", "left")
        .select(
            "id",
            F.coalesce(
                "pdist",
                F.when(F.col("id") == source, 0.0).otherwise(float("inf")),
            ).alias("dist"),
            F.col("_touched").isNotNull().alias("changed"),
        )
    )
    return sssp(
        g2, source, weight_col=weight_col, max_iter=max_iter, warm_start=state
    )


@tuned_loop
def sssp_delta_delete(
    graph: Graph,
    del_edges: DataFrame,
    prev_distances: DataFrame,
    source: int,
    weight_col: str | None = "weight",
    max_cone_iter: int = 200,
    max_iter: int = 10_000,
) -> DataFrame:
    """``(id, distance)`` over ``graph.remove_edges(del_edges)`` — the
    deletion side of Ingress SSSP maintenance (the reference recomputes in
    full; this is the classic dynamic-SSSP invalidate-and-repair).

    A vertex's distance can only be wrong if SOME shortest path to it used
    a deleted edge. Every such vertex lies in the forward closure of the
    deleted edges' heads over TIGHT edges (``dist[y] == dist[x] + w`` —
    the shortest-path DAG), so: (1) seed with deleted edges that were
    tight, (2) close forward over the post-deletion tight DAG (the "cone"
    — conservative: it may include vertices with surviving shortest paths;
    they are recomputed to the same value), (3) reset cone distances to
    +inf and re-relax with the cone's outside-boundary predecessors as the
    warm-start frontier — every distance outside the cone is still exact,
    so repair cost is proportional to the cone, not the graph.

    The cone closure is a driver loop of semi-joins (rounds = cone depth,
    one count() all-reduce per round, same shape as the engine's frontier
    loops); the repair is the standard warm-started Bellman-Ford.
    """
    from graphscope_spark.algorithms.traversal import _weight, sssp

    g2 = graph.remove_edges(del_edges)
    w = _weight(graph, weight_col)
    dist = prev_distances.select(
        "id", F.col("distance").cast("double").alias("d")
    ).where(F.col("d").isNotNull())

    dels = graph.edges.select("src", "dst", w.alias("w")).join(
        del_edges.select("src", "dst").distinct(), ["src", "dst"], "left_semi"
    )
    dsrc = dist.withColumnRenamed("id", "src").withColumnRenamed("d", "ds")
    ddst = dist.withColumnRenamed("id", "dst").withColumnRenamed("d", "dd")
    cone = (
        dels.join(dsrc, "src")
        .join(ddst, "dst")
        .where(F.col("dd") == F.col("ds") + F.col("w"))
        .select(F.col("dst").alias("id"))
        # the source's distance 0 can never be invalidated by a deletion,
        # but a deleted ZERO-WEIGHT tight edge into the source would put it
        # in the cone, reset it to +inf and corrupt the whole repair
        .where(F.col("id") != source)
        .distinct()
        .localCheckpoint()
    )
    if cone.limit(1).count() == 0:
        return prev_distances.select("id", "distance")

    tight = (
        g2.edges.select("src", "dst", w.alias("w"))
        .join(dsrc, "src")
        .join(ddst, "dst")
        .where(F.col("dd") == F.col("ds") + F.col("w"))
        .select("src", "dst")
        .localCheckpoint()
    )
    frontier = cone
    closed = False
    for _ in range(max_cone_iter):
        nxt = (
            tight.join(frontier.withColumnRenamed("id", "src"), "src")
            .select(F.col("dst").alias("id"))
            .where(F.col("id") != source)
            .distinct()
            .join(cone, "id", "left_anti")
            .localCheckpoint()
        )
        if nxt.limit(1).count() == 0:
            closed = True
            break
        cone = cone.unionByName(nxt).localCheckpoint()
        frontier = nxt
    if not closed:
        # cone deeper than max_cone_iter: stale vertices outside it would
        # keep silently-wrong distances — fall back to the slow-but-correct
        # cold recompute instead of returning a partial repair
        return sssp(g2, source, weight_col=weight_col, max_iter=max_iter)

    in_cone = cone.withColumn("_c", F.lit(True))
    boundary = (
        g2.edges.select("src", "dst")
        .join(cone.withColumnRenamed("id", "dst"), "dst", "left_semi")
        .select(F.col("src").alias("id"))
        .distinct()
        .join(cone, "id", "left_anti")
        .withColumn("_b", F.lit(True))
    )
    state = (
        g2.vertices.select("id")
        .join(dist, "id", "left")
        .join(in_cone, "id", "left")
        .join(boundary, "id", "left")
        .select(
            "id",
            F.when(F.col("_c").isNotNull(), float("inf"))
            .otherwise(F.coalesce("d", F.lit(float("inf"))))
            .alias("dist"),
            F.col("_b").isNotNull().alias("changed"),
        )
    )
    return sssp(
        g2, source, weight_col=weight_col, max_iter=max_iter, warm_start=state
    )


def bfs_delta(
    graph: Graph,
    new_edges: DataFrame,
    prev_depths: DataFrame,
    source: int,
    max_depth: int = 10_000,
) -> DataFrame:
    """``(id, depth)`` over the edge-augmented graph, resumed from the
    converged base depths (id, depth; -1 = unreachable) — unit-weight
    :func:`sssp_delta`."""
    from graphscope_spark.algorithms.traversal import _depth, _distance

    prev = prev_depths.select("id", _distance(F.col("depth")).alias("distance"))
    out = sssp_delta(
        graph, new_edges, prev, source, weight_col=None, max_iter=max_depth
    )
    return out.select("id", _depth(F.col("distance")).alias("depth"))


def bfs_delta_delete(
    graph: Graph,
    del_edges: DataFrame,
    prev_depths: DataFrame,
    source: int,
    max_cone_iter: int = 200,
    max_depth: int = 10_000,
) -> DataFrame:
    """``(id, depth)`` over ``graph.remove_edges(del_edges)`` — unit-weight
    :func:`sssp_delta_delete`: tight edges are ``depth[y] == depth[x] + 1``,
    the stale cone is reset to −1 (bfs_generic.h's unreached) and
    re-expanded from its outside boundary."""
    from graphscope_spark.algorithms.traversal import _depth, _distance

    prev = prev_depths.select("id", _distance(F.col("depth")).alias("distance"))
    out = sssp_delta_delete(
        graph, del_edges, prev, source, weight_col=None,
        max_cone_iter=max_cone_iter, max_iter=max_depth,
    )
    return out.select("id", _depth(F.col("distance")).alias("depth"))


def pagerank_delta(
    graph: Graph,
    new_edges: DataFrame,
    prev_scores: DataFrame,
    alpha: float = 0.85,
    tol: float = 1e-6,
    max_iter: int = 100,
) -> DataFrame:
    """``(id, pagerank)`` over ``graph.add_edges(new_edges)``, warm-started
    from the converged base scores ``prev_scores`` (id, pagerank).

    PageRank is Ingress's *accumulative* category, not monotone: an added
    edge redistributes mass, so the converged vector is not a bound — but
    the teleport fixpoint is a contraction with a unique solution, so
    restarting the power iteration FROM the old vector (new vertices at
    1/n, renormalized) converges to the full-recompute answer in rounds
    proportional to how far the delta moved the fixpoint, not to the cold
    mixing time. Deletions work through the same call (pass the already
    mutated graph a no-op delta) since the start vector never affects the
    fixpoint, only the round count."""
    from graphscope_spark.algorithms.pagerank import pagerank

    g2 = graph.add_edges(new_edges)
    return pagerank(
        g2, alpha=alpha, tol=tol, max_iter=max_iter, init_ranks=prev_scores
    )
