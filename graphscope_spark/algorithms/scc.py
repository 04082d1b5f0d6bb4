"""Strongly connected components — distributed coloring algorithm.

The north rule lists SCC alongside WCC; the reference ships it in the FLASH
suite (``apps/flash/connectivity/scc.h``, SURVEY §2.2 FLASH row). The
classic distributed rendering (Orzan's coloring / FW-BW hybrid):

repeat until every vertex is assigned:
  1. **color** — propagate max vertex id forward along edges (within
     unassigned vertices) to fixpoint: color(v) = max id that reaches v.
  2. **match** — from each color root r (color(r) == r), propagate backward
     along reversed edges *restricted to vertices of the same color*; every
     vertex reached both ways belongs to r's SCC → assign scc = r.
  3. remove assigned vertices, repeat.

Each phase is the same frontier superstep as WCC. Iterations needed =
O(#distinct SCC "layers"); trim of degree-0 vertices is implicit (they
become their own roots immediately).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphscope_spark.graph.graph import Graph
from graphscope_spark.engine.tuning import tuned_loop

__all__ = ["scc"]


def _propagate_max(vertices: DataFrame, edges: DataFrame, max_iter: int) -> DataFrame:
    """color(v) = max vertex id reaching v along ``edges`` (id, color)."""
    state = vertices.select(
        "id", F.col("id").alias("color"), F.lit(True).alias("changed")
    ).localCheckpoint(eager=True)
    for _ in range(max_iter):
        frontier = state.filter("changed").select("id", "color")
        if frontier.isEmpty():
            break
        msgs = (
            edges.join(frontier.withColumnRenamed("id", "src"), "src")
            .groupBy("dst")
            .agg(F.max("color").alias("cand"))
        )
        better = F.col("cand").isNotNull() & (F.col("cand") > F.col("color"))
        state = (
            state.join(msgs, state.id == msgs.dst, "left")
            .select(
                state.id.alias("id"),
                F.when(better, F.col("cand")).otherwise(F.col("color")).alias("color"),
                better.alias("changed"),
            )
            .localCheckpoint(eager=True)
        )
    return state.select("id", "color")


@tuned_loop
def scc(graph: Graph, max_iter: int = 10_000) -> DataFrame:
    """Returns ``(id, component)`` — component = max vertex id in the SCC."""
    spark = graph.spark
    remaining_v = graph.vertices.select("id").localCheckpoint(eager=True)
    remaining_e = graph.edges.select("src", "dst").localCheckpoint(eager=True)
    assigned: DataFrame | None = None

    while not remaining_v.isEmpty():
        # ---- trim: vertices with no in- or no out-edge (in the
        # remaining graph) are singleton SCCs — peel to fixpoint before
        # the expensive color/match rounds (standard FW-BW trim; on
        # graphs dominated by small SCCs this removes most vertices
        # without any propagation fixpoint).
        while True:
            has_in = remaining_e.select(F.col("dst").alias("id")).distinct()
            has_out = remaining_e.select(F.col("src").alias("id")).distinct()
            core = (
                remaining_v.join(has_in, "id", "left_semi")
                .join(has_out, "id", "left_semi")
                .localCheckpoint(eager=True)
            )
            trimmed = remaining_v.join(core, "id", "left_anti")
            part = trimmed.select("id", F.col("id").alias("component"))
            n_trimmed = part.count()
            if n_trimmed == 0:
                break
            assigned = (
                part if assigned is None else assigned.unionByName(part)
            ).localCheckpoint(eager=True)
            remaining_v = core
            remaining_e = (
                remaining_e.join(
                    remaining_v.withColumnRenamed("id", "src"), "src",
                    "left_semi",
                )
                .join(
                    remaining_v.withColumnRenamed("id", "dst"), "dst",
                    "left_semi",
                )
                .select("src", "dst")
                .localCheckpoint(eager=True)
            )
        if remaining_v.isEmpty():
            break
        colors = _propagate_max(remaining_v, remaining_e, max_iter)
        # backward propagation of "matched" from roots within same color
        roots = colors.filter(F.col("id") == F.col("color"))
        rev = remaining_e.select(
            F.col("dst").alias("src"), F.col("src").alias("dst")
        )
        # restrict reversed edges to same-color endpoints
        ce = (
            rev.join(colors.withColumnRenamed("id", "src").withColumnRenamed("color", "cs"), "src")
            .join(colors.select(F.col("id").alias("dst"), F.col("color").alias("cd")), "dst")
            .filter(F.col("cs") == F.col("cd"))
            .select("src", "dst")
            .localCheckpoint(eager=True)
        )
        matched = roots.select("id", "color").localCheckpoint(eager=True)
        frontier = matched
        while True:
            reached = (
                ce.join(frontier.withColumnRenamed("id", "src"), "src")
                .select(F.col("dst").alias("id"), "color")
                .distinct()
                .join(matched.select("id"), "id", "left_anti")
                .localCheckpoint(eager=True)
            )
            if reached.isEmpty():
                break
            matched = matched.unionByName(reached).localCheckpoint(eager=True)
            frontier = reached
        part = matched.select("id", F.col("color").alias("component"))
        assigned = part if assigned is None else assigned.unionByName(part)
        assigned = assigned.localCheckpoint(eager=True)
        remaining_v = remaining_v.join(
            matched.select("id"), "id", "left_anti"
        ).localCheckpoint(eager=True)
        remaining_e = (
            remaining_e.join(
                remaining_v.withColumnRenamed("id", "src"), "src", "left_semi"
            )
            .join(remaining_v.withColumnRenamed("id", "dst"), "dst", "left_semi")
            .select("src", "dst")
            .localCheckpoint(eager=True)
        )
    if assigned is None:
        assigned = spark.createDataFrame([], "id long, component long")
    return assigned
