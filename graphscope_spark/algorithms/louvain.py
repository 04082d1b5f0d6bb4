"""Louvain community detection — synchronous, deterministic, multi-level.

Reference: ``apps/pregel/louvain/*.h`` + python surface
``python/graphscope/analytical/app/louvain.py:31`` (SURVEY §2.2 stretch
goal). The classic sequential Louvain moves one vertex at a time; the
distributed rendering does synchronous rounds with two determinism fixes:

* **parity alternation** — only vertices with ``(xxhash64(id)+round) % 2 == 0``
  may move in a round, which kills the two-vertex swap oscillation the
  synchronous variant is famous for (same device as the reference's pregel
  louvain "minor step" halves);
* **deterministic tie-break** — best community by ``(gain, -community)``
  struct max.

Levels: local moving to a fixpoint, then community contraction (self-loops
keep intra-community weight), repeated until modularity stops improving.
All per-round work is joins + two-key aggregations on the symmetrized edge
table; 2m and per-community totals are broadcast-sized aggregates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from graphscope_spark.graph.graph import Graph
from graphscope_spark.engine.tuning import tuned_loop

__all__ = ["louvain", "modularity"]


def _sym(edges: DataFrame, weight_col: str | None) -> DataFrame:
    w = F.col(weight_col).cast("double") if weight_col else F.lit(1.0)
    base = edges.select("src", "dst", w.alias("w")).filter(F.col("src") != F.col("dst"))
    und = base.groupBy(
        F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
    ).agg(F.max("w").alias("w"))
    return und.selectExpr("a AS src", "b AS dst", "w").unionAll(
        und.selectExpr("b AS src", "a AS dst", "w")
    )


def modularity(sym_edges: DataFrame, assign: DataFrame, self_loops: DataFrame | None = None) -> float:
    """Q over the symmetrized edge rows (each undirected edge twice);
    ``assign`` = (id, c). ``self_loops`` (id, w) carries contracted
    intra-community weight at upper levels (counted once per direction-pair,
    i.e. already doubled)."""
    two_m_row = sym_edges.agg(F.sum("w")).collect()[0][0] or 0.0
    sl_total = 0.0
    if self_loops is not None:
        sl_total = self_loops.agg(F.sum("w")).collect()[0][0] or 0.0
    two_m = two_m_row + sl_total
    if two_m == 0:
        return 0.0
    a = assign
    e = (
        sym_edges.join(a.withColumnRenamed("id", "src").withColumnRenamed("c", "cs"), "src")
        .join(a.select(F.col("id").alias("dst"), F.col("c").alias("cd")), "dst")
    )
    s_in = (
        e.filter(F.col("cs") == F.col("cd")).agg(F.sum("w")).collect()[0][0] or 0.0
    )
    if self_loops is not None:
        s_in += sl_total
    deg = sym_edges.groupBy(F.col("src").alias("id")).agg(F.sum("w").alias("k"))
    if self_loops is not None:
        deg = (
            deg.join(self_loops.withColumnRenamed("w", "sw"), "id", "outer")
            .select(
                "id",
                (F.coalesce("k", F.lit(0.0)) + F.coalesce("sw", F.lit(0.0))).alias("k"),
            )
        )
    tot = (
        deg.join(a, "id")
        .groupBy("c")
        .agg(F.sum("k").alias("t"))
        .agg(F.sum(F.col("t") * F.col("t")))
        .collect()[0][0]
        or 0.0
    )
    return s_in / two_m - tot / (two_m * two_m)


def _local_moving(
    sym: DataFrame, self_loops: DataFrame, max_moves: int, P: int
) -> DataFrame:
    """One level of synchronous local moving; returns (id, c)."""
    deg = sym.groupBy(F.col("src").alias("id")).agg(F.sum("w").alias("k"))
    deg = (
        deg.join(self_loops.withColumnRenamed("w", "sw"), "id", "outer")
        .select("id", (F.coalesce("k", F.lit(0.0)) + F.coalesce("sw", F.lit(0.0))).alias("k"))
        .repartition(P, "id")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    two_m = float(deg.agg(F.sum("k")).collect()[0][0] or 1.0)
    assign = deg.select("id", F.col("id").alias("c")).localCheckpoint(eager=True)

    for rnd in range(max_moves):
        ctot = (
            assign.join(deg, "id").groupBy("c").agg(F.sum("k").alias("tot"))
        )
        # neighbor-community weights per vertex
        nbr = (
            sym.join(assign.select(F.col("id").alias("dst"), F.col("c").alias("cd")), "dst")
            .groupBy(F.col("src").alias("id"), F.col("cd"))
            .agg(F.sum("w").alias("k_in"))
        )
        cur = assign.withColumnRenamed("c", "c_cur")
        cand = (
            nbr.join(cur, "id")
            .join(deg, "id")
            .join(ctot.select(F.col("c").alias("cd"), F.col("tot").alias("tot_cd")), "cd")
            .join(ctot.select(F.col("c").alias("c_cur"), F.col("tot").alias("tot_cur")), "c_cur")
        )
        # gain of joining cd (tot excludes v if already member); baseline =
        # gain of staying in c_cur
        tot_cd_x = F.when(F.col("cd") == F.col("c_cur"), F.col("tot_cd") - F.col("k")).otherwise(F.col("tot_cd"))
        gain = F.col("k_in") - F.col("k") * tot_cd_x / F.lit(two_m)
        stay_gain = F.when(F.col("cd") == F.col("c_cur"), gain).otherwise(F.lit(None))
        per_v = cand.groupBy("id", "c_cur").agg(
            F.max(F.struct(gain.alias("g"), (-F.col("cd")).alias("negc"))).alias("best"),
            F.max(stay_gain).alias("stay"),
        )
        movable = F.pmod(F.xxhash64("id") + F.lit(rnd), F.lit(2)) == 0
        new_c = F.when(
            movable
            & (F.col("best.g") > F.coalesce(F.col("stay"), F.lit(0.0)) + 1e-12),
            -F.col("best.negc"),
        ).otherwise(F.col("c_cur"))
        moved_df = per_v.select(
            "id", new_c.alias("c"), (new_c != F.col("c_cur")).alias("_moved")
        )
        # vertices with no neighbors keep their community
        new_assign = (
            assign.join(moved_df, "id", "left")
            .select(
                assign.id.alias("id"),
                F.coalesce(moved_df.c, assign.c).alias("c"),
                F.coalesce("_moved", F.lit(False)).alias("_moved"),
            )
            .localCheckpoint(eager=True)
        )
        moves = new_assign.filter("_moved").count()
        assign = new_assign.select("id", "c").localCheckpoint(eager=True)
        if moves == 0:
            break
    deg.unpersist()
    return assign


@tuned_loop
def louvain(
    graph: Graph,
    weight_col: str | None = None,
    max_levels: int = 4,
    max_moves: int = 10,
    min_gain: float = 1e-6,
) -> DataFrame:
    """Returns ``(id, community)``; community ids are original vertex ids of
    community representatives at the deepest level."""
    P = graph.num_partitions
    spark = graph.spark
    sym = _sym(graph.edges, weight_col).repartition(P, "src").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    self_loops = spark.createDataFrame([], "id long, w double")
    # mapping from original vertex -> current-level vertex
    mapping = graph.vertices.select("id", F.col("id").alias("v")).localCheckpoint(
        eager=True
    )
    q_prev = modularity(sym, mapping.select(F.col("id"), F.col("v").alias("c")))

    for _level in range(max_levels):
        assign = _local_moving(sym, self_loops, max_moves, P)
        q_new = modularity(sym, assign, self_loops if _level > 0 else None)
        mapping = (
            mapping.join(assign.withColumnRenamed("id", "v"), "v")
            .select("id", F.col("c").alias("v"))
            .localCheckpoint(eager=True)
        )
        if q_new <= q_prev + min_gain:
            break
        q_prev = q_new
        # contract: communities become vertices
        e2 = (
            sym.join(assign.withColumnRenamed("id", "src").withColumnRenamed("c", "cs"), "src")
            .join(assign.select(F.col("id").alias("dst"), F.col("c").alias("cd")), "dst")
            .groupBy(F.col("cs").alias("src"), F.col("cd").alias("dst"))
            .agg(F.sum("w").alias("w"))
        )
        new_self = e2.filter("src = dst").select(F.col("src").alias("id"), "w")
        old_self = (
            self_loops.join(assign, "id")
            .groupBy(F.col("c").alias("id"))
            .agg(F.sum("w").alias("w"))
        )
        self_loops = (
            new_self.unionByName(old_self)
            .groupBy("id")
            .agg(F.sum("w").alias("w"))
            .localCheckpoint(eager=True)
        )
        new_sym = e2.filter("src <> dst").repartition(P, "src").persist(
            StorageLevel.MEMORY_AND_DISK
        )
        new_sym.count()
        sym.unpersist()
        sym = new_sym
    sym.unpersist()
    return mapping.select("id", F.col("v").alias("community"))
