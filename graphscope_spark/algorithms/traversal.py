"""SSSP and BFS — frontier-relaxation supersteps.

* :func:`sssp` — single-source shortest paths, the semantics of
  ``grape::SSSPOpt`` (reference run_app.h:211-219; PIE walkthrough
  docs/analytical_engine/programming_model_pie.md:40-95): distributed
  Bellman-Ford with a frontier — only vertices whose distance improved relax
  their out-edges next round; fixpoint when the frontier empties.
  Unreachable vertices keep +inf (reported as null in the result).
* :func:`bfs` — depth from source (apps/bfs/bfs_generic.h, depth output);
  unreachable = -1. It is unit-weight :func:`sssp` with -1 ↔ +inf converted
  at the boundary; it has no superstep body of its own.

:func:`sssp` runs the plan+finalize superstep protocol (one localCheckpoint per
round) over the Graph's persisted ``repartition(P, "src")`` edge layout, so
the frontier⋈edges probe shuffles only the (small) frontier; ``shuffle_hash``
hints on both the probe and the state update keep Catalyst from broadcasting
the full-state side (the measured serialization landmine).
"""

from __future__ import annotations

from dataclasses import replace

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from graphscope_spark.engine.superstep import SuperstepResult, run_supersteps
from graphscope_spark.graph.graph import Graph

__all__ = ["sssp", "bfs", "sssp_delta_stepping"]


def _weight(graph: Graph, weight_col: str | None):
    """Edge weight as double; unit weight when the column is absent."""
    if weight_col and weight_col in graph.edges.columns:
        return F.col(weight_col).cast("double")
    return F.lit(1.0)


def sssp(
    graph: Graph,
    source: int,
    weight_col: str | None = "weight",
    max_iter: int = 10_000,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 10,
    resume: bool = True,
    return_result: bool = False,
    warm_start: DataFrame | None = None,
) -> DataFrame | SuperstepResult:
    """Returns ``(id, distance)``; unreachable → null. ``warm_start``
    seeds iteration from a prior state ``(id, dist, changed)`` — the
    Ingress delta-recompute entry (engine/ingress.sssp_delta)."""
    P = graph.num_partitions
    edges = graph.edges.select("src", "dst", _weight(graph, weight_col).alias("w"))

    def init() -> DataFrame:
        if warm_start is not None:
            return warm_start.select("id", "dist", "changed").repartition(P, "id")
        return graph.vertices.select(
            "id",
            F.when(F.col("id") == source, 0.0).otherwise(float("inf")).alias("dist"),
            (F.col("id") == source).alias("changed"),
        ).repartition(P, "id")

    def body(state: DataFrame, rnd: int) -> tuple[DataFrame, dict]:
        frontier = state.filter("changed").select("id", "dist")
        relax = (
            edges.join(frontier.hint("shuffle_hash"), edges.src == frontier.id)
            .groupBy("dst")
            .agg(F.min(F.col("dist") + F.col("w")).alias("cand"))
        )
        better = F.col("cand").isNotNull() & (F.col("cand") < F.col("dist"))
        plan = state.join(
            relax.hint("shuffle_hash"), state.id == relax.dst, "left"
        ).select(
            state.id.alias("id"),
            F.when(better, F.col("cand")).otherwise(F.col("dist")).alias("dist"),
            better.alias("changed"),
        )

        def finalize(st: DataFrame) -> dict:
            active = st.filter("changed").count()
            return {"converged": active == 0, "active": active}

        return plan, finalize

    res = run_supersteps(
        init, body, max_rounds=max_iter, checkpoint_dir=checkpoint_dir,
        checkpoint_every=checkpoint_every, resume=resume,
    )
    if return_result:
        return res
    return res.state.select(
        "id",
        F.when(F.col("dist") != float("inf"), F.col("dist")).alias("distance"),
    )


def sssp_delta_stepping(
    graph: Graph,
    source: int,
    delta: float | None = None,
    weight_col: str | None = "weight",
    max_iter: int = 10_000,
    return_result: bool = False,
) -> DataFrame | SuperstepResult:
    """Delta-stepping SSSP — the reference's
    ``apps/flash/traversal/sssp-dlt-step.h`` (Meyer & Sanders' published
    Δ-stepping): vertices settle in distance-bucket order; LIGHT edges
    (w ≤ Δ) relax repeatedly inside the active bucket, HEAVY edges (w > Δ)
    relax exactly once when the bucket completes.

    Same ``(id, distance)`` fixpoint as :func:`sssp`, bit-for-bit. The
    trade vs the Bellman-Ford frontier is NOT round count — both advance
    one hop per barrier and Δ-stepping adds bucket serialization — it is
    bounded re-relaxation: a vertex's heavy out-edges ship through the
    shuffle once instead of once per distance improvement, which is the
    shuffle-volume win at cluster scale (history records ``changed`` per
    round for the comparison; see tests/test_delta_stepping.py).

    ``delta=None`` uses the mean edge weight (the common heuristic; Δ→∞
    degrades to Bellman-Ford, Δ→0 to Dijkstra's settled order).
    """
    P = graph.num_partitions
    w = _weight(graph, weight_col)
    edges = (
        graph.edges.select("src", "dst", w.alias("w"))
        .repartition(P, "src")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    if delta is None:
        row = edges.agg(F.avg("w").alias("aw")).first()
        delta = float(row["aw"] or 1.0)
    light = edges.filter(F.col("w") <= delta)
    heavy = edges.filter(F.col("w") > delta)

    # driver-side phase machine (the reference's GetMin + light/heavy loop);
    # finalize() advances it after each materialized round
    ctl = {"bucket": 0, "phase": "light", "entering": True}

    def init() -> DataFrame:
        return graph.vertices.select(
            "id",
            F.when(F.col("id") == source, 0.0).otherwise(float("inf")).alias("dist"),
            F.lit(False).alias("settled"),
            (F.col("id") == source).alias("changed"),
        ).repartition(P, "id")

    def body(state: DataFrame, rnd: int) -> tuple[DataFrame, dict]:
        b_hi = (ctl["bucket"] + 1) * delta
        in_bucket = ~F.col("settled") & (F.col("dist") < b_hi)
        if ctl["phase"] == "light":
            gate = in_bucket if ctl["entering"] else in_bucket & F.col("changed")
            frontier = state.filter(gate).select("id", "dist")
            relax = (
                light.join(frontier.hint("shuffle_hash"), light.src == frontier.id)
                .groupBy("dst")
                .agg(F.min(F.col("dist") + F.col("w")).alias("cand"))
            )
            better = F.col("cand").isNotNull() & (F.col("cand") < F.col("dist"))
            plan = state.join(
                relax.hint("shuffle_hash"), state.id == relax.dst, "left"
            ).select(
                state.id.alias("id"),
                F.when(better, F.col("cand")).otherwise(F.col("dist")).alias("dist"),
                "settled",
                better.alias("changed"),
            )

            def finalize(st: DataFrame) -> dict:
                row = st.agg(
                    F.sum(
                        F.when(
                            F.col("changed")
                            & ~F.col("settled")
                            & (F.col("dist") < b_hi),
                            1,
                        ).otherwise(0)
                    ).alias("in_bucket_changed"),
                    F.sum(F.when(F.col("changed"), 1).otherwise(0)).alias("changed"),
                ).first()
                ctl["entering"] = False
                if not row["in_bucket_changed"]:
                    ctl["phase"] = "heavy"
                return {
                    "converged": False,
                    "phase": "light",
                    "bucket": ctl["bucket"],
                    "active": int(row["changed"] or 0),
                }

            return plan, finalize

        # heavy phase: bucket members are final — relax their heavy
        # out-edges once, mark settled, jump to the next non-empty bucket
        frontier = state.filter(in_bucket).select("id", "dist")
        relax = (
            heavy.join(frontier.hint("shuffle_hash"), heavy.src == frontier.id)
            .groupBy("dst")
            .agg(F.min(F.col("dist") + F.col("w")).alias("cand"))
        )
        better = F.col("cand").isNotNull() & (F.col("cand") < F.col("dist"))
        plan = state.join(
            relax.hint("shuffle_hash"), state.id == relax.dst, "left"
        ).select(
            state.id.alias("id"),
            F.when(better, F.col("cand")).otherwise(F.col("dist")).alias("dist"),
            (F.col("settled") | (~F.col("settled") & (F.col("dist") < b_hi))).alias(
                "settled"
            ),
            better.alias("changed"),
        )

        def finalize(st: DataFrame) -> dict:
            row = st.agg(
                F.min(F.when(~F.col("settled"), F.col("dist"))).alias("lo"),
                F.sum(F.when(F.col("changed"), 1).otherwise(0)).alias("changed"),
            ).first()
            lo = row["lo"]
            done = lo is None or lo == float("inf")
            if not done:
                ctl["bucket"] = int(lo // delta)
                ctl["phase"] = "light"
                ctl["entering"] = True
            return {
                "converged": done,
                "phase": "heavy",
                "bucket": ctl["bucket"],
                "active": int(row["changed"] or 0),
            }

        return plan, finalize

    try:
        res = run_supersteps(init, body, max_rounds=max_iter)
    finally:
        edges.unpersist()
    if return_result:
        return res
    return res.state.select(
        "id",
        F.when(F.col("dist") != float("inf"), F.col("dist")).alias("distance"),
    )


def bfs(
    graph: Graph,
    source: int,
    max_depth: int = 10_000,
    return_result: bool = False,
    warm_start: DataFrame | None = None,
) -> DataFrame | SuperstepResult:
    """Returns ``(id, depth)``; unreachable → -1 (bfs_generic.h default).
    Unit-weight :func:`sssp` (a ``weight`` column is ignored); ``warm_start``
    and the ``return_result`` state are ``(id, depth, changed)``."""
    if warm_start is not None:
        warm_start = warm_start.select(
            "id",
            F.coalesce(_distance(F.col("depth")), F.lit(float("inf"))).alias("dist"),
            "changed",
        )
    res = sssp(
        graph, source, weight_col=None, max_iter=max_depth,
        return_result=True, warm_start=warm_start,
    )
    depth = _depth(F.col("dist")).alias("depth")
    if return_result:
        return replace(res, state=res.state.select("id", depth, "changed"))
    return res.state.select("id", depth)


def _distance(depth):
    """BFS depth → unit-weight SSSP distance; -1 (unreached) → null."""
    return F.when(depth >= 0, depth.cast("double"))


def _depth(dist):
    """Unit-weight SSSP distance → BFS depth (int); null or +inf → -1."""
    return F.when(dist < float("inf"), dist.cast("int")).otherwise(-1)


def random_multi_bfs(
    graph: Graph,
    k: int = 4,
    seed: int = 7,
    max_depth: int = 10_000,
) -> DataFrame:
    """Random multi-source BFS (flash/traversal/random-multi-bfs.h): ``k``
    seeded pseudo-random roots advanced in lock-step, one shuffle per
    level — the composite-state batch of engine/multisource.py.

    Roots are the deterministic congruential pick ``(seed + i·⌊n/k⌋) % n``
    over the DENSE vertex-id space — the seeded-reproducible equivalent of
    the reference's ``rand() % n`` root choice (its FLASH runtime also
    draws vertex INDICES), so every run (and the DuckDB oracle twin) sees
    the same roots. Raises when a picked id is not a vertex (sparse id
    spaces: densify first via the loader's dense-GID path).

    Returns (source, id, depth) for every reachable pair.
    """
    from graphscope_spark.engine.multisource import multi_source_bfs

    n = graph.num_vertices
    if k < 1 or k > n:
        raise ValueError(f"k={k} out of range for {n} vertices")
    step = max(1, n // k)
    roots = sorted({(seed + i * step) % n for i in range(k)})
    present = (
        graph.vertices.filter(F.col("id").isin(roots)).count()
    )
    if present != len(roots):
        raise ValueError(
            f"random_multi_bfs picked {len(roots)} roots but only "
            f"{present} are vertices — the id space is not dense 0..n-1 "
            "(load with dense-GID assignment first)"
        )
    return multi_source_bfs(graph, roots, max_depth=max_depth)
