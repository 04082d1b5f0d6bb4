"""PageRank — the flagship iterative DataFrame job.

Two variants, mirroring the reference's two in-repo semantics
(SURVEY.md §2.2, §7.3 risk 2):

* :func:`pagerank` — NetworkX-exact tolerance-based variant, the semantics of
  ``apps/pagerank/pagerank_networkx.h:54-163`` in the reference: init
  ``p = 1/N`` (:62), contribution ``rank/out_weight`` (:111), base
  ``(1-α)/N + α·dangling_sum/N`` (:117), update ``r = α·Σ_in + base``
  (:118-132), dangling mass from out-degree-0 vertices (:82-85,159), stop when
  ``Σ|Δ| < tol·N`` (:135-148). ``N`` counts *all* vertices from the vertex
  table, not just edge endpoints (:58 ``GetTotalVerticesNum``).
* :func:`pagerank_ldbc` — fixed-round LDBC Graphalytics variant
  (``grape::PageRank``, run_app.h:342-358): identical update rule, exactly
  ``rounds`` iterations, no convergence test.

Execution plan (per superstep, steady state):

    contribs = links ⋈ ranks        -- zero-shuffle: links persisted
                                    --   hash(src, P); ranks arrive already
                                    --   hash(id, P) from the previous round
    msgs     = contribs.groupBy(dst).sum   -- THE shuffle (== MPI exchange);
                                    -- map-side partial agg combines per task
    ranks'   = ranks ⋈ msgs (left)  -- zero-shuffle: both hash-partitioned
    eps, ds  = ranks'.agg(...)      -- driver all-reduce
                                    --   (== grape::Communicator::Sum,
                                    --    pagerank_networkx.h:85,146)

so each superstep moves exactly one message-table's worth of data — the same
communication volume as grape's MPI all-to-all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from graphscope_spark.engine.superstep import SuperstepResult, run_supersteps
from graphscope_spark.graph.graph import Graph

__all__ = ["pagerank", "pagerank_ldbc", "pagerank_push"]


def pagerank_push(
    graph: Graph,
    damping: float = 0.85,
    rounds: int = 10,
    tol: float = 0.0,
    weight_col: str | None = None,
) -> DataFrame:
    """Push/delta PageRank (reference python surface app/pagerank.py:65-86
    ``pagerank_push``): algebraically identical to :func:`pagerank_ldbc`,
    but each round only the CHANGED vertices (δ ≠ 0) push messages —
    m_k = m_{k-1} + Σ share·δ_{k-1}, r_k = α·m_k + base_k. On converging
    graphs the frontier (and the shuffle volume) shrinks toward zero while
    the full-recompute variant keeps shipping |E| messages every round.

    ``tol > 0`` additionally stops when Σ|δ| < tol·N.
    """
    P = graph.num_partitions
    n = graph.num_vertices
    alpha = damping

    w = F.col(weight_col).cast("double") if weight_col else F.lit(1.0)
    ew = graph.edges.select("src", "dst", w.alias("w"))
    # persisted once — reused by init and the dangling probe; the state
    # carries wdeg so the push gather reads the graph's one persisted edge
    # table directly (no separate share-table copy in memory).
    out_w = ew.groupBy("src").agg(F.sum("w").alias("wdeg")).persist(
        StorageLevel.MEMORY_AND_DISK
    )

    def init() -> DataFrame:
        # round 0: r = 1/n, m = 0, δ = r (everything is "changed")
        return (
            graph.vertices.select("id")
            .join(
                out_w.withColumnRenamed("src", "id").hint("shuffle_hash"),
                "id",
                "left",
            )
            .select(
                "id",
                F.lit(1.0 / n).alias("rank"),
                F.lit(0.0).alias("msum"),
                F.lit(1.0 / n).alias("delta"),
                "wdeg",
                F.col("wdeg").isNull().alias("dangling"),
            )
            .repartition(P, "id")
        )

    ds_cell: list[float | None] = [None]

    def body(state: DataFrame, rnd: int):
        if ds_cell[0] is None:
            ds_cell[0] = (
                state.filter("dangling").agg(F.sum("rank")).collect()[0][0] or 0.0
            )
        base = alpha * ds_cell[0] / n + (1.0 - alpha) / n

        frontier = state.filter(F.col("delta") != 0.0).select(
            "id", "delta", "wdeg"
        )
        msgs = (
            ew.join(frontier.hint("shuffle_hash"), ew.src == frontier.id)
            .select("dst", (F.col("w") * F.col("delta") / F.col("wdeg")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("dm"))
        )
        new_msum = F.col("msum") + F.coalesce(F.col("dm"), F.lit(0.0))
        new_rank = F.lit(alpha) * new_msum + F.lit(base)
        plan = state.join(
            msgs.hint("shuffle_hash"), state.id == msgs.dst, "left"
        ).select(
            state.id.alias("id"),
            new_rank.alias("rank"),
            new_msum.alias("msum"),
            (new_rank - F.col("rank")).alias("delta"),
            "wdeg",
            "dangling",
        )

        def finalize(st: DataFrame) -> dict:
            row = st.agg(
                F.sum(F.abs(F.col("delta"))).alias("eps"),
                F.sum(
                    F.when(F.col("dangling"), F.col("rank")).otherwise(0.0)
                ).alias("ds"),
                F.count(F.when(F.col("delta") != 0.0, 1)).alias("active"),
            ).collect()[0]
            ds_cell[0] = row["ds"] or 0.0
            eps = row["eps"] or 0.0
            return {
                "converged": tol > 0 and eps < n * tol,
                "eps": eps,
                "active": row["active"],
            }

        return plan, finalize

    try:
        res = run_supersteps(init, body, max_rounds=rounds)
    finally:
        out_w.unpersist()
    return res.state.select("id", F.col("rank").alias("pagerank"))


def pagerank(
    graph: Graph,
    alpha: float = 0.85,
    max_iter: int = 100,
    tol: float = 1e-6,
    weight_col: str | None = None,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 5,
    resume: bool = True,
    return_result: bool = False,
    init_ranks: DataFrame | None = None,
) -> DataFrame | SuperstepResult:
    """NetworkX-exact PageRank. Returns ``(id, pagerank)``; scores sum to 1.

    ``init_ranks`` — optional warm-start vector ``(id, pagerank)`` (e.g. the
    converged scores of a previous run before a graph delta, NetworkX's
    ``nstart``). The teleport fixpoint is unique, so any start converges to
    the same scores; a warm start near the fixpoint just needs fewer rounds
    (the Ingress accumulative-kernel shape — see engine/ingress.py).
    """
    res = _pagerank_loop(
        graph,
        alpha=alpha,
        max_iter=max_iter,
        tol=tol,
        weight_col=weight_col,
        checkpoint_dir=checkpoint_dir,
        checkpoint_every=checkpoint_every,
        resume=resume,
        init_ranks=init_ranks,
    )
    if return_result:
        return res
    return res.state.select("id", F.col("rank").alias("pagerank"))


def pagerank_ldbc(
    graph: Graph,
    damping: float = 0.85,
    rounds: int = 10,
    weight_col: str | None = None,
) -> DataFrame:
    """Fixed-round LDBC/grape PageRank (no convergence test)."""
    res = _pagerank_loop(
        graph,
        alpha=damping,
        max_iter=rounds,
        tol=0.0,
        weight_col=weight_col,
        checkpoint_dir=None,
        checkpoint_every=0,
        resume=False,
    )
    return res.state.select("id", F.col("rank").alias("pagerank"))


def _pagerank_loop(
    graph: Graph,
    alpha: float,
    max_iter: int,
    tol: float,
    weight_col: str | None,
    checkpoint_dir: str | None,
    checkpoint_every: int,
    resume: bool,
    init_ranks: DataFrame | None = None,
) -> SuperstepResult:
    P = graph.num_partitions
    n = graph.num_vertices

    w = F.col(weight_col).cast("double") if weight_col else F.lit(1.0)
    ew = graph.edges.select("src", "dst", w.alias("w"))
    # Degree table: persisted + materialized ONCE — the dangling probe and
    # init both read it, and each recompute would be a full edge-table
    # aggregation (guide §1.2: don't compute things twice).
    out_w = ew.groupBy("src").agg(F.sum("w").alias("wdeg")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    n_out = out_w.count()

    def init() -> DataFrame:
        # dangling flag is part of the state so a resumed run needs no
        # side-table (north rule: resumable from checkpoint alone).
        if init_ranks is not None:
            # warm start: previous scores where known, 1/n for new vertices,
            # normalized to a distribution (NetworkX nstart semantics)
            prev = init_ranks.select(
                F.col("id").cast("long").alias("id"),
                F.col(init_ranks.columns[-1]).cast("double").alias("_prev"),
            )
            raw = (
                graph.vertices.select("id")
                .join(prev, "id", "left")
                .select(
                    "id", F.coalesce(F.col("_prev"), F.lit(1.0 / n)).alias("r")
                )
            )
            tot = raw.agg(F.sum("r").alias("_s"))
            start = raw.crossJoin(F.broadcast(tot)).select(
                "id", (F.col("r") / F.col("_s")).alias("rank")
            )
        else:
            start = graph.vertices.select(
                "id", F.lit(1.0 / n).alias("rank")
            )
        return (
            start
            .join(
                out_w.withColumnRenamed("src", "id").hint("shuffle_hash"),
                "id",
                "left",
            )
            .select(
                "id",
                "rank",
                "wdeg",
                F.col("wdeg").isNull().alias("dangling"),
            )
            .repartition(P, "id")
        )

    # Driver-carried scalar (grape all-reduce result). None → recompute from
    # state, which happens on the first round and after a resume.
    ds_cell: list[float | None] = [None]
    # If the graph has no dangling vertices AND no convergence test is
    # requested (fixed-round LDBC mode), the per-round all-reduce is pure
    # overhead — skip it entirely.
    # Graph contract: vertices ⊇ edge endpoints, so a dangling vertex exists
    # iff fewer vertices have out-edges than exist — no join needed (the old
    # anti-join probe recomputed the degree aggregation a second time).
    has_dangling = n_out < n
    skip_reduce = (not has_dangling) and tol <= 0

    def body(state: DataFrame, rnd: int) -> tuple[DataFrame, dict]:
        if skip_reduce:
            ds_cell[0] = 0.0
        elif ds_cell[0] is None:
            ds_cell[0] = (
                state.filter("dangling").agg(F.sum("rank")).collect()[0][0] or 0.0
            )
        ds = ds_cell[0]
        base = alpha * ds / n + (1.0 - alpha) / n

        # share computed in-flight from the state's wdeg: the gather reads
        # the graph's ONE persisted edge table directly (no separate
        # share-table build or second edge copy in memory); dangling
        # vertices have null wdeg but also no out-edges, so they never
        # match this join.
        msgs = (
            ew.join(
                state.select("id", "rank", "wdeg").hint("shuffle_hash"),
                ew.src == F.col("id"),
            )
            .select(
                F.col("dst"),
                (F.col("w") * F.col("rank") / F.col("wdeg")).alias("contrib"),
            )
            .groupBy("dst")
            .agg(F.sum("contrib").alias("msg"))
        )

        new_rank = alpha * F.coalesce(F.col("msg"), F.lit(0.0)) + F.lit(base)
        cols = [state.id.alias("id"), new_rank.alias("rank"), "wdeg", "dangling"]
        if tol > 0:
            # the convergence test is the only consumer of delta — in
            # fixed-round mode leaving it out slims every per-round
            # state materialization by one double column
            cols.append(F.abs(new_rank - state.rank).alias("delta"))
        plan = state.join(
            msgs.hint("shuffle_hash"), state.id == msgs.dst, "left"
        ).select(*cols)

        def finalize(st: DataFrame) -> dict:
            if skip_reduce:
                return {"converged": False, "eps": None, "dangling_sum": 0.0}
            # one scalar all-reduce per round: eps for the stop test AND the
            # next round's dangling mass (grape::Communicator::Sum analog)
            aggs = [
                F.sum(
                    F.when(F.col("dangling"), F.col("rank")).otherwise(0.0)
                ).alias("ds")
            ]
            if tol > 0:
                aggs.append(F.sum("delta").alias("eps"))
            row = st.agg(*aggs).collect()[0]
            eps = (row["eps"] or 0.0) if tol > 0 else None
            ds_cell[0] = row["ds"] or 0.0
            return {
                "converged": tol > 0 and eps < n * tol,
                "eps": eps,
                "dangling_sum": ds_cell[0],
            }

        return plan, finalize

    try:
        return run_supersteps(
            init,
            body,
            max_rounds=max_iter,
            checkpoint_dir=checkpoint_dir,
            checkpoint_every=checkpoint_every or 5,
            resume=resume,
        )
    finally:
        out_w.unpersist()
