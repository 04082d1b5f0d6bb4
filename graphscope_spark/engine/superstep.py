"""The superstep driver loop — the Spark rendering of grape's worker loop.

Reference: ``DefaultWorker::Query`` (analytical_engine/core/worker/
default_worker.h:88-135) runs ``PEval`` then ``IncEval`` until
``messages.ToTerminate()``; each round is a BSP superstep whose message
exchange is an MPI all-to-all and whose scalar reductions are
``grape::Communicator::Sum`` all-reduces.

Here: PEval = the algorithm's ``init``; IncEval = its ``body``, a function of
the materialized state DataFrame returning ``(plan, finalize)`` — the next
state's plan, and a function of the materialized next state returning the
round's metrics; the message exchange is the shuffle inside ``plan``;
ToTerminate = the ``converged`` flag in those metrics (computed from a scalar
``agg().collect()`` — the all-reduce). The loop owns the three things Spark
does not do for you (SURVEY.md §4.1):

* **lineage truncation** — every iteration adds plan nodes; without
  truncation analysis/optimization time grows with the round number (measured
  locally: 1s → 27s/round by round 6). Every round's plan is materialized
  once with ``localCheckpoint``, which keeps per-round time flat (~0.5s fixed
  overhead locally) at the cost of one block write per round — at cluster
  scale the write is local to executors and amortized against shuffle
  volume.
* **durable checkpointing** — state + metrics committed to an Iceberg-layout
  table (engine/checkpoint.py) every ``checkpoint_every`` rounds so a run
  resumes mid-iteration.
* **persist/unpersist discipline** — exactly one persisted state at a time.
"""

from __future__ import annotations

import time
from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

from graphscope_spark.engine.checkpoint import CheckpointManager

__all__ = ["SuperstepResult", "run_supersteps"]

# body(state, round_no) -> (next_state_plan, finalize) where
# finalize(materialized_next_state) -> metrics. Metrics must contain
# "converged": bool; anything else (eps, active counts) is recorded.
Body = Callable[
    [DataFrame, int],
    tuple[DataFrame, Callable[[DataFrame], dict[str, Any]]],
]


@dataclass
class SuperstepResult:
    state: DataFrame
    rounds: int
    converged: bool
    history: list[dict[str, Any]] = field(default_factory=list)
    resumed_from: int | None = None

    @property
    def sec_per_iteration(self) -> float:
        secs = [h["sec"] for h in self.history if "sec" in h]
        return sum(secs) / max(len(secs), 1)


def run_supersteps(
    init: Callable[[], DataFrame],
    body: Body,
    max_rounds: int,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 5,
    resume: bool = True,
) -> SuperstepResult:
    """Run ``init`` (PEval) then ``body`` (IncEval) to convergence.

    If ``checkpoint_dir`` is set and holds a committed snapshot (and
    ``resume``), iteration restarts from the snapshot's round — the
    north-rule mid-iteration resume path.
    """
    ckpt = None
    start_round = 0
    history: list[dict[str, Any]] = []
    resumed_from = None
    state: DataFrame

    if checkpoint_dir:
        # init() may lazily build inputs the resumed state still needs
        # (degree caches etc.) — callers capture those in closures instead.
        ckpt = CheckpointManager(checkpoint_dir, _spark_of(init))
        loaded = ckpt.load() if resume else None
        if loaded is not None:
            start_round, state, last_metrics = loaded
            resumed_from = start_round
            history.append({"round": start_round, "resumed": True, **last_metrics})
            if last_metrics.get("converged"):
                state = state.persist(StorageLevel.MEMORY_AND_DISK)
                return SuperstepResult(state, start_round, True, history, resumed_from)
        else:
            state = init()
    else:
        state = init()

    spark = _spark_of(init)
    # AQE re-plans every tiny per-round query; for iteration loops the static
    # plan (with our co-partitioning + shuffle_hash hints) is already right,
    # and skipping replanning measures ~20% faster per round. Restored after.
    aqe_before = spark.conf.get("spark.sql.adaptive.enabled", "true")
    sp_before = spark.conf.get("spark.sql.shuffle.partitions", "32")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        return _loop(state, body, start_round, max_rounds, ckpt,
                     checkpoint_every, history, resumed_from, spark)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe_before)
        spark.conf.set("spark.sql.shuffle.partitions", sp_before)


def _loop(state, body, start_round, max_rounds, ckpt, checkpoint_every,
          history, resumed_from, spark=None):
    state = state.localCheckpoint(eager=True)  # materialize PEval + truncate

    if spark is not None:
        # Pin per-round exchanges to the state's own partition count (the
        # graph's scale-adaptive P, established by init's repartition) —
        # with AQE off inside the loop, every groupBy/join would otherwise
        # fan out to the session-wide shuffle constant regardless of data
        # size (guide §2: partitioning derived from input, not a constant).
        try:
            spark.conf.set(
                "spark.sql.shuffle.partitions",
                str(max(1, state.rdd.getNumPartitions())),
            )
        except Exception:  # noqa: BLE001 — tuning must never kill the loop
            pass

    converged = False
    rnd = start_round
    while rnd < max_rounds and not converged:
        rnd += 1
        t0 = time.time()
        plan, finalize = body(state, rnd)
        # ONE materialization per round (localCheckpoint = compute + block
        # write + lineage truncation), then the driver all-reduce runs over
        # the materialized blocks.
        new_state = plan.localCheckpoint(eager=True)
        metrics = finalize(new_state)
        if ckpt is not None and (
            rnd % checkpoint_every == 0 or metrics.get("converged")
        ):
            ckpt.commit(new_state, rnd, metrics)

        # old localCheckpoint blocks are released by the ContextCleaner once
        # the previous DataFrame reference drops
        state = new_state
        metrics = {"round": rnd, "sec": time.time() - t0, **metrics}
        history.append(metrics)
        converged = bool(metrics.get("converged"))

    return SuperstepResult(state, rnd, converged, history, resumed_from)


def _spark_of(init: Callable[[], DataFrame]):
    from pyspark.sql import SparkSession

    return SparkSession.getActiveSession() or SparkSession.builder.getOrCreate()
