"""Spans, Spark job groups and the traced-run wrappers.

The benchmark times every call it makes into a ``graphscope_spark`` module
with :meth:`Recorder.span`, which also tags the Spark jobs the call starts
with ``setJobGroup(<span name>#<cycle>)`` so that Spark's own per-stage
accounting can be grouped by layer afterwards (see ``sparkstats.py``).

A traced run additionally installs :class:`FineWrappers`: spans around
``DataFrame.localCheckpoint`` / ``collect`` / ``count`` (the superstep
materialisation and driver all-reduce), ``CheckpointManager.commit`` /
``load`` (which also switch the job group to ``checkpoint``),
``Graph.to_undirected`` and the two streaming maintainers'
``process_batch``. Spans stay in memory and are written when the run ends.
"""

from __future__ import annotations

import functools
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# The benchmark's spans around algorithm calls: superstep materialisation and
# all-reduce time is counted inside these.
ALGO_SPANS = ("pagerank", "checkpoint.resume", "wcc", "cdlp", "triangles",
              "ingress.wcc", "ingress.pagerank")
# Spans whose duration minus child time is driver self time: planning and
# bookkeeping around the Spark actions.
DRIVER_SPANS = ALGO_SPANS + ("StreamingWCC.process_batch", "StreamingPageRank.process_batch",
                             "graph.to_undirected")


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    cycle: int = 0
    run_id: str = ""
    group: str | None = None  # Spark job group the span set, if any
    child_s: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.dur - self.child_s


@dataclass
class Recorder:
    """In-memory span log plus the superstep histories seen in the run."""

    sc: object
    run_id: str
    cycle: int = 0
    spans: list[Span] = field(default_factory=list)
    # (cycle, span name of the enclosing span, per-round seconds)
    loops: list[tuple[int, str, list[float]]] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str, group: str | None = ""):
        """Time a block. ``group=""`` tags its jobs with the span name,
        ``group=None`` leaves the current job group alone."""
        if group == "":
            group = name
        prev = self.sc.getLocalProperty("spark.jobGroup.id") if group else None
        if group:
            self.sc.setJobGroup(f"{group}#{self.cycle}", name)
        sp = Span(name, time.perf_counter(), parent=self._stack[-1] if self._stack else None,
                  cycle=self.cycle, run_id=self.run_id, group=group)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if sp.parent is not None:
                self.spans[sp.parent].child_s += sp.dur
            if group:
                if prev:
                    self.sc.setJobGroup(prev, prev.split("#")[0])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)

    def current_name(self) -> str:
        return self.spans[self._stack[-1]].name if self._stack else ""

    # -- queries over one cycle ------------------------------------------

    def total(self, name: str, cycle: int) -> float:
        return sum(s.dur for s in self.spans if s.name == name and s.cycle == cycle)

    def total_within(self, name: str, ancestors: tuple[str, ...], cycle: int) -> float:
        """Total time of ``name`` spans nested (at any depth) in an
        ``ancestors`` span."""
        def inside(sp: Span) -> bool:
            while sp.parent is not None:
                sp = self.spans[sp.parent]
                if sp.name in ancestors:
                    return True
            return False

        return sum(s.dur for s in self.spans if s.name == name and s.cycle == cycle and inside(s))

    def group_wall(self, group: str, cycle: int) -> float:
        """Wall time during which ``group`` was the Spark job group: spans
        that set it, minus those nested in another span that set it."""
        def nested(sp: Span) -> bool:
            while sp.parent is not None:
                sp = self.spans[sp.parent]
                if sp.group == group:
                    return True
            return False

        return sum(s.dur for s in self.spans
                   if s.group == group and s.cycle == cycle and not nested(s))

    def count(self, name: str, cycle: int) -> int:
        return sum(1 for s in self.spans if s.name == name and s.cycle == cycle)

    def self_time(self, names: tuple[str, ...], cycle: int) -> float:
        return sum(s.self_s for s in self.spans if s.name in names and s.cycle == cycle)

    def rounds(self, cycle: int) -> list[float]:
        return [r for c, _, secs in self.loops if c == cycle for r in secs]

    def to_json(self) -> list[dict]:
        return [
            {"name": s.name, "start": s.start, "end": s.end, "parent": s.parent,
             "cycle": s.cycle, "run_id": s.run_id, "group": s.group, "self_s": s.self_s}
            for s in self.spans
        ]


def capture_supersteps(rec: Recorder) -> None:
    """Record the per-round seconds of every superstep loop the program
    runs, in every mode (``round_s`` needs them from untraced runs too).

    ``run_supersteps`` is the engine's public loop driver; algorithm modules
    import it by name, so the wrapper replaces every binding of it.
    """
    from graphscope_spark.engine import superstep

    orig = superstep.run_supersteps

    @functools.wraps(orig)
    def run_supersteps(*args, **kwargs):
        res = orig(*args, **kwargs)
        secs = [h["sec"] for h in res.history if "sec" in h]
        rec.loops.append((rec.cycle, rec.current_name(), secs))
        return res

    for mod in list(sys.modules.values()):
        if getattr(mod, "run_supersteps", None) is orig:
            mod.run_supersteps = run_supersteps


class FineWrappers:
    """The traced run's span wrappers, installed for one cycle at a time."""

    def __init__(self, rec: Recorder) -> None:
        from pyspark.sql.classic.dataframe import DataFrame

        from graphscope_spark.engine.checkpoint import CheckpointManager
        from graphscope_spark.graph.graph import Graph
        from graphscope_spark.streaming.graph_stream import StreamingPageRank, StreamingWCC

        self.rec = rec
        # (owner, attribute, span name, job group: None keeps the caller's)
        self.targets = [
            (DataFrame, "localCheckpoint", "df.localCheckpoint", None),
            (DataFrame, "collect", "df.collect", None),
            (DataFrame, "count", "df.count", None),
            (CheckpointManager, "commit", "checkpoint.commit", "checkpoint"),
            (CheckpointManager, "load", "checkpoint.load", "checkpoint"),
            (Graph, "to_undirected", "graph.to_undirected", None),
            (StreamingWCC, "process_batch", "StreamingWCC.process_batch", None),
            (StreamingPageRank, "process_batch", "StreamingPageRank.process_batch", None),
        ]
        self.saved: list[tuple[type, str, object]] = []

    def install(self) -> None:
        for owner, attr, name, group in self.targets:
            orig = owner.__dict__[attr]
            self.saved.append((owner, attr, orig))
            setattr(owner, attr, self._wrap(orig, name, group))

    def remove(self) -> None:
        for owner, attr, orig in reversed(self.saved):
            setattr(owner, attr, orig)
        self.saved.clear()

    def _wrap(self, fn, name: str, group: str | None):
        rec = self.rec

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with rec.span(name, group=group):
                return fn(*args, **kwargs)

        return wrapper
