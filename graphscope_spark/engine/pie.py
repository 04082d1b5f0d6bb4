"""PIE (PEval / IncEval) per-fragment authoring surface — UDF-app compat.

Reference: ``@pie(vd_type=..., md_type=...)`` class decorators with
``Init(frag, context)`` / ``PEval(frag, context)`` / ``IncEval(frag,
context)`` staticmethods (python/graphscope/analytical/udf/
decorators.py:51-121; app shape as in tests/unittest/test_udf_app.py:570-618
``SSSP_PIE``). The reference Cython-compiles these against libgrape-lite's
fragment; here each Spark partition block IS the fragment: the staticmethods
run inside ``applyInPandas`` over (vertex, value, adjacency) blocks, writes
to non-local vertices become messages, and the driver merges all writes with
the ``PIEAggregateType`` registered in ``Init`` — exactly GRAPE's
partial-evaluate / incremental-evaluate / sync loop.

COMPAT path: the inner loop is per-vertex Python (the fast path is the
vectorized contract in engine/superstep.py), and each superstep REBUILDS
the adjacency ``collect_list`` (the per-edge dst-value mirror changes every
round). The edge table is persisted pre-partitioned on dst, so the state
join co-locates without re-shuffling edges — but the per-round regroup by
src still shuffles edge-sized data and Arrow-ships it to Python.
Use this surface to port reference UDF apps verbatim, not as the scale
path; the r3 CSR A/B in BENCH/BASELINE.md quantifies why static blocks
re-shipped to Python every round lose to the JVM dataframe loop.
"""

from __future__ import annotations

import inspect

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphscope_spark.graph.graph import Graph

__all__ = ["pie", "PIEAggregateType", "MessageStrategy", "run_pie"]


class PIEAggregateType:
    kMinAggregate = "min"
    kMaxAggregate = "max"
    kSumAggregate = "sum"


class MessageStrategy:
    kSyncOnOuterVertex = "sync_on_outer"


def pie(vd_type: str = "double", md_type: str = "double"):
    """Class decorator marking a per-fragment PIE program (API-compatible
    with the reference's ``@pie``): the class must define staticmethods
    ``Init``, ``PEval``, ``IncEval`` (decorators.py:86-97 checks)."""

    def wrap(cls):
        if hasattr(cls, "__decorated__"):
            raise RuntimeError("Can't decorate on decorated class.")
        if not inspect.isclass(cls):
            raise ValueError('the decorator "pie" must be used on a class')
        for need in ("Init", "PEval", "IncEval"):
            if not isinstance(cls.__dict__.get(need), staticmethod):
                raise ValueError(f"missing staticmethod {need} on @pie class")
        cls.__decorated__ = True
        cls._pie_types = (vd_type, md_type)
        return cls

    return wrap


class _Edge:
    __slots__ = ("_dst", "_w")

    def __init__(self, dst, w):
        self._dst = dst
        self._w = w

    def neighbor(self):
        return self._dst

    def get_int(self, _prop_id: int = 2):
        return self._w

    def get_double(self, _prop_id: int = 2):
        return self._w


class _Fragment:
    """Single-label view of one partition block: ``inner_nodes`` are the
    block's vertices; outgoing edges may point at outer vertices (whose
    last-synced values the context reads — GRAPE mirror semantics)."""

    def __init__(self, ids, adj):
        self._ids = list(ids)
        self._inner = set(self._ids)
        self._adj = adj  # id -> list[_Edge]

    def vertex_label_num(self) -> int:
        return 1

    def edge_label_num(self) -> int:
        return 1

    def nodes(self, _label_id: int = 0):
        return list(self._ids)

    def inner_nodes(self, _label_id: int = 0):
        return list(self._ids)

    def get_inner_node(self, _label_id: int, oid, _handle=None):
        """Returns the vertex handle when ``oid`` is local, else None."""
        return oid if oid in self._inner else None

    def get_outgoing_edges(self, v, _e_label_id: int = 0):
        return self._adj.get(v, [])


class _Context:
    def __init__(self, values, mirror, config):
        self._values = values  # id -> value (inner, mutable)
        self._mirror = mirror  # id -> last-synced value (outer, snapshot)
        self._updates = {}  # outer-vertex writes → messages
        self._config = config
        self.agg = None

    # Init surface -----------------------------------------------------------
    def init_value(self, nodes, _label_id, value, agg_type):
        for v in nodes:
            self._values[v] = value
        self.agg = agg_type

    def register_sync_buffer(self, _label_id, _strategy):
        pass

    def get_config(self, key):
        k = key.decode() if isinstance(key, (bytes, bytearray)) else key
        return self._config[k]

    # PEval / IncEval surface --------------------------------------------------
    def get_node_value(self, v):
        if v in self._values:
            return self._values[v]
        if v in self._updates:
            return self._updates[v]
        return self._mirror[v]

    def set_node_value(self, v, value):
        if v in self._values:
            self._values[v] = value
        else:
            self._updates[v] = value  # outer vertex → message


_OUT_SCHEMA = "id long, value double"


def run_pie(
    graph: Graph,
    program,
    config: dict | None = None,
    max_iter: int = 10_000,
    weight_col: str | None = "weight",
) -> DataFrame:
    """Execute a ``@pie`` program; returns (id, value).

    Rounds: Init (all fragments, registers the aggregate + initial values) →
    PEval → IncEval… until a round changes no vertex value
    (``ToTerminate``, default_worker.h:88-135)."""
    if not getattr(program, "__decorated__", False):
        raise ValueError("run_pie needs a @pie-decorated class")
    P = graph.num_partitions
    cfg = dict(config or {})

    # the aggregate type is discovered by running Init on an empty fragment
    # driver-side (Init is pure: it writes values + registers the aggregate)
    probe = _Context({}, {}, cfg)
    program.Init(_Fragment([], {}), probe)
    agg = probe.agg or PIEAggregateType.kMinAggregate

    w = (
        F.col(weight_col).cast("double")
        if weight_col and weight_col in graph.edges.columns
        else F.lit(1.0)
    )
    part = F.pmod(F.xxhash64("id"), F.lit(P))
    # persisted, pre-partitioned on dst: the per-round state join then
    # co-locates on the (small) state side only — the edge table is scanned
    # from cache, not re-shuffled every round (r3 VERDICT wrong-item 3)
    flat = (
        graph.edges.select("src", "dst", w.alias("w"))
        .repartition(P, "dst")
        .persist()
    )

    def block(pdf: pd.DataFrame, phase: str) -> pd.DataFrame:
        ids = pdf["id"].tolist()
        adjacency = {}
        mirror = {}
        for r in pdf.itertuples(index=False):
            nbrs = [] if r.nbrs is None or isinstance(r.nbrs, float) else list(r.nbrs)
            adjacency[r.id] = [_Edge(int(e["dst"]), e["w"]) for e in nbrs]
            for e in nbrs:
                if e["dval"] is not None and not pd.isna(e["dval"]):
                    mirror[int(e["dst"])] = e["dval"]
        if phase == "init":
            values = {}
        else:
            values = {r.id: r.value for r in pdf.itertuples(index=False)}
        frag = _Fragment(ids, adjacency)
        ctx = _Context(values, mirror, cfg)
        getattr(program, {"init": "Init", "peval": "PEval", "inc": "IncEval"}[phase])(
            frag, ctx
        )
        rows = [(v, val) for v, val in ctx._values.items()]
        rows += [(v, val) for v, val in ctx._updates.items()]
        return pd.DataFrame(rows, columns=["id", "value"])

    def one_round(state: DataFrame | None, phase: str) -> DataFrame:
        # attach the dst's current value to every edge (outer-vertex mirror):
        # shuffle 1 = edges ⋈ state on dst + regroup by src, shuffle 2 = the
        # value-sync groupBy in _merge
        if state is None:
            dval = F.lit(None).cast("double")
            src_df = graph.vertices.select("id")
            e = flat.select("src", "dst", "w", dval.alias("dval"))
        else:
            src_df = state.select("id", "value")
            e = flat.join(
                state.select(
                    F.col("id").alias("dst"), F.col("value").alias("dval")
                ).hint("shuffle_hash"),
                "dst",
                "left",
            ).select("src", "dst", "w", "dval")
        adj2 = e.groupBy(F.col("src").alias("id")).agg(
            F.collect_list(F.struct("dst", "w", "dval")).alias("nbrs")
        )
        blk = src_df.join(adj2, "id", "left").withColumn("_part", part)

        def run_block(pdf: pd.DataFrame) -> pd.DataFrame:
            # single-arg wrapper: a 2-arg callable would make applyInPandas
            # pass (key, pdf) instead
            return block(pdf, phase)

        return blk.groupBy("_part").applyInPandas(run_block, _OUT_SCHEMA)

    out = one_round(None, "init").localCheckpoint(eager=True)
    state = _merge(out, None, agg).localCheckpoint(eager=True)

    phase = "peval"
    converged = False
    for _ in range(max_iter + 1):
        out = one_round(state.select("id", "value"), phase).localCheckpoint(
            eager=True
        )
        state = _merge(out, state.select("id", "value"), agg).localCheckpoint(
            eager=True
        )
        if phase == "inc" and state.filter("changed").isEmpty():
            converged = True
            break
        phase = "inc"
    if not converged:
        # consistent with wcc's truncation warning: never return possibly
        # non-converged values silently
        import warnings

        warnings.warn(
            f"run_pie: max_iter={max_iter} exhausted before the IncEval "
            "fixpoint ('no vertex changed') was reached — returned values "
            "may not be converged",
            RuntimeWarning,
            stacklevel=2,
        )
    flat.unpersist()
    return state.select("id", "value")


def _merge(out: DataFrame, prev: DataFrame | None, agg: str) -> DataFrame:
    """Value sync: merge inner writes + outer-vertex messages with the
    registered aggregate; untouched vertices keep their previous value."""
    fn = {"min": F.min, "max": F.max, "sum": F.sum}[agg]
    upd = out.groupBy("id").agg(fn("value").alias("new"))
    if prev is None:
        return upd.select(
            "id", F.col("new").alias("value"), F.lit(True).alias("changed")
        )
    cmb = {"min": F.least, "max": F.greatest}.get(agg)
    merged = prev.join(upd, "id", "left")
    if cmb is not None:
        val = F.when(F.col("new").isNotNull(), cmb("value", "new")).otherwise(
            F.col("value")
        )
    else:
        val = F.coalesce("new", "value")
    return merged.select(
        "id",
        val.alias("value"),
        (val != F.col("value")).alias("changed"),
    )
