#!/usr/bin/env python
"""Extra benchmarks for the optimization round (bench.py is FROZEN for
measurement — this file holds the builder-side isolation runs per guide
§1.4: noop-sink per-query timing for a named subset, and a phase-profiled
headline run).

Usage:
  python bench_extra.py queries q1 q2 ...      # time named queries (bench-identical session)
  python bench_extra.py queries-all            # every declared query
  python bench_extra.py headline [n_edges]     # phase-profiled pagerank headline (default 32M)
  python bench_extra.py plan q1 q2 ...         # dump .explain('formatted') to plans/r06/<q>_<tag>.txt
Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, PLAN_TAG (before/after)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _session():
    from graphscope_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "16g")
    return get_spark(
        app_name=f"bench_extra_{CPUS}", master=f"local[{CPUS}]",
        shuffle_partitions=CPUS,
    )


def _materialize(df):
    df.write.mode("overwrite").format("noop").save()


def run_queries(names: list[str]) -> None:
    import __spark_entry__ as entrymod

    spark = _session()
    qs = entrymod.queries()
    if names == ["ALL"]:
        names = list(qs)
    out = {}
    for name in names:
        spark.sparkContext.setJobDescription(f"bench_extra: {name}")
        t0 = time.time()
        _materialize(qs[name](spark, SF_DIR))
        out[name] = round(time.time() - t0, 3)
        print(f"{name}: {out[name]}s", flush=True)
    print("TOTAL:", round(sum(out.values()), 2))
    spark.stop()


def run_plans(names: list[str]) -> None:
    import __spark_entry__ as entrymod

    tag = os.environ.get("PLAN_TAG", "before")
    spark = _session()
    qs = entrymod.queries()
    os.makedirs("plans/r06", exist_ok=True)
    for name in names:
        df = qs[name](spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        with open(f"plans/r06/{name}_{tag}.txt", "w") as fh:
            fh.write(plan)
        print(f"wrote plans/r06/{name}_{tag}.txt", flush=True)
    spark.stop()


def run_headline(n_edges: int) -> None:
    """Phase-profiled mirror of bench.py's _SCALING_SCRIPT timed region."""
    from graphscope_spark.algorithms.pagerank import _pagerank_loop
    from graphscope_spark.graph.graph import Graph
    from graphscope_spark.sources.synthetic import power_law_edges

    spark = _session()
    g = Graph(power_law_edges(spark, n_edges, n_edges // 10),
              num_partitions=CPUS)
    t = time.time()
    ne = g.num_edges
    print(f"phase graph-edges-materialize: {time.time()-t:.2f}s ({ne} edges)",
          flush=True)
    t0 = time.time()
    res = _pagerank_loop(g, alpha=0.85, max_iter=10, tol=0.0, weight_col=None,
                         checkpoint_dir=None, checkpoint_every=0,
                         resume=False)
    total = time.time() - t0
    secs = sorted(h["sec"] for h in res.history if "sec" in h)
    print(f"rounds: {[round(h['sec'],2) for h in res.history if 'sec' in h]}",
          flush=True)
    print(f"TOTAL {total:.2f}s  median/iter {secs[len(secs)//2]:.2f}s  "
          f"mteps {ne*10/total/1e6:.1f}  steady {ne/secs[len(secs)//2]/1e6:.1f}",
          flush=True)
    spark.stop()


if __name__ == "__main__":
    mode = sys.argv[1] if len(sys.argv) > 1 else "queries-all"
    if mode == "queries":
        run_queries(sys.argv[2:])
    elif mode == "queries-all":
        run_queries(["ALL"])
    elif mode == "plan":
        run_plans(sys.argv[2:])
    elif mode == "headline":
        run_headline(int(sys.argv[2]) if len(sys.argv) > 2 else 32_000_000)
    else:
        raise SystemExit(f"unknown mode {mode}")
