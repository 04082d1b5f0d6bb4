#!/usr/bin/env python
"""800M-edge strong-scaling pair with GC receipts (r4 VERDICT item 6).

Runs PageRank (6 rounds, fresh JVM per point) on the same 800M-edge
power-law table at two parallelism levels (local[8] = N, local[32] = 4N),
back-to-back so both land in the same host phase, and records per-round
wall times plus the JVM garbage-collector time fraction (from the
GarbageCollectorMXBeans, sampled before/after the timed loop — local mode
has one JVM, so this captures all executor GC).

Why: the committed 0.723 steady-state 8→32 efficiency at 800M was
explained as single-box memory-bandwidth saturation by INFERENCE from a
pure-CPU burn test (0.81); this run attaches measured GC receipts so the
explanation carries data. Results append to BENCH/builder_points.json via
bench.record_builder_point and re-render into BENCH/BASELINE.md.

Usage (quiet host phase only — gate on a quick 8M run first, spread vs the
committed quiet numbers):  python BENCH/gc_scaling_runner.py [edges]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

_SCRIPT = """
import json, sys, time
sys.path.insert(0, {repo!r})
import os
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "24g")
from graphscope_spark.session import get_spark
spark = get_spark(app_name="gc_scaling", master=f"local[{cores}]",
                  shuffle_partitions={sp})
from graphscope_spark.algorithms.pagerank import _pagerank_loop
from graphscope_spark.graph.graph import Graph
from graphscope_spark.sources.synthetic import power_law_edges

def gc_ms():
    total = 0
    beans = spark._jvm.java.lang.management.ManagementFactory \\
        .getGarbageCollectorMXBeans()
    for i in range(beans.size()):
        total += beans.get(i).getCollectionTime()
    return total

g = Graph(power_law_edges(spark, {n_edges}, {n_edges} // 10),
          num_partitions={sp})
ne = g.num_edges
gc0, t0 = gc_ms(), time.time()
res = _pagerank_loop(g, alpha=0.85, max_iter={rounds}, tol=0.0,
                     weight_col=None, checkpoint_dir=None,
                     checkpoint_every=0, resume=False)
total, gc1 = time.time() - t0, gc_ms()
secs = sorted(h["sec"] for h in res.history if "sec" in h)
med = secs[len(secs) // 2]
print("BENCHJSON" + json.dumps({{
    "cores": {cores}, "edges": ne, "rounds": {rounds},
    "total_sec": round(total, 2),
    "sec_per_iter": round(total / {rounds}, 3),
    "sec_per_iter_median": round(med, 3),
    "round_secs": [round(h["sec"], 2) for h in res.history if "sec" in h],
    "gc_sec": round((gc1 - gc0) / 1000.0, 2),
    "gc_fraction": round((gc1 - gc0) / 1000.0 / total, 4),
    "mteps": round(ne * {rounds} / total / 1e6, 2),
    "steady_mteps": round(ne / med / 1e6, 2)}}))
spark.stop()
"""


def run(cores: int, n_edges: int, rounds: int = 6, sp: int = 32) -> dict:
    code = _SCRIPT.format(repo=REPO, cores=cores, sp=sp, n_edges=n_edges,
                          rounds=rounds)
    proc = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True,
        timeout=3600,
    )
    for line in proc.stdout.splitlines():
        if line.startswith("BENCHJSON"):
            return json.loads(line[len("BENCHJSON"):])
    raise RuntimeError(f"run failed (cores={cores}): {proc.stderr[-2000:]}")


def main() -> None:
    n_edges = int(sys.argv[1]) if len(sys.argv) > 1 else 800_000_000
    from bench import record_builder_point

    tag = f"{n_edges // 1_000_000}m"
    print(f"# {tag} @ 32 cores ...", file=sys.stderr)
    big = run(32, n_edges)
    print(json.dumps(big), file=sys.stderr)
    print(f"# {tag} @ 8 cores ...", file=sys.stderr)
    small = run(8, n_edges)
    print(json.dumps(small), file=sys.stderr)
    eff_whole = round(small["total_sec"] / big["total_sec"] / 4, 3)
    eff_steady = round(
        small["sec_per_iter_median"] / big["sec_per_iter_median"] / 4, 3
    )
    out = {
        "date": time.strftime("%Y-%m-%d"),
        "large": big,
        "small": small,
        "strong_efficiency_whole": eff_whole,
        "strong_efficiency_steady": eff_steady,
    }
    # builder_points.json is quiet-phase-only evidence; small probe sizes
    # (quietness gates) must not land there
    if n_edges >= 100_000_000:
        record_builder_point(f"gc_{tag}_32c", big)
        record_builder_point(f"gc_{tag}_8c", small)
    with open(os.path.join(REPO, "BENCH", f"gc_scaling_{tag}.json"), "w") as fh:
        json.dump(out, fh, indent=1)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
