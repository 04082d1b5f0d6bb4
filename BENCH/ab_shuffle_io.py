#!/usr/bin/env python
"""Interleaved A/B: shuffle-I/O placement + compression at the headline size.

Hypothesis: per-round PageRank cost at 100M edges is dominated by the E-row
shuffle (serialize -> lz4 -> local file -> read -> hash agg). Two candidate
levers this box offers:
  V1 "tmpfs":   spark.local.dir=/dev/shm/spark-ab (shuffle files in RAM,
                no writeback) + shuffle/spill compression OFF (skip lz4 both
                directions; no network in local mode so compression only
                costs CPU).
  V2 "rawcache": V1 + spark.sql.inMemoryColumnarStorage.compressed=false
                (the persisted links table is re-decoded every round;
                dictionary/RLE decode is per-round CPU).

Protocol: fresh JVM per run (heap fragmentation contaminates reuse),
interleaved A-B-A-B-... so host-noise phases hit all arms equally; compare
per-arm MEDIAN of sec_per_iter_median. Usage:

    python BENCH/ab_shuffle_io.py [edges] [pairs]

Writes BENCH/ab_shuffle_io.json. Only promote a winner into session.py
defaults after a quiet-phase confirmation run (median spread <= 1.3x).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

_SCRIPT = """
import json, sys, time
sys.path.insert(0, {repo!r})
import os
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "16g")
from graphscope_spark.session import get_spark
spark = get_spark(app_name="ab_shuffle_io", master="local[32]",
                  shuffle_partitions=32, extra_conf={conf!r})
from graphscope_spark.algorithms.pagerank import _pagerank_loop
from graphscope_spark.graph.graph import Graph
from graphscope_spark.sources.synthetic import power_law_edges
g = Graph(power_law_edges(spark, {n_edges}, {n_edges} // 10),
          num_partitions=32)
ne = g.num_edges
t0 = time.time()
res = _pagerank_loop(g, alpha=0.85, max_iter={rounds}, tol=0.0,
                     weight_col=None, checkpoint_dir=None,
                     checkpoint_every=0, resume=False)
total = time.time() - t0
secs = sorted(h["sec"] for h in res.history if "sec" in h)
med = secs[len(secs) // 2]
print("BENCHJSON" + json.dumps({{
    "edges": ne, "total_sec": round(total, 2),
    "sec_per_iter_median": round(med, 3),
    "round_secs": [round(h["sec"], 2) for h in res.history if "sec" in h],
    "steady_mteps": round(ne / med / 1e6, 2)}}))
spark.stop()
"""

ARMS: dict[str, dict[str, str]] = {
    "baseline": {},
    "tmpfs": {
        "spark.local.dir": "/dev/shm/spark-ab",
        "spark.shuffle.compress": "false",
        "spark.shuffle.spill.compress": "false",
    },
    "rawcache": {
        "spark.local.dir": "/dev/shm/spark-ab",
        "spark.shuffle.compress": "false",
        "spark.shuffle.spill.compress": "false",
        "spark.sql.inMemoryColumnarStorage.compressed": "false",
    },
}


def run_arm(name: str, n_edges: int, rounds: int = 6) -> dict:
    code = _SCRIPT.format(repo=REPO, conf=ARMS[name], n_edges=n_edges,
                          rounds=rounds)
    proc = subprocess.run([sys.executable, "-c", code], capture_output=True,
                          text=True, timeout=1800)
    for line in proc.stdout.splitlines():
        if line.startswith("BENCHJSON"):
            out = json.loads(line[len("BENCHJSON"):])
            out["arm"] = name
            return out
    raise RuntimeError(f"arm {name} failed: {proc.stderr[-1500:]}")


def main() -> None:
    n_edges = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000_000
    pairs = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    runs: list[dict] = []
    try:
        for i in range(pairs):
            for arm in ARMS:
                r = run_arm(arm, n_edges)
                r["iter"] = i
                runs.append(r)
                print(json.dumps(r), file=sys.stderr, flush=True)
    finally:
        shutil.rmtree("/dev/shm/spark-ab", ignore_errors=True)
    summary = {}
    for arm in ARMS:
        meds = sorted(r["sec_per_iter_median"] for r in runs
                      if r["arm"] == arm)
        if meds:
            summary[arm] = {
                "median_sec_per_iter": meds[len(meds) // 2],
                "all": meds,
                "spread": round(meds[-1] / meds[0], 2) if meds[0] else None,
            }
    out = {"date": time.strftime("%Y-%m-%d"), "edges": n_edges,
           "runs": runs, "summary": summary}
    with open(os.path.join(REPO, "BENCH", "ab_shuffle_io.json"), "w") as fh:
        json.dump(out, fh, indent=1)
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
