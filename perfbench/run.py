"""Run one benchmark workload and print one JSON result line.

    python3 perfbench/run.py --workload corpus_e2e --seed 1 --seconds 10 --trace 0

Run from the repository root. Each invocation is one fresh Python process
with one Spark JVM on ``local[<cores>]``: set-up (session start plus seeded
input generation, repeated ``SETUP_REPS`` times), then whole measured cycles
until ``--seconds`` have passed; every cycle's outputs are checked against
the NumPy oracles outside the timed region.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` alternates
untraced and traced cycles and reports the per-layer metrics, including
Spark's per-stage accounting by job group, and writes the spans and the
per-layer table to ``.perfbench_out/``. The last stdout line is the JSON
result; a human-readable summary precedes it.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DRIVER_MEMORY = "4g"
SETUP_REPS = 3
END_TO_END = {"setup_s": "s", "load_s": "s", "job_s": "s", "round_s": "s"}
ACCOUNTED_GROUPS = ("graph.build", "corpus.sha256", "corpus.extract", "pagerank", "wcc",
                    "cdlp", "triangles", "checkpoint", "ingress.wcc", "ingress.pagerank")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def percentile(xs: list[float], q: float) -> float:
    xs = sorted(xs)
    return xs[min(len(xs) - 1, int(q * len(xs)))]


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "graphscope_spark", "__init__.py")):
        print(f"perfbench: no graphscope_spark package under {ROOT}", file=sys.stderr)
        return 2
    run_dir = os.path.join(ROOT, ".perfbench_tmp", f"run-{os.getpid()}-{uuid.uuid4().hex[:8]}")
    dirs = {k: os.path.join(run_dir, k) for k in ("local", "tmp", "input", "work")}
    for d in dirs.values():
        os.makedirs(d)
    # Everything the run writes stays in run_dir: Spark blocks, JVM and
    # Python temp files. Python workers import graphscope_spark from ROOT.
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)
    session = None
    try:
        session = Session(dirs)
        result = execute(args, session, dirs)
    finally:
        if session is not None:
            session.close()
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass
    print(result.pop("summary"))
    print(json.dumps(result))
    return 0


class Session:
    """The run's Spark session, its JVM and the JVM's memory sampler."""

    def __init__(self, dirs: dict[str, str]) -> None:
        import tempfile

        tempfile.tempdir = dirs["tmp"]
        from graphscope_spark.session import get_spark

        self.cores = len(os.sched_getaffinity(0))  # what `nproc` reports
        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench",
            master=f"local[{self.cores}]",
            extra_conf={
                "spark.driver.memory": DRIVER_MEMORY,
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={dirs['tmp']}",
                "spark.sql.warehouse.dir": os.path.join(dirs["work"], "warehouse"),
                "spark.ui.showConsoleProgress": "false",
                # keep every job and stage of the run in the status store
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.ui.retainedTasks": "1000000",
            },
        )
        self.start_s = time.perf_counter() - t0
        self.sc = self.spark.sparkContext
        self.sc.setLogLevel("ERROR")
        from perfbench.sparkstats import PeakRss

        self.jvm = self.sc._gateway.proc
        self.rss = PeakRss(self.jvm.pid)
        self.rss.start()

    def close(self) -> None:
        """Stop Spark, then the JVM and every process under it; wait for all."""
        from perfbench.sparkstats import tree_pids

        self.rss.stop()
        pids = tree_pids(self.jvm.pid)
        self.spark.stop()
        gateway = self.sc._gateway
        gateway.shutdown()
        if self.jvm.stdin:
            self.jvm.stdin.close()
        try:
            self.jvm.wait(timeout=30)
        except subprocess.TimeoutExpired:  # the JVM must not outlive the run
            self.jvm.kill()
            self.jvm.wait(timeout=30)
        deadline = time.time() + 20
        for pid in pids[1:]:
            while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
                time.sleep(0.1)
            if os.path.exists(f"/proc/{pid}"):
                try:
                    os.kill(pid, 9)
                except ProcessLookupError:
                    pass


def execute(args, session: Session, dirs: dict[str, str]) -> dict:
    from perfbench.tracing import FineWrappers, Recorder, capture_supersteps
    from perfbench.workloads import WORKLOADS, Ctx

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    wl = WORKLOADS[args.workload]
    rec = Recorder(session.sc, run_id=uuid.uuid4().hex[:12])
    capture_supersteps(rec)
    ctx = Ctx(session.spark, rec, args.seed, dirs["input"], dirs["work"], trace=bool(args.trace))

    # Set-up is repeated and its median reported; the last copy is used.
    gen_s = []
    for k in range(SETUP_REPS):
        ctx.input_dir = os.path.join(dirs["input"], str(k))
        if k:
            shutil.rmtree(os.path.join(dirs["input"], str(k - 1)))
        with rec.span("setup.generate") as t:
            wl.generate(ctx)
        gen_s.append(t.dur)
    setup_s = session.start_s + statistics.median(gen_s)

    # Whole cycles until --seconds have passed. A traced run alternates
    # untraced and traced cycles and runs at least three: the first (cold)
    # untraced cycle, a traced one and a warm untraced one to compare it with.
    fine = FineWrappers(rec) if args.trace else None
    cycles, attempted, failed, failures = [], 0, 0, []
    t_measure = time.perf_counter()
    while True:
        traced = fine is not None and rec.cycle % 2 == 1
        if traced:
            fine.install()
        try:
            res = wl.cycle(ctx)
        finally:
            if traced:
                fine.remove()
        for name, ok in wl.check(ctx, res):
            attempted += 1
            if not ok:
                failed += 1
                failures.append(f"{name}@{rec.cycle}")
        res.outputs = None
        cycles.append((rec.cycle, traced, res))
        rec.cycle += 1
        if time.perf_counter() - t_measure >= args.seconds and (not fine or len(cycles) >= 3):
            break

    plain = [(c, r) for c, t, r in cycles if not t]
    summary_lines = [f"workload={wl.name} seed={args.seed} cycles={len(cycles)} "
                     f"attempted={attempted} failed={failed} failed_frac={failed / attempted:.4f}"
                     + (f" failures={','.join(failures)}" if failures else "")]
    if not args.trace:
        rounds = [r for c, _ in plain for r in rec.rounds(c)]
        metrics = {
            "setup_s": setup_s,
            "load_s": statistics.median(r.load_s for _, r in plain),
            "job_s": statistics.median(r.job_s for _, r in plain),
            # mean, not median: a cycle mixes algorithms whose rounds cost
            # differently, and the median jumps between those clusters
            "round_s": statistics.fmean(rounds),
        }
        out = {k: {"value": v, "unit": END_TO_END[k]} for k, v in metrics.items()}
        top = [sp for sp in rec.spans if sp.parent is None and sp.cycle == plain[-1][0]]
        summary_lines.append("spans: " + " ".join(f"{sp.name}={sp.dur:.3f}s" for sp in top))
        summary_lines.append(
            f"rounds: n={len(rounds)} p50={statistics.median(rounds):.4f}s max={max(rounds):.4f}s; "
            f"not bounded (see README): mteps = {statistics.median(r.mteps for _, r in plain):.6g} "
            f"Medge/s, peak_rss_mb = {session.rss.stop():.6g} MB")
    else:
        traced_cycles = [(c, r) for c, t, r in cycles if t]
        out = per_layer(session, rec, traced_cycles, plain)
        write_trace(args, rec, out)
    summary_lines += [f"{k} = {v['value']:.6g} {v['unit']}" for k, v in out.items()]
    return {"summary": "\n".join(summary_lines), "correct": failed == 0,
            "attempted": attempted, "failed": failed, "metrics": out}


def per_layer(session: Session, rec, traced: list, plain: list) -> dict:
    """Per-layer metrics: medians over the traced cycles for times, the last
    traced cycle for counts and Spark accounting."""
    from perfbench.sparkstats import ACCOUNTING_FIELDS, stage_accounting
    from perfbench.tracing import ALGO_SPANS, DRIVER_SPANS

    def med(fn):
        return statistics.median(fn(c, r) for c, r in traced)

    last, last_res = traced[-1]
    rounds = [x for c, _ in traced for x in rec.rounds(c)]

    def within(name, c):
        return rec.total_within(name, ALGO_SPANS, c)

    m: dict[str, tuple[float, str]] = {
        "session.start_s": (session.start_s, "s"),
        "graph.build_s": (med(lambda c, r: rec.total("graph.build", c)), "s"),
        "graph.partitions": (last_res.layer.get("graph.partitions", 0), "count"),
        "graph.edge_skew": (last_res.layer.get("graph.edge_skew", 0.0), "ratio"),
        "graph.undirected_s": (med(lambda c, r: rec.total("graph.to_undirected", c)), "s"),
        "superstep.rounds": (len(rec.rounds(last)), "count"),
        "superstep.round_s_p50": (statistics.median(rounds) if rounds else 0.0, "s"),
        "superstep.round_s_p90": (percentile(rounds, 0.9) if rounds else 0.0, "s"),
        "superstep.materialize_s": (med(lambda c, r: within("df.localCheckpoint", c)), "s"),
        "superstep.allreduce_s": (med(lambda c, r: within("df.collect", c)
                                      + within("df.count", c)), "s"),
        "superstep.driver_s": (med(lambda c, r: rec.self_time(DRIVER_SPANS, c)), "s"),
        "superstep.mteps": (med(lambda c, r: r.mteps), "Medge/s"),
        "process.peak_rss_mb": (session.rss.stop(), "MB"),
    }
    for name in ("pagerank", "wcc", "cdlp", "triangles"):
        m[f"{name}.job_s"] = (med(lambda c, r, n=name: rec.total(n, c)), "s")
    for key, unit in (("corpus.read_s", "s"), ("corpus.sha256_s", "s"), ("corpus.extract_s", "s"),
                      ("corpus.files_per_s", "1/s"), ("corpus.link_edges", "count")):
        m[key] = (med(lambda c, r, k=key: r.layer.get(k, 0.0)), unit)
    m["corpus.dep_recall"] = (last_res.layer.get("corpus.dep_recall", 0.0), "ratio")
    m["checkpoint.commits"] = (rec.count("checkpoint.commit", last), "count")
    m["checkpoint.commit_s"] = (med(lambda c, r: rec.total("checkpoint.commit", c)), "s")
    m["checkpoint.bytes"] = (last_res.layer.get("checkpoint.bytes", 0), "bytes")
    m["checkpoint.resume_s"] = (med(lambda c, r: r.layer.get("checkpoint.resume_s", 0.0)), "s")
    m["ingress.wcc_batch_s"] = (med(lambda c, r: r.layer.get("ingress.wcc_batch_s", 0.0)), "s")
    m["ingress.pagerank_batch_s"] = (
        med(lambda c, r: r.layer.get("ingress.pagerank_batch_s", 0.0)), "s")
    warm = [r.job_s for c, r in plain if c > 0]  # cycle 0 is cold; traced cycles are not
    m["trace.overhead_s"] = (statistics.median(r.job_s for _, r in traced)
                             - statistics.median(warm), "s")

    walls = {g: rec.group_wall(g, last) for g in ACCOUNTED_GROUPS}
    acc = stage_accounting(session.sc, last, walls, session.cores)
    units = {"jobs": "count", "stages": "count", "tasks": "count", "executor_s": "s",
             "gc_s": "s", "shuffle_write_mb": "MB", "shuffle_records": "count", "spill_mb": "MB",
             "busy_frac": "ratio"}
    for g in ACCOUNTED_GROUPS:
        a = acc.get(g, {})
        for f in ACCOUNTING_FIELDS:
            m[f"{g}.{f}"] = (a.get(f, 0), units[f])
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def write_trace(args, rec, layer: dict) -> None:
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}-{rec.run_id}.json")
    with open(path, "w") as fh:
        json.dump({"workload": args.workload, "seed": args.seed, "run_id": rec.run_id,
                   "spans": rec.to_json(), "loops": rec.loops, "per_layer": layer}, fh)


if __name__ == "__main__":
    sys.exit(main())
