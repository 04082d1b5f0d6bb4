"""The benchmark's workloads.

Each workload writes its inputs from the seed (``generate``, part of
set-up), then runs measured cycles (``cycle``): load the inputs, run the
job, materialise every output into a noop sink, and return the timings
plus the collected outputs. ``check`` compares the outputs with the NumPy
oracles outside the timed region; every check is one attempted operation.

All calls into ``graphscope_spark`` go through ``rec.span(<layer>)`` so the
Spark jobs they start are grouped by layer (see ``tracing.py``).
"""

from __future__ import annotations

import hashlib
import os
import statistics
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphscope_spark.algorithms.cdlp import cdlp
from graphscope_spark.algorithms.pagerank import pagerank
from graphscope_spark.algorithms.triangles import triangles
from graphscope_spark.algorithms.wcc import wcc
from graphscope_spark.corpus import generator
from graphscope_spark.corpus.extractor import (
    extract_file_deps,
    repo_link_edges,
    repo_vertices,
    with_file_id,
    with_sha256,
)
from graphscope_spark.graph.graph import Graph
from graphscope_spark.sources.synthetic import power_law_edges
from graphscope_spark.streaming.graph_stream import StreamingPageRank, StreamingWCC

from perfbench import oracles
from perfbench.tracing import Recorder

PR_RTOL = 1e-6  # relative tolerance of every PageRank check
PR_ATOL = 1e-12


@dataclass
class Ctx:
    spark: SparkSession
    rec: Recorder
    seed: int
    input_dir: str
    work_dir: str
    trace: bool = False


@dataclass
class CycleResult:
    load_s: float
    job_s: float
    mteps: float  # graph edges x superstep rounds / job seconds, in millions
    outputs: dict
    layer: dict[str, float] = field(default_factory=dict)


def materialize(df: DataFrame) -> DataFrame:
    """Compute ``df`` into the noop sink; it stays cached for the check."""
    df = df.persist()
    df.write.format("noop").mode("overwrite").save()
    return df


def to_numpy(df: DataFrame, key: str, val: str) -> tuple[np.ndarray, np.ndarray]:
    pdf = df.toPandas().sort_values(key)
    return pdf[key].to_numpy(np.int64), pdf[val].to_numpy()


def read_edges(path: str) -> tuple[np.ndarray, np.ndarray]:
    t = pq.read_table(path, columns=["src", "dst"])
    return t.column("src").to_numpy(), t.column("dst").to_numpy()


def read_ids(path: str) -> np.ndarray:
    return np.sort(pq.read_table(path, columns=["id"]).column("id").to_numpy())


def pagerank_ok(ids, rank, vertices, ref) -> bool:
    return np.array_equal(ids, vertices) and np.allclose(rank, ref, rtol=PR_RTOL, atol=PR_ATOL)


def exact_ok(ids, vals, vertices, ref) -> bool:
    return np.array_equal(ids, vertices) and np.array_equal(vals, ref)


class Workload:
    name = ""
    sizes: dict[str, int] = {}

    def generate(self, ctx: Ctx) -> None:
        raise NotImplementedError

    def cycle(self, ctx: Ctx) -> CycleResult:
        raise NotImplementedError

    def check(self, ctx: Ctx, res: CycleResult) -> list[tuple[str, bool]]:
        """(check name, passed) per output of ``res``; may add ratios to
        ``res.layer``."""
        raise NotImplementedError

    def path(self, ctx: Ctx, name: str) -> str:
        return os.path.join(ctx.input_dir, name)


class CorpusE2e(Workload):
    """The corpus pipeline: parquet corpus -> sha256 -> file deps -> repo
    links -> Graph -> checkpointed PageRank + resume -> WCC, CDLP, triangles."""

    name = "corpus_e2e"
    sizes = {"files": 10_000, "repos": 250, "cdlp_rounds": 10}

    def generate(self, ctx):
        s = self.sizes
        generator.synth_corpus(ctx.spark, s["files"], s["repos"], seed=ctx.seed).write.parquet(
            self.path(ctx, "corpus"))
        self._expect = None

    def cycle(self, ctx):
        rec, spark = ctx.rec, ctx.spark
        ck = os.path.join(ctx.work_dir, f"pagerank-ckpt-{rec.cycle}")
        # load: corpus table -> persisted repo-link Graph; job: the analytics
        with rec.span("corpus.read") as t_read:
            files = spark.read.parquet(self.path(ctx, "corpus")).persist()
            files.count()
        with rec.span("corpus.sha256") as t_sha:
            sha = materialize(with_sha256(files).select("path", "sha256"))
        with rec.span("corpus.extract") as t_ext:
            deps = materialize(extract_file_deps(files))
        with rec.span("corpus.link") as t_link:
            links = materialize(repo_link_edges(files, deps))
        with rec.span("graph.build") as t_build:
            g = Graph(links, vertices=repo_vertices(files))
            n_edges = g.num_edges
        with rec.span("pagerank") as t_pr:
            rp = pagerank(g, tol=1e-6, checkpoint_dir=ck, checkpoint_every=1, return_result=True)
            pr = materialize(rp.state.select("id", F.col("rank").alias("pagerank")))
        with rec.span("checkpoint.resume") as t_res:
            rr = pagerank(g, tol=1e-6, checkpoint_dir=ck, checkpoint_every=1, return_result=True)
            pr2 = materialize(rr.state.select("id", F.col("rank").alias("pagerank")))
        with rec.span("wcc") as t_wcc:
            rw = wcc(g, return_result=True)
            comp = materialize(rw.state.select("id", F.col("label").alias("component")))
        with rec.span("cdlp") as t_cdlp:
            rc = cdlp(g, max_iter=self.sizes["cdlp_rounds"], return_result=True)
            lab = materialize(rc.state.select("id", "label"))
        with rec.span("triangles") as t_tri:
            tri = materialize(triangles(g))
        load_s = sum(t.dur for t in (t_read, t_sha, t_ext, t_link, t_build))
        job_s = sum(t.dur for t in (t_pr, t_res, t_wcc, t_cdlp, t_tri))

        # outputs for the checks, collected outside every timed span
        fid = with_file_id(files).select("file_id", "path").toPandas()
        body = files.select("path", "content").toPandas()
        outputs = {
            "sha256": sha.toPandas(),
            "content": body,
            "file_ids": fid,
            "deps": deps.toPandas(),
            "links": links.toPandas(),
            "repos": g.vertices.select("id", "name").toPandas(),
            "pagerank": to_numpy(pr, "id", "pagerank"),
            "resumed": to_numpy(pr2, "id", "pagerank"),
            "resumed_from": rr.resumed_from,
            "wcc": to_numpy(comp, "id", "component"),
            "cdlp": to_numpy(lab, "id", "label"),
            "triangles": to_numpy(tri, "id", "triangles"),
        }
        ckpt_bytes = sum(os.path.getsize(os.path.join(d, f))
                         for d, _, fs in os.walk(ck) for f in fs)
        layer = graph_layer(ctx, g)
        layer.update({
            "corpus.read_s": t_read.dur,
            "corpus.sha256_s": t_sha.dur,
            "corpus.extract_s": t_ext.dur,
            "corpus.files_per_s": self.sizes["files"] / (t_sha.dur + t_ext.dur),
            "corpus.link_edges": n_edges,
            "checkpoint.bytes": ckpt_bytes,
            "checkpoint.resume_s": t_res.dur,
        })
        spark.catalog.clearCache()
        rounds = rp.rounds + rw.rounds + rc.rounds
        return CycleResult(load_s, job_s, mteps(n_edges * rounds, job_s), outputs, layer)

    def _expected(self, seed: int):
        """Intended file deps and repo links, straight from the generator."""
        if self._expect is None:
            s = self.sizes
            n, r = s["files"], s["repos"]
            deps = {(i, j) for i in range(n) for j in generator.intended_imports(i, n, seed)}
            repo = [f"org{k // 10}/repo{k}" for k in (generator.repo_of(i, n, r, seed) for i in range(n))]
            links: dict[tuple[str, str], int] = {}
            for i, j in deps:
                if repo[i] != repo[j]:
                    links[(repo[i], repo[j])] = links.get((repo[i], repo[j]), 0) + 1
            self._expect = deps, links
        return self._expect

    def check(self, ctx, res):
        out = res.outputs
        deps_want, links_want = self._expected(ctx.seed)
        checks = []

        sha = out["sha256"].merge(out["content"], on="path")
        hashed = [hashlib.sha256(c.encode()).hexdigest() for c in sha["content"]]
        checks.append(("sha256", len(sha) == self.sizes["files"]
                       and hashed == sha["sha256"].tolist()))

        idx = dict(zip(out["file_ids"]["file_id"], out["file_ids"]["path"]))
        num = {fid: int(p.split("/f")[1].split(".")[0]) for fid, p in idx.items()}
        got = {(num[s], num[d]) for s, d in zip(out["deps"]["src"], out["deps"]["dst"])}
        res.layer["corpus.dep_recall"] = len(got & deps_want) / max(len(deps_want), 1)
        checks.append(("file_deps", got == deps_want))

        name = dict(zip(out["repos"]["id"], out["repos"]["name"]))
        lk = out["links"]
        links_got = {(name[s], name[d]): int(w) for s, d, w in zip(lk["src"], lk["dst"], lk["weight"])}
        checks.append(("repo_links", links_got == links_want))

        vertices = np.sort(out["repos"]["id"].to_numpy(np.int64))
        src, dst = lk["src"].to_numpy(np.int64), lk["dst"].to_numpy(np.int64)
        ref_pr = oracles.pagerank(vertices, src, dst, tol=1e-6)
        checks.append(("pagerank", pagerank_ok(*out["pagerank"], vertices, ref_pr)))
        checks.append(("checkpoint_resume", out["resumed_from"] is not None
                       and pagerank_ok(*out["resumed"], vertices, ref_pr)))
        checks.append(("wcc", exact_ok(*out["wcc"], vertices, oracles.wcc(vertices, src, dst))))
        checks.append(("cdlp", exact_ok(*out["cdlp"], vertices,
                                        oracles.cdlp(vertices, src, dst, self.sizes["cdlp_rounds"]))))
        checks.append(("triangles", exact_ok(*out["triangles"], vertices,
                                             oracles.triangles(vertices, src, dst))))
        return checks


class GraphUpdates(Workload):
    """StreamingWCC and StreamingPageRank converge on a power-law base graph,
    then apply seeded batches: WCC gets adds plus deletions of base edges,
    PageRank gets the adds."""

    name = "graph_updates"
    sizes = {"edges": 100_000, "vertices": 10_000, "batches": 1, "adds": 2_000, "del_every": 2_500}

    def generate(self, ctx):
        s, spark, seed = self.sizes, ctx.spark, ctx.seed
        base = power_law_edges(spark, s["edges"], s["vertices"], seed=seed)
        base.write.parquet(self.path(ctx, "edges"))
        spark.range(s["vertices"]).write.parquet(self.path(ctx, "vertices"))
        base = spark.read.parquet(self.path(ctx, "edges"))
        for b in range(s["batches"]):
            # adds reach 1% past the base id range, so some are new vertices
            adds = power_law_edges(spark, s["adds"], s["vertices"] * 101 // 100,
                                   seed=seed * 1000 + 2 * b + 1)
            dels = base.filter(
                F.pmod(F.xxhash64("src", "dst", F.lit(seed), F.lit(b)), F.lit(s["del_every"])) == 0
            ).distinct()
            adds.withColumn("op", F.lit("add")).unionByName(dels.withColumn("op", F.lit("del"))) \
                .write.parquet(self.path(ctx, f"batch-{b}"))
        self._ref = None

    def cycle(self, ctx):
        rec, spark = ctx.rec, ctx.spark
        with rec.span("graph.build") as t_build:
            g = Graph(spark.read.parquet(self.path(ctx, "edges")),
                      vertices=spark.read.parquet(self.path(ctx, "vertices")))
            n_edges = g.num_edges
        with rec.span("wcc") as t_wcc:
            swcc = StreamingWCC(g)
        with rec.span("pagerank") as t_pr:
            spr = StreamingPageRank(g)
        rounds_before = len(rec.rounds(rec.cycle))
        wcc_s, pr_s = [], []
        for b in range(self.sizes["batches"]):
            batch = spark.read.parquet(self.path(ctx, f"batch-{b}"))
            with rec.span("ingress.wcc") as t:
                swcc.process_batch(batch, b)
            wcc_s.append(t.dur)
            with rec.span("ingress.pagerank") as t:
                spr.process_batch(batch.filter(F.col("op") == "add").select("src", "dst"), b)
            pr_s.append(t.dur)
        batch_s = [a + b for a, b in zip(wcc_s, pr_s)]
        rounds = len(rec.rounds(rec.cycle)) - rounds_before
        outputs = {"wcc": to_numpy(swcc.components, "id", "component"),
                   "pagerank": to_numpy(spr.scores, "id", "pagerank")}
        layer = graph_layer(ctx, g)
        layer.update({"ingress.wcc_batch_s": statistics.median(wcc_s),
                      "ingress.pagerank_batch_s": statistics.median(pr_s)})
        spark.catalog.clearCache()
        return CycleResult(t_build.dur + t_wcc.dur + t_pr.dur, statistics.median(batch_s),
                           mteps(n_edges * rounds, sum(batch_s)), outputs, layer)

    def check(self, ctx, res):
        out = res.outputs
        if self._ref is None:
            self._ref = self._replay(ctx)
        vertices, comp, ranks = self._ref
        return [("wcc", exact_ok(*out["wcc"], vertices, comp)),
                ("pagerank", pagerank_ok(*out["pagerank"], vertices, ranks))]

    def _replay(self, ctx):
        """NumPy replay of the update stream: union-find WCC on the final edge
        set, and PageRank cold on the base then warm-started per batch with
        the same stopping rule."""
        src, dst = read_edges(self.path(ctx, "edges"))
        vertices = read_ids(self.path(ctx, "vertices"))
        ranks = oracles.pagerank(vertices, src, dst, tol=1e-6)
        pairs = set(zip(src.tolist(), dst.tolist()))
        pr_src, pr_dst = src, dst
        for b in range(self.sizes["batches"]):
            t = pq.read_table(self.path(ctx, f"batch-{b}")).to_pandas()
            add, rm = t[t["op"] == "add"], t[t["op"] == "del"]
            a_src, a_dst = add["src"].to_numpy(np.int64), add["dst"].to_numpy(np.int64)
            prev = vertices
            vertices = np.union1d(vertices, np.concatenate([a_src, a_dst]))
            pr_src, pr_dst = np.concatenate([pr_src, a_src]), np.concatenate([pr_dst, a_dst])
            x0 = oracles.warm_start(vertices, prev, ranks)
            ranks = oracles.pagerank_rounds(vertices, pr_src, pr_dst, x0, 1e-6, 100)[0]
            pairs |= set(zip(a_src.tolist(), a_dst.tolist()))
            pairs -= set(zip(rm["src"].tolist(), rm["dst"].tolist()))
        e = np.array(sorted(pairs), dtype=np.int64).reshape(-1, 2)
        return vertices, oracles.wcc(vertices, e[:, 0], e[:, 1]), ranks


def mteps(edge_rounds: int, seconds: float) -> float:
    return edge_rounds / seconds / 1e6


def graph_layer(ctx: Ctx, g: Graph) -> dict[str, float]:
    """Partition count and edge skew (max / mean edges per partition) of the
    persisted edge layout; read after the job, outside its timing, in traced
    runs only."""
    if not ctx.trace:
        return {}
    counts = [r[1] for r in g.edges.groupBy(F.spark_partition_id()).count().collect()]
    counts += [0] * (g.num_partitions - len(counts))
    return {"graph.partitions": g.num_partitions,
            "graph.edge_skew": max(counts) / (sum(counts) / len(counts))}


WORKLOADS = {w.name: w for w in (CorpusE2e(), GraphUpdates())}
