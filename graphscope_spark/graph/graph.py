"""The Graph: two DataFrames plus an explicit partitioning contract.

Reference mapping (SURVEY.md §1.5): GraphScope loads vertex/edge Arrow tables
into edge-cut *fragments*, one per worker, with a HashPartitioner assigning
each vertex oid to a fragment (docs/frag_intro.md:23-60,
core/vertex_map/arrow_projected_vertex_map.h:46-52). Here a fragment is a
Spark partition: ``part = pmod(xxhash64(id), P)``, and the edge table is
hash-partitioned by ``src`` so that every superstep's gather reads edges
without a shuffle (the shuffle happens only on the small, changing state /
message side — the Spark analog of grape's MPI message exchange).

Vertices: ``id: long`` plus optional property columns.
Edges:    ``src: long, dst: long`` plus optional ``weight: double`` and
          property columns — the "simple graph" GraphScope projects to before
          running builtin apps (python/graphscope/framework/app.py:45-79).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

__all__ = ["Graph"]


class Graph:
    """An immutable property graph over Spark DataFrames.

    Parameters
    ----------
    vertices : DataFrame with column ``id`` (long). If None, derived from
        distinct edge endpoints (like GraphScope's generate_eid loading path).
    edges : DataFrame with columns ``src``, ``dst`` (long), optional others.
    num_partitions : the fragment count P. Joins against the persisted edge
        layout reuse this partitioning, so message shuffles are one-sided.
    directed : semantics flag; ``to_undirected()`` materializes symmetry.
    """

    def __init__(
        self,
        edges: DataFrame,
        vertices: DataFrame | None = None,
        num_partitions: int | None = None,
        directed: bool = True,
    ) -> None:
        self.spark: SparkSession = edges.sparkSession
        if num_partitions is None:
            # Scale-adaptive fragment count (guide §2): derive P from the
            # edge table's estimated bytes, capped at the configured
            # cluster-scale shuffle-partition count. Large inputs keep the
            # configured value; provably-small ones stop paying 32 tasks
            # per stage for kilobytes of data.
            from graphscope_spark.engine.tuning import adaptive_partitions

            conf_p = int(
                self.spark.conf.get("spark.sql.shuffle.partitions", "32")
            )
            num_partitions = adaptive_partitions(edges, conf_p)
        self.num_partitions = int(num_partitions)
        self.directed = directed
        self._persisted: list[DataFrame] = []

        edges = edges.withColumn("src", F.col("src").cast("long")).withColumn(
            "dst", F.col("dst").cast("long")
        )
        # Edge-cut layout: co-locate edges with their source fragment.
        self.edges = self._persist(edges.repartition(self.num_partitions, "src"))
        if vertices is None:
            vertices = (
                edges.select(F.col("src").alias("id"))
                .unionAll(edges.select(F.col("dst").alias("id")))
                .distinct()
            )
        else:
            vertices = vertices.withColumn("id", F.col("id").cast("long"))
        self.vertices = self._persist(
            vertices.repartition(self.num_partitions, "id")
        )
        self._num_vertices: int | None = None
        self._num_edges: int | None = None
        self._out_degrees: DataFrame | None = None
        self._in_degrees: DataFrame | None = None

    # -- bookkeeping ------------------------------------------------------

    def _persist(self, df: DataFrame) -> DataFrame:
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        self._persisted.append(df)
        return df

    def unpersist(self) -> None:
        for df in self._persisted:
            df.unpersist()
        self._persisted.clear()

    # -- stats ------------------------------------------------------------

    @property
    def num_vertices(self) -> int:
        if self._num_vertices is None:
            self._num_vertices = self.vertices.count()
        return self._num_vertices

    @property
    def num_edges(self) -> int:
        if self._num_edges is None:
            self._num_edges = self.edges.count()
            # Materializing the graph means BOTH fragments: grape builds the
            # vertex map at load time (arrow_projected_vertex_map), and every
            # algorithm here starts from `vertices` anyway. Touching only the
            # edge cache would leave the (derived-from-endpoints) vertex map
            # to be built lazily inside the first algorithm's run.
            if self._num_vertices is None and self._persisted:
                self._num_vertices = self.vertices.count()
        return self._num_edges

    def out_degrees(self) -> DataFrame:
        """(id, out_degree) for every vertex, 0 included.

        Reference: REPORT_GRAPH degree reporting
        (analytical_engine/core/grape_instance.cc:1331) and
        apps/centrality/degree/degree_centrality.h.
        """
        if self._out_degrees is None:
            deg = self.edges.groupBy(F.col("src").alias("id")).agg(
                F.count(F.lit(1)).alias("out_degree")
            )
            self._out_degrees = self._persist(
                self.vertices.select("id")
                .join(deg, "id", "left")
                .select("id", F.coalesce("out_degree", F.lit(0)).alias("out_degree"))
            )
        return self._out_degrees

    def in_degrees(self) -> DataFrame:
        if self._in_degrees is None:
            deg = self.edges.groupBy(F.col("dst").alias("id")).agg(
                F.count(F.lit(1)).alias("in_degree")
            )
            self._in_degrees = self._persist(
                self.vertices.select("id")
                .join(deg, "id", "left")
                .select("id", F.coalesce("in_degree", F.lit(0)).alias("in_degree"))
            )
        return self._in_degrees

    # -- transforms (the graph-management op surface, SURVEY.md §2.1) -----

    def to_undirected(self, dedup: bool = True) -> "Graph":
        """TO_UNDIRECTED (core/grape_instance.cc:1400).

        ``dedup=True`` gives the simple undirected graph (for WCC/triangles);
        ``dedup=False`` keeps multiplicity (LDBC CDLP counts a reciprocal
        edge twice).
        """
        if self.directed is False and dedup:
            return self
        cols = [c for c in self.edges.columns if c not in ("src", "dst")]
        rev = self.edges.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), *cols
        )
        und = self.edges.select("src", "dst", *cols).unionAll(rev)
        if dedup:
            und = und.filter(F.col("src") != F.col("dst")).dropDuplicates(
                ["src", "dst"]
            )
        g = Graph(
            und,
            vertices=self.vertices,
            num_partitions=self.num_partitions,
            directed=False,
        )
        return g

    def reverse(self) -> "Graph":
        """TO_DIRECTED with flipped orientation."""
        cols = [c for c in self.edges.columns if c not in ("src", "dst")]
        rev = self.edges.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), *cols
        )
        return Graph(
            rev,
            vertices=self.vertices,
            num_partitions=self.num_partitions,
            directed=self.directed,
        )

    def project(self, weight_col: str | None = None) -> "Graph":
        """PROJECT_TO_SIMPLE (core/grape_instance.cc:1346): keep (src, dst
        [, weight]) only — the ≤1-edge-property simple graph builtins run on.
        """
        cols = ["src", "dst"]
        e = self.edges
        if weight_col is not None:
            e = e.withColumn("weight", F.col(weight_col).cast("double"))
            cols.append("weight")
        return Graph(
            e.select(*cols),
            vertices=self.vertices.select("id"),
            num_partitions=self.num_partitions,
            directed=self.directed,
        )

    def induce_subgraph(self, vertex_ids: DataFrame) -> "Graph":
        """INDUCE_SUBGRAPH (core/grape_instance.cc:1411): semi-join both
        endpoints against a vertex set (DataFrame with column ``id``)."""
        vs = vertex_ids.select("id")
        e = (
            self.edges.join(vs.withColumnRenamed("id", "src"), "src", "left_semi")
            .join(vs.withColumnRenamed("id", "dst"), "dst", "left_semi")
        )
        v = self.vertices.join(vs, "id", "left_semi")
        return Graph(
            e, vertices=v, num_partitions=self.num_partitions, directed=self.directed
        )

    # -- MODIFY_VERTICES / MODIFY_EDGES (core/grape_instance.cc mutation
    # ops; NetworkX-mode add/remove). The reference rebuilds a new fragment
    # from the mutated tables — here each op is a functional update
    # producing a new Graph over union/anti-join plans, which Catalyst
    # folds into the next scan. ---------------------------------------------

    def add_vertices(self, vertex_ids: DataFrame) -> "Graph":
        """MODIFY_VERTICES(add): union new ids (column ``id``); existing ids
        and their properties are preserved."""
        vs = vertex_ids.select(F.col("id").cast("long"))
        v = self.vertices.unionByName(
            vs.join(self.vertices.select("id"), "id", "left_anti"),
            allowMissingColumns=True,
        )
        return Graph(
            self.edges, vertices=v, num_partitions=self.num_partitions,
            directed=self.directed,
        )

    def remove_vertices(self, vertex_ids: DataFrame) -> "Graph":
        """MODIFY_VERTICES(delete): drop the ids and every incident edge."""
        vs = vertex_ids.select(F.col("id").cast("long"))
        v = self.vertices.join(vs, "id", "left_anti")
        e = (
            self.edges.join(vs.withColumnRenamed("id", "src"), "src", "left_anti")
            .join(vs.withColumnRenamed("id", "dst"), "dst", "left_anti")
        )
        return Graph(
            e, vertices=v, num_partitions=self.num_partitions,
            directed=self.directed,
        )

    def add_edges(self, new_edges: DataFrame) -> "Graph":
        """MODIFY_EDGES(add): union rows (src, dst[, props]); endpoints
        missing from the vertex table are added (the loader's
        derive-from-endpoints path)."""
        e = self.edges.unionByName(
            new_edges.withColumn("src", F.col("src").cast("long")).withColumn(
                "dst", F.col("dst").cast("long")
            ),
            allowMissingColumns=True,
        )
        ends = (
            new_edges.select(F.col("src").cast("long").alias("id"))
            .unionByName(new_edges.select(F.col("dst").cast("long").alias("id")))
            .distinct()
        )
        v = self.vertices.unionByName(
            ends.join(self.vertices.select("id"), "id", "left_anti"),
            allowMissingColumns=True,
        )
        return Graph(
            e, vertices=v, num_partitions=self.num_partitions,
            directed=self.directed,
        )

    def remove_edges(self, old_edges: DataFrame) -> "Graph":
        """MODIFY_EDGES(delete): anti-join on (src, dst); vertices stay."""
        e = self.edges.join(
            old_edges.select(
                F.col("src").cast("long").alias("src"),
                F.col("dst").cast("long").alias("dst"),
            ),
            ["src", "dst"],
            "left_anti",
        )
        return Graph(
            e, vertices=self.vertices, num_partitions=self.num_partitions,
            directed=self.directed,
        )

    def add_column(self, result: DataFrame) -> "Graph":
        """ADD_COLUMN (core/grape_instance.cc:1493): attach an algorithm
        result (id, value...) as new vertex properties."""
        v = self.vertices.join(result, "id", "left")
        return Graph(
            self.edges,
            vertices=v,
            num_partitions=self.num_partitions,
            directed=self.directed,
        )

    # -- io -----------------------------------------------------------------

    @classmethod
    def from_parquet(
        cls,
        spark: SparkSession,
        edges_path: str,
        vertices_path: str | None = None,
        **kw,
    ) -> "Graph":
        e = spark.read.parquet(edges_path)
        v = spark.read.parquet(vertices_path) if vertices_path else None
        return cls(e, vertices=v, **kw)

    def write_parquet(self, base_path: str, mode: str = "overwrite") -> None:
        """SERIALIZE_GRAPH analog: persist the loaded graph for reload."""
        self.edges.write.mode(mode).parquet(f"{base_path}/edges")
        self.vertices.write.mode(mode).parquet(f"{base_path}/vertices")
