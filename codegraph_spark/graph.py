"""PropertyGraph — the engine's core data abstraction.

The reference models everything as a labeled property graph
(/root/reference/pkg/models/node.go, relationship.go). Here that is two
columnar DataFrames (the GraphFrames convention, SURVEY §1.6):

- ``nodes``: must contain ``id`` (unique surrogate) and ``label``;
  any number of typed property columns alongside.
- ``edges``: must contain ``src``, ``dst``, ``type``; per-type property
  columns nullable.

Uniqueness constraints (reference: pkg/schema/schema.go:38-79) are
enforced at write time (:mod:`codegraph_spark.operators.upsert`), not by
an index — Catalyst's scan pruning + optional label/type partitioning
replaces Neo4j's BTREE indexes (schema.go:82-203).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

NODE_REQUIRED = ("id", "label")
EDGE_REQUIRED = ("src", "dst", "type")

class PropertyGraph:
    def __init__(self, nodes: DataFrame, edges: DataFrame):
        for c in NODE_REQUIRED:
            if c not in nodes.columns:
                raise ValueError(f"nodes missing required column {c!r}")
        for c in EDGE_REQUIRED:
            if c not in edges.columns:
                raise ValueError(f"edges missing required column {c!r}")
        self.nodes = nodes
        self.edges = edges
        # every persisted structure derived from the graph, by key (see
        # cached_view)
        self._cache: dict[object, DataFrame] = {}

    # ---- construction ----------------------------------------------------
    @classmethod
    def from_parquet(cls, spark: SparkSession, nodes_path: str, edges_path: str) -> "PropertyGraph":
        return cls(spark.read.parquet(nodes_path), spark.read.parquet(edges_path))

    @classmethod
    def from_tpch_recast(cls, spark: SparkSession, sf_dir: str) -> "PropertyGraph":
        from codegraph_spark.serving import shared_obj
        from codegraph_spark.sources.recast import graph_edges, graph_nodes

        def build() -> "PropertyGraph":
            # Compact before persisting: the nodes/edges plans are unions
            # of many per-table scans, so their natural partition count is
            # the SUM of all input partitionings (130+ even at sf0.1).
            # Every subsequent query action would pay one task per cached
            # partition. Repartition to the session's parallelism — on a
            # cluster, size by target partition bytes instead; the
            # invariant is task count = O(cores), not O(input unions).
            p = spark.sparkContext.defaultParallelism
            return cls(
                graph_nodes(spark, sf_dir).repartition(p),
                graph_edges(spark, sf_dir).repartition(p),
            ).persist()

        # Serving-layer cache: the recast graph is the engine's ingested
        # state (the reference serves every query from a warm Neo4j
        # store — client.go pools connections to it). Rebuilding it per
        # query would repeat the ingest shuffle (lineitem window) every
        # request. ``serving.invalidate(sf_dir)`` and the dataset LRU
        # release it through :meth:`unpersist`.
        return shared_obj(spark, (sf_dir, "recast_graph"), build)

    def persist(self) -> "PropertyGraph":
        """Cache both tables — the serving-layer pattern (the reference
        keeps a connection pool to a warm Neo4j; we keep hot DataFrames,
        SURVEY §3.3)."""
        self.nodes = self.nodes.persist()
        self.edges = self.edges.persist()
        return self

    def unpersist(self) -> None:
        """Release the cached blocks of both tables and of every
        structure memoized on the graph (closures, typed edges, views)."""
        for df in [self.nodes, self.edges, *self._cache.values()]:
            df.unpersist()

    def write_parquet(self, nodes_path: str, edges_path: str, mode: str = "overwrite") -> None:
        # Partition by label/type: the Spark analog of Neo4j's
        # per-label indexes — label-filtered scans prune partitions.
        self.nodes.write.mode(mode).partitionBy("label").parquet(nodes_path)
        self.edges.write.mode(mode).partitionBy("type").parquet(edges_path)
        # serving contract (serving.py): any in-session rewrite of a
        # dir must drop caches built over it
        from codegraph_spark import serving

        serving.invalidate(nodes_path)
        serving.invalidate(edges_path)

    def write_bucketed(self, prefix: str = "codegraph", buckets: int = 32) -> None:
        """Persist as BUCKETED tables so graph-pattern joins co-locate.

        Every traversal join is ``edges.src = nodes.id``; bucketing
        nodes by ``id`` and edges by ``src`` with the same bucket count
        makes that equi-join shuffle-free on read-back (Catalyst sees
        matching HashPartitioning on both scans and plans a SortMergeJoin
        with NO Exchange). At 100 TB this is the difference between
        re-shuffling 2 multi-TB tables per query and none — the on-disk
        analog of the ``typed_edges`` in-memory layout. Bucket count
        fixes fan-in per reducer; choose ≈ table_size / 1 GiB at the
        target scale (32 suffices for the test fixtures).
        """
        (
            self.nodes.write.mode("overwrite")
            .bucketBy(buckets, "id").sortBy("id")
            .format("parquet").saveAsTable(f"{prefix}_nodes")
        )
        (
            self.edges.write.mode("overwrite")
            .bucketBy(buckets, "src").sortBy("src")
            .format("parquet").saveAsTable(f"{prefix}_edges")
        )

    def closure(self, edge_type: str = "CONTAINS", max_depth: int = 6) -> DataFrame:
        """Cached ancestor→descendant closure ``(anc, desc, hops)`` of an
        acyclic containment forest — the ingest-time precompute behind
        every ``[:CONTAINS*]`` pattern (query.go:126, :292). Built once
        per (edge_type, depth) and persisted; J2/J6-style traversals are
        then single equi-joins instead of iterative BFS rounds."""
        def build() -> DataFrame:
            from codegraph_spark.operators.traversal import forest_closure

            p = self.edges.sparkSession.sparkContext.defaultParallelism
            return (
                forest_closure(self.edges, max_depth, edge_type=edge_type)
                .repartition(p)  # union-of-levels plan → compact task count
            )

        return self.cached_view((edge_type, max_depth), build)

    def closure_from(
        self,
        anc_prefix: str,
        edge_type: str = "CONTAINS",
        max_depth: int = 6,
        hops_leq: int | None = None,
    ) -> DataFrame:
        """Cached ancestor-rooted slice of :meth:`closure` — rows whose
        ``anc`` id carries the given prefix (= node-label namespace of
        the graph's id scheme, e.g. ``"region:"``), optionally capped
        at ``hops_leq`` levels (baked into the persisted slice, so a
        depth-capped lookup never re-scans the deeper rows).

        Serving-layer pattern: service-anchored traversals (service
        deps, query.go:288-292) only ever look up service roots, but a
        full-closure scan touches every (anc, desc) pair — depth× the
        node count. Slicing once and persisting makes each subsequent
        lookup scan only the service-rooted rows (the on-disk analog is
        partitioning the closure table by anc label at ingest)."""
        def build() -> DataFrame:
            clo = self.closure(edge_type, max_depth).filter(
                F.col("anc").startswith(anc_prefix)
            )
            if hops_leq is not None:
                clo = clo.filter(F.col("hops") <= hops_leq)
            return clo

        return self.cached_view((edge_type, max_depth, anc_prefix, hops_leq), build)

    def warm_serving_caches(
        self,
        *,
        closures: "Sequence[tuple[str, int]]" = (),
        rooted_slices: "Sequence[tuple[str, str, int, int | None]]" = (),
        hot_labels: "Sequence[str]" = (),
        edge_types: "Sequence[str] | None" = None,
        trigram_fields: "Sequence[str] | None" = None,
    ) -> None:
        """Materialize the graph's ingest-time serving structures: base
        tables, per-type edge subsets, and any requested closures /
        rooted closure slices / hot label subsets / trigram posting
        table. One call = the warehouse build; serving queries then only
        ever touch warm storage (a cluster deployment runs it once per
        graph refresh).

        The warm SET is caller-provided — which roots, labels, and
        search fields are hot is a property of the dataset's query
        layer, not of the graph structure (the recast TPC-H graph warms
        ``region:`` roots and Order callers; a code graph built by
        index_project warms ``service:`` roots and File/Function).
        ``edge_types`` defaults to every type present in the graph —
        one distinct-scan at ingest, never on the query path.
        """
        # base caches first (everything below reads them — materializing
        # them once up front keeps the concurrent jobs from racing to
        # compute the same InMemoryRelation)
        self.nodes.count()
        self.edges.count()
        if edge_types is None:
            edge_types = [
                r[0] for r in self.edges.select("type").distinct().collect()
            ]
        # full closures build SEQUENTIALLY and FIRST: each is an
        # iterative multi-job chain that fills the cluster by itself,
        # and the rooted slices below memoize through self.closure()
        # (concurrent first-builds of one memo key would race the
        # check-then-set and leak a persisted duplicate). Rooted slices
        # whose parent closure is not in the warm list get it seeded
        # here for the same reason.
        for et, depth in closures:
            self.closure(et, max_depth=depth).count()
        for _, et, depth, _ in rooted_slices:
            # count, not just construct: an unmaterialized parent would
            # have the concurrent slice builds below racing to compute
            # the same InMemoryRelation partitions (when the closures
            # list already built it, this is one cached-scan count)
            self.closure(et, max_depth=depth).count()
        # the remaining derived caches are independent and memoize under
        # distinct keys: materialize them CONCURRENTLY from driver
        # threads (the supported Spark pattern — the small warehouse
        # build stages leave most of the cluster idle when run
        # back-to-back, and the scheduler interleaves them).
        from concurrent.futures import ThreadPoolExecutor

        builds = []
        for et in edge_types:
            builds.append(lambda et=et: self.typed_edges(et).count())
        for prefix, et, depth, hops in rooted_slices:
            builds.append(
                lambda p=prefix, et=et, d=depth, h=hops: self.closure_from(
                    p, et, max_depth=d, hops_leq=h
                ).count()
            )
        for lbl in hot_labels:
            builds.append(lambda lbl=lbl: self.by_label(lbl, cached=True).count())
        if trigram_fields:
            builds.append(
                lambda tf=tuple(trigram_fields): self.trigram_index(tf).count()
            )
        if builds:
            with ThreadPoolExecutor(max_workers=min(8, len(builds))) as ex:
                for fut in [ex.submit(b) for b in builds]:
                    fut.result()  # surface the first failure, wait for all

    def cached_view(self, key, build) -> DataFrame:
        """Materialized view on the graph under a hashable ``key``: built
        once by ``build()``, persisted, served warm thereafter — the
        in-memory analog of an ingest-time denormalized table (what
        Neo4j's BTREE/relationship indexes amortize for the reference;
        at 100 TB the on-disk form is a parquet table refreshed with the
        graph). Every derived structure of the graph (closures, slices,
        typed edges, label subsets, the trigram index) is one of these;
        query modules key theirs ``("__view__", name)``."""
        view = self._cache.get(key)
        if view is None:
            view = build().persist()
            self._cache[key] = view
        return view

    def trigram_index(self, fields: tuple[str, ...] = ("name", "symbol")) -> DataFrame:
        """Cached ``(gram, id)`` posting table over the searchable
        fields (operators/inverted_index.py) — built ONCE per graph at
        first use and persisted, so indexed search serves from the warm
        table with no build stage on the query path (the ingest-time
        analog is ``write_index``/parquet alongside the graph tables)."""
        def build() -> DataFrame:
            from codegraph_spark.operators.inverted_index import build_trigram_index

            p = self.nodes.sparkSession.sparkContext.defaultParallelism
            return (
                build_trigram_index(self.nodes, fields=list(fields))
                .repartition(p, "gram")  # gram-hash layout = pruned lookups
            )

        return self.cached_view(("__trigram__",) + tuple(fields), build)

    def typed_edges(self, edge_type: str) -> DataFrame:
        """Cached per-type edge subset — the Spark analog of Neo4j's
        per-relationship-type store files. Iterative traversals hit one
        edge type ``max_hops`` times (query.go:209 ``CALLS*1..10``);
        filtering + persisting once means every round scans only that
        type's rows instead of re-filtering the full edge table. At
        scale this is the ``partitionBy("type")`` layout of
        :meth:`write_parquet` kept hot in memory."""
        def build() -> DataFrame:
            p = self.edges.sparkSession.sparkContext.defaultParallelism
            # hash-partition on src: iterative traversals probe by src
            # every round, and a known HashPartitioning lets Catalyst
            # skip the exchange if a round ever shuffle-joins. A type
            # subset is ≪ the full edge table, so fewer partitions.
            return (
                self.edges.filter(F.col("type") == edge_type)
                .repartition(max(4, p // 4), F.col("src"))
            )

        return self.cached_view(edge_type, build)

    # ---- primitive lookups (reference: pkg/neo4j/query.go) ---------------
    def by_label(self, label: str, limit: int = 0, cached: bool = False) -> DataFrame:
        """FindNodesByLabel (query.go:25-37). limit 0 = unlimited
        (reference appends LIMIT only when >0, query.go:27-29).
        ``cached=True`` serves from a persisted per-label subset — the
        in-memory analog of the ``partitionBy("label")`` disk layout
        (same pattern as :meth:`typed_edges`); use it on hot serving
        paths that re-touch one label per call."""
        def subset() -> DataFrame:
            return self.nodes.filter(F.col("label") == label)

        out = self.cached_view(("__label__", label), subset) if cached else subset()
        return out.limit(limit) if limit > 0 else out

    def by_property(self, label: str, prop: str, value) -> DataFrame:
        """FindNodeByProperty (query.go:40-50)."""
        return self.nodes.filter((F.col("label") == label) & (F.col(prop) == F.lit(value)))

    def out_edges(self, edge_type: str | None = None) -> DataFrame:
        e = self.edges
        return e.filter(F.col("type") == edge_type) if edge_type else e

    def _hop(self, ids: DataFrame, edge_type: str, incoming: bool) -> DataFrame:
        """1-hop join, alias-scoped so chained hops (e.g. J3's two-hop
        Symbol←DEFINES←Interface←IMPLEMENTS←Class) don't trip Spark's
        ambiguous-self-join detection on repeated nodes/edges plans.

        The target set is a point/seed lookup (reference semantics: one
        symbol, one function — query.go:53-118), so broadcast it: the
        edge and node tables are scanned in place with zero shuffle —
        the plan that survives a 100× scale-up of edges."""
        here, there = ("dst", "src") if incoming else ("src", "dst")
        e = self.out_edges(edge_type).select(
            F.col(here).alias("_anchor"), F.col(there).alias("_other")
        )
        tgt = F.broadcast(ids.select(F.col("id").alias("_tgt")))
        n = self.nodes.alias("n")
        # matched = edges touching the target set — small again, so
        # broadcast it into the node-resolve join (nodes stay in place).
        matched = F.broadcast(tgt.join(e, F.col("_tgt") == F.col("_anchor")))
        return matched.join(n, F.col("_other") == F.col("n.id")).select("n.*")

    def in_neighbors(self, target_ids: DataFrame, edge_type: str) -> DataFrame:
        """Nodes with an edge of ``edge_type`` INTO the given targets —
        the 1-hop incoming pattern behind go-to-definition
        (query.go:53-118) and callers (mcp-server/main.go:479-483)."""
        return self._hop(target_ids, edge_type, incoming=True)

    def out_neighbors(self, source_ids: DataFrame, edge_type: str) -> DataFrame:
        """1-hop outgoing (callees — mcp-server/main.go:501-505)."""
        return self._hop(source_ids, edge_type, incoming=False)
