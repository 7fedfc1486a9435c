"""Variable-length traversal queries (SURVEY §2.3 J2/J4/J5/J6) — the
Cypher ``[:T*1..k]`` patterns as iterative DataFrame programs, verified
against DuckDB ``WITH RECURSIVE`` oracles with the same depth bounds
and cycle guards.

Semantics note (SURVEY §7.3): BFS-with-visited-set returns min-hop
DISTINCT endpoints *excluding the seed set*. That equals the recursive-
CTE min-hop result restricted to non-seeds, because a shortest path
from a seed set never passes through another seed. Oracles encode
exactly that.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from codegraph_spark.graph import PropertyGraph
from codegraph_spark.operators.traversal import bfs_reachable, enumerate_paths
from codegraph_spark.oracle import with_recast


def _graph(spark: SparkSession, sf_dir: str) -> PropertyGraph:
    return PropertyGraph.from_tpch_recast(spark, sf_dir)


#: depth of the recast CONTAINS forest (Region→Nation→Customer/Supplier
#: →Order→LineItem — sources/recast.py). The closure is exact at this
#: bound; deeper levels would be empty joins at ingest.
CONTAINS_DEPTH = 4


# --- j4: impact analysis — bounded BFS over CALLS (query.go:203-242) --------
def _j4_seeds(g: PropertyGraph) -> DataFrame:
    """The impact query's fixed anchor: Customer 1's Order nodes."""
    return (
        g.typed_edges("CONTAINS")
        .join(
            g.nodes.filter((F.col("label") == "Customer") & (F.col("key") == 1)).select("id"),
            F.col("src") == F.col("id"),
        )
        .select(F.col("dst").alias("id"))
    )


def j4_impact_view(g: PropertyGraph) -> DataFrame:
    """The impact BFS closure as a warehouse view — built at ingest
    (warm_views), served warm: the reached set of a FIXED seed anchor
    is output-sized (the j6_deps_view pattern the r4 verdict adopted),
    so a vanilla serving session pays the 10 sequential supersteps
    once, not per query."""
    return g.cached_view(
        ("__view__", "j4_impact_bfs"),
        lambda: bfs_reachable(
            g.typed_edges("CALLS"), _j4_seeds(g), max_hops=10
        ).select("id", "hops"),
    )


def j4_impact_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(seed)-[:CALLS*1..10]->(x) RETURN DISTINCT x`` with min-hop
    annotation. Seeds: the Order nodes of Customer 1. The CALLS graph
    has chains + back-edge cycles, so this exercises the visited set
    (inside :func:`j4_impact_view`'s one-time build)."""
    return j4_impact_view(_graph(spark, sf_dir))


_J4_SQL = with_recast(
    extra_ctes="""
seeds AS (
    SELECT 'orders:' || o_orderkey AS id FROM orders WHERE o_custkey = 1
),
reach(id, hops) AS (
    SELECT e.dst, 1 FROM gedges e JOIN seeds s ON e.src = s.id WHERE e.type = 'CALLS'
    UNION
    SELECT e.dst, r.hops + 1
    FROM reach r JOIN gedges e ON e.type = 'CALLS' AND e.src = r.id
    WHERE r.hops < 10
)
""",
    sql="""
SELECT id, MIN(hops) AS hops FROM reach
WHERE id NOT IN (SELECT id FROM seeds)
GROUP BY id
""",
)


# --- j4b: impact → affected API surface (the EXPOSES_API final hop) ----------
def j4_impact_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference chains the BFS into ``-[:EXPOSES_API]->(route) RETURN
    DISTINCT route`` (query.go:222-241). Recast: reached Orders →
    CONTAINS → LineItem → REFERENCES → Part, DISTINCT parts."""
    g = _graph(spark, sf_dir)
    reached = j4_impact_view(g).select("id")
    contains = g.typed_edges("CONTAINS").select(
        F.col("src").alias("id"), F.col("dst").alias("li_id")
    )
    refs = g.typed_edges("REFERENCES").select(
        F.col("src").alias("li_id"), F.col("dst").alias("part_id")
    )
    parts = g.nodes.filter(F.col("label") == "Part").select(
        F.col("id").alias("part_id"), F.col("name").alias("part_name")
    )
    # reached (and its CONTAINS expansion) is seed-anchored → broadcast;
    # parts scales with data size → strategy left to stats/AQE.
    return (
        F.broadcast(F.broadcast(reached).join(contains, "id"))
        .join(refs, "li_id")
        .join(parts, "part_id")
        .select(F.col("part_id").alias("id"), F.col("part_name").alias("name"))
        .distinct()
    )


_J4B_SQL = with_recast(
    extra_ctes="""
seeds AS (
    SELECT 'orders:' || o_orderkey AS id FROM orders WHERE o_custkey = 1
),
reach(id, hops) AS (
    SELECT e.dst, 1 FROM gedges e JOIN seeds s ON e.src = s.id WHERE e.type = 'CALLS'
    UNION
    SELECT e.dst, r.hops + 1
    FROM reach r JOIN gedges e ON e.type = 'CALLS' AND e.src = r.id
    WHERE r.hops < 10
)
""",
    sql="""
SELECT DISTINCT p.id AS id, p.name AS name
FROM (SELECT DISTINCT id FROM reach WHERE id NOT IN (SELECT id FROM seeds)) r
JOIN gedges c ON c.type = 'CONTAINS' AND c.src = r.id
JOIN gedges x ON x.type = 'REFERENCES' AND x.src = c.dst
JOIN gnodes p ON p.id = x.dst AND p.label = 'Part'
""",
)


# --- j2: find-references + containing-file closure (query.go:121-163) --------
def j2_references_with_file(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(sym)<-[:REFERENCES]-(usage)`` then ``(usage)<-[:CONTAINS*]-
    (file:File)``, ORDER BY file.path, line. Recast: Part 7's usage
    LineItems, climbing the CONTAINS forest to the Region root."""
    g = _graph(spark, sf_dir)
    part = g.nodes.filter((F.col("label") == "Part") & (F.col("key") == 7)).select("id")
    usages = g.in_neighbors(part, "REFERENCES").select("id", F.col("key").alias("usage_key"))
    # ancestor climb = one equi-join against the ingest-time CONTAINS
    # closure (no iterative BFS on the query path — SURVEY §2.3 J2
    # "precompute a containing_file closure at load").
    anc = g.closure("CONTAINS", max_depth=CONTAINS_DEPTH).select(
        F.col("desc").alias("usage_id"), F.col("anc").alias("anc_id")
    )
    roots = g.nodes.filter(F.col("label") == "Region").select(
        F.col("id").alias("anc_id"), F.col("name").alias("file_name")
    )
    return (
        F.broadcast(usages).join(anc, usages.id == anc.usage_id)
        .join(F.broadcast(roots), "anc_id")
        .select("usage_id", "file_name", "usage_key")
        .orderBy("file_name", "usage_key")
    )


_J2_SQL = with_recast(
    extra_ctes="""
usages AS (
    SELECT e.src AS usage_id, n.key AS usage_key
    FROM gnodes p
    JOIN gedges e ON e.type = 'REFERENCES' AND e.dst = p.id
    JOIN gnodes n ON n.id = e.src
    WHERE p.label = 'Part' AND p.key = 7
),
anc(usage_id, node, hops) AS (
    SELECT u.usage_id, e.src, 1
    FROM usages u JOIN gedges e ON e.type = 'CONTAINS' AND e.dst = u.usage_id
    UNION
    SELECT a.usage_id, e.src, a.hops + 1
    FROM anc a JOIN gedges e ON e.type = 'CONTAINS' AND e.dst = a.node
    WHERE a.hops < 6
)
""",
    sql="""
SELECT u.usage_id AS usage_id, r.name AS file_name, u.usage_key AS usage_key
FROM usages u
JOIN anc a ON a.usage_id = u.usage_id
JOIN gnodes r ON r.id = a.node AND r.label = 'Region'
ORDER BY file_name, usage_key
""",
)


# --- j5: data-flow trace with path capture (query.go:245-285) ----------------
def j5_dataflow_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``path = (seed)-[:FLOWS_TO*1..15]->(u) RETURN nodes(path)`` —
    node-simple paths, cycle-guarded, 15-hop bound. Seeds: the chain
    heads (no incoming FLOWS_TO) of suppliers 0-2."""
    g = _graph(spark, sf_dir)
    flows = g.typed_edges("FLOWS_TO")
    supp_sel = (
        g.typed_edges("DEPENDS_ON")
        .join(
            g.nodes.filter((F.col("label") == "Supplier") & (F.col("key") <= 2)).select("id"),
            F.col("dst") == F.col("id"),
        )
        .select(F.col("src").alias("li"))
    )
    heads = (
        supp_sel.join(flows.select(F.col("dst").alias("li")), "li", "left_anti")
        .join(flows.select(F.col("src").alias("li")), "li", "left_semi")
        .select(F.col("li").alias("id"))
    )
    paths = enumerate_paths(g.typed_edges("FLOWS_TO"), heads, max_hops=15)
    return paths.select(
        "start", "end", F.array_join("path", "->").alias("path_str"), "hops"
    )


_J5_SQL = with_recast(
    extra_ctes="""
flows AS (SELECT src, dst FROM gedges WHERE type = 'FLOWS_TO'),
heads AS (
    SELECT d.src AS id
    FROM gedges d
    JOIN gnodes s ON s.id = d.dst AND s.label = 'Supplier' AND s.key <= 2
    WHERE d.type = 'DEPENDS_ON'
      AND d.src NOT IN (SELECT dst FROM flows)
      AND d.src IN (SELECT src FROM flows)
),
walk(start, "end", path, hops) AS (
    SELECT id, id, [id], 0 FROM heads
    UNION ALL
    SELECT w.start, f.dst, list_append(w.path, f.dst), w.hops + 1
    FROM walk w JOIN flows f ON f.src = w."end"
    WHERE w.hops < 15 AND NOT list_contains(w.path, f.dst)
)
""",
    sql="""
SELECT start, "end", array_to_string(path, '->') AS path_str, hops
FROM walk WHERE hops >= 1
""",
)


def member_symbols_view(g: PropertyGraph) -> DataFrame:
    """callee → defined foreign symbol: the CONTAINS ⋈ REFERENCES ⋈
    symbol-dim chain, materialized ONCE per graph (cached_view) — the
    denormalized serving table every service-deps/a4 call otherwise
    re-derives (~3 joins over edge-scale rows per call). Its rows scale
    with the data (never broadcast); join strategy left to AQE."""

    def build() -> DataFrame:
        contains = g.typed_edges("CONTAINS").select(
            F.col("src").alias("callee_id"), F.col("dst").alias("li_id")
        )
        refs = g.typed_edges("REFERENCES").select(
            F.col("src").alias("li_id"), F.col("dst").alias("part_id")
        )
        parts = g.nodes.filter(F.col("symbol").isNotNull()).select(
            F.col("id").alias("part_id"), "symbol"
        )
        return (
            contains.join(refs, "li_id").join(parts, "part_id")
            .select("callee_id", "symbol")
        )

    return g.cached_view(("__view__", "member_symbols"), build)


def warm_views(spark: SparkSession, sf_dir: str) -> None:
    """The recast graph's full warehouse build: the generic serving
    caches with THIS dataset's warm set (service roots are ``region:``,
    callers are Order nodes, search touches name/symbol — constants
    that belong here in the queries layer, not in PropertyGraph), plus
    every query-layer materialized view. Ingest-time work (bench runs
    it inside ingest_sec)."""
    g = _graph(spark, sf_dir)
    g.warm_serving_caches(
        closures=(("CONTAINS", CONTAINS_DEPTH),),
        rooted_slices=(("region:", "CONTAINS", CONTAINS_DEPTH, 3),),
        hot_labels=("Order",),
        trigram_fields=("name", "symbol"),
    )
    # the three query-layer views build SEQUENTIALLY, deliberately NOT
    # on the warm_serving_caches thread pool: j6_deps_view's build
    # memoizes through member_symbols_view, so the two would contest one
    # cached_view key (the check-then-set race graph.py engineers
    # around). j4_impact_view's BFS sets no session conf (its supersteps
    # are driver-side collects), so it is not what keeps this stage
    # sequential; the parallel win lives in the flat stage above.
    member_symbols_view(g).count()
    j6_deps_view(g).count()
    j4_impact_view(g).count()


# --- j6: service dependency discovery (query.go:288-323) ----------------------
def j6_deps_view(g: PropertyGraph) -> DataFrame:
    """The UNORDERED j6 dependency set as a warehouse view — built at
    ingest (warm_views), served warm. The ~88k-row distinct result is
    output-sized, so materializing it moves the whole 5-join compute
    off the query path; serving pays only ORDER BY + transfer (the
    reference's Cypher pays the same tail against its warm Neo4j)."""

    def build() -> DataFrame:
        svc = g.nodes.filter(
            (F.col("label") == "Region") & (F.col("key") == 0)
        ).select("id")
        # descendant scan = closure equi-join (forest ⇒ min-hop unique);
        # replaces 3 BFS rounds with one lookup into the ingest-time
        # closure. NARROW BEFORE BROADCAST: the raw descendant set of a
        # service is huge (every LineItem under it); the callers we
        # chain through are only its Order nodes. Join the label dim
        # first (plain equi-join — AQE picks the strategy), then
        # broadcast the small caller set through the edge chain so the
        # big tables are scanned in place.
        descendants = (
            g.closure_from("region:", "CONTAINS", max_depth=CONTAINS_DEPTH, hops_leq=3)
            .join(F.broadcast(svc), F.col("anc") == F.col("id"))
            .select(F.col("desc").alias("id"))
        )
        callers = descendants.join(
            g.by_label("Order", cached=True).select(
                "id", F.col("name").alias("caller_name")
            ),
            "id",
        )
        calls = g.typed_edges("CALLS").select(
            F.col("src").alias("id"), F.col("dst").alias("callee_id")
        )
        return (
            callers.join(calls, "id")
            .join(member_symbols_view(g), "callee_id")
            .filter(F.col("symbol").contains(" ") & ~F.col("symbol").contains("pkg0"))
            .select(
                F.split(F.col("symbol"), " ").getItem(2).alias("foreign_pkg"),
                F.col("caller_name"),
            )
            .distinct()
        )

    return g.cached_view(("__view__", "j6_deps"), build)


def j6_service_deps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(svc)-[:CONTAINS*]->(caller)-[:CALLS]->(fn)``, fn's definition
    symbol filtered to foreign packages, project split(symbol)[2],
    DISTINCT, ORDER BY. Recast: Region 0 ⇒ descendant Orders ⇒ CALLS ⇒
    callee's LineItems ⇒ REFERENCES ⇒ Part symbols not in pkg0. Serves
    from the warehouse view (j6_deps_view); only the ordering runs per
    call."""
    g = _graph(spark, sf_dir)
    return j6_deps_view(g).orderBy("foreign_pkg", "caller_name")


_J6_SQL = with_recast(
    extra_ctes="""
reach(id, hops) AS (
    SELECT e.dst, 1 FROM gedges e WHERE e.type = 'CONTAINS' AND e.src = 'region:0'
    UNION
    SELECT e.dst, r.hops + 1
    FROM reach r JOIN gedges e ON e.type = 'CONTAINS' AND e.src = r.id
    WHERE r.hops < 3
)
""",
    sql="""
SELECT DISTINCT split_part(p.symbol, ' ', 3) AS foreign_pkg, o.name AS caller_name
FROM (SELECT DISTINCT id FROM reach WHERE id <> 'region:0') r
JOIN gnodes o ON o.id = r.id AND o.label = 'Order'
JOIN gedges cl ON cl.type = 'CALLS' AND cl.src = o.id
JOIN gedges c ON c.type = 'CONTAINS' AND c.src = cl.dst
JOIN gedges x ON x.type = 'REFERENCES' AND x.src = c.dst
JOIN gnodes p ON p.id = x.dst AND p.symbol IS NOT NULL
WHERE p.symbol LIKE '% %' AND p.symbol NOT LIKE '%pkg0%'
ORDER BY foreign_pkg, caller_name
""",
)


# --- a4: dependencies grouped by foreign service (advanced.go:148-177) -------
def a4_deps_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference groups discovered dependencies by foreignService
    host-side (CallingFunctions list + CallCount counter,
    advanced.go:148-177); here the same group-by runs distributed over
    the J6 result: ``collect_set`` sorted for determinism + count. The
    list is serialized to a comma-joined scalar so the result is a plain
    hashable row (the reference's CallingFunctions list is JSON-encoded
    at the serving boundary anyway)."""
    deps = j6_service_deps(spark, sf_dir)
    return deps.groupBy("foreign_pkg").agg(
        F.array_join(
            F.sort_array(F.collect_set("caller_name")), ","
        ).alias("calling_functions"),
        F.count("*").alias("call_count"),
    )


_A4_SQL = with_recast(
    extra_ctes="""
reach(id, hops) AS (
    SELECT e.dst, 1 FROM gedges e WHERE e.type = 'CONTAINS' AND e.src = 'region:0'
    UNION
    SELECT e.dst, r.hops + 1
    FROM reach r JOIN gedges e ON e.type = 'CONTAINS' AND e.src = r.id
    WHERE r.hops < 3
),
deps AS (
    SELECT DISTINCT split_part(p.symbol, ' ', 3) AS foreign_pkg, o.name AS caller_name
    FROM (SELECT DISTINCT id FROM reach WHERE id <> 'region:0') r
    JOIN gnodes o ON o.id = r.id AND o.label = 'Order'
    JOIN gedges cl ON cl.type = 'CALLS' AND cl.src = o.id
    JOIN gedges c ON c.type = 'CONTAINS' AND c.src = cl.dst
    JOIN gedges x ON x.type = 'REFERENCES' AND x.src = c.dst
    JOIN gnodes p ON p.id = x.dst AND p.symbol IS NOT NULL
    WHERE p.symbol LIKE '% %' AND p.symbol NOT LIKE '%pkg0%'
)
""",
    sql="""
SELECT foreign_pkg,
       list_aggregate(list_sort(list(DISTINCT caller_name)), 'string_agg', ',')
           AS calling_functions,
       count(*) AS call_count
FROM deps
GROUP BY foreign_pkg
""",
)


QUERIES = {
    "j4_impact_bfs": j4_impact_bfs,
    "a4_deps_grouped": a4_deps_grouped,
    "j4_impact_api": j4_impact_api,
    "j2_references_with_file": j2_references_with_file,
    "j5_dataflow_paths": j5_dataflow_paths,
    "j6_service_deps": j6_service_deps,
}

ORACLES = {
    "j4_impact_bfs": _J4_SQL,
    "a4_deps_grouped": _A4_SQL,
    "j4_impact_api": _J4B_SQL,
    "j2_references_with_file": _J2_SQL,
    "j5_dataflow_paths": _J5_SQL,
    "j6_service_deps": _J6_SQL,
}
