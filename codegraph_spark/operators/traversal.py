"""Variable-length graph traversal as iterative DataFrame joins.

This is the one genuinely custom piece the reference delegates to Neo4j
(Cypher ``[:T*1..k]`` patterns — /root/reference/pkg/neo4j/query.go:209
``CALLS*1..10``, :250 ``FLOWS_TO*1..15``, :126/:292 ``CONTAINS*``).
Spark has no recursive CTE, so traversal is a bounded loop of
frontier-extension joins.

Cypher semantics note (SURVEY §7.3): Cypher paths are relationship-
unique trails. For DISTINCT-endpoint queries (impact analysis, service
deps) a node-visited BFS is endpoint-equivalent and much cheaper — we
use that. For path-returning queries (data-flow trace) we enumerate
node-simple paths with an ``array_contains`` cycle guard, as the
reference's 15-hop bound keeps the explosion finite.

Scale design: seeds anchor every traversal here, so the frontier is
small and the edge table is scanned in place, never shuffled.
- :func:`bfs_visited` keeps its frontier and visited set on the driver,
  runs each superstep as ONE job (the edge scan filtered by the frontier
  ids, :func:`id_filter`) and halts at the first empty frontier; a
  traced ``code_serving`` benchmark run averages 2.0 jobs per serving
  op (``tests/test_serving_overhead.py`` pins per-call counts);
- :func:`transitive_closure`, :func:`bfs_multi_source` and
  :func:`enumerate_paths` are loops of the shared
  :func:`~codegraph_spark.operators.supersteps.supersteps`; the two
  seed-anchored ones (:func:`_hop_rounds`) broadcast the frontier
  into a scan of every edge partition, run two jobs a round
  (the broadcast and the count of the rows reached) and halt at the
  first round that reaches no row.
"""

from __future__ import annotations

import json
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from codegraph_spark.operators.supersteps import supersteps


def _directed(edges: DataFrame, edge_type: str | None, direction: str) -> DataFrame:
    e = edges.filter(F.col("type") == edge_type) if edge_type else edges
    if direction == "out":
        return e.select(F.col("src").alias("_from"), F.col("dst").alias("_to"))
    if direction == "in":
        return e.select(F.col("dst").alias("_from"), F.col("src").alias("_to"))
    if direction == "both":
        return e.select(F.col("src").alias("_from"), F.col("dst").alias("_to")).unionByName(
            e.select(F.col("dst").alias("_from"), F.col("src").alias("_to"))
        )
    raise ValueError(f"direction must be out|in|both, got {direction!r}")


def id_filter(col: str, ids) -> Column:
    """``col IN ids`` for a set of string or integer ids on the driver,
    as ONE SQL expression: one py4j call whatever its size (``isin``
    makes one per id). Above ten ids Spark's optimizer turns the list
    into a hash-set test (``InSet``), not a per-row scan."""

    def sql(v) -> str:
        if isinstance(v, str):
            return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
        if isinstance(v, int) and not isinstance(v, bool):
            return str(v)
        raise TypeError(f"id of unsupported type {type(v).__name__}: {v!r}")

    lits = ", ".join(map(sql, ids))
    return F.expr(f"`{col}` IN ({lits})") if lits else F.lit(False)


def bfs_visited(edges: DataFrame, seeds, max_hops: int,
                edge_type: str | None = None, direction: str = "out") -> dict:
    """The BFS superstep loop: ``{id: min hops}`` of every node within
    ``max_hops`` of the seed ids (seeds at 0). Each superstep is ONE job
    collecting the edges that leave the frontier; ids already visited
    are dropped, and the loop halts at the first empty frontier
    (Pregel's "no active vertex") or at ``max_hops``, so a traversal
    that dies out after d hops costs d + 1 supersteps."""
    e = _directed(edges, edge_type, direction)
    visited = dict.fromkeys(seeds, 0)
    frontier = list(visited)
    for hop in range(1, max_hops + 1):
        if not frontier:
            break
        reached = e.filter(id_filter("_from", frontier)).select("_to").collect()
        frontier = []
        for (i,) in reached:
            if i not in visited:
                visited[i] = hop
                frontier.append(i)
    return visited


def bfs_reachable(
    edges: DataFrame,
    sources: DataFrame,
    max_hops: int,
    edge_type: str | None = None,
    direction: str = "out",
    include_sources: bool = False,
) -> DataFrame:
    """Distinct nodes reachable in 1..max_hops (min-hop annotated).

    Implements the endpoint semantics of Cypher ``(seed)-[:T*1..k]->(x)
    RETURN DISTINCT x`` (impact analysis, query.go:203-242; call-graph
    building, query/advanced.go:242-290). Cycles are handled by the
    visited set. One job collects the seed ids; :func:`bfs_visited`'s
    map comes back as ONE JSON literal ``(id, hops)`` frame: one py4j
    call whatever its size, and no job until consumed."""
    seeds = [r[0] for r in sources.select("id").collect()]
    visited = bfs_visited(edges, seeds, max_hops, edge_type, direction)
    rows = [{"id": i, "hops": h} for i, h in visited.items() if include_sources or h]
    ddl = f"array<struct<id {edges.schema['dst'].dataType.simpleString()}, hops int>>"
    return edges.sparkSession.range(1, numPartitions=1).select(
        F.inline(F.from_json(F.lit(json.dumps(rows)), ddl))
    )


def _rows(df: DataFrame) -> int:
    """``df``'s row count as ONE job of one task per partition.
    ``DataFrame.count`` plans an exchange that AQE runs as a job of its
    own, and ``coalesce(1).count()`` would compute every partition of a
    lazy checkpoint in one task."""
    return df._jdf.queryExecution().toRdd().count()


def _hop_rounds(start: DataFrame, e: DataFrame, key: str, max_hops: int, settle, extend) -> None:
    """The superstep loop of the seed-anchored traversals. The state is
    the rows reached at one hop (``start`` at hop 0). A round hands them
    to ``settle(rows, hop)``, which keeps them and returns the frontier
    to leave from; it broadcasts that frontier into a join with the
    edges leaving its ``key`` node (the edges are scanned in place, in
    every partition), and ``extend(joined, hop + 1)`` returns the rows
    reached. Per round: the broadcast job, and the witness job that
    counts the reached rows in parallel. The witness is their running
    total, so the loop halts at the first round that reaches no row.
    Past ``max_hops`` a round settles its input and reaches nothing,
    with no job."""
    hop = 0

    def hop_round(rows: DataFrame) -> DataFrame:
        nonlocal hop
        frontier = F.broadcast(settle(rows, hop))
        hop += 1
        if hop > max_hops:
            return rows.limit(0)
        return extend(frontier.join(e, frontier[key] == e._from), hop)

    total = 0

    def reached(rows: DataFrame) -> int:
        nonlocal total
        if hop <= max_hops:
            total += _rows(rows)
        return total

    supersteps(start, hop_round, witness=reached, start_witness=0)


def bfs_multi_source(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int,
    edge_type: str | None = None,
    direction: str = "out",
) -> DataFrame:
    """Min-hop BFS from EVERY seed simultaneously: ``(seed, id, hops)``
    with ``hops`` = the minimum hop count from that seed, seeds
    excluded from their own result (the :func:`bfs_reachable`
    convention).

    The sampled-centrality shape (Eppstein & Wang 2004): k per-seed
    BFS runs cost k × depth frontier rounds; tagging the frontier with
    its seed instead costs one round per hop of the deepest seed, plus
    the round that reaches no row. The visited set keys by (seed, id)
    and keeps each pair's minimum hop count: one partition, regrouped
    with the rows each round reaches, and its pairs of the last hop
    are the next frontier. Rows that reach a pair again count as
    reached, so when the last frontier only leads back into visited
    pairs, one more round (with an empty frontier) ends the loop.

    :param seeds: DataFrame with ``seed`` (tag) and ``id`` (start
        node) columns — pass ``seed = id`` for plain multi-source.
    """
    visited = None

    def settle(reached: DataFrame, hop: int) -> DataFrame:
        nonlocal visited
        if visited is not None:
            reached = visited.unionByName(reached).coalesce(1)
        visited = (
            reached.groupBy("seed", "id").agg(F.min("hops").alias("hops"))
            .localCheckpoint(eager=False)
        )
        return visited.filter(F.col("hops") == hop)

    def extend(joined: DataFrame, hop: int) -> DataFrame:
        return joined.select("seed", F.col("_to").alias("id"), F.lit(hop).alias("hops"))

    start = seeds.select("seed", "id", F.lit(0).alias("hops"))
    _hop_rounds(start, _directed(edges, edge_type, direction), "id", max_hops, settle, extend)
    return visited.filter(F.col("hops") >= 1)


def forest_closure(
    edges: DataFrame,
    max_depth: int,
    edge_type: str | None = None,
) -> DataFrame:
    """Ancestor→descendant closure ``(anc, desc, hops)`` of an acyclic
    containment forest, as ONE declarative plan (``max_depth`` chained
    equi-joins, unioned).

    This is the precomputed form of the reference's ``(x)<-[:CONTAINS*]-
    (root)`` climbs (find-references' containing file, query.go:126;
    service-deps' descendant scan, query.go:292). The CONTAINS hierarchy
    is a forest (every node has one parent, schema constraint — SURVEY
    §1.3), so paths are unique: no visited-set, no per-round dedup, no
    driver-side loop barriers. Catalyst sees the whole union and
    pipelines it; at 100 TB this materializes once at ingest and every
    traversal becomes a single equi-join against it.
    """
    e = edges.filter(F.col("type") == edge_type) if edge_type else edges
    base = e.select(F.col("src").alias("anc"), F.col("dst").alias("desc"))
    hop = base.select("anc", "desc").withColumn("hops", F.lit(1))
    levels = [hop]
    cur = base.select("anc", F.col("desc").alias("mid"))
    for k in range(2, max_depth + 1):
        step = base.select(F.col("anc").alias("mid"), F.col("desc").alias("d2"))
        nxt = cur.join(step, "mid").select(
            "anc", F.col("d2").alias("desc"), F.lit(k).alias("hops")
        )
        levels.append(nxt)
        cur = nxt.select("anc", F.col("desc").alias("mid"))
    out = levels[0]
    for lv in levels[1:]:
        out = out.unionByName(lv)
    return out


def transitive_closure(edges: DataFrame, max_depth: int = 64) -> DataFrame:
    """All-pairs reachability ``(src, dst)`` — the batch analog of
    ``(a)-[:CONTAINS*]->(b)`` used to find containing files/services
    (query.go:126, :292).

    Uses path-doubling (closure ⋈ closure), so a depth-d hierarchy
    closes in ⌈log2 d⌉ supersteps instead of d, plus one whose unchanged
    size confirms it — at 100 TB the CONTAINS forest is shallow (≤ 6
    levels) and this is 4 rounds of equi-joins. A graph still growing
    after the doublings that span ``max_depth`` hops raises
    ``RuntimeError`` instead of returning a partial closure. Safe on
    cycles (converges to SCC-pairs), intended for DAGs/forests.
    """

    def doubling_round(clo: DataFrame) -> DataFrame:
        a, b = clo.alias("a"), clo.alias("b")
        longer = a.join(b, F.col("a.dst") == F.col("b.src")).select(
            F.col("a.src").alias("src"), F.col("b.dst").alias("dst")
        )
        return clo.unionByName(longer).distinct()

    start = edges.select("src", "dst").distinct()
    rounds = max_depth.bit_length() + 1
    return supersteps(start, doubling_round, rounds=rounds, witness=DataFrame.count)[0]


def enumerate_paths(
    edges: DataFrame,
    sources: DataFrame,
    max_hops: int,
    edge_type: str | None = None,
    direction: str = "out",
) -> DataFrame:
    """Enumerate node-simple paths of length 1..max_hops from the seeds.

    Implements the path-returning semantics of
    ``path = (p)-[:FLOWS_TO*1..15]->(u) RETURN nodes(path)``
    (TraceDataFlow, query.go:245-285): per-path node arrays, cycle
    pruned via ``array_contains`` (SURVEY §7.3 risk 1).

    Seed-anchored like :func:`bfs_reachable`: each round extends the
    paths of the last hop by one edge (:func:`_hop_rounds`), keeping
    each hop's paths as one checkpoint of their own, and the loop
    halts at the first hop that extends no path.

    :returns: DataFrame ``(start, end, path array<string>, hops)``.
    """
    levels = []

    def settle(paths: DataFrame, hop: int) -> DataFrame:
        levels.append(paths)
        return paths

    def extend(joined: DataFrame, hop: int) -> DataFrame:
        return joined.filter(~F.array_contains(F.col("path"), F.col("_to"))).select(
            "start",
            F.col("_to").alias("end"),
            F.concat(F.col("path"), F.array(F.col("_to"))).alias("path"),
            F.lit(hop).alias("hops"),
        )

    start = (
        sources.select(F.col("id").alias("start"))
        .distinct()
        .select(
            "start",
            F.col("start").alias("end"),
            F.array(F.col("start")).alias("path"),
            F.lit(0).alias("hops"),
        )
    )
    _hop_rounds(start, _directed(edges, edge_type, direction), "end", max_hops, settle, extend)
    if len(levels) == 1:
        return start.limit(0)
    return reduce(DataFrame.unionByName, levels[1:])
