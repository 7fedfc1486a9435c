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
- :func:`bfs_multi_source` and :func:`enumerate_paths` broadcast their
  frontier into one equi-join per round, chained through lazy
  ``localCheckpoint(eager=False)`` (without it round k's plan replays
  rounds 1..k-1) under the caller's one action. Every round runs, even
  once the frontier is empty; enumerate_paths counts every 5 rounds.
"""

from __future__ import annotations

import json
from contextlib import contextmanager

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


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


@contextmanager
def _tiny_shuffle(df: DataFrame):
    """Scope per-round shuffles of a seed-anchored traversal to one
    partition, AQE off. Rationale: every round's shuffle moves only the
    frontier (≪ edges at any data scale — the edge side is broadcast-
    joined in place), so the default partition count just multiplies
    task-launch overhead, and AQE adds a stage-materialization job per
    round. Only the eager per-round checkpoints execute under this
    scope; settings are restored before the caller's action runs."""
    conf = df.sparkSession.conf
    old_sp = conf.get("spark.sql.shuffle.partitions")
    old_aqe = conf.get("spark.sql.adaptive.enabled")
    conf.set("spark.sql.shuffle.partitions", "1")
    conf.set("spark.sql.adaptive.enabled", "false")
    try:
        yield
    finally:
        conf.set("spark.sql.shuffle.partitions", old_sp)
        conf.set("spark.sql.adaptive.enabled", old_aqe)


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
    BFS runs cost k × max_hops frontier rounds; tagging the frontier
    with its seed instead costs max_hops rounds TOTAL — the visited
    set keys by (seed, id). Rounds chain through lazy flat
    localCheckpoints under the caller's action, with a broadcast
    frontier; all ``max_hops`` rounds run, each with its own broadcast
    jobs, even after the frontier empties.

    :param seeds: DataFrame with ``seed`` (tag) and ``id`` (start
        node) columns — pass ``seed = id`` for plain multi-source.
    """
    e = _directed(edges, edge_type, direction)
    frontier = (
        seeds.select("seed", "id").distinct().localCheckpoint(eager=True)
    )
    levels = [frontier.withColumn("hops", F.lit(0))]
    seen = frontier
    with _tiny_shuffle(edges):
        for hop in range(1, max_hops + 1):
            f, s = F.broadcast(frontier), F.broadcast(seen)
            nxt = (
                f.join(e, f.id == e._from)
                .select("seed", F.col("_to").alias("id"))
                .distinct()
                .join(s, ["seed", "id"], "left_anti")
                .localCheckpoint(eager=False)
            )
            levels.append(nxt.withColumn("hops", F.lit(hop)))
            seen = seen.unionByName(nxt).localCheckpoint(eager=False)
            frontier = nxt
    visited = levels[0]
    for lv in levels[1:]:
        visited = visited.unionByName(lv)
    return (
        visited.localCheckpoint(eager=False).filter(F.col("hops") >= 1)
    )


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
    converges in ⌈log2 d⌉ rounds instead of d — at 100 TB the CONTAINS
    forest is shallow (≤ 6 levels) and this is 3 rounds of equi-joins.
    Safe on cycles (converges to SCC-pairs), intended for DAGs/forests.
    """
    clo = edges.select("src", "dst").distinct().localCheckpoint(eager=False)
    size = clo.count()  # materializes the checkpoint (one job)
    depth = 1
    while depth < max_depth:
        a, b = clo.alias("a"), clo.alias("b")
        new = (
            a.join(b, F.col("a.dst") == F.col("b.src"))
            .select(F.col("a.src").alias("src"), F.col("b.dst").alias("dst"))
        )
        merged = clo.unionByName(new).distinct().localCheckpoint(eager=False)
        merged_size = merged.count()  # one job per doubling round
        if merged_size == size:
            break
        clo, size = merged, merged_size
        depth *= 2
    return clo


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

    Seed-anchored like :func:`bfs_reachable`, so the in-flight path set
    is broadcast into each extension join (edges scanned in place).

    :returns: DataFrame ``(start, end, path array<string>, hops)``.
    """
    e = _directed(edges, edge_type, direction)
    cur = (
        sources.select(F.col("id").alias("start"))
        .distinct()
        .withColumn("end", F.col("start"))
        .withColumn("path", F.array(F.col("start")))
        .withColumn("hops", F.lit(0))
    )
    cur = cur.localCheckpoint(eager=True)
    acc: DataFrame | None = None
    with _tiny_shuffle(edges):
        # Lazy checkpoints flatten each round's plan, with no per-round
        # action; but path enumeration bounds are deep (15) while real
        # path depth is usually shallow, so one periodic count every
        # `check_every` rounds reclaims the early exit at 1/check_every
        # the barrier cost.
        check_every = 5
        for hop in range(1, max_hops + 1):
            cur = (
                F.broadcast(cur).join(e, cur.end == e._from)
                .filter(~F.array_contains(F.col("path"), F.col("_to")))
                .select(
                    "start",
                    F.col("_to").alias("end"),
                    F.concat(F.col("path"), F.array(F.col("_to"))).alias("path"),
                    F.lit(hop).alias("hops"),
                )
            )
            cur = cur.localCheckpoint(eager=False)
            acc = cur if acc is None else acc.unionByName(cur)
            if hop % check_every == 0 and hop < max_hops and cur.count() == 0:
                break
    if acc is None:
        return cur.limit(0)
    return acc.localCheckpoint(eager=False)
