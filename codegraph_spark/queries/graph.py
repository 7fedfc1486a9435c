"""Graph pattern operators on the recast property graph (SURVEY §2.2,
§2.3 J1/J3/J7/J9/J10, §2.4 A1/A2, §2.5 O1, §2.6 F2/F5/F7).

Each query mirrors one reference Cypher pattern; the oracle twin runs on
the identical recast expressed in SQL (codegraph_spark/oracle.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from codegraph_spark.graph import PropertyGraph
from codegraph_spark.operators.search import search_nodes
from codegraph_spark.oracle import with_recast


def _graph(spark: SparkSession, sf_dir: str) -> PropertyGraph:
    return PropertyGraph.from_tpch_recast(spark, sf_dir)


# --- p1: FindNodesByLabel (query.go:25-37) ---------------------------------
def p1_find_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = _graph(spark, sf_dir)
    return g.by_label("Customer").select("id", "label", "name", "key")


_P1_SQL = with_recast("SELECT id, label, name, key FROM gnodes WHERE label = 'Customer'")


# --- p3+o1: SearchNodes with relevance rank (query.go:348-414) --------------
def o1_search_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Case-insensitive substring over name/symbol, label filter,
    CASE rank, ORDER BY rank/name + id tiebreak, LIMIT 50."""
    g = _graph(spark, sf_dir)
    rank_order = [(("Part",), 1), (("LineItem",), 2), (("Order",), 3)]
    out = search_nodes(
        g.nodes, "red", fields=["name", "symbol"],
        node_types=["Part", "LineItem", "Customer", "Supplier"],
        limit=0, rank_order=rank_order,
    )
    return out.orderBy("rank", "name", "id").limit(50).select("id", "label", "name", "rank")


_O1_SQL = with_recast("""
SELECT id, label, name,
       CASE WHEN label = 'Part' THEN 1
            WHEN label = 'LineItem' THEN 2
            WHEN label = 'Order' THEN 3
            ELSE 6 END AS rank
FROM gnodes
WHERE (lower(name) LIKE '%red%' OR lower(symbol) LIKE '%red%')
  AND label IN ('Part', 'LineItem', 'Customer', 'Supplier')
ORDER BY rank, name, id
LIMIT 50
""")


# --- o1b: the same search served through the trigram inverted index ----------
def o1_search_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """o1_search_ranked's exact semantics through the scale path
    (operators/inverted_index.py): gram-intersection candidate
    prefilter → contains verify → identical rank/order/limit. Shares
    o1's oracle — the point IS result-identity with the scan. The
    posting table is the graph's persisted ingest-time index
    (PropertyGraph.trigram_index) — no build stage on the query path."""
    from codegraph_spark.operators.inverted_index import search_via_index

    g = _graph(spark, sf_dir)
    rank_order = [(("Part",), 1), (("LineItem",), 2), (("Order",), 3)]
    index = g.trigram_index(("name", "symbol"))
    out = search_via_index(
        g.nodes, index, "red", fields=["name", "symbol"],
        node_types=["Part", "LineItem", "Customer", "Supplier"],
        limit=0,
    )
    # re-rank with o1's CASE (search_via_index applies the default rank)
    rank = None
    for labels, r in rank_order:
        cond = F.col("label").isin(*labels)
        rank = F.when(cond, r) if rank is None else rank.when(cond, r)
    out = out.withColumn("rank", rank.otherwise(6))
    return out.orderBy("rank", "name", "id").limit(50).select("id", "label", "name", "rank")


# --- p5: string service-membership predicate (query.go:300) -----------------
def p5_symbol_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``symbol CONTAINS ' ' AND NOT symbol CONTAINS $svc`` — the
    cross-service symbol filter."""
    g = _graph(spark, sf_dir)
    return (
        g.nodes.filter(
            F.col("symbol").isNotNull()
            & F.col("symbol").contains(" ")
            & ~F.col("symbol").contains("pkg7")
        )
        .select("id", "symbol")
    )


_P5_SQL = with_recast("""
SELECT id, symbol FROM gnodes
WHERE symbol IS NOT NULL AND symbol LIKE '% %' AND symbol NOT LIKE '%pkg7%'
""")


# --- a1/a2: counts per label / per edge type (system_test.go:72,:238) -------
def a1_count_per_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = _graph(spark, sf_dir)
    return g.nodes.groupBy("label").agg(F.count("*").alias("n")).orderBy(F.desc("n"), "label")


_A1_SQL = with_recast(
    "SELECT label, count(*) AS n FROM gnodes GROUP BY label ORDER BY n DESC, label"
)


def a2_count_per_edge_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = _graph(spark, sf_dir)
    return g.edges.groupBy("type").agg(F.count("*").alias("n")).orderBy(F.desc("n"), "type")


_A2_SQL = with_recast(
    "SELECT type, count(*) AS n FROM gedges GROUP BY type ORDER BY n DESC, type"
)


# --- a7: health counts (system_test.go:284-301) ------------------------------
def a7_health_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = _graph(spark, sf_dir)
    return g.nodes.agg(
        F.count("*").alias("total_nodes"),
        F.countDistinct("label").alias("node_types"),
    )


_A7_SQL = with_recast(
    "SELECT count(*) AS total_nodes, count(DISTINCT label) AS node_types FROM gnodes"
)


# --- j1: FindSymbolDefinition / go-to-definition (query.go:53-118) -----------
def j1_find_definition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hop incoming: ``(Symbol{symbol})<-[:DEFINES]-(def)`` with
    label→kind decode (query.go:80-118). Recast: the Part with key 42
    stands in for the Symbol; incoming REFERENCES edges are its
    definition sites."""
    g = _graph(spark, sf_dir)
    target = g.nodes.filter((F.col("label") == "Part") & (F.col("key") == 42)).select("id")
    defs = g.in_neighbors(target, "REFERENCES")
    kind = (
        F.when(F.col("label") == "LineItem", "function")
        .when(F.col("label") == "Order", "method")
        .otherwise("unknown")
    )
    return defs.select("id", "label", "name", kind.alias("kind"))


_J1_SQL = with_recast("""
SELECT n.id AS id, n.label AS label, n.name AS name,
       CASE WHEN n.label = 'LineItem' THEN 'function'
            WHEN n.label = 'Order' THEN 'method'
            ELSE 'unknown' END AS kind
FROM gnodes t
JOIN gedges e ON e.type = 'REFERENCES' AND e.dst = t.id
JOIN gnodes n ON n.id = e.src
WHERE t.label = 'Part' AND t.key = 42
""")


# --- j3: FindImplementations 3-hop chain (query.go:166-200) ------------------
def j3_three_hop_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symbol ←DEFINES– Interface ←IMPLEMENTS– Class becomes
    Part ←REFERENCES– LineItem ←CONTAINS– Order: two chained equi-joins."""
    g = _graph(spark, sf_dir)
    part = g.nodes.filter((F.col("label") == "Part") & (F.col("key") == 7)).select(
        F.col("id").alias("part_id")
    )
    refs = g.typed_edges("REFERENCES").select(
        F.col("src").alias("li_id"), F.col("dst").alias("part_id")
    )
    contains = g.typed_edges("CONTAINS").select(
        F.col("src").alias("order_id"), F.col("dst").alias("li_id")
    )
    orders = g.nodes.filter(F.col("label") == "Order").select(
        F.col("id").alias("order_id"), F.col("name").alias("order_name")
    )
    # point-lookup chain: each intermediate is bounded by the one Part's
    # fan-in, so broadcast it forward — the edge tables never shuffle.
    return (
        F.broadcast(F.broadcast(F.broadcast(part).join(refs, "part_id")).join(contains, "li_id"))
        .join(orders, "order_id")
        .select(F.col("order_id").alias("id"), F.col("order_name").alias("name"))
        .distinct()
    )


_J3_SQL = with_recast("""
SELECT DISTINCT o.id AS id, o.name AS name
FROM gnodes p
JOIN gedges r ON r.type = 'REFERENCES' AND r.dst = p.id
JOIN gedges c ON c.type = 'CONTAINS' AND c.dst = r.src
JOIN gnodes o ON o.id = c.src AND o.label = 'Order'
WHERE p.label = 'Part' AND p.key = 7
""")


# --- j7: callers / callees (mcp-server/main.go:479-506) ----------------------
def j7_callers_callees(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hop incoming and outgoing CALLS around one node, tagged with
    direction. (Reference LIMITs 10 unordered; we order for determinism
    — the sets here are tiny either way.)"""
    g = _graph(spark, sf_dir)
    target = g.nodes.filter((F.col("label") == "Order") & (F.col("key") == 100)).select("id")
    callers = g.in_neighbors(target, "CALLS").select(
        "id", "name", F.lit("caller").alias("direction")
    )
    callees = g.out_neighbors(target, "CALLS").select(
        "id", "name", F.lit("callee").alias("direction")
    )
    return callers.unionByName(callees).orderBy("direction", "id").limit(10)


_J7_SQL = with_recast("""
SELECT * FROM (
    SELECT n.id AS id, n.name AS name, 'caller' AS direction
    FROM gnodes t JOIN gedges e ON e.type = 'CALLS' AND e.dst = t.id
                  JOIN gnodes n ON n.id = e.src
    WHERE t.label = 'Order' AND t.key = 100
    UNION ALL
    SELECT n.id, n.name, 'callee'
    FROM gnodes t JOIN gedges e ON e.type = 'CALLS' AND e.src = t.id
                  JOIN gnodes n ON n.id = e.dst
    WHERE t.label = 'Order' AND t.key = 100
) ORDER BY direction, id LIMIT 10
""")


# --- j9: orphan check anti-join (indexing_test.go:421-438) --------------------
def j9_orphan_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference-parity orphan integrity check: parts never referenced
    by ANY LineItem — the exact never-referenced ``left_anti`` the
    reference asserts (indexing_test.go:421-438). On TPC-H data every
    part is referenced, so this legitimately returns 0 rows at every
    SF; the anti-join MACHINERY is additionally exercised by the
    non-vacuous j9b variant below (same plan shape, value-filtered
    reference set), so a 0-row green here is backed by a many-row green
    there."""
    g = _graph(spark, sf_dir)
    parts = g.nodes.filter(F.col("label") == "Part")
    refs = g.typed_edges("REFERENCES").select(F.col("dst").alias("id"))
    return parts.join(refs, "id", "left_anti").select("id", "name", "key")


_J9_SQL = with_recast("""
SELECT p.id AS id, p.name AS name, p.key AS key
FROM gnodes p
WHERE p.label = 'Part'
  AND NOT EXISTS (
      SELECT 1 FROM gedges e
      WHERE e.type = 'REFERENCES' AND e.dst = p.id
  )
""")


# --- j9b: the non-vacuous anti-join variant (engine-exercise twin of j9) ------
def j9b_low_usage_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parts with no high-value usage — ``left_anti`` against the
    REFERENCES sites whose LineItem value ≥ 90k. Same anti-join plan
    shape as j9 but with a non-empty result at every SF, so the gate
    row proves the anti-join actually filters (VERDICT r1 §wrong.4
    lesson: a 0-row green proves nothing about the join)."""
    g = _graph(spark, sf_dir)
    parts = g.nodes.filter(F.col("label") == "Part")
    hi_usage = g.nodes.filter(
        (F.col("label") == "LineItem") & (F.col("val") >= 90000)
    ).select(F.col("id").alias("li_id"))
    refs = (
        g.typed_edges("REFERENCES")
        .join(hi_usage, F.col("src") == F.col("li_id"), "left_semi")
        .select(F.col("dst").alias("id"))
    )
    return parts.join(refs, "id", "left_anti").select("id", "name", "key")


_J9B_SQL = with_recast("""
SELECT p.id AS id, p.name AS name, p.key AS key
FROM gnodes p
WHERE p.label = 'Part'
  AND NOT EXISTS (
      SELECT 1 FROM gedges e
      JOIN gnodes l ON l.id = e.src AND l.label = 'LineItem' AND l.val >= 90000
      WHERE e.type = 'REFERENCES' AND e.dst = p.id
  )
""")


# --- j10: optional match / left outer (documents/indexer.go:179-188) ----------
def j10_optional_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers LEFT OUTER their orders, counting 0 for the orderless —
    the OPTIONAL MATCH shape."""
    g = _graph(spark, sf_dir)
    cust = g.nodes.filter(F.col("label") == "Customer").select(
        F.col("id").alias("cid"), "name"
    )
    ords = g.typed_edges("CONTAINS").select(
        F.col("src").alias("cid"), F.col("dst").alias("oid")
    )
    return (
        cust.join(ords, "cid", "left_outer")
        .groupBy("cid", "name")
        .agg(F.count("oid").alias("n_orders"))
        .select(F.col("cid").alias("id"), "name", "n_orders")
    )


_J10_SQL = with_recast("""
SELECT c.id AS id, c.name AS name, count(e.dst) AS n_orders
FROM gnodes c
LEFT JOIN gedges e ON e.type = 'CONTAINS' AND e.src = c.id
WHERE c.label = 'Customer'
GROUP BY c.id, c.name
""")


# --- f2/f5/f7: SCIP symbol functions (models/symbol.go:25-38, scip_parser) ---
def f5_symbol_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-part SCIP split (F5) + package extraction via split[2] (F2) +
    kind inference from descriptor shape (F7, scip_parser.go:208-221)."""
    g = _graph(spark, sf_dir)
    syms = g.nodes.filter(F.col("symbol").isNotNull())
    parts = F.split(F.col("symbol"), " ", 5)
    descriptor = parts.getItem(4)
    kind = (
        F.when(descriptor.contains("#") & descriptor.contains("()."), "method")
        .when(descriptor.contains("()."), "function")
        .when(descriptor.contains("#"), "type")
        .when(descriptor.contains("/"), "package")
        .otherwise("unknown")
    )
    return syms.select(
        "id",
        parts.getItem(0).alias("scheme"),
        parts.getItem(1).alias("manager"),
        parts.getItem(2).alias("pkg"),
        parts.getItem(3).alias("version"),
        descriptor.alias("descriptor"),
        kind.alias("kind"),
    )


_F5_SQL = with_recast("""
SELECT id,
       split_part(symbol, ' ', 1) AS scheme,
       split_part(symbol, ' ', 2) AS manager,
       split_part(symbol, ' ', 3) AS pkg,
       split_part(symbol, ' ', 4) AS version,
       split_part(symbol, ' ', 5) AS descriptor,
       CASE WHEN split_part(symbol, ' ', 5) LIKE '%#%' AND split_part(symbol, ' ', 5) LIKE '%().%' THEN 'method'
            WHEN split_part(symbol, ' ', 5) LIKE '%().%' THEN 'function'
            WHEN split_part(symbol, ' ', 5) LIKE '%#%' THEN 'type'
            WHEN split_part(symbol, ' ', 5) LIKE '%/%' THEN 'package'
            ELSE 'unknown' END AS kind
FROM gnodes WHERE symbol IS NOT NULL
""")


# --- f6: display-name extraction from SCIP descriptor -----------------------
def f6_display_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strip descriptor punctuation, split on '#', prefer the member
    segment (scip_parser.go:223-246: methods display as the member
    name, types/functions/packages as the base)."""
    g = _graph(spark, sf_dir)
    syms = g.nodes.filter(F.col("symbol").isNotNull())
    descriptor = F.split(F.col("symbol"), " ", 5).getItem(4)
    d1 = F.regexp_replace(descriptor, r"[()./]+$", "")
    member = F.get(F.split(d1, "#"), 1)
    display = F.when(
        member.isNotNull() & (member != ""), member
    ).otherwise(F.get(F.split(d1, "#"), 0))
    return syms.select("id", descriptor.alias("descriptor"), display.alias("display_name"))


_F6_SQL = with_recast(r"""
SELECT id,
       split_part(symbol, ' ', 5) AS descriptor,
       CASE WHEN regexp_replace(split_part(symbol, ' ', 5), '[()./]+$', '') LIKE '%#%'
                 AND split_part(regexp_replace(split_part(symbol, ' ', 5), '[()./]+$', ''), '#', 2) <> ''
            THEN split_part(regexp_replace(split_part(symbol, ' ', 5), '[()./]+$', ''), '#', 2)
            ELSE split_part(regexp_replace(split_part(symbol, ' ', 5), '[()./]+$', ''), '#', 1)
       END AS display_name
FROM gnodes WHERE symbol IS NOT NULL
""")


def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance ranking over the CALLS graph (operators/pagerank.py):
    top-20 nodes by PageRank, deterministic tiebreak on id. The walk
    runs 10 fixed supersteps of the shared loop (operators/supersteps.py,
    no witness), so the whole computation is mechanically unrollable
    and the oracle is 10 generated chained CTEs (_pagerank_sql) — one
    link-mass + dangling-mass + update triple per superstep, mirroring
    the operator's arithmetic and IEEE operation order exactly.
    tests/test_pagerank.py additionally pins the numerics against a
    pure-Python power iteration."""
    from codegraph_spark.operators.pagerank import pagerank

    g = _graph(spark, sf_dir)
    calls = g.typed_edges("CALLS")
    members = (
        calls.select(F.col("src").alias("id"))
        .unionByName(calls.select(F.col("dst").alias("id")))
        .distinct()
    )
    ranks = pagerank(members, calls.select("src", "dst"), iters=10)
    return (
        ranks.orderBy(F.desc("rank"), "id")
        .limit(20)
        .select("id", F.round("rank", 9).alias("rank"))
    )


def _pagerank_sql(iters: int = 10, damping: float = 0.85) -> str:
    """Unrolled-CTE oracle for :func:`graph_pagerank` — generated like
    dedup._minhash_sql(). The operator is deterministic (fixed iters,
    fixed damping, round(rank, 9) output), so each rank update becomes
    one CTE triple: dangling mass (scalar), link mass (group-by over
    edges), new ranks. Float literals are embedded via repr() and CAST
    to DOUBLE so DuckDB performs the identical IEEE operations instead
    of DECIMAL arithmetic (1.0 - 0.85 must be 0.15000000000000002 on
    both engines)."""
    damp = f"CAST({damping!r} AS DOUBLE)"
    teleport_num = f"CAST({1.0 - damping!r} AS DOUBLE)"
    # Every multiply-referenced CTE is AS MATERIALIZED: each r{i} is
    # consumed twice (d{i+1} and l{i+1}); plain inlining would double
    # the plan per iteration (2^iters base-table scans — observed as a
    # file-handle explosion on the parquet views).
    ctes = [
        "calls AS MATERIALIZED (SELECT src, dst FROM gedges WHERE type = 'CALLS')",
        """members AS MATERIALIZED (
    SELECT DISTINCT id FROM (
        SELECT src AS id FROM calls UNION ALL SELECT dst FROM calls))""",
        "nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM members)",
        "deg AS MATERIALIZED (SELECT src AS id, count(*) AS out_deg FROM calls GROUP BY src)",
        "r0 AS MATERIALIZED (SELECT m.id, 1.0 / nn.n AS rank FROM members m CROSS JOIN nn)",
    ]
    for i in range(1, iters + 1):
        p = f"r{i - 1}"
        ctes.append(f"""d{i} AS (
    SELECT coalesce(sum(r.rank), 0.0) AS dm
    FROM {p} r LEFT JOIN deg d ON d.id = r.id
    WHERE d.id IS NULL)""")
        ctes.append(f"""l{i} AS (
    SELECT c.dst AS id, sum(r.rank / d.out_deg) AS link_mass
    FROM {p} r JOIN deg d ON d.id = r.id JOIN calls c ON c.src = r.id
    GROUP BY c.dst)""")
        ctes.append(f"""r{i} AS MATERIALIZED (
    SELECT m.id,
           ({teleport_num} / nn.n)
           + {damp} * (coalesce(l.link_mass, 0.0) + dm.dm / nn.n) AS rank
    FROM members m CROSS JOIN nn CROSS JOIN d{i} dm
    LEFT JOIN l{i} l ON l.id = m.id)""")
    # top-20 selected on the UNROUNDED rank (as the Spark side does),
    # rounding applied only in the outer projection.
    tail = f"""
SELECT id, round(rank, 9) AS rank FROM (
    SELECT id, rank FROM r{iters} ORDER BY rank DESC, id LIMIT 20
)"""
    return with_recast(tail, extra_ctes=",\n".join(ctes))


#: sampled-harmonic parameters: seed count (the Eppstein-Wang estimator
#: samples sources; 3 keeps the gate's unrolled oracle tractable), hop
#: horizon, and the integer scale for 1/d contributions.
_HARMONIC_SEEDS = 3
_HARMONIC_HOPS = 6
_HARMONIC_SCALE = 1000


def graph_harmonic_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAMPLED harmonic centrality over the CALLS graph — the
    distance-based centrality the PageRank family can't see (a node
    two hops from everything outranks a node in one dense pocket).
    Exact harmonic centrality is all-pairs BFS; the standard scale
    path (Eppstein & Wang 2004) estimates it from a source SAMPLE.
    Here: :data:`_HARMONIC_SEEDS` deterministic seeds (smallest member
    ids — the oracle can re-derive them), one min-hop BFS per seed
    (the min-hop semantics of operators/traversal.bfs_reachable, the
    loop j4 uses), contributions
    ``1000 div d`` summed per node, top-20. All integer after the hop
    counts, so the oracle (recursive-CTE BFS per seed) matches
    bit-for-bit.

    Scale shape: seeds are O(1) and the whole sample runs as ONE
    tagged frontier (operators/traversal.bfs_multi_source — one round
    per hop of the deepest seed plus one that reaches nothing, at most
    max_hops + 1 in all, not per seed; each round broadcasts the
    frontier into an in-place scan of the CALLS edges, never shuffled
    them), then seeds × nodes distance rows feed one id-keyed
    agg. At 100 TB the sample size grows (ε⁻² log n seeds), not the
    per-seed cost — and no driver-side seed pull exists at all."""
    from codegraph_spark.operators.traversal import bfs_multi_source

    g = _graph(spark, sf_dir)
    calls = g.typed_edges("CALLS").select("src", "dst")
    members = (
        calls.select(F.col("src").alias("id"))
        .unionByName(calls.select(F.col("dst").alias("id")))
        .distinct()
    )
    seeds = (
        members.orderBy("id").limit(_HARMONIC_SEEDS)
        .select(F.col("id").alias("seed"), "id")
    )
    dists = bfs_multi_source(calls, seeds, max_hops=_HARMONIC_HOPS).filter(
        F.col("id") != F.col("seed")
    )
    return (
        dists.groupBy("id")
        .agg(
            F.sum(F.expr(f"{_HARMONIC_SCALE} div hops"))
            .cast("bigint").alias("harmonic_milli"),
            F.count(F.lit(1)).alias("n_seeds"),
        )
        .orderBy(F.desc("harmonic_milli"), "id")
        .limit(20)
    )


_HARMONIC_SQL = with_recast(
    f"""
SELECT id, CAST(sum({_HARMONIC_SCALE} // d) AS BIGINT) AS harmonic_milli,
       count(*) AS n_seeds
FROM mind
GROUP BY id
ORDER BY harmonic_milli DESC, id
LIMIT 20
""",
    extra_ctes=f"""
calls AS MATERIALIZED (SELECT src, dst FROM gedges WHERE type = 'CALLS'),
hmembers AS (
    SELECT DISTINCT id FROM (
        SELECT src AS id FROM calls UNION ALL SELECT dst FROM calls)
),
hseeds AS (
    SELECT id AS seed FROM (
        SELECT id FROM hmembers ORDER BY id LIMIT {_HARMONIC_SEEDS})
),
walk(seed, id, dist) AS (
    SELECT seed, seed, 0 FROM hseeds
    UNION
    SELECT w.seed, c.dst, w.dist + 1
    FROM walk w JOIN calls c ON c.src = w.id
    WHERE w.dist < {_HARMONIC_HOPS}
),
mind AS (
    SELECT seed, id, min(dist) AS d
    FROM walk WHERE dist > 0 AND id <> seed
    GROUP BY seed, id
)
""",
)


def graph_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERSONALIZED PageRank (random walk with restart) anchored at the
    j4 impact seeds (Customer 1's Orders): where j4's BFS answers
    "which nodes are reachable", PPR answers "which of them MATTER,
    weighted by walk probability from the anchor" — the ranked-impact
    view a blast-radius dashboard shows. It is the same walk as
    :func:`graph_pagerank` (operators/pagerank.py, 10 fixed supersteps
    of the shared loop) with the restart set narrowed to the seeds:
    teleport and dangling mass both return to the seed set, and nodes
    the walk never reaches hold rank exactly 0.0 and are filtered.
    Deterministic (fixed iters/damping, total-order output), so the
    oracle unrolls into chained CTEs like :func:`_pagerank_sql` with a
    seed-indicator teleport."""
    from codegraph_spark.operators.pagerank import personalized_pagerank
    from codegraph_spark.queries.traversals import _j4_seeds

    g = _graph(spark, sf_dir)
    calls = g.typed_edges("CALLS")
    members = (
        calls.select(F.col("src").alias("id"))
        .unionByName(calls.select(F.col("dst").alias("id")))
        .distinct()
    )
    ranks = personalized_pagerank(
        members, calls.select("src", "dst"), _j4_seeds(g), iters=10
    )
    return (
        ranks.filter(F.col("rank") > 0.0)
        .orderBy(F.desc("rank"), "id")
        .limit(20)
        .select("id", F.round("rank", 9).alias("rank"))
    )


def _ppr_sql(iters: int = 10, damping: float = 0.85) -> str:
    """Unrolled-CTE oracle for :func:`graph_ppr` — :func:`_pagerank_sql`
    with the teleport/dangling vector restricted to the seed set. The
    restart constant mirrors the operator's PYTHON evaluation order:
    (1.0 - damping) first (embedded via repr), divided by the seed
    count in-engine — both engines then run the identical IEEE ops.
    ``WHERE ns.n > 0`` guards the degenerate empty-seed case so both
    engines agree on an EMPTY result (the operator early-returns; the
    oracle must not divide by a zero seed count)."""
    damp = f"CAST({damping!r} AS DOUBLE)"
    restart_num = f"CAST({1.0 - damping!r} AS DOUBLE)"
    ctes = [
        "calls AS MATERIALIZED (SELECT src, dst FROM gedges WHERE type = 'CALLS')",
        """members AS MATERIALIZED (
    SELECT DISTINCT id FROM (
        SELECT src AS id FROM calls UNION ALL SELECT dst FROM calls))""",
        """seeds AS MATERIALIZED (
    SELECT DISTINCT m.id
    FROM members m
    JOIN (SELECT 'orders:' || o_orderkey AS id FROM orders WHERE o_custkey = 1) s
      ON s.id = m.id)""",
        "ns AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM seeds)",
        "deg AS MATERIALIZED (SELECT src AS id, count(*) AS out_deg FROM calls GROUP BY src)",
        """r0 AS MATERIALIZED (
    SELECT m.id,
           CASE WHEN s.id IS NOT NULL THEN 1.0 / ns.n ELSE 0.0 END AS rank
    FROM members m CROSS JOIN ns LEFT JOIN seeds s ON s.id = m.id
    WHERE ns.n > 0)""",
    ]
    for i in range(1, iters + 1):
        p = f"r{i - 1}"
        ctes.append(f"""d{i} AS (
    SELECT coalesce(sum(r.rank), 0.0) AS dm
    FROM {p} r LEFT JOIN deg d ON d.id = r.id
    WHERE d.id IS NULL)""")
        ctes.append(f"""l{i} AS (
    SELECT c.dst AS id, sum(r.rank / d.out_deg) AS link_mass
    FROM {p} r JOIN deg d ON d.id = r.id JOIN calls c ON c.src = r.id
    GROUP BY c.dst)""")
        ctes.append(f"""r{i} AS MATERIALIZED (
    SELECT m.id,
           (CASE WHEN s.id IS NOT NULL THEN {restart_num} / ns.n ELSE 0.0 END)
           + {damp} * (coalesce(l.link_mass, 0.0)
                       + CASE WHEN s.id IS NOT NULL THEN dm.dm / ns.n ELSE 0.0 END)
               AS rank
    FROM members m CROSS JOIN ns CROSS JOIN d{i} dm
    LEFT JOIN seeds s ON s.id = m.id
    LEFT JOIN l{i} l ON l.id = m.id
    WHERE ns.n > 0)""")
    tail = f"""
SELECT id, round(rank, 9) AS rank FROM (
    SELECT id, rank FROM r{iters} WHERE rank > 0.0
    ORDER BY rank DESC, id LIMIT 20
)"""
    return with_recast(tail, extra_ctes=",\n".join(ctes))


QUERIES = {
    "graph_ppr": graph_ppr,
    "graph_harmonic_sampled": graph_harmonic_sampled,
    "p1_find_by_label": p1_find_by_label,
    "f6_display_name": f6_display_name,
    "graph_pagerank": graph_pagerank,
    "o1_search_ranked": o1_search_ranked,
    "o1_search_indexed": o1_search_indexed,
    "p5_symbol_membership": p5_symbol_membership,
    "a1_count_per_label": a1_count_per_label,
    "a2_count_per_edge_type": a2_count_per_edge_type,
    "a7_health_counts": a7_health_counts,
    "j1_find_definition": j1_find_definition,
    "j3_three_hop_chain": j3_three_hop_chain,
    "j7_callers_callees": j7_callers_callees,
    "j9_orphan_parts": j9_orphan_parts,
    "j9b_low_usage_parts": j9b_low_usage_parts,
    "j10_optional_counts": j10_optional_counts,
    "f5_symbol_parse": f5_symbol_parse,
}

ORACLES = {
    "graph_ppr": _ppr_sql(),
    "graph_harmonic_sampled": _HARMONIC_SQL,
    "p1_find_by_label": _P1_SQL,
    "graph_pagerank": _pagerank_sql(),
    "f6_display_name": _F6_SQL,
    "o1_search_ranked": _O1_SQL,
    "o1_search_indexed": _O1_SQL,
    "p5_symbol_membership": _P5_SQL,
    "a1_count_per_label": _A1_SQL,
    "a2_count_per_edge_type": _A2_SQL,
    "a7_health_counts": _A7_SQL,
    "j1_find_definition": _J1_SQL,
    "j3_three_hop_chain": _J3_SQL,
    "j7_callers_callees": _J7_SQL,
    "j9_orphan_parts": _J9_SQL,
    "j9b_low_usage_parts": _J9B_SQL,
    "j10_optional_counts": _J10_SQL,
    "f5_symbol_parse": _F5_SQL,
}
