"""Service surface — the reference's composite API (SURVEY §2.9)
re-expressed over a :class:`PropertyGraph`.

Three layers, mirroring the reference:

- :class:`LSPService` ← pkg/query/lsp.go (GoToDefinition :64-75,
  FindReferences :78-100, FindImplementations :103-119, Search
  :148-206, GetCompletion :232-267, GetHover stub :292-300);
- :class:`AdvancedService` ← pkg/query/advanced.go (AnalyzeImpact
  :49-67, TraceDataFlow :101-116, AnalyzeDependencies :142-184,
  AnalyzeComplexity :222-239, BuildCallGraph :242-290);
- :class:`MCPService` ← mcp-server/main.go tool dispatch (:218-244)
  with the four tools search / get_source / find_references /
  analyze_function (:246-523).

Serving model (SURVEY §3.3): a long-lived driver keeps the graph
DataFrames persisted; each call is a few Spark jobs (a traced run of
the ``code_serving`` benchmark workload in ``perfbench/`` averages 2.0
per op, re-index writes included; ``analyze_function`` is 3, and a
traversal is one per id lookup plus one per BFS superstep). Scans stay
on executors; id sets the driver already holds go back as one literal
filter, never a broadcast join — the reference's per-call Bolt
round-trips become Catalyst plans over cached tables.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from codegraph_spark.graph import PropertyGraph
from codegraph_spark.operators.search import search_nodes
from codegraph_spark.operators.traversal import bfs_visited, enumerate_paths, id_filter

_LOC_COLS = ("path", "start_line", "end_line")


def _rows(df: DataFrame, limit: int = 0) -> list[dict[str, Any]]:
    if limit:
        df = df.limit(limit)
    return [r.asDict(recursive=True) for r in df.collect()]


def _location(row: dict) -> dict:
    """lsp.go Location shape: filePath + line span."""
    return {
        "filePath": row.get("path"),
        "startLine": row.get("start_line"),
        "endLine": row.get("end_line"),
    }


def _by_ids(df: DataFrame, col: str, ids, *cols: str) -> list[dict[str, Any]]:
    """*cols* of the rows of *df* whose *col* is in *ids* (a driver-side
    set, sent as one literal filter): one job, none for an empty set."""
    return _rows(df.filter(id_filter(col, ids)).select(*cols)) if ids else []


class LSPService:
    """LSP-style lookups. DEFAULT_SEARCH_TYPES / limits follow
    lsp.go:148-206 (:232-267 for completion)."""

    DEFAULT_SEARCH_TYPES = ["Function", "Method", "Class", "Interface", "Variable"]
    COMPLETION_TYPES = ["Function", "Method", "Variable", "Class"]

    def __init__(self, graph: PropertyGraph):
        self.g = graph

    def go_to_definition(self, symbol: str) -> dict | None:
        """J1: (Symbol{symbol})<-[:DEFINES]-(def) (query.go:53-118)."""
        sym_nodes = self.g.nodes.filter(F.col("symbol") == symbol).filter(
            F.col("label") == "Symbol"
        )
        defs = self.g.in_neighbors(sym_nodes, "DEFINES")
        # deterministic pick: a Symbol can carry a self-DEFINES edge
        # (SCIP definition occurrence); prefer the real definition node.
        defs = defs.orderBy(
            F.when(F.col("label") == "Symbol", 1).otherwise(0), "id"
        )
        out = _rows(defs, limit=1)
        if not out:
            return None
        row = out[0]
        return {
            "symbol": symbol,
            "name": row.get("name"),
            "kind": row.get("label"),
            "location": _location(row),
        }

    def find_references(
        self, symbol: str, include_declaration: bool = False
    ) -> list[dict]:
        """J2: (Symbol)<-[:REFERENCES]-(usage), ordered by file then
        line (query.go:121-163). ``include_declaration`` is the
        reference's FindReferencesRequest.IncludeDeclaration flag
        (lsp.go:90-93) — left TODO there; here it prepends the
        DEFINES in-neighbors (the declaration sites) to the list."""
        sym_nodes = self.g.nodes.filter(
            (F.col("symbol") == symbol) & (F.col("label") == "Symbol")
        )
        out: list[dict] = []
        if include_declaration:
            decls = self.g.in_neighbors(sym_nodes, "DEFINES").orderBy(
                "path", "start_line"
            )
            out.extend(
                {"symbol": symbol, "location": _location(r), "is_declaration": True}
                for r in _rows(decls)
            )
        refs = self.g.in_neighbors(sym_nodes, "REFERENCES").orderBy(
            "path", "start_line"
        )
        out.extend(
            {"symbol": symbol, "location": _location(r)} for r in _rows(refs)
        )
        return out

    def find_implementations(self, symbol: str) -> list[dict]:
        """J3: Symbol ←DEFINES– Interface ←IMPLEMENTS– Class
        (query.go:166-200)."""
        sym_nodes = self.g.nodes.filter(
            (F.col("symbol") == symbol) & (F.col("label") == "Symbol")
        )
        ifaces = self.g.in_neighbors(sym_nodes, "DEFINES")
        impls = self.g.in_neighbors(ifaces.select("id"), "IMPLEMENTS")
        return [
            {"name": r.get("name"), "kind": r.get("label"),
             "location": _location(r)}
            for r in _rows(impls)
        ]

    def search(self, term: str, node_types: list[str] | None = None,
               limit: int = 50) -> list[dict]:
        """P3+O1 (lsp.go:148-206; defaults limit 50, 5 node types)."""
        out = search_nodes(
            self.g.nodes, term,
            node_types=node_types or self.DEFAULT_SEARCH_TYPES,
            limit=limit,
        )
        return _rows(out)

    def get_completion(self, prefix: str, limit: int = 20) -> list[str]:
        """Prefix completion via Search (lsp.go:232-267)."""
        out = (
            self.g.nodes.filter(
                F.col("label").isin(*self.COMPLETION_TYPES)
                & F.lower(F.col("name")).startswith(prefix.lower())
            )
            .select("name").distinct().orderBy("name").limit(limit)
        )
        return [r["name"] for r in out.collect()]

    def get_hover(self, symbol: str) -> dict:
        """Stub parity (lsp.go:292-300 returns not-implemented)."""
        return {"contents": None, "error": "hover not implemented"}


class AdvancedService:
    """Graph-analytic services (pkg/query/advanced.go)."""

    def __init__(self, graph: PropertyGraph):
        self.g = graph

    def analyze_impact(self, symbol: str, max_depth: int = 10) -> dict:
        """J4 (query.go:203-242): seed = definition of *symbol*; walk
        CALLS backwards (who calls the seed) up to *max_depth*; then
        EXPOSES_API → affected routes. DISTINCT endpoints ⇒ BFS with a
        visited set is Cypher-equivalent (SURVEY §7.3). One job per
        lookup and per superstep."""
        sym = [r.id for r in self.g.nodes.filter(F.col("symbol") == symbol).select("id").collect()]
        # the symbol node may itself be the definition
        seeds = sym + [r["src"] for r in _by_ids(self.g.out_edges("DEFINES"), "dst", sym, "src")]
        visited = bfs_visited(self.g.edges, seeds, max_depth, "CALLS", "in")
        hops = {i: h for i, h in visited.items() if h}
        routes = {r["dst"] for r in _by_ids(self.g.out_edges("EXPOSES_API"), "src", hops, "dst")}
        rows = _by_ids(self.g.nodes, "id", hops.keys() | routes, "id", "name", "label")
        return {
            "symbol": symbol,
            "affectedFunctions": [{**r, "hops": hops[r["id"]]} for r in rows if r["id"] in hops],
            "affectedAPIs": [r for r in rows if r["id"] in routes],
            "maxDepth": max_depth,
        }

    def trace_data_flow(self, node_id: str, max_depth: int = 15) -> dict:
        """J5 (query.go:245-285): FLOWS_TO paths with node capture."""
        seeds = self.g.nodes.filter(F.col("id") == node_id).select("id")
        paths = enumerate_paths(
            self.g.edges, seeds, max_hops=max_depth, edge_type="FLOWS_TO"
        )
        return {
            "source": node_id,
            "flows": _rows(paths.select("end", "path", "hops")),
        }

    def analyze_dependencies(self, service_pkg: str) -> dict:
        """J6+A4 (query.go:288-323, advanced.go:142-184): foreign
        symbols grouped by package with caller lists + counts. The
        host-side Go accumulation loop becomes one groupBy."""
        nodes, edges = self.g.nodes, self.g.edges
        calls = edges.filter(F.col("type") == "CALLS")
        refs = edges.filter(F.col("type").isin("REFERENCES", "DEFINES"))
        callers = nodes.select(F.col("id").alias("caller_id"),
                               F.col("name").alias("caller_name"))
        syms = nodes.filter(
            F.col("symbol").isNotNull()
            & F.col("symbol").contains(" ")
            & ~F.col("symbol").contains(service_pkg)
        ).select(F.col("id").alias("sym_id"), "symbol")
        foreign = (
            callers.join(calls, F.col("caller_id") == calls.src)
            .join(refs.select(F.col("src").alias("r_src"), F.col("dst").alias("r_dst")),
                  F.col("dst") == F.col("r_src"))
            .join(syms, F.col("r_dst") == F.col("sym_id"))
            .select(
                F.split(F.col("symbol"), " ").getItem(2).alias("foreignServiceName"),
                "caller_name",
            )
            .distinct()
        )
        grouped = foreign.groupBy("foreignServiceName").agg(
            F.array_sort(F.collect_list("caller_name")).alias("callingFunctions"),
            F.count("*").alias("callCount"),
        ).orderBy("foreignServiceName")
        return {"service": service_pkg, "dependencies": _rows(grouped)}

    def analyze_complexity(self, threshold: int = 10) -> dict:
        """A6 (advanced.go:213-239, declared-stub shape made real).

        Properties are open-schema (§1.5): a graph without a
        ``complexity`` column behaves as all-NULL (Cypher semantics for
        an absent property), yielding the empty summary, not an error."""
        cx = (
            F.col("complexity")
            if "complexity" in self.g.nodes.columns
            else F.lit(None).cast("double")
        )
        fns = self.g.nodes.filter(
            F.col("label").isin("Function", "Method") & cx.isNotNull()
        ).withColumn("complexity", cx)
        row = fns.agg(
            F.count("*").alias("totalFunctions"),
            F.avg("complexity").alias("averageComplexity"),
            F.max("complexity").alias("maxComplexity"),
            F.sum(F.when(F.col("complexity") > threshold, 1).otherwise(0))
            .alias("highComplexityCount"),
        ).collect()[0]
        return dict(row.asDict())

    def build_call_graph(self, root_id: str, direction: str = "out",
                         max_depth: int = 5) -> dict:
        """BuildCallGraph (advanced.go:242-290): bounded expansion from
        the root; returns the node/edge result model. direction ∈
        outgoing(out)/incoming(in)/both. One job per lookup and superstep."""
        visited = bfs_visited(self.g.edges, [root_id], max_depth, "CALLS", direction)
        rows = _by_ids(self.g.nodes, "id", visited, "id", "name", "label")
        found = any(r["id"] == root_id for r in rows)
        edges = _by_ids(self.g.out_edges("CALLS"), "src", visited if found else (), "src", "dst")
        return {
            "root": root_id,
            "direction": direction,
            "maxDepth": max_depth,
            "nodes": [{**r, "hops": visited[r["id"]]} for r in rows] if found else [],
            "edges": [e for e in edges if e["dst"] in visited],
        }


class MCPService:
    """MCP tool dispatch (mcp-server/main.go:218-244). Each tool
    returns a JSON-able dict — ``to_json``-ready response rows."""

    def __init__(self, graph: PropertyGraph, files: DataFrame | None = None):
        self.lsp = LSPService(graph)
        self.adv = AdvancedService(graph)
        self.g = graph
        self.files = files  # (path, content) for get_source (F10)

    TOOLS = ("search", "get_source", "find_references", "analyze_function")

    def list_tools(self) -> list[str]:
        return list(self.TOOLS)

    def call(self, tool: str, **args: Any) -> dict:
        if tool == "search":
            return {"results": self.lsp.search(args["term"],
                                               args.get("types"),
                                               args.get("limit", 50))}
        if tool == "get_source":
            return self.get_source(args["function_name"])
        if tool == "find_references":
            return {"references": self.lsp.find_references(args["symbol"])}
        if tool == "analyze_function":
            return self.analyze_function(args["name"])
        raise ValueError(f"unknown tool {tool!r}")

    def get_source(self, function_name: str) -> dict:
        """O5+F10 (main.go:423-430 lookup; query.go:477-492 slice):
        byte-range slice with line-span fallback, 0-based offsets onto
        1-based substring (SURVEY §7.3 risk 4)."""
        fn = (
            self.g.nodes.filter(
                F.col("label").isin("Function", "Method")
                & (F.col("name") == function_name)
            ).orderBy("id").limit(1)
        )
        rows = _rows(fn)
        if not rows:
            return {"error": f"function {function_name!r} not found"}
        row = rows[0]
        out = {"name": function_name, "location": _location(row), "source": None}
        if self.files is None or row.get("path") is None:
            return out
        f = self.files.filter(F.col("path") == row["path"]).limit(1)
        frows = _rows(f)
        if not frows:
            return out
        content = frows[0]["content"]
        sb, eb = row.get("start_byte"), row.get("end_byte")
        if sb is not None and eb is not None:
            out["source"] = content[sb:eb]
        else:  # line fallback
            lines = content.split("\n")
            out["source"] = "\n".join(
                lines[(row["start_line"] or 1) - 1: row["end_line"] or 0]
            )
        return out

    def analyze_function(self, name: str) -> dict:
        """Metadata, callers (limit 10) and callees (limit 10) like the
        reference (main.go:423-430, :479-483, :501-505) — J7 — in three
        jobs: the function, its CALLS edges, the names at their ends."""
        fn = (
            self.g.nodes.filter(
                F.col("label").isin("Function", "Method") & (F.col("name") == name)
            ).orderBy("id").limit(1)
        )
        rows = _rows(fn)
        if not rows:
            return {"error": f"function {name!r} not found"}
        meta = rows[0]
        me = meta["id"]
        calls = self.g.out_edges("CALLS").filter((F.col("src") == me) | (F.col("dst") == me))
        calls = calls.select("src", "dst").collect()
        names: dict[Any, list] = {}
        for r in _by_ids(self.g.nodes, "id", {i for e in calls for i in e}, "id", "name"):
            names.setdefault(r["id"], []).append(r["name"])

        def first10(ids):  # orderBy("name").limit(10), nulls first
            got = [n for i in ids for n in names.get(i, ())]
            return sorted(got, key=lambda n: (n is not None, n or ""))[:10]

        return {
            "name": name,
            "metadata": {k: meta.get(k) for k in
                         ("id", "label", "signature", "complexity", "docstring",
                          *_LOC_COLS)},
            "callers": first10(src for src, dst in calls if dst == me),
            "callees": first10(dst for src, dst in calls if src == me),
        }
