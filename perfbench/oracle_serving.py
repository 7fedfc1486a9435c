"""DuckDB oracle for ``code_serving``: every answer is recomputed in SQL
over the exact parquet version the op was served from (recursive CTEs
for impact and call graph) and compared in a canonical form."""

from __future__ import annotations

import duckdb

#: search relevance rank (operators/search.py; query.go:368-380)
RANK = {"Function": 1, "Method": 1, "Class": 2, "Interface": 2,
        "Variable": 3, "Symbol": 4, "File": 5}
SEARCH_TYPES = ("Function", "Method", "Class", "Interface", "Variable")
COMPLETION_TYPES = ("Function", "Method", "Variable", "Class")


def _connect(vdir: str):
    con = duckdb.connect()
    for part in ("nodes", "edges"):
        con.execute(
            f"CREATE VIEW {part} AS SELECT * FROM read_parquet("
            f"'{vdir}/{part}/**/*.parquet', hive_partitioning=true)"
        )
    return con


def _loc(d: dict | None):
    return None if d is None else (d.get("filePath"), d.get("startLine"), d.get("endLine"))


def canon(kind: str, ans):
    """The engine's answer in comparable form."""
    if kind == "search":
        return [(RANK.get(r["label"], 6), r["name"]) for r in ans["results"]]
    if kind == "get_source":
        return None if "error" in ans else (_loc(ans["location"]), ans["source"])
    if kind == "find_references":
        return sorted(_loc(r["location"]) for r in ans["references"])
    if kind == "analyze_function":
        if "error" in ans:
            return None
        m = ans["metadata"]
        return ((m["id"], m["label"], m["signature"], m["complexity"], m["docstring"],
                 m["path"], m["start_line"], m["end_line"]), ans["callers"], ans["callees"])
    if kind == "definition":
        return None if ans is None else (ans["name"], ans["kind"], _loc(ans["location"]))
    if kind == "completion":
        return list(ans)
    if kind == "impact":
        return (sorted((r["id"], r["name"], r["label"], r["hops"]) for r in ans["affectedFunctions"]),
                sorted((r["id"], r["name"], r["label"]) for r in ans["affectedAPIs"]))
    if kind == "call_graph":
        return (sorted((r["id"], r["name"], r["label"], r["hops"]) for r in ans["nodes"]),
                sorted((r["src"], r["dst"]) for r in ans["edges"]))
    avg = ans["averageComplexity"]
    return (ans["totalFunctions"], None if avg is None else round(avg, 6),
            ans["maxComplexity"], ans["highComplexityCount"])


def expect(con, kind: str, arg, root_id: str | None = None):
    """The same answer computed by DuckDB."""
    q = lambda sql, *p: con.execute(sql, list(p)).fetchall()  # noqa: E731
    if kind == "search":
        rows = q(
            "SELECT label, name FROM nodes WHERE label IN ('Function','Method','Class',"
            "'Interface','Variable') AND (contains(lower(name), lower($1)) OR "
            "contains(lower(signature), lower($1)) OR contains(lower(symbol), lower($1)) "
            "OR contains(lower(path), lower($1)))", arg)
        return sorted((RANK.get(lab, 6), name) for lab, name in rows)[:20]
    if kind in ("get_source", "analyze_function"):
        rows = q("SELECT id, label, signature, complexity, docstring, path, start_line, "
                 "end_line FROM nodes WHERE label IN ('Function','Method') AND name = $1 "
                 "ORDER BY id LIMIT 1", arg)
        if not rows:
            return None
        r = rows[0]
        if kind == "get_source":
            return ((r[5], r[6], r[7]), None)
        callers = [n for (n,) in q(
            "SELECT n.name FROM edges e JOIN nodes n ON n.id = e.src WHERE e.type = "
            "'CALLS' AND e.dst = $1 ORDER BY n.name LIMIT 10", r[0])]
        callees = [n for (n,) in q(
            "SELECT n.name FROM edges e JOIN nodes n ON n.id = e.dst WHERE e.type = "
            "'CALLS' AND e.src = $1 ORDER BY n.name LIMIT 10", r[0])]
        return (tuple(r), callers, callees)
    if kind == "find_references":
        return sorted(tuple(r) for r in q(
            "SELECT n.path, n.start_line, n.end_line FROM nodes s JOIN edges e ON "
            "e.dst = s.id AND e.type = 'REFERENCES' JOIN nodes n ON n.id = e.src "
            "WHERE s.symbol = $1 AND s.label = 'Symbol'", arg))
    if kind == "definition":
        rows = q("SELECT n.name, n.label, n.path, n.start_line, n.end_line FROM nodes s "
                 "JOIN edges e ON e.dst = s.id AND e.type = 'DEFINES' JOIN nodes n ON "
                 "n.id = e.src WHERE s.symbol = $1 AND s.label = 'Symbol' ORDER BY "
                 "CASE WHEN n.label = 'Symbol' THEN 1 ELSE 0 END, n.id LIMIT 1", arg)
        return None if not rows else (rows[0][0], rows[0][1], tuple(rows[0][2:]))
    if kind == "completion":
        return [n for (n,) in q(
            "SELECT DISTINCT name FROM nodes WHERE label IN ('Function','Method',"
            "'Variable','Class') AND starts_with(lower(name), lower($1)) "
            "ORDER BY name LIMIT 20", arg)]
    if kind == "impact":
        fns = q("""
            WITH RECURSIVE seeds AS (
              SELECT id FROM nodes WHERE symbol = $1
              UNION SELECT e.src FROM edges e JOIN nodes s ON e.dst = s.id
              WHERE e.type = 'DEFINES' AND s.symbol = $1),
            walk(id, hops) AS (
              SELECT id, 0 FROM seeds
              UNION SELECT e.src, w.hops + 1 FROM walk w JOIN edges e
              ON e.dst = w.id AND e.type = 'CALLS' WHERE w.hops < 10)
            SELECT w.id, n.name, n.label, min(w.hops) AS h FROM walk w
            JOIN nodes n ON n.id = w.id GROUP BY w.id, n.name, n.label HAVING h >= 1""", arg)
        return (sorted(tuple(r) for r in fns), [])
    if kind == "call_graph":
        reach = q("""
            WITH RECURSIVE walk(id, hops) AS (
              SELECT id, 0 FROM nodes WHERE id = $1
              UNION SELECT e.dst, w.hops + 1 FROM walk w JOIN edges e
              ON e.src = w.id AND e.type = 'CALLS' WHERE w.hops < 3)
            SELECT w.id, n.name, n.label, min(w.hops) FROM walk w
            JOIN nodes n ON n.id = w.id GROUP BY w.id, n.name, n.label""", root_id)
        ids = {r[0] for r in reach}
        edges = q("SELECT DISTINCT src, dst FROM edges WHERE type = 'CALLS'")
        return (sorted(tuple(r) for r in reach),
                sorted((s, d) for s, d in edges if s in ids and d in ids))
    total, avg, mx, high = q(
        "SELECT count(*), avg(complexity), max(complexity), "
        "coalesce(sum(CASE WHEN complexity > $1 THEN 1 ELSE 0 END), 0) FROM nodes "
        "WHERE label IN ('Function','Method') AND complexity IS NOT NULL", arg)[0]
    return (total, None if avg is None else round(avg, 6), mx, high)


def check(ctx: dict, records) -> list[str]:
    """Failure descriptions, one per failed op (exception, JSON-RPC or
    MCP error, oracle mismatch, or a write missing from its version)."""
    from code_serving import _root_id

    cons: dict[str, object] = {}
    failures = []
    try:
        for op, ans, err, vdir, _, _ in records:
            kind = op["kind"]
            if err is not None:
                failures.append(f"{kind}: {err}")
                continue
            con = cons.get(vdir) or cons.setdefault(vdir, _connect(vdir))
            if kind == "write":
                mod, callee = op["target"].split(".", 1)
                path = ctx["files"][op["file"]]
                new_id = f"function:{path}:{mod}.{op['new']}"
                ok = con.execute(
                    "SELECT count(*) FROM edges WHERE type = 'CALLS' AND src = $1 AND dst = $2",
                    [new_id, f"function:{path}:{mod}.{callee}"]).fetchone()[0] == 1
                if not ok:
                    failures.append(f"write: {new_id} -> {callee} missing from {vdir}")
                continue
            root = _root_id(ctx, op["arg"]) if kind == "call_graph" else None
            want = expect(con, kind, op["arg"], root)
            got = canon(kind, ans)
            if got != want:
                failures.append(f"{kind}({op['arg']!r}): got {str(got)[:120]} want {str(want)[:120]}")
    finally:
        for con in cons.values():
            con.close()
    return failures
