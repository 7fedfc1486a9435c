"""CLI — parity with the reference's Cobra command tree.

The reference ships ``codegraph index project|scip``, ``codegraph query
search|source``, and schema management as a CLI
(/root/reference/cmd/codegraph/main.go:237-520, :555-585); the MCP
server marshals the same operations as JSON. This CLI fronts the same
engine surface:

    python -m codegraph_spark index project ./src --out /tmp/graph
    python -m codegraph_spark index scip index.scip --out /tmp/graph
    python -m codegraph_spark --graph /tmp/graph query search Client --limit 10
    python -m codegraph_spark --graph /tmp/graph lsp definition "scip-go gomod m v1 T#"
    python -m codegraph_spark --graph /tmp/graph analyze impact "scip-go gomod m v1 T#"
    python -m codegraph_spark --graph /tmp/graph schema validate

Every command prints one JSON document (the reference's MCP/LSP
responses are JSON structs — mcp-server/main.go:17-56); ``--sf-dir``
loads the TPC-H recast demo graph instead of ``--graph``.
"""

from __future__ import annotations

import argparse
import json
import sys
from typing import Any


def _build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="codegraph_spark")
    p.add_argument("--graph", help="directory with nodes/ and edges/ parquet (from `index`)")
    p.add_argument("--sf-dir", help="TPC-H-shaped directory to load as the recast demo graph")
    p.add_argument("--cpus", default="8", help="local[N] parallelism (default 8)")
    sub = p.add_subparsers(dest="cmd", required=True)

    idx = sub.add_parser("index", help="build a graph from sources").add_subparsers(
        dest="what", required=True
    )
    ip = idx.add_parser("project", help="static-index a source tree (S1+S2)")
    ip.add_argument("root")
    ip.add_argument("--out", required=True)
    isc = idx.add_parser("scip", help="index a SCIP protobuf file (S4)")
    isc.add_argument("scip_file")
    isc.add_argument("--out", required=True)
    idoc = idx.add_parser(
        "docs", help="index a document directory (documents/indexer.go:72-95)"
    )
    idoc.add_argument("root")
    idoc.add_argument("--out", required=True)
    idoc.add_argument(
        "--code-graph",
        help="existing graph dir: resolve MENTIONS against its Symbols "
        "and merge documents into it",
    )

    q = sub.add_parser("query", help="search / source retrieval").add_subparsers(
        dest="what", required=True
    )
    qs = q.add_parser("search")
    qs.add_argument("term")
    qs.add_argument("--types", nargs="*", default=None)
    qs.add_argument("--limit", type=int, default=50)
    qsrc = q.add_parser("source")
    qsrc.add_argument("function_name")

    lsp = sub.add_parser("lsp", help="LSP-style lookups").add_subparsers(
        dest="what", required=True
    )
    for name in ("definition", "references", "implementations", "hover"):
        lp = lsp.add_parser(name)
        lp.add_argument("symbol")
        if name == "references":
            # FindReferencesRequest.IncludeDeclaration (lsp.go:90-93)
            lp.add_argument("--include-declaration", action="store_true")
    comp = lsp.add_parser("completion")
    comp.add_argument("prefix")
    comp.add_argument("--limit", type=int, default=20)

    an = sub.add_parser("analyze", help="advanced analysis").add_subparsers(
        dest="what", required=True
    )
    ai = an.add_parser("impact")
    ai.add_argument("symbol")
    ai.add_argument("--max-depth", type=int, default=10)
    ad = an.add_parser("deps")
    ad.add_argument("service_pkg")
    af = an.add_parser("flow")
    af.add_argument("node_id")
    af.add_argument("--max-depth", type=int, default=15)
    ac = an.add_parser("complexity")
    ac.add_argument("--threshold", type=int, default=10)
    ag = an.add_parser("callgraph")
    ag.add_argument("root_id")
    ag.add_argument("--direction", default="out", choices=["out", "in", "both"])
    ag.add_argument("--max-depth", type=int, default=3)

    sc = sub.add_parser(
        "schema", help="create / drop / validate / info (K7/K8)"
    ).add_subparsers(dest="what", required=True)
    sc.add_parser("validate")
    sc.add_parser("info")
    sc.add_parser("create", help="apply the declared schema (schema.go:206-263)")
    sc.add_parser("drop", help="drop the declared schema (schema.go:343-407)")

    sub.add_parser(
        "status", help="engine connection status (cmd/codegraph/main.go:98-128)"
    )

    ex = sub.add_parser(
        "export", help="training-data export sinks"
    ).add_subparsers(dest="what", required=True)
    ew = ex.add_parser(
        "webdataset",
        help="write the documents table as WebDataset tar shards (sinks.py)",
    )
    ew.add_argument("--out", required=True)
    ew.add_argument("--per-shard", type=int, default=1000)

    sq = sub.add_parser("sql", help="run ANSI SQL over the warehouse views")
    sq.add_argument("statement")
    sq.add_argument("--limit", type=int, default=100,
                    help="max rows printed (0 = unlimited)")

    dr = sub.add_parser(
        "doctor", help="lint a registered query's physical plan for scale smells"
    )
    dr.add_argument("query", help="a name from the query registry")

    au = sub.add_parser(
        "audit", help="corpus curation dashboards over --sf-dir"
    ).add_subparsers(dest="what", required=True)
    ac = au.add_parser(
        "corpus",
        help="mix / per-source / dedup-rate / quality-calibration tables in one JSON doc",
    )
    ac.add_argument("--limit", type=int, default=100,
                    help="max rows per table (0 = unlimited)")
    aw = au.add_parser(
        "web",
        help="raw-web front door: per-source boilerplate attribution + "
             "per-doc extraction stats (queries/web.py)",
    )
    aw.add_argument("--limit", type=int, default=100,
                    help="max rows per table (0 = unlimited)")

    srv = sub.add_parser("serve", help="long-running servers").add_subparsers(
        dest="what", required=True
    )
    srv.add_parser("mcp", help="MCP stdio JSON-RPC server (mcp-server/main.go)")

    return p


def _load_graph(spark, args):
    from codegraph_spark.graph import PropertyGraph

    if args.graph:
        return PropertyGraph.from_parquet(
            spark, f"{args.graph}/nodes", f"{args.graph}/edges"
        )
    if args.sf_dir:
        return PropertyGraph.from_tpch_recast(spark, args.sf_dir)
    raise SystemExit("this command needs --graph DIR or --sf-dir DIR")


def main(argv: list[str] | None = None) -> None:
    """Parse argv, run one command in a fresh session, print its JSON.

    Session lifecycle lives HERE; :func:`run_command` holds the actual
    command dispatch so an integration test (or an embedding caller)
    can drive the full CLI surface against ONE long-lived session —
    the reference's system test shape (system_test.go:329-397)."""
    args = _build_parser().parse_args(argv)

    from codegraph_spark.session import get_spark

    spark = get_spark(app_name="codegraph-spark-cli", cpus=args.cpus)
    try:
        out = run_command(args, spark)
        # only `serve` streams its own output; every other command's
        # result prints — including a legitimate None (e.g. `lsp
        # definition` on a missing symbol prints `null`, the reference's
        # JSON-for-every-command contract)
        if args.cmd != "serve":
            json.dump(out, sys.stdout, indent=2, default=str)
            print()
    finally:
        spark.stop()


def run_command(args: argparse.Namespace, spark) -> Any:
    """Execute one parsed CLI command against ``spark``; returns the
    JSON-serializable result (None for ``serve``, which streams)."""
    out: Any
    if args.cmd == "index":
        from codegraph_spark.graph import PropertyGraph

        if args.what == "project":
            from codegraph_spark.sources.static_index import index_project

            nodes, edges = index_project(spark, args.root)
            g = PropertyGraph(nodes, edges)
        elif args.what == "scip":
            from codegraph_spark.sources.scip import index_scip

            nodes, edges = index_scip(spark, args.scip_file)
            g = PropertyGraph(nodes, edges)
        else:  # docs (documents/indexer.go:72-95; cmd main.go:326-358)
            from codegraph_spark.sources.docs_index import (
                index_documents,
                merge_into_graph,
            )

            base = None
            symbols = None
            if args.code_graph:
                base = PropertyGraph.from_parquet(
                    spark,
                    f"{args.code_graph}/nodes",
                    f"{args.code_graph}/edges",
                )
                from pyspark.sql import functions as F

                symbols = base.nodes.filter(F.col("label") == "Symbol")
            nodes, edges = index_documents(spark, args.root, symbols=symbols)
            g = (
                merge_into_graph(base, nodes, edges)
                if base is not None
                else PropertyGraph(nodes, edges)
            )
        g.write_parquet(f"{args.out}/nodes", f"{args.out}/edges")
        from codegraph_spark import serving

        # `--graph D` serves from (D, "cli_graph_*") entries, which
        # write_parquet's invalidation of D/nodes and D/edges misses
        serving.invalidate(args.out)
        out = {
            "nodes": g.nodes.count(),
            "edges": g.edges.count(),
            "out": args.out,
        }
        if args.what == "docs":
            # the reference prints document stats after indexing
            # (cmd/codegraph/main.go:360-375)
            from codegraph_spark.sources.docs_index import document_stats

            out["stats"] = document_stats(g)
    elif args.cmd == "export":
        from pyspark.sql import functions as F

        from codegraph_spark.sinks import write_webdataset
        from codegraph_spark.sources.tables import load_table

        if not args.sf_dir:
            raise SystemExit("export needs --sf-dir DIR (the corpus root)")
        docs = load_table(spark, args.sf_dir, "documents").select(
            F.concat(F.lit("doc"), F.col("doc_id").cast("string")).alias("key"),
            F.col("text").alias("txt"),
            F.to_json(F.struct("lang", "source", "n_chars")).alias("json"),
        )
        manifest = write_webdataset(
            docs, args.out, samples_per_shard=args.per_shard
        ).collect()
        out = {
            "out": args.out,
            "shards": [r.asDict() for r in manifest],
            "n_samples": sum(r.n_samples for r in manifest),
        }
    elif args.cmd == "sql":
        from codegraph_spark.sql import sql as run_sql

        if not args.sf_dir:
            raise SystemExit("sql needs --sf-dir DIR (the warehouse root)")
        df = run_sql(spark, args.sf_dir, args.statement)
        if args.limit > 0:
            df = df.limit(args.limit)
        out = {"columns": df.columns,
               "rows": [list(r) for r in df.collect()]}
    elif args.cmd == "audit":
        from codegraph_spark.queries import collect

        if not args.sf_dir:
            raise SystemExit("audit needs --sf-dir DIR (the corpus root)")
        queries, _ = collect()
        tables = {}
        table_sets = {
            "corpus": (
                "corpus_mix_summary",
                "corpus_source_audit",
                "corpus_dedup_rate",
                "corpus_quality_calibration",
            ),
            "web": (
                "text_html_boilerplate_audit",
                "text_html_extract",
            ),
        }
        for name in table_sets[args.what]:
            df = queries[name](spark, args.sf_dir)
            if args.limit > 0:
                df = df.limit(args.limit)
            tables[name] = {
                "columns": df.columns,
                "rows": [list(r) for r in df.collect()],
            }
        out = {"sf_dir": args.sf_dir, "tables": tables}
    elif args.cmd == "doctor":
        from codegraph_spark.doctor import diagnose
        from codegraph_spark.queries import collect

        queries, _ = collect()
        if args.query not in queries:
            raise SystemExit(f"unknown query {args.query!r}")
        if not args.sf_dir:
            raise SystemExit("doctor needs --sf-dir DIR")
        findings = diagnose(queries[args.query](spark, args.sf_dir))
        out = {
            "query": args.query,
            "findings": [
                {"severity": f.severity, "check": f.check, "detail": f.detail}
                for f in findings
            ],
        }
    elif args.cmd == "status":
        # main.go:98-128: connection check + GetDatabaseInfo. A
        # live SparkSession IS the connection; report engine info.
        from codegraph_spark.schema import database_info

        out = {"connected": True, **database_info(spark)}
    elif args.cmd == "schema":
        from codegraph_spark.schema import SchemaManager, database_info

        g = _load_graph(spark, args)
        sm = SchemaManager()
        if args.what == "validate":
            out = sm.validate(g)
        elif args.what == "create":
            out = sm.apply(g)
        elif args.what == "drop":
            out = sm.drop_all()
        else:
            out = {**sm.info(g), **database_info(spark)}
    else:
        from codegraph_spark.services import AdvancedService, LSPService, MCPService

        # serving-cached load: repeated dispatches against one session
        # (the long-lived mode run_command exists for) reuse ONE
        # persisted copy per graph dir instead of stacking a fresh
        # .persist() per command (the leak class serving.py documents);
        # the LRU bound also caps a session cycling many graph dirs
        from codegraph_spark.graph import PropertyGraph
        from codegraph_spark.serving import shared_df

        src = args.graph or args.sf_dir or ""
        g = PropertyGraph(
            shared_df(spark, (src, "cli_graph_nodes"),
                      lambda: _load_graph(spark, args).nodes, eager=False),
            shared_df(spark, (src, "cli_graph_edges"),
                      lambda: _load_graph(spark, args).edges, eager=False),
        )
        if args.cmd == "serve":
            from codegraph_spark.mcp import serve

            serve(MCPService(g), sys.stdin, sys.stdout)
            return
        if args.cmd == "query":
            if args.what == "search":
                out = LSPService(g).search(args.term, args.types, args.limit)
            else:
                out = MCPService(g).get_source(args.function_name)
        elif args.cmd == "lsp":
            svc = LSPService(g)
            out = {
                "definition": lambda: svc.go_to_definition(args.symbol),
                "references": lambda: svc.find_references(
                    args.symbol, include_declaration=args.include_declaration
                ),
                "implementations": lambda: svc.find_implementations(args.symbol),
                "hover": lambda: svc.get_hover(args.symbol),
                "completion": lambda: svc.get_completion(args.prefix, args.limit),
            }[args.what]()
        else:  # analyze
            adv = AdvancedService(g)
            out = {
                "impact": lambda: adv.analyze_impact(args.symbol, args.max_depth),
                "deps": lambda: adv.analyze_dependencies(args.service_pkg),
                "flow": lambda: adv.trace_data_flow(args.node_id, args.max_depth),
                "complexity": lambda: adv.analyze_complexity(args.threshold),
                "callgraph": lambda: adv.build_call_graph(
                    args.root_id, args.direction, args.max_depth
                ),
            }[args.what]()
    return out


if __name__ == "__main__":
    main()
