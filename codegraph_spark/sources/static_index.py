"""Static AST indexer — the Spark-first analog of the reference's
Go-AST pipeline (pkg/indexer/static/indexer.go).

Pipeline shape mirrors the reference exactly; the host language differs
(this container has a Python toolchain, not Go, so the per-file parser
is stdlib ``ast`` instead of ``go/parser``):

- S1 directory walk + skip-list (indexer.go:43-82, skip list :699-712)
  → a distributed ``text`` scan with ``recursiveFileLookup`` +
  ``pathGlobFilter``, anti-filtered on the skip dirs. The walk itself is
  metadata-only on the driver; file CONTENT is read by executors.
- S2 per-file parse → node/edge rows (indexer.go:100-161, visitor
  :176-193) → one ``mapInPandas`` stage. Parsing is embarrassingly
  parallel and shuffle-free: each file is parsed exactly once, on
  whichever executor holds its split, and emits a flat record stream.
- Node properties follow pkg/models/node.go (File :46-54, Module
  :57-63, Class :66-77, Function :91-103, Method :106-120, Parameter
  :136-143, Symbol :146-152) including the indexer-added
  startColumn/endColumn/linesOfCode (indexer.go:244-262).
- Edges: CONTAINS hierarchy + DEFINES to minted SCIP-style symbols
  (models/symbol.go:11-17) — the same five edge types the reference's
  pipelines actually emit (SURVEY §1.3 note). We additionally emit
  best-effort same-file CALLS edges (the reference declares CALLS but
  left call-site indexing as a TODO, indexer.go:300).

Scale: the only shuffle in the whole job is the final upsert's key
shuffle. At 100 TB of source the parse stage scales linearly with
executors; ``spark.sql.files.maxPartitionBytes`` controls per-task file
batching. Records flow through Arrow in ``mapInPandas`` batches.
"""

from __future__ import annotations

import ast
import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

# Reference skip list, static/indexer.go:699-712 (plus Python-ecosystem
# equivalents of vendor/bin dirs).
SKIP_DIRS = [
    "vendor", ".git", ".github", "node_modules", ".vscode", "bin",
    "build", "dist", "tmp", ".idea", "__pycache__", ".venv", ".tox",
]

# One flat record schema for nodes AND edges — a single parse pass emits
# both; split downstream by rec (avoids parsing every file twice).
RECORD_SCHEMA = StructType([
    StructField("rec", StringType()),          # 'node' | 'edge'
    StructField("id", StringType()),           # node id / edge src
    StructField("label", StringType()),        # node label / edge type
    StructField("dst", StringType()),          # edge dst
    StructField("name", StringType()),
    StructField("fqn", StringType()),
    StructField("path", StringType()),
    StructField("start_line", IntegerType()),
    StructField("end_line", IntegerType()),
    StructField("start_col", IntegerType()),
    StructField("end_col", IntegerType()),
    StructField("lines_of_code", IntegerType()),
    StructField("signature", StringType()),
    StructField("docstring", StringType()),
    StructField("is_exported", BooleanType()),
    StructField("is_async", BooleanType()),
    StructField("complexity", IntegerType()),
    StructField("symbol", StringType()),
    StructField("order", IntegerType()),       # CONTAINS order prop
    StructField("hash", StringType()),         # File sha256 (F4, indexer.go:693-697)
    StructField("language", StringType()),     # F8 language-from-extension
])

# F8 parity (scip_indexer.go detectLanguage): extension → language.
LANGUAGE_BY_EXT = {".py": "Python", ".go": "Go"}


def _language(path: str) -> str | None:
    dot = path.rfind(".")
    return LANGUAGE_BY_EXT.get(path[dot:]) if dot >= 0 else None

_BRANCH_NODES = (
    ast.If, ast.For, ast.While, ast.ExceptHandler, ast.With,
    ast.BoolOp, ast.IfExp, ast.comprehension, ast.Assert, ast.Match,
)


def _complexity(node: ast.AST) -> int:
    """Cyclomatic-ish complexity: 1 + branch points — the reference's
    Function.complexity property (node.go:100, advanced.go:201)."""
    return 1 + sum(isinstance(n, _BRANCH_NODES) for n in ast.walk(node))


def _mint_symbol(module_fqn: str, fqn: str, kind: str) -> str:
    """SCIP-style 5-part symbol (models/symbol.go:11-17; descriptor
    grammar :52-90 — `#` type, `().` function, `#m().` method)."""
    suffix = {"class": "#", "function": "().", "method": "#m().", "variable": "."}[kind]
    return f"scip-python pypi {module_fqn} v0 {fqn}{suffix}"


def _signature(fn: ast.FunctionDef | ast.AsyncFunctionDef) -> str:
    args = [a.arg for a in fn.args.posonlyargs + fn.args.args]
    if fn.args.vararg:
        args.append("*" + fn.args.vararg.arg)
    args += [a.arg for a in fn.args.kwonlyargs]
    if fn.args.kwarg:
        args.append("**" + fn.args.kwarg.arg)
    ret = ""
    if fn.returns is not None:
        try:
            ret = " -> " + ast.unparse(fn.returns)
        except Exception:
            ret = ""
    return f"{fn.name}({', '.join(args)}){ret}"


def parse_python_file(path: str, source: str) -> list[dict]:
    """Pure per-file extraction: node + edge records for one module.
    The analog of indexFile (indexer.go:100-161)."""
    records: list[dict] = []
    module_fqn = (
        path.rsplit("/", 1)[-1].removesuffix(".py") or "module"
    )
    file_id = f"file:{path}"
    module_id = f"module:{path}"

    def rec(**kw) -> None:
        base = {f.name: None for f in RECORD_SCHEMA.fields}
        base.update(kw)
        records.append(base)

    def node(id_, label, **kw) -> None:
        rec(rec="node", id=id_, label=label, path=path, **kw)

    def edge(src, type_, dst, order=None) -> None:
        rec(rec="edge", id=src, label=type_, dst=dst, order=order)

    n_lines = source.count("\n") + 1
    node(file_id, "File", name=path.rsplit("/", 1)[-1],
         fqn=path, start_line=1, end_line=n_lines, lines_of_code=n_lines,
         language="Python",
         hash=hashlib.sha256(source.encode("utf-8")).hexdigest())

    try:
        tree = ast.parse(source)
    except SyntaxError:
        return records  # file node only; reference logs & skips (indexer.go:104-110)

    node(module_id, "Module", name=module_fqn, fqn=module_fqn,
         is_exported=not module_fqn.startswith("_"),
         docstring=ast.get_docstring(tree))
    edge(file_id, "CONTAINS", module_id, order=0)

    # local definition table for best-effort CALLS resolution
    def_ids: dict[str, str] = {}
    fn_nodes: list[tuple[ast.AST, str]] = []  # (ast node, node id)

    def span(n: ast.AST) -> dict:
        return dict(
            start_line=n.lineno, end_line=n.end_lineno,
            start_col=n.col_offset, end_col=n.end_col_offset,
            lines_of_code=n.end_lineno - n.lineno + 1,
        )

    def emit_function(fn, parent_id: str, parent_fqn: str, order: int,
                      kind: str) -> None:
        fqn = f"{parent_fqn}.{fn.name}"
        fid = f"{kind}:{path}:{fqn}"
        def_ids[fn.name] = fid
        fn_nodes.append((fn, fid))
        node(
            fid, "Method" if kind == "method" else "Function",
            name=fn.name, fqn=fqn, signature=_signature(fn),
            docstring=ast.get_docstring(fn),
            is_exported=not fn.name.startswith("_"),
            is_async=isinstance(fn, ast.AsyncFunctionDef),
            complexity=_complexity(fn), **span(fn),
        )
        edge(parent_id, "CONTAINS", fid, order=order)
        sym = _mint_symbol(module_fqn, fqn, kind)
        node(f"symbol:{sym}", "Symbol", name=fn.name, symbol=sym)
        edge(fid, "DEFINES", f"symbol:{sym}")
        for i, a in enumerate(fn.args.posonlyargs + fn.args.args):
            pid = f"parameter:{path}:{fqn}.{a.arg}"
            node(pid, "Parameter", name=a.arg, fqn=f"{fqn}.{a.arg}",
                 start_line=a.lineno, end_line=a.end_lineno,
                 start_col=a.col_offset, end_col=a.end_col_offset,
                 order=i)
            edge(fid, "CONTAINS", pid, order=i)

    def emit_class(cls: ast.ClassDef, parent_id: str, parent_fqn: str,
                   order: int) -> None:
        fqn = f"{parent_fqn}.{cls.name}"
        cid = f"class:{path}:{fqn}"
        def_ids[cls.name] = cid
        node(cid, "Class", name=cls.name, fqn=fqn,
             docstring=ast.get_docstring(cls),
             is_exported=not cls.name.startswith("_"),
             complexity=_complexity(cls), **span(cls))
        edge(parent_id, "CONTAINS", cid, order=order)
        sym = _mint_symbol(module_fqn, fqn, "class")
        node(f"symbol:{sym}", "Symbol", name=cls.name, symbol=sym)
        edge(cid, "DEFINES", f"symbol:{sym}")
        for i, item in enumerate(cls.body):
            if isinstance(item, (ast.FunctionDef, ast.AsyncFunctionDef)):
                emit_function(item, cid, fqn, i, "method")

    for i, item in enumerate(tree.body):
        if isinstance(item, (ast.FunctionDef, ast.AsyncFunctionDef)):
            emit_function(item, module_id, module_fqn, i, "function")
        elif isinstance(item, ast.ClassDef):
            emit_class(item, module_id, module_fqn, i)
        elif isinstance(item, ast.Assign):
            for t in item.targets:
                if isinstance(t, ast.Name):
                    vid = f"variable:{path}:{module_fqn}.{t.id}"
                    node(vid, "Variable", name=t.id,
                         fqn=f"{module_fqn}.{t.id}",
                         is_exported=not t.id.startswith("_"),
                         **span(item))
                    edge(module_id, "CONTAINS", vid, order=i)

    # Best-effort same-file CALLS (reference TODO, indexer.go:300):
    # a Call whose func is a bare Name matching a local definition.
    for fn, fid in fn_nodes:
        for c in ast.walk(fn):
            if (
                isinstance(c, ast.Call)
                and isinstance(c.func, ast.Name)
                and c.func.id in def_ids
                and def_ids[c.func.id] != fid
            ):
                edge(fid, "CALLS", def_ids[c.func.id])
    return records


def parse_source_file(path: str, source: str) -> list[dict]:
    """Language dispatch for the per-file parse kernel: ``go/parser``
    analog for ``.go`` (sources/go_index.py), stdlib ``ast`` for ``.py``.
    Same flat RECORD_SCHEMA stream either way."""
    if path.endswith(".go"):
        from codegraph_spark.sources.go_index import parse_go_file

        return parse_go_file(path, source)
    return parse_python_file(path, source)


def walk_sources(spark: SparkSession, root: str, glob: str = "*.{py,go}") -> DataFrame:
    """S1 directory walk as a distributed scan (indexer.go:43-82).
    Returns ``(path, content)``; skip-dir anti-filter applied on the
    file path, test files dropped like the reference drops *_test.go
    (indexer.go:58-60)."""
    df = (
        spark.read.format("text")
        .option("wholetext", "true")
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", glob)
        .load(root)
        .select(
            F.regexp_replace(F.input_file_name(), "^file:", "").alias("path"),
            F.col("value").alias("content"),
        )
    )
    # Skip dirs are matched on the ROOT-RELATIVE path — the reference
    # walk skips relative to the indexed root (indexer.go:58-66), so a
    # project that itself lives under e.g. /tmp or /build still indexes.
    import os

    prefix = os.path.abspath(root).rstrip("/") + "/"
    rel = F.substring(F.col("path"), len(prefix) + 1, 1 << 20)
    skip_re = "(^|/)(" + "|".join(d.replace(".", r"\.") for d in SKIP_DIRS) + ")/"
    return df.filter(
        ~rel.rlike(skip_re) & ~F.col("path").endswith("_test.go")
    )


def index_records(files: DataFrame) -> DataFrame:
    """S2 parse stage: one ``mapInPandas`` pass over (path, content)
    emitting the flat node/edge record stream."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: list[dict] = []
            for path, content in zip(pdf["path"], pdf["content"]):
                out.extend(parse_source_file(path, content))
            yield pd.DataFrame(out, columns=[f.name for f in RECORD_SCHEMA.fields])

    return files.mapInPandas(run, schema=RECORD_SCHEMA)


def split_records(records: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Split the record stream into (nodes, edges).

    Four branches read *records* (nodes, edges, call candidates and Go
    targets), so a lazy ``localCheckpoint`` truncates it first: the
    first action computes the parse once and every later read, in that
    action or the next, scans the checkpointed blocks. Unlike
    ``persist()`` it registers nothing with Spark's plan-matching cache,
    so a later parse of the same root reads the files again.

    Cross-file call resolution: the Go kernel emits ``callcand``
    records for bare-name calls with no same-file definition (in Go a
    bare name may be defined in any file of the package). Those resolve
    here as ONE distributed equi-join on (package fqn, name) against
    the package-level Function nodes — per-file kernels stay pure, the
    cross-file state lives in the shuffle, exactly where it scales."""
    records = records.localCheckpoint(eager=False)
    nodes = (
        records.filter(F.col("rec") == "node")
        .drop("rec", "dst", "order")
        .dropDuplicates(["id"])  # Symbol nodes repeat across definitions
    )
    edges = (
        records.filter(F.col("rec") == "edge")
        .select(
            F.col("id").alias("src"),
            F.col("dst"),
            F.col("label").alias("type"),
            F.col("order"),
        )
    )
    cands = records.filter(F.col("rec") == "callcand").select(
        F.col("id").alias("src"),
        F.col("name").alias("callee"),
        F.col("fqn").alias("pkg"),
    )
    # Candidates only come from Go files, and a Go bare name resolves to
    # a package-level Go FUNCTION — restrict targets to language='Go'
    # (carried on every Go record) so a Python module whose fqn collides
    # with a Go package fqn can never fabricate a cross-language CALLS
    # edge. For Go Function nodes fqn is exactly "<pkg>.<name>", so the
    # suffix strip below is exact, not a heuristic.
    targets = nodes.filter(
        (F.col("label") == "Function") & (F.col("language") == "Go")
    ).select(
        F.col("id").alias("dst"),
        F.col("name").alias("callee"),
        F.expr("substring(fqn, 1, length(fqn) - length(name) - 1)").alias("pkg"),
    )
    resolved = (
        cands.join(targets, ["pkg", "callee"])
        .filter(F.col("src") != F.col("dst"))
        .select(
            "src", "dst", F.lit("CALLS").alias("type"),
            F.lit(None).cast("int").alias("order"),
        )
    )
    return nodes, edges.unionByName(resolved).dropDuplicates(["src", "dst", "type"])


def index_project(
    spark: SparkSession, root: str, service_name: str | None = None
) -> tuple[DataFrame, DataFrame]:
    """IndexProject parity (indexer.go:43-82): Service root node
    (createServiceNode, indexer.go:84-97) + Service-CONTAINS->File edges
    (indexer.go:132) + walk → parse → split. Deterministic for a fixed
    tree (the reference stamps createdAt/updatedAt; we leave timestamps
    to the upsert layer, F21, so re-index is exactly idempotent)."""
    nodes, edges = split_records(index_records(walk_sources(spark, root)))

    name = service_name or root.rstrip("/").rsplit("/", 1)[-1]
    sid = f"service:{name}"
    svc = spark.createDataFrame(
        [(sid, "Service", name, name, root)], "id string, label string, name string, fqn string, path string"
    )
    svc_nodes = svc.select(
        *[
            F.col(f.name).cast(f.dataType)
            if f.name in ("id", "label", "name", "fqn", "path")
            else F.lit(None).cast(f.dataType).alias(f.name)
            for f in nodes.schema.fields
        ]
    )
    svc_edges = (
        nodes.filter(F.col("label") == "File")
        .select(
            F.lit(sid).alias("src"),
            F.col("id").alias("dst"),
            F.lit("CONTAINS").alias("type"),
            F.lit(None).cast("int").alias("order"),
        )
    )
    return nodes.unionByName(svc_nodes), edges.unionByName(svc_edges)
