"""Dogfood tests for the static AST indexer — the reference indexes
itself and asserts threshold counts + integrity invariants
(test/integration/indexing_test.go:91-158, :412-466;
system_test.go:329-397 for the linesOfCode invariant)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from codegraph_spark.sources.static_index import (
    index_project,
    parse_python_file,
)

REPO_PKG = os.path.join(os.path.dirname(os.path.dirname(__file__)), "codegraph_spark")


@pytest.fixture(scope="module")
def indexed(spark):
    nodes, edges = index_project(spark, REPO_PKG)
    nodes, edges = nodes.persist(), edges.persist()
    yield nodes, edges
    nodes.unpersist()
    edges.unpersist()


def test_threshold_counts(indexed):
    """indexing_test.go:91-158 shape: self-index yields sane volumes."""
    nodes, edges = indexed
    by_label = {r["label"]: r["n"] for r in
                nodes.groupBy("label").agg(F.count("*").alias("n")).collect()}
    assert by_label.get("File", 0) >= 15
    assert by_label.get("Module", 0) >= 15
    assert by_label.get("Function", 0) >= 40
    assert by_label.get("Class", 0) >= 2
    assert by_label.get("Parameter", 0) >= 80
    assert by_label.get("Symbol", 0) >= 40
    by_type = {r["type"]: r["n"] for r in
               edges.groupBy("type").agg(F.count("*").alias("n")).collect()}
    assert by_type.get("CONTAINS", 0) >= 150
    assert by_type.get("DEFINES", 0) >= 40
    assert by_type.get("CALLS", 0) >= 1


def test_lines_of_code_invariant(indexed):
    """system_test.go:329-397: linesOfCode == endLine - startLine + 1."""
    nodes, _ = indexed
    bad = nodes.filter(
        F.col("lines_of_code").isNotNull()
        & (F.col("lines_of_code") != F.col("end_line") - F.col("start_line") + 1)
    )
    assert bad.isEmpty()


def test_no_orphan_edges(indexed):
    """indexing_test.go:412-466: every edge endpoint resolves to a node
    (anti-join == 0) — both directions."""
    nodes, edges = indexed
    ids = nodes.select("id")
    assert edges.join(ids, edges.src == ids.id, "left_anti").isEmpty()
    assert edges.join(ids, edges.dst == ids.id, "left_anti").isEmpty()


def test_symbol_uniqueness(indexed):
    """Symbol.symbol uniqueness constraint (schema.go:41-46)."""
    nodes, _ = indexed
    from codegraph_spark.operators.upsert import assert_unique

    assert_unique(nodes, ["id"], label="nodes.id")
    assert_unique(nodes.filter("symbol IS NOT NULL"), ["symbol"])


def test_reindex_idempotent(spark, indexed):
    """Re-running the indexer and merging leaves the graph unchanged —
    the reference's re-index invariant."""
    nodes, _ = indexed
    from codegraph_spark.operators.upsert import merge_upsert

    nodes2, _ = index_project(spark, REPO_PKG)
    merged = merge_upsert(nodes, nodes2, keys=["id"])
    assert merged.count() == nodes.count()
    assert merged.exceptAll(nodes).isEmpty()


def test_split_records_parses_once(spark, tmp_path):
    """A nodes write plus an edges write run the Python parse once:
    split_records reads its input four times (nodes, edges, call
    candidates, Go targets), and an un-persisted input re-ran the
    parse for each read."""
    from codegraph_spark.sources.static_index import (
        RECORD_SCHEMA,
        parse_source_file,
        split_records,
    )

    log = str(tmp_path / "parses")

    def counted_parse(batches):
        import pandas as pd

        for pdf in batches:
            with open(log, "a") as fh:
                fh.write("parse\n")
            out = [r for p, c in zip(pdf["path"], pdf["content"])
                   for r in parse_source_file(p, c)]
            yield pd.DataFrame(out, columns=RECORD_SCHEMA.fieldNames())

    files = spark.createDataFrame(
        [("/src/m.py", "def a(x):\n    return b(x)\n\ndef b(x):\n    return x\n")],
        "path string, content string",
    ).coalesce(1)
    nodes, edges = split_records(files.mapInPandas(counted_parse, RECORD_SCHEMA))
    nodes.write.parquet(str(tmp_path / "nodes"))
    edges.write.parquet(str(tmp_path / "edges"))
    assert spark.read.parquet(str(tmp_path / "edges")).filter(
        F.col("type") == "CALLS").count() == 1
    with open(log) as fh:
        assert fh.read().count("parse") == 1


def test_parse_unit():
    """Pure-function unit check on a known source (signature, method
    vs function labels, parameter order, CALLS resolution)."""
    src = '''\
X = 1

def helper(a, b):
    """doc."""
    return a + b

async def run(x):
    return helper(x, 2)

class Engine:
    def __init__(self, n):
        self.n = n

    def go(self):
        return helper(self.n, 1)
'''
    recs = parse_python_file("/p/mod.py", src)
    nodes = {r["id"]: r for r in recs if r["rec"] == "node"}
    edges = [(r["id"], r["label"], r["dst"]) for r in recs if r["rec"] == "edge"]

    fn = nodes["function:/p/mod.py:mod.helper"]
    assert fn["signature"] == "helper(a, b)"
    assert fn["docstring"] == "doc."
    assert fn["label"] == "Function" and fn["is_exported"]

    run = nodes["function:/p/mod.py:mod.run"]
    assert run["is_async"]

    go = nodes["method:/p/mod.py:mod.Engine.go"]
    assert go["label"] == "Method"

    var = nodes["variable:/p/mod.py:mod.X"]
    assert var["label"] == "Variable"

    # parameter order prop
    params = [r for r in recs if r["rec"] == "node" and r["label"] == "Parameter"
              and r["fqn"].startswith("mod.helper.")]
    assert [p["name"] for p in sorted(params, key=lambda p: p["order"])] == ["a", "b"]

    calls = {(s, d) for s, t, d in edges if t == "CALLS"}
    assert ("function:/p/mod.py:mod.run", "function:/p/mod.py:mod.helper") in calls
    assert ("method:/p/mod.py:mod.Engine.go", "function:/p/mod.py:mod.helper") in calls

    # minted SCIP symbols parse as 5-part strings
    syms = [r["symbol"] for r in recs if r["rec"] == "node" and r["label"] == "Symbol"]
    assert all(len(s.split(" ", 4)) == 5 for s in syms)


def test_syntax_error_degrades_to_file_node():
    recs = parse_python_file("/p/bad.py", "def broken(:\n")
    labels = {r["label"] for r in recs if r["rec"] == "node"}
    assert labels == {"File"}
