"""One-session CLI integration test mirroring the reference's system
test (system_test.go:329-397): index this repo's own package, index a
documentation directory against it, then search / lsp / analyze the
merged graph — all through ``__main__`` command dispatch against a
single SparkSession, asserting the linesOfCode metadata invariant on
the way (r5 VERDICT item 7)."""

from __future__ import annotations

import os

import pytest

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_DOC = """# Serving Cache Design

The `shared_df` helper memoizes persisted DataFrames per dataset.
Status: completed.

## Feature: serving cache

The serving cache feature bounds memory with LRU eviction. The
`invalidate` function drops a dataset's entries.
"""

_DOC2 = """# CLI Dispatch RFC

`run_command` executes one parsed command against a live session.
Status: in progress.

## Feature: cli dispatch

Single-session dispatch lets integration tests drive every command.
"""


def _run(spark, argv):
    from codegraph_spark.__main__ import _build_parser, run_command

    return run_command(_build_parser().parse_args(argv), spark)


@pytest.fixture(scope="module")
def cli_graphs(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("cli_e2e")
    code_out = str(root / "code_graph")
    merged_out = str(root / "merged_graph")
    docs = root / "docs"
    docs.mkdir()
    (docs / "serving.md").write_text(_DOC)
    (docs / "cli-rfc.md").write_text(_DOC2)

    idx = _run(
        spark,
        ["index", "project", os.path.join(_REPO, "codegraph_spark"),
         "--out", code_out],
    )
    merged = _run(
        spark,
        ["index", "docs", str(docs), "--out", merged_out,
         "--code-graph", code_out],
    )
    return {"code_out": code_out, "merged_out": merged_out,
            "idx": idx, "merged": merged}


def test_cli_index_project_emits_graph(cli_graphs):
    assert cli_graphs["idx"]["nodes"] > 100      # the package is real
    assert cli_graphs["idx"]["edges"] > 100


def test_cli_lines_of_code_invariant(spark, cli_graphs):
    """system_test.go:329-397: linesOfCode == endLine - startLine + 1
    for every node carrying the metadata, checked on the graph the CLI
    actually wrote."""
    nodes = spark.read.parquet(cli_graphs["code_out"] + "/nodes")
    with_meta = nodes.filter(
        "lines_of_code IS NOT NULL AND start_line IS NOT NULL "
        "AND end_line IS NOT NULL"
    )
    assert with_meta.count() > 50
    bad = with_meta.filter(
        "lines_of_code != end_line - start_line + 1"
    ).count()
    assert bad == 0


def test_cli_index_docs_merges_and_reports_stats(cli_graphs):
    stats = cli_graphs["merged"]["stats"]
    assert stats["documentCount"] == 2
    assert stats["featureCount"] >= 2
    # merged graph keeps the code side
    assert cli_graphs["merged"]["nodes"] > cli_graphs["idx"]["nodes"]


def test_cli_search_then_lsp_then_analyze_same_session(spark, cli_graphs):
    g = cli_graphs["merged_out"]
    hits = _run(
        spark, ["--graph", g, "query", "search", "shared_df",
         "--types", "Symbol", "Function", "--limit", "10"]
    )
    assert hits, "search found nothing for a symbol the package defines"
    sym = next(r["symbol"] for r in hits if r.get("symbol"))

    d = _run(spark, ["--graph", g, "lsp", "definition", sym])
    assert d is not None and d.get("location")

    impact = _run(spark, ["--graph", g, "analyze", "impact", sym])
    assert impact["symbol"] == sym
    assert isinstance(impact["affectedFunctions"], list)

    status = _run(spark, ["status"])
    assert status["connected"] is True


def test_cli_same_session_reindex_serves_new_symbol(spark, tmp_path):
    """index → query → edit → re-index → query in one session: the
    second query sees the new function. Two stale layers used to hide
    it: the persisted parse of the first index (Spark's cache matches
    the re-index's identical plan) and the `--graph` serving cache."""
    tree = tmp_path / "tree"
    tree.mkdir()
    src = tree / "mod.py"
    src.write_text("def fn_a(x):\n    return x\n")
    out = str(tmp_path / "graph")

    _run(spark, ["index", "project", str(tree), "--out", out])
    assert _run(spark, ["--graph", out, "lsp", "completion", "fn_"]) == ["fn_a"]
    with open(src, "a") as fh:
        fh.write("\n\ndef fn_b(x):\n    return fn_a(x)\n")
    _run(spark, ["index", "project", str(tree), "--out", out])
    assert _run(spark, ["--graph", out, "lsp", "completion", "fn_"]) == ["fn_a", "fn_b"]


def test_cli_export_webdataset(spark, tmp_path):
    import os
    import tarfile

    out = str(tmp_path / "wds")
    res = _run(
        spark,
        ["--sf-dir", os.environ.get("SPARK_GRAFT_TEST_SF_DIR",
                                    "/root/testdata/sf0.001"),
         "export", "webdataset", "--out", out, "--per-shard", "100"],
    )
    assert res["n_samples"] > 0
    assert res["shards"]
    first = res["shards"][0]
    with tarfile.open(os.path.join(out, f"shard-{first['shard']:05d}.tar")) as tar:
        names = tar.getnames()
    assert any(n.endswith(".txt") for n in names)
    assert any(n.endswith(".json") for n in names)
