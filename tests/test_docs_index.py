"""Document-ingestion pipeline tests — modeled on the reference's
integration suite (test/integration/indexing_test.go:233-288 threshold
counts, :290-364 cross-context queries) plus parser-kernel unit pins
(pkg/indexer/documents/parser.go semantics)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from codegraph_spark.graph import PropertyGraph
from codegraph_spark.sources.docs_index import (
    chunk_document,
    document_stats,
    extract_code_symbols,
    extract_features,
    extract_title,
    index_documents,
    infer_document_type,
    infer_feature_status,
    link_mentions,
    merge_into_graph,
)

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO_ROOT, "codegraph_spark")

ARCH_DOC = """# Query Engine Architecture

This document describes the engine. The system must Provide Fast Lookups
over the property graph, and implements Distributed Feature Extraction
for document corpora. Work on the ingest layer is completed.

## Storage Layer

Feature: Columnar Graph Storage with label partitioning. The storage
layer uses `PropertyGraph` and `merge_upsert` for writes.

## Query Layer

The query layer is in progress. It implements Traversal Closures and
calls `index_documents()` during ingest.
"""

RFC_DOC = """# RFC: Incremental Document Indexing

Status: proposed. The indexer should Support Incremental Updates so a
re-run only touches changed files.

## Planned Work

API: /Documents/Reindex endpoint is planned for a future release. The
implementation uses `link_mentions` and `split_document_records`.
"""


@pytest.fixture(scope="module")
def doc_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("docs")
    (d / "architecture.md").write_text(ARCH_DOC)
    (d / "rfc-001.md").write_text(RFC_DOC)
    return str(d)


@pytest.fixture(scope="module")
def doc_graph(spark, doc_dir):
    nodes, edges = index_documents(spark, doc_dir)
    g = PropertyGraph(nodes, edges).persist()
    yield g
    g.nodes.unpersist()
    g.edges.unpersist()


# --- parser kernel pins (parser.go parity) -----------------------------------

def test_extract_title_heading():
    assert extract_title("# My Title\n\nbody") == "My Title"


def test_extract_title_fallback_line():
    assert extract_title("\n\n  **Some Doc**  \nrest") == "Some Doc"


def test_extract_title_untitled():
    assert extract_title("") == "Untitled Document"


def test_infer_document_type():
    assert infer_document_type("/a/README.md") == "README"
    assert infer_document_type("/a/rfc-7.md") == "RFC"
    assert infer_document_type("/a/spec-x.md") == "Specification"
    assert infer_document_type("/a/arch.md") == "Architecture"
    assert infer_document_type("/a/notes.md") == "Markdown Document"
    assert infer_document_type("/a/notes.txt") == "Text Document"
    assert infer_document_type("/a/notes.rst") == "reStructuredText"
    assert infer_document_type("/a/notes.adoc") == "Document"


def test_chunking_bounds_words():
    paragraphs = "\n\n".join("word " * 300 for _ in range(5))
    chunks = chunk_document(paragraphs, chunk_words=1000)
    assert len(chunks) == 2  # 3 paragraphs (900 words) + 2 (600)
    assert all(len(c.split()) <= 1000 for c in chunks)


def test_chunking_never_splits_a_paragraph():
    big = "word " * 1500
    chunks = chunk_document(big.strip(), chunk_words=1000)
    assert len(chunks) == 1  # single paragraph exceeds bound -> one chunk


def test_status_priority_order_is_deterministic():
    # both 'completed' and 'deprecated' keywords present: fixed priority
    # order picks 'completed' every run (Go map iteration would flap)
    assert infer_feature_status("done but obsolete") == "completed"
    assert infer_feature_status("this is deprecated") == "deprecated"
    assert infer_feature_status("nothing special") == "documented"


def test_feature_extraction_families():
    feats = {f["name"]: f for f in extract_features(ARCH_DOC, "/x/arch.md")}
    # regex families (parser.go:113-119) and headers (:142-159)
    assert any("Fast Lookups" in n for n in feats)          # requirement
    assert any("Feature Extraction" in n for n in feats)    # implementation
    assert "Storage Layer" in feats                         # header
    assert "Query Layer" in feats
    statuses = {f["status"] for f in feats.values()}
    assert "completed" in statuses or "in_progress" in statuses


def test_feature_dedup_merges_tags_and_longest_description():
    doc = (
        "Feature: Alpha Beta processing is fast.\n\n"
        "The system implements Alpha Beta with a much longer sentence "
        "describing what Alpha Beta actually does in detail."
    )
    feats = extract_features(doc, "/x/a.md")
    matches = [f for f in feats if f["name"].strip().lower().startswith("alpha beta")]
    # normalized-name dedup: at most one merged row per normalized name
    names = [f["name"].strip().lower() for f in matches]
    assert len(names) == len(set(names))


def test_code_symbol_extraction_stoplist():
    content = "Use `PropertyGraph` and `merge_upsert` but not `the` or `plain`."
    syms = extract_code_symbols(content)
    assert "PropertyGraph" in syms
    assert "merge_upsert" in syms
    assert "the" not in syms
    assert "plain" not in syms  # no capital/underscore shape


# --- indexing_test.go:233-288 threshold parity -------------------------------

def test_document_nodes_created(doc_graph):
    assert doc_graph.nodes.filter(F.col("label") == "Document").count() >= 2


def test_feature_nodes_extracted(doc_graph):
    assert doc_graph.nodes.filter(F.col("label") == "Feature").count() >= 5


def test_describes_edges(doc_graph):
    assert doc_graph.edges.filter(F.col("type") == "DESCRIBES").count() >= 3


def test_feature_statuses_vary(doc_graph):
    statuses = (
        doc_graph.nodes.filter(F.col("label") == "Feature")
        .select("status").distinct().count()
    )
    assert statuses >= 2


def test_document_props(doc_graph):
    rows = {
        r["title"]: r
        for r in doc_graph.nodes.filter(F.col("label") == "Document").collect()
    }
    assert "Query Engine Architecture" in rows
    arch = rows["Query Engine Architecture"]
    assert arch["doc_type"] == "Architecture"
    assert arch["content"].startswith("# Query Engine")
    assert arch["source_url"].endswith("architecture.md")


def test_reindex_is_idempotent(spark, doc_dir, doc_graph):
    nodes2, edges2 = index_documents(spark, doc_dir)
    assert nodes2.count() == doc_graph.nodes.count()
    assert edges2.count() == doc_graph.edges.count()


def test_reindex_same_session_sees_edited_doc(spark, tmp_path):
    """Re-indexing an edited tree in the same session parses it again:
    the new mention appears and the old one is gone."""
    symbols = spark.createDataFrame(
        [("sym:alpha", "alpha_fn", "pkg alpha_fn"), ("sym:beta", "beta_fn", "pkg beta_fn")],
        "id string, name string, symbol string",
    )
    doc = tmp_path / "notes.md"

    def mentioned(text):
        doc.write_text(f"# Notes\n\nThe loader calls `{text}` on start.\n")
        _, edges = index_documents(spark, str(tmp_path), symbols=symbols)
        return {r["dst"] for r in edges.filter(F.col("type") == "MENTIONS").collect()}

    assert mentioned("alpha_fn") == {"sym:alpha"}
    assert mentioned("beta_fn") == {"sym:beta"}


# --- cross-context integration (indexing_test.go:290-364) --------------------

@pytest.fixture(scope="module")
def merged_graph(spark, doc_dir):
    from codegraph_spark.sources.static_index import index_project

    cn, ce = index_project(spark, PKG)
    code = PropertyGraph(cn, ce)
    symbols = code.nodes.filter(F.col("label") == "Symbol")
    dn, de = index_documents(spark, doc_dir, symbols=symbols)
    g = merge_into_graph(code, dn, de).persist()
    yield g
    g.nodes.unpersist()
    g.edges.unpersist()


def test_mentions_link_docs_to_code_symbols(merged_graph):
    mentions = merged_graph.edges.filter(F.col("type") == "MENTIONS")
    assert mentions.count() >= 2  # `merge_upsert`, `link_mentions`, ...
    # every MENTIONS dst is a real Symbol node; context carries the ref
    sym_ids = merged_graph.nodes.filter(F.col("label") == "Symbol").select("id")
    assert mentions.join(sym_ids, mentions.dst == sym_ids.id, "left_anti").count() == 0
    assert mentions.filter(F.col("context").isNull()).count() == 0


def test_mentions_capped_at_five_per_ref(merged_graph):
    mentions = merged_graph.edges.filter(F.col("type") == "MENTIONS")
    per_ref = (
        mentions.select("src", "context", "dst").distinct()
        .groupBy("src", "context").agg(F.count("*").alias("n"))
    )
    assert per_ref.filter(F.col("n") > 5).count() == 0


def test_cross_context_search(merged_graph):
    """indexing_test.go:290-326: one term found across code AND doc
    contexts — node types from both pipelines in one result."""
    term = "index"
    hits = merged_graph.nodes.filter(
        F.lower(F.coalesce(F.col("name"), F.lit(""))).contains(term)
        | F.lower(F.coalesce(F.col("title"), F.lit(""))).contains(term)
    )
    labels = {r["label"] for r in hits.select("label").distinct().collect()}
    assert "Document" in labels or "Feature" in labels
    assert labels & {"Function", "Symbol", "File", "Module", "Class", "Method"}


def test_document_stats(merged_graph):
    stats = document_stats(merged_graph)
    assert stats["documentCount"] >= 2
    assert stats["featureCount"] >= 3
    assert stats["mentionedSymbolCount"] >= 1
    assert "Architecture" in stats["documentTypes"]


def test_dogfood_repo_markdown(spark):
    """The reference indexes its own docs; we index this repo's."""
    nodes, edges = index_documents(spark, REPO_ROOT)
    by_label = {r["label"]: r["n"] for r in
                nodes.groupBy("label").agg(F.count("*").alias("n")).collect()}
    assert by_label.get("Document", 0) >= 5   # README, SURVEY, VERDICT...
    assert by_label.get("Feature", 0) >= 5
    assert edges.filter(F.col("type") == "DESCRIBES").count() >= 3


def test_link_mentions_plan_broadcasts_vocab_not_symbols(spark, merged_graph):
    """Scale shape: the Symbol table side must NOT be broadcast — the
    ref vocabulary is the broadcast side (docs_index.link_mentions)."""
    mentions = spark.createDataFrame(
        [("document:/d.md", "merge_upsert")], "doc_id string, ref string"
    )
    symbols = merged_graph.nodes.filter(F.col("label") == "Symbol")
    plan = link_mentions(mentions, symbols)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan  # θ-join exists...
    # ...and the build side is tiny: vocab rows, not the symbol table.
    assert plan.count("BroadcastNestedLoopJoin") == 1


def test_index_single_file(spark, doc_dir):
    """The reference accepts a file OR directory path
    (cmd/codegraph/main.go:340-346); the distributed walk handles a
    file root directly."""
    nodes, _ = index_documents(spark, os.path.join(doc_dir, "rfc-001.md"))
    docs = nodes.filter(F.col("label") == "Document").collect()
    assert len(docs) == 1
    assert docs[0]["doc_type"] == "RFC"


def test_link_mentions_index_path_matches_broadcast(spark, merged_graph):
    """The trigram-index strategy must return EXACTLY the broadcast
    θ-join's edges (candidates are a superset, verify is the same
    predicate) — the 100 TB vocabulary path is result-identical."""
    docs_mentions = spark.createDataFrame(
        [("document:/a.md", "merge_upsert"),
         ("document:/a.md", "PropertyGraph"),
         ("document:/b.md", "merge_upsert"),
         ("document:/b.md", "zz"),           # short ref -> broadcast leg
         ("document:/b.md", "nosuchsym")],
        "doc_id string, ref string",
    )
    symbols = merged_graph.nodes.filter(F.col("label") == "Symbol")
    plain = {
        tuple(r) for r in link_mentions(docs_mentions, symbols, use_index=False).collect()
    }
    indexed = {
        tuple(r) for r in link_mentions(docs_mentions, symbols, use_index=True).collect()
    }
    assert plain == indexed
    assert plain  # non-vacuous: at least one edge resolves


def test_mixed_extensions_walk(spark, tmp_path):
    """All four document extensions index in one walk
    (indexer.go:165-175); non-document files are ignored."""
    d = tmp_path / "mixed"
    d.mkdir()
    (d / "a.md").write_text("# Md Doc\n\nFeature: Alpha Processing is done.")
    (d / "b.txt").write_text("Plain notes that must Support Reading text.")
    (d / "c.rst").write_text("Rst Title\n=========\n\nimplements Beta Handling")
    (d / "d.adoc").write_text("= Adoc\n\nStatus: proposed Gamma Work plan.")
    (d / "e.py").write_text("print('not a document')")
    nodes, _ = index_documents(spark, str(d))
    docs = {r["source_url"].rsplit("/", 1)[-1]: r["doc_type"]
            for r in nodes.filter(F.col("label") == "Document").collect()}
    assert set(docs) == {"a.md", "b.txt", "c.rst", "d.adoc"}
    assert docs["b.txt"] == "Text Document"
    assert docs["c.rst"] == "reStructuredText"
    assert docs["d.adoc"] == "Document"


def test_feature_merge_tiebreak_is_total_and_record_consistent(spark):
    """Same-length different descriptions for one feature: the winner
    must be the lexicographic max AND carry its own record's status —
    never a mix of description from one record and status from another
    (r5 ADVICE: two independent max_by calls on a tying key were
    partition-order dependent)."""
    from codegraph_spark.sources.docs_index import (
        DOC_RECORD_SCHEMA,
        split_document_records,
    )

    base = {f.name: None for f in DOC_RECORD_SCHEMA.fields}

    def feat(desc, status, tags):
        r = dict(base)
        r.update(
            rec="node", id="feature:merge-tie", label="Feature",
            name="merge-tie", description=desc, status=status,
            priority="medium", tags=tags,
        )
        return r

    rows = [
        feat("bbbb description", "planned", ["a"]),
        feat("aaaa description", "completed", ["b"]),  # same length
    ]
    for _ in range(3):  # partition-order independence: shuffle layouts
        for n_parts in (1, 2, 4):
            records = spark.createDataFrame(rows, DOC_RECORD_SCHEMA).repartition(n_parts)
            nodes, _edges, _mentions = split_document_records(records)
            row = nodes.filter(nodes.id == "feature:merge-tie").collect()[0]
            assert row["description"] == "bbbb description"
            assert row["status"] == "planned"  # same record as the description
            assert sorted(row["tags"]) == ["a", "b"]
