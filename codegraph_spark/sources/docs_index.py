"""Document-directory → graph ingestion — the end-to-end analog of the
reference's document pipeline (``codegraph index docs``).

Reference surface reproduced here:

- ``IndexDirectory`` walk + extension filter (.md/.txt/.rst/.adoc) —
  pkg/indexer/documents/indexer.go:72-95, :164-175.
- ``ParseDocument``: title extraction (parser.go:193-213), doc-type
  inference (:215-241), paragraph chunking bounded at 1000 words
  (:51-90), rule-based feature extraction per chunk (regex families +
  section headers, :109-162), status inference (:259-285), description
  = sentence containing the feature name (:243-257), per-document
  feature dedup-merge (:165-189), backtick code-symbol extraction with
  the common-word stoplist (:343-382).
- Graph writes: Document node merged on sourceUrl (indexer.go:98-109),
  Feature node merged on name (:112-124), DESCRIBES edges (:56),
  MENTIONS links to existing Symbol nodes via the contains/LIMIT-5
  lookup (:127-162), GetDocumentStats (:178-199).

Spark-first shape (NOT the reference's per-file driver loop):

- S1 walk is a distributed ``text`` scan (wholetext) with the shared
  skip-dir anti-filter — file content is read by executors, the driver
  only plans splits.
- S2 parse is ONE ``mapInPandas`` stage over (path, content): per-file
  parsing is embarrassingly parallel and shuffle-free, the same kernel
  boundary as the static AST indexer (§2.7 — Arrow batches, zero
  row-at-a-time UDFs).
- Cross-document feature merge is ONE groupBy on the feature key with
  ``max_by``/``collect_set`` — the batch form of N sequential Cypher
  MERGEs (last-write-wins becomes longest-description-wins, which is
  the reference's *within-document* merge rule applied corpus-wide,
  deterministic under any partitioning).
- MENTIONS linking inverts the reference's per-ref LIMIT-5 point query
  into: distinct ref vocabulary (small — refs are backticked
  identifiers, heavy-tailed) broadcast onto ONE scan of the Symbol
  table, per-ref top-5 window, then an equi-join back to (doc, ref)
  pairs. At 100 TB the symbol table is never broadcast and never
  rescanned per ref; the only shuffle keys are (ref) and the edge
  business key.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from codegraph_spark.sources.static_index import SKIP_DIRS

#: indexer.go:164-175 — which files are documents.
DOC_EXTS = (".md", ".txt", ".rst", ".adoc")

#: parser.go:20-24 — chunk bound in words.
CHUNK_WORDS = 1000

# One flat record stream for nodes, edges, and mention candidates —
# a single parse pass emits all three; split downstream by ``rec``.
DOC_RECORD_SCHEMA = StructType([
    StructField("rec", StringType()),          # 'node' | 'edge' | 'mention'
    StructField("id", StringType()),           # node id / edge src / mention doc id
    StructField("label", StringType()),        # node label / edge type
    StructField("dst", StringType()),          # edge dst
    StructField("title", StringType()),        # Document props (node.go:177-183)
    StructField("doc_type", StringType()),
    StructField("source_url", StringType()),
    StructField("content", StringType()),
    StructField("name", StringType()),         # Feature props (node.go:186-193)
    StructField("description", StringType()),
    StructField("status", StringType()),
    StructField("priority", StringType()),
    StructField("tags", ArrayType(StringType())),
    StructField("ref", StringType()),          # mention candidate token
    StructField("order", IntegerType()),
])

# --- parser.go helper parity -------------------------------------------------

_TITLE_MD = re.compile(r"^#\s+(.+)$", re.MULTILINE)
_MD_MARKUP = re.compile(r"[#*_`]")

#: parser.go:113-119 — feature regex families. Go's (?i) flag makes the
#: leading [A-Z] class case-insensitive too; re.I reproduces that.
_FEATURE_PATTERNS = {
    "api": re.compile(r"(?:API|endpoint|route):\s*([A-Z][A-Za-z\s/]+)", re.I),
    "feature": re.compile(r"(?:feature|capability|functionality):\s*([A-Z][A-Za-z\s]+)", re.I),
    "implementation": re.compile(r"implement(?:s|ing|ation)?\s+([A-Z][A-Za-z\s]+)", re.I),
    "requirement": re.compile(r"(?:require(?:s|ment)?|must|should)\s+([A-Z][A-Za-z\s]+)", re.I),
    "service": re.compile(r"(?:service|microservice):\s*([A-Z][A-Za-z\s\-]+)", re.I),
}

_HEADER = re.compile(r"^#{1,3}\s+(.+)$", re.MULTILINE)

#: parser.go:288-293 — headers too generic to be features.
_GENERIC_HEADERS = (
    "introduction", "overview", "conclusion", "summary",
    "table of contents", "contents", "index", "references",
    "appendix", "notes", "todo", "changelog",
)

#: parser.go:262-276 — keyword → status, checked in a DETERMINISTIC
#: priority order (the reference iterates a Go map, whose order is
#: randomized per run; a batch engine must pick one order and keep it).
_STATUS_KEYWORDS = (
    ("completed", "completed"), ("done", "completed"),
    ("implemented", "completed"), ("finished", "completed"),
    ("in progress", "in_progress"), ("developing", "in_progress"),
    ("working", "in_progress"),
    ("todo", "planned"), ("planned", "planned"), ("future", "planned"),
    ("proposed", "proposed"),
    ("deprecated", "deprecated"), ("obsolete", "deprecated"),
)

_BACKTICK_SYMBOL = re.compile(
    r"`([A-Za-z_][A-Za-z0-9_]*(?:\.[A-Za-z_][A-Za-z0-9_]*)*(?:\(\))?)`"
)

#: parser.go:365-371 — common words that are not code symbols.
_COMMON_WORDS = frozenset(
    "the and or but if then else when where what how why who which that this "
    "these those can will would should could may might must is are was were "
    "be been being have has had do does did get got set put let make take".split()
)

_HAS_CODE_SHAPE = re.compile(r"[A-Z_]")
_WS = re.compile(r"\s+")


def extract_title(content: str) -> str:
    """parser.go:193-213: first ``# `` heading, else the first nonempty
    line of plausible title length stripped of markdown markup."""
    m = _TITLE_MD.search(content)
    if m:
        return m.group(1).strip()
    for line in content.split("\n"):
        line = line.strip()
        if line and 5 < len(line) < 100:
            return _MD_MARKUP.sub("", line).strip()
    return "Untitled Document"


def infer_document_type(path: str) -> str:
    """parser.go:215-241: extension + filename keywords."""
    filename = path.rsplit("/", 1)[-1].lower()
    dot = filename.rfind(".")
    ext = filename[dot:] if dot >= 0 else ""
    if ext == ".md":
        if "readme" in filename:
            return "README"
        if "rfc" in filename:
            return "RFC"
        if "spec" in filename:
            return "Specification"
        if "arch" in filename:
            return "Architecture"
        return "Markdown Document"
    if ext == ".txt":
        return "Text Document"
    if ext == ".rst":
        return "reStructuredText"
    return "Document"


def chunk_document(content: str, chunk_words: int = CHUNK_WORDS) -> list[str]:
    """parser.go:51-90: greedy paragraph packing bounded at
    ``chunk_words`` words per chunk."""
    chunks: list[str] = []
    current: list[str] = []
    word_count = 0
    for paragraph in content.split("\n\n"):
        paragraph = paragraph.strip()
        if not paragraph:
            continue
        n = len(paragraph.split())
        if word_count + n > chunk_words and current:
            chunks.append("\n\n".join(current))
            current, word_count = [], 0
        current.append(paragraph)
        word_count += n
    if current:
        chunks.append("\n\n".join(current))
    return chunks


def infer_feature_status(chunk: str) -> str:
    """parser.go:259-285 (fixed keyword priority — see _STATUS_KEYWORDS)."""
    lower = chunk.lower()
    for keyword, status in _STATUS_KEYWORDS:
        if keyword in lower:
            return status
    return "documented"


def feature_description(chunk: str, feature_name: str) -> str:
    """parser.go:243-257: the sentence containing the name, else a
    100-char prefix."""
    lower_name = feature_name.lower()
    for sentence in chunk.split("."):
        if lower_name in sentence.lower():
            return sentence.strip() + "."
    return chunk[:100] + "..." if len(chunk) > 100 else chunk


def is_generic_header(header: str) -> bool:
    lower = header.lower()
    if any(g in lower for g in _GENERIC_HEADERS):
        return True
    return len(header) < 3 or len(header) > 80


def extract_features(content: str, path: str) -> list[dict]:
    """parser.go:94-189: chunk → per-chunk regex + header extraction →
    within-document dedup-merge on the normalized name (longest
    description wins, tags union, first-seen casing kept)."""
    doc_type_tag = infer_document_type(path).lower()
    raw: list[dict] = []
    for chunk in chunk_document(content):
        for category in sorted(_FEATURE_PATTERNS):  # deterministic order
            for m in _FEATURE_PATTERNS[category].finditer(chunk):
                name = m.group(1).strip()
                if len(name) > 3:
                    raw.append({
                        "name": name,
                        "description": feature_description(chunk, name),
                        "status": infer_feature_status(chunk),
                        "priority": "medium",
                        "tags": [category, doc_type_tag],
                    })
        for m in _HEADER.finditer(chunk):
            header = m.group(1).strip()
            if not is_generic_header(header):
                raw.append({
                    "name": header,
                    "description": f"Section: {header}",
                    "status": "documented",
                    "priority": "medium",
                    "tags": ["section", "documentation"],
                })
    merged: dict[str, dict] = {}
    for feat in raw:
        key = _WS.sub(" ", feat["name"].strip().lower())
        existing = merged.get(key)
        if existing is None:
            merged[key] = feat
        else:
            if len(feat["description"]) > len(existing["description"]):
                existing["description"] = feat["description"]
            for t in feat["tags"]:
                if t not in existing["tags"]:
                    existing["tags"].append(t)
    return list(merged.values())


def extract_code_symbols(content: str) -> list[str]:
    """parser.go:343-382: backticked identifier-shaped tokens, minus
    common English words; must contain a capital or underscore."""
    out: list[str] = []
    seen: set[str] = set()
    for m in _BACKTICK_SYMBOL.finditer(content):
        sym = m.group(1)
        if sym in seen:
            continue
        seen.add(sym)
        if sym.lower() in _COMMON_WORDS:
            continue
        if _HAS_CODE_SHAPE.search(sym):
            out.append(sym)
    return out


# --- per-file kernel ---------------------------------------------------------

def parse_document(path: str, content: str) -> list[dict]:
    """Pure per-file extraction: Document node, Feature nodes, DESCRIBES
    edges, and mention candidates — the batch analog of IndexDocument
    (indexer.go:30-69)."""
    records: list[dict] = []

    def rec(**kw) -> None:
        base = {f.name: None for f in DOC_RECORD_SCHEMA.fields}
        base.update(kw)
        records.append(base)

    doc_id = f"document:{path}"
    rec(
        rec="node", id=doc_id, label="Document",
        title=extract_title(content),
        doc_type=infer_document_type(path),
        source_url=path,
        content=content,
        name=extract_title(content),
    )
    for feat in extract_features(content, path):
        # Feature identity is the exact post-dedup name — the reference
        # MERGEs on {name} (indexer.go:121-123), so same-named features
        # from different documents become one node.
        fid = f"feature:{feat['name']}"
        rec(
            rec="node", id=fid, label="Feature",
            name=feat["name"], description=feat["description"],
            status=feat["status"], priority=feat["priority"],
            tags=feat["tags"],
        )
        rec(rec="edge", id=doc_id, label="DESCRIBES", dst=fid)
    for sym_ref in extract_code_symbols(content):
        rec(rec="mention", id=doc_id, ref=sym_ref)
    return records


def walk_documents(spark: SparkSession, root: str) -> DataFrame:
    """S1 walk as a distributed scan (indexer.go:72-95): (path, content)
    for every document-typed file under ``root``, skip dirs excluded."""
    df = (
        spark.read.format("text")
        .option("wholetext", "true")
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.{" + ",".join(e[1:] for e in DOC_EXTS) + "}")
        .load(root)
        .select(
            F.regexp_replace(F.input_file_name(), "^file:", "").alias("path"),
            F.col("value").alias("content"),
        )
    )
    # Skip-dir filter on the ROOT-RELATIVE path: the reference's walk
    # skips directories relative to the indexed root (indexer.go:75-82),
    # so a root that itself lives under e.g. /tmp must not be skipped.
    import os

    prefix = os.path.abspath(root).rstrip("/") + "/"
    rel = F.substring(F.col("path"), len(prefix) + 1, 1 << 20)
    skip_re = "(^|/)(" + "|".join(d.replace(".", r"\.") for d in SKIP_DIRS) + ")/"
    return df.filter(~rel.rlike(skip_re))


def document_records(files: DataFrame) -> DataFrame:
    """S2 parse stage: one ``mapInPandas`` pass emitting the flat
    node/edge/mention record stream."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: list[dict] = []
            for path, content in zip(pdf["path"], pdf["content"]):
                out.extend(parse_document(path, content))
            yield pd.DataFrame(out, columns=[f.name for f in DOC_RECORD_SCHEMA.fields])

    return files.mapInPandas(run, schema=DOC_RECORD_SCHEMA)


def split_document_records(
    records: DataFrame,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Split the record stream into (nodes, edges, mentions) and apply
    the cross-document Feature merge.

    Document nodes are unique by construction (one file = one node,
    id = sourceUrl — indexer.go:106-108). Feature nodes repeat across
    documents and merge on name (indexer.go:121-123): longest
    description wins, ties broken lexicographically on (description,
    status) — a TOTAL order, so the merge is partition-order-free and
    re-index idempotence holds. description and status are taken
    together from the single winning record (one max_by over a struct
    — two independent max_by calls could mix fields of different
    source records when keys tie). Tags unioned — one
    map-side-combining groupBy on the feature key, not N sequential
    MERGEs."""
    doc_nodes = records.filter(
        (F.col("rec") == "node") & (F.col("label") == "Document")
    ).select("id", "label", "title", "doc_type", "source_url", "content", "name")

    # total-order key: (len(description), description, status) — never
    # ties between records that differ in any merged field
    merge_key = F.struct(
        F.coalesce(F.length("description"), F.lit(-1)).alias("k_len"),
        F.coalesce(F.col("description"), F.lit("")).alias("k_desc"),
        F.coalesce(F.col("status"), F.lit("")).alias("k_status"),
    )
    feat_nodes = (
        records.filter((F.col("rec") == "node") & (F.col("label") == "Feature"))
        .groupBy("id")
        .agg(
            F.first(F.lit("Feature")).alias("label"),
            F.max("name").alias("name"),  # id encodes name: all equal
            F.max_by(
                F.struct(F.col("description"), F.col("status")), merge_key
            ).alias("win"),
            F.first(F.lit("medium")).alias("priority"),
            F.array_sort(
                F.array_distinct(F.flatten(F.collect_list("tags")))
            ).alias("tags"),
        )
        .select(
            "id", "label", "name",
            F.col("win.description").alias("description"),
            F.col("win.status").alias("status"),
            "priority", "tags",
        )
    )
    nodes = doc_nodes.unionByName(feat_nodes, allowMissingColumns=True)
    edges = (
        records.filter(F.col("rec") == "edge")
        .select(
            F.col("id").alias("src"),
            F.col("dst"),
            F.col("label").alias("type"),
            F.lit(None).cast("string").alias("context"),
        )
        .dropDuplicates(["src", "dst", "type"])
    )
    mentions = records.filter(F.col("rec") == "mention").select(
        F.col("id").alias("doc_id"), "ref"
    )
    return nodes, edges, mentions


#: above this many distinct refs the broadcast θ-join gives way to the
#: trigram-index candidate path (a broadcast of millions of refs would
#: evaluate millions of contains per symbol row).
_BROADCAST_REF_LIMIT = 10_000


def _mentions_matches_broadcast(refs: DataFrame, symbols: DataFrame) -> DataFrame:
    """(ref, id, name, symbol): θ-join with the ref vocabulary
    broadcast — one in-place scan of the Symbol table."""
    return symbols.select("id", "name", "symbol").join(
        F.broadcast(refs),
        F.col("symbol").contains(F.col("ref"))
        | F.col("name").contains(F.col("ref")),
    )


def _mentions_matches_indexed(refs: DataFrame, symbols: DataFrame) -> DataFrame:
    """Same (ref, id, name, symbol) result through the trigram
    inverted index (operators/inverted_index): every ref of length ≥ 3
    must contain all of its 3-grams, so candidates = symbols matching
    every gram (equi-joins on the gram key — the posting table is the
    only thing shuffled, keyed by content), then the ORIGINAL contains
    predicate verifies candidates exactly. Refs shorter than 3 chars
    (a bounded set — at most |charset|² strings) take the broadcast
    θ-join. Result-identical to the broadcast path at any vocabulary
    size; this is the 100 TB strategy when the corpus mentions
    millions of distinct identifiers."""
    from codegraph_spark.operators.inverted_index import (
        _grams_col,
        build_trigram_index,
    )

    index = build_trigram_index(symbols, fields=["name", "symbol"])
    long_refs = refs.filter(F.length("ref") >= 3)
    short_refs = refs.filter(F.length("ref") < 3)
    rg = (
        long_refs.select("ref", F.lower(F.col("ref")).alias("_s"))
        .select("ref", F.explode(_grams_col(F.col("_s"))).alias("gram"))
    )
    ngrams = rg.groupBy("ref").agg(F.countDistinct("gram").alias("ng"))
    cand = (
        rg.join(index, "gram")
        .groupBy("ref", "id")
        .agg(F.countDistinct("gram").alias("g"))
        .join(F.broadcast(ngrams), "ref")
        .filter(F.col("g") == F.col("ng"))
        .select("ref", "id")
    )
    verified = (
        cand.join(symbols.select("id", "name", "symbol"), "id")
        .filter(
            F.col("symbol").contains(F.col("ref"))
            | F.col("name").contains(F.col("ref"))
        )
        .select("id", "name", "symbol", "ref")
    )
    return verified.unionByName(
        _mentions_matches_broadcast(short_refs, symbols)
    )


def link_mentions(
    mentions: DataFrame,
    symbols: DataFrame,
    use_index: bool | None = None,
) -> DataFrame:
    """MENTIONS edges doc → Symbol (indexer.go:127-162): for each
    extracted ref, the reference runs ``symbol CONTAINS ref OR
    displayName CONTAINS ref LIMIT 5`` per ref. Batch inversion:

    1. distinct ref vocabulary matched against the Symbol table —
       broadcast θ-join for small vocabularies, trigram-index
       candidates + exact verify beyond ``_BROADCAST_REF_LIMIT``
       (``use_index`` forces either; None auto-selects via one cheap
       count). Both strategies are result-identical.
    2. per-ref top-5 window (ordered by symbol for determinism — the
       reference's LIMIT 5 takes store order);
    3. equi-join back to (doc, ref) pairs on ``ref``.

    The Symbol table — the 100 TB side — is scanned in place and
    never broadcast; the only shuffle keys are content hashes.
    ``symbols`` needs columns (id, name, symbol)."""
    vocab = mentions.select("ref").distinct()
    if use_index is None:
        use_index = vocab.count() > _BROADCAST_REF_LIMIT
    matched = (
        _mentions_matches_indexed(vocab, symbols)
        if use_index
        else _mentions_matches_broadcast(vocab, symbols)
    )
    w = Window.partitionBy("ref").orderBy("symbol", "id")
    top5 = (
        matched.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("ref", F.col("id").alias("sym_id"))
    )
    return (
        mentions.join(top5, "ref")
        .select(
            F.col("doc_id").alias("src"),
            F.col("sym_id").alias("dst"),
            F.lit("MENTIONS").alias("type"),
            F.col("ref").alias("context"),  # relationship.go:119-122
        )
        .dropDuplicates(["src", "dst", "type"])
    )


def index_documents(
    spark: SparkSession, root: str, symbols: DataFrame | None = None
) -> tuple[DataFrame, DataFrame]:
    """IndexDirectory parity (indexer.go:72-95): walk → parse → split →
    merge; if a Symbol table from an existing code graph is provided,
    MENTIONS links are resolved against it (indexer.go:62-65).
    Returns (nodes, edges). Deterministic for a fixed tree, so
    re-indexing is exactly idempotent (the reference's re-index
    invariant, indexing_test.go). The parsed records are truncated by
    a lazy ``localCheckpoint``, as ``split_records`` does: parsed once for
    all their readers, and not registered with Spark's plan-matching
    cache, so re-indexing an edited tree in the same session parses it
    again instead of serving the old parse."""
    records = document_records(walk_documents(spark, root)).localCheckpoint(eager=False)
    nodes, edges, mentions = split_document_records(records)
    if symbols is not None:
        edges = edges.unionByName(link_mentions(mentions, symbols))
    return nodes, edges


def merge_into_graph(graph, doc_nodes: DataFrame, doc_edges: DataFrame):
    """Merge an indexed document set into an existing code graph —
    the reference's pipelines share one Neo4j store, so ``index docs``
    lands in the same graph the static/SCIP indexers populated.

    Node/edge schemas differ per pipeline (open property schema,
    SURVEY §1.5): align by column-name union, missing properties NULL.
    Node identity is the ``id`` business key (Document = sourceUrl,
    Feature = name), so the merge is one dropDuplicates on the key —
    doc re-index wins over a stale prior doc row (generation order:
    incoming last)."""
    from codegraph_spark.graph import PropertyGraph

    nodes = (
        graph.nodes.withColumn("_gen", F.lit(0))
        .unionByName(doc_nodes.withColumn("_gen", F.lit(1)), allowMissingColumns=True)
    )
    w = Window.partitionBy("id").orderBy(F.desc("_gen"))
    nodes = (
        nodes.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_gen", "_rn")
    )
    edges = (
        graph.edges.unionByName(doc_edges, allowMissingColumns=True)
        .dropDuplicates(["src", "dst", "type"])
    )
    return PropertyGraph(nodes, edges)


def document_stats(graph) -> dict:
    """GetDocumentStats parity (indexer.go:178-199): one pass over the
    doc-centric slice of the graph."""
    docs = graph.nodes.filter(F.col("label") == "Document")
    described = graph.edges.filter(F.col("type") == "DESCRIBES")
    mentioned = graph.edges.filter(F.col("type") == "MENTIONS")
    types = [
        r[0]
        for r in docs.select("doc_type").distinct().orderBy("doc_type").collect()
        if r[0] is not None
    ] if "doc_type" in graph.nodes.columns else []
    return {
        "documentCount": docs.count(),
        "featureCount": described.select("dst").distinct().count(),
        "mentionedSymbolCount": mentioned.select("dst").distinct().count(),
        "documentTypes": types,
    }
