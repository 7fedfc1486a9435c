"""Deduplication operators (north-star §M7) — exact, n-gram Jaccard,
MinHash+LSH, SimHash, embedding-cosine. Each is the scale-path design:
shingle→hash→band→bucket-join (no pairwise cross-join except inside
candidate buckets), pure built-in column functions.

Cross-engine determinism: shingle hashes come from md5 hex (identical in
Spark and DuckDB) reduced mod a 31-bit prime, so signature arithmetic
stays in exact int64 range on both engines.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from codegraph_spark.queries.similarity import (
    CLONE_EVERY,
    CLONE_OFFSET,
    plant_clones,
)
from codegraph_spark.colmemo import memo_cols
from codegraph_spark.operators.supersteps import supersteps
from codegraph_spark.sources.tables import load_table

# MinHash parameters: k=16 hash functions h_i(x) = (a_i*x + b_i) mod P,
# banded 4×4 for LSH. P = 2^31-1 (prime); a,b fixed odd constants.
_P = 2147483647
_AB = [(1000003 + 7919 * i, 666013 + 104729 * i) for i in range(16)]
_BANDS = 4  # 4 rows per band


@memo_cols
def _shingle_array() -> F.Column:
    """Per-doc array of distinct 3-word shingles, computed entirely with
    array expressions — no shuffle (the posexplode + lead-window
    formulation costs a full shuffle+sort of every token; this stays
    inside the row).

    Implementation note: built by zipping the word array with its own
    1- and 2-shifted slices. ``zip_with``/``slice`` ARGUMENTS are
    evaluated once per row — an index-lambda formulation like
    ``transform(words, (w, i) -> get(words, i+1))`` re-evaluates the
    captured ``words`` (and its split) per ELEMENT, turning shingling
    O(n²)."""
    words = F.split(F.col("text"), " ")
    n = F.size(words)
    w2 = F.slice(words, 2, F.greatest(n - 1, F.lit(0)))
    w3 = F.slice(words, 3, F.greatest(n - 2, F.lit(0)))
    pairs = F.zip_with(words, w2, lambda a, b: F.concat_ws(" ", a, b))
    tris = F.zip_with(pairs, w3, lambda p, c: F.concat_ws(" ", p, c))
    # zip_with pads the shorter side with NULL and concat_ws skips
    # NULLs, so the last two entries are 2-/1-word tails — slice off.
    return F.array_distinct(F.slice(tris, 1, F.greatest(n - 2, F.lit(0))))


def _shingles_of(docs: DataFrame) -> DataFrame:
    """Distinct (doc_id, shingle) pairs for the given (doc_id, text)
    rows. The doc_id repartition ahead of the explode costs one tiny
    shuffle of the DOCUMENT rows (pre-explosion — 5k rows at sf0.1)
    and parallelizes the shingling + every downstream per-shingle hash
    across the cluster; a single-file local source otherwise arrives
    as ONE partition and runs the whole pipeline on one core (measured
    5.2 s -> sub-second for the shingle build at sf0.1). On a real
    multi-file 100 TB layout the input is already partitioned and this
    hint is a cheap rebalance."""
    return docs.repartition(
        docs.sparkSession.sparkContext.defaultParallelism, "doc_id"
    ).select("doc_id", F.explode(_shingle_array()).alias("shingle"))


def _shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _shingles_of(load_table(spark, sf_dir, "documents"))


def _text_cliques(docs: DataFrame) -> DataFrame:
    """(doc_id, rep_id): docs grouped by EXACT text content, each
    clique represented by its min doc_id — the exact-dedup-first stage
    every large near-dup pipeline runs before shingling. Identical
    texts have identical shingle sets, so any set-based similarity is
    decided once at the representative level and holds for every
    member pair; collapsing first also keeps mass duplication from
    inflating shingle document frequencies (a 10M-copy boilerplate doc
    contributes df=1 at the rep level, so the posting-df cap can never
    hide the very duplicates the pipeline exists to find)."""
    h = docs.select("doc_id", F.md5("text").alias("_h"))
    reps = h.groupBy("_h").agg(F.min("doc_id").alias("rep_id"))
    # doc_id-hash repartition: consumers reference the clique table
    # several times (rep filter, sizes, both expansion sides); the
    # identical exchange lets AQE reuse ONE materialization instead of
    # re-hashing the corpus per reference.
    return (
        h.join(reps, "_h")
        .select("doc_id", "rep_id")
        .repartition(docs.sparkSession.sparkContext.defaultParallelism, "doc_id")
    )


def _cliques(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serving-cached text cliques (one build per session+dataset —
    three dedup queries and their repeated subplan references all read
    the same persisted copy)."""
    from codegraph_spark.serving import shared_df

    return shared_df(
        spark, (sf_dir, "dedup_cliques"),
        lambda: _text_cliques(load_table(spark, sf_dir, "documents")),
    )


def _rep_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serving-cached (doc_id, shingle) postings of clique
    REPRESENTATIVES — the shared input of the shingle-set detectors."""
    from codegraph_spark.serving import shared_df

    def build() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        cl = _cliques(spark, sf_dir)
        reps = docs.join(
            cl.filter(F.col("doc_id") == F.col("rep_id")).select("doc_id"),
            "doc_id", "left_semi",
        )
        return _shingles_of(reps)

    return shared_df(spark, (sf_dir, "dedup_rep_shingles"), build)


#: past this many hot shingles the broadcast split is disabled and the
#: hot/rare partition falls back to shuffle semi/anti joins — the df>64
#: vocabulary is the corpus's Zipf head and GROWS with corpus size
#: (plausibly 10^7-10^8 entries at 100 TB), so assuming it broadcasts
#: is a scale bug the round-8 verdict named. ~1M 24-byte shingles ≈
#: 24 MB serialized — comfortably under Spark's broadcast ceiling.
_HOT_BROADCAST_MAX = 1_000_000


def _hot_split(sh: DataFrame, cutoff: int) -> tuple[DataFrame, DataFrame]:
    """Partition the postings at the df cutoff; returns ``(rare, hs)``:

    - ``rare``: postings whose shingle has df ≤ cutoff (candidate-join
      side — Σdf² stays bounded);
    - ``hs``: (doc_id, hs) — each doc's hot shingles as a compact
      ``array<long>`` of ``xxhash64`` ids, the exact-completion
      structure that keeps the shared-hot count per pair a PER-ROW
      ``array_intersect`` over bounded arrays instead of a pair ×
      postings join (the r5 x10 probe measured the join form at ~200M
      intermediate rows; hot shingles are stopword-grade, so per-doc
      hot sets are bounded by the stopword vocabulary, not by corpus
      size).

    Hot ids are minted as ``xxhash64(shingle)`` — set intersection
    needs distinctness, not ordering, so no global ``row_number``
    window (the round-8 verdict's single-partition scale-killer) and
    no vocab-id join. A cross-doc intersection overcount needs two
    DISTINCT hot shingles colliding in 64 bits within one doc's
    bounded hot set (~|hs|²/2⁶⁴ per pair — negligible, and at the
    driver gate the hot side is empty anyway since max df < cutoff).

    The hot-shingle set broadcasts only while it is COUNTED small
    (≤ ``_HOT_BROADCAST_MAX``; one histogram-sized count job over the
    serving-cached postings); past that the same semi/anti joins run
    as shuffles — correct at any vocabulary size, just not
    broadcast-accelerated."""
    dfc = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    hot_shingles = dfc.filter(F.col("df") > cutoff).select("shingle")
    if hot_shingles.limit(_HOT_BROADCAST_MAX + 1).count() <= _HOT_BROADCAST_MAX:
        hot_shingles = F.broadcast(hot_shingles)
    rare = sh.join(hot_shingles, "shingle", "left_anti")
    hs = (
        sh.join(hot_shingles, "shingle", "left_semi")
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_set(F.xxhash64("shingle"))).alias("hs"))
    )
    return rare, hs


def _expand_rep_pairs(
    cross_rep_pairs: DataFrame,
    intra_rep_pairs: DataFrame,
    cliques: DataFrame,
) -> DataFrame:
    """Expand representative-level results to document-level pairs.

    ``cross_rep_pairs``: (doc_a, doc_b, *metrics) with doc_a < doc_b
    DISTINCT reps — each member combination appears exactly once, so
    the expansion is two equi-joins + a least/greatest re-ordering.
    ``intra_rep_pairs``: (rep_id, *metrics) for cliques of size ≥ 2 —
    members pair among themselves (x < y). Output cardinality is the
    TRUE duplicate-pair count (inherently quadratic in clique size);
    the expensive candidate/verify work above it stays rep-level."""
    metrics = [c for c in cross_rep_pairs.columns if c not in ("doc_a", "doc_b")]
    a = cliques.select(F.col("rep_id").alias("doc_a"), F.col("doc_id").alias("_xa"))
    b = cliques.select(F.col("rep_id").alias("doc_b"), F.col("doc_id").alias("_xb"))
    cross = (
        cross_rep_pairs.join(a, "doc_a").join(b, "doc_b")
        .select(
            F.least("_xa", "_xb").alias("doc_a"),
            F.greatest("_xa", "_xb").alias("doc_b"),
            *metrics,
        )
    )
    ia = cliques.select(F.col("rep_id"), F.col("doc_id").alias("_xa"))
    ib = cliques.select(F.col("rep_id"), F.col("doc_id").alias("_xb"))
    intra = (
        intra_rep_pairs.join(ia, "rep_id").join(ib, "rep_id")
        .filter(F.col("_xa") < F.col("_xb"))
        .select(F.col("_xa").alias("doc_a"), F.col("_xb").alias("doc_b"), *metrics)
    )
    return cross.unionByName(intra)


def _shingles_cte(src: str) -> str:
    """The oracle's ``shingles`` CTE (distinct 3-word shingles per doc)
    over the ``(doc_id, text)`` rows of table ``src``."""
    return f"""shingles AS (
    SELECT DISTINCT doc_id, w || ' ' || w2 || ' ' || w3 AS shingle
    FROM (
        SELECT doc_id, w,
               lead(w, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS w2,
               lead(w, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS w3
        FROM (
            SELECT doc_id,
                   unnest(string_split(text, ' ')) AS w,
                   generate_subscripts(string_split(text, ' '), 1) AS pos
            FROM {src}
        )
    ) WHERE w3 IS NOT NULL
)"""


_SHINGLES_CTE = _shingles_cte("documents")


def _shingle_hash_spark(s: Column | str = "shingle") -> Column:
    # md5-hex → int64 (15 hex digits < 2^60) → mod P; identical in SQL.
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("bigint") % _P


_SHINGLE_HASH_SQL = f"CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) % {_P}"


# --- dedup_exact: hash-groupBy exact duplicate detection ----------------------
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group by content hash, keep the smallest doc_id as
    representative. One shuffle on the hash."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", F.md5(F.lower(F.col("text"))).alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_copies"))
    )


_EXACT_SQL = """
SELECT md5(lower(text)) AS content_hash,
       min(doc_id) AS keep_doc_id, count(*) AS n_copies
FROM documents GROUP BY 1
"""


# --- corpus_dedup_rate: one-row exact-duplication dashboard -------------------
def corpus_dedup_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level exact-duplication summary — the single number a
    data-intake dashboard tracks per snapshot: doc count, distinct
    content count, duplicate doc count, and the duplication rate in
    per-mille. One map-side-combining aggregate over the content hash
    (countDistinct = one partial-agg shuffle on the hash); NULL rate on
    an empty corpus (nullif guard, mirrored in SQL)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct(F.md5(F.lower(F.col("text")))).alias("n_unique"),
        )
        .select(
            "n_docs",
            "n_unique",
            (F.col("n_docs") - F.col("n_unique")).alias("n_dup"),
            F.expr(
                "CAST(floor((n_docs - n_unique) * 1000 / nullif(n_docs, 0)) AS BIGINT)"
            ).alias("dup_permille"),
        )
    )


_DEDUP_RATE_SQL = """
SELECT n_docs, n_unique, n_docs - n_unique AS n_dup,
       CAST(floor((n_docs - n_unique) * 1000 / nullif(n_docs, 0)) AS BIGINT)
           AS dup_permille
FROM (
    SELECT count(*) AS n_docs,
           count(DISTINCT md5(lower(text))) AS n_unique
    FROM documents
)
"""


# --- dedup_ngram_jaccard: exact shingle-set similarity ------------------------
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dedup-first + capped candidates + exact completion:

    1. Identical texts collapse to one REPRESENTATIVE per clique
       (:func:`_text_cliques`) — set similarity between identical docs
       is decided once, and mass duplication can't inflate shingle dfs.
    2. Rep-level candidate pairs share ≥1 *rare* shingle (bucket join,
       not cross join; posting lists capped at df ≤ 64 — Σdf² is
       quadratic in corpus size when stopword-grade shingles generate
       pairs); the shared-hot completion join restores the EXACT
       intersection for surviving pairs. Jaccard = |∩| / |∪| ≥ 0.5 —
       a missed rep pair would need over half its union to be
       rep-corpus-hot shingles. Exact at the driver gate (max rep df
       < cap there).
    3. Rep results expand over clique members (within-clique pairs are
       jaccard 1.0 by identity) — output-sized work only.

    The exact verifier for the LSH path."""
    from codegraph_spark.operators.skew import salted_self_pairs

    cl = _cliques(spark, sf_dir)
    # serving-cached rep postings: every downstream reference (df
    # counts, rare/hot splits, salted join sides, hot completion)
    # reads one persisted copy instead of re-scanning the corpus and
    # re-exploding shingles per reference (the plan audit counted 12
    # scans before this).
    sh = _rep_shingles(spark, sf_dir)
    counts = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    rare, hs = _hot_split(sh, _CONTAIN_DF_CUTOFF)
    # rare-shingle-balanced candidate join (stopword shingles are the
    # skew case — operators/skew.py); pairs spread over salt shards
    # for hub shingles under the cap.
    shared_rare = (
        salted_self_pairs(rare, ["shingle"], "doc_id", n_salt=8,
                          hot_threshold=_CONTAIN_DF_CUTOFF)
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_rare"))
    )
    # HOT completion as per-row set intersection: each side's bounded
    # hot-shingle array joins on the pair's doc ids (no pair × posting
    # explosion), and the exact shared-hot count is array_intersect.
    ca = counts.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    cb = counts.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    empty = F.array().cast("array<long>")
    shared = (
        shared_rare.join(ca, "doc_a").join(cb, "doc_b")
        .join(hs.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("hs", "hsa"), "doc_a", "left")
        .join(hs.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("hs", "hsb"), "doc_b", "left")
        .select(
            "doc_a", "doc_b", "na", "nb",
            (
                F.col("n_rare")
                + F.size(F.array_intersect(
                    F.coalesce(F.col("hsa"), empty),
                    F.coalesce(F.col("hsb"), empty),
                ))
            ).alias("shared"),
        )
    )
    jac = F.col("shared") / (F.col("na") + F.col("nb") - F.col("shared"))
    rep_pairs = (
        shared
        .withColumn("jaccard", F.floor(jac * 1000) / 1000)
        .filter(jac >= 0.5)
        .select("doc_a", "doc_b", "jaccard")
    )
    # within-clique pairs are identical texts: jaccard = 1.0 by
    # identity, provided the rep has at least one shingle
    sizes = cl.groupBy("rep_id").agg(F.count(F.lit(1)).alias("_sz"))
    intra = (
        sizes.filter(F.col("_sz") >= 2)
        .join(counts, sizes.rep_id == counts.doc_id, "left_semi")
        .select("rep_id", (F.lit(1000).cast("double") / 1000).alias("jaccard"))
    )
    return _expand_rep_pairs(rep_pairs, intra, cl)


_NGRAM_SQL = f"""
WITH {_SHINGLES_CTE.strip()},
counts AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id),
pairs AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
    FROM shingles a JOIN shingles b
      ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       floor((CAST(shared AS DOUBLE) / (ca.n + cb.n - shared)) * 1000) / 1000 AS jaccard
FROM pairs
JOIN counts ca ON ca.doc_id = doc_a
JOIN counts cb ON cb.doc_id = doc_b
WHERE CAST(shared AS DOUBLE) / (ca.n + cb.n - shared) >= 0.5
"""


# --- dedup_minhash_lsh: MinHash signatures + banded LSH candidates ------------
#
# One definition of each MinHash part, shared by batch, incremental and
# streaming dedup (their answers agree only while they compute the same
# sketch): the shingle hash (:func:`_shingle_hash_spark`), a ROW-LOCAL
# signature for callers that cannot group rows without state
# (:func:`minhash_mins_column`), a GROUPED signature over exploded
# shingle postings (:func:`_sig_of`), one band key
# (:func:`band_structs_from_mins`) fed by both, and one oracle CTE chain
# (:func:`_minhash_ctes`).
@memo_cols
def minhash_mins_column() -> Column:
    """Row-local ``array<bigint>`` of all 16 signature minima of the
    ``text`` column's shingles, min over shingles of (a·h + b) mod P
    per permutation, in ONE pass over the shingle hashes: ``aggregate``
    folds each shingle's hash into a 16-slot accumulator via
    ``zip_with`` + ``least`` — the md5 is evaluated once per shingle
    TOTAL, where 16 separate ``array_min(transform(hs, ...))`` trees
    re-derive it 16 times (Catalyst inlines the shared ``hs`` subtree
    into every consumer; measured 5x wall on the streaming intake
    path). A zero-shingle doc keeps the NULL init, so its band keys
    NULL-propagate (the grouped signature has no row for it)."""
    hs = F.transform(_shingle_array(), _shingle_hash_spark)
    ab = F.array(
        *[
            F.struct(
                F.lit(a).cast("bigint").alias("a"), F.lit(b).cast("bigint").alias("b")
            )
            for a, b in _AB
        ]
    )
    init = F.array(*[F.lit(None).cast("bigint") for _ in _AB])
    return F.aggregate(
        hs,
        init,
        lambda acc, x: F.zip_with(
            acc,
            ab,
            lambda m, p: F.least(F.coalesce(m, F.lit(_P)), (p["a"] * x + p["b"]) % _P),
        ),
    )


def _sig_of(shingles: DataFrame) -> DataFrame:
    """(doc_id, mins): the grouped signature of (doc_id, shingle)
    postings — the same 16 minima as :func:`minhash_mins_column`, one
    map-side-combining groupBy. ``mins`` is ONE jvm-parsed expression
    (r12: the column DSL costs ~8 py4j round trips per component)."""
    mins = ", ".join(f"min(({a} * h + {b}) % {_P})" for a, b in _AB)
    return (
        shingles.withColumn("h", _shingle_hash_spark())
        .groupBy("doc_id")
        .agg(F.expr(f"array({mins})").alias("mins"))
    )


@memo_cols
def band_structs_from_mins(mins: Column) -> Column:
    """The 4 LSH band structs ``(band, key)`` of a 16-min signature
    array: key = md5 over the band's ':'-joined components. The concat
    is NULL-PROPAGATING (not concat_ws, which skips NULLs): a
    zero-shingle doc's all-NULL row-local signature yields NULL keys,
    where concat_ws would band every short doc under one md5 and flag
    them as duplicates of each other."""
    rows_per_band = len(_AB) // _BANDS
    bands = []
    for bidx in range(_BANDS):
        members = [
            F.element_at(mins, bidx * rows_per_band + i + 1).cast("string")
            for i in range(rows_per_band)
        ]
        parts: list[Column] = []
        for m in members:
            if parts:
                parts.append(F.lit(":"))
            parts.append(m)
        bands.append(
            F.struct(
                F.lit(bidx).cast("int").alias("band"),
                F.md5(F.concat(*parts)).alias("key"),
            )
        )
    return F.array(*bands)


def _banded(signed: DataFrame, *keep: str) -> DataFrame:
    """(*keep, band, key): four rows per row of ``signed``, whose
    ``mins`` column must be MATERIALIZED (an aggregate output, or the
    output of a Generate barrier as in streaming._banded_docs) so the
    four band reads do not each re-evaluate the signature. Keys of a
    zero-shingle row-local signature are NULL."""
    return signed.select(
        *keep, F.explode(band_structs_from_mins("mins")).alias("bk")
    ).select(*keep, F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))


def _minhash_sig(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, mins): signatures of clique REPRESENTATIVES —
    serving-cached because both the LSH dedup query and the estimator
    audit (and the audit's three sig references) read it; one
    map-side-combining groupBy over the cached rep shingles.
    dedup_minhash_lsh and dedup_minhash_est share the band cache keyed
    on this table."""
    from codegraph_spark.serving import shared_df

    return shared_df(
        spark, (sf_dir, "dedup_minhash_sig"),
        lambda: _sig_of(_rep_shingles(spark, sf_dir)),
    )


def _minhash_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, band, key): the banded LSH index over
    :func:`_minhash_sig` — serving-cached (the salted self-join
    references it several times; on a cluster this is the parquet
    signature table a dedup service refreshes with the corpus)."""
    from codegraph_spark.serving import shared_df

    return shared_df(
        spark, (sf_dir, "dedup_minhash_bands"),
        lambda: _banded(_minhash_sig(spark, sf_dir), "doc_id"),
    )


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16 MinHashes per doc → 4 bands of 4 → docs colliding in ≥1 band
    are near-dup candidates. This is the 100 TB dedup path: cost is
    O(docs × k) + a bucket join, never pairwise.

    Exact-dedup-first (:func:`_text_cliques`): identical texts have
    identical signatures, so they are signed and banded ONCE — a
    mass-duplicated doc can no longer turn its band buckets into
    clique-sized hot keys (the bucket join stays rep-cardinality);
    within-clique pairs collide in all bands by identity and expand as
    output-sized work.

    Shingling is map-side (array expressions); the signature groupBy
    shuffles only 16 partial mins per doc (map-side combine), so the
    real data movement is just the LSH bucket self-join."""
    cl = _cliques(spark, sf_dir)
    banded = _minhash_bands(spark, sf_dir)
    # hot-bucket-balanced LSH self-join (a near-universal band key —
    # e.g. boilerplate docs — is the skew case); identical pairs.
    from codegraph_spark.operators.skew import salted_self_pairs

    rep_pairs = (
        salted_self_pairs(banded, ["band", "key"], "doc_id", n_salt=8, hot_threshold=1024)
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_bands"))
    )
    # identical texts collide in every band, provided they have a
    # signature (≥ 1 shingle)
    sizes = cl.groupBy("rep_id").agg(F.count(F.lit(1)).alias("_sz"))
    intra = (
        sizes.filter(F.col("_sz") >= 2)
        .join(banded, sizes.rep_id == banded.doc_id, "left_semi")
        .select("rep_id", F.lit(_BANDS).cast("long").alias("n_bands"))
    )
    return _expand_rep_pairs(rep_pairs, intra, cl)


def _minhash_ctes(src: str = "documents", h: str = "h") -> str:
    """The oracle's MinHash CTE chain over the ``(doc_id, text)`` rows
    of table ``src``: ``shingles`` → ``hashed`` (shingle hash column
    ``h``) → ``sig`` (doc_id, mh0..mh15) → ``banded`` (doc_id, band,
    key)."""
    mh = ",\n           ".join(
        f"min(({a} * {h} + {b}) % {_P}) AS mh{i}" for i, (a, b) in enumerate(_AB)
    )
    rows_per_band = len(_AB) // _BANDS
    band_selects = []
    for bidx in range(_BANDS):
        concat = " || ':' || ".join(
            f"CAST(mh{i} AS VARCHAR)"
            for i in range(bidx * rows_per_band, (bidx + 1) * rows_per_band)
        )
        band_selects.append(
            f"SELECT doc_id, {bidx} AS band, md5({concat}) AS key FROM sig"
        )
    bands = "\n    UNION ALL\n    ".join(band_selects)
    return f"""{_shingles_cte(src)},
hashed AS (
    SELECT doc_id, {_SHINGLE_HASH_SQL} AS {h} FROM shingles
),
sig AS (
    SELECT doc_id,
           {mh}
    FROM hashed GROUP BY doc_id
),
banded AS (
    {bands}
)"""


def _minhash_sql() -> str:
    return f"""
WITH {_minhash_ctes()}
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_bands
FROM banded a JOIN banded b
  ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
GROUP BY 1, 2
"""


# --- dedup_minhash_est: signature-vs-exact Jaccard audit ----------------------
def dedup_minhash_est(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator-quality audit: for every rep-level banded
    candidate pair, the Jaccard ESTIMATE the 16-component signature
    implies (matching components / 16) next to the EXACT shingle-set
    Jaccard — the calibration dashboard that justifies the band/row
    parameters the dedup family runs on (sim_lsh_recall's counterpart
    on the text side). Rep-level on BOTH sides: the oracle collapses
    identical texts to their min-doc_id representative the same way,
    so no clique expansion is involved.

    Scale shape: signatures and the band table are the SAME
    serving-cached structures dedup_minhash_lsh reads
    (:func:`_minhash_sig` / :func:`_minhash_bands` — one definition,
    no drift between the query and its audit), candidates come from
    the salted self-join, and the exact-Jaccard completion joins
    shingles on the CANDIDATE pair ids — output-sized, never
    all-pairs. Integer per-mille on both sides of the comparison."""
    sh = _rep_shingles(spark, sf_dir)
    sig = _minhash_sig(spark, sf_dir)
    banded = _minhash_bands(spark, sf_dir)
    from codegraph_spark.operators.skew import salted_self_pairs

    pairs = (
        salted_self_pairs(banded, ["band", "key"], "doc_id", n_salt=8,
                          hot_threshold=1024)
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_bands"))
    )
    sig_a = sig.select(F.col("doc_id").alias("doc_a"), F.col("mins").alias("ma"))
    sig_b = sig.select(F.col("doc_id").alias("doc_b"), F.col("mins").alias("mb"))
    matches = F.size(F.filter(F.zip_with("ma", "mb", lambda x, y: x == y), lambda e: e))
    counts = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    inter = (
        pairs.select("doc_a", "doc_b")
        .join(sh.select(F.col("doc_id").alias("doc_a"), "shingle"), "doc_a")
        .join(
            sh.select(F.col("doc_id").alias("doc_b"), "shingle"),
            ["doc_b", "shingle"],
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("ni"))
    )
    return (
        pairs.join(sig_a, "doc_a")
        .join(sig_b, "doc_b")
        .withColumn("est_milli", F.floor(matches * 1000 / len(_AB)).cast("long"))
        .join(inter, ["doc_a", "doc_b"], "left")
        .join(counts.select(F.col("doc_id").alias("doc_a"),
                            F.col("n_sh").alias("na")), "doc_a")
        .join(counts.select(F.col("doc_id").alias("doc_b"),
                            F.col("n_sh").alias("nb")), "doc_b")
        .select(
            "doc_a", "doc_b", "n_bands", "est_milli",
            F.floor(
                F.coalesce(F.col("ni"), F.lit(0)) * 1000
                / (F.col("na") + F.col("nb") - F.coalesce(F.col("ni"), F.lit(0)))
            ).cast("long").alias("exact_milli"),
        )
        .orderBy("doc_a", "doc_b")
    )


def _minhash_est_sql() -> str:
    match_sum = " + ".join(
        f"CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END"
        for i in range(len(_AB))
    )
    # rep collapse mirrors _text_cliques: min doc_id per exact content
    return f"""
WITH reps AS (
    SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(lower(text))
),
rdocs AS (
    SELECT d.doc_id, d.text FROM documents d JOIN reps r ON r.doc_id = d.doc_id
),
{_minhash_ctes("rdocs")},
cand AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_bands
    FROM banded a JOIN banded b
      ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    GROUP BY 1, 2
),
counts AS (
    SELECT doc_id, count(*) AS n_sh FROM shingles GROUP BY 1
),
inter AS (
    SELECT c.doc_a, c.doc_b, count(*) AS ni
    FROM cand c
    JOIN shingles sa ON sa.doc_id = c.doc_a
    JOIN shingles sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
    GROUP BY 1, 2
)
SELECT c.doc_a, c.doc_b, c.n_bands,
       CAST(floor(({match_sum}) * 1000 / {len(_AB)}.0) AS BIGINT) AS est_milli,
       CAST(floor(coalesce(i.ni, 0) * 1000
                  / (ca.n_sh + cb.n_sh - coalesce(i.ni, 0))) AS BIGINT)
           AS exact_milli
FROM cand c
JOIN sig sa ON sa.doc_id = c.doc_a
JOIN sig sb ON sb.doc_id = c.doc_b
LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
JOIN counts ca ON ca.doc_id = c.doc_a
JOIN counts cb ON cb.doc_id = c.doc_b
ORDER BY c.doc_a, c.doc_b
"""


# --- dedup_simhash: 32-bit SimHash fingerprints -------------------------------
def _simhash_fingerprints(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash) over any (doc_id, text) frame: per-token
    60-bit hash; simhash bit j = majority vote of token bits. 32-bit
    output."""
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("shingle")
    ).withColumn("h", _shingle_hash_spark())
    votes = toks.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"v{j}")
            for j in range(32)
        ]
    )
    simhash = None
    for j in range(32):
        bit = F.when(F.col(f"v{j}") > 0, F.lit(2**j).cast("bigint")).otherwise(F.lit(0).cast("bigint"))
        simhash = bit if simhash is None else (simhash + bit)
    return votes.select("doc_id", simhash.alias("simhash"))


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Docs grouped by fingerprint = near-dup clusters (Hamming-0; the
    Hamming-k retrieval lives in dedup_simhash_hamming)."""
    return _simhash_fingerprints(load_table(spark, sf_dir, "documents"))


def _simhash_core_sql(src: str = "documents") -> str:
    """The fingerprint pipeline as CTE text over relation ``src``,
    ending in ``fp(doc_id, simhash)``."""
    votes = ",\n           ".join(
        f"sum(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS v{j}" for j in range(32)
    )
    bits = " + ".join(f"CASE WHEN v{j} > 0 THEN CAST({2**j} AS BIGINT) ELSE 0 END" for j in range(32))
    return f"""toks AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS shingle FROM {src}
),
hashed AS (
    SELECT doc_id, {_SHINGLE_HASH_SQL} AS h FROM toks
),
votes AS (
    SELECT doc_id,
           {votes}
    FROM hashed GROUP BY doc_id
),
fp AS MATERIALIZED (
    SELECT doc_id, {bits} AS simhash FROM votes
)"""


def _simhash_sql() -> str:
    return f"WITH {_simhash_core_sql()}\nSELECT doc_id, simhash FROM fp"


# --- dedup_simhash_hamming: Hamming-k near-dup retrieval ----------------------
_HAM_K = 3
_HAM_BANDS = 4


def dedup_simhash_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming-banded SimHash retrieval — near-dup pairs at Hamming
    distance ≤ 3 over the 32-bit fingerprint (the retrieval half that
    makes dedup_simhash's fingerprints usable beyond exact-collision).

    Pigeonhole banding: 4 8-bit bands; ≤3 differing bits touch ≤3
    bands, so every true pair shares at least one band EXACTLY —
    candidate generation is a per-band equi-join (the same bucket-join
    scale shape as MinHash LSH; the band value is the shuffle key),
    then popcount(xor) verifies each candidate. Never pairwise.

    Clones are planted every 40th doc (the dedup_embedding_cosine
    pattern) so Hamming-0 pairs are guaranteed. Note the synthetic
    corpus's narrow shared vocabulary makes 32-bit fingerprints DENSE
    (~2.5% of all pairs fall within radius 3 — that density is a
    corpus property, deterministic and oracle-matched); a production
    deployment uses 64-bit fingerprints, where radius-3 balls are
    sparse, with the identical band-join + popcount-verify plan."""
    base = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    fp = _simhash_fingerprints(plant_clones(base, "doc_id"))
    bands = fp.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(j).alias("band"),
                    F.shiftright(F.col("simhash"), 8 * j)
                    .bitwiseAND(F.lit(255)).alias("val"),
                )
                for j in range(_HAM_BANDS)
            ])
        ).alias("b"),
    ).select("doc_id", "simhash", F.col("b.band").alias("band"), F.col("b.val").alias("val"))
    a, b = bands.alias("a"), bands.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).cast("int")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= _HAM_K)
        .distinct()
    )


def _simhash_hamming_sql() -> str:
    docs = f"""docs AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + {CLONE_OFFSET}, text FROM documents
    WHERE doc_id % {CLONE_EVERY} = 0
)"""
    return f"""WITH {docs},
{_simhash_core_sql("docs")},
bands AS MATERIALIZED (
    SELECT doc_id, simhash, t.j AS band, (simhash >> (8 * t.j)) & 255 AS val
    FROM fp, range(0, {_HAM_BANDS}) t(j)
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM bands a JOIN bands b
  ON a.band = b.band AND a.val = b.val AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {_HAM_K}
"""


# --- dedup_embedding_cosine: near-dup via embedding similarity ----------------
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup: candidate pairs restricted to the same label
    bucket (the IVF-style prefilter — at 100 TB buckets come from
    LSH/k-means, never a global cross join), cosine ≥ 0.9.

    The synthetic embeddings are random (max natural same-label cosine
    ≈0.47 at sf0.01), so the corpus is augmented with deterministic
    planted duplicates — every 40th vector cloned under ``vec_id +
    1_000_000`` — making the gate exercise the join and the cosine math
    instead of passing vacuously on an empty result."""
    base = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v"), "label"
    )
    emb = plant_clones(base, "vec_id")
    a, b = emb.alias("a"), emb.alias("b")
    dot = F.aggregate(
        F.zip_with(F.col("a.v"), F.col("b.v"), lambda x, y: x * y),
        F.lit(0.0), lambda acc, x: acc + x,
    )
    norm = lambda c: F.sqrt(F.aggregate(F.transform(c, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))  # noqa: E731
    cos = dot / (norm(F.col("a.v")) * norm(F.col("b.v")))
    return (
        a.join(b, (F.col("a.label") == F.col("b.label")) & (F.col("a.vec_id") < F.col("b.vec_id")))
        .withColumn("cos_r", F.round(cos, 2))
        .filter(cos >= 0.9)
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.col("cos_r").alias("cosine"),
        )
    )


_EMB_SQL = f"""
WITH emb AS (
    SELECT vec_id, embedding, label FROM embeddings
    UNION ALL
    SELECT vec_id + {CLONE_OFFSET}, embedding, label FROM embeddings
    WHERE vec_id % {CLONE_EVERY} = 0
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 2) AS cosine
FROM emb a JOIN emb b
  ON a.label = b.label AND a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.9
"""


# --- dedup_cluster_cc: duplicate-cluster resolution (connected components) ----
def dedup_cluster_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resolve duplicate CLUSTERS: map every document to a canonical
    representative across a union of candidate generators (here: exact
    content hash + order-insensitive token fingerprint — a doc pair may
    connect through either, so clusters chain transitively).

    The production dedup pipeline needs this step after candidate
    generation — pairs alone can't answer "which copy do I keep".

    Scale design: connected components via min-label propagation over
    the doc–KEY bipartite graph, NOT over doc–doc pairs — a dup group
    of size g contributes g rows per round instead of g² pairs (hub
    groups are exactly where pair-joins explode at 100 TB). Each round
    is two key-partitioned aggregations; labels only decrease, so
    sum(label) is a monotone convergence witness (one count-free check
    per round), and rounds are bounded by cluster diameter, which for
    dup clusters is tiny. The same alternating pattern is the
    small-star/large-star CC of the MapReduce literature."""
    labels = _cluster_labels(spark, sf_dir)
    return labels.select(
        "doc_id",
        "cluster_id",
        (F.col("doc_id") == F.col("cluster_id")).alias("is_canonical"),
    )


def _cluster_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(doc_id, cluster_id)`` — the converged min-label CC assignment
    of :func:`dedup_cluster_cc`, serving-cached per (app, dataset) so
    cluster CONSUMERS (keeper selection) don't re-run the peel. Labels
    only shrink, so the loop runs to its fixpoint with no round cap."""
    from codegraph_spark.serving import shared_df

    def build() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        dk = docs.select(
            "doc_id",
            F.explode(
                F.array(
                    F.concat(F.lit("x:"), F.md5(F.lower(F.col("text")))),
                    F.concat(
                        F.lit("f:"),
                        F.md5(
                            F.concat_ws(
                                " ",
                                F.array_sort(
                                    F.array_distinct(F.split(F.lower(F.col("text")), " "))
                                ),
                            )
                        ),
                    ),
                )
            ).alias("key"),
        ).localCheckpoint(eager=False)

        def cluster_round(labels: DataFrame) -> DataFrame:
            key_min = (
                dk.join(labels, "doc_id")
                .groupBy("key")
                .agg(F.min("cluster_id").alias("kmin"))
            )
            return (
                dk.join(key_min, "key")
                .groupBy("doc_id")
                .agg(F.min("kmin").alias("cluster_id"))
            )

        start = docs.select("doc_id", F.col("doc_id").alias("cluster_id"))
        return supersteps(
            start, cluster_round, witness=lambda df: df.agg(F.sum("cluster_id")).first()[0]
        )[0]

    return shared_df(spark, (sf_dir, "dedup", "cc_labels"), build)


#: the CC reachability CTEs, shared by the cluster and keeper oracles
_CLUSTER_CTES = """dk AS (
    SELECT doc_id, 'x:' || md5(lower(text)) AS key FROM documents
    UNION ALL
    SELECT doc_id,
           'f:' || md5(list_aggregate(list_sort(list_distinct(string_split(lower(text), ' '))), 'string_agg', ' ')) AS key
    FROM documents
),
reach(a, b) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT r.a, k2.doc_id
    FROM reach r JOIN dk k1 ON k1.doc_id = r.b JOIN dk k2 ON k2.key = k1.key
)"""

_CLUSTER_SQL = f"""
WITH RECURSIVE {_CLUSTER_CTES}
SELECT a AS doc_id, min(b) AS cluster_id, a = min(b) AS is_canonical
FROM reach GROUP BY a
"""


# --- corpus_dedup_keep_best: quality-aware keeper selection -------------------
def corpus_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pick WHICH copy of each duplicate cluster to keep — by QUALITY,
    not by id. :func:`dedup_cluster_cc` answers "which docs are the
    same"; a curation pipeline then keeps the best-written copy (the
    near-dup members differ in quality: truncation, boilerplate,
    encoding damage), so the keeper is argmax(quality cents, then min
    doc_id for a total order) within each multi-member cluster.

    Output: one row per dup cluster — members, best quality, keeper.

    Scale shape: the cluster assignment is served from the shared CC
    cache (built once per session, output-sized); quality cents are
    one codegen scan of the corpus; the argmax is TWO cluster-keyed
    partial aggregations (stats, then min-id-at-best via a self-join
    on cluster_id + qc) — every join is an equi-join keyed by
    cluster_id, so a 100 TB corpus pays one scan and cluster-sized
    shuffles, never a pair join."""
    from codegraph_spark.queries.text import quality_cents

    docs = load_table(spark, sf_dir, "documents")
    member = _cluster_labels(spark, sf_dir).join(
        docs.select("doc_id", quality_cents().alias("qc")), "doc_id"
    )
    stats = (
        member.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.max("qc").alias("best_qc"),
        )
        .filter(F.col("n_members") > 1)
    )
    best = (
        member.join(stats.select("cluster_id", "best_qc"), "cluster_id")
        .filter(F.col("qc") == F.col("best_qc"))
        .groupBy("cluster_id")
        .agg(F.min("doc_id").alias("keep_doc_id"))
    )
    return (
        stats.join(best, "cluster_id")
        .select("cluster_id", "n_members", "best_qc", "keep_doc_id")
        .orderBy("cluster_id")
    )


def _keep_best_sql() -> str:
    from codegraph_spark.queries.text import QC_EXPR_SQL

    return f"""
WITH RECURSIVE {_CLUSTER_CTES},
labels AS (SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a),
member AS (
    SELECT l.cluster_id, l.doc_id, {QC_EXPR_SQL} AS qc
    FROM labels l JOIN documents d ON d.doc_id = l.doc_id
),
stats AS (
    SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members,
           max(qc) AS best_qc
    FROM member GROUP BY cluster_id HAVING count(*) > 1
),
best AS (
    SELECT m.cluster_id, min(m.doc_id) AS keep_doc_id
    FROM member m JOIN stats s ON s.cluster_id = m.cluster_id AND m.qc = s.best_qc
    GROUP BY m.cluster_id
)
SELECT s.cluster_id, s.n_members, s.best_qc, b.keep_doc_id
FROM stats s JOIN best b ON b.cluster_id = s.cluster_id
ORDER BY s.cluster_id
"""


# --- decontamination: eval-set n-gram overlap against the corpus -------------
#: the held-out "benchmark" slice — one source namespace of the corpus
_EVAL_SOURCE = "src0"


def text_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: word-3-gram collisions between the
    eval slice (source = src0) and the training remainder — the check
    every training pipeline runs before a data release (eval examples
    leaking into training data inflate benchmark scores).

    Same bucket-join shape as the n-gram dedup verifier: shingles are
    map-side, the only movement is the equi-join on the shingle key
    (never an all-pairs compare). Hot/stopword shingles carry the usual
    skew caveat — at 100 TB drop grams above a document-frequency
    cutoff from candidate generation (correctness preserved: dropped
    grams only lower n_shared, and the release gate re-verifies
    flagged pairs exactly)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    tagged = _shingles(spark, sf_dir).join(docs, "doc_id")
    evals = tagged.filter(F.col("source") == _EVAL_SOURCE).select(
        F.col("doc_id").alias("eval_doc"), "shingle"
    )
    train = tagged.filter(F.col("source") != _EVAL_SOURCE).select(
        F.col("doc_id").alias("train_doc"), "shingle"
    )
    return (
        evals.join(train, "shingle")
        .groupBy("eval_doc", "train_doc")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= 3)
    )


_CONTAMINATION_SQL = f"""
WITH {_SHINGLES_CTE.strip()},
evals AS (
    SELECT s.doc_id AS eval_doc, s.shingle
    FROM shingles s JOIN documents d ON d.doc_id = s.doc_id
    WHERE d.source = '{_EVAL_SOURCE}'
),
train AS (
    SELECT s.doc_id AS train_doc, s.shingle
    FROM shingles s JOIN documents d ON d.doc_id = s.doc_id
    WHERE d.source <> '{_EVAL_SOURCE}'
)
SELECT e.eval_doc, t.train_doc, count(*) AS n_shared
FROM evals e JOIN train t ON e.shingle = t.shingle
GROUP BY 1, 2
HAVING count(*) >= 3
"""


# --- text_contamination_bloom: Bloom-prefiltered decontamination --------------
_BLOOM_M = 1 << 16  # bloom bits
_BLOOM_K = 3        # hash functions (the first 3 MinHash (a, b) pairs)


def text_contamination_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination through a BLOOM FILTER of the eval set — the
    100 TB shape of :func:`text_contamination`: the exact version
    equi-joins train grams against eval grams (data-sized on both
    sides); at scale the eval side compiles into an m-bit Bloom filter
    (here m = 2¹⁶, k = 3 — a PHYSICALLY 8 KiB ``array<long>`` bitset,
    OR-packed in-engine and embedded in the scan plan as one literal,
    membership = bit arithmetic in a single projection, REGARDLESS of
    eval size) and the training corpus is scanned ONCE against it. Bloom
    filters have no false negatives, so nothing contaminated escapes;
    the query also computes the EXACT hits per document so the output
    audits the false-positive overhead the saved shuffle buys
    (n_false_pos = bloom − exact ≥ 0) — integer-exact end to end (bit
    positions are ((a·h + b) mod P) mod m over the md5-derived gram
    hash, the same arithmetic family as the MinHash signatures).

    Output: one row per training document the filter flags."""
    from codegraph_spark import serving

    docs = load_table(spark, sf_dir, "documents")
    # shingle each side from a source-FILTERED documents scan instead of
    # exploding the full corpus twice and joining the source tag back on
    # (r12: the filter pushes to the parquet scan, the explode runs over
    # exactly the rows each side needs, and the doc_id join disappears).
    # The eval shingle dictionary is ingest-time state like the bitset
    # below (bounded by the eval set, not the corpus) — serving-cached
    # so repeated queries probe the warm dimension.
    ev_sh = serving.shared_df(
        spark,
        (sf_dir, "contamination_eval_shingles"),
        lambda: _shingles_of(
            docs.filter(F.col("source") == _EVAL_SOURCE).select(
                "doc_id", "text"
            )
        )
        .select("shingle")
        .distinct(),
    ).withColumn("h", _shingle_hash_spark())
    pos_cols = [
        (((F.lit(a) * F.col("h") + F.lit(b)) % _P) % _BLOOM_M).alias(f"p{j}")
        for j, (a, b) in enumerate(_AB[:_BLOOM_K])
    ]
    # build the LITERAL m-bit bitset: positions OR-packed into
    # m/64 longs in-engine (bit_or over word index), the ≤1024-row
    # result collected once — the filter build — and embedded in the
    # training scan's plan as ONE array<long> literal. That makes the
    # "fixed 8 KiB regardless of eval size" claim physical: the scan
    # checks membership with pure bit arithmetic in a single
    # projection — no joins, the filter shipped once with the plan
    # (the previous shape was a ~65k-row broadcast consumed by three
    # separate semi-joins).
    def _build_bitset() -> list[int]:
        words = (
            ev_sh.select(F.explode(F.array(*[c for c in pos_cols])).alias("pos"))
            .select(
                F.expr("CAST(shiftright(pos, 6) AS INT)").alias("word"),
                F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))").alias("bit"),
            )
            .groupBy("word")
            .agg(F.expr("bit_or(bit)").alias("bits"))
            .collect()
        )
        out = [0] * (_BLOOM_M // 64)
        for r in words:
            out[r["word"]] = r["bits"]
        return out

    # the built filter is ingest-time state (like the trained IVF
    # inverted file): 8 KiB per dataset, cached through the SERVING
    # layer — not a private module dict — so serving.invalidate(sf_dir)
    # drops it on an in-session dataset rewrite and the group-LRU
    # bounds long sessions cycling many dirs (r7 ADVICE)
    packed = serving.shared_obj(
        spark, (sf_dir, "contamination_bloom_bitset"), _build_bitset
    )
    # ONE jvm-parsed array literal: F.lit(list) builds the 1024-word
    # array via one py4j round trip PER ELEMENT (~0.5 s of pure driver
    # chatter per query call, measured r12); the SQL string parses in
    # a single call and yields the identical array<bigint> literal
    bitset = F.expr(
        "array(" + ",".join(f"{w}L" for w in packed) + ")"
    )
    tr = (
        _shingles_of(
            docs.filter(F.col("source") != _EVAL_SOURCE).select(
                "doc_id", "text"
            )
        )
        .withColumn("h", _shingle_hash_spark())
        .select("doc_id", "shingle", *pos_cols)
    )

    def _member(p: str) -> Column:
        word = F.element_at(bitset, F.expr(f"CAST(shiftright({p}, 6) AS INT) + 1"))
        return (
            word.bitwiseAND(
                F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST({p} % 64 AS INT))")
            )
            != 0
        )

    # ONE training-side pass: bloom membership is a projection (the
    # bitset above), the exact-hit audit a broadcast left join against
    # the bounded eval shingle set, and all three per-doc statistics
    # fall out of a single aggregation — the r7 rewrite of the
    # three-scans-of-tr shape (totals + bloom + exact each rebuilt the
    # shingle pipeline; measured 3.1 s -> ~1 s at sf0.1).
    is_bloom = reduce(lambda a, b: a & b, [_member(f"p{j}") for j in range(_BLOOM_K)])
    joined = tr.join(
        F.broadcast(ev_sh.select("shingle").withColumn("_ev", F.lit(1))),
        "shingle",
        "left",
    )
    per_doc = joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_grams"),
        F.sum(is_bloom.cast("long")).cast("bigint").alias("n_bloom_hits"),
        F.sum(F.coalesce(F.col("_ev"), F.lit(0))).cast("bigint").alias("n_exact_hits"),
    )
    return (
        per_doc.filter(F.col("n_bloom_hits") > 0)
        .select(
            "doc_id", "n_grams", "n_bloom_hits", "n_exact_hits",
            (F.col("n_bloom_hits") - F.col("n_exact_hits")).alias("n_false_pos"),
        )
        .orderBy("doc_id")
    )


def _contamination_bloom_sql() -> str:
    pos_exprs = [
        f"(({a} * h + {b}) % {_P}) % {_BLOOM_M} AS p{j}"
        for j, (a, b) in enumerate(_AB[:_BLOOM_K])
    ]
    pos_union = "\n    UNION\n    ".join(
        f"SELECT (({a} * h + {b}) % {_P}) % {_BLOOM_M} AS pos FROM ev_sh"
        for a, b in _AB[:_BLOOM_K]
    )
    in_bits = " AND ".join(
        f"p{j} IN (SELECT pos FROM bits)" for j in range(_BLOOM_K)
    )
    return f"""
WITH {_SHINGLES_CTE.strip()},
tagged AS (
    SELECT s.doc_id, s.shingle, d.source
    FROM shingles s JOIN documents d ON d.doc_id = s.doc_id
),
ev_sh AS (
    SELECT DISTINCT shingle, {_SHINGLE_HASH_SQL} AS h
    FROM (SELECT DISTINCT shingle FROM tagged WHERE source = '{_EVAL_SOURCE}')
),
bits AS (
    {pos_union}
),
tr AS (
    SELECT doc_id, shingle, {', '.join(pos_exprs)}
    FROM (SELECT doc_id, shingle, {_SHINGLE_HASH_SQL} AS h
          FROM tagged WHERE source <> '{_EVAL_SOURCE}')
),
bloom_hits AS (
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bloom_hits
    FROM tr WHERE {in_bits}
    GROUP BY doc_id
),
exact_hits AS (
    SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_exact_hits
    FROM tr t WHERE t.shingle IN (SELECT shingle FROM ev_sh)
    GROUP BY t.doc_id
),
totals AS (
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams FROM tr GROUP BY doc_id
)
SELECT tt.doc_id, tt.n_grams, b.n_bloom_hits,
       coalesce(e.n_exact_hits, 0) AS n_exact_hits,
       b.n_bloom_hits - coalesce(e.n_exact_hits, 0) AS n_false_pos
FROM totals tt
JOIN bloom_hits b ON b.doc_id = tt.doc_id
LEFT JOIN exact_hits e ON e.doc_id = tt.doc_id
ORDER BY tt.doc_id
"""


# --- dedup_containment: asymmetric shingle containment ------------------------
_CONTAIN_PM = 800  # containment threshold, per-mille of the smaller doc


#: posting-list cap for CANDIDATE generation: shingles with document
#: frequency above this are excluded from the pair-generating self-join
#: (they still count in the exact intersection). Candidate volume is
#: Σ_shingle df² — shingles appearing in a fixed FRACTION of the corpus
#: make that quadratic in corpus size (the r5 10x probe measured 48x);
#: an ABSOLUTE cap bounds it at cutoff·Σdf, linear in corpus mass (the
#: standard posting-length cap of large-scale near-dup systems — a
#: corpus-relative cutoff would grow with n and never bite). A
#: qualifying pair escapes only when EVERY shared shingle is hotter
#: than the cap — at containment ≥ 0.8 that means the contained doc is
#: composed entirely of stopword-grade shingles. Exact at the driver
#: gate by construction (max df ≈ 25 at the ≤1000-doc gate scales).
_CONTAIN_DF_CUTOFF = 64


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-dup detection: containment(A in B) =
    |shingles(A) ∩ shingles(B)| / |shingles(A)| — the quote/subset
    detector that symmetric Jaccard misses (a short doc embedded
    verbatim in a long one has low Jaccard but containment ≈ 1).

    Three stages, all equi-join-shaped (never all-pairs):

    0. EXACT-DEDUP-FIRST: identical texts collapse to one
       representative (:func:`_text_cliques`) — a mass-duplicated doc
       contributes df=1 at rep level, so the posting cap below can
       never hide true duplicate cliques (the r5 skew harness caught
       exactly that failure before this stage existed).
    1. CANDIDATES + rare-intersection: rep pairs sharing ≥1 *rare*
       shingle (df ≤ cutoff) via the salted self-join, with the
       shared-rare count coming straight off the join's pair GROUP BY.
    2. HOT completion: the shared-HOT count per surviving pair — two
       equi-joins of the (tiny) hot posting rows keyed by the pair
       ids. n_common = rare + hot is EXACT for every surviving pair;
       when no shingle exceeds the cap (the gate corpora) the hot side
       is empty and this stage costs nothing. Rep results then expand
       over clique members (within-clique containment is 1000‰ by
       identity) — output-sized work only.

    Per-doc totals arrive by broadcast. Integer per-mille on the
    smaller side's count; pairs at ≥ 800‰ reported with (a, b) ordered
    doc_a < doc_b, the direction encoded by which doc is the contained
    (smaller-set) one."""
    from codegraph_spark.operators.skew import salted_self_pairs

    cl = _cliques(spark, sf_dir)
    # serving-cached rep postings shared across references and across
    # the whole shingle-detector family — see dedup_ngram_jaccard
    sh = _rep_shingles(spark, sf_dir)
    counts = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    rare, hs = _hot_split(sh, _CONTAIN_DF_CUTOFF)
    inter_rare = (
        salted_self_pairs(rare, ["shingle"], "doc_id", n_salt=8,
                          hot_threshold=_CONTAIN_DF_CUTOFF)
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_rare"))
    )
    # hot completion as per-row set intersection over bounded arrays
    # (see dedup_ngram_jaccard / _hot_split)
    bc = F.broadcast(counts)
    empty = F.array().cast("array<long>")
    rep_pairs = (
        inter_rare
        .join(bc.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_sh", "na"), "doc_a")
        .join(bc.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_sh", "nb"), "doc_b")
        .join(hs.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("hs", "hsa"), "doc_a", "left")
        .join(hs.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("hs", "hsb"), "doc_b", "left")
        .select(
            "doc_a", "doc_b",
            (
                F.col("n_rare")
                + F.size(F.array_intersect(
                    F.coalesce(F.col("hsa"), empty),
                    F.coalesce(F.col("hsb"), empty),
                ))
            ).alias("n_common"),
            "na", "nb",
        )
        .select(
            "doc_a", "doc_b", "n_common",
            F.floor(
                F.col("n_common") * 1000 / F.least("na", "nb")
            ).cast("bigint").alias("containment_pm"),
        )
        .filter(F.col("containment_pm") >= _CONTAIN_PM)
    )
    # within-clique pairs: full containment by identity (n_common =
    # the clique's shingle-set size), for cliques with shingles
    sizes = cl.groupBy("rep_id").agg(F.count(F.lit(1)).alias("_sz"))
    intra = (
        sizes.filter(F.col("_sz") >= 2)
        .join(counts, sizes.rep_id == counts.doc_id)
        .select(
            "rep_id",
            F.col("n_sh").alias("n_common"),
            F.lit(1000).cast("bigint").alias("containment_pm"),
        )
    )
    return _expand_rep_pairs(rep_pairs, intra, cl).orderBy("doc_a", "doc_b")


_CONTAINMENT_SQL = f"""
WITH {_SHINGLES_CTE.strip()},
counts AS (SELECT doc_id, count(*) AS n_sh FROM shingles GROUP BY doc_id),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
    FROM shingles a JOIN shingles b
      ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT doc_a, doc_b, n_common,
       CAST(FLOOR(n_common * 1000 / CAST(least(ca.n_sh, cb.n_sh) AS DOUBLE)) AS BIGINT)
           AS containment_pm
FROM inter
JOIN counts ca ON ca.doc_id = doc_a
JOIN counts cb ON cb.doc_id = doc_b
WHERE FLOOR(n_common * 1000 / CAST(least(ca.n_sh, cb.n_sh) AS DOUBLE)) >= {_CONTAIN_PM}
ORDER BY doc_a, doc_b
"""


# --- dedup_edit_distance: bounded-Levenshtein near-dup verify -----------------
_LEV_PREFIX = 60   # verify on a fixed prefix: edit distance is O(len²)
_LEV_MAX = 8       # near-dup threshold on the prefix
_LEV_SEGS = _LEV_MAX + 1   # pigeonhole partition count (PassJoin lemma)
_LEV_SHORT = 4 * _LEV_SEGS  # below this prefix length segments get < 4 chars


def _lev_prefixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang, lb, lb2, pfx, plen): dual-offset length buckets —
    ⌊len/25⌋ and ⌊(len+13)/25⌋ — so any pair within |Δlen| ≤ 12 shares
    at least one bucket (a single offset misses pairs straddling a
    bucket boundary; the threshold-8 edit distance allows Δlen ≤ 8)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        "lang",
        (F.col("n_chars") / 25).cast("bigint").alias("lb"),
        ((F.col("n_chars") + 13) / 25).cast("bigint").alias("lb2"),
        F.substring("text", 1, _LEV_PREFIX).alias("pfx"),
        F.least(F.length("text"), F.lit(_LEV_PREFIX)).cast("int").alias("plen"),
    )


def dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup detection — the fuzzy-match family member
    the hash-based detectors (exact/minhash/simhash) can't express:
    pairs whose 60-char prefixes are within Levenshtein ≤ 8, confined
    to same-language pairs whose lengths share a (dual-offset) 25-char
    bucket.

    Candidate generation is CONTENT-derived, never block-all-pairs: by
    the pigeonhole partition lemma (PassJoin, Li et al., VLDB'12 —
    public literature, re-derived here), if lev(a, b) ≤ k then
    splitting a's prefix into k+1 contiguous segments leaves at least
    one segment untouched by any edit, so that segment appears
    VERBATIM as a substring of b's prefix. Candidates are therefore
    one equi-join: the lower-id doc indexes its 9 segments, the
    higher-id doc probes with every substring of the possible segment
    lengths, keyed (lang, bucket-variant, gram) — block count grows
    with corpus content, and a (lang, length) block can no longer pair
    all its members (the r4 quadratic). The join is a lossless
    superset of the true pair set; the bounded-DP verify
    ``levenshtein(pfx, pfx, 8)`` (returns -1 past the threshold,
    O(k·len) not O(len²)) runs only on surviving pairs.

    Docs whose prefix is shorter than 36 chars would yield segments
    under 4 chars (hot, unselective grams); they instead index a
    dedicated per-(lang, bucket) short band that every block member
    probes — candidates are short-doc-count × block density, a bounded
    slice of any real corpus (and empty for this one: min doc ≥ 44).
    """
    d = _lev_prefixed(spark, sf_dir)
    is_short = F.col("plen") < _LEV_SHORT

    # two bucket variants per doc: candidates must agree on lb (tag 0)
    # OR lb2 (tag 1); emitting both keeps ONE equi-join per side
    variants = F.array(
        F.struct(F.lit(0).alias("tag"), F.col("lb").alias("lbx")),
        F.struct(F.lit(1).alias("tag"), F.col("lb2").alias("lbx")),
    )
    dv = d.select(
        "doc_id", "lang", "pfx", "plen", is_short.alias("short"),
        F.explode(variants).alias("v"),
    ).select("doc_id", "lang", "pfx", "plen", "short", "v.tag", "v.lbx")

    # index side: the 9 pigeonhole segments (floor boundaries) of every
    # long doc, plus the '' short-band marker for short docs
    seg_i = F.explode(F.array(*[F.lit(i) for i in range(_LEV_SEGS)]))
    idx_long = (
        dv.filter(~F.col("short"))
        .select("doc_id", "lang", "tag", "lbx", "plen", "pfx", seg_i.alias("i"))
        .select(
            "doc_id", "lang", "tag", "lbx",
            F.expr(
                f"substring(pfx, cast(floor(i * plen / {_LEV_SEGS}) as int) + 1, "
                f"cast(floor((i + 1) * plen / {_LEV_SEGS}) "
                f"- floor(i * plen / {_LEV_SEGS}) as int))"
            ).alias("gram"),
        )
    )
    idx_short = dv.filter(F.col("short")).select(
        "doc_id", "lang", "tag", "lbx", F.lit("").alias("gram")
    )
    idx = idx_long.unionByName(idx_short).dropDuplicates(
        ["doc_id", "lang", "tag", "lbx", "gram"]
    )

    # probe side: every substring of pfx with a possible segment length
    # (floor(plen/9)..ceil(plen/9) over the untouched doc's plen, which
    # can differ from ours by ≤ |Δlen| — covered by the 4..7 range for
    # plen ≥ 36), plus the '' marker so short docs pair with any doc
    # (short-short and short-long candidates both route through it)
    lengths = sorted({l for plen in range(_LEV_SHORT, _LEV_PREFIX + 1)
                      for l in (plen // _LEV_SEGS, -(-plen // _LEV_SEGS))})
    probe_grams = F.explode(
        F.flatten(F.array(*[
            F.expr(
                f"transform(sequence(1, greatest(1, plen - {l} + 1)), "
                f"p -> substring(pfx, p, {l}))"
            )
            for l in lengths
        ]))
    )
    probe = (
        dv.select("doc_id", "lang", "tag", "lbx", probe_grams.alias("gram"))
        .unionByName(
            dv.select("doc_id", "lang", "tag", "lbx", F.lit("").alias("gram"))
        )
        .dropDuplicates(["doc_id", "lang", "tag", "lbx", "gram"])
    )

    cand = (
        idx.alias("a")
        .join(
            probe.alias("b"),
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.tag") == F.col("b.tag"))
            & (F.col("a.lbx") == F.col("b.lbx"))
            & (F.col("a.gram") == F.col("b.gram"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    pfx_a = d.select(F.col("doc_id").alias("doc_a"), F.col("pfx").alias("pfx_a"))
    pfx_b = d.select(F.col("doc_id").alias("doc_b"), F.col("pfx").alias("pfx_b"))
    return (
        cand.join(pfx_a, "doc_a")
        .join(pfx_b, "doc_b")
        .select(
            "doc_a", "doc_b",
            F.levenshtein(F.col("pfx_a"), F.col("pfx_b"), _LEV_MAX).alias("lev"),
        )
        .filter(F.col("lev") >= 0)
        .orderBy("doc_a", "doc_b")
    )


# Ground-truth oracle: the brute-force form of the SAME semantics
# (dual-offset length blocking + thresholded prefix Levenshtein). The
# Spark side's segment prefilter is provably lossless, so the result
# sets must be identical — this gate is what proves it at sf.
_LEV_SQL = f"""
WITH d AS (
    SELECT doc_id, lang, n_chars // 25 AS lb, (n_chars + 13) // 25 AS lb2,
           substr(text, 1, {_LEV_PREFIX}) AS pfx
    FROM documents
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       levenshtein(a.pfx, b.pfx) AS lev
FROM d a JOIN d b
  ON a.lang = b.lang AND (a.lb = b.lb OR a.lb2 = b.lb2) AND a.doc_id < b.doc_id
WHERE levenshtein(a.pfx, b.pfx) <= {_LEV_MAX}
ORDER BY doc_a, doc_b
"""


def dedup_jaccard_ppjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`dedup_ngram_jaccard`'s EXACT semantics through PREFIX
    FILTERING (PPJoin, Xiao et al. 2008) — the other classic
    set-similarity candidate generator beside the df-capped posting
    join: order each rep's shingles rarest-first (by global df, ties
    by shingle — a per-doc array sort, NO global rank), keep only the
    first ``n − ceil(t·n) + 1`` as the doc's PREFIX (t = 0.5 ⇒
    ``floor(n/2) + 1``), and join on prefix tokens only. Completeness
    is the prefix-filtering lemma: Jaccard ≥ t forces an overlap of at
    least ``ceil(t·n)`` per side, so some shared token must land in
    both prefixes under the common order. Hot (stopword-grade)
    shingles sort LAST and fall out of most prefixes; the tokens that
    remain are ADDITIONALLY df-capped before candidate generation —
    the posting join's exact contract (df ≤ cutoff everywhere at the
    gate, so the gate is exact; at corpus scale a candidate would be
    missed only if every shared PREFIX token is corpus-hot, the same
    documented approximation the df-capped posting join carries —
    without the cap, a fixed-vocabulary corpus sends every prefix
    token hot and candidate volume goes quadratic, measured 37x
    across 10x data on the replica; capped it probes at the data
    ratio). Verification is one exact ``array_intersect`` over the
    full hashed shingle sets (arrays bounded by document length,
    never a posting explosion).

    Shares dedup_ngram_jaccard's oracle — the point IS result
    identity between the two candidate generators (the
    o1_search_indexed precedent)."""
    from codegraph_spark.operators.skew import salted_self_pairs

    cl = _cliques(spark, sf_dir)
    sh = _rep_shingles(spark, sf_dir)
    dfc = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    docs = (
        sh.join(dfc, "shingle")
        .groupBy("doc_id")
        .agg(
            F.array_sort(F.collect_list(F.struct("df", "shingle")))
            .alias("toks")
        )
        .select(
            "doc_id",
            F.size("toks").alias("n"),
            F.transform(F.col("toks"), lambda t: F.xxhash64(t.shingle))
            .alias("full"),
            F.expr(
                "transform(filter("
                " slice(toks, 1, CAST(size(toks) div 2 AS INT) + 1),"
                f" t -> t.df <= {_CONTAIN_DF_CUTOFF}),"
                " t -> t.shingle)"
            ).alias("prefix"),
        )
    )
    prefix_rows = docs.select(
        "doc_id", F.explode("prefix").alias("shingle")
    )
    cands = (
        salted_self_pairs(prefix_rows, ["shingle"], "doc_id", n_salt=8,
                          hot_threshold=_CONTAIN_DF_CUTOFF)
        .select("doc_a", "doc_b")
        .distinct()
    )
    a = docs.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"),
                    F.col("full").alias("fa"))
    b = docs.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"),
                    F.col("full").alias("fb"))
    shared = (
        cands.join(a, "doc_a").join(b, "doc_b")
        .select(
            "doc_a", "doc_b", "na", "nb",
            F.size(F.array_intersect("fa", "fb")).alias("shared"),
        )
    )
    jac = F.col("shared") / (F.col("na") + F.col("nb") - F.col("shared"))
    rep_pairs = (
        shared
        .withColumn("jaccard", F.floor(jac * 1000) / 1000)
        .filter(jac >= 0.5)
        .select("doc_a", "doc_b", "jaccard")
    )
    counts = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    sizes = cl.groupBy("rep_id").agg(F.count(F.lit(1)).alias("_sz"))
    intra = (
        sizes.filter(F.col("_sz") >= 2)
        .join(counts, sizes.rep_id == counts.doc_id, "left_semi")
        .select("rep_id", (F.lit(1000).cast("double") / 1000).alias("jaccard"))
    )
    return _expand_rep_pairs(rep_pairs, intra, cl)


# --- dedup_exact_substr: duplicated-span detection (Lee et al. 2021) ----------
#
# The substring-granular exact dedup of "Deduplicating Training Data
# Makes Language Models Better" (Lee et al., 2021 — ExactSubstr): any
# token span that occurs more than once ACROSS THE CORPUS (including a
# second time inside the same document) is duplicated text, even when
# the documents containing it are not near-duplicates as wholes. The
# paper builds a suffix array; the distributed shape is the standard
# window-fingerprint reduction: every W-token sliding window is hashed,
# a window is duplicated iff its hash occurs >= 2 times corpus-wide,
# and a doc's duplicated SPANS are the maximal merges of its duplicated
# windows (span resolution W — spans shorter than W are invisible,
# exactly the paper's min-match-length knob).
#
# Scale shape (the reason this family matters at 100 TB): unlike every
# pairwise near-dup detector, there is NO candidate pair join anywhere
# — one hash-partitioned groupBy over window fingerprints (the same
# shuffle MinHash banding pays), one semi-join back, then per-DOC
# window functions (bounded by document length, never corpus-sized).
# Linear in corpus tokens end to end.

#: sliding-window width in tokens — the minimum duplicated-span length
#: the detector can see (Lee et al. use 50 BPE tokens at web scale; 5
#: words keeps the gate non-vacuous on the synthetic corpus, where the
#: planted exact clones plus natural small-vocabulary repeats yield a
#: measured ~2-19% per-source duplicated-token rate at sf0.01).
_SUBSTR_W = 5


def _substr_windows(docs: DataFrame) -> DataFrame:
    """(doc_id, pos, h): every 1-based token position with the md5 of
    its W-token window. Built with the zip_with/slice chain (see
    :func:`_shingle_array` for why index-lambda forms are O(n²))."""
    words = F.split(F.col("text"), " ")
    n = F.size(words)
    shifted = [words]
    for k in range(1, _SUBSTR_W):
        shifted.append(F.slice(words, k + 1, F.greatest(n - k, F.lit(0))))
    grams = reduce(
        lambda acc, nxt: F.zip_with(
            acc, nxt, lambda a, b: F.concat_ws(" ", a, b)
        ),
        shifted[1:],
        shifted[0],
    )
    # zip_with NULL-pads the short side and concat_ws skips NULLs, so
    # the tail entries are partial windows — slice to the n-W+1 full
    # ones (empty array when the doc has fewer than W tokens).
    full = F.slice(
        grams, 1, F.greatest(n - (_SUBSTR_W - 1), F.lit(0))
    )
    par = docs.sparkSession.sparkContext.defaultParallelism
    return (
        docs.repartition(par, "doc_id")
        .select("doc_id", F.posexplode(full).alias("pos0", "gram"))
        .select(
            "doc_id",
            (F.col("pos0") + 1).alias("pos"),
            F.md5("gram").alias("h"),
        )
    )


def dedup_exact_substr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source duplicated-span audit at window resolution W=5:
    ``dup_tokens`` counts tokens covered by at least one duplicated
    window, ``n_spans`` the maximal merged spans, ``span_checksum``
    (sum of start*1000+len over all spans) pins the exact span
    boundaries — a wrong merge rule or off-by-one window end changes
    the checksum even when the token totals survive.

    Span merge is gaps-and-islands per doc: a duplicated window starts
    a new span iff it begins after (running max end) + 1; both window
    functions are partitioned by doc_id (bounded by doc length)."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    # NOT checkpointed (r13 A/B): posts has two consumers (dup-hash
    # census + marks semi-join), but the explode re-run is cheaper
    # than the checkpoint's construction-time planning — the doc_id
    # windows below dominate this query, not the posting build
    posts = _substr_windows(docs)
    dup_h = (
        posts.groupBy("h")
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") >= 2)
        .select("h")
    )
    marks = (
        posts.join(dup_h, "h", "left_semi")
        .select(
            "doc_id",
            F.col("pos").alias("s"),
            (F.col("pos") + _SUBSTR_W - 1).alias("e"),
        )
    )
    prev = (
        Window.partitionBy("doc_id")
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    run = Window.partitionBy("doc_id").orderBy("s")
    prev_e = F.max("e").over(prev)
    isl = marks.withColumn(
        "ng",
        F.when(prev_e.isNull() | (F.col("s") > prev_e + 1), 1).otherwise(0),
    ).withColumn("g", F.sum("ng").over(run))
    spans = isl.groupBy("doc_id", "g").agg(
        F.min("s").alias("st"), F.max("e").alias("en")
    )
    span_len = F.col("en") - F.col("st") + 1
    perdoc = spans.groupBy("doc_id").agg(
        F.sum(span_len).alias("dupt"),
        F.count(F.lit(1)).alias("nsp"),
        F.sum(F.col("st") * 1000 + span_len).alias("ck"),
    )
    toks = docs.select(
        "doc_id", "source", F.size(F.split("text", " ")).alias("n_tok")
    )
    return (
        toks.join(perdoc, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.count("dupt").cast("bigint").alias("docs_with_dups"),
            F.sum("n_tok").cast("bigint").alias("total_tokens"),
            F.coalesce(F.sum("dupt"), F.lit(0))
            .cast("bigint").alias("dup_tokens"),
            F.coalesce(F.sum("nsp"), F.lit(0))
            .cast("bigint").alias("n_spans"),
            F.expr(
                "CAST(coalesce(sum(dupt), 0) * 1000 div sum(n_tok)"
                " AS BIGINT)"
            ).alias("dup_pm"),
            F.coalesce(F.sum("ck"), F.lit(0))
            .cast("bigint").alias("span_checksum"),
        )
        .orderBy("source")
    )


_EXACT_SUBSTR_SQL = f"""
WITH toks AS (
    SELECT doc_id, source, string_split(text, ' ') AS words,
           len(string_split(text, ' ')) AS n_tok
    FROM documents
),
grams AS (
    SELECT doc_id, i AS pos,
           md5(array_to_string(words[i:i+{_SUBSTR_W - 1}], ' ')) AS h
    FROM toks, UNNEST(range(1, n_tok - {_SUBSTR_W - 2})) AS t(i)
),
duph AS (SELECT h FROM grams GROUP BY h HAVING count(*) >= 2),
marks AS (
    SELECT doc_id, pos AS s, pos + {_SUBSTR_W - 1} AS e
    FROM grams WHERE h IN (SELECT h FROM duph)
),
isl AS (
    SELECT doc_id, s, e,
        CASE WHEN max(e) OVER (PARTITION BY doc_id ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
             OR s > max(e) OVER (PARTITION BY doc_id ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1
        THEN 1 ELSE 0 END AS ng
    FROM marks
),
grp AS (
    SELECT doc_id, s, e,
           sum(ng) OVER (PARTITION BY doc_id ORDER BY s) AS g
    FROM isl
),
spans AS (SELECT doc_id, min(s) AS st, max(e) AS en FROM grp GROUP BY doc_id, g),
perdoc AS (
    SELECT doc_id, sum(en - st + 1) AS dupt, count(*) AS nsp,
           sum(st * 1000 + (en - st + 1)) AS ck
    FROM spans GROUP BY doc_id
)
SELECT t.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(p.doc_id) AS BIGINT) AS docs_with_dups,
       CAST(sum(t.n_tok) AS BIGINT) AS total_tokens,
       CAST(coalesce(sum(p.dupt), 0) AS BIGINT) AS dup_tokens,
       CAST(coalesce(sum(p.nsp), 0) AS BIGINT) AS n_spans,
       CAST(coalesce(sum(p.dupt), 0) * 1000 // sum(t.n_tok) AS BIGINT)
           AS dup_pm,
       CAST(coalesce(sum(p.ck), 0) AS BIGINT) AS span_checksum
FROM toks t LEFT JOIN perdoc p USING (doc_id)
GROUP BY t.source
ORDER BY t.source
"""


# --- dedup_paragraph: CCNet-style paragraph-hash dedup ------------------------
#
# CCNet (Wenzek et al. 2020) dedups Common Crawl at PARAGRAPH
# granularity before anything else: hash every paragraph, keep only
# the first occurrence of each hash corpus-wide, write documents back
# with their duplicated paragraphs REMOVED (this is also where
# boilerplate dies — cookie banners repeat on every page of a site).
# Doc-level dedup (dedup_exact) can't see this; span-level
# (dedup_exact_substr) reports it but doesn't produce cleaned text.
#
# Paragraph rule: fixed 12-word chunks (the corpus has no paragraph
# breaks; both engines replay the chunking). First-occurrence order is
# total and engine-independent: occurrence key = doc_id * 1e6 + pidx,
# keeper = min key per hash — one map-side-combinable groupBy, no
# window over the hash groups (a boilerplate paragraph with 1e9 copies
# at 100 TB would make a per-hash row_number window one hot partition;
# min() folds it in the combiner).
#
# The output pins the CLEANED CORPUS itself, not just counts:
# per-doc reassembly (kept paragraphs re-joined in order) is hashed
# and per-source hash-sums must match — a wrong keeper, a lost
# paragraph, or an out-of-order reassembly all change clean_hashsum.

#: paragraph chunk width (words) — the replayed corpus rule
_PARA_W = 12
#: occurrence-key stride: pidx < 1e6 for any real document, so
#: doc_id * 1e6 + pidx is unique and BIGINT-safe to ~9e12 doc ids
_PARA_STRIDE = 1_000_000


def dedup_paragraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source paragraph-dedup audit + cleaned-corpus hash pin.
    See the module comment above; scale shape is one paragraph-hash
    groupBy (combiner-folded min), one hash-keyed semi-equality join,
    and one per-doc ordered reassembly (collect_list bounded by doc
    length)."""
    docs = load_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    nch = F.ceil(F.size(words) / F.lit(_PARA_W)).cast("int")
    paras = F.transform(
        F.sequence(F.lit(0), nch - 1),
        lambda i: F.array_join(
            F.slice(words, i * _PARA_W + 1, _PARA_W), " "
        ),
    )
    par = docs.sparkSession.sparkContext.defaultParallelism
    pp = (
        docs.repartition(par, "doc_id")
        .select("doc_id", "source", F.posexplode(paras).alias("pidx", "para"))
        .withColumn("h", F.md5("para"))
        # the assert_true folds into k via coalesce so projection
        # collapse cannot prune it: a document with >= _PARA_STRIDE
        # paragraphs would alias its occurrence keys into neighboring
        # doc_ids and silently corrupt the first-seen keeper — fail
        # loudly instead (r11 ADVICE).
        .withColumn(
            "k",
            F.col("doc_id") * _PARA_STRIDE + F.col("pidx")
            + F.coalesce(
                F.assert_true(
                    F.col("pidx") < F.lit(_PARA_STRIDE),
                    F.lit("dedup_paragraph: pidx >= _PARA_STRIDE aliases keys"),
                ).cast("bigint"),
                F.lit(0),
            ),
        )
    )
    firsts = pp.groupBy("h").agg(F.min("k").alias("mk"))
    kept = pp.join(firsts, "h").filter(F.col("k") == F.col("mk"))
    reasm = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pidx", "para"))),
                lambda s: s["para"],
            ),
            " ",
        ).alias("cleaned"),
        F.count(F.lit(1)).alias("n_kept_doc"),
    )
    stats = pp.groupBy("doc_id", "source").agg(
        F.count(F.lit(1)).alias("n_paras_doc")
    )
    perdoc = stats.join(reasm, "doc_id", "left").select(
        "doc_id", "source", "n_paras_doc",
        F.coalesce("n_kept_doc", F.lit(0)).alias("n_kept_doc"),
        # mod P keeps the per-source SUM inside BIGINT at any doc count
        (
            F.conv(
                F.substring(F.md5(F.coalesce("cleaned", F.lit(""))), 1, 15),
                16, 10,
            ).cast("bigint") % _P
        ).alias("hnum"),
    )
    return (
        perdoc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_paras_doc").cast("bigint").alias("n_paras"),
            F.sum("n_kept_doc").cast("bigint").alias("n_kept"),
            F.expr(
                "CAST(sum(n_kept_doc) * 1000 div sum(n_paras_doc)"
                " AS BIGINT)"
            ).alias("kept_pm"),
            F.sum("hnum").cast("bigint").alias("clean_hashsum"),
        )
        .orderBy("source")
    )


_PARA_SQL = f"""
WITH base AS (
    SELECT doc_id, source, string_split(text, ' ') AS words FROM documents
),
ch AS (
    SELECT doc_id, source, i AS pidx,
           array_to_string(
               words[(i * {_PARA_W} + 1):(i * {_PARA_W} + {_PARA_W})],
               ' ') AS para
    FROM base,
         UNNEST(range(0, CAST(ceil(len(words) / {_PARA_W}.0) AS INT)))
             AS t(i)
),
pp AS (
    SELECT doc_id, source, pidx, para, md5(para) AS h,
           doc_id * {_PARA_STRIDE} + pidx AS k
    FROM ch
),
firsts AS (SELECT h, min(k) AS mk FROM pp GROUP BY h),
kept AS (
    SELECT pp.* FROM pp JOIN firsts USING (h) WHERE pp.k = firsts.mk
),
reasm AS (
    SELECT doc_id,
           string_agg(para, ' ' ORDER BY pidx) AS cleaned,
           count(*) AS n_kept_doc
    FROM kept GROUP BY doc_id
),
stats AS (
    SELECT doc_id, source, count(*) AS n_paras_doc
    FROM pp GROUP BY doc_id, source
),
perdoc AS (
    SELECT s.doc_id, s.source, s.n_paras_doc,
           coalesce(r.n_kept_doc, 0) AS n_kept_doc,
           CAST(('0x' || substr(md5(coalesce(r.cleaned, '')), 1, 15))
                AS BIGINT) % {_P} AS hnum
    FROM stats s LEFT JOIN reasm r USING (doc_id)
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_paras_doc) AS BIGINT) AS n_paras,
       CAST(sum(n_kept_doc) AS BIGINT) AS n_kept,
       CAST(sum(n_kept_doc) * 1000 // sum(n_paras_doc) AS BIGINT)
           AS kept_pm,
       CAST(sum(hnum) AS BIGINT) AS clean_hashsum
FROM perdoc
GROUP BY source
ORDER BY source
"""


# --- dedup_incremental: new-crawl dedup against a prior snapshot's stores -----
#
# The OPERATIONAL dedup shape at 100 TB: crawls arrive monthly, and
# nobody re-deduplicates 20 prior snapshots against each other every
# time — the pipeline keeps two persisted fingerprint stores (distinct
# content hashes; distinct MinHash band keys) and each incoming batch
# is classified with two JOINS against them, never a recompute of the
# prior corpus. This gate builds the stores from the "prior" slice
# (doc_id % 3 != 0) and classifies the "incoming" slice per document:
#
#   exact_prior — content hash already in the snapshot store;
#   near_prior  — no exact hit, but ≥1 LSH band key collides with a
#                 DIFFERENT prior clique (the grouped signature
#                 _sig_of and band key of dedup_minhash_lsh);
#   batch_dup   — clean vs the snapshot, but an exact copy of an
#                 earlier doc in the SAME batch (first-seen-wins);
#   new         — admitted; the per-source hashsum pins exactly which.
#
# Crawl-overlap rule (replayed by both engines — the corpus has no
# natural exact dups at sf0.01, and a gate whose exact branches never
# fire verifies nothing): the incoming batch is the fresh slice PLUS
# (a) REFETCHES — every prior doc with doc_id % 7 == 0 reappears
# unchanged under doc_id + 1e12 (the dominant real-world case: most
# pages don't change between monthly crawls), and (b) MIRRORED
# IN-BATCH COPIES — every fresh doc with doc_id % 11 == 0 appears
# again under doc_id + 2e12 (the same page reached via two URLs in
# one crawl). All four classes are exercised at every sf.
#
# Exact-dedup-first discipline: signatures are computed per DISTINCT
# text (clique reps), so a mass-duplicated incoming doc signs once,
# and a same-hash group shares one classification by construction
# (same text -> same hash -> same bands). Scale shape: one hash
# groupBy, one rep shingle/sign pass, a (band,key) semi-join and an
# h-join — all linear, no pairwise stage anywhere.

#: replayed-overlap doc_id offsets (far above any real doc_id; BIGINT)
_INC_REFETCH_OFF = 1_000_000_000_000
_INC_MIRROR_OFF = 2_000_000_000_000


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source incremental-dedup audit of the incoming slice
    against the prior snapshot's hash + band stores (see the comment
    above): (source, n_incoming, n_exact_prior, n_near_prior,
    n_batch_dup, n_new, admitted_hashsum)."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select("doc_id", "source", "text")
    refetch = base.filter(
        (F.col("doc_id") % 3 != 0) & (F.col("doc_id") % 7 == 0)
    ).select(
        (F.col("doc_id") + _INC_REFETCH_OFF).alias("doc_id"),
        "source", "text",
        F.lit(True).alias("incoming"),
    )
    mirror = base.filter(
        (F.col("doc_id") % 3 == 0) & (F.col("doc_id") % 11 == 0)
    ).select(
        (F.col("doc_id") + _INC_MIRROR_OFF).alias("doc_id"),
        "source", "text",
        F.lit(True).alias("incoming"),
    )
    d = (
        base.withColumn("incoming", F.col("doc_id") % 3 == 0)
        .unionByName(refetch)
        .unionByName(mirror)
        .withColumn("h", F.md5("text"))
    )
    # one row per distinct text: rep + prior membership + first
    # incoming occurrence (the h groupBy is the only corpus-wide
    # shuffle; everything signature-side runs at rep cardinality)
    gh = d.groupBy("h").agg(
        F.min("doc_id").alias("rep_id"),
        F.sum(F.when(~F.col("incoming"), 1).otherwise(0)).alias("n_prior"),
        F.min(F.when(F.col("incoming"), F.col("doc_id"))).alias("min_in"),
        # materialize ONCE (r13): gh has four consumers below (reps
        # semi-join, prior filter, non-prior filter, the inc join) and
        # per-consumer column pruning makes each copy's exchange
        # non-identical, so nothing was reused — the executed plan
        # re-ran the scan+union+md5+groupBy FOUR times (72 parquet
        # scans total, 16 jobs). This is the snapshot hash store the
        # operator models, materialized once per refresh (guide §2.4).
        # Eager: a lazy checkpoint that concurrent AQE stages compute
        # first can deadlock the scheduler (the rule supersteps keeps).
    ).localCheckpoint(eager=True)
    reps = d.select("doc_id", "text").join(
        gh.select(F.col("rep_id").alias("doc_id")), "doc_id", "left_semi"
    )
    # materialize the banded store once (r13), eagerly as gh: two
    # consumers (prior_bands, near_reps) otherwise each re-run the
    # shingle explode + 16-component MinHash aggregation (guide §2.4)
    banded = _banded(_sig_of(_shingles_of(reps)), "doc_id").localCheckpoint(eager=True)
    prior_reps = gh.filter(F.col("n_prior") > 0).select(
        F.col("rep_id").alias("doc_id")
    )
    # the persisted band store: distinct (band, key) of prior cliques.
    # A clique with no prior member can only collide with OTHER
    # cliques' keys here, so a plain semi-join is exactly "near a
    # different prior text" (its own keys are absent by construction).
    prior_bands = (
        banded.join(prior_reps, "doc_id", "left_semi")
        .select("band", "key")
        .distinct()
    )
    near_reps = (
        banded.join(
            gh.filter(F.col("n_prior") == 0).select(
                F.col("rep_id").alias("doc_id")
            ),
            "doc_id", "left_semi",
        )
        .join(prior_bands, ["band", "key"], "left_semi")
        .select(F.col("doc_id").alias("rep_id"))
        .distinct()
        .withColumn("nearf", F.lit(True))
    )
    inc = (
        d.filter("incoming")
        .join(gh, "h")
        .join(near_reps, "rep_id", "left")
        .select(
            "source", "doc_id", "h", "n_prior", "min_in",
            F.coalesce("nearf", F.lit(False)).alias("nearf"),
        )
    )
    cls = inc.select(
        "source",
        F.when(F.col("n_prior") > 0, "exact_prior")
        .when(F.col("nearf"), "near_prior")
        .when(F.col("doc_id") > F.col("min_in"), "batch_dup")
        .otherwise("new")
        .alias("cls"),
        (
            F.conv(F.substring("h", 1, 15), 16, 10).cast("bigint") % _P
        ).alias("hnum"),
    )
    # no repartition before the aggregate: source is a ~20-value key, so
    # an explicit source-keyed exchange ships every classified row
    # through a hot-key shuffle (3/4 of rows in one partition on the
    # skew corpus); the plain groupBy partial-aggregates map-side to
    # ~#sources rows per task before its own exchange (guide §2.3).
    return (
        cls.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_incoming"),
            F.sum(F.when(F.col("cls") == "exact_prior", 1).otherwise(0))
            .cast("bigint").alias("n_exact_prior"),
            F.sum(F.when(F.col("cls") == "near_prior", 1).otherwise(0))
            .cast("bigint").alias("n_near_prior"),
            F.sum(F.when(F.col("cls") == "batch_dup", 1).otherwise(0))
            .cast("bigint").alias("n_batch_dup"),
            F.sum(F.when(F.col("cls") == "new", 1).otherwise(0))
            .cast("bigint").alias("n_new"),
            F.sum(F.when(F.col("cls") == "new", F.col("hnum")).otherwise(0))
            .cast("bigint").alias("admitted_hashsum"),
        )
        .orderBy("source")
    )


def _incremental_sql() -> str:
    return f"""
WITH d AS (
    SELECT doc_id, source, text, md5(text) AS h,
           doc_id % 3 = 0 AS incoming
    FROM documents
    UNION ALL
    SELECT doc_id + {_INC_REFETCH_OFF} AS doc_id, source, text,
           md5(text) AS h, TRUE AS incoming
    FROM documents WHERE doc_id % 3 <> 0 AND doc_id % 7 = 0
    UNION ALL
    SELECT doc_id + {_INC_MIRROR_OFF} AS doc_id, source, text,
           md5(text) AS h, TRUE AS incoming
    FROM documents WHERE doc_id % 3 = 0 AND doc_id % 11 = 0
),
gh AS (
    SELECT h, min(doc_id) AS rep_id,
           sum(CASE WHEN NOT incoming THEN 1 ELSE 0 END) AS n_prior,
           min(CASE WHEN incoming THEN doc_id END) AS min_in
    FROM d GROUP BY h
),
reps AS (
    SELECT d.doc_id, d.text FROM d
    WHERE d.doc_id IN (SELECT rep_id FROM gh)
),
{_minhash_ctes("reps", "hs")},
prior_bands AS (
    SELECT DISTINCT band, key FROM banded
    WHERE doc_id IN (SELECT rep_id FROM gh WHERE n_prior > 0)
),
near AS (
    SELECT DISTINCT b.doc_id AS rep_id
    FROM banded b JOIN prior_bands p USING (band, key)
    WHERE b.doc_id IN (SELECT rep_id FROM gh WHERE n_prior = 0)
),
cls AS (
    SELECT d.source,
           CASE WHEN g.n_prior > 0 THEN 'exact_prior'
                WHEN n.rep_id IS NOT NULL THEN 'near_prior'
                WHEN d.doc_id > g.min_in THEN 'batch_dup'
                ELSE 'new' END AS cls,
           CAST(('0x' || substr(d.h, 1, 15)) AS BIGINT) % {_P} AS hnum
    FROM d
    JOIN gh g USING (h)
    LEFT JOIN near n ON n.rep_id = g.rep_id
    WHERE d.incoming
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_incoming,
       CAST(sum(CASE WHEN cls = 'exact_prior' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_exact_prior,
       CAST(sum(CASE WHEN cls = 'near_prior' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_near_prior,
       CAST(sum(CASE WHEN cls = 'batch_dup' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_batch_dup,
       CAST(sum(CASE WHEN cls = 'new' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_new,
       CAST(sum(CASE WHEN cls = 'new' THEN hnum ELSE 0 END) AS BIGINT)
           AS admitted_hashsum
FROM cls
GROUP BY source
ORDER BY source
"""


QUERIES = {
    "dedup_incremental": dedup_incremental,
    "dedup_exact_substr": dedup_exact_substr,
    "dedup_paragraph": dedup_paragraph,
    "dedup_jaccard_ppjoin": dedup_jaccard_ppjoin,
    "text_contamination_bloom": text_contamination_bloom,
    "corpus_dedup_keep_best": corpus_dedup_keep_best,
    "dedup_exact": dedup_exact,
    "corpus_dedup_rate": corpus_dedup_rate,
    "dedup_minhash_est": dedup_minhash_est,
    "dedup_edit_distance": dedup_edit_distance,
    "dedup_containment": dedup_containment,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_simhash": dedup_simhash,
    "dedup_simhash_hamming": dedup_simhash_hamming,
    "dedup_embedding_cosine": dedup_embedding_cosine,
    "dedup_cluster_cc": dedup_cluster_cc,
    "text_contamination": text_contamination,
}

ORACLES = {
    "dedup_incremental": _incremental_sql(),
    "dedup_exact_substr": _EXACT_SUBSTR_SQL,
    "dedup_paragraph": _PARA_SQL,
    "dedup_jaccard_ppjoin": _NGRAM_SQL,
    "text_contamination_bloom": _contamination_bloom_sql(),
    "corpus_dedup_keep_best": _keep_best_sql(),
    "corpus_dedup_rate": _DEDUP_RATE_SQL,
    "dedup_minhash_est": _minhash_est_sql(),
    "dedup_edit_distance": _LEV_SQL,
    "dedup_containment": _CONTAINMENT_SQL,
    "dedup_simhash_hamming": _simhash_hamming_sql(),
    "dedup_exact": _EXACT_SQL,
    "dedup_ngram_jaccard": _NGRAM_SQL,
    "dedup_minhash_lsh": _minhash_sql(),
    "dedup_simhash": _simhash_sql(),
    "dedup_embedding_cosine": _EMB_SQL,
    "dedup_cluster_cc": _CLUSTER_SQL,
    "text_contamination": _CONTAMINATION_SQL,
}
