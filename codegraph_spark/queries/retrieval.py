"""Ranked-retrieval extensions: BM25 scoring and corpus vocabulary
profiling over the ``documents`` table.

The reference's search surface is substring + CASE rank
(pkg/neo4j/query.go:348-414, mirrored by o1_search_ranked); a
training-data pipeline additionally needs term-statistics retrieval —
BM25 for quality-targeted corpus slicing and a document-frequency
vocabulary for tokenizer construction / stopword induction.

Scale notes (100 TB stance):
- Document length and the global average length never explode tokens:
  ``dl`` is a per-row ``size(split(...))`` and ``avgdl`` an exact
  integer-sum aggregate (summation-order-independent, unlike a double
  sum), broadcast back as one row.
- Only QUERY terms are exploded for tf (the explode is filtered by a
  broadcast literal array before the shuffle), so the tf aggregation
  shuffles O(matches), not O(corpus tokens).
- The per-term document frequencies are a 3-row aggregate — broadcast
  joined, never shuffling the corpus side.
- The vocabulary profile pre-aggregates (term, doc) map-side before
  counting distinct docs, the standard two-stage distinct; the
  100 TB swap is approx_count_distinct + a df cutoff, documented on
  the operator.
- Per-document scores are combined via fixed-order singleton-max
  columns, NOT a float sum aggregate, so the result is bit-identical
  across partitionings and engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from codegraph_spark.sources.tables import load_table

_BM25_TERMS = ["fast", "vector", "window"]
_K1 = 1.2
_B = 0.75


def text_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 documents for a fixed conjunctive-OR term query.

    idf(t) = ln(1 + (N - df + 0.5) / (df + 0.5)); score(d) = sum over
    matched terms of idf * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl)).
    Scores are rounded to 4 decimals in-query on both engines and the
    ordering ties break on doc_id, so the top-10 is deterministic.
    """
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id", F.split(F.lower(F.col("text")), " ").alias("toks")
    ).select("doc_id", "toks", F.size("toks").cast("bigint").alias("dl"))

    # Exact global avgdl from integer sums (deterministic double).
    stats = base.agg(
        F.sum("dl").alias("tot"), F.count(F.lit(1)).alias("n_docs")
    ).select(
        (F.col("tot").cast("double") / F.col("n_docs")).alias("avgdl"),
        F.col("n_docs").cast("double").alias("n"),
    )

    # tf over query terms only: filter the token array BEFORE exploding.
    tf = (
        base.select(
            "doc_id", "dl",
            F.explode(F.filter("toks", lambda t: t.isin(_BM25_TERMS))).alias("term"),
        )
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
    )

    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).cast("double").alias("df"))
    scored = (
        tf.join(F.broadcast(df_t), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id", "term",
            (
                F.log(F.lit(1.0) + (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5))
                * (F.col("tf") * (_K1 + 1.0))
                / (F.col("tf") + _K1 * (1.0 - _B + _B * F.col("dl") / F.col("avgdl")))
            ).alias("contrib"),
        )
    )
    # Fixed-order singleton-max combination: one contrib row exists per
    # (doc, term), so max() selects it without float-sum order effects.
    per_doc = scored.groupBy("doc_id").agg(
        *[
            F.max(F.when(F.col("term") == t, F.col("contrib"))).alias(f"s_{t}")
            for t in _BM25_TERMS
        ]
    )
    total = per_doc.select(
        "doc_id",
        F.round(
            sum((F.coalesce(F.col(f"s_{t}"), F.lit(0.0)) for t in _BM25_TERMS), F.lit(0.0)),
            4,
        ).alias("score"),
    )
    return total.orderBy(F.desc("score"), "doc_id").limit(10)


_BM25_SQL = f"""
WITH base AS (
    SELECT doc_id, string_split(lower(text), ' ') AS toks,
           CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS dl
    FROM documents
),
stats AS (
    SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl,
           CAST(COUNT(*) AS DOUBLE) AS n
    FROM base
),
tf AS (
    SELECT doc_id, dl, t.term AS term, CAST(COUNT(*) AS DOUBLE) AS tf
    FROM base, unnest(list_filter(toks, x -> x IN ('fast', 'vector', 'window'))) AS t(term)
    GROUP BY doc_id, dl, t.term
),
dfreq AS (
    SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY term
),
scored AS (
    SELECT tf.doc_id, tf.term,
           ln(1.0 + (stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
             * (tf.tf * ({_K1} + 1.0))
             / (tf.tf + {_K1} * (1.0 - {_B} + {_B} * tf.dl / stats.avgdl)) AS contrib
    FROM tf JOIN dfreq USING (term) CROSS JOIN stats
),
per_doc AS (
    SELECT doc_id,
           MAX(CASE WHEN term = 'fast' THEN contrib END) AS s_fast,
           MAX(CASE WHEN term = 'vector' THEN contrib END) AS s_vector,
           MAX(CASE WHEN term = 'window' THEN contrib END) AS s_window
    FROM scored GROUP BY doc_id
)
SELECT doc_id,
       ROUND(COALESCE(s_fast, 0.0) + COALESCE(s_vector, 0.0)
             + COALESCE(s_window, 0.0), 4) AS score
FROM per_doc
ORDER BY score DESC, doc_id
LIMIT 10
"""


def vocab_top_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary profile: top-50 terms by document frequency
    (ties by term), with collection frequency alongside — the
    stopword-induction / tokenizer-vocabulary primer. Exact distinct
    here (the gate needs bit-equality); at 100 TB swap the countDistinct
    for approx_count_distinct and add a min-df cutoff."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.lower(F.col("text")), " ")).alias("term")
    ).filter(F.col("term") != "")
    prof = toks.groupBy("term").agg(
        F.countDistinct("doc_id").alias("doc_freq"),
        F.count(F.lit(1)).alias("coll_freq"),
    )
    return prof.orderBy(F.desc("doc_freq"), "term").limit(50)


_VOCAB_SQL = """
SELECT term, COUNT(DISTINCT doc_id) AS doc_freq, COUNT(*) AS coll_freq
FROM (
    SELECT doc_id, t.term AS term
    FROM documents, unnest(string_split(lower(text), ' ')) AS t(term)
    WHERE t.term <> ''
)
GROUP BY term
ORDER BY doc_freq DESC, term
LIMIT 50
"""


def text_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keyword extraction: top-3 terms by TF×rarity —
    tf · 10⁶ div df, the integer-exact TF-IDF surrogate (1/df in place
    of log(N/df): same ranking direction, no float-log to disagree on
    cross-engine; the classic form is one `log` swap away on a real
    cluster). The keyword column is what retrieval/labeling pipelines
    write back per document.

    Scale shape: one token explode, one (doc,term) map-side-combining
    TF agg, one term-keyed DF agg joined back on term (well-spread
    content key), one per-doc top-3 window — all corpus-linear, no
    pair joins."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.lower(F.col("text")), " ")).alias("term")
    ).filter(F.col("term") != "")
    tf = toks.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )
    df = toks.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score"), "term"
    )
    return (
        tf.join(df, "term")
        .withColumn("score", F.expr("tf * 1000000 div df"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "term", "tf", "df", "score", "rank")
        .orderBy("doc_id", "rank")
    )


_TFIDF_SQL = """
WITH toks AS (
    SELECT doc_id, t.term AS term
    FROM documents, unnest(string_split(lower(text), ' ')) AS t(term)
    WHERE t.term <> ''
),
tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2),
df AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY term)
SELECT doc_id, term, tf, df, score, rank FROM (
    SELECT tf.doc_id, tf.term, tf.tf, df.df,
           CAST(tf.tf * 1000000 // df.df AS BIGINT) AS score,
           CAST(row_number() OVER (PARTITION BY tf.doc_id
                                   ORDER BY tf.tf * 1000000 // df.df DESC, tf.term)
                AS INT) AS rank
    FROM tf JOIN df USING (term)
) WHERE rank <= 3
ORDER BY doc_id, rank
"""


def vocab_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first BPE merge iteration of tokenizer training: count every
    adjacent character pair across all token occurrences and rank the
    top-20 merge candidates. The pair enumeration happens INSIDE the
    row (transform over an index sequence — no per-character explode
    before the aggregation's map-side combine), so the shuffle carries
    (pair, partial count), never raw characters. Iterating this
    operator with a merge-and-recount loop is BPE training; one round
    is the gate-checkable unit."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("t")
    ).filter(F.length("t") >= 2)
    pairs = toks.select(
        F.explode(
            F.expr("transform(sequence(1, length(t) - 1), i -> substr(t, i, 2))")
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "pair")
        .limit(20)
    )


_BPE_SQL = """
SELECT pair, count(*) AS n
FROM (
    SELECT unnest(list_transform(range(1, length(t)), i -> substr(t, i, 2))) AS pair
    FROM (
        SELECT unnest(string_split(lower(text), ' ')) AS t FROM documents
    )
    WHERE length(t) >= 2
)
GROUP BY pair
ORDER BY n DESC, pair
LIMIT 20
"""


# --- vocab_oov_rate: per-document out-of-vocabulary profile -------------------
_OOV_VOCAB_K = 30  # reference vocabulary: top-K terms by document frequency


def vocab_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-health metric: per-document rate (per-mille, integer)
    of token OCCURRENCES outside the top-K df vocabulary — the check
    that catches a domain shift or encoding glitch flooding a corpus
    drop with unknown tokens before tokenizer training sees it.

    Vocabulary induction is one map-side-combining df aggregation +
    deterministic top-K (ties by term); membership is a broadcast
    anti-semi pattern — the token stream is scanned ONCE, never
    shuffled on the doc key until the final per-doc agg. At 100 TB the
    vocabulary is a fixed-K broadcast regardless of corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.lower(F.col("text")), " ")).alias("term")
    ).filter(F.col("term") != "")
    vocab = F.broadcast(
        toks.groupBy("term")
        .agg(F.countDistinct("doc_id").alias("df"))
        .orderBy(F.desc("df"), "term")
        .limit(_OOV_VOCAB_K)
        .select("term")
        .withColumn("_in", F.lit(1))
    )
    return (
        toks.join(vocab, "term", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            (F.count(F.lit(1)) - F.sum(F.coalesce(F.col("_in"), F.lit(0))))
            .alias("n_oov"),
            F.expr(
                "(count(*) - sum(coalesce(_in, 0))) * 1000 div count(*)"
            ).alias("oov_pm"),
        )
    )


_OOV_SQL = f"""
WITH toks AS (
    SELECT doc_id, t.term AS term
    FROM documents, unnest(string_split(lower(text), ' ')) AS t(term)
    WHERE t.term <> ''
),
vocab AS (
    SELECT term FROM (
        SELECT term, count(DISTINCT doc_id) AS df
        FROM toks GROUP BY term
        ORDER BY df DESC, term
        LIMIT {_OOV_VOCAB_K}
    )
)
SELECT doc_id,
       count(*) AS n_tokens,
       CAST(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       CAST(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) * 1000 // count(*) AS BIGINT)
           AS oov_pm
FROM toks LEFT JOIN vocab v USING (term)
GROUP BY doc_id
"""


# --- vocab_bpe_merges: iterative BPE tokenizer training -----------------------
_BPE_ROUNDS = 4


def vocab_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer TRAINING (Sennrich et al. 2016, arXiv 1508.07909):
    ``_BPE_ROUNDS`` full merge iterations — count adjacent symbol
    pairs, merge the winner corpus-wide, recount — returning the merge
    table (rank, lhs, rhs, merged, n) a tokenizer consumes.
    ``vocab_bpe_pairs`` is one counting round; this is the loop.

    Scale shape: training runs on the WORD HISTOGRAM, not the corpus —
    the classic reduction (Zipf: distinct words ≪ token mass), so one
    corpus-mass shuffle builds (word, freq) and every merge round
    touches histogram-sized data only. Per round: pair counts are a
    (pair)-keyed map-side-combining agg weighted by freq; the winner is
    TakeOrderedAndProject (never a global sort); the merge rewrite is
    word-partitioned windows — leftmost-non-overlapping occurrences
    selected by run parity ((i - run_start) % 2 = 0; runs of
    overlapping matches only exist when lhs = rhs). Pair counting
    counts overlapping occurrences, exactly like the reference
    Counter over zip(word, word[1:]).

    The trained rounds are deterministic (total-order tie-break
    n DESC, lhs, rhs), so the oracle unrolls into chained CTEs
    (:func:`_bpe_merges_sql`) like the k-means quantizer's."""
    merges, _ = _bpe_trained(spark, sf_dir)
    return merges.orderBy("merge_rank")


def _bpe_trained(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, list[DataFrame]]:
    """Serving-cached trained tokenizer per (app, dataset): the merge
    table and the per-round symbol-table states, trained ONCE per
    session (tokenizer training is ingest-time work, like the trained
    inverted file) and persisted through ``serving.shared_df`` (bounded,
    LRU-evicted, invalidatable). Four registry queries consume it
    (merges / encode / compression curve / token packing); without the
    cache each retrained the identical 4 rounds per call."""
    from codegraph_spark.serving import shared_df

    trained: dict[str, object] = {}

    def ensure() -> None:
        if not trained:
            merges, states = _bpe_train(
                _bpe_word_histogram(spark, sf_dir), _BPE_ROUNDS
            )
            out = merges[0]
            for mdf in merges[1:]:
                out = out.unionByName(mdf)
            trained["merges"] = out
            trained["states"] = states

    def state_build(i: int) -> DataFrame:
        ensure()
        return trained["states"][i]  # type: ignore[index]

    def merges_build() -> DataFrame:
        ensure()
        return trained["merges"]  # type: ignore[return-value]

    merges = shared_df(spark, (sf_dir, "bpe", "merges"), merges_build)
    states = [
        shared_df(spark, (sf_dir, "bpe", f"state{i}"), lambda i=i: state_build(i))
        for i in range(_BPE_ROUNDS + 1)
    ]
    return merges, states


def _bpe_word_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(word, freq, sym) histogram — the one corpus-mass shuffle BPE
    training/encoding ever pays (Zipf: distinct words ≪ token mass)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split(F.lower(F.col("text")), " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
        .withColumn(
            "sym",
            F.expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))"),
        )
        # checkpoint the histogram too: round 1's argmax and round 1's
        # merge rewrite are separate physical plans — without this the
        # corpus-mass explode+groupBy executes twice
        .localCheckpoint(eager=False)
    )


def _bpe_train(
    w: DataFrame, rounds: int
) -> tuple[list[DataFrame], list[DataFrame]]:
    """The BPE merge loop over a (word, freq, sym) histogram. Returns
    ``(merges, states)``: the per-round winner DataFrames and the
    symbol-table states [w after 0 merges, …, w after ``rounds``
    merges] (states[-1] is what an ENCODER needs; the full list feeds
    the compression curve). All lazy — ``vocab_bpe_merges`` ignores
    ``states``, so rewrite plans are built but never executed there."""
    from pyspark.sql import Window

    merges: list[DataFrame] = []
    states: list[DataFrame] = [w]
    for r in range(1, rounds + 1):
        e = w.select("word", "freq", F.posexplode("sym").alias("i", "s"))
        win = Window.partitionBy("word").orderBy("i")
        p = e.withColumn("nx", F.lead("s").over(win))
        cnt = (
            p.filter(F.col("nx").isNotNull())
            .groupBy(F.col("s").alias("la"), F.col("nx").alias("lb"))
            .agg(F.sum("freq").alias("n"))
        )
        best = cnt.orderBy(F.desc("n"), "la", "lb").limit(1).localCheckpoint(eager=False)
        merges.append(
            best.select(
                F.lit(r).alias("merge_rank"),
                F.col("la").alias("lhs"),
                F.col("lb").alias("rhs"),
                F.concat("la", "lb").alias("merged"),
                "n",
            )
        )
        b = F.broadcast(best.select(F.col("la").alias("_a"), F.col("lb").alias("_b")))
        m = p.crossJoin(b).withColumn(
            "m",
            F.coalesce(
                (F.col("s") == F.col("_a")) & (F.col("nx") == F.col("_b")),
                F.lit(False),
            ),
        )
        wg = Window.partitionBy("word", "m").orderBy("i")
        wr = Window.partitionBy("word", "m", "grp")
        m = (
            m.withColumn("grp", F.col("i") - F.row_number().over(wg))
            .withColumn(
                "take", F.col("m") & (((F.col("i") - F.min("i").over(wr)) % 2) == 0)
            )
            .withColumn("keep", ~F.coalesce(F.lag("take").over(win), F.lit(False)))
            .withColumn(
                "so", F.when(F.col("take"), F.concat("_a", "_b")).otherwise(F.col("s"))
            )
        )
        w = (
            m.filter("keep")
            .groupBy("word", "freq")
            .agg(F.array_sort(F.collect_list(F.struct("i", "so"))).alias("ps"))
            .select("word", "freq", F.transform("ps", lambda st: st.so).alias("sym"))
            .localCheckpoint(eager=False)
        )
        states.append(w)
    return merges, states


def _bpe_merges_sql(rounds: int = _BPE_ROUNDS) -> str:
    """Unrolled-CTE oracle for :func:`vocab_bpe_merges` — per round:
    pair count + argmax CTE, then the parity-rule merge rewrite.
    DuckDB positions are 1-based vs posexplode's 0-based; the parity
    and run grouping use only position DIFFERENCES, so the offset
    cancels."""
    parts = [
        """w1 AS MATERIALIZED (
    SELECT word, CAST(count(*) AS BIGINT) AS freq,
           list_transform(range(1, length(word) + 1), i -> substr(word, i, 1)) AS sym
    FROM (SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents)
    WHERE word <> '' GROUP BY word)"""
    ]
    for r in range(1, rounds + 1):
        parts.append(f"""e{r} AS MATERIALIZED (
    SELECT word, freq, i, s, lead(s) OVER (PARTITION BY word ORDER BY i) AS nx
    FROM (SELECT word, freq, generate_subscripts(sym, 1) AS i, unnest(sym) AS s
          FROM w{r}))""")
        parts.append(f"""best{r} AS MATERIALIZED (
    SELECT s AS la, nx AS lb, CAST(SUM(freq) AS BIGINT) AS n
    FROM e{r} WHERE nx IS NOT NULL
    GROUP BY s, nx ORDER BY n DESC, la, lb LIMIT 1)""")
        if r < rounds:
            parts.append(f"""k{r} AS MATERIALIZED (
    SELECT word, freq, i,
           NOT coalesce(lag(take) OVER (PARTITION BY word ORDER BY i), false) AS keep,
           CASE WHEN take THEN (SELECT la || lb FROM best{r}) ELSE s END AS so
    FROM (
        SELECT word, freq, i, s,
               m AND ((i - min(i) OVER (PARTITION BY word, m, grp)) % 2 = 0) AS take
        FROM (
            SELECT word, freq, i, s, m,
                   i - row_number() OVER (PARTITION BY word, m ORDER BY i) AS grp
            FROM (
                SELECT word, freq, i, s,
                       coalesce(s = (SELECT la FROM best{r})
                                AND nx = (SELECT lb FROM best{r}), false) AS m
                FROM e{r}
            )
        )
    ))""")
            parts.append(f"""w{r + 1} AS MATERIALIZED (
    SELECT word, freq, list(so ORDER BY i) AS sym
    FROM k{r} WHERE keep GROUP BY word, freq)""")
    tail = (
        "\n"
        + "\nUNION ALL ".join(
            f"SELECT {r} AS merge_rank, la AS lhs, lb AS rhs, la || lb AS merged, n"
            f" FROM best{r}"
            for r in range(1, rounds + 1)
        )
        + "\nORDER BY merge_rank"
    )
    return "WITH " + ",\n".join(parts) + tail


# --- vocab_bpe_encode: apply the trained merges (the tokenizer itself) --------


def vocab_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE ENCODING with the merges :func:`vocab_bpe_merges` trains —
    the tokenizer-apply step a data pipeline runs to budget token
    counts before training. Per (lang, source) stratum: documents,
    words, emitted BPE tokens, word characters, and chars-per-token
    compression in ppm — the number that decides packing and cost.

    Scale shape: encoding touches the corpus exactly TWICE and the
    word histogram ``rounds`` more times —

    1. corpus-mass map-side-combining agg to (lang, source, word, cnt)
       (histogram-sized output; the same Zipf reduction training uses);
    2. the trained symbol table ``w_final`` (histogram-sized, token
       counts = array lengths) joins that on ``word`` — a
       histogram⋈histogram equi-join, never corpus⋈histogram;
    3. n_docs per stratum from one more corpus pass (cheap count
       distinct).

    No per-token work ever leaves the histogram: a 100 TB corpus with a
    10M-word vocabulary encodes through a 10M-row join."""
    _, states = _bpe_trained(spark, sf_dir)
    tok = states[-1].select(
        "word",
        F.size("sym").cast("bigint").alias("n_tok"),
        F.length("word").cast("bigint").alias("n_chr"),
    )
    docs = load_table(spark, sf_dir, "documents")
    dw = docs.select(
        "lang", "source", "doc_id",
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("word"),
    ).filter(F.col("word") != "")
    gw = dw.groupBy("lang", "source", "word").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    nd = dw.groupBy("lang", "source").agg(
        F.countDistinct("doc_id").alias("n_docs")
    )
    enc = (
        gw.join(tok, "word")
        .groupBy("lang", "source")
        .agg(
            F.sum("cnt").alias("n_words"),
            F.sum(F.col("cnt") * F.col("n_tok")).alias("n_tokens"),
            F.sum(F.col("cnt") * F.col("n_chr")).alias("n_chars"),
        )
    )
    return (
        enc.join(nd, ["lang", "source"])
        .select(
            "lang", "source", "n_docs", "n_words", "n_tokens", "n_chars",
            # chars*1e6 stays < 2^53 far past petabyte scale per stratum;
            # IEEE double divide + floor is bit-identical across engines
            F.floor(F.col("n_chars") * F.lit(1000000.0) / F.col("n_tokens"))
            .cast("bigint")
            .alias("chars_per_tok_ppm"),
        )
        .orderBy("lang", "source")
    )


def _bpe_encode_sql(rounds: int = _BPE_ROUNDS) -> str:
    """Unrolled-CTE oracle for :func:`vocab_bpe_encode`: the trained
    symbol-table CTEs (:func:`_bpe_trained_cte_parts`), then the
    histogram join + stratum rollup."""
    parts = _bpe_trained_cte_parts(rounds)
    parts.append(f"""tok AS (
    SELECT word, CAST(len(sym) AS BIGINT) AS n_tok,
           CAST(length(word) AS BIGINT) AS n_chr FROM w{rounds + 1})""")
    parts.append("""dw AS (
    SELECT lang, source, doc_id, word FROM (
        SELECT lang, source, doc_id,
               unnest(string_split(lower(text), ' ')) AS word FROM documents
    ) WHERE word <> '')""")
    parts.append("""enc AS (
    SELECT lang, source,
           CAST(sum(cnt) AS BIGINT) AS n_words,
           CAST(sum(cnt * n_tok) AS BIGINT) AS n_tokens,
           CAST(sum(cnt * n_chr) AS BIGINT) AS n_chars
    FROM (SELECT lang, source, word, count(*) AS cnt
          FROM dw GROUP BY lang, source, word) g
    JOIN tok USING (word) GROUP BY lang, source)""")
    parts.append("""nd AS (
    SELECT lang, source, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM dw GROUP BY lang, source)""")
    tail = """
SELECT enc.lang, enc.source, n_docs, n_words, n_tokens, n_chars,
       CAST(floor(n_chars * 1000000.0 / n_tokens) AS BIGINT) AS chars_per_tok_ppm
FROM enc JOIN nd USING (lang, source)
ORDER BY lang, source"""
    return "WITH " + ",\n".join(parts) + tail


def _bpe_trained_cte_parts(rounds: int = _BPE_ROUNDS) -> list[str]:
    """Training CTEs of :func:`_bpe_merges_sql` extended through the
    FINAL round's rewrite: the chain ends at ``w{rounds+1}``, the
    encoder's symbol table. Shared by the encode and token-pack
    oracles."""
    parts = [
        """w1 AS MATERIALIZED (
    SELECT word, CAST(count(*) AS BIGINT) AS freq,
           list_transform(range(1, length(word) + 1), i -> substr(word, i, 1)) AS sym
    FROM (SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents)
    WHERE word <> '' GROUP BY word)"""
    ]
    for r in range(1, rounds + 1):
        parts.append(f"""e{r} AS MATERIALIZED (
    SELECT word, freq, i, s, lead(s) OVER (PARTITION BY word ORDER BY i) AS nx
    FROM (SELECT word, freq, generate_subscripts(sym, 1) AS i, unnest(sym) AS s
          FROM w{r}))""")
        parts.append(f"""best{r} AS MATERIALIZED (
    SELECT s AS la, nx AS lb, CAST(SUM(freq) AS BIGINT) AS n
    FROM e{r} WHERE nx IS NOT NULL
    GROUP BY s, nx ORDER BY n DESC, la, lb LIMIT 1)""")
        parts.append(f"""k{r} AS MATERIALIZED (
    SELECT word, freq, i,
           NOT coalesce(lag(take) OVER (PARTITION BY word ORDER BY i), false) AS keep,
           CASE WHEN take THEN (SELECT la || lb FROM best{r}) ELSE s END AS so
    FROM (
        SELECT word, freq, i, s,
               m AND ((i - min(i) OVER (PARTITION BY word, m, grp)) % 2 = 0) AS take
        FROM (
            SELECT word, freq, i, s, m,
                   i - row_number() OVER (PARTITION BY word, m ORDER BY i) AS grp
            FROM (
                SELECT word, freq, i, s,
                       coalesce(s = (SELECT la FROM best{r})
                                AND nx = (SELECT lb FROM best{r}), false) AS m
                FROM e{r}
            )
        )
    ))""")
        parts.append(f"""w{r + 1} AS MATERIALIZED (
    SELECT word, freq, list(so ORDER BY i) AS sym
    FROM k{r} WHERE keep GROUP BY word, freq)""")
    return parts


def corpus_pack_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budgeted shard packing with the TRAINED tokenizer's true
    counts — ``corpus_pack_shards`` linearizes by whitespace-token
    counts; this one packs by what the model actually consumes (BPE
    tokens from the :func:`vocab_bpe_merges` merge table), so a 4096
    budget means 4096 real tokens per shard, not an estimate that
    drifts with tokenizer compression.

    Composition, not re-invention: per-doc token counts come from the
    histogram⋈histogram join of :func:`vocab_bpe_encode` (the corpus
    is scanned once; no per-token rows leave the histogram), and the
    linearization is the identical two-level prefix sum of
    corpus_pack_shards (bucketed windows + a broadcast offsets table —
    no global window at any n). Docs whose text yields no words pack
    with 0 tokens rather than dropping (left join + coalesce)."""
    from codegraph_spark.queries.text import _PACK_BUCKETS, _PACK_BUDGET

    _, states = _bpe_trained(spark, sf_dir)
    tok = states[-1].select("word", F.size("sym").cast("bigint").alias("n_tok"))
    docs = load_table(spark, sf_dir, "documents")
    dw = docs.select(
        "doc_id", F.explode(F.split(F.lower(F.col("text")), " ")).alias("word")
    ).filter(F.col("word") != "")
    per_doc = (
        dw.groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .join(tok, "word")
        .groupBy("doc_id")
        .agg(F.sum(F.col("cnt") * F.col("n_tok")).alias("nt"))
    )
    base = (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("nt", F.lit(0)).cast("bigint").alias("n_tokens"),
            (F.col("doc_id") % _PACK_BUCKETS).alias("bucket"),
        )
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = base.withColumn("local_cum", F.sum("n_tokens").over(w))
    totals = local.groupBy("bucket").agg(F.max("local_cum").alias("btotal"))
    wb = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(
        "bucket", F.coalesce(F.sum("btotal").over(wb), F.lit(0)).alias("off")
    )
    return (
        local.join(F.broadcast(offsets), "bucket")
        .select(
            "doc_id",
            "n_tokens",
            F.expr(f"(off + local_cum - n_tokens) div {_PACK_BUDGET}").alias("shard_id"),
            ((F.col("off") + F.col("local_cum") - F.col("n_tokens")) % _PACK_BUDGET)
            .alias("shard_pos"),
        )
    )


def _pack_tokens_sql(rounds: int = _BPE_ROUNDS) -> str:
    """Oracle for :func:`corpus_pack_tokens`: trained symbol-table CTEs
    + per-doc true token counts + the corpus_pack_shards prefix-sum
    tail (constants imported from queries.text so the two packers can
    never drift)."""
    from codegraph_spark.queries.text import _PACK_BUCKETS, _PACK_BUDGET

    parts = _bpe_trained_cte_parts(rounds)
    parts.append(f"""tokc AS (
    SELECT word, CAST(len(sym) AS BIGINT) AS n_tok FROM w{rounds + 1})""")
    parts.append("""gw AS (
    SELECT doc_id, word, CAST(count(*) AS BIGINT) AS cnt FROM (
        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word
        FROM documents
    ) WHERE word <> '' GROUP BY doc_id, word)""")
    parts.append("""dt AS (
    SELECT d.doc_id, CAST(coalesce(sum(g.cnt * t.n_tok), 0) AS BIGINT) AS n_tokens
    FROM documents d
    LEFT JOIN gw g ON g.doc_id = d.doc_id
    LEFT JOIN tokc t ON t.word = g.word
    GROUP BY d.doc_id)""")
    parts.append(f"""base AS (
    SELECT doc_id, n_tokens, doc_id % {_PACK_BUCKETS} AS bucket FROM dt)""")
    parts.append("""localcum AS (
    SELECT doc_id, n_tokens, bucket,
           sum(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
                               ROWS UNBOUNDED PRECEDING) AS local_cum
    FROM base)""")
    parts.append("""offsets AS (
    SELECT bucket,
           coalesce(sum(btotal) OVER (ORDER BY bucket
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
    FROM (SELECT bucket, max(local_cum) AS btotal FROM localcum GROUP BY bucket))""")
    tail = f"""
SELECT l.doc_id, l.n_tokens,
       CAST((o.off + l.local_cum - l.n_tokens) // {_PACK_BUDGET} AS BIGINT) AS shard_id,
       CAST((o.off + l.local_cum - l.n_tokens) % {_PACK_BUDGET} AS BIGINT) AS shard_pos
FROM localcum l JOIN offsets o USING (bucket)"""
    return "WITH " + ",\n".join(parts) + tail


def vocab_bpe_compression_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-training CONVERGENCE CURVE: total corpus tokens after
    each merge round (round 0 = characters), with savings vs the
    character baseline in per-mille — the diminishing-returns plot that
    decides how many merges a vocabulary budget buys before training
    the real tokenizer at scale.

    Scale shape: each point is one histogram-sized aggregate
    (Σ freq·|sym| over the round's symbol table — the same Zipf
    reduction as training itself); the curve is ``rounds+1`` one-row
    aggregates unioned, and every state is a lazy checkpoint the encode
    path already builds — no new corpus passes."""
    states = _bpe_trained(spark, sf_dir)[1]
    points = []
    for r, st in enumerate(states):
        points.append(
            st.agg(
                F.sum(F.col("freq") * F.size("sym")).alias("total_tokens")
            ).select(F.lit(r).alias("merge_round"), "total_tokens")
        )
    out = points[0]
    for pdf in points[1:]:
        out = out.unionByName(pdf)
    base = points[0].select(F.col("total_tokens").alias("base_tokens"))
    return (
        out.crossJoin(F.broadcast(base))
        .select(
            "merge_round",
            F.coalesce("total_tokens", F.lit(0)).cast("bigint").alias("total_tokens"),
            F.expr(
                "coalesce(((base_tokens - total_tokens) * 1000) div nullif(base_tokens, 0), 0)"
            ).cast("bigint").alias("saved_pm"),
        )
        .orderBy("merge_round")
    )


def _bpe_curve_sql(rounds: int = _BPE_ROUNDS) -> str:
    """Oracle for :func:`vocab_bpe_compression_curve`: the trained
    symbol-table CTEs + one Σ freq·len(sym) point per state."""
    parts = _bpe_trained_cte_parts(rounds)
    points = "\nUNION ALL ".join(
        f"SELECT {r} AS merge_round,"
        f" CAST(coalesce(sum(freq * len(sym)), 0) AS BIGINT) AS total_tokens"
        f" FROM w{r + 1}"
        for r in range(rounds + 1)
    )
    parts.append(f"curve AS ({points})")
    parts.append(
        "base AS (SELECT total_tokens AS base_tokens FROM curve WHERE merge_round = 0)"
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + """
SELECT merge_round, total_tokens,
       CAST(coalesce(((base_tokens - total_tokens) * 1000) // nullif(base_tokens, 0), 0)
            AS BIGINT) AS saved_pm
FROM curve CROSS JOIN base
ORDER BY merge_round"""
    )


QUERIES = {
    "text_tfidf_keywords": text_tfidf_keywords,
    "corpus_pack_tokens": corpus_pack_tokens,
    "vocab_bpe_compression_curve": vocab_bpe_compression_curve,
    "text_bm25_search": text_bm25_search,
    "vocab_top_df": vocab_top_df,
    "vocab_bpe_pairs": vocab_bpe_pairs,
    "vocab_bpe_merges": vocab_bpe_merges,
    "vocab_bpe_encode": vocab_bpe_encode,
    "vocab_oov_rate": vocab_oov_rate,
}

ORACLES = {
    "text_tfidf_keywords": _TFIDF_SQL,
    "vocab_bpe_merges": _bpe_merges_sql(),
    "vocab_bpe_compression_curve": _bpe_curve_sql(),
    "corpus_pack_tokens": _pack_tokens_sql(),
    "vocab_bpe_encode": _bpe_encode_sql(),
    "text_bm25_search": _BM25_SQL,
    "vocab_top_df": _VOCAB_SQL,
    "vocab_bpe_pairs": _BPE_SQL,
    "vocab_oov_rate": _OOV_SQL,
}
