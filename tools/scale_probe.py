"""Empirical scaling probe: run the heavy pipelines at sf0.1 and at a
10x replicated derivative, and record wall-time ratios to SCALE.md.

A bucketed/candidate-generating operator that is genuinely linear
should show a time ratio near the data ratio (10x); a hidden quadratic
shows up as ~100x. The 10x corpus is DISTRIBUTION-PRESERVING, not a
naive copy: naive replication makes every document/vector identical to
its 9 clones, which multiplies the near-dup pair density 45-fold and
measures duplicate explosion, not data growth. Instead each replica
perturbs content deterministically (marker-token interleave for text,
norm-preserving sign flips for vectors, key offsets for relational
ids) so similarity structure per replica matches the original.

Usage: python tools/scale_probe.py [outdir]   (writes SCALE.md)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

BASE = "/root/testdata/sf0.1"
REPLICAS = 10
SCALE_DIR = os.environ.get("SPARK_GRAFT_SCALE_DIR", "/tmp/spark_graft_scale10")

#: queries probed (heavy/candidate-generating pipelines + controls)
PROBES = [
    "q1_pricing_summary",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_containment",
    "dedup_edit_distance",
    "dedup_ngram_jaccard",
    "text_quality_score",
    "text_bm25_search",
    "text_lm_score",
    "text_dup_ngram_coverage",
    "graph_label_propagation",
    "corpus_pack_shards",
    "ev_hourly_agg",
    "ev_asof_join",
    "ev_funnel",
    "ev_retention",
    "a8_first_event_per_user",
    "graph_triangle_count",
    "graph_kcore",
    "sim_lsh_cosine",
    "vocab_oov_rate",
    "ev_inactive_gap",
    "corpus_split",
    "dedup_semantic",
    "text_cross_doc_coverage",
    "text_gopher_quality",
    "vocab_bpe_encode",
    "sim_ivf_pq",
    "emb_alignment_audit",
    "text_cdc_chunks",
    "corpus_dsir_sample",
    "corpus_split_semantic_leakage",
    "graph_call_cycles",
    "sim_pq_recall",
    "mm_audio_fingerprint",
    "emb_pca_power",
    "ev_transition_matrix",
    "corpus_source_audit",
    "corpus_dedup_keep_best",
    "sim_hard_negatives",
    "mm_phash",
    "ev_cusum_drift",
    "ev_outliers_mad",
    "mm_audio_zcr",
    "corpus_ccnet_buckets",
    "corpus_padding_waste",
    "corpus_quality_calibration",
    "text_tfidf_keywords",
    "text_contamination_bloom",
    "stream_dedup_minhash_ooo",
    "mm_png_roundtrip",
    "mm_jpeg_roundtrip",
    "mm_stored_media_meta",
    "stream_image_meta",
    "mm_mjpeg_scene_cut",
    "ev_quantiles_sketch",
    "mm_wav_roundtrip",
    "mm_stored_wav_meta",
    "sim_prototypicality_prune",
    "corpus_token_budget_plan",
    "ev_hopping_agg",
    "stream_hopping_counts",
    "graph_harmonic_sampled",
    "ev_hll_distinct",
    "stream_hll_distinct",
    "dedup_jaccard_ppjoin",
    "ev_kmv_overlap",
    "dedup_semantic_adaptive",
    "text_html_extract",
    "text_html_boilerplate_audit",
    "mm_stored_mjpeg_scene_cut",
    "web_extract_yield",
    "stream_html_extract",
    "text_html_extract_dirty",
    "web_warc_extract",
    "web_url_canonical",
    "web_url_dedup",
    "web_charset_audit",
    "stream_html_extract_dirty",
    "web_warc_point_lookup",
    "dedup_exact_substr",
    "dedup_paragraph",
    "web_robots_gate",
    "web_crawl_plan",
    "stream_url_dedup",
    "text_quality_classifier",
    "web_sitemap_coverage",
    "web_domain_curation",
    "text_classifier_calibration",
    "web_crawl_delta",
    "stream_robots_gate",
    "web_wet_roundtrip",
    "web_boilerplate_freq",
    "dedup_incremental",
    "stream_dedup_incremental",
    "web_warc_media_door",
]

#: a probe is flagged when its time ratio exceeds this multiple of the
#: data ratio (10x) — the empirical "hidden quadratic" line; host noise
#: and fixed overheads keep honest linear pipelines well under it.
FLAG_FACTOR = 2.5

#: named causes for probes that sit between the data ratio and the flag
#: line — a generic "fixed overheads" gloss would hide real
#: scale-design conditions (the r5 lesson: name the cause, then fix or
#: contract it).
PROBE_NOTES = {
    "dedup_jaccard_ppjoin": (
        "prefix candidates carry the SAME df-cap contract as the "
        "posting join and the two stay result-identical at x10 too "
        "(2551 pairs each; the capped contract drops the same 9 "
        "all-hot-shared pairs, 0.35%). Without the cap a fixed-"
        "vocabulary corpus sends every prefix token hot and the "
        "candidate join measured 37x across 10x data"
    ),
    "dedup_edit_distance": (
        "output growth — the replica multiplies near-dup density, pairs "
        "79 -> 186k (2360x output) while the candidate plan stays "
        "equi-join-shaped; verify work is output-sized"
    ),
    "text_lm_score": (
        "exactly linear (ratio ~ the 10x data ratio): every stage is "
        "positions-keyed, and unlike the sublinear probes no fixed "
        "overhead amortizes it below the data ratio"
    ),
    "dedup_containment": (
        "output growth — the 10x replica's near-dup density multiplies "
        "qualifying pairs, and verify work is output-sized"
    ),
    "dedup_semantic": (
        "the probe runs the oracle-gate configuration (fixed k=8 "
        "clusters), where within-cluster pair volume is n²/k over "
        "DISTINCT vectors — quadratic by construction (the r7 "
        "exact-group collapse bounds it by distinct vectors, so "
        "duplicate-heavy corpora collapse first); ALGORITHM-CHECK-ONLY "
        "since r10 — the production plan (k ∝ n, auto-dispatched "
        "assignment) is the registered dedup_semantic_adaptive gate, "
        "whose probe row above is the one held to the data ratio, plus "
        "the dedicated sampled-trainer probe below"
    ),
    "dedup_semantic_adaptive": (
        "the r10 production-plan gate: k = ceil(n_distinct/4) tracks "
        "the corpus (125 -> 1250 across the replica), assignment "
        "auto-dispatches to the Arrow flat-argmax kernel, and the "
        "within-cluster rep pair volume stays at occupancy scale — "
        "this row, not dedup_semantic's, is the SemDeDup scale claim"
    ),
    "text_html_extract": (
        "if this row reads above 10x it is input growth, not "
        "superlinearity: the replica interleaves a marker token every "
        "3rd word, so each replica document carries 4/3 the words -> "
        "4/3 the per-doc regex work (ceiling ~13.3x); the per-doc pass "
        "itself is a zero-shuffle column program, strictly linear in "
        "page bytes"
    ),
    "text_html_boilerplate_audit": (
        "same 4/3 input growth as text_html_extract (shared block "
        "pass) plus one bounded source-keyed aggregation"
    ),
    "text_html_extract_dirty": (
        "same 4/3 input growth as text_html_extract (the dirty wrap "
        "chunks the same words); the state-machine tokenizer is one "
        "Python pass per page inside an Arrow kernel — linear in page "
        "bytes, zero shuffles"
    ),
    "web_warc_extract": (
        "file-granular scan + per-file sequential member walk + the "
        "shared extraction program; the fixture's file count grows "
        "with the corpus (max(8, n/2500) bounded-size files, the "
        "CommonCrawl shape) plus the 4/3 word growth of the replica "
        "documents"
    ),
    "web_wet_roundtrip": (
        "the WET re-read is the same file-granular member walk as "
        "web_warc_extract minus the extraction (conversion records "
        "are the already-extracted text); the one-time sink write is "
        "the prewarmed build-once fixture, outside the timer like "
        "every stored-bytes gate"
    ),
    "web_boilerplate_freq": (
        "one block explode + one map-side-combinable (source, hash) "
        "count + a key join back — linear in blocks; the 4/3 word "
        "growth of the replica documents adds blocks per page"
    ),
    "dedup_incremental": (
        "one content-hash groupBy + one rep-level shingle/sign pass "
        "+ (band,key) and h joins; replica perturbation grows the "
        "rep set with the corpus so the sign pass is the same "
        "per-distinct-text work as dedup_minhash_lsh"
    ),
    "stream_dedup_incremental": (
        "stateless door: per-row single-traversal signature fold + "
        "two stream-static store joins; the serving-cached prior "
        "stores are built once per session (the persisted-table "
        "production shape), drain finalize is one h-group rollup"
    ),
    "web_warc_media_door": (
        "file-granular scan + one kernel pass per record; the PNG "
        "decode kernel runs on the routed third of records only; "
        "one (source, mime) rollup"
    ),
    "web_warc_point_lookup": (
        "index build is one member walk per file (10x records/file at "
        "x10); the lookup itself stays EIGHT ranged reads at any scale "
        "- the access pattern the extents exist for"
    ),
    "mm_stored_wav_meta": (
        "10.4 vs the 10x file-count ratio — the stored fixture holds "
        "10x as many .wav files of the same per-doc clip-length "
        "distribution; a binaryFile scan + decode is file-count linear "
        "and the 4% excess is host noise"
    ),
    "corpus_split_semantic_leakage": (
        "within-cluster eval x train pair scoring over the k=8 trained "
        "quantizer (the dedup_semantic algorithm-check family): pair "
        "volume n_eval*n_train/k grows quadratic-by-config at fixed k "
        "but the eval side is the 2% split so the absolute cost stays "
        "small; the adaptive-k contract (k tracks n) applies here the "
        "same way and is what a 100 TB run would set"
    ),
    "dedup_exact_substr": (
        "same 4/3 input growth as the html rows (the replica marker "
        "every 3rd word multiplies 5-token windows 4/3x, ceiling "
        "~13.3x) — and the marker lands in EVERY window, so "
        "cross-replica windows can never collide and duplicate density "
        "per replica matches the original; the plan has no pair join "
        "to go quadratic"
    ),
    "dedup_paragraph": (
        "same 4/3 word growth (ceiling ~13.3x); replica paragraphs "
        "carry replica-specific markers so first-seen groups stay "
        "replica-local and the combiner-folded min never sees a "
        "corpus-hot key beyond the original's own duplicates"
    ),
    "text_quality_classifier": (
        "train-split token counting and all-doc scoring are both "
        "token-linear (4/3 word growth ceiling ~13.3x); the vocab "
        "dimension grows only by the 9 replica marker tokens"
    ),
    "web_domain_curation": (
        "the nbq scoring pass dominates (token-linear, 4/3 growth "
        "ceiling ~13.3x); the URL side is one canonical groupBy and "
        "the decision join is domain-dimension-sized"
    ),
}


def build_scaled(spark) -> None:
    if os.path.isdir(SCALE_DIR) and os.path.exists(os.path.join(SCALE_DIR, "_DONE")):
        return
    os.makedirs(SCALE_DIR, exist_ok=True)
    r = F.col("_r")

    def replicate(name: str, transform):
        df = spark.read.parquet(os.path.join(BASE, f"{name}.parquet"))
        out = (
            df.crossJoin(F.broadcast(spark.range(REPLICAS).select(F.col("id").alias("_r"))))
            .select(*transform(df))
        )
        out.write.mode("overwrite").parquet(os.path.join(SCALE_DIR, f"{name}.parquet"))

    # tiny fixed-cardinality dims pass through untouched
    for name in ["region", "nation"]:
        spark.read.parquet(os.path.join(BASE, f"{name}.parquet")).write.mode(
            "overwrite"
        ).parquet(os.path.join(SCALE_DIR, f"{name}.parquet"))

    replicate("customer", lambda df: [
        (F.col("c_custkey") + r * 1_000_000).alias("c_custkey"),
        *[c for c in df.columns if c != "c_custkey"],
    ])
    replicate("supplier", lambda df: [
        (F.col("s_suppkey") + r * 1_000_000).alias("s_suppkey"),
        *[c for c in df.columns if c != "s_suppkey"],
    ])
    replicate("part", lambda df: [
        (F.col("p_partkey") + r * 10_000_000).alias("p_partkey"),
        *[c for c in df.columns if c != "p_partkey"],
    ])
    replicate("orders", lambda df: [
        (F.col("o_orderkey") + r * 100_000_000).alias("o_orderkey"),
        (F.col("o_custkey") + r * 1_000_000).alias("o_custkey"),
        *[c for c in df.columns if c not in ("o_orderkey", "o_custkey")],
    ])
    replicate("lineitem", lambda df: [
        (F.col("l_orderkey") + r * 100_000_000).alias("l_orderkey"),
        (F.col("l_partkey") + r * 10_000_000).alias("l_partkey"),
        (F.col("l_suppkey") + r * 1_000_000).alias("l_suppkey"),
        *[c for c in df.columns if c not in ("l_orderkey", "l_partkey", "l_suppkey")],
    ])
    # documents: interleave a per-replica marker token every 3rd word
    # (replica 0 = original). Rotation/shuffle is NOT enough — it
    # preserves the token multiset (fools order-insensitive exact
    # dedup) and most contiguous shingles (fools minhash). A marker in
    # every 3-gram breaks cross-replica shingle identity while the
    # real-word stream, length class, and language stay the same.
    docs = spark.read.parquet(os.path.join(BASE, "documents.parquet"))
    words = F.split(F.col("text"), " ")
    marked = F.array_join(
        F.flatten(
            F.transform(
                words,
                lambda w, i: F.when(
                    (F.col("_r") > 0) & (i % 3 == 2),
                    F.array(w, F.concat(F.lit("zq"), F.col("_r").cast("string"))),
                ).otherwise(F.array(w)),
            )
        ),
        " ",
    )
    (
        docs.crossJoin(F.broadcast(spark.range(REPLICAS).select(F.col("id").alias("_r"))))
        .select(
            (F.col("doc_id") + r * 10_000_000).alias("doc_id"),
            marked.alias("text"),
            "lang", "source",
            F.length(marked).alias("n_chars"),
        )
        .write.mode("overwrite")
        .parquet(os.path.join(SCALE_DIR, "documents.parquet"))
    )
    # embeddings: deterministic per-replica milli-jitter on every
    # component (replica 0 = original). A pure roll aliases with the
    # LSH hyperplane weights (periodic in the dimension index), leaving
    # cross-replica buckets correlated; independent jitter decorrelates
    # signatures while preserving the norm distribution.
    emb = spark.read.parquet(os.path.join(BASE, "embeddings.parquet"))
    # sign-flip a (vec, replica)-dependent half of the components:
    # additive jitter CANNOT decorrelate sign-LSH (robustness to small
    # perturbation is the hash's defining property — a jittered replica
    # is a true near-neighbor and rightly collides). Randomized sign
    # flips keep the norm bit-exact while pointing the replica in an
    # ~orthogonal direction, so bucket populations scale instead of
    # cloning.
    jittered = F.transform(
        F.col("embedding").cast("array<double>"),
        lambda x, i: x
        * F.when(
            # 13-period balanced mask: odd multipliers mod 2 would
            # collapse to parity-of-(vec+r+i) = only two distinct
            # patterns; mod-13 phases keep all 10 replicas distinct
            (F.col("_r") > 0)
            & ((F.col("vec_id") * 7 + F.col("_r") * 31 + i * 17) % 13 < 6),
            F.lit(-1.0),
        ).otherwise(F.lit(1.0)),
    )
    (
        emb.crossJoin(F.broadcast(spark.range(REPLICAS).select(F.col("id").alias("_r"))))
        .select(
            (F.col("vec_id") + r * 10_000_000).alias("vec_id"),
            jittered.alias("embedding"),
            "label",
        )
        .write.mode("overwrite")
        .parquet(os.path.join(SCALE_DIR, "embeddings.parquet"))
    )
    # events: new users per replica (user population scales with data)
    ev = spark.read.parquet(os.path.join(BASE, "events.parquet"))
    (
        ev.crossJoin(F.broadcast(spark.range(REPLICAS).select(F.col("id").alias("_r"))))
        .select(
            (F.col("event_id") + r * 100_000_000).alias("event_id"),
            "ts",
            (F.col("user_id") + r * 1_000_000).alias("user_id"),
            "event_type", "value", "props",
        )
        .write.mode("overwrite")
        .parquet(os.path.join(SCALE_DIR, "events.parquet"))
    )
    with open(os.path.join(SCALE_DIR, "_DONE"), "w") as f:
        f.write("ok\n")


def lsh_ceiling_probe(spark) -> list[tuple]:
    """Companion to tests/test_similarity's linearity pin, at the
    sizes the suite can't afford: candidate volume of the banded
    corpus-adaptive LSH family at n = 2^20 and n = 2^23 (the latter
    PAST the removed 16-plane ceiling — 18 planes/band), plus the
    r5 clamped family (single band, 16 planes) at 2^23 for contrast.
    Volumes come from the bucket histogram (exact self-join output
    size, no pair materialization). dim 64: with dim >> planes the
    hash corpus spreads near-uniformly over sign regions; a low-dim
    corpus would skew bucket occupancy and measure the corpus, not
    the family."""
    from pyspark.sql import functions as F

    from codegraph_spark.queries.similarity import (
        _LSH_BANDS,
        lsh_bucket_histogram_volume,
        lsh_planes_for,
    )

    def synth(n: int, dim: int = 64):
        return spark.range(n).select(
            F.col("id").alias("vec_id"),
            F.expr(
                f"transform(sequence(0, {dim - 1}), "
                f"d -> (pmod(hash(id * {dim} + d), 1000) - 500) / 1000.0)"
            ).alias("embedding"),
        )

    out = []
    for label, n, planes, bands in (
        ("adaptive", 1 << 20, lsh_planes_for(1 << 20), _LSH_BANDS),
        ("adaptive", 1 << 23, lsh_planes_for(1 << 23), _LSH_BANDS),
        ("r5-clamped", 1 << 23, 16, 1),
    ):
        t0 = time.perf_counter()
        c = lsh_bucket_histogram_volume(synth(n), planes, bands=bands)
        secs = time.perf_counter() - t0
        out.append((label, n, planes, bands, c, c / n, secs))
        print(f"lsh[{label}] n={n} planes={planes} bands={bands} "
              f"cand={c} per_row={c / n:.1f} secs={secs:.1f}")
    return out


def ivf_adaptive_probe(spark) -> list[tuple]:
    """r6 VERDICT item 1 'done' criterion: dedup_semantic's adaptive-k
    production path (k = n/occupancy) measured END-TO-END with the
    sampled trainer at sizes the gate can't afford — train
    (train_ivf_kmeans_sampled: one bounded TakeOrdered sample,
    driver-side chunked Lloyd) + assign (assign_ivf_trained: Arrow
    argmax kernel) + the within-cluster pair-volume histogram. Linear
    contract: wall time tracks the data ratio (the old trainer's k-1
    sequential corpus passes would track k·n) and pairs-per-row stays
    a bounded multiple of the occupancy target instead of growing
    with n. n = 2^20 at k = 2048 exercises the strided-init branch
    (past the farthest-point flop budget) — the exact configuration
    the r6 verdict called 'on paper only'."""
    from pyspark.sql import functions as F

    from codegraph_spark.queries.similarity import (
        assign_ivf_trained,
        train_ivf_kmeans_sampled,
    )

    def synth(n: int, dim: int = 32):
        return spark.range(n).select(
            F.col("id").alias("vec_id"),
            F.expr(
                f"transform(sequence(0, {dim - 1}), "
                f"d -> (pmod(hash(id * {dim} + d), 1000) - 500) / 1000.0)"
            ).alias("v"),
        )

    occupancy = 512
    out = []
    for n in (1 << 17, 1 << 20):
        k = n // occupancy
        t0 = time.perf_counter()
        emb = synth(n)
        cents = train_ivf_kmeans_sampled(emb, k=k, iters=4)
        sizes = (
            assign_ivf_trained(emb, cents)
            .groupBy("cluster")
            .count()
            .agg(
                F.sum(F.col("count") * (F.col("count") - 1) / 2).alias("pairs"),
                F.max("count").alias("biggest"),
            )
            .collect()[0]
        )
        secs = time.perf_counter() - t0
        pairs = int(sizes["pairs"])
        out.append((n, k, secs, pairs, pairs / n, int(sizes["biggest"])))
        print(f"ivf_adaptive n={n} k={k} secs={secs:.1f} "
              f"pairs/row={pairs / n:.1f} biggest={sizes['biggest']}")
    return out


def _merge_subset(new_rows, subset) -> None:
    """Splice freshly measured probe rows into the existing SCALE.md
    (see the subset-merge comment in main())."""
    import re

    path = "/root/repo/SCALE.md"
    old = open(path).read()
    row_re = re.compile(
        r"^\| (\S+) \| ([\d.]+) \| ([\d.]+) \| ([\d.]+) \| (\d+) → (\d+) \|$",
        re.M,
    )
    merged: dict[str, tuple] = {}
    order: list[str] = []
    for m in row_re.finditer(old):
        merged[m.group(1)] = (
            float(m.group(2)), float(m.group(3)), float(m.group(4)),
            int(m.group(5)), int(m.group(6)),
        )
        order.append(m.group(1))
    for name, t1, t10, ratio, n1, n10 in new_rows:
        if name not in merged:
            order.append(name)
        merged[name] = (t1, t10, ratio, n1, n10)
    rows = [(n, *merged[n]) for n in order]

    head_end = old.index("| query | x1 (s) | x10 (s) | ratio |")
    tail_start = old.index("\n## ", head_end)
    tail = old[old.index("\n## LSH plane-ceiling probe", head_end):] \
        if "\n## LSH plane-ceiling probe" in old else old[tail_start:]

    with open(path, "w") as f:
        f.write(old[:head_end])
        f.write("| query | x1 (s) | x10 (s) | ratio | rows x1 → x10 |\n")
        f.write("|---|---|---|---|---|\n")
        for name, t1, t10, ratio, n1, n10 in rows:
            f.write(
                f"| {name} | {t1:.2f} | {t10:.2f} | {ratio:.1f} "
                f"| {n1} → {n10} |\n"
            )
        flagged = [
            (n, r) for n, _, _, r, _, _ in rows if r > REPLICAS * FLAG_FACTOR
        ]
        sublinear = [n for n, _, _, r, _, _ in rows if r <= REPLICAS]
        between = [
            n for n, _, _, r, _, _ in rows
            if REPLICAS < r <= REPLICAS * FLAG_FACTOR
        ]
        f.write("\nFindings (derived from the measured ratios above):\n\n")
        f.write(
            f"- {len(sublinear)}/{len(rows)} probes scale at or below the\n"
            f"  10x data ratio: {', '.join('`%s`' % n for n in sublinear)}.\n"
        )
        if between:
            f.write(
                f"- Above the data ratio but under the "
                f"{FLAG_FACTOR:.1f}x-of-data\n"
                f"  flag line: {', '.join('`%s`' % n for n in between)}.\n"
            )
            for n in between:
                if n in PROBE_NOTES:
                    f.write(f"  - `{n}`: {PROBE_NOTES[n]}\n")
        if flagged:
            f.write(
                f"- **FLAGGED superlinear (> {REPLICAS * FLAG_FACTOR:.0f}x):** "
                + ", ".join(f"`{n}` ({r:.1f}x)" for n, r in flagged)
                + " — each needs a named remedy or a fix before the "
                "next round.\n"
            )
            for n, _r in flagged:
                if n in PROBE_NOTES:
                    f.write(f"  - `{n}` (named remedy): {PROBE_NOTES[n]}\n")
        else:
            f.write(
                f"- No probe exceeds the {REPLICAS * FLAG_FACTOR:.0f}x flag\n"
                "  line — no hidden quadratic in the probed set this round.\n"
            )
        # UNION with the names the previous note already credited to
        # subset runs — overwriting would silently misattribute older
        # merged rows to the full sweep (an honesty bug, round 11)
        noted = set(subset)
        m = re.search(
            r"- Rows ((?:`[^`]+`[^`\n]*\n?)+?)\s*were measured", old
        )
        if m:
            noted |= set(re.findall(r"`([^`]+)`", m.group(1)))
        noted_in_order = [n for n in order if n in noted]
        f.write(
            f"- Rows {', '.join('`%s`' % n for n in noted_in_order)}\n"
            "  were measured in follow-up subset runs of the same harness\n"
            "  (same cached x10 corpus, same forced-evaluation noop write,\n"
            "  session-warmup + untimed pre-execution per probe) and\n"
            "  merged; all other rows are from this round's full sweep.\n"
        )
        f.write(tail)


def main() -> None:
    from codegraph_spark.session import get_spark

    spark = get_spark(app_name="scale-probe", cpus=os.environ.get("SPARK_GRAFT_CPUS", "16"))
    build_scaled(spark)

    import __spark_entry__ as e

    qs = e.queries()

    # fixture prewarm: the stored-media corpus is a build-once cached
    # artifact (the OOO-split-cache pattern) — build it for both sides
    # OUTSIDE the measured window so mm_stored_media_meta's ratio
    # measures the scan+decode path, not a one-time file-write fixture
    from codegraph_spark.queries.multimodal import _stored_media_dir
    from codegraph_spark.queries.web import _warc_fixture_dir

    for d in (BASE, SCALE_DIR):
        _stored_media_dir(spark, d)
        _warc_fixture_dir(spark, d)
        # session warmup OUTSIDE every measured window: the first
        # action of a fresh session pays JVM/codegen/FS-cache warmup
        # (observed: a 1.4 s query reading 36.8 s as the first probe of
        # a subset run, poisoning its ratio); a throwaway scan of each
        # corpus absorbs it. Runs no code under test.
        spark.read.parquet(os.path.join(d, "documents.parquet")).count()

    def measure(fn) -> dict:
        # FORCE full evaluation with a noop write: a bare .count() lets
        # Catalyst prune every projected column, so a projection-only
        # query (text_html_extract, text_quality_score, ...) would time
        # a row count, not its regex/hash work — a vacuous ratio
        # (caught in r10; aggregation- and kernel-ended probes are
        # unaffected since their plans can't prune the work).
        # fn() must sit INSIDE the timed region: streaming queries
        # drain eagerly during construction (run_available_now), so
        # timing only the write would miss their real work entirely
        # row count via Observation: CollectMetrics rides the SAME noop
        # write pass, so the plan executes exactly once per side — a
        # trailing df.count() used to re-run the whole plan (and
        # re-drain streaming twins) purely to report a row count,
        # roughly doubling wall time for heavy probes.
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        times = {}
        for label, d in (("x1", BASE), ("x10", SCALE_DIR)):
            t0 = time.perf_counter()
            df = fn(spark, d)
            obs = Observation()
            df.observe(obs, F.count(F.lit(1)).alias("n")).write.format(
                "noop"
            ).mode("overwrite").save()
            secs = time.perf_counter() - t0
            times[label] = (secs, obs.get["n"])
        return times

    subset = sys.argv[1:]
    if subset:
        # plan-compile warmup, subset runs only: in a fresh session the
        # FIRST execution of a query bills its one-time whole-stage
        # codegen compile to the x1 window (measured: dedup_semantic x1
        # 19.6 s cold vs 9.6 s warm), DEFLATING the ratio — the
        # flattering direction. The full sweep amortizes compile across
        # ~90 probes; a subset run pre-executes each probe once at x1,
        # untimed, so both measured sides run warm.
        for name in subset:
            qs[name](spark, BASE).write.format("noop").mode(
                "overwrite"
            ).save()
    rows = []
    for name in subset or PROBES:
        fn = qs[name]
        times = measure(fn)
        ratio = times["x10"][0] / max(times["x1"][0], 1e-9)
        if ratio > REPLICAS:
            # any above-data-ratio reading is an accusation (flag-line
            # = hidden quadratic; between-line = needs a named cause) —
            # re-measure before making it: this shared host shows
            # transient >2x interference (observed: an identical
            # jaccard x10 run at 112s and 21s minutes apart; r11:
            # text_html_extract read 18.1x in the sweep vs 7.6x solo),
            # and best-of-2 per side keeps a real superlinearity
            # measured while clearing noise readings
            retry = measure(fn)
            times = {
                k: min(times[k], retry[k], key=lambda t: t[0])
                for k in times
            }
            ratio = times["x10"][0] / max(times["x1"][0], 1e-9)
            print(f"{name}: above data ratio on first pass, re-measured")
        rows.append((name, times["x1"][0], times["x10"][0], ratio,
                     times["x1"][1], times["x10"][1]))
        print(f"{name}: x1={times['x1'][0]:.2f}s x10={times['x10'][0]:.2f}s "
              f"ratio={ratio:.1f} rows {times['x1'][1]}->{times['x10'][1]}")

    if subset:
        # SUBSET MERGE: re-measure only the named probes (same harness,
        # same cached x10 corpus) and splice them into the existing
        # SCALE.md — the table keeps its other rows, the findings
        # paragraph is REGENERATED from the merged ratio set (a static
        # findings block would misreport the new rows), and everything
        # from the first probe-independent section on is preserved
        # verbatim. Used for queries registered after a full sweep
        # started; the merge note in the findings names them.
        _merge_subset(rows, subset)
        return

    with open("/root/repo/SCALE.md", "w") as f:
        f.write(
            "# SCALE — empirical 10x scaling probe\n\n"
            f"Data: sf0.1 vs a distribution-preserving {REPLICAS}x replica\n"
            "(tools/scale_probe.py: perturbed per replica — marker-token\n"
            "interleave for text, norm-preserving sign flips for vectors,\n"
            "key offsets for relational ids — so near-dup/bucket density\n"
            "per replica matches the original instead of cloning).\n"
            "local[16], warm session, single run each; a probe whose first\npass crosses the flag line is re-measured and scored best-of-2\nper side (this shared host shows transient >2x interference).\n"
            "Each probe is forced through a `noop`-format write so the\n"
            "FULL plan executes — a bare count() would let Catalyst prune\n"
            "projection-only work (r10 harness fix; aggregation- and\n"
            "kernel-ended probes are unaffected).\n\n"
            "A linear operator shows time ratio ≈ 10 (often less: fixed\n"
            "per-query overheads amortize); a hidden all-pairs quadratic\n"
            "would show ≈ 100.\n\n"
            "| query | x1 (s) | x10 (s) | ratio | rows x1 → x10 |\n"
            "|---|---|---|---|---|\n"
        )
        for name, t1, t10, ratio, n1, n10 in rows:
            f.write(f"| {name} | {t1:.2f} | {t10:.2f} | {ratio:.1f} | {n1} → {n10} |\n")
        # findings DERIVED from the measured ratios (a static narrative
        # would keep reporting "linear" through a regression)
        flagged = [(n, r) for n, _, _, r, _, _ in rows if r > REPLICAS * FLAG_FACTOR]
        sublinear = [n for n, _, _, r, _, _ in rows if r <= REPLICAS]
        between = [
            n for n, _, _, r, _, _ in rows
            if REPLICAS < r <= REPLICAS * FLAG_FACTOR
        ]
        f.write("\nFindings (derived from the measured ratios above):\n\n")
        f.write(
            f"- {len(sublinear)}/{len(rows)} probes scale at or below the\n"
            f"  10x data ratio: {', '.join('`%s`' % n for n in sublinear)}.\n"
        )
        if between:
            f.write(
                f"- Above the data ratio but under the {FLAG_FACTOR:.1f}x-of-data\n"
                f"  flag line: {', '.join('`%s`' % n for n in between)}.\n"
            )
            for n in between:
                if n in PROBE_NOTES:
                    f.write(f"  - `{n}`: {PROBE_NOTES[n]}\n")
        if flagged:
            f.write(
                f"- **FLAGGED superlinear (> {REPLICAS * FLAG_FACTOR:.0f}x):** "
                + ", ".join(f"`{n}` ({r:.1f}x)" for n, r in flagged)
                + " — each needs a named remedy or a fix before the "
                "next round.\n"
            )
            for n, _r in flagged:
                if n in PROBE_NOTES:
                    f.write(f"  - `{n}` (named remedy): {PROBE_NOTES[n]}\n")
        else:
            f.write(
                f"- No probe exceeds the {REPLICAS * FLAG_FACTOR:.0f}x flag\n"
                "  line — no hidden quadratic in the probed set this round.\n"
            )
        lsh_rows = lsh_ceiling_probe(spark)
        f.write(
            "\n## LSH plane-ceiling probe (r5 VERDICT item 1)\n\n"
            "Candidate volume of the sign-LSH families on a synthetic\n"
            "hash-uniform corpus (dim 64 >> planes, so buckets spread\n"
            "near-uniformly), from the exact bucket histogram.\n"
            "n = 2^23 sits past the removed 16-plane ceiling (18\n"
            "planes/band). Fair unit is candidates per row PER BAND:\n"
            "the adaptive family pays a constant 4-band multiplier for\n"
            "recall; the clamp's cost grows with n (per-band per-row\n"
            "~ n/2^17 beyond its bind point, i.e. 2x per doubling,\n"
            "~128x by 10^9 vectors) while the adaptive family holds\n"
            "~target-occupancy/2 at any n.\n\n"
            "| family | n | planes | bands | candidates | per row | per row/band | s |\n"
            "|---|---|---|---|---|---|---|---|\n"
        )
        for label, n, planes, bands, c, per_row, secs in lsh_rows:
            f.write(
                f"| {label} | {n} | {planes} | {bands} | {c} "
                f"| {per_row:.1f} | {per_row / bands:.1f} | {secs:.1f} |\n"
            )
        adaptive = [r for r in lsh_rows if r[0] == "adaptive"]
        clamped = [r for r in lsh_rows if r[0] == "r5-clamped"]
        if len(adaptive) == 2 and clamped:
            growth = (adaptive[1][5] / adaptive[1][3]) / max(
                adaptive[0][5] / adaptive[0][3], 1e-9
            )
            win = (clamped[0][5] / clamped[0][3]) / max(
                adaptive[1][5] / adaptive[1][3], 1e-9
            )
            f.write(
                f"\nPer-band per-row growth across 8x data: {growth:.2f}x "
                f"(linear = flat). At n = 2^23 the clamped family already "
                f"emits {win:.1f}x the adaptive family's per-band "
                f"candidates per row, and doubles it with every further "
                f"doubling of n; the adaptive family stays flat.\n"
            )
        ivf_rows = ivf_adaptive_probe(spark)
        f.write(
            "\n## Adaptive-k IVF training probe (r6 VERDICT item 1)\n\n"
            "dedup_semantic's production configuration (k = n/512)\n"
            "end-to-end with the SAMPLED trainer: one bounded sample\n"
            "job + driver-side chunked Lloyd + Arrow argmax assignment\n"
            "+ the within-cluster pair-volume histogram. The r6 trainer\n"
            "(k-1 sequential corpus passes) was unrunnable here —\n"
            "k = 2048 would have launched 2048 Spark jobs; the sampled\n"
            "trainer's job count is k-independent\n"
            "(tests/test_round7_ops.py pins it).\n\n"
            "| n | k | wall (s) | within-cluster pairs | pairs/row | biggest cluster |\n"
            "|---|---|---|---|---|---|\n"
        )
        for n, k, secs, pairs, per_row, biggest in ivf_rows:
            f.write(f"| {n} | {k} | {secs:.1f} | {pairs} | {per_row:.1f} | {biggest} |\n")
        if len(ivf_rows) == 2:
            data_ratio = ivf_rows[1][0] / ivf_rows[0][0]
            t_ratio = ivf_rows[1][2] / max(ivf_rows[0][2], 1e-9)
            pr_ratio = ivf_rows[1][4] / max(ivf_rows[0][4], 1e-9)
            f.write(
                f"\nAcross {data_ratio:.0f}x data: wall-time ratio "
                f"{t_ratio:.1f}x ({'inside' if t_ratio <= 2.5 * data_ratio else 'OVER'} "
                f"the 2.5x-of-data line), pairs-per-row ratio {pr_ratio:.2f}x "
                "(linear = flat) — the adaptive-k contract holds with a "
                "trainer that actually runs at production k.\n"
            )
    print("wrote /root/repo/SCALE.md")


if __name__ == "__main__":
    main()
