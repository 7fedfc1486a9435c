"""Targeted pins for the round-6 third-wave operators (transition
matrix — batch and streaming, source audit, quality-aware keeper,
personalized PageRank, hard-negative mining, pHash, CUSUM, MAD
outliers, CCNet buckets, SCC) — semantic properties the registry-wide
oracle parity can't express (parity re-proves arithmetic; these pin
MEANING: probabilities normalize, PPR localizes to the anchor's
reach, the keeper really is the best-quality member, the prefix-min
form IS the CUSUM recurrence, the BSP coloring agrees with Kosaraju
on graphs that need multiple peels)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import TEST_SF_DIR


# --- personalized pagerank: operator-level semantics -------------------------
def reference_ppr(node_ids, edge_list, seeds, iters=10, damping=0.85):
    out = {}
    for s, d in edge_list:
        out.setdefault(s, []).append(d)
    ns = len(seeds)
    ranks = {v: (1.0 / ns if v in seeds else 0.0) for v in node_ids}
    for _ in range(iters):
        nxt = {v: ((1.0 - damping) / ns if v in seeds else 0.0) for v in node_ids}
        dangling = sum(r for v, r in ranks.items() if v not in out)
        for v, r in ranks.items():
            for d in out.get(v, []):
                nxt[d] += damping * r / len(out[v])
        for v in seeds:
            nxt[v] += damping * dangling / ns
        ranks = nxt
    return ranks


def test_ppr_matches_reference(spark):
    from codegraph_spark.operators.pagerank import personalized_pagerank

    node_ids = ["a", "b", "c", "d", "e"]
    edge_list = [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")]  # e isolated
    seeds = {"a"}
    nodes = spark.createDataFrame([(v,) for v in node_ids], "id string")
    edges = spark.createDataFrame(edge_list, "src string, dst string")
    seed_df = spark.createDataFrame([(v,) for v in seeds], "id string")
    got = {
        r["id"]: r["rank"]
        for r in personalized_pagerank(nodes, edges, seed_df).collect()
    }
    want = reference_ppr(node_ids, edge_list, seeds)
    assert set(got) == set(want)
    for v in node_ids:
        assert got[v] == pytest.approx(want[v], abs=1e-9)
    # mass conservation: walk + restart always lands somewhere
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)
    # personalization: the isolated node is unreachable from the seed
    assert got["e"] == 0.0


def test_ppr_seeds_outside_nodes_ignored(spark):
    from codegraph_spark.operators.pagerank import personalized_pagerank

    nodes = spark.createDataFrame([("a",), ("b",)], "id string")
    edges = spark.createDataFrame([("a", "b")], "src string, dst string")
    seed_df = spark.createDataFrame([("a",), ("ghost",)], "id string")
    got = {r["id"]: r["rank"] for r in personalized_pagerank(nodes, edges, seed_df).collect()}
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)


def test_ppr_empty_seed_intersection(spark):
    from codegraph_spark.operators.pagerank import personalized_pagerank

    nodes = spark.createDataFrame([("a",)], "id string")
    edges = spark.createDataFrame([("a", "a")], "src string, dst string")
    seed_df = spark.createDataFrame([("ghost",)], "id string")
    assert personalized_pagerank(nodes, edges, seed_df).count() == 0


def test_graph_ppr_subset_of_impact_reach(spark):
    """Every PPR-ranked node is the seed itself or BFS-reachable from
    the seeds — PPR localizes to the anchor's component."""
    from codegraph_spark.queries.graph import graph_ppr
    from codegraph_spark.queries.traversals import j4_impact_bfs, _j4_seeds, _graph

    ranked = {r["id"] for r in graph_ppr(spark, TEST_SF_DIR).collect()}
    reach = {r["id"] for r in j4_impact_bfs(spark, TEST_SF_DIR).collect()}
    seeds = {r["id"] for r in _j4_seeds(_graph(spark, TEST_SF_DIR)).collect()}
    assert ranked, "PPR returned no rows on the fixture"
    assert ranked <= (reach | seeds)


# --- transition matrix -------------------------------------------------------
def test_transition_matrix_rows_normalize(spark):
    from codegraph_spark.queries.events import ev_transition_matrix

    rows = ev_transition_matrix(spark, TEST_SF_DIR).collect()
    assert rows
    by_from: dict[str, list] = {}
    for r in rows:
        by_from.setdefault(r["from_type"], []).append(r)
    for out in by_from.values():
        # integer floor per-mille: row sums land in (1000 - k, 1000]
        total = sum(r["p_pm"] for r in out)
        assert 1000 - len(out) < total <= 1000
        for r in out:
            assert r["n_trans"] > 0 and 0 <= r["p_pm"] <= 1000


def test_transition_counts_match_manual(spark):
    """Pin lead() semantics against a hand computation on one user."""
    from codegraph_spark.queries.events import ev_transition_matrix
    from codegraph_spark.sources.tables import load_table

    ev = load_table(spark, TEST_SF_DIR, "events")
    one_user = (
        ev.groupBy("user_id").count().orderBy(F.desc("count"), "user_id").first()["user_id"]
    )
    seq = [
        r["event_type"]
        for r in ev.filter(F.col("user_id") == one_user)
        .orderBy("ts", "event_id")
        .collect()
    ]
    manual: dict[tuple, int] = {}
    for a, b in zip(seq, seq[1:]):
        manual[(a, b)] = manual.get((a, b), 0) + 1
    got = {
        (r["from_type"], r["to_type"]): r["n_trans"]
        for r in ev_transition_matrix(spark, TEST_SF_DIR).collect()
    }
    for pair, n in manual.items():
        assert got.get(pair, 0) >= n  # the corpus-wide count includes this user's


# --- source audit ------------------------------------------------------------
def test_source_audit_totals(spark):
    from codegraph_spark.queries.text import corpus_source_audit
    from codegraph_spark.sources.tables import load_table

    docs = load_table(spark, TEST_SF_DIR, "documents")
    rows = corpus_source_audit(spark, TEST_SF_DIR).collect()
    assert sum(r["n_docs"] for r in rows) == docs.count()
    for r in rows:
        assert 0 <= r["dup_pm"] <= 1000
        assert r["n_langs"] >= 1
        assert r["mean_chars"] > 0


# --- quality-aware keeper ----------------------------------------------------
def test_keep_best_picks_max_quality_member(spark):
    from codegraph_spark.queries.dedup import corpus_dedup_keep_best, _cluster_labels
    from codegraph_spark.queries.text import quality_cents
    from codegraph_spark.sources.tables import load_table

    docs = load_table(spark, TEST_SF_DIR, "documents")
    members = (
        _cluster_labels(spark, TEST_SF_DIR)
        .join(docs.select("doc_id", quality_cents().alias("qc")), "doc_id")
        .collect()
    )
    by_cluster: dict = {}
    for m in members:
        by_cluster.setdefault(m["cluster_id"], []).append((m["qc"], m["doc_id"]))
    out = corpus_dedup_keep_best(spark, TEST_SF_DIR).collect()
    assert out, "fixture has no multi-member clusters"
    for r in out:
        mem = by_cluster[r["cluster_id"]]
        assert r["n_members"] == len(mem) and len(mem) > 1
        best_qc = max(q for q, _ in mem)
        assert r["best_qc"] == best_qc
        assert r["keep_doc_id"] == min(d for q, d in mem if q == best_qc)


# --- CUSUM drift -------------------------------------------------------------
def test_cusum_prefix_identity_matches_recurrence(spark):
    """The windowed prefix form S_t = P_t − min(0, min P_j) must equal
    the textbook recurrence S_t = max(0, S_{t−1} + step_t) — checked by
    recomputing the recurrence in Python from the same hourly rollup."""
    from codegraph_spark.queries.events import ev_cusum_drift
    from codegraph_spark.sources.tables import load_table

    ev = load_table(spark, TEST_SF_DIR, "events")
    hourly = (
        ev.groupBy("event_type", F.date_trunc("hour", F.col("ts")).alias("hour"))
        .agg(F.count(F.lit(1)).alias("x"))
        .orderBy("event_type", "hour")
        .collect()
    )
    series: dict[str, list[int]] = {}
    for r in hourly:
        series.setdefault(r["event_type"], []).append(r["x"])
    got = {r["event_type"]: r for r in ev_cusum_drift(spark, TEST_SF_DIR).collect()}
    assert set(got) == set(series)
    for et, xs in series.items():
        mu = sum(xs) * 1000 // len(xs)
        slack = mu // 20
        s, smax = 0, 0
        for x in xs:
            s = max(0, s + (x * 1000 - mu - slack))
            smax = max(smax, s)
        assert got[et]["max_cusum_milli"] == smax
        assert got[et]["mu_milli"] == mu
        assert got[et]["n_hours"] == len(xs)


# --- SCC operator ------------------------------------------------------------
def kosaraju_scc(edge_list):
    """Pure-Python iterative Kosaraju — the independent reference for
    the BSP coloring operator. Returns the set of frozensets of
    nontrivial SCC members."""
    from collections import defaultdict

    g = defaultdict(list)
    gr = defaultdict(list)
    nodes = set()
    for s, d in edge_list:
        g[s].append(d)
        gr[d].append(s)
        nodes.add(s)
        nodes.add(d)
    visited = set()
    order = []
    for v in sorted(nodes):
        if v in visited:
            continue
        visited.add(v)
        stack = [(v, iter(g[v]))]
        while stack:
            node, it = stack[-1]
            advanced = False
            for w in it:
                if w not in visited:
                    visited.add(w)
                    stack.append((w, iter(g[w])))
                    advanced = True
                    break
            if not advanced:
                order.append(node)
                stack.pop()
    seen = set()
    out = []
    for v in reversed(order):
        if v in seen:
            continue
        seen.add(v)
        cur = [v]
        members = []
        while cur:
            x = cur.pop()
            members.append(x)
            for w in gr[x]:
                if w not in seen:
                    seen.add(w)
                    cur.append(w)
        if len(members) > 1:
            out.append(frozenset(members))
    return set(out)


def _spark_scc(spark, edge_list):
    from codegraph_spark.operators.scc import scc_assignments

    edges = spark.createDataFrame(edge_list, "src string, dst string")
    nodes = (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    got: dict = {}
    for r in scc_assignments(nodes, edges).collect():
        got.setdefault(r["scc_id"], set()).add(r["id"])
    return {frozenset(v) for v in got.values() if len(v) > 1}


def test_scc_peel_required(spark):
    """SCC {d,e} sees fwd=a ≠ bwd in round 1 (it reaches the smaller
    component) and must wait for the peel — the case a single coloring
    round gets wrong."""
    edges = [
        ("a", "b"), ("b", "c"), ("c", "a"),   # SCC {a,b,c}
        ("d", "e"), ("e", "d"), ("d", "a"),   # SCC {d,e}, reaches the first
        ("f", "g"), ("g", "a"),               # acyclic tail (trimmed)
    ]
    assert _spark_scc(spark, edges) == {
        frozenset({"a", "b", "c"}),
        frozenset({"d", "e"}),
    }


def test_scc_chain_into_clique_and_self_loop(spark):
    edges = [
        ("p", "q"), ("q", "r"),               # pure chain — no SCC
        ("x", "y"), ("y", "z"), ("z", "x"), ("r", "x"),
        ("s", "s"),                            # self-loop: trivial, excluded
    ]
    assert _spark_scc(spark, edges) == {frozenset({"x", "y", "z"})}


def test_scc_matches_kosaraju_on_seeded_random_graph(spark):
    import random

    rng = random.Random(20260815)
    n = 30
    edge_list = sorted(
        {
            (f"n{rng.randrange(n):02d}", f"n{rng.randrange(n):02d}")
            for _ in range(70)
        }
    )
    edge_list = [(s, d) for s, d in edge_list if s != d]
    assert _spark_scc(spark, edge_list) == kosaraju_scc(edge_list)


def test_scc_single_task_path_equals_bsp_path(spark):
    """r12 optimization pin: the bounded-graph single-task trim+Tarjan
    path must return the exact row set (including trim-surviving
    singletons and int ids) of the BSP peel, which local_max_nodes=0
    forces."""
    import random

    from codegraph_spark.operators.scc import scc_assignments

    rng = random.Random(20260817)
    for n, m in [(12, 20), (30, 70), (25, 200)]:
        edge_list = sorted(
            {(rng.randrange(n), rng.randrange(n)) for _ in range(m)}
        )
        edges = spark.createDataFrame(edge_list, "src long, dst long")
        nodes = (
            edges.select(F.col("src").alias("id"))
            .unionByName(edges.select(F.col("dst").alias("id")))
            .distinct()
        )
        fast = {tuple(r) for r in scc_assignments(nodes, edges).collect()}
        bsp = {
            tuple(r)
            for r in scc_assignments(nodes, edges, local_max_nodes=0).collect()
        }
        assert fast == bsp, f"n={n} m={m}: {fast ^ bsp}"


# --- bloom decontamination ---------------------------------------------------
def test_bloom_contamination_no_false_negatives(spark):
    """Bloom filters overapproximate: every exact hit is a bloom hit
    (n_bloom_hits ≥ n_exact_hits ≥ 0), and every exactly-contaminated
    doc appears in the flagged output."""
    from codegraph_spark.queries.dedup import text_contamination_bloom

    rows = text_contamination_bloom(spark, TEST_SF_DIR).collect()
    assert rows
    for r in rows:
        assert 0 <= r["n_exact_hits"] <= r["n_bloom_hits"] <= r["n_grams"]
        assert r["n_false_pos"] == r["n_bloom_hits"] - r["n_exact_hits"]


# --- CCNet buckets -----------------------------------------------------------
def test_ccnet_buckets_are_ordered_terciles(spark):
    from codegraph_spark.queries.text import corpus_ccnet_buckets

    rows = corpus_ccnet_buckets(spark, TEST_SF_DIR).collect()
    assert rows
    by_lang: dict[str, list] = {}
    for r in rows:
        by_lang.setdefault(r["lang"], []).append(r)
    for lang, out in by_lang.items():
        n = len(out)
        sizes = {"head": 0, "middle": 0, "tail": 0}
        for r in out:
            sizes[r["bucket"]] += 1
        assert sizes["head"] == n // 3
        assert sizes["head"] + sizes["middle"] == 2 * n // 3
        # every head score >= every tail score
        if sizes["head"] and sizes["tail"]:
            min_head = min(r["avg_ppm"] for r in out if r["bucket"] == "head")
            max_tail = max(r["avg_ppm"] for r in out if r["bucket"] == "tail")
            assert min_head >= max_tail


# --- MAD outliers ------------------------------------------------------------
def test_mad_outliers_match_manual(spark):
    from codegraph_spark.queries.events import ev_outliers_mad
    from codegraph_spark.sources.tables import load_table

    import math

    ev = load_table(spark, TEST_SF_DIR, "events")
    vals: dict[str, list[int]] = {}
    for r in ev.select("event_type", "value").collect():
        vals.setdefault(r["event_type"], []).append(int(math.floor(r["value"] * 100)))
    got = {r["event_type"]: r for r in ev_outliers_mad(spark, TEST_SF_DIR).collect()}
    assert set(got) == set(vals)
    for et, xs in vals.items():
        med = sorted(xs)[(len(xs) + 1) // 2 - 1]
        devs = [abs(x - med) for x in xs]
        mad = sorted(devs)[(len(devs) + 1) // 2 - 1]
        assert got[et]["med_cents"] == med
        assert got[et]["mad_cents"] == mad
        assert got[et]["n_outliers"] == sum(1 for d in devs if d > 3 * mad)


# --- pHash -------------------------------------------------------------------
def reference_phash(text: str, n: int = 32) -> int:
    """Independent loop-based pHash over the same render + fixed-point
    basis — no numpy, no matmul, so a kernel indexing bug can't hide."""
    from codegraph_spark.operators.multimodal import phash_basis

    body = (text * (n * n // len(text) + 2))[: n * n]
    px = [[ord(body[y * n + x]) for x in range(n)] for y in range(n)]
    bas = phash_basis(n)
    coef = [
        [
            sum(px[y][x] * bas[u][x] * bas[v][y] for x in range(n) for y in range(n))
            for v in range(8)
        ]
        for u in range(8)
    ]
    ac = [coef[u][v] for u in range(8) for v in range(8)][1:]
    med = sorted(ac)[31]
    return sum(1 << pos for pos, c in enumerate(ac) if c > med)


def test_phash_matches_pure_python(spark):
    from codegraph_spark.operators.multimodal import (
        encode_documents_as_images,
        phash_codes,
    )
    from codegraph_spark.sources.tables import load_table

    docs = load_table(spark, TEST_SF_DIR, "documents").filter(F.col("doc_id") < 3)
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    got = {
        r["doc_id"]: r["phash"]
        for r in phash_codes(
            encode_documents_as_images(docs, fixed_dims=(32, 32))
        ).collect()
    }
    assert got
    for doc_id, text in texts.items():
        assert got[doc_id] == reference_phash(text)


def test_phash_popcount_bounded(spark):
    """At most 31 of 63 AC coefficients exceed the lower median."""
    from codegraph_spark.queries.multimodal import mm_phash

    rows = mm_phash(spark, TEST_SF_DIR).collect()
    assert rows
    for r in rows:
        assert 0 <= bin(r["phash"]).count("1") <= 31


# --- streaming transition matrix ---------------------------------------------
def test_streaming_transitions_carry_state_across_batches(spark, tmp_path):
    """The first event of batch 2 must pair with the LAST event of
    batch 1 (B→C below only exists across the boundary)."""
    import datetime as dt
    import os

    from codegraph_spark.streaming.incremental import (
        run_available_now,
        streaming_transitions,
    )

    src = str(tmp_path / "trans")
    os.makedirs(src)
    schema = "event_id long, user_id long, event_type string, ts timestamp"
    t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)
    spark.createDataFrame(
        [(1, 1, "A", t(1)), (2, 1, "B", t(2))], schema
    ).coalesce(1).write.parquet(os.path.join(src, "b1.parquet"))
    spark.createDataFrame(
        [(3, 1, "C", t(10)), (4, 1, "A", t(11)),
         (5, 2, "B", t(5)), (6, 2, "B", t(6))],
        schema,
    ).coalesce(1).write.parquet(os.path.join(src, "b2.parquet"))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/*.parquet")
    )
    out = run_available_now(streaming_transitions(stream), output_mode="update")
    got: dict[tuple, int] = {}
    for r in out.collect():
        k = (r["from_type"], r["to_type"])
        got[k] = got.get(k, 0) + r["cnt"]
    assert got == {("A", "B"): 1, ("B", "C"): 1, ("C", "A"): 1, ("B", "B"): 1}


# --- streaming minhash intake dedup -------------------------------------------
def test_band_key_null_for_short_docs(spark):
    """A doc with < 3 words has zero shingles ⇒ NULL band keys (the
    NULL-propagating concat), so intake banding EXCLUDES it — two
    unrelated short docs must not collide under md5('') (the review
    finding: concat_ws skipped the NULL components silently)."""
    from codegraph_spark.queries.dedup import (
        band_structs_from_mins,
        minhash_mins_column,
    )

    df = spark.createDataFrame(
        [(1, "hi"), (2, "two words"), (3, "three whole words here"),
         (4, ""), (5, "exactly three words")],
        "doc_id long, text string",
    ).select("doc_id", band_structs_from_mins(minhash_mins_column()).alias("bks"))
    rows = {r["doc_id"]: r["bks"] for r in df.collect()}
    assert all(bk["key"] is None for bk in rows[1])
    assert all(bk["key"] is None for bk in rows[2])
    assert all(bk["key"] is None for bk in rows[4])
    assert all(bk["key"] is not None for bk in rows[3])
    assert all(bk["key"] is not None for bk in rows[5])  # one shingle
def test_streaming_bucket_prior_carries_index_across_batches(spark, tmp_path):
    """A batch-2 document identical to a batch-1 document must hit all
    4 band buckets the batch-1 doc opened (the carried LSH index)."""
    import os

    from codegraph_spark.queries.streaming import _banded_docs
    from codegraph_spark.streaming.incremental import streaming_bucket_prior

    src = str(tmp_path / "docs")
    os.makedirs(src)
    schema = "doc_id long, text string"
    same = "the quick brown fox jumps over the lazy dog again and again"
    spark.createDataFrame(
        [(1, same), (2, "a completely different document about spark shuffles"),
         (5, "hi there")],
        schema,
    ).coalesce(1).write.parquet(os.path.join(src, "b1.parquet"))
    spark.createDataFrame(
        [(3, same), (4, "yet another unrelated text with enough words to shingle"),
         (6, "exactly three words")],
        schema,
    ).coalesce(1).write.parquet(os.path.join(src, "b2.parquet"))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/*.parquet")
    )
    banded = _banded_docs(stream, "doc_id").filter(F.col("key").isNotNull())
    from codegraph_spark.streaming.incremental import run_available_now

    rows = run_available_now(
        streaming_bucket_prior(banded), output_mode="update"
    ).collect()
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r["prior"])
    assert sorted(by_doc[3]) == [1, 1, 1, 1]  # all 4 bands hit doc 1's buckets
    assert all(p == -1 for p in by_doc[1])
    assert all(p == -1 for p in by_doc[2])
    assert all(p == -1 for p in by_doc[4])
    assert 5 not in by_doc  # zero shingles: no band, no bucket
    assert len(by_doc[6]) == 4 and all(p == -1 for p in by_doc[6])


# --- hard negatives ----------------------------------------------------------
def test_hard_negatives_labels_and_margin(spark):
    from codegraph_spark.queries.similarity import sim_hard_negatives, _emb

    labels = {
        r["vec_id"]: r["label"] for r in _emb(spark, TEST_SF_DIR).collect()
    }
    rows = sim_hard_negatives(spark, TEST_SF_DIR).collect()
    assert rows
    for r in rows:
        assert labels[r["neighbor_id"]] == r["neg_label"]
        assert r["neg_label"] != labels[r["q_id"]]
        assert r["rn"] in (1, 2, 3)
        # margin is the fixed-point gap between pos and neg cosines
        assert r["margin_e4"] <= int(round((r["pos_cos"] - r["neg_cos"]) * 10000)) + 1
