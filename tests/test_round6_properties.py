"""Property tests for the round-6 operator kernels.

1. personalized_pagerank agrees with an independent pure-Python
   walk-with-restart on arbitrary small digraphs + seed sets (dangling
   nodes, unreachable components, seeds outside the node set).
2. The ROW-LOCAL MinHash banding (streaming._banded_docs — what
   the streaming intake dedup applies statelessly) produces EXACTLY
   the band keys of the batch pipeline (shingle explode → group-min
   signature → concat banding) on arbitrary texts: the streaming/batch
   index equivalence stream_dedup_minhash's oracle parity rests on.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from tests.test_round6_ops import reference_ppr

SETTINGS = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

_nodes = st.integers(min_value=0, max_value=7)
_edges = st.lists(st.tuples(_nodes, _nodes), min_size=1, max_size=16)
_seeds = st.lists(_nodes, min_size=1, max_size=3)


@given(edges=_edges, seeds=_seeds)
@SETTINGS
def test_ppr_property_matches_reference(spark, edges, seeds):
    from codegraph_spark.operators.pagerank import personalized_pagerank

    edge_list = sorted({(f"n{a}", f"n{b}") for a, b in edges})
    node_ids = sorted({v for e in edge_list for v in e})
    seed_set = {f"n{s}" for s in seeds} & set(node_ids)
    if not seed_set:
        return
    nodes = spark.createDataFrame([(v,) for v in node_ids], "id string")
    edf = spark.createDataFrame(edge_list, "src string, dst string")
    sdf = spark.createDataFrame([(v,) for v in sorted(seed_set)], "id string")
    got = {
        r["id"]: r["rank"]
        for r in personalized_pagerank(nodes, edf, sdf, iters=6).collect()
    }
    want = reference_ppr(node_ids, edge_list, seed_set, iters=6)
    assert set(got) == set(want)
    for v in node_ids:
        assert got[v] == pytest.approx(want[v], abs=1e-9)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)


_steps = st.lists(st.integers(min_value=-500, max_value=500), min_size=1, max_size=40)


@given(steps=_steps)
@settings(max_examples=200, deadline=None)
def test_cusum_prefix_min_identity(steps):
    """Pure math behind ev_cusum_drift: for ANY step sequence,
    S_t = max(0, S_{t−1} + step_t)  ==  P_t − min(0, min_{j≤t} P_j)
    with P_t the plain prefix sum — the identity that lets two window
    functions replace an un-windowable recurrence."""
    s = 0
    p = 0
    minp = 0
    for step in steps:
        s = max(0, s + step)
        p += step
        minp = min(minp, p)
        assert s == p - min(0, minp)


_words = st.lists(
    st.sampled_from(["alpha", "beta", "gamma", "delta", "echo", "fox"]),
    min_size=0,
    max_size=12,
)
_texts = st.lists(_words, min_size=1, max_size=6)


@given(texts=_texts)
@SETTINGS
def test_row_local_banding_equals_batch_banding(spark, texts):
    import hashlib

    from codegraph_spark.queries.dedup import _AB, _BANDS, _banded, _shingles_of, _sig_of
    from codegraph_spark.queries.streaming import _banded_docs

    # plus a zero-shingle doc and an exactly-3-word (one-shingle) doc
    texts = [*texts, [], ["alpha", "beta", "gamma"]]
    docs = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in enumerate(texts)],
        "doc_id long, text string",
    )
    # row-local path (what the streaming intake applies)
    local = {
        (r["doc_id"], r["band"]): r["key"]
        for r in _banded_docs(docs, "doc_id").collect()
    }
    # batch path: explode → grouped signature → the same band key
    sig = _sig_of(_shingles_of(docs))
    batch = {
        (r["doc_id"], r["band"]): r["key"]
        for r in _banded(sig, "doc_id").collect()
    }
    # Python md5 reference for the band key of the batch signature
    rows_per_band = len(_AB) // _BANDS
    ref = {}
    for r in sig.collect():
        for bidx in range(_BANDS):
            members = r["mins"][bidx * rows_per_band:(bidx + 1) * rows_per_band]
            ref[(r["doc_id"], bidx)] = hashlib.md5(
                ":".join(str(m) for m in members).encode()
            ).hexdigest()
    assert batch == ref
    # docs with ≥1 shingle: keys agree exactly; docs with zero
    # shingles: row-local keys are NULL (batch has no signature row)
    assert {k: v for k, v in local.items() if v is not None} == ref
    assert len(local) == len(texts) * _BANDS
    assert (len(texts) - 1, 0) in ref and (len(texts) - 2, 0) not in ref
