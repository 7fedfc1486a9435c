"""The superstep loop (``operators/supersteps.py``) and the operators
built on it: a loop with a convergence witness reaches its checked
fixpoint or raises, never returns a truncated answer; the serving
caches of the recast graph and the trained inverted file honour
``serving.invalidate``; and the converted operators launch no more
Spark jobs per call than their hand-rolled loops did."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import TEST_SF_DIR
from tests.test_bfs_supersteps import _jobs
from tests.test_graph_analytics import deep_peel_dir  # noqa: F401  (fixture)


def _chain(spark, n, back=False):
    """Edges of an ``n``-node chain ``0 → 1 → … → n-1`` (reversed
    with ``back``), as bigint ids."""
    pairs = [(i + 1, i) if back else (i, i + 1) for i in range(n - 1)]
    return spark.createDataFrame(pairs, "src bigint, dst bigint")


def test_min_label_fixpoint_converges_on_a_chain(spark):
    """Each node of a 20-node chain pointing back to node 0 reaches
    node 0, one hop per superstep: the loop must run all 19 propagating
    rounds (plus the one that confirms nothing moved) and agree with a
    pure-Python reachability reference."""
    from codegraph_spark.operators.scc import _min_label_fixpoint

    n = 20
    edges = _chain(spark, n, back=True)
    nodes = spark.range(n).select(F.col("id").cast("bigint"))
    succ = {i: [i - 1] for i in range(1, n)}

    def min_reach(v):
        seen, todo = {v}, [v]
        while todo:
            for w in succ.get(todo.pop(), ()):
                if w not in seen:
                    seen.add(w)
                    todo.append(w)
        return min(seen)

    got = {r["id"]: r["lbl"] for r in _min_label_fixpoint(nodes, edges).collect()}
    assert got == {v: min_reach(v) for v in range(n)}


def test_min_label_fixpoint_raises_below_the_diameter(spark):
    """The same loop capped below the chain's 19 hops raises, naming
    the loop and the cap, instead of returning half-propagated labels."""
    from codegraph_spark.operators.scc import _min_label_fixpoint

    edges = _chain(spark, 20, back=True)
    nodes = spark.range(20).select(F.col("id").cast("bigint"))
    with pytest.raises(RuntimeError, match=r"min_label_round.*within 10 rounds"):
        _min_label_fixpoint(nodes, edges, rounds=10)


def test_fixed_rounds_without_witness(spark):
    """No witness: exactly ``rounds`` rounds run, and no rounds at all
    is rejected."""
    from codegraph_spark.operators.supersteps import supersteps

    def bump(df):
        return df.select((F.col("x") + 1).alias("x"))

    out, n, _ = supersteps(spark.range(1).select(F.lit(0).alias("x")), bump, rounds=4)
    assert (out.first()["x"], n) == (4, 4)
    with pytest.raises(ValueError):
        supersteps(out, bump)


def test_start_witness_halts_after_one_round(spark):
    """Given its input's witness value, a loop whose first round changes
    nothing stops after that round (no second, confirming one) and
    returns the value."""
    from pyspark.sql import DataFrame

    from codegraph_spark.operators.supersteps import supersteps

    def same(df):
        return df

    _, n, w = supersteps(spark.range(3), same, witness=DataFrame.count, start_witness=3)
    assert (n, w) == (1, 3)


def test_transitive_closure_raises_instead_of_truncating(spark):
    """A 7-node chain has 21 reachable pairs. With ``max_depth=2`` the
    doubling budget runs out before the closure stops growing, so the
    operator raises; the default budget returns all 21 pairs."""
    from codegraph_spark.operators.traversal import transitive_closure

    edges = _chain(spark, 7)
    with pytest.raises(RuntimeError, match="doubling_round"):
        transitive_closure(edges, max_depth=2)
    got = {tuple(r) for r in transitive_closure(edges).collect()}
    assert got == {(a, b) for a in range(7) for b in range(a + 1, 7)}


def test_recast_graph_and_ivf_rebuilt_after_invalidate(spark):
    """The recast graph and the trained inverted file are serving-cache
    entries of their dataset: served warm until
    ``serving.invalidate(sf_dir)``, which releases their blocks and
    makes the next call build afresh."""
    from codegraph_spark import serving
    from codegraph_spark.graph import PropertyGraph
    from codegraph_spark.queries.similarity import _trained_inverted_file

    g = PropertyGraph.from_tpch_recast(spark, TEST_SF_DIR)
    inv = _trained_inverted_file(spark, TEST_SF_DIR)
    assert PropertyGraph.from_tpch_recast(spark, TEST_SF_DIR) is g
    assert _trained_inverted_file(spark, TEST_SF_DIR) is inv
    assert g.nodes.storageLevel.useMemory and inv.storageLevel.useMemory

    serving.invalidate(TEST_SF_DIR)
    assert not g.nodes.storageLevel.useMemory
    assert not g.edges.storageLevel.useMemory
    assert not inv.storageLevel.useMemory
    assert PropertyGraph.from_tpch_recast(spark, TEST_SF_DIR) is not g
    assert _trained_inverted_file(spark, TEST_SF_DIR) is not inv


# --- Spark jobs per call -----------------------------------------------------
# Each bound is the count the hand-rolled loop launched before the
# operator moved onto ``supersteps`` (same graphs, local session).

_PR_NODES = ["h", "s1", "s2", "s3", "x", "iso"]
_PR_EDGES = [("s1", "h"), ("s2", "h"), ("s3", "h"), ("h", "x"), ("x", "s1")]


def test_pagerank_jobs(spark):
    from codegraph_spark.operators.pagerank import pagerank, personalized_pagerank

    nodes = spark.createDataFrame([(v,) for v in _PR_NODES], "id string")
    edges = spark.createDataFrame(_PR_EDGES, "src string, dst string")
    seeds = spark.createDataFrame([("s1",)], "id string")
    _, jobs = _jobs(spark, "pr-jobs", lambda: pagerank(nodes, edges, iters=10).collect())
    assert jobs <= 118
    _, jobs = _jobs(
        spark, "ppr-jobs",
        lambda: personalized_pagerank(nodes, edges, seeds, iters=10).collect(),
    )
    assert jobs <= 134


def test_scc_bsp_jobs(spark):
    from codegraph_spark.operators.scc import scc_assignments

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("d", "e"), ("e", "d"),
         ("d", "a"), ("f", "g"), ("g", "a")],
        "src string, dst string",
    )
    nodes = (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    _, jobs = _jobs(
        spark, "scc-jobs",
        lambda: scc_assignments(nodes, edges, local_max_nodes=0).collect(),
    )
    assert jobs <= 129


def test_kcore_deep_peel_jobs(spark, deep_peel_dir):  # noqa: F811
    from codegraph_spark.queries.graph_analytics import (
        _KCORE_K,
        _kcore_peel,
        _symmetric_adjacency,
    )

    adj = _symmetric_adjacency(spark, deep_peel_dir)
    adj.count()
    _, jobs = _jobs(spark, "kcore-jobs", lambda: _kcore_peel(adj, _KCORE_K))
    assert jobs <= 76


def test_transitive_closure_jobs(spark):
    from codegraph_spark.operators.traversal import transitive_closure

    edges = _chain(spark, 7)
    _, jobs = _jobs(spark, "closure-jobs", lambda: transitive_closure(edges).collect())
    assert jobs <= 28


def _min_jobs(spark, group, fn, calls=3):
    """(result, fewest Spark jobs over ``calls`` calls of ``fn``): the
    job count of one call can vary between identical calls."""
    runs = [_jobs(spark, f"{group}-{i}", fn) for i in range(calls)]
    assert all(out == runs[0][0] for out, _ in runs)
    return runs[0][0], min(jobs for _, jobs in runs)


def _chain_traversals(spark):
    """Multi-source BFS (seeds 0 and 1) and path enumeration (from 0)
    on the 3-edge chain 0 → 1 → 2 → 3, as functions of ``max_hops``.
    The frames are built in the JVM: a ``createDataFrame`` frame costs
    a Python worker per partition on every scan."""
    from codegraph_spark.operators.traversal import bfs_multi_source, enumerate_paths

    edges = spark.range(3).select(F.col("id").alias("src"), (F.col("id") + 1).alias("dst"))
    seeds = spark.range(2).select(F.col("id").alias("seed"), "id")
    sources = spark.range(1)

    def bfs(max_hops):
        return sorted(tuple(r) for r in bfs_multi_source(edges, seeds, max_hops).collect())

    def paths(max_hops):
        return sorted(
            (r.start, r.end, tuple(r.path), r.hops)
            for r in enumerate_paths(edges, sources, max_hops).collect()
        )

    return bfs, paths


def test_seeded_traversals_halt_at_first_empty_round(spark):
    """Both seed-anchored traversals stop at the first round that
    reaches nothing: the same rows and the same jobs at max_hops 6 as
    at 15 (the chain is 3 hops deep). Four rounds of two jobs (the
    frontier broadcast and the count of the rows reached), the seeds'
    dedupe and the caller's collect."""
    bfs, paths = _chain_traversals(spark)
    want = {
        "bfs": [(0, 1, 1), (0, 2, 2), (0, 3, 3), (1, 2, 1), (1, 3, 2)],
        "paths": [(0, 1, (0, 1), 1), (0, 2, (0, 1, 2), 2), (0, 3, (0, 1, 2, 3), 3)],
    }
    for name, run in (("bfs", bfs), ("paths", paths)):
        got6, jobs6 = _min_jobs(spark, f"{name}-6", lambda: run(6))
        got15, jobs15 = _min_jobs(spark, f"{name}-15", lambda: run(15))
        assert got6 == got15 == want[name]
        assert jobs6 == jobs15 <= 10, (name, jobs6, jobs15)


def test_seeded_traversals_leave_session_conf_alone(spark, monkeypatch):
    """Neither seed-anchored traversal sets a session conf: the shared
    session's shuffle width and AQE stay what its owner made them."""
    from pyspark.sql.conf import RuntimeConfig

    keys = []
    real_set = RuntimeConfig.set

    def spy(self, key, value):
        keys.append(key)
        return real_set(self, key, value)

    monkeypatch.setattr(RuntimeConfig, "set", spy)
    bfs, paths = _chain_traversals(spark)
    assert bfs(6) and paths(6)
    assert keys == []
