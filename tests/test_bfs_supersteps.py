"""The superstep loop of ``bfs_reachable``: it halts at the first empty
frontier instead of running every one of ``max_hops`` rounds, and it
hands ids of any column type back through the driver unchanged.
(Result parity with a reference BFS is ``test_traversal_properties``.)"""

from __future__ import annotations


def _jobs(spark, group, fn):
    """(result, Spark jobs launched) of ``fn()`` under its own job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "bfs superstep job count")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_bfs_halts_at_first_empty_frontier(spark):
    """A 2-hop chain costs the same jobs at max_hops=10 as at 3: the
    loop stops after the superstep that reaches nothing new."""
    from codegraph_spark.operators.traversal import bfs_reachable

    edges = spark.createDataFrame(
        [("a", "b", "T"), ("b", "c", "T"), ("x", "a", "T")],
        "src string, dst string, type string",
    )
    seeds = spark.createDataFrame([("a",)], "id string")

    def run(max_hops):
        return sorted(
            tuple(r) for r in bfs_reachable(edges, seeds, max_hops, edge_type="T").collect()
        )

    got3, jobs3 = _jobs(spark, "bfs-halt-3", lambda: run(3))
    got10, jobs10 = _jobs(spark, "bfs-halt-10", lambda: run(10))
    assert got3 == got10 == [("b", 1), ("c", 2)]
    assert jobs10 == jobs3, f"job count grew with max_hops: {jobs3} -> {jobs10}"
    assert jobs10 <= 10, f"2-hop chain ran {jobs10} jobs"


def test_bfs_integer_ids_round_trip(spark):
    """bigint ids come back as bigint, with min hops, over a cycle."""
    from codegraph_spark.operators.traversal import bfs_reachable

    edges = spark.createDataFrame(
        [(1, 2, "T"), (2, 3, "T"), (3, 1, "T"), (1, 3, "T"), (3, 4, "T")],
        "src bigint, dst bigint, type string",
    )
    seeds = spark.createDataFrame([(1,)], "id bigint")
    out = bfs_reachable(edges, seeds, 10, edge_type="T", include_sources=True)
    assert dict(out.dtypes)["id"] == "bigint"
    assert {r["id"]: r["hops"] for r in out.collect()} == {1: 0, 2: 1, 3: 1, 4: 2}
