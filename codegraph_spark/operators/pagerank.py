"""PageRank as a fixed number of supersteps — importance ranking over
the code graph (hub functions / hot symbols), the measure behind "what
are the most load-bearing nodes in this codebase".

The reference has no equivalent (Neo4j GDS would be its path); this is
a scale extension in the spirit of SURVEY §2's traversal family.

Global and personalized PageRank are one walk (:func:`_walk`): global
PageRank is the walk whose restart set is every node. Each round is
one :func:`~codegraph_spark.operators.supersteps.supersteps` round:
- one equi-join edges ⋈ ranks on ``src`` plus a group-by on ``dst``;
  the state is O(nodes) rows, each node's rank beside its out-degree,
  which is joined once before the first round;
- dangling-node mass (sinks lose their rank otherwise) returns to the
  restart set through a 1-row aggregate broadcast into the update, so
  no driver scalar is collected inside the loop;
- the global walk's restart vector is a literal, with no seed join;
  the personalized walk carries a ``seed`` flag column in its state,
  joined once from the seed set before the first round.
The rounds end in lazy checkpoints and materialize under the caller's
action.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from codegraph_spark.operators.supersteps import supersteps


def pagerank(
    nodes: DataFrame,
    edges: DataFrame,
    iters: int = 10,
    damping: float = 0.85,
) -> DataFrame:
    """Rank every node id: ``(id, rank)``, sum(rank) == 1 each round.

    :param nodes: DataFrame with an ``id`` column (the vertex set —
        pass it explicitly so isolated nodes keep rank mass).
    :param edges: DataFrame with ``src``/``dst`` columns.
    """
    return _walk(nodes, edges, None, iters, damping)


def personalized_pagerank(
    nodes: DataFrame,
    edges: DataFrame,
    seeds: DataFrame,
    iters: int = 10,
    damping: float = 0.85,
) -> DataFrame:
    """PageRank PERSONALIZED to a seed set: the teleport vector is
    uniform over ``seeds`` instead of all nodes, and dangling mass
    returns to the seeds — rank measures importance AS SEEN FROM the
    anchor (random walk with restart), the "what matters around this
    entry point" twin of global :func:`pagerank`.

    :param seeds: DataFrame with an ``id`` column; rows outside
        ``nodes`` are ignored (intersected first so rank mass stays
        normalized)."""
    return _walk(nodes, edges, seeds, iters, damping)


def _walk(
    nodes: DataFrame,
    edges: DataFrame,
    seeds: DataFrame | None,
    iters: int,
    damping: float,
) -> DataFrame:
    """``(id, rank)`` after ``iters`` rounds of the random walk that
    restarts uniformly on ``seeds`` (every node when ``None``). Both
    cases evaluate ``restart + damping * (link_mass + dangling / n)``
    in that IEEE order, with ``restart = (1 - damping) / n`` folded on
    the driver, where ``n`` is the size of the restart set."""
    n = nodes.select("id").distinct().localCheckpoint(eager=True)
    if seeds is None:
        ranks, n_seeds = n, n.count()

        def on_seeds(c):
            return c
    else:
        s = seeds.select("id").distinct().join(n, "id").localCheckpoint(eager=True)
        flags = F.broadcast(s.withColumn("seed", F.lit(True)))
        ranks, n_seeds = n.join(flags, "id", "left"), s.count()

        def on_seeds(c):
            return F.when(F.col("seed"), c).otherwise(F.lit(0.0))

    if n_seeds == 0:
        return n.withColumn("rank", F.lit(0.0)).limit(0)
    out_deg = edges.groupBy("src").agg(F.count("*").alias("out_deg"))
    ranks = ranks.join(
        out_deg, F.col("id") == F.col("src"), "left"
    ).select(*ranks.columns, "out_deg", on_seeds(F.lit(1.0 / n_seeds)).alias("rank"))
    e = edges.select(F.col("src").alias("e_src"), F.col("dst").alias("e_dst"))
    restart = (1.0 - damping) / n_seeds
    carried = [c for c in ranks.columns if c != "rank"]

    def pagerank_round(ranks: DataFrame) -> DataFrame:
        contribs = (
            ranks.filter(F.col("out_deg").isNotNull())
            .join(e, F.col("id") == F.col("e_src"))
            .select(F.col("e_dst").alias("id"),
                    (F.col("rank") / F.col("out_deg")).alias("c"))
            .groupBy("id")
            .agg(F.sum("c").alias("link_mass"))
        )
        dangling = ranks.filter(F.col("out_deg").isNull()).agg(
            F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dangling_mass")
        )
        return (
            ranks.drop("rank")
            .join(contribs, "id", "left")
            .join(F.broadcast(dangling))
            .select(
                *carried,
                (
                    on_seeds(F.lit(restart))
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("link_mass"), F.lit(0.0))
                        + on_seeds(F.col("dangling_mass") / n_seeds)
                    )
                ).alias("rank"),
            )
        )

    ranks = supersteps(ranks, pagerank_round, rounds=iters)[0]
    return ranks.select("id", "rank")
