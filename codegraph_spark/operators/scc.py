"""Strongly connected components as iterative DataFrame programs — the
FW-BW-coloring of the distributed-SCC literature (Orzan's coloring /
McLendon's FW-BW), BSP-style: trim the acyclic fringe, then peel SCCs
by forward/backward min-label fixpoints.

The trim and each coloring fixpoint are loops of
:func:`~codegraph_spark.operators.supersteps.supersteps`, halting on a
checked witness; bounded graphs take one single-task pass instead.

Scale notes (100 TB stance):
- every step is an id-keyed equi-join or aggregate — mutual
  reachability is NEVER materialized as pairs (the DuckDB oracle does
  build the recursive closure, which is exactly why the oracle shape
  cannot scale and this one can);
- coloring rounds are bounded by the graph's label-propagation
  distance (≈ condensation diameter). That makes this operator the
  right tool for LOW-DIAMETER dependency graphs (package / service /
  trade graphs — the graphs circular-dependency questions are asked
  of). A high-diameter graph (15k-node call CHAINS — measured: trim
  peels 2 nodes/round) needs the pointer-doubling/path-contraction
  family instead; that trade-off is inherent to BSP SCC, not an
  implementation shortcut, so the query layer feeds this operator
  coarse dependency graphs only.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from codegraph_spark.operators.supersteps import supersteps


def _min_label_fixpoint(
    nodes: DataFrame, edges: DataFrame, rounds: int | None = None
) -> DataFrame:
    """``(id, lbl)`` — per node, the MIN node id reachable along
    ``edges`` (src→dst), at a checked fixpoint: a partially propagated
    label would fragment an SCC. One superstep is one edges ⋈ labels
    equi-join plus a src-keyed min. Labels may be strings, so the
    witness counts the rounds in which a label moved (a changed-row
    probe); ``rounds`` caps the loop, which then raises."""

    def min_label_round(labels: DataFrame) -> DataFrame:
        nbr_min = (
            edges.join(labels, edges["dst"] == labels["id"])
            .groupBy("src")
            .agg(F.min("lbl").alias("nlbl"))
        )
        nlbl = F.coalesce(F.col("nlbl"), F.col("lbl"))
        return labels.join(nbr_min, labels["id"] == nbr_min["src"], "left").select(
            "id",
            F.least(F.col("lbl"), nlbl).alias("lbl"),
            (nlbl < F.col("lbl")).alias("chg"),
        )

    moved = []

    def moving_rounds(labels: DataFrame) -> int:
        moved.append(labels.filter(F.col("chg")).limit(1).count())
        return sum(moved)

    start = nodes.select("id", F.col("id").alias("lbl"))
    labels = supersteps(start, min_label_round, rounds=rounds, witness=moving_rounds)[0]
    return labels.select("id", "lbl")


def _scc_single_task(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """The bounded-graph fast path of :func:`scc_assignments`: ship the
    whole (node, edge) set into ONE executor task and run trim + Tarjan
    there. Semantically identical to the BSP peel (same trim fixpoint —
    the greatest subgraph where every node keeps both edge directions —
    and the same scc_id = min member id), but one Spark job instead of
    O(diameter) rounds of join/aggregate/probe jobs, each of which costs
    a scheduling round trip that dwarfs the compute on a dimension-sized
    graph. The computation stays on executors (mapInPandas), never the
    driver."""
    id_t = nodes.schema["id"].dataType
    u = nodes.select(
        F.lit(0).alias("k"), F.col("id").alias("a"), F.col("id").alias("b")
    ).unionByName(
        edges.select(
            F.lit(1).alias("k"), F.col("src").alias("a"), F.col("dst").alias("b")
        )
    )
    out_schema = T.StructType(
        [T.StructField("id", id_t), T.StructField("scc_id", id_t)]
    )

    def kernel(batches):
        import pandas as pd

        node_set: set = set()
        edge_set: set = set()
        for pdf in batches:
            for k, a, b in zip(pdf["k"], pdf["a"], pdf["b"]):
                if k == 0:
                    node_set.add(a)
                else:
                    edge_set.add((a, b))
        # trim to the greatest subgraph where every node has both an
        # in- and an out-edge (identical fixpoint to the BSP trim loop)
        edge_set = {(s, d) for (s, d) in edge_set if s in node_set and d in node_set}
        while True:
            has_out = {s for s, _ in edge_set}
            has_in = {d for _, d in edge_set}
            kept = {v for v in node_set if v in has_out and v in has_in}
            if len(kept) == len(node_set):
                break
            node_set = kept
            edge_set = {
                (s, d) for (s, d) in edge_set if s in node_set and d in node_set
            }
        adj: dict = {}
        for s, d in edge_set:
            adj.setdefault(s, []).append(d)
        # iterative Tarjan over the trimmed remainder
        index: dict = {}
        low: dict = {}
        on_stack: set = set()
        stack: list = []
        comps: list = []
        counter = 0
        for root in node_set:
            if root in index:
                continue
            index[root] = low[root] = counter
            counter += 1
            stack.append(root)
            on_stack.add(root)
            work = [(root, iter(adj.get(root, ())))]
            while work:
                v, it = work[-1]
                advanced = False
                for w in it:
                    if w not in index:
                        index[w] = low[w] = counter
                        counter += 1
                        stack.append(w)
                        on_stack.add(w)
                        work.append((w, iter(adj.get(w, ()))))
                        advanced = True
                        break
                    if w in on_stack and index[w] < low[v]:
                        low[v] = index[w]
                if advanced:
                    continue
                work.pop()
                if work:
                    p = work[-1][0]
                    if low[v] < low[p]:
                        low[p] = low[v]
                if low[v] == index[v]:
                    comp = []
                    while True:
                        w = stack.pop()
                        on_stack.discard(w)
                        comp.append(w)
                        if w == v:
                            break
                    comps.append(comp)
        ids: list = []
        sccs: list = []
        for comp in comps:
            m = min(comp)
            for v in comp:
                ids.append(v)
                sccs.append(m)
        yield pd.DataFrame({"id": ids, "scc_id": sccs})

    return u.repartition(1).mapInPandas(kernel, out_schema)


def scc_assignments(
    nodes: DataFrame,
    edges: DataFrame,
    local_max_nodes: int = 8192,
    local_max_edges: int = 1_000_000,
) -> DataFrame:
    """``(id, scc_id)`` for every node that survives the trim —
    nodes with both in- and out-edges in the trimmed remainder. That
    superset INCLUDES possible singleton SCCs (a DAG bridge between
    two components keeps both edge directions yet lies on no cycle,
    and is emitted with fwd == bwd == itself); callers wanting only
    cycle members filter components to ``n_members > 1`` as
    queries/graph_analytics.graph_scc does, or anti-join singletons
    out. ``scc_id`` = the component's minimum member id. Nodes trimmed
    away are singleton SCCs by construction and are omitted.

    :param nodes: DataFrame with ``id``.
    :param edges: DataFrame with ``src``/``dst`` (directed).
    :param local_max_nodes: when the (distinct) node count is at or
        below this AND the distinct edge count is at or below
        ``local_max_edges``, the whole graph fits one task and the
        single-task trim+Tarjan path replaces the BSP peel — a
        dimension-sized graph (the coarse dependency graphs this
        operator is fed) pays one job instead of O(diameter) scheduling
        round trips. Pass 0 to force the BSP path.
    """
    # eager checkpoint kept (r13 A/B): deferring it to the BSP path
    # made the fast path's kernel union re-derive the distinct and
    # won nothing — the dispatch count and the kernel both read this
    # one materialization
    n = nodes.select("id").distinct().localCheckpoint(eager=True)
    n_nodes = n.count()
    if n_nodes <= local_max_nodes and (
        # n² already bounds the distinct edge count — skip the count job
        n_nodes * n_nodes <= local_max_edges
        # raw count bounds the distinct count (conservative: a graph
        # whose raw edge list exceeds the cap but dedups under it takes
        # the BSP path — correct either way)
        or edges.count() <= local_max_edges
    ):
        # no distinct / checkpoint on the edge side: the kernel dedups
        # into a set anyway, and the checkpoint's construction-time
        # physical planning (Dataset.checkpoint runs toRdd even lazily)
        # costs more than the one pass it would save (r12)
        return _scc_single_task(n, edges.select("src", "dst"))

    def induced(e: DataFrame, n: DataFrame) -> DataFrame:
        return e.join(n.select(F.col("id").alias("src")), "src", "semi").join(
            n.select(F.col("id").alias("dst")), "dst", "semi"
        )

    # node-filter the edge set BEFORE the first trim round so both
    # paths share one precondition (r12 ADVICE: the fast path drops
    # edges to non-member ids up front; without this, a node kept
    # alive solely by such an edge would survive the BSP trim only) —
    # the trim's documented fixpoint is over the node-induced subgraph
    e = induced(edges.select("src", "dst"), n).distinct().localCheckpoint(eager=False)
    # (1) trim the acyclic fringe: every node of a nontrivial SCC (and
    # every self-loop) has both in- and out-edges in the remainder
    def trim_round(n: DataFrame) -> DataFrame:
        e_n = induced(e, n)
        return n.join(e_n.select(F.col("src").alias("id")), "id", "semi").join(
            e_n.select(F.col("dst").alias("id")), "id", "semi"
        )

    n, _, n_nodes = supersteps(n, trim_round, witness=DataFrame.count, start_witness=n_nodes)
    # (2) peel by FW/BW min-label coloring: an SCC's members share one
    # reach set, hence one (fwd, bwd) pair — a round assigns exactly
    # the SCCs whose fwd == bwd (always ≥ the SCC of the smallest
    # remaining label, so the peel makes progress every round)
    parts: list[DataFrame] = []
    while n_nodes > 0:
        e = induced(e, n).localCheckpoint(eager=True)
        fwd = _min_label_fixpoint(n, e)
        bwd = _min_label_fixpoint(
            n, e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        assigned = (
            fwd.join(
                bwd.select(F.col("id").alias("bid"), F.col("lbl").alias("blbl")),
                (fwd["id"] == F.col("bid")) & (fwd["lbl"] == F.col("blbl")),
            )
            .select("id", F.col("lbl").alias("scc_id"))
            .localCheckpoint(eager=True)
        )
        parts.append(assigned)
        n = n.join(assigned.select("id"), "id", "anti").localCheckpoint(eager=True)
        n_nodes = n.count()
    empty = n.select("id", F.col("id").alias("scc_id")).limit(0)
    return reduce(DataFrame.unionByName, parts, empty)
