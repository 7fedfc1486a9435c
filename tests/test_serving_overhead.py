"""The fixed Spark cost of a serving call: a warm session compiles no
new generated class, every traversal superstep and id lookup is one job,
and id sets travel to the JVM as one literal filter. (Answer parity of
the services is ``test_services``; of the BFS, ``test_traversal_properties``.)"""

from __future__ import annotations

import pytest

from tests.test_bfs_supersteps import _jobs

NODE_SCHEMA = (
    "id string, label string, name string, symbol string, path string,"
    " start_line int, end_line int, complexity int, signature string,"
    " docstring string"
)


def _chain(spark, n, k=0):
    """Functions f0→f1→…→f(n-1) over CALLS, f0 EXPOSES_API route R;
    ``k`` shifts the complexity column (a changed incoming batch)."""
    nodes = spark.createDataFrame(
        [(f"fn:f{i}", "Function", f"f{i}", f"s{i}", "f.py", i, i + 1, i + k, f"f{i}()", None)
         for i in range(n)]
        + [("api:R", "APIRoute", "/r", None, None, None, None, None, None, None)],
        NODE_SCHEMA,
    )
    edges = spark.createDataFrame(
        [(f"fn:f{i}", f"fn:f{i + 1}", "CALLS") for i in range(n - 1)]
        + [("fn:f0", "api:R", "EXPOSES_API")],
        "src string, dst string, type string",
    )
    return nodes, edges


def test_session_is_built_for_small_calls(spark):
    """get_spark fixes the two static confs; PySpark's per-call call-site
    capture is off in this session."""
    from pyspark.errors.utils import is_debugging_enabled

    from codegraph_spark.session import CODEGEN_CACHE_ENTRIES

    conf = spark.sparkContext.getConf()
    assert conf.get("spark.sql.codegen.cache.maxEntries") == str(CODEGEN_CACHE_ENTRIES)
    assert CODEGEN_CACHE_ENTRIES > 100
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert not is_debugging_enabled()


def test_warm_round_compiles_no_new_class(spark):
    """A re-index write followed by every kind of read generates more
    classes than Spark's default 100-entry cache holds; the second run
    of the same round finds all of them cached."""
    from codegraph_spark.graph import PropertyGraph
    from codegraph_spark.operators.upsert import merge_upsert
    from codegraph_spark.services import AdvancedService, LSPService, MCPService

    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    base_nodes, base_edges = (df.persist() for df in _chain(spark, 6))

    def round_(k):
        nodes, edges = _chain(spark, 6, k)
        g = PropertyGraph(
            merge_upsert(base_nodes, nodes, ["id"]).localCheckpoint(),
            merge_upsert(base_edges, edges, ["src", "dst", "type"]).localCheckpoint(),
        )
        adv, lsp = AdvancedService(g), LSPService(g)
        adv.analyze_impact("s3")
        adv.build_call_graph("fn:f1", "out", 5)
        MCPService(g).analyze_function("f2")
        lsp.go_to_definition("s2")
        lsp.find_references("s2")
        lsp.search("f")
        lsp.get_completion("f")
        adv.analyze_complexity()

    c0 = compiles.getCount()
    round_(1)
    first = compiles.getCount() - c0
    round_(2)
    again = compiles.getCount() - c0 - first
    assert again == 0, f"warm round compiled {again} classes (first round {first})"
    base_nodes.unpersist()
    base_edges.unpersist()


def test_jobs_per_service_call(spark):
    """On a 5-function chain: every BFS superstep, the edge lookup and
    the node lookup are one job each (no broadcast of driver-side ids)."""
    from codegraph_spark.graph import PropertyGraph
    from codegraph_spark.services import AdvancedService, MCPService

    nodes, edges = _chain(spark, 5)
    g = PropertyGraph(nodes.persist(), edges.persist())
    adv, mcp = AdvancedService(g), MCPService(g)

    def count(name, fn):
        fn()  # warm: first-touch jobs are not the steady-state cost
        return _jobs(spark, f"serving-jobs-{name}", fn)

    fa, jobs_fa = count("af", lambda: mcp.analyze_function("f2"))
    assert (fa["callers"], fa["callees"]) == (["f1"], ["f3"])
    assert jobs_fa == 3  # metadata, CALLS edges, caller/callee names

    cg, jobs_cg = count("cg", lambda: adv.build_call_graph("fn:f1", "out", 5))
    assert {r["id"]: r["hops"] for r in cg["nodes"]} == {
        "fn:f1": 0, "fn:f2": 1, "fn:f3": 2, "fn:f4": 3
    }
    assert len(cg["edges"]) == 3
    assert jobs_cg == 4 + 2  # 4 supersteps (the last reaches nothing), nodes, edges

    imp, jobs_imp = count("imp", lambda: adv.analyze_impact("s3"))
    assert {r["id"]: r["hops"] for r in imp["affectedFunctions"]} == {
        "fn:f2": 1, "fn:f1": 2, "fn:f0": 3
    }
    assert imp["affectedAPIs"] == [{"id": "api:R", "name": "/r", "label": "APIRoute"}]
    # seeds (a broadcast join: 2), 4 supersteps, routes, nodes
    assert jobs_imp == 2 + 4 + 2

    miss, jobs_miss = count("cg-miss", lambda: adv.build_call_graph("fn:nope", "out", 5))
    assert (miss["nodes"], miss["edges"]) == ([], [])
    assert jobs_miss == 2  # one empty superstep and the node lookup
    g.nodes.unpersist()
    g.edges.unpersist()


def test_id_filter_string_ids(spark):
    """String ids survive SQL quoting (quotes, backslashes, newlines,
    non-ASCII), below and above the hash-set threshold."""
    from codegraph_spark.operators.traversal import id_filter

    odd = ["a'b", "c\\d", "ü\n", "e''", "\\'"]
    df = spark.createDataFrame([(i,) for i in odd + [f"k{i}" for i in range(30)]], "id string")
    for ids in (odd, odd + [f"k{i}" for i in range(12)]):
        assert sorted(r[0] for r in df.filter(id_filter("id", ids)).collect()) == sorted(ids)
    big = df.filter(id_filter("id", [f"k{i}" for i in range(20)]))
    assert "INSET" in big._jdf.queryExecution().optimizedPlan().toString()
    assert df.filter(id_filter("id", [])).count() == 0


def test_id_filter_bigint_ids(spark):
    """bigint ids, including ones beyond int range, small and large sets."""
    from codegraph_spark.operators.traversal import id_filter

    df = spark.range(0, 60).unionByName(spark.range(2**40, 2**40 + 3))
    for ids in ([3, 7, 2**40 + 1], list(range(0, 60, 3)) + [2**40]):
        got = sorted(r[0] for r in df.filter(id_filter("id", ids)).collect())
        assert got == sorted(ids)
    with pytest.raises(TypeError):
        id_filter("id", [1.5])


def test_tune_session_reports_rejected_conf(spark):
    """A conf the session rejects fails tune_session instead of being
    skipped. The wrapper routes one of its settings to a static conf,
    which a running session refuses."""
    from codegraph_spark.session import tune_session

    class Rejecting:
        def __init__(self, conf):
            self._conf = conf

        def set(self, key, value):
            if key == "spark.sql.execution.arrow.maxRecordsPerBatch":
                key = "spark.sql.codegen.cache.maxEntries"
            self._conf.set(key, value)

    class Session:
        conf = Rejecting(spark.conf)
        sparkContext = spark.sparkContext

    with pytest.raises(Exception, match="spark.sql.codegen.cache.maxEntries"):
        tune_session(Session())
    assert tune_session(spark) is spark
    assert spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch") == "2048"
