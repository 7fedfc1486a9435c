"""The ``code_serving`` workload: an editor or MCP agent querying one
indexed codebase and waiting for each answer, while the codebase is
edited and re-indexed underneath it.

Set-up indexes a fixed sample of the pandas source tree with
``sources.static_index.index_project``, writes it as graph version 0
and serves it the way ``run_command`` serves ``--graph DIR`` (nodes and
edges through ``serving.shared_df``). One closed-loop client then sends
a seeded request stream; every twentieth op is a write that edits one
file, re-parses it, upserts the result, writes a new graph version,
swaps the served graph to it and waits until a read returns the new
symbol. Every answer is checked afterwards against DuckDB over the
same parquet the op was served from.
"""

from __future__ import annotations

import ast
import json
import os
import random
import time

from common import Timer, median, storage, tree_hash
from tracing import Spans, split_collect

#: the reads of one block of ``BLOCK`` ops; with the block's one write
#: this fixes the op mix, so blocks differ only in order and arguments.
#: Cheap lookups outnumber whole-graph analyses, and they hold the
#: median read, so ``op_ms`` sits inside one latency cluster, not
#: between two (an even mix made it jump by 30% between runs).
BLOCK_READS = (
    ("get_source", 2), ("search", 3), ("completion", 3), ("complexity", 2),
    ("find_references", 3), ("definition", 2), ("analyze_function", 2),
    ("call_graph", 1), ("impact", 1),
)
BLOCK = 1 + sum(n for _, n in BLOCK_READS)  # 20: one write per twenty ops
MISSES = 2  # misses among a block's 19 reads: about 10%
#: the kinds a miss may hit: lookups, which cost about the same hit or
#: miss. A missed analysis (impact, call graph, analyze_function) costs
#: a fraction of a hit, so misses there made a block's wall depend on
#: where the seed put them.
MISS_KINDS = ("search", "get_source", "find_references", "definition", "completion")
ZIPF_S = 1.1
#: which functions are popular is a property of the codebase, the same
#: in every session: popularity ranks are drawn once, from this constant
RANK_SEED = 7
SMOKE_STRIDE = 4  # smoke runs index every 4th file of the sample
DEFS = (ast.FunctionDef, ast.AsyncFunctionDef)


# ---- the source tree ----------------------------------------------------

def load_tree(root: str, smoke: bool) -> list[dict]:
    """Unpack the pandas sample (``sample_pandas.py``) into ``root``;
    smoke runs take every ``SMOKE_STRIDE``-th source file. Returns one
    record per top-level function a write may call: file (relative to
    ``root``), module, name, fqn and symbol, in a fixed order. A function
    qualifies when no other definition in its file shares its name, so
    the indexer's same-file call resolution picks it, and when its file
    is one the indexer reads (``indexed``)."""
    import tarfile

    from sample_pandas import ARCHIVE

    with tarfile.open(ARCHIVE) as tar:
        members = sorted((m for m in tar.getmembers() if m.name.endswith(".py")),
                         key=lambda m: m.name)
        if smoke:
            members = members[::SMOKE_STRIDE]
        tar.extractall(root, members=members, filter="data")
    funcs = []
    for m in filter(lambda m: indexed(m.name), members):
        with open(os.path.join(root, m.name)) as fh:
            body = ast.parse(fh.read()).body
        defs = [x.name for x in body if isinstance(x, DEFS + (ast.ClassDef,))]
        defs += [y.name for x in body if isinstance(x, ast.ClassDef)
                 for y in x.body if isinstance(y, DEFS)]
        mod = os.path.basename(m.name).removesuffix(".py")
        for x in body:
            if isinstance(x, DEFS) and defs.count(x.name) == 1:
                funcs.append({"file": m.name, "module": mod, "name": x.name,
                              "fqn": f"{mod}.{x.name}", "symbol": _symbol(mod, x.name)})
    return funcs


def indexed(rel: str) -> bool:
    """Whether ``index_project`` reads the file at ``rel``. Its walk is a
    Spark file scan, which treats a path component starting with ``_``
    or ``.`` as hidden and skips it, so ``__init__.py`` and private
    modules such as ``_numba/`` are not indexed. Fixed here rather than
    read from the index, so the request stream stays the same if the
    engine's walk changes."""
    return not any(part.startswith(("_", ".")) for part in rel.split("/"))


def _symbol(mod: str, name: str) -> str:
    """The SCIP-style symbol the indexer mints for a top-level function."""
    return f"scip-python pypi {mod} v0 {mod}.{name}()."


# ---- the request stream -------------------------------------------------

def ranked(funcs: list[dict]) -> tuple[list[dict], list[float]]:
    """Functions in popularity order, with their Zipf weights."""
    popular = funcs[:]
    random.Random(RANK_SEED).shuffle(popular)
    return popular, [1 / (r + 1) ** ZIPF_S for r in range(len(popular))]


def make_stream(funcs: list[dict], seed: int, n_blocks: int) -> list[dict]:
    """Seeded op list in blocks of ``BLOCK`` ops: the fixed read mix,
    ``MISSES`` of its reads missing, and one write (a new function that
    calls an existing one, appended to the callee's file) in seeded
    order, with Zipf-skewed argument popularity."""
    rng = random.Random(seed)
    popular, weights = ranked(funcs)
    kinds = [kind for kind, n in BLOCK_READS for _ in range(n)]
    can_miss = [j for j, kind in enumerate(kinds) if kind in MISS_KINDS]
    ops = []
    for b in range(n_blocks):
        misses = set(rng.sample(can_miss, MISSES))
        block = [_read(kind, rng, popular, weights, j in misses)
                 for j, kind in enumerate(kinds)]
        f = rng.choice(funcs)
        block.append({"kind": "write", "file": f["file"], "target": f["fqn"],
                      "new": f"added_{abs(seed)}_{b}"})  # an identifier for any seed
        rng.shuffle(block)
        ops += block
    return ops


def _read(kind: str, rng: random.Random, popular: list[dict], weights, miss: bool) -> dict:
    f = rng.choices(popular, weights)[0]
    ghost = f"zz_missing_{rng.randrange(10**6)}"
    if kind in ("search", "get_source", "analyze_function"):
        arg = ghost if miss else f["name"]
    elif kind in ("find_references", "definition", "impact"):
        arg = f"scip-python pypi {ghost} v0 {ghost}()." if miss else f["symbol"]
    elif kind == "completion":
        arg = ghost[:6] if miss else f["name"][: rng.randint(3, 6)]
    elif kind == "call_graph":
        arg = [f"missing/{ghost}.py", ghost] if miss else [f["file"], f["fqn"]]
    else:  # complexity
        arg = rng.choice((2, 3, 5))
    return {"kind": kind, "arg": arg}


def cold_ops(funcs: list[dict], seed: int) -> list[dict]:
    """One read of every kind, each a hit, in seeded order: the
    first-touch pass. The first write is the timed loop's, so it is
    paid there."""
    rng = random.Random(seed ^ 0xC01D)
    popular, weights = ranked(funcs)
    ops = [_read(kind, rng, popular, weights, False) for kind, _ in BLOCK_READS]
    rng.shuffle(ops)
    return ops


# ---- serving ------------------------------------------------------------

class Server:
    """The served graph, its version history and the services over it."""

    def __init__(self, spark, work: str):
        self.spark = spark
        self.work = work
        self.versions: list[str] = []
        self.g = None

    def serve(self, vdir: str) -> None:
        """Serve ``vdir`` exactly as ``run_command`` serves ``--graph``."""
        from codegraph_spark.graph import PropertyGraph
        from codegraph_spark.serving import shared_df

        def load(part):
            return lambda: self.spark.read.parquet(f"{vdir}/{part}")

        self.g = PropertyGraph(
            shared_df(self.spark, (vdir, "cli_graph_nodes"), load("nodes"), eager=False),
            shared_df(self.spark, (vdir, "cli_graph_edges"), load("edges"), eager=False),
        )
        from codegraph_spark.services import AdvancedService, LSPService, MCPService

        self.lsp, self.adv, self.mcp = LSPService(self.g), AdvancedService(self.g), MCPService(self.g)
        self.versions.append(vdir)

    def next_version(self) -> str:
        return os.path.join(self.work, f"v{len(self.versions)}")


def setup(spark, work: str, smoke: bool) -> dict:
    """Index the tree and serve version 0. Returns the context."""
    from codegraph_spark.graph import PropertyGraph
    from codegraph_spark.sources.static_index import index_project

    tree = os.path.join(work, "tree")
    funcs = load_tree(tree, smoke)
    srv = Server(spark, work)
    with Timer() as ingest:
        nodes, edges = index_project(spark, tree)
        v0 = srv.next_version()
        PropertyGraph(nodes, edges).write_parquet(f"{v0}/nodes", f"{v0}/edges")
    with Timer() as warm:
        srv.serve(v0)
        rows = srv.g.nodes.count() + srv.g.edges.count()
    files = _indexed_paths(v0, tree)
    n_files, digest = tree_hash(tree)
    return {"srv": srv, "funcs": funcs, "tree": tree, "files": files,
            "tree_files": n_files, "tree_hash": digest,
            "ingest_s": ingest.s, "warm_s": warm.s, "rows": rows}


def _indexed_paths(vdir: str, tree: str) -> dict[str, str]:
    """file relative to ``tree`` -> the ``path`` string the indexer
    stored (the key a re-parse must reproduce)."""
    import duckdb

    con = duckdb.connect()
    try:
        rows = con.execute(
            f"SELECT path FROM read_parquet('{vdir}/nodes/**/*.parquet', "
            "hive_partitioning=true) WHERE label = 'File'"
        ).fetchall()
    finally:
        con.close()
    return {os.path.relpath(p, tree): p for (p,) in rows}


def _call(name: str, args: dict, srv: Server, i: int):
    from codegraph_spark.mcp import handle_request

    resp = handle_request(srv.mcp, {"jsonrpc": "2.0", "id": i, "method": "tools/call",
                                    "params": {"name": name, "arguments": args}})
    if "error" in resp:
        raise RuntimeError(f"JSON-RPC error {resp['error']}")
    result = resp["result"]
    if result.get("isError"):
        raise RuntimeError(result["content"][0]["text"])
    return json.loads(result["content"][0]["text"])


def _root_id(ctx: dict, arg: list[str]) -> str:
    rel, fqn = arg
    return f"function:{ctx['files'].get(rel, '/' + rel)}:{fqn}"


def read(ctx: dict, op: dict, i: int):
    """Execute one read op; returns its answer."""
    srv, kind, arg = ctx["srv"], op["kind"], op["arg"]
    if kind == "search":
        return _call("codegraph_search", {"query": arg}, srv, i)
    if kind == "get_source":
        return _call("codegraph_get_source", {"function_name": arg}, srv, i)
    if kind == "find_references":
        return _call("codegraph_find_references", {"symbol": arg}, srv, i)
    if kind == "analyze_function":
        return _call("codegraph_analyze_function", {"function_name": arg}, srv, i)
    if kind == "definition":
        return srv.lsp.go_to_definition(arg)
    if kind == "completion":
        return srv.lsp.get_completion(arg)
    if kind == "impact":
        return srv.adv.analyze_impact(arg)
    if kind == "call_graph":
        return srv.adv.build_call_graph(_root_id(ctx, arg), "out", 3)
    return srv.adv.analyze_complexity(arg)


def write(ctx: dict, op: dict, phases: dict | None = None) -> str:
    """Edit one file, re-parse it, upsert, write a new version, swap,
    and read until the new symbol is visible. Returns the version dir.
    ``phases`` (traced runs) receives per-phase seconds; the parse is
    then also counted on its own, an extra job untraced runs skip."""
    from codegraph_spark import serving
    from codegraph_spark.graph import PropertyGraph
    from codegraph_spark.operators.upsert import merge_upsert
    from codegraph_spark.sources.static_index import index_records, split_records

    srv, spark = ctx["srv"], ctx["spark"]
    mod, callee = op["target"].split(".", 1)
    src_path = os.path.join(ctx["tree"], op["file"])
    with open(src_path, "a") as fh:
        fh.write(f"\n\ndef {op['new']}(x):\n    return {callee}(x)\n")
    with open(src_path) as fh:
        content = fh.read()
    t0 = time.perf_counter()
    files = spark.createDataFrame([(ctx["files"][op["file"]], content)],
                                  "path string, content string")
    new_nodes, new_edges = split_records(index_records(files))
    if phases is not None:
        new_nodes.count()
        new_edges.count()
    t1 = time.perf_counter()
    g = srv.g
    nodes = merge_upsert(g.nodes, new_nodes.select(*g.nodes.columns), ["id"])
    edges = merge_upsert(g.edges, new_edges.select(*g.edges.columns), ["src", "dst", "type"])
    if phases is not None:
        nodes.write.format("noop").mode("overwrite").save()
        edges.write.format("noop").mode("overwrite").save()
    t2 = time.perf_counter()
    old, vdir = srv.versions[-1], srv.next_version()
    PropertyGraph(nodes, edges).write_parquet(f"{vdir}/nodes", f"{vdir}/edges")
    t3 = time.perf_counter()
    srv.serve(vdir)
    serving.invalidate(old)
    t4 = time.perf_counter()
    symbol = _symbol(mod, op["new"])
    if srv.lsp.go_to_definition(symbol) is None:
        raise RuntimeError(f"write not visible: {symbol}")
    if phases is not None:
        for k, v in (("parse_s", t1 - t0), ("merge_s", t2 - t1),
                     ("write_s", t3 - t2), ("swap_s", t4 - t3)):
            phases.setdefault(k, []).append(v)
    return vdir


# ---- the run ------------------------------------------------------------

def run(spark, args, work: str, t_proc0: float, traced: bool, smoke: bool) -> dict:
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

    import oracle_serving

    ctx = setup(spark, work, smoke)
    ctx["spark"] = spark
    # storage accounting forces garbage collections, which would disturb
    # the ops after it: traced runs only
    n_rdd, store_mib = storage(spark) if traced else (0, 0.0)
    records = []  # (op, answer, error, version dir, seconds, traced)
    spans = Spans()
    collects: list[tuple[str, float, float, float, int]] = []  # op, wall, plan, transfer, rows
    phases: dict = {}
    orig_collect = ClassicDataFrame.collect

    def traced_collect(df):
        t0 = time.perf_counter()
        rows, plan_s, _, transfer_s = split_collect(df)
        collects.append((cur_op[0], time.perf_counter() - t0, plan_s, transfer_s, len(rows)))
        return rows

    cur_op = [""]

    def do(i: int, op: dict, trace_this: bool):
        op_id = f"op{i}"
        cur_op[0] = op_id
        if trace_this:
            spark.sparkContext.setJobGroup(op_id, op["kind"])
            ClassicDataFrame.collect = traced_collect
        start = time.time()
        t0 = time.perf_counter()
        ans, err = None, None
        try:
            if op["kind"] == "write":
                ans = write(ctx, op, phases if trace_this else None)
            else:
                ans = read(ctx, op, i)
        except Exception as e:  # a failed op is counted, never dropped
            err = f"{type(e).__name__}: {e}"[:300]
        dt = time.perf_counter() - t0
        if trace_this:
            ClassicDataFrame.collect = orig_collect
            spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        spans.add(op_id, op["kind"], start, time.time())
        version = ans if op["kind"] == "write" and err is None else ctx["srv"].versions[-1]
        records.append((op, ans, err, version, dt, trace_this))
        return dt

    # cold pass: one op of each kind, first touch
    t0 = time.perf_counter()
    for j, op in enumerate(cold_ops(ctx["funcs"], args.seed)):
        do(-1 - j, op, traced)
    first_pass_s = time.perf_counter() - t0
    n_cold = len(records)
    n_rdd_cold = storage(spark)[0] if traced else 0

    stream = make_stream(ctx["funcs"], args.seed, 1000)
    t_start = time.perf_counter()
    setup_s = t_start - t_proc0  # process start to the first timed op
    i = 0
    # whole blocks until the time is up. Traced runs trace every other
    # read and the write of every other block, and run at least two
    # blocks, so each kind has traced and plain samples.
    while (time.perf_counter() - t_start < args.seconds or i % BLOCK
           or (traced and i < 2 * BLOCK)):
        parity = (i // BLOCK) if stream[i]["kind"] == "write" else i
        do(i, stream[i], traced and parity % 2 == 0)
        i += 1
    timed = records[n_cold:]

    # correctness, outside the timed region
    failures = oracle_serving.check(ctx, records)
    attempted = len(records)
    reads = [r[4] for r in timed if r[0]["kind"] != "write"]
    blocks = [sum(r[4] for r in timed[b:b + BLOCK]) for b in range(0, len(timed), BLOCK)]
    out = {
        "attempted": attempted, "failed": len(failures), "failures": failures[:5],
        "provenance": {"tree_files": ctx["tree_files"], "tree_hash": ctx["tree_hash"]},
        "metrics": {
            "setup_s": (setup_s, "s"),
            "pass_s": (median(blocks), "s"),
            "op_ms": (median(reads) * 1e3, "ms"),  # median read
        },
    }
    if traced:
        growth = storage(spark)[0] - n_rdd_cold
        out["layers"] = _layers(ctx, records, spans, collects, phases, n_rdd, store_mib, growth)
        out["layers"]["first_pass_s"] = first_pass_s
    return out


def _layers(ctx, records, spans, collects, phases, n_rdd, store_mib, growth) -> dict:
    """Benchmark-side per-layer values of a traced run; ``layers.py``
    adds the event-log part over ``ops``."""
    samples: dict[bool, dict[str, list[float]]] = {True: {}, False: {}}
    for op, _, _, _, dt, tr in records:
        samples[tr].setdefault(op["kind"], []).append(dt * 1e3)
    by_kind = {**samples[True], **samples[False]}  # plain samples where a kind has any
    traced_ops = [(s.op, s.start, s.end, s.name) for s, r in zip(spans.items, records) if r[5]]
    plain_reads = [r[4] for r in records if not r[5] and r[0]["kind"] != "write"]
    traced_reads = [r[4] for r in records if r[5] and r[0]["kind"] != "write"]
    return {
        "ops": traced_ops,
        "collects": collects,
        "services": {k: median(v) for k, v in by_kind.items()},
        "phases": {k: median(v) for k, v in phases.items()},
        "sources": (ctx["ingest_s"], ctx["rows"]),
        "graph": (ctx["warm_s"], n_rdd, store_mib, growth),
        "overhead": (median(traced_reads) / median(plain_reads) - 1)
        if plain_reads and traced_reads else 0.0,
    }
