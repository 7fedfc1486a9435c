"""Per-layer metrics of a traced run.

Benchmark-side spans (``headline.run_pass``, ``code_serving.run``) give
construct / plan / noop-execute / collect splits and service latencies;
Spark's event log, attributed per op by ``tracing.EventLog``, gives the
engine-side counts. Headline workloads report per warm pass (median
over traced passes); ``code_serving`` reports per traced read op (mean).
A layer a workload does not exercise reports 0.
"""

from __future__ import annotations

import os
import time

from code_serving import BLOCK_READS, indexed
from common import DATA_DIR, cpu_count, median
from headline import ROWS
from tracing import EventLog

READ_KINDS = tuple(k for k, _ in BLOCK_READS)

#: event-log totals -> (per-layer name, unit)
EXEC = {
    "jobs": ("exec.jobs", "count"), "stages": ("exec.stages", "count"),
    "tasks": ("exec.tasks", "count"), "task_run_s": ("exec.task_run_s", "s"),
    "task_cpu_s": ("exec.task_cpu_s", "s"),
    "scheduler_delay_s": ("exec.scheduler_delay_s", "s"), "gc_s": ("exec.gc_s", "s"),
    "shuffle_read_mib": ("exec.shuffle_read_mib", "MiB"),
    "shuffle_write_mib": ("exec.shuffle_write_mib", "MiB"),
    "spill_mib": ("exec.spill_mib", "MiB"),
    "exchanges": ("catalyst.exchanges", "count"),
    "broadcasts": ("catalyst.broadcasts", "count"),
    "python_nodes": ("catalyst.python_nodes", "count"),
    "py_run_s": ("operators.py_run_s", "s"), "py_boot_s": ("operators.py_boot_s", "s"),
    "py_sent_mib": ("operators.py_sent_mib", "MiB"),
    "py_recv_mib": ("operators.py_recv_mib", "MiB"),
    "py_rows": ("operators.py_rows", "count"),
    "drain_s": ("streaming.drain_s", "s"), "stream_batches": ("streaming.batches", "count"),
    "state_rows": ("streaming.state_rows", "count"),
    "state_mib": ("streaming.state_mib", "MiB"),
}


def catalog() -> dict[str, str]:
    """Every per-layer metric name -> unit, in print order."""
    return {
        "sources.ingest_s": "s", "sources.rows": "count",
        "graph.warm_s": "s", "graph.persisted_rdds": "count",
        "graph.rdd_growth": "count", "graph.cached_mib": "MiB",
        "warmup.first_pass_s": "s", "queries.construct_s": "s",
        **{f"queries.{r}_s": "s" for r in ROWS},
        "catalyst.plan_s": "s", "exec.noop_s": "s", "exec.busy_frac": "ratio",
        "collect.transfer_s": "s", "collect.rows": "count",
        **{n: u for n, u in EXEC.values()},
        **{f"services.{k}_p50_ms": "ms" for k in READ_KINDS},
        "services.write_p50_ms": "ms", "services.jobs_per_op": "count",
        "upsert.parse_s": "s", "upsert.merge_s": "s", "upsert.write_s": "s",
        "serving.swap_s": "s", "serving.stale_reindex": "count",
        "host.calib_jvm_s": "s", "host.calib_py_s": "s",
        "trace.overhead_frac": "ratio", "ops.failed_frac": "ratio",
    }


def _calib_jvm(spark) -> float:
    """The shape of bench.py's JVM calibration probe (lineitem scan + two
    aggregates, best of 5) over this benchmark's sf0.001 lineitem; not
    comparable with bench.py's sf0.1 reference time."""
    from pyspark.sql import functions as F

    li = spark.read.parquet(os.path.join(DATA_DIR, "lineitem.parquet"))
    best = float("inf")
    for _ in range(5):
        t0 = time.perf_counter()
        li.agg(F.sum("l_quantity"), F.count("l_orderkey")).collect()
        best = min(best, time.perf_counter() - t0)
    return best


def _calib_py(spark) -> float:
    """bench.py's Python-lane calibration probe: a fixed Arrow round
    trip + numpy kernel over 2M rows, best of 5."""
    from pyspark.sql import functions as F

    def kernel(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            a = pdf["id"].to_numpy(dtype=np.int64)
            m = np.cumsum(((a * 2654435761) % 1000003) % 251)
            yield pd.DataFrame({"v": [int(m[-1]) if len(m) else 0]})

    df = spark.range(0, 2_000_000, 1, 32).mapInPandas(kernel, "v long")
    best = float("inf")
    for _ in range(5):
        t0 = time.perf_counter()
        df.agg(F.sum("v")).collect()
        best = min(best, time.perf_counter() - t0)
    return best


def collect_layers(spark, workload: str, res: dict, work: str) -> dict:
    """Benchmark-side per-layer values (needs the live session for the
    host probes and the stale re-index probe); event-log values are
    merged by :func:`add_event_log`."""
    lay = res["layers"]
    out = {n: (0.0, u) for n, u in catalog().items()}
    out["sources.ingest_s"] = (lay["sources"][0], "s")
    out["sources.rows"] = (float(lay["sources"][1]), "count")
    out["trace.overhead_frac"] = (lay["overhead"], "ratio")
    out["warmup.first_pass_s"] = (lay["first_pass_s"], "s")
    out["ops.failed_frac"] = (res["failed"] / max(1, res["attempted"]), "ratio")
    warm_s, n_rdd, mib, growth = lay["graph"]
    if workload == "code_serving":
        for k, v in lay["services"].items():
            out[f"services.{k}_p50_ms"] = (v, "ms")
        for k, v in lay["phases"].items():
            name = "serving.swap_s" if k == "swap_s" else f"upsert.{k}"
            out[name] = (v, "s")
        out["serving.stale_reindex"] = (float(stale_reindex_probe(spark, work)), "count")
    else:
        for name, v in lay["row_s"].items():
            out[f"queries.{name}_s"] = (v, "s")
    out["graph.warm_s"] = (warm_s, "s")
    out["graph.persisted_rdds"] = (float(n_rdd), "count")
    out["graph.cached_mib"] = (mib, "MiB")
    out["graph.rdd_growth"] = (float(growth), "count")
    out["host.calib_jvm_s"] = (_calib_jvm(spark), "s")
    out["host.calib_py_s"] = (_calib_py(spark), "s")
    return out


def add_event_log(res: dict, log_dir: str, app_id: str, workload: str) -> None:
    """Attribute the event log to the workload's traced ops and fold the
    totals into ``res['layer_metrics']``."""
    lay, out = res["layers"], res["layer_metrics"]
    log = EventLog(os.path.join(log_dir, f"eventlog_v2_{app_id}"))
    cores = cpu_count()
    if workload == "code_serving":
        ops = lay["ops"]
        per_op = log.attribute([o[:3] for o in ops])
        reads = [o for o in ops if o[3] != "write"]
        n = max(1, len(reads))
        tot = {}
        for op, _, _, _ in reads:
            for k, v in per_op.get(op, {}).items():
                tot[k] = tot.get(k, 0.0) + v
        plan = transfer = rows = collect_wall = 0.0
        read_ids = {o[0] for o in reads}
        for op, wall_s, plan_s, transfer_s, nrows in lay["collects"]:
            if op in read_ids:
                collect_wall += wall_s
                plan += plan_s
                transfer += transfer_s
                rows += nrows
        wall = sum(e - s for _, s, e, _ in reads)
        for k, (name, unit) in EXEC.items():
            out[name] = (tot.get(k, 0.0) / n, unit)
        out["services.jobs_per_op"] = (tot.get("jobs", 0.0) / n, "count")
        out["catalyst.plan_s"] = (plan / n, "s")
        out["collect.transfer_s"] = (transfer / n, "s")
        out["collect.rows"] = (rows / n, "count")
        out["queries.construct_s"] = ((wall - collect_wall) / n, "s")
        out["exec.noop_s"] = (tot.get("job_wall_s", 0.0) / n, "s")
        out["exec.busy_frac"] = (tot.get("task_run_s", 0.0) / max(1e-9, wall * cores), "ratio")
        return
    spans, split = lay["spans"], lay["split"]
    ops = [(s.op, s.start, s.end) for s in spans.items if s.name == "row"]
    ops += [(s.op + ":noop", s.start, s.end) for s in spans.items if s.name == "noop"]
    per_op = log.attribute(ops)
    per_pass = []
    # split[row][part] holds the cold pass, then each traced warm pass
    for j, tag in enumerate(lay["traced_passes"], start=1):
        tot: dict[str, float] = {}
        for op, _, _ in ops:
            if op.startswith(tag + ":") and not op.endswith(":noop"):
                for k, v in per_op.get(op, {}).items():
                    tot[k] = tot.get(k, 0.0) + v
        for part in ("construct", "noop", "collect", "plan", "transfer", "rows"):
            tot["_" + part] = sum(v[part][j] for v in split.values() if len(v[part]) > j)
        per_pass.append(tot)

    def med(k):
        return median([p.get(k, 0.0) for p in per_pass])

    for k, (name, unit) in EXEC.items():
        out[name] = (med(k), unit)
    out["queries.construct_s"] = (med("_construct"), "s")
    out["catalyst.plan_s"] = (med("_plan"), "s")
    out["exec.noop_s"] = (med("_noop"), "s")
    out["collect.transfer_s"] = (med("_transfer"), "s")
    out["collect.rows"] = (med("_rows"), "count")
    out["exec.busy_frac"] = (median([
        p.get("task_run_s", 0.0) / max(1e-9, (p["_construct"] + p["_collect"]) * cores)
        for p in per_pass]), "ratio")


def stale_reindex_probe(spark, work: str) -> int:
    """Once per traced ``code_serving`` run, outside the timed region:
    a same-session CLI re-index of an edited tree (``index project
    --out D``) followed by a ``--graph D`` read. Returns 1 when the read
    misses the new symbol (the re-index served stale data), else 0."""
    import shutil

    from codegraph_spark.__main__ import _build_parser, run_command

    tree = os.path.join(work, "stale_tree")
    shutil.copytree(os.path.join(work, "tree"), tree)
    out = os.path.join(work, "stale_graph")
    # the edit goes to the first file the indexer reads
    rel = min(os.path.relpath(os.path.join(d, f), tree)
              for d, _, fs in os.walk(tree) for f in fs if f.endswith(".py")
              and indexed(os.path.relpath(os.path.join(d, f), tree)))
    mod = os.path.basename(rel).removesuffix(".py")
    parse = _build_parser().parse_args
    run_command(parse(["index", "project", tree, "--out", out]), spark)
    run_command(parse(["--graph", out, "lsp", "completion", "load"]), spark)
    with open(os.path.join(tree, rel), "a") as fh:
        fh.write("\n\ndef stale_probe_fn(x):\n    return x\n")
    run_command(parse(["index", "project", tree, "--out", out]), spark)
    sym = f"scip-python pypi {mod} v0 {mod}.stale_probe_fn()."
    got = run_command(parse(["--graph", out, "lsp", "definition", sym]), spark)
    return 1 if got is None else 0
