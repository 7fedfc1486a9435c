"""Self-checks of the benchmark itself.

    python3 -m pytest perfbench/test_perfbench.py -q

The seed checks take a second; each smoke check runs both workloads
once in one process (sf0.001 and an 18-file tree) and takes a few
minutes at most.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import code_serving  # noqa: E402
import headline  # noqa: E402
import layers  # noqa: E402

ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


def test_same_seed_same_inputs(tmp_path):
    a = code_serving.load_tree(str(tmp_path / "a"), True)
    b = code_serving.load_tree(str(tmp_path / "b"), True)
    assert a == b
    for seed in (1, 2):
        assert code_serving.make_stream(a, seed, 3) == code_serving.make_stream(b, seed, 3)
        assert code_serving.cold_ops(a, seed) == code_serving.cold_ops(b, seed)
        for k in range(3):
            assert headline.pass_order(headline.ROWS, seed, k) == headline.pass_order(
                list(headline.ROWS), seed, k)
    assert code_serving.make_stream(a, 1, 3) != code_serving.make_stream(a, 2, 3)
    assert headline.pass_order(headline.ROWS, 1, 1) != headline.pass_order(headline.ROWS, 2, 1)


def test_stream_shape(tmp_path):
    funcs = code_serving.load_tree(str(tmp_path), True)
    ops = code_serving.make_stream(funcs, 3, 10)
    assert len(ops) == 10 * code_serving.BLOCK
    for b in range(10):
        block = ops[b * code_serving.BLOCK:(b + 1) * code_serving.BLOCK]
        assert sum(op["kind"] == "write" for op in block) == 1
        assert sum("zz_mis" in str(op.get("arg")) for op in block) == code_serving.MISSES
    edits = [op["new"] for op in ops if op["kind"] == "write"]
    assert len(set(edits)) == len(edits)


def test_layer_catalog_is_declared():
    declared = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert declared == layers.catalog()


def _smoke(trace: int) -> dict[str, dict]:
    """workload name -> its result line"""
    t0 = time.time()
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "all", "--smoke",
         "--seed", "3", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    assert time.time() - t0 < 600
    lines = [json.loads(x) for x in p.stdout.splitlines() if x.startswith("{")]
    # each result line follows its workload's provenance line
    results = {a["workload"]: b for a, b in zip(lines, lines[1:])
               if "workload" in a and "correct" in b}
    assert sorted(results) == sorted(w["name"] for w in SPEC["workloads"])
    return results


def _check_declared(results: dict[str, dict], section: str) -> None:
    declared = {m["name"]: m["unit"] for m in SPEC[section]}
    for r in results.values():
        assert set(r) == {"correct", "attempted", "failed", "metrics"}
        assert r["correct"] and r["failed"] == 0 and r["attempted"] >= 1
        got = {k: v["unit"] for k, v in r["metrics"].items()}
        assert got == declared


def test_smoke_untraced():
    results = _smoke(0)
    _check_declared(results, "end_to_end")
    for r in results.values():
        assert all(v["value"] > 0 for v in r["metrics"].values())


#: per-layer metrics each workload exercises, so a broken span, job-group
#: attribution or SQL-metric name reads 0 and fails here
EXERCISED = {
    "headline": [
        "sources.ingest_s", "sources.rows", "warmup.first_pass_s", "queries.construct_s",
        *[f"queries.{r}_s" for r in headline.ROWS],
        "catalyst.plan_s", "catalyst.exchanges", "catalyst.python_nodes",
        "exec.noop_s", "exec.jobs", "exec.stages", "exec.tasks", "exec.task_run_s",
        "exec.task_cpu_s", "exec.busy_frac", "collect.transfer_s", "collect.rows",
        "operators.py_run_s", "operators.py_sent_mib", "operators.py_recv_mib",
        "operators.py_rows", "streaming.drain_s", "streaming.batches",
        "streaming.state_rows", "host.calib_jvm_s", "host.calib_py_s",
    ],
    "code_serving": [
        "sources.ingest_s", "sources.rows", "graph.warm_s", "graph.persisted_rdds",
        "graph.cached_mib", "warmup.first_pass_s",
        *[f"services.{k}_p50_ms" for k in layers.READ_KINDS], "services.write_p50_ms",
        "services.jobs_per_op", "exec.jobs", "exec.tasks", "exec.task_run_s",
        "catalyst.plan_s", "collect.rows", "upsert.parse_s", "upsert.merge_s",
        "upsert.write_s", "serving.swap_s", "host.calib_jvm_s", "host.calib_py_s",
    ],
}


def test_smoke_traced():
    results = _smoke(1)
    _check_declared(results, "per_layer")
    for name, must in EXERCISED.items():
        got = results[name]["metrics"]
        assert [m for m in must if got[m]["value"] <= 0] == [], name
