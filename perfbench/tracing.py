"""Traced-run support: benchmark-side spans and the Spark event-log
reader that attributes engine work to them.

Spans are recorded only around calls the benchmark makes into the
engine's public functions; nothing inside ``codegraph_spark`` is
instrumented. Spark's own event log (uncompressed, switched on from
outside the engine by ``common.pin_environment``) supplies jobs,
stages, task metrics, SQL plan shapes and metrics, and streaming
progress. A job belongs to the op whose job group it carries; a job
carrying no benchmark group (streaming micro-batches set their own)
belongs to the op whose span contains its submission time — the load
is one closed-loop client, so ops never overlap.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import Counter, defaultdict
from dataclasses import dataclass, field

#: physical operators that run a Python worker
PY_NODES = ("MapInPandas", "MapInArrow", "FlatMapGroupsInPandas",
            "FlatMapCoGroupsInPandas", "ArrowEvalPython", "BatchEvalPython",
            "AggregateInPandas", "WindowInPandas",
            "FlatMapGroupsInPandasWithState", "PythonMapInArrow")

#: event-log SQL metric name -> per-layer key
PY_METRICS = {
    "time to run Python workers": "py_run_s",
    "time to start Python workers": "py_boot_s",
    "time to initialize Python workers": "py_boot_s",
    "data sent to Python workers": "py_sent_mib",
    "data returned from Python workers": "py_recv_mib",
}


@dataclass
class Span:
    op: str  # the op (and job group) this span belongs to
    name: str  # "row", "construct", "noop", "collect", or a code_serving op kind
    start: float  # epoch seconds
    end: float
    parent: str | None = None


@dataclass
class Spans:
    items: list[Span] = field(default_factory=list)

    def add(self, op: str, name: str, start: float, end: float,
            parent: str | None = None) -> None:
        self.items.append(Span(op, name, start, end, parent))


def split_collect(df) -> tuple[list, float, float, float]:
    """``df.collect()`` as pyspark's classic DataFrame does it, timed in
    three parts: plan (force the physical plan), execute
    (``collectToPython``: the job runs there) and transfer (JVM-side
    pickling, the socket and unpickling). Returns (rows, plan s,
    execute s, transfer s)."""
    from pyspark.serializers import BatchedSerializer, CPickleSerializer
    from pyspark.traceback_utils import SCCallSiteSync
    from pyspark.util import _load_from_socket

    t0 = time.perf_counter()
    df._jdf.queryExecution().executedPlan()
    t1 = time.perf_counter()
    with SCCallSiteSync(df._sc):
        sock_info = df._jdf.collectToPython()
    t2 = time.perf_counter()
    rows = list(_load_from_socket(sock_info, BatchedSerializer(CPickleSerializer())))
    return rows, t1 - t0, t2 - t1, time.perf_counter() - t2


def union_length(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _unit(metric_type: str, value: float) -> float:
    return {"timing": value / 1e3, "nsTiming": value / 1e9,
            "size": value / 2**20}.get(metric_type, value)


class EventLog:
    """The parts of one application's event log the benchmark uses."""

    def __init__(self, log_dir: str):
        self.jobs: list[dict] = []
        self.tasks_by_stage: dict[int, list[dict]] = defaultdict(list)
        self.plans: dict[int, Counter] = {}  # sql execution id -> node names of its last plan
        self.acc_meta: dict[int, tuple[str, str, bool]] = {}  # id -> (name, type, python node)
        self.acc_by_stage: dict[int, dict[int, float]] = defaultdict(lambda: defaultdict(float))
        self.progress: list[dict] = []
        ends: dict[int, int] = {}
        for path in sorted(glob.glob(os.path.join(log_dir, "*", "events_*"))) + sorted(
            p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)
        ):
            with open(path) as fh:
                for line in fh:
                    self._event(json.loads(line), ends)
        for j in self.jobs:
            j["end"] = ends.get(j["id"], j["submit"]) / 1e3

    def _plan_info(self, info: dict, nodes: Counter) -> None:
        name = info.get("nodeName", "")
        nodes[name] += 1
        for m in info.get("metrics", []):
            self.acc_meta[m["accumulatorId"]] = (m["name"], m["metricType"], name in PY_NODES)
        for c in info.get("children", []):
            self._plan_info(c, nodes)

    def _event(self, e: dict, ends: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            self.jobs.append({
                "id": e["Job ID"], "submit": e["Submission Time"] / 1e3,
                "stages": e["Stage IDs"],
                "group": props.get("spark.jobGroup.id"),
                "sql": props.get("spark.sql.execution.id"),
            })
        elif kind == "SparkListenerJobEnd":
            ends[e["Job ID"]] = e["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            info, m = e["Task Info"], e.get("Task Metrics") or {}
            stage = e["Stage ID"]
            self.tasks_by_stage[stage].append({"info": info, "m": m})
            for a in info.get("Accumulables", []):
                if a["ID"] in self.acc_meta and "Update" in a:
                    try:
                        self.acc_by_stage[stage][a["ID"]] += float(a["Update"])
                    except (TypeError, ValueError):
                        pass
        elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
            nodes: Counter = Counter()
            self._plan_info(e.get("sparkPlanInfo") or {}, nodes)
            self.plans[e["executionId"]] = nodes
        elif kind.endswith("QueryProgressEvent"):
            self.progress.append(e["progress"])

    def attribute(self, ops: list[tuple[str, float, float]]) -> dict[str, dict]:
        """Per-op totals. ``ops`` = (op id, start, end) in epoch seconds;
        op ids double as job-group ids."""
        ids = {o[0] for o in ops}
        spans = sorted(ops, key=lambda o: o[1])

        def owner(job) -> str | None:
            if job["group"] in ids:
                return job["group"]
            for op, s, e in spans:  # a foreign group (streaming) or none
                if s <= job["submit"] <= e:
                    return op
            return None

        out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
        job_intervals: dict[str, list] = defaultdict(list)
        seen_sql: dict[str, set] = defaultdict(set)
        seen_stages: set[int] = set()  # a stage a later job reuses ran once
        for job in sorted(self.jobs, key=lambda j: j["id"]):
            op = owner(job)
            if op is None:
                continue
            agg = out[op]
            agg["jobs"] += 1
            job_intervals[op].append((job["submit"], job["end"]))
            if job["sql"] is not None and job["sql"] not in seen_sql[op]:
                seen_sql[op].add(job["sql"])
                plan = self.plans.get(int(job["sql"]), Counter())
                agg["exchanges"] += plan["Exchange"]
                agg["broadcasts"] += plan["BroadcastExchange"]
                agg["python_nodes"] += sum(plan[n] for n in PY_NODES)
            for st in job["stages"]:
                if st in seen_stages:
                    continue
                seen_stages.add(st)
                tasks = self.tasks_by_stage.get(st, [])
                if tasks:
                    agg["stages"] += 1
                for t in tasks:
                    info, m = t["info"], t["m"]
                    run = m.get("Executor Run Time", 0) / 1e3
                    dur = (info["Finish Time"] - info["Launch Time"]) / 1e3
                    agg["tasks"] += 1
                    agg["task_run_s"] += run
                    agg["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    agg["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    agg["scheduler_delay_s"] += max(0.0, dur - run - (
                        m.get("Executor Deserialize Time", 0)
                        + m.get("Result Serialization Time", 0)) / 1e3)
                    sr = m.get("Shuffle Read Metrics") or {}
                    agg["shuffle_read_mib"] += (sr.get("Remote Bytes Read", 0)
                                                + sr.get("Local Bytes Read", 0)) / 2**20
                    sw = m.get("Shuffle Write Metrics") or {}
                    agg["shuffle_write_mib"] += sw.get("Shuffle Bytes Written", 0) / 2**20
                    agg["spill_mib"] += (m.get("Memory Bytes Spilled", 0)
                                         + m.get("Disk Bytes Spilled", 0)) / 2**20
                for acc, v in self.acc_by_stage.get(st, {}).items():
                    name, mtype, py = self.acc_meta[acc]
                    if name in PY_METRICS:
                        agg[PY_METRICS[name]] += _unit(mtype, v)
                    elif py and name == "number of output rows":
                        agg["py_rows"] += v
        for p in self.progress:
            t = _iso_epoch(p.get("timestamp"))
            op = next((o for o, s, e in spans if t is not None and s <= t <= e), None)
            if op is None:
                continue
            agg = out[op]
            agg["stream_batches"] += 1
            agg["drain_s"] += (p.get("durationMs") or {}).get("triggerExecution", 0) / 1e3
            for so in p.get("stateOperators") or []:
                agg["state_rows"] += so.get("numRowsTotal", 0)
                agg["state_mib"] += so.get("memoryUsedBytes", 0) / 2**20
        for op, intervals in job_intervals.items():
            out[op]["job_wall_s"] = union_length(intervals)
        return out


def _iso_epoch(ts: str | None) -> float | None:
    import datetime

    if not ts:
        return None
    return datetime.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()
