"""Shared plumbing: environment pinning, the Spark session, statistics,
storage accounting, provenance and the dtype-faithful result compare.

Everything a run writes lives under ``<checkout>/.perfbench``: a
per-run directory (Spark local dirs, temp files, the source tree, graph
versions, the event log) that is removed when the run ends, and an
``oracle`` directory of cached DuckDB answers kept across runs.
"""

from __future__ import annotations

import decimal
import hashlib
import json
import math
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE = os.path.join(ROOT, ".perfbench")
DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.001")
SF = 0.001

#: the tables ``__spark_entry__.oracle_sql()`` reads, as DuckDB views
ORACLE_TABLES = ("region", "nation", "customer", "supplier", "part",
                 "orders", "lineitem", "events", "documents", "embeddings")


def cpu_count() -> int:
    """Cores this process may run on: ``nproc`` without the
    OMP_NUM_THREADS override."""
    return len(os.sched_getaffinity(0))


def phys_mib() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20


def driver_mem_mib() -> int:
    """Driver heap well below physical RAM (the engine's 16g default
    exceeds small hosts); the workloads need far less than 4 GiB."""
    return min(4096, phys_mib() // 4)


def pin_environment(run_dir: str, event_log_dir: str | None) -> dict:
    """Set the engine's knobs and every scratch location before the JVM
    starts. Returns the pinned values for provenance."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(STATE, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    cpus = cpu_count()
    mem = driver_mem_mib()
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{mem}m"
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    # Python workers import the engine from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    confs = {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={run_dir} -XX:-UsePerfData",
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + event_log_dir,
        })
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()
    ) + " pyspark-shell"
    return {"cpus": cpus, "driver_mem_mib": mem, "phys_mib": phys_mib()}


def new_run_dir() -> str:
    d = os.path.join(STATE, f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(d)
    return d


def remove_run_dir(run_dir: str) -> None:
    shutil.rmtree(run_dir, ignore_errors=True)


def start_spark():
    from codegraph_spark.session import get_spark

    return get_spark(app_name="perfbench")


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM pyspark launched (it exits
    when its stdin closes) and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        proc.wait(timeout=60)


# ---- statistics ---------------------------------------------------------

def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


# ---- Spark storage ------------------------------------------------------

def storage(spark) -> tuple[int, float]:
    """(persisted RDD count, MiB held in memory + on disk) once
    unreachable blocks are gone: transient local checkpoints are freed
    by Spark's cleaner only after both garbage collectors have run, so
    collect, then read until two reads agree."""
    import gc

    def read():
        infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return len(infos), sum(i.memSize() + i.diskSize() for i in infos) / 2**20

    last = None
    for _ in range(20):
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        time.sleep(0.1)
        now = read()
        if now == last:
            break
        last = now
    return now


# ---- provenance ---------------------------------------------------------

def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat: steal is time the host
    ran something else while this VM's vCPUs were ready to run."""
    try:
        with open("/proc/stat") as fh:
            fields = [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return 0, 0
    return (fields[7] if len(fields) > 7 else 0), sum(fields)


def tree_hash(root: str, exts: tuple[str, ...] = (".py",)) -> tuple[int, str]:
    """(file count, sha256 over relative paths + contents)."""
    h = hashlib.sha256()
    n = 0
    for d, dirs, files in os.walk(root):
        dirs[:] = sorted(x for x in dirs if x != "__pycache__")
        for f in sorted(files):
            if f.endswith(exts):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, root).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
                n += 1
    return n, h.hexdigest()[:16]


def code_provenance() -> dict:
    import pyspark

    n, code = tree_hash(os.path.join(ROOT, "codegraph_spark"))
    h = hashlib.sha256(code.encode())
    for f in ("bench.py", "__spark_entry__.py"):
        with open(os.path.join(ROOT, f), "rb") as fh:
            h.update(fh.read())
    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            commit = subprocess.run(
                ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                text=True, timeout=10, check=True,
            ).stdout.strip()
        except (OSError, subprocess.SubprocessError):
            commit = None
    return {"commit": commit, "code_hash": h.hexdigest()[:16],
            "pyspark": pyspark.__version__, "python": sys.version.split()[0]}


# ---- result comparison --------------------------------------------------

def norm(v) -> str:
    """Dtype-faithful rendering (the rule ``tools/drive_driver.py``
    applies): a float never renders like an int, NULL and NaN are
    distinct, nested values render element-wise."""
    if v is None:
        return "∅"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"f:{v:.6f}"
    if isinstance(v, decimal.Decimal):
        return "d:" + format(v.normalize(), "f")
    if isinstance(v, (bytes, bytearray, memoryview)):
        return "b:" + bytes(v).hex()
    if isinstance(v, dict):
        return "{" + ",".join(norm(x) for x in v.values()) + "}"
    if isinstance(v, (list, tuple)):  # pyspark Row is a tuple
        return "[" + ",".join(norm(x) for x in v) + "]"
    return str(v)


def result_digest(columns: list[str], rows) -> str:
    """Order-insensitive digest of a result: column names plus the
    sorted multiset of rendered rows, columns in name order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    body = sorted(json.dumps([norm(r[i]) for i in order]) for r in rows)
    h = hashlib.sha256(json.dumps(sorted(columns)).encode())
    for line in body:
        h.update(line.encode())
        h.update(b"\n")
    return f"{len(body)}:{h.hexdigest()[:24]}"


class Timer:
    """Wall-clock span: ``with Timer() as t: ...; t.s``."""

    def __enter__(self):
        self.t0 = time.perf_counter()
        self.start = time.time()
        return self

    def __exit__(self, *exc):
        self.s = time.perf_counter() - self.t0
        self.end = time.time()
        return False
