"""The ``headline`` workload: one cold pass, then warm passes, over a
frozen list of ``bench.py`` HEADLINE rows from both execution lanes,
each collected in full, in a seeded order per pass, after the tables
they read are decoded once and the Python worker pool is started.

Every row's first answer is checked once per run, outside the timed
region, against its DuckDB oracle (``__spark_entry__.oracle_sql()``);
every later pass must digest-equal the first.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import random
import time

from common import DATA_DIR, ORACLE_TABLES, STATE, Timer, median, result_digest, storage
from tracing import Spans, split_collect

#: the JVM-lane rows (bench.py HEADLINE rows outside PY_KERNEL_QUERIES)
#: that read the tables directly: scan/aggregate, join, six-way join,
#: window top-k, first-per-group, exact dedup, streaming drain. Graph
#: traversal runs on the code graph in ``code_serving``.
JVM_ROWS = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_supplier_volume",
    "o6_top5_orders_per_customer",
    "a8_first_event_per_user",
    "dedup_exact",
    "stream_hourly_counts",
)

#: the Python-lane rows (bench.py PY_KERNEL_QUERIES; Arrow mapInPandas
#: kernels): the three stdlib codecs, the HTML tokenizer, the WARC walk
PY_ROWS = (
    "mm_png_roundtrip",
    "mm_jpeg_roundtrip",
    "mm_wav_roundtrip",
    "text_html_extract_dirty",
    "web_warc_extract",
)

#: 12 of bench.py's 41 rows: each run pays a JVM start and its set-up,
#: and a full comparison (4 + 22 runs per workload) must finish within
#: 3420 s (DESIGN.md)
ROWS = JVM_ROWS + PY_ROWS


def setup(spark) -> dict:
    """A full-width decode of every table through the engine's loader,
    then the Python worker pool."""
    from pyspark.sql import functions as F

    from codegraph_spark.sources.tables import load_table

    with Timer() as ingest:
        rows = 0
        for t in ORACLE_TABLES:
            df = load_table(spark, DATA_DIR, t)
            rows += df.agg(F.count(F.lit(1)), *[F.count(c) for c in df.columns]).collect()[0][0]
    spark.range(32).mapInPandas(lambda it: it, "id long").count()
    return {"ingest_s": ingest.s, "rows": rows}


def _oracle_digest(name: str, sql: str) -> str:
    """DuckDB answer digest, cached by (row, data, SQL hash)."""
    key = hashlib.sha256(f"{DATA_DIR}|{sql}".encode()).hexdigest()[:16]
    cache = os.path.join(STATE, "oracle", f"{name}-{key}.json")
    if os.path.exists(cache):
        with open(cache) as fh:
            return json.load(fh)["digest"]
    import duckdb

    con = duckdb.connect()
    try:
        for t in ORACLE_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{DATA_DIR}/{t}.parquet')")
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        digest = result_digest(cols, cur.fetchall())
    finally:
        con.close()
    os.makedirs(os.path.dirname(cache), exist_ok=True)
    tmp = cache + f".{os.getpid()}"
    with open(tmp, "w") as fh:
        json.dump({"row": name, "digest": digest}, fh)
    os.replace(tmp, cache)
    return digest


def pass_order(names, seed: int, k: int) -> list[str]:
    """Row order of pass ``k`` (0 = the cold pass) under ``seed``."""
    return random.Random(f"{seed}:{k}").sample(list(names), len(names))


def _set_group(spark, op: str | None) -> None:
    if op is None:
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    else:
        spark.sparkContext.setJobGroup(op, op)


def run_pass(spark, fns, order, traced: bool, spans: Spans, tag: str, split: dict):
    """One pass; returns (wall seconds, [(row, seconds, columns, rows,
    error)]). A row that raises is recorded with its error, never
    dropped. A traced pass runs each row under its own job group, split
    into construct, noop-sink execute and a collect timed as plan,
    execute and transfer; ``split`` collects those values per row."""
    out = []
    t_pass = time.perf_counter()
    for name in order:
        op = f"{tag}:{name}"
        start = time.time()
        t0 = time.perf_counter()
        cols, rows, err = [], None, None
        try:
            if not traced:
                df = fns[name](spark, DATA_DIR)
                cols, rows = df.columns, df.collect()
            else:
                cols, rows = _traced_row(spark, fns[name], name, op, spans, split)
        except Exception as e:  # counted as a failed op
            err = f"{type(e).__name__}: {e}"[:300]
        dt = time.perf_counter() - t0
        spans.add(op, "row", start, time.time(), parent=tag)
        out.append((name, dt, cols, rows, err))
    return time.perf_counter() - t_pass, out


def _traced_row(spark, fn, name: str, op: str, spans: Spans, split: dict):
    try:
        _set_group(spark, op)
        with Timer() as c:
            df = fn(spark, DATA_DIR)
        _set_group(spark, op + ":noop")
        with Timer() as n:
            df.write.format("noop").mode("overwrite").save()
        _set_group(spark, op)
        with Timer() as k:
            rows, plan_s, _, transfer_s = split_collect(df)
    finally:
        _set_group(spark, None)
    for sp, nm in ((c, "construct"), (n, "noop"), (k, "collect")):
        spans.add(op, nm, sp.start, sp.end, parent="row")
    row = split.setdefault(name, {})
    for nm, v in (("construct", c.s), ("noop", n.s), ("collect", k.s), ("plan", plan_s),
                  ("transfer", transfer_s), ("rows", len(rows))):
        row.setdefault(nm, []).append(v)
    return df.columns, rows


def run(spark, args, t_proc0: float, traced: bool, smoke: bool) -> dict:
    from __spark_entry__ import oracle_sql, queries

    fns, oracles = queries(), oracle_sql()
    info = setup(spark)
    spans, split = Spans(), {}

    order = pass_order(ROWS, args.seed, 0)
    first_pass_s, cold = run_pass(spark, fns, order, traced, spans, "cold", split)
    # storage accounting forces garbage collections: traced runs only
    n_rdd_cold, store_mib = storage(spark) if traced else (0, 0.0)
    warm_passes, plain_walls, traced_walls = [], [], []
    t_start = time.perf_counter()
    setup_s = t_start - t_proc0  # process start to the first timed op
    k = 0
    while (not warm_passes or time.perf_counter() - t_start < args.seconds
           or (traced and k < 2)):
        # traced runs alternate plain and traced passes, at least one each
        tr = traced and k % 2 == 1
        wall, res = run_pass(spark, fns, pass_order(ROWS, args.seed, k + 1), tr, spans,
                             f"warm{k}", split if tr else {})
        (traced_walls if tr else plain_walls).append(wall)
        warm_passes.append((wall, res))
        k += 1
        if smoke and not (traced and k < 2):
            break

    # correctness, outside the timed region
    failures = []
    first = {}
    for name, _, cols, rows, err in cold:
        if err is not None:
            failures.append(f"{name}: {err}")
            continue
        first[name] = result_digest(cols, rows)
        want = _oracle_digest(name, oracles[name]) if name in oracles else None
        if want is not None and first[name] != want:
            failures.append(f"{name}: oracle mismatch {first[name]} != {want}")
    for _, res in warm_passes:
        for name, _, cols, rows, err in res:
            if err is not None:
                failures.append(f"{name}: {err}")
            elif name in first and result_digest(cols, rows) != first[name]:
                failures.append(f"{name}: pass result differs from the first pass")
    attempted = len(ROWS) * (1 + len(warm_passes))
    lat = [r[1] for _, res in warm_passes for r in res]
    out = {
        "attempted": attempted, "failed": len(failures), "failures": failures[:5],
        "metrics": {
            "setup_s": (setup_s, "s"),
            "pass_s": (median([w for w, _ in warm_passes]), "s"),
            # geometric mean: the rows' latencies sit in clusters with
            # gaps, and a median jumps between them from run to run
            "op_ms": (math.exp(sum(map(math.log, lat)) / len(lat)) * 1e3, "ms"),
        },
    }
    if traced:
        n_rdd_end, _ = storage(spark)
        plain = warm_passes[::2]
        out["layers"] = {
            "spans": spans, "split": split,
            "row_s": {n: median([r[1] for _, res in plain for r in res if r[0] == n])
                      for n in ROWS},
            "sources": (info["ingest_s"], info["rows"]),
            "graph": (0.0, n_rdd_cold, store_mib, n_rdd_end - n_rdd_cold),
            "first_pass_s": first_pass_s,
            "traced_passes": [f"warm{i}" for i in range(1, k, 2)],
            "overhead": (median(traced_walls) / median(plain_walls) - 1)
            if plain_walls and traced_walls else 0.0,
        }
    return out
