"""Parquet table loaders for the driver-generated synthetic tables.

All scans go through ``spark.read.parquet`` so Catalyst applies column
pruning + predicate pushdown; callers should ``select``/``filter`` as
early as possible and let the optimizer push into the scan. At cluster
scale these would be partitioned/bucketed external tables; locally they
are single parquet files.
"""

from __future__ import annotations

import os
from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


#: (applicationId, abspath(sf_dir), name) → (stamp, lazy plan), where
#: stamp = (mtime_ns, size). A catalog stand-in (r12):
#: `spark.read.parquet` re-reads the file footer and re-infers the
#: schema on EVERY call — ~90 ms per call on this box, paid once per
#: table per query invocation, which dominated sub-second queries'
#: bench time. A registered external table (the cluster deployment)
#: resolves schema from the metastore instead; this memo is that
#: behavior. Only the UNRESOLVED LAZY PLAN is cached — no rows, no
#: persist: every action still scans parquet. The stamp in the VALUE
#: (r13, was part of the key) self-revalidates when a test rewrites
#: the file in-session AND evicts the prior entry on replacement, so
#: an in-session rewrite no longer accumulates stale plans (r12
#: ADVICE). The whole dict is additionally LRU-capped — a long serving
#: session cycling many dataset dirs stays bounded.
_PLAN_CACHE: OrderedDict[tuple, tuple[tuple, DataFrame]] = OrderedDict()
_PLAN_CACHE_MAX = 256  # 10 tables/dir → ~25 dataset dirs retained


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise ValueError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        st = os.stat(path)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None  # e.g. non-local path: fall through, never cache
    key = (
        spark.sparkContext.applicationId,
        os.path.abspath(sf_dir),
        name,
    )
    if stamp is not None:
        hit = _PLAN_CACHE.get(key)
        if hit is not None and hit[0] == stamp:
            _PLAN_CACHE.move_to_end(key)
            return hit[1]
    if name == "events":
        # events.ts is parquet TIMESTAMP(NANOS) — Spark has no nanosecond
        # timestamp type, so the session reads the raw int64 (nanosAsLong,
        # session.py) and this truncates it to micros (integer division:
        # a double cast would lose precision at 1e18).
        df = spark.read.parquet(path)
        from pyspark.sql import functions as F

        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    else:
        df = spark.read.parquet(path)
    if stamp is not None:
        _PLAN_CACHE[key] = (stamp, df)  # replaces any stale-stamp entry
        _PLAN_CACHE.move_to_end(key)
        while len(_PLAN_CACHE) > _PLAN_CACHE_MAX:
            _PLAN_CACHE.popitem(last=False)
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


#: (id(input df), keys, parallelism) → (input df ref, spread output).
#: The partition probe (`df.rdd.getNumPartitions()`) costs a physical
#: planning pass (~40 ms); since inputs are the _PLAN_CACHE's stable
#: objects, one probe per (table, keys) per session suffices. The
#: input ref in the value pins the object so id() cannot be recycled;
#: the LRU cap (r13, r12 ADVICE) bounds how many DataFrames stay
#: pinned when callers pass non-cached inputs (e.g. a non-stat-able
#: path makes load_table return a fresh frame per call).
_SPREAD_CACHE: OrderedDict[tuple, tuple[DataFrame, DataFrame]] = OrderedDict()
_SPREAD_CACHE_MAX = 128


def spread(df: DataFrame, *keys: str) -> DataFrame:
    """Hash-repartition ``df`` across the session's parallelism ONLY
    when the scan arrives under-partitioned (r12, guide §2.5 input
    skew): the driver's single-file/single-row-group corpus cannot be
    split at the scan, so a per-row-heavy projection downstream would
    run on one core of N. On a real multi-file layout the partition
    count already meets the parallelism and this is literally a no-op —
    no extra exchange is paid at 100 TB (an unconditional repartition
    would re-shuffle the whole corpus there). The partition probe reads
    the physical scan layout, no job runs."""
    par = df.sparkSession.sparkContext.defaultParallelism
    key = (id(df), keys, par)
    hit = _SPREAD_CACHE.get(key)
    if hit is not None and hit[0] is df:
        _SPREAD_CACHE.move_to_end(key)
        return hit[1]
    out = df if df.rdd.getNumPartitions() >= par else df.repartition(par, *keys)
    _SPREAD_CACHE[key] = (df, out)
    _SPREAD_CACHE.move_to_end(key)
    while len(_SPREAD_CACHE) > _SPREAD_CACHE_MAX:
        _SPREAD_CACHE.popitem(last=False)
    return out
