"""Skew mitigation for hub keys.

Code graphs are zipfian: a handful of hub symbols (logger, error type)
attract most REFERENCES/CALLS edges, so shuffling by symbol sends one
partition 1000× the median load. Two standing mitigations:

1. AQE skew-join splitting is always on (session.py) — Spark splits
   oversized partitions at runtime. That covers sort-merge joins.
2. For deliberate control (or non-join aggregations over a skewed key)
   this module provides explicit salting: spread each hot key over
   ``n_salt`` sub-keys, do the heavy work per sub-key, then combine.

Both keep results identical to the unsalted plan — only the shuffle
layout changes. (The reference never faces this: Neo4j resolves hub
symbols through a BTREE index on a single node —
/root/reference/pkg/schema/schema.go:82-203; at 100 TB the index
becomes the shuffle, and the shuffle must be balanced.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(
    skewed: DataFrame,
    other: DataFrame,
    on: list[str],
    n_salt: int = 16,
) -> DataFrame:
    """Inner equi-join where *skewed* has hub values in ``on``.

    The skewed side gets a deterministic salt derived from its full row
    (xxhash64 % n_salt), so a hub key's rows spread over ``n_salt``
    shuffle partitions; *other* is replicated once per salt value via
    an exploded literal range (an ``n_salt``-fold dup of the small side
    — use only when *other* is the dimension side). Result equals
    ``skewed.join(other, on)`` row-for-row.
    """
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in skewed.columns]), F.lit(n_salt))
    left = skewed.withColumn("_salt", salt)
    right = other.withColumn(
        "_salt", F.explode(F.array([F.lit(i) for i in range(n_salt)]))
    )
    return left.join(right, on + ["_salt"]).drop("_salt")


def salted_count_distinct(
    df: DataFrame, group_key: str, distinct_col: str, n_salt: int = 16
) -> DataFrame:
    """``groupBy(key).agg(countDistinct(col))`` for hub keys: phase 1
    dedups (key, col) within (key, salt) sub-groups, phase 2 combines —
    the hot key's dedup state is sharded instead of single-partition.
    Returns ``(group_key, n_distinct)``."""
    salt = F.pmod(F.xxhash64(F.col(distinct_col)), F.lit(n_salt))
    phase1 = (
        df.select(group_key, distinct_col)
        .withColumn("_salt", salt)
        .groupBy(group_key, "_salt")
        .agg(F.countDistinct(distinct_col).alias("_n"))
    )
    # distinct values land in exactly one salt shard (salt is a pure
    # function of the value), so the final combine is a plain sum.
    return phase1.groupBy(group_key).agg(F.sum("_n").alias("n_distinct"))


def salted_self_pairs(
    df: DataFrame,
    keys: list[str],
    id_col: str,
    n_salt: int = 16,
    hot_threshold: int = 1024,
) -> DataFrame:
    """Candidate-pair generation ``(doc_a < doc_b sharing a key value)``
    — the self-equi-join behind shingle / LSH-bucket dedup — with hub
    keys balanced. One output row per (key co-occurrence, unordered
    pair), exactly like the plain self-join.

    Keys are split hot/cold by document frequency (one broadcast of the
    hot-key list). Cold keys self-join as usual. For hot keys the left
    side is salted by ``xxhash64(id) % n_salt`` and the right side is
    replicated once per salt value, so a key of frequency f emits its
    f²/2 pairs from ``n_salt`` tasks of ~f/n_salt build rows each
    instead of one f-row task. Each (a, b) pair still appears exactly
    once: b-replicas join only the single a-salt shard that owns a.

    The quadratic OUTPUT of a hub key is inherent to the operator (the
    pairs exist); what salting bounds is per-task build size and the
    stragglers. At 100 TB pair stopword shingles with a doc-frequency
    cutoff upstream (drop grams with df > corpus_fraction from
    candidate generation and re-verify survivors exactly).

    Fused single-join form (r13, guide §3): instead of splitting the
    input into hot/cold frames and unioning two self-joins (four scans
    of ``df``, two joins), a broadcast left join tags each row hot or
    cold and ONE self-join handles both: cold rows carry salt 0 on both
    sides (plain pairing), hot rows salt the left side by id and
    replicate the right side ``n_salt`` ways. A hot pair (a, b) matches
    exactly at salt xxhash64(a)%n_salt; a cold pair at salt 0; a key is
    globally hot or cold so no cross terms exist — the output multiset
    is identical to the split form (pinned by test_skew.py's
    plain-join equality and fuzz tests).
    """
    from functools import reduce

    if n_salt < 1:
        raise ValueError(f"n_salt must be >= 1, got {n_salt}")
    freq = df.groupBy(*keys).agg(F.count("*").alias("_n"))
    hot_keys = F.broadcast(
        freq.filter(F.col("_n") > hot_threshold)
        .select(*keys)
        .withColumn("_hot", F.lit(True))
    )
    marked = df.join(hot_keys, list(keys), "left")
    left = marked.withColumn(
        "_salt",
        F.when(
            F.col("_hot").isNotNull(),
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_salt)),
        ).otherwise(F.lit(0)),
    ).drop("_hot")
    right = marked.withColumn(
        "_salt",
        F.explode(
            F.when(
                F.col("_hot").isNotNull(),
                F.sequence(F.lit(0), F.lit(n_salt - 1)),
            ).otherwise(F.array(F.lit(0)))
        ),
    ).drop("_hot")
    a, b = left.alias("a"), right.alias("b")
    cond = (
        reduce(
            lambda x, y: x & y,
            [F.col(f"a.{k}") == F.col(f"b.{k}") for k in keys],
        )
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        & (F.col("a._salt") == F.col("b._salt"))
    )
    return a.join(b, cond).select(
        F.col(f"a.{id_col}").alias("doc_a"),
        F.col(f"b.{id_col}").alias("doc_b"),
    )
