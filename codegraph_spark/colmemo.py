"""Bounded memo for deterministic Column-tree builders (r12).

A PySpark ``Column`` is an immutable, unresolved expression fragment
that resolves by NAME at analysis time, so the same tree can be reused
in any number of plans. Building a big tree through the column DSL,
however, pays one py4j round trip per expression node — measured
~0.3 ms each, i.e. ~0.1-0.3 s per call for the URL/HTML builders —
and the bench/driver invoke each query function afresh per pass, so
that construction cost recurs per invocation.

``memo_cols`` caches a builder's output, for its 64 most recently used
argument tuples, when every argument is a plain column NAME (str); the
wrapped builder converts names to ``F.col`` itself. Calls that pass
composite ``Column`` arguments build fresh, so semantics never depend
on the cache. Nothing here touches data — this is pure
expression-object reuse.
"""

from __future__ import annotations

import functools
from collections.abc import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

from codegraph_spark.lru import LRU


def memo_cols(build: Callable) -> Callable:
    """Memoize ``build(*cols)`` by argument names. Accepts str or
    Column arguments: str args are converted to ``F.col`` and the
    result is cached under the name tuple; any Column argument makes
    the call build fresh (uncached)."""
    cache = LRU(64)

    @functools.wraps(build)
    def cached(*args):
        if args and not all(isinstance(a, str) for a in args):
            # mixed str/Column calls still see Columns only (r12
            # ADVICE): a builder must never receive a raw str where a
            # pyspark function would interpret it as a literal
            return build(*(F.col(a) if isinstance(a, str) else a for a in args))
        return cache.get(args, lambda: build(*(F.col(a) for a in args)))

    return cached


__all__ = ["Column", "memo_cols"]
