"""One bounded least-recently-used memo for every engine cache.

Standard library only, so Python workers (the JPEG codec) import it
for nothing."""

from __future__ import annotations

from collections import OrderedDict
from collections.abc import Callable, Hashable


class LRU:
    """At most ``maxsize`` entries. ``entries`` maps key -> (stamp,
    value), least recent first; read it or ``pop`` from it freely,
    only :meth:`get` evicts."""

    def __init__(self, maxsize: int, on_evict: Callable | None = None) -> None:
        self.maxsize = maxsize
        self.on_evict = on_evict
        self.entries: OrderedDict = OrderedDict()

    def get(self, key: Hashable, build: Callable[[], object], stamp: object = None) -> object:
        """The value for ``key``: built on a miss, rebuilt in place when
        the stored stamp differs from ``stamp``. Marks it most recent,
        then evicts least recent first past ``maxsize``, calling
        ``on_evict(key, value)`` once per victim."""
        hit = self.entries.get(key)
        if hit is None or hit[0] != stamp:
            hit = self.entries[key] = (stamp, build())
        self.entries.move_to_end(key)
        while len(self.entries) > self.maxsize:
            k, (_, v) = self.entries.popitem(last=False)
            if self.on_evict is not None:
                self.on_evict(k, v)
        return hit[1]

    def pop(self, key: Hashable) -> object:
        """Remove ``key`` without calling ``on_evict``; return its value."""
        return self.entries.pop(key)[1]
