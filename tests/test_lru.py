"""codegraph_spark.lru.LRU: the one bounded memo behind every engine
cache (serving's dataset groups, load_table's plans, spread, the stream
schema, memo_cols and the JPEG tables)."""

from __future__ import annotations

from codegraph_spark.lru import LRU


def test_changed_stamp_rebuilds_in_place():
    lru = LRU(4)
    assert lru.get("k", lambda: "v1", stamp=1) == "v1"
    assert lru.get("k", lambda: "unused", stamp=1) == "v1"  # same stamp: hit
    assert lru.get("k", lambda: "v2", stamp=2) == "v2"
    assert list(lru.entries) == ["k"]  # the stale entry was replaced
    assert lru.entries["k"] == (2, "v2")


def test_hit_moves_entry_to_most_recent():
    evicted = []
    lru = LRU(2, on_evict=lambda k, v: evicted.append(k))
    lru.get("a", lambda: 1)
    lru.get("b", lambda: 2)
    lru.get("a", lambda: 0)  # hit: "b" is now least recent
    assert list(lru.entries) == ["b", "a"]
    lru.get("c", lambda: 3)
    assert evicted == ["b"]
    assert list(lru.entries) == ["a", "c"]


def test_past_maxsize_evicts_least_recent_once_per_victim():
    evicted = []
    lru = LRU(3, on_evict=lambda k, v: evicted.append((k, v)))
    for i in range(7):
        lru.get(i, lambda i=i: i * 10)
    assert evicted == [(0, 0), (1, 10), (2, 20), (3, 30)]
    assert list(lru.entries) == [4, 5, 6]


def test_pop_skips_on_evict():
    evicted = []
    lru = LRU(2, on_evict=lambda k, v: evicted.append(k))
    lru.get("a", lambda: 1)
    assert lru.pop("a") == 1
    assert not lru.entries and evicted == []
