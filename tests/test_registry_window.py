"""The correctness gate records only a bounded prefix of the registry
(observed: first 50 entries). collect() orders by verification
staleness so that prefix is always the highest-information set — these
tests guard the mechanism itself."""

from __future__ import annotations

WINDOW = 50


def _last_green():
    from codegraph_spark.queries import _last_green_rounds

    return _last_green_rounds()


def test_never_verified_queries_lead_the_window():
    """Every query with no hash-green external row yet must sort before
    every already-verified query."""
    from codegraph_spark.queries import collect

    queries, _ = collect()
    names = list(queries)
    green = _last_green()

    flags = [k not in green for k in names]
    first_verified = flags.index(False) if False in flags else len(flags)
    assert all(not f for f in flags[first_verified:]), (
        "a never-verified query sorts after a verified one — it could "
        "fall outside the recorded window"
    )


def test_unverified_set_fits_in_window_or_is_flagged():
    """If the never-verified set ever outgrows the recorded window,
    some new code ships without an external correctness row — that
    situation should be loud, not silent."""
    from codegraph_spark.queries import collect

    queries, _ = collect()
    green = _last_green()
    unverified = [k for k in queries if k not in green]
    assert len(unverified) <= WINDOW, (
        f"{len(unverified)} unverified queries exceed the {WINDOW}-entry "
        f"recorded window; stop adding queries until a round verifies the "
        f"backlog: {unverified}"
    )


def test_oracle_keys_match_query_keys():
    from codegraph_spark.queries import collect

    queries, oracles = collect()
    assert set(oracles) <= set(queries)
    missing = sorted(set(queries) - set(oracles))
    assert not missing, f"queries without oracles (driver records no_oracle): {missing}"


def test_missing_query_module_raises(monkeypatch):
    """A query module that fails to import fails the registry instead of
    silently dropping its whole query family."""
    import pytest

    import codegraph_spark.queries as registry

    monkeypatch.setattr(
        registry, "_MODULES", [*registry._MODULES, "codegraph_spark.queries.no_such_module"]
    )
    with pytest.raises(ModuleNotFoundError, match="no_such_module"):
        registry.collect()
