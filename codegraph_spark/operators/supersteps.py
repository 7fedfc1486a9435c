"""The one superstep loop of the iterative DataFrame operators: each
round maps the state relation to its successor (typically one join plus
a group-by over the vertex relation) and one global aggregate decides
when to halt — Pregel on a dataflow engine, as in Pregelix (VLDB 2014).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame

_UNSET = object()


def supersteps(
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    rounds: int | None = None,
    witness: Callable[[DataFrame], object] | None = None,
    start_witness: object = _UNSET,
) -> tuple[DataFrame, int, object]:
    """Apply ``step`` round after round; return the final state, the
    number of rounds run and the last witness value (``None`` without a
    witness). Each round ends in a ``localCheckpoint``, so round k never
    replays 1..k-1. It is lazy when a witness follows, whose one job
    materializes the round. Without a witness it is eager: otherwise
    the next round's concurrent stages would each first-compute the
    lazy checkpoint, and Spark's checkpoint marking can then deadlock
    against its scheduler (seen on ``personalized_pagerank``).

    Without ``witness``, exactly ``rounds`` rounds run. With it, each
    round computes one driver scalar (a label sum, a kept-row count)
    and the loop halts at the first round whose value equals the
    previous one's. The witness must move whenever the state does (a
    sum of labels that only fall, a count that only grows), so an
    unchanged value is a fixpoint. A caller that already holds the
    input state's witness value passes it as ``start_witness``: a loop
    whose first round changes nothing then stops after that round
    instead of running a second, confirming one. Running out of
    ``rounds`` first raises ``RuntimeError`` naming ``step``: a
    witnessed loop never returns an unconverged state."""
    if witness is None and rounds is None:
        raise ValueError("supersteps needs rounds, a witness, or both")
    prev, n = start_witness, 0
    while rounds is None or n < rounds:
        state = step(state).localCheckpoint(eager=witness is None)
        n += 1
        if witness is not None:
            cur = witness(state)
            if cur == prev:
                return state, n, cur
            prev = cur
    if witness is not None:
        raise RuntimeError(f"{step.__qualname__} did not converge within {rounds} rounds")
    return state, n, None
