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
) -> tuple[DataFrame, int]:
    """Apply ``step`` round after round; return the final state and the
    number of rounds run. Each round ends in a lazy
    ``localCheckpoint(eager=False)``, so round k never replays 1..k-1.

    Without ``witness``, exactly ``rounds`` rounds run. With it, each
    round computes one driver scalar (a label sum, a kept-row count)
    and the loop halts at the first round whose value equals the
    previous one's, so it runs at least two rounds. The witness must
    move whenever the state does (a sum of labels that only fall, a
    count that only grows), so an unchanged value is a fixpoint.
    Running out of ``rounds`` first raises ``RuntimeError`` naming
    ``step``: a witnessed loop never returns an unconverged state."""
    if witness is None and rounds is None:
        raise ValueError("supersteps needs rounds, a witness, or both")
    prev, n = _UNSET, 0
    while rounds is None or n < rounds:
        state = step(state).localCheckpoint(eager=False)
        n += 1
        if witness is not None:
            cur = witness(state)
            if cur == prev:
                return state, n
            prev = cur
    if witness is not None:
        raise RuntimeError(f"{step.__qualname__} did not converge within {rounds} rounds")
    return state, n
