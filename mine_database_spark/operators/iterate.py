"""The one round loop every iterative operator runs on.

A fixpoint or fixed-round loop over DataFrames must cut lineage every
round (an uncheckpointed chain multiplies the logical plan per round),
decide when to stop, and say whether it stopped because the answer
settled or because the round cap ran out. `iterate` makes those three
decisions for every loop in the package; callers supply only the round.
"""

from __future__ import annotations


def _checkpoint(state):
    if isinstance(state, tuple):
        return tuple(map(_checkpoint, state))
    return state.localCheckpoint(eager=True)


def iterate(first, step, *, max_rounds: int | None, done=None) -> tuple[list, bool]:
    """Run `step` round after round; return `(history, converged)`.

    A state is a DataFrame or a tuple of DataFrames. `history[0]` is
    `first`, used as given (checkpoint it first when `done` or the first
    round reads it more than once); every later entry is the state
    `step(history)` built lazily, with each of its DataFrames eagerly
    local-checkpointed before the next round starts. History keeps every
    round's checkpoint alive until the caller drops it.

    After each round `done(prev, new)` — one Spark action over the
    checkpointed states — may stop the loop; `converged` is True iff it
    did. With `done=None` the loop runs exactly `max_rounds` rounds and
    `converged` is False. `max_rounds=None` lifts the cap and is only for
    loops that provably terminate, so it requires a `done`.

    Local checkpoints live in executor storage: a lost executor fails the
    query instead of recomputing the round.
    """
    if max_rounds is None and done is None:
        raise ValueError("max_rounds=None needs a done() that ends the loop")
    history = [first]
    while max_rounds is None or len(history) <= max_rounds:
        history.append(_checkpoint(step(history)))
        if done is not None and done(history[-2], history[-1]):
            return history, True
    return history, False
