"""The round loop shared by the iterative operators, and the one bounded
read of an ``observe()`` metric."""

from __future__ import annotations

import threading
from typing import Any, Callable

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

# Bound on one ``Observation.get``. The metrics arrive once the
# observed frame's action has finished, which every caller has already
# waited for, so a healthy read returns within the listener-bus
# delivery delay; an observation whose frame never ran blocks forever.
OBSERVED_WAIT_S = 120.0


def observed(obs: Observation) -> dict[str, Any]:
    """``obs.get``, or ``TimeoutError`` after ``OBSERVED_WAIT_S``. The get
    runs on a daemon thread, so a stuck one cannot hold up interpreter
    exit (``ThreadPoolExecutor`` workers are joined at exit)."""
    box: list = []

    def read() -> None:
        try:
            box.append(obs.get)
        except Exception as e:  # re-raised by the waiting caller
            box.append(e)

    t = threading.Thread(target=read, daemon=True)
    t.start()
    t.join(OBSERVED_WAIT_S)
    if t.is_alive():
        msg = f"observation {obs._name!r}: no metrics in {OBSERVED_WAIT_S} s"
        raise TimeoutError(msg)
    if isinstance(box[0], Exception):
        raise box[0]
    return box[0]


def iterate(
    state: DataFrame, step: Callable, rounds: int, changed: Column | None = None
) -> DataFrame:
    """Run ``state = step(state, r)`` for ``r`` in ``0 .. rounds - 1``.

    Fixed rounds (``changed`` is None): every round but the last is
    materialized with ``localCheckpoint(eager=True)``, so each round's
    plan stays round-sized. r16's interleaved cold-JVM A/B on pagerank
    (local[32], min of 5 reps) measured checkpointing every 1 / 2 / 8
    rounds at 3.28 s / 3.86 s / 4.30 s: an unrolled job replans and
    re-sorts every round's sort-merge subtree under AQE, and a state
    read by several subtrees per round (k-core's pruned edges, the BFS
    and label-propagation self-union) would be recomputed. The last
    round stays lazy because the caller's action consumes it once.

    Fixpoint mode: ``changed`` is a boolean Column over the stepped
    frame, which carries the pre-round value as an extra column for it.
    Every round is checkpointed, because that checkpoint is the action
    that ``observe`` of ``coalesce(sum(changed), 0)`` rides on; the
    state is projected back to its columns and the loop stops after
    the first round that changes nothing (``rounds`` is a cap).
    """
    columns = state.columns
    for r in range(rounds):
        state = step(state, r)
        if changed is not None:
            obs = Observation(f"iterate_changed_r{r}")
            n_changed = F.coalesce(F.sum(changed.cast("long")), F.lit(0))
            state = state.observe(obs, n_changed.alias("changed"))
            state = state.select(*columns).localCheckpoint(eager=True)
            if observed(obs)["changed"] == 0:
                break
        elif r + 1 < rounds:
            state = state.localCheckpoint(eager=True)
    return state
