"""Delta iteration — the one round loop behind the frontier graph
operators (``bfs_hops``, ``temporal_reach``, ``weighted_sssp`` and
``random_walks`` in ``operators/graph.py``).

This is the Pregel/Flink incremental-iteration form, not naive
transitive closure. Each round expands only the FRONTIER (the rows a
round produced), never the whole state, so total join work is
O(edges within the explored ball), not O(rounds x edges). The
operator supplies two rules:

* ``relax(edges, frontier, state, rnd)`` builds round ``rnd``'s new
  frontier (rounds count from 1) from the pinned edges, last round's
  frontier and the standing state;
* ``merge(state, frontier)`` folds a non-empty frontier into the
  state.

Scale shape, owned here so that every operator gets the same one:

* the edge state is repartitioned by ``src`` ONCE and
  ``localCheckpoint``-ed; every round's frontier join hashes on the
  same key, so the edge side never re-exchanges;
* the seed and each round's frontier are checkpointed EAGERLY
  (repartitioned on ``key`` first, when one is given) — the cut keeps
  the iterated lineage flat, and the materialization is the round's
  only job besides the probe;
* the early-exit probe is an ``isEmpty`` on that already-materialized
  frontier (no recomputation), and an empty round is not merged;
* at most ``max_rounds`` rounds run;
* the edge state is freed on exit: ``merge`` never reads it, so the
  returned state does not reference it.

``merge`` owns the state's checkpoint rule. A state that is a union of
checkpointed frontiers has lineage depth 1 and needs none; a state
rebuilt by a join takes a LAZY checkpoint, cut as a side effect of the
next round's frontier job, so no round schedules a job of its own for
it (at gate scale the per-round fixed job overhead IS the cost).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame

from .memo import unpersist_checkpointed


def delta_iterate(
    edges: DataFrame,
    seed: DataFrame,
    relax: Callable[[DataFrame, DataFrame, DataFrame, int], DataFrame],
    merge: Callable[[DataFrame, DataFrame], DataFrame],
    max_rounds: int,
    key: tuple[str, ...] = ("node",),
) -> DataFrame:
    """Run ``relax``/``merge`` rounds from ``seed`` until a round's
    frontier is empty or ``max_rounds`` rounds ran; return the state.
    ``edges`` must have a ``src`` column; ``seed`` is the round-0
    frontier and state."""

    def pin(df: DataFrame) -> DataFrame:
        return (df.repartition(*key) if key else df).localCheckpoint()

    edges = edges.repartition("src").localCheckpoint()
    state = frontier = pin(seed)
    for rnd in range(1, max_rounds + 1):
        new = pin(relax(edges, frontier, state, rnd))
        if new.isEmpty():
            break
        state = merge(state, new)
        frontier = new
    unpersist_checkpointed(edges)
    return state
