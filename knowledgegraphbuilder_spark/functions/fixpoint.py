"""The two iteration drivers of the graph operators.

``fixpoint`` runs a convergence loop (peeling, label propagation to a
fixed point, star contraction) and ``bfs_levels`` runs a frontier loop
(level-synchronous BFS). Both pin every round with an eager
``localCheckpoint``: an iterative plan left lazy grows with each round,
and a nondeterministic stage recomputed from a long lineage can disagree
with itself (see plans/pipeline.py). A convergence loop either reaches
its fixed point or raises; it never returns the state its last allowed
round left.
"""

from __future__ import annotations

from typing import Callable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _signature(df: DataFrame) -> tuple:
    """(row count, xor of every row's xxhash64 over its columns in name
    order), one job. Neither row order nor column order changes it."""
    cols = ", ".join(f"`{c}`" for c in sorted(df.columns))
    return tuple(df.agg(F.count("*"), F.expr(f"bit_xor(xxhash64({cols}))")).first())


def fixpoint(
    step: Callable[[DataFrame], DataFrame],
    state: DataFrame,
    max_rounds: int,
    what: str,
) -> DataFrame:
    """Apply ``state = step(state)`` until a round leaves the state
    unchanged, and return that state.

    Each round's output is pinned with an eager localCheckpoint, and the
    state is unchanged when its signature — row count plus the bit_xor of
    ``xxhash64`` over all columns, one aggregate job — equals the previous
    round's. Precondition: state rows are distinct (two equal rows would
    cancel in the xor). A step may reorder the state's columns.

    Raises RuntimeError naming ``what`` if round ``max_rounds`` still
    changed the state.
    """
    state = state.localCheckpoint(eager=True)
    sig = _signature(state)
    for _ in range(max_rounds):
        nxt = step(state).localCheckpoint(eager=True)
        nsig = _signature(nxt)
        if nsig == sig:
            return nxt
        state, sig = nxt, nsig
    raise RuntimeError(f"{what} did not converge within max_rounds={max_rounds}")


def bfs_levels(
    start: DataFrame,
    advance: Callable[[DataFrame, int], DataFrame],
    keys: Sequence[str],
    max_hops: int,
) -> list[DataFrame]:
    """Level-synchronous BFS: level 0 is ``start``; at hop h,
    ``advance(level, h)`` proposes the next level's rows from the previous
    level, proposals whose ``keys`` are already settled (in any earlier
    level) are dropped by an anti-join, and the rest are pinned as level h.

    Stops at the first empty level or after ``max_hops`` hops and returns
    the non-empty levels, level 0 first. A row settles at the first hop
    that proposes its keys, so ``max_hops`` truncates coverage, never the
    hop at which a row is found.
    """
    keys = list(keys)
    level = start.localCheckpoint(eager=True)
    levels = [level]
    settled = level.select(*keys)
    for h in range(1, max_hops + 1):
        level = (
            advance(level, h).join(settled, keys, "left_anti").localCheckpoint(eager=True)
        )
        if level.isEmpty():
            break
        levels.append(level)
        settled = settled.unionAll(level.select(*keys)).localCheckpoint(eager=True)
    return levels
