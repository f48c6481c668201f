"""Lineage cuts and the driver loop that owns them.

Every iterative operator (pagerank, markov, dedup components, k-core
peeling, min-plus relaxation) runs the same lifecycle: step the state,
cut its lineage with an eager ``localCheckpoint`` so round N does not
replay rounds 1..N-1, test convergence, and free each superseded cut.
:func:`iterate` is that lifecycle, written once; :func:`checkpoint` and
:func:`release` are the cut and its release, also used on their own.

Each cut is one Spark job, and per-round driver coordination dominates
short iterative Spark jobs (MLlib*, ICDE 2019), so the cadence is the
caller's ``cut_every`` and convergence tests read the cut's own row count.
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Callable, Iterator

from pyspark.sql import DataFrame


def checkpoint(df: DataFrame) -> tuple[DataFrame, int]:
    """An eager localCheckpoint of ``df`` and its row count, which is the
    result of the materializing job itself (no extra job). Frees its blocks
    if computing it fails."""
    ckpt = df.localCheckpoint(eager=False)
    try:
        n_rows = ckpt._jdf.queryExecution().logical().rdd().count()
    except BaseException:
        release(ckpt)
        raise
    return ckpt, n_rows


def release(ckpt: DataFrame | None) -> None:
    """Free a checkpoint's blocks now, not when GC finds it (None: none)."""
    if ckpt is not None:
        ckpt._jdf.queryExecution().logical().rdd().unpersist(False)


@contextmanager
def checkpointed(df: DataFrame) -> Iterator[DataFrame]:
    """:func:`checkpoint` for the body of the ``with``, released on exit.
    The frame is unreadable after the ``with``."""
    staged, _ = checkpoint(df)
    try:
        yield staged
    finally:
        release(staged)


def iterate(
    step: Callable[[DataFrame], DataFrame],
    state: DataFrame,
    rounds: int,
    *,
    cut_every: int = 1,
    until: Callable[[DataFrame, int], bool] | None = None,
) -> DataFrame:
    """``state = step(state)`` for ``rounds`` rounds -> the final checkpoint.

    The state is checkpointed after every ``cut_every``-th round and after
    the last (zero rounds checkpoint the input); each checkpoint is released
    once the next has landed. ``until(ckpt, n_rows)`` runs on every
    checkpoint and stops the loop when true. The returned checkpoint is the
    only block set the loop leaves, and it leaves none when a step or
    ``until`` raises. The input ``state`` stays the caller's."""
    ckpt = None
    try:
        if rounds <= 0:
            return checkpoint(state)[0]
        for i in range(1, rounds + 1):
            state = step(state)
            if i % cut_every and i < rounds:
                continue
            state, n_rows = checkpoint(state)
            release(ckpt)
            ckpt = state
            if until is not None and until(ckpt, n_rows):
                break
        return ckpt
    except BaseException:
        release(ckpt)
        raise
