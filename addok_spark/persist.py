"""Persisted intermediates, scoped to one unit of work.

Spark plans are trees, so a relation one plan references more than
once re-executes its subtree per reference (at sf0.1, 4-10 redundant
tokenize scans per query). ``shared()`` persists it (MEMORY_AND_DISK by
default: spills, never OOMs) so the subtree runs once. This module is
the only code that persists or unpersists.

The active scope lives in a ``ContextVar``, so a thread never sees, or
releases, another thread's scope (Spark keys its cache by plan: two
scopes that persist identical plans share one entry, and the first
released frees it for both); with none active ``shared()`` persists
nothing, so a direct library call cannot leak. ``with scope():``
releases on every way out (CDC batches, the build's analyzed stage);
``scoped(fn)`` releases when the DataFrame ``fn`` returns is
garbage-collected (every ``QUERIES`` entry). Rule (anti-gaming
invariant): nothing survives across operator invocations.
"""

from __future__ import annotations

import functools
import weakref
from contextlib import contextmanager
from contextvars import ContextVar

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

_ACTIVE: ContextVar[list | None] = ContextVar("persist_scope", default=None)


def shared(
    df: DataFrame, level: StorageLevel = StorageLevel.MEMORY_AND_DISK
) -> DataFrame:
    """Persist ``df`` into the active scope (lazily: the first action
    that touches it materializes it); with none active, return it as is."""
    held = _ACTIVE.get()
    if held is not None:
        held.append(df.persist(level))
    return df


def _release(held: list[DataFrame]) -> None:
    while held:  # newest first: no cache outlives one it reads
        try:
            held.pop().unpersist()
        except Exception:  # session already stopped — nothing to free
            pass


@contextmanager
def scope():
    """Persist what ``shared()`` marks inside the block; release it on
    every way out."""
    held: list[DataFrame] = []
    token = _ACTIVE.set(held)
    try:
        yield held
    finally:
        _ACTIVE.reset(token)
        _release(held)


def scoped(fn):
    """``fn`` run in a fresh scope that is released when the DataFrame
    it returns is garbage-collected (at once if ``fn`` raises). A
    DataFrame derived from a released result still computes the same
    rows; it reads the inputs again."""

    @functools.wraps(fn)
    def run(*args, **kwargs) -> DataFrame:
        with scope() as held:
            out = fn(*args, **kwargs)
            weakref.finalize(out, _release, list(held)).atexit = False
            held.clear()
        return out

    return run
