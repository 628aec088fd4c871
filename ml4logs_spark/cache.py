"""Tracked persist: operators that must materialize an intermediate
(diamond-DAG nodes like curate's gated frame, conv_offsets' ranged
sizes, the IVF codebook) register it here so long-lived sessions
(bench loops, oracle sweeps) can release everything between iterations
instead of accumulating cached blocks until executor memory pressures.

``track(df)`` persists-and-registers; ``release_all()`` unpersists every
still-cached tracked frame. Weak references would be nicer but
DataFrame wrappers don't outlive their JVM plan anyway — an explicit
release point is the honest contract: callers that loop call
``release_all()`` (bench.py does, per iteration family); one-shot
pipelines can ignore it and let the session's end clean up.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark import StorageLevel

_TRACKED: list[DataFrame] = []


def track(df: DataFrame, storage_level: StorageLevel | None = None) -> DataFrame:
    """Persist ``df`` and register it for a later ``release_all()``."""
    df = df.persist(storage_level) if storage_level is not None else df.persist()
    _TRACKED.append(df)
    return df


def release_all(mark: int = 0) -> int:
    """Unpersist every frame tracked after the first ``mark``; returns
    how many were released. Safe to call repeatedly — already-unpersisted
    frames are a no-op."""
    n = 0
    while len(_TRACKED) > mark:
        df = _TRACKED.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:
            # a stopped session invalidates the handle; nothing to free
            pass
    return n


@contextmanager
def scope():
    """Release tracked persists created inside the block on exit —
    the looping-caller ergonomics ADVICE r4 asked for: a caller that
    invokes build_vocab/conv_offsets/curate per iteration wraps each
    iteration in ``with cache.scope():`` instead of having to know
    about ``release_all()``. Frames tracked BEFORE the scope opened are
    left alone (only the scope's own additions release), so scopes
    nest and long-lived outer caches survive inner loops."""
    mark = len(_TRACKED)
    try:
        yield
    finally:
        release_all(mark)
