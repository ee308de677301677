"""One memo store for corpus state built once and reused across queries:
trained quantizers, index tables, edge lists, pair frames, the silver view.

A slot is ``(name, cache_key, params, applicationId)`` and holds one
``(version, value)`` pair. The version is read off the input frame itself:
``(semanticHash, sorted inputFiles)``. Every sink commit publishes new
part files, so a re-read of a committed path carries a new file list; a
checkpointed or driver-built frame has no input files but hashes per RDD.
Re-reading an unchanged path gives an equal version, so warm queries hit.

The one invalidation rule: when the version differs, the old value is
unpersisted and rebuilt. The applicationId in the slot keeps a value
bound to one SparkSession from being handed to another. ``reset()`` drops
everything (benchmark cold paths, tests).
"""

from __future__ import annotations

import weakref
from typing import Callable, TypeVar

from pyspark.sql import DataFrame

T = TypeVar("T")

_STORE: dict[tuple, tuple[tuple, object]] = {}
_FRAME_IDS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _identity(df: DataFrame) -> tuple[str, tuple]:
    """(applicationId, version) of a frame. Both are fixed once the frame
    exists (its plan is analyzed and its files listed when it is created),
    so they are read once per frame object: a repeat lookup costs no JVM
    call and still answers after the frame's session has stopped."""
    ident = _FRAME_IDS.get(df)
    if ident is None:
        ident = _FRAME_IDS[df] = (
            df.sparkSession.sparkContext.applicationId,
            (df.semanticHash(), tuple(sorted(df.inputFiles()))),
        )
    return ident


def lookup(
    name: str,
    cache_key: str | None,
    params: tuple,
    df: DataFrame,
    build: Callable[[], T],
) -> T:
    """`build()`, memoized per version of `df` when `cache_key` is set
    (no `cache_key`: built fresh, nothing stored)."""
    if not cache_key:
        return build()
    app, ver = _identity(df)
    slot = (name, cache_key, params, app)
    held = _STORE.get(slot)
    if held is not None and held[0] == ver:
        return held[1]
    if held is not None:
        _release(held[1])
    value = build()
    _STORE[slot] = (ver, value)
    return value


def reset() -> None:
    for _, value in _STORE.values():
        _release(value)
    _STORE.clear()


def persisted(df: DataFrame) -> DataFrame:
    """persist + count: materialize an index table at build time, not on
    the first query that reads it."""
    df = df.persist()
    df.count()
    return df


def _release(value: object) -> None:
    if isinstance(value, DataFrame):
        try:
            value.unpersist()
        except Exception:
            pass
