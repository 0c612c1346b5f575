"""Bounded registry for operator-internal persisted frames.

Several operators persist an intermediate that feeds 2-3 consumers
inside one returned plan (the dedup fingerprint table, the shingle
table, LSH probe candidates).  The caller receives a lazy DataFrame,
so the operator itself has no post-materialization hook to unpersist
— and a long-lived session invoking such an operator repeatedly
would otherwise accumulate one pinned block set per call (disk-backed
blocks survive LRU eviction of the memory tier).

:func:`pin` persists a frame AND enrolls it in a bounded FIFO: once
more than ``MAX_PINNED`` operator caches are live, the oldest is
unpersisted.  Unpersisting a frame that a still-unexecuted plan
references is safe — Spark silently recomputes it — so the bound
trades repeat-compute in pathological interleavings for a hard cap
on storage growth.  Callers that materialize results promptly (every
contract query, the bench harness) never hit the bound.

:func:`release_pinned` drops everything immediately — the explicit
lifecycle hook for harnesses that want a clean storage pool between
queries (bench.py additionally calls ``spark.catalog.clearCache()``).
"""

from __future__ import annotations

import threading
from collections import deque

from pyspark.sql import DataFrame

# Interleaving hazard (ADVICE r10): if more than MAX_PINNED pinning
# operators are invoked before any returned plan materializes, the
# FIFO evicts a frame a still-lazy plan references — safe (Spark
# recomputes) but it silently re-runs the scan the pin exists to
# avoid.
MAX_PINNED = 8

_pinned: deque[DataFrame] = deque()
_lock = threading.Lock()  # registry bookkeeping only; Spark calls stay outside


def pin(df: DataFrame) -> DataFrame:
    """Persist ``df`` and enroll it in the bounded cache registry."""
    df.persist()
    evicted: list[DataFrame] = []
    with _lock:
        _pinned.append(df)
        while len(_pinned) > MAX_PINNED:
            evicted.append(_pinned.popleft())
    for old in evicted:
        try:
            old.unpersist()
        except Exception:  # session already stopped — nothing to free
            pass
    return df


def release_pinned() -> int:
    """Unpersist every registered operator cache; returns the count."""
    with _lock:
        drained = list(_pinned)
        _pinned.clear()
    n = 0
    for old in drained:
        try:
            old.unpersist()
            n += 1
        except Exception:
            pass
    return n
