"""One session memo for shared preps and trained values.

Several operators read one derived relation from more than one side
(shingle sets, lattice preps, hashed features), and a few queries train
the same driver-local result on the same corpus (BPE merge rows,
perceptron weights). Both kinds of reuse go through this module:

- ``persisted(kind, df)`` persists ``df`` unless an equal plan is already
  cached. Spark's CacheManager keys cached relations by plan and
  substitutes one into every equal plan, so the memo keeps no key of
  its own: it only holds the handles it persisted, to bound how many
  stay cached.
- ``value(kind, src, params, compute)`` returns ``compute()``'s result,
  computed once per (kind, source plan, params); the source plan is
  matched by ``semanticHash`` and confirmed by ``sameSemantics``.

Both share one lock-guarded list, oldest first, capped at ``CAP``
entries; a value hit moves its entry to the end. ``clear()`` drops
everything and ``stats()`` reports per-kind hits, misses and evictions.

Reuse contract: an entry is served to an equal *plan*, exactly like
Spark's own cache. A path rewritten through Spark
(``df.write.mode("overwrite")``) reads fresh with no further step;
files rewritten outside Spark read fresh after
``spark.catalog.refreshByPath(path)``, which Spark's cache needs
anyway. ``spark.catalog.clearCache()`` releases every persisted entry
(the memo notices and persists again on the next miss). Values are
driver-local and keyed on the plan alone, so they survive both
``clearCache()`` and ``refreshByPath``: a caller that must retrain
calls ``clear()``.
"""

from __future__ import annotations

import threading
from collections import defaultdict
from typing import Any, Callable

from pyspark import StorageLevel
from pyspark.sql import DataFrame

# Evicting a persisted prep that an un-executed plan still references
# dissolves its materialization boundary: the consumers re-inline the
# interpreted quantize/shingle tree into per-PAIR expressions (the 4.5×
# verify slowdown tests/test_plans.py ceilings). The cap therefore
# covers the worst-case LIVE relations of a sweep that builds every
# prep before executing any (about 15: eleven families, two of them
# holding two relations per call) plus the trained values (a few per
# corpus), with margin. Entries are at most corpus-projection size.
CAP = 32

_lock = threading.Lock()
# (kind, frame, semanticHash, params, result); hash None = a persisted handle
_entries: list[tuple[str, DataFrame, int | None, tuple, Any]] = []
_stats: dict[str, dict[str, int]] = defaultdict(
    lambda: {"hits": 0, "misses": 0, "evictions": 0}
)


def _evict_over_cap() -> None:
    while len(_entries) > CAP:
        kind, df, h, _, _ = _entries.pop(0)
        _stats[kind]["evictions"] += 1
        if h is None:
            _unpersist(df)


def _unpersist(df: DataFrame) -> None:
    try:
        df.unpersist()
    except Exception:  # noqa: BLE001 — a dead session must not poison the next query
        pass


def persisted(kind: str, df: DataFrame) -> DataFrame:
    """``df`` persisted ``MEMORY_AND_DISK``, or as it is when an equal
    plan is already cached."""
    with _lock:
        if df.storageLevel != StorageLevel.NONE:
            _stats[kind]["hits"] += 1
            return df
        _stats[kind]["misses"] += 1
        # Handles released underneath the memo (clearCache, a caller's
        # unpersist) go first: once ``df`` is cached, an equal dead
        # handle would read as live, and evicting it would uncache ``df``.
        _entries[:] = [
            e for e in _entries if e[2] is not None or e[1].storageLevel != StorageLevel.NONE
        ]
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        _entries.append((kind, df, None, (), None))
        _evict_over_cap()
        return df


def value(kind: str, src: DataFrame, params: tuple, compute: Callable[[], Any]) -> Any:
    """``compute()``, memoized per (kind, ``src`` plan, ``params``). The
    result is shared between callers, so it should be immutable (tuples).
    An unhashable ``src`` plan computes every time."""
    try:
        h = src.semanticHash()
    except Exception:  # noqa: BLE001 — the memo is an optimization, never a gate
        h = None
    if h is not None:
        with _lock:
            for i, (k, esrc, eh, eparams, result) in enumerate(_entries):
                if (k, eh, eparams) == (kind, h, params) and _same(esrc, src):
                    _entries.append(_entries.pop(i))
                    _stats[kind]["hits"] += 1
                    return result
    with _lock:
        _stats[kind]["misses"] += 1
    result = compute()
    if h is not None:
        with _lock:
            _entries.append((kind, src, h, params, result))
            _evict_over_cap()
    return result


def _same(a: DataFrame, b: DataFrame) -> bool:
    try:
        return a.sameSemantics(b)
    except Exception:  # noqa: BLE001
        return False


def clear() -> None:
    """Drop every entry (unpersisting the handles) and reset the stats."""
    with _lock:
        for _, df, h, _, _ in _entries:
            if h is None:
                _unpersist(df)
        _entries.clear()
        _stats.clear()


def stats() -> dict[str, dict[str, int]]:
    """Per-kind ``{"hits", "misses", "evictions"}`` since the last ``clear()``."""
    with _lock:
        return {k: dict(v) for k, v in _stats.items()}
