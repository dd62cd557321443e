"""Application-scoped cache of compiled constraint plans.

Both plan compilers lower a schema to an immutable, column-name-anchored
Column tree, so one compile serves every DataFrame of the same shape in the
same Spark application (the reference's Compiler.Compile cache). Driver-side
py4j construction dominates repeated validation for deep schemas, and the
runner, streaming micro-batches and best-of-N callers would otherwise pay it
on every call.

Entries hold JVM object handles, so the key always starts with the
SparkContext's ``applicationId``: a restarted context never sees a stale
handle. The cache is FIFO-bounded; a build that raises caches nothing.
"""

from __future__ import annotations

import threading
from typing import Any, Callable

__all__ = ["PlanCache"]


class PlanCache:
    """Bounded FIFO map of ``(applicationId, *key)`` → compiled plan."""

    def __init__(self, max_entries: int = 32) -> None:
        self.max_entries = max_entries
        self._entries: dict[tuple, Any] = {}
        self._lock = threading.Lock()

    def get_or_build(self, spark, key: tuple, build: Callable[[], Any]) -> Any:
        """The entry for ``key`` in ``spark``'s application, built on a miss.

        ``build`` runs outside the lock; when two threads miss together both
        build, and both get the entry stored first."""
        full_key = (spark.sparkContext.applicationId, *key)
        with self._lock:
            hit = self._entries.get(full_key)
        if hit is not None:
            return hit
        entry = build()
        with self._lock:
            if full_key not in self._entries and len(self._entries) >= self.max_entries:
                self._entries.pop(next(iter(self._entries)))
            return self._entries.setdefault(full_key, entry)
