"""The engine's one LRU: thread-safe, bounded by the summed weight of
its entries (bytes for decoded tables, 1 per entry for open file
handles), with hit / miss / weight counters.

Every user caches values derived from IMMUTABLE files (split parquet,
versioned term stats), so an entry never goes stale under its key and
the cache is only ever a speed-up: a miss re-reads the file.
"""

from __future__ import annotations

import threading
from collections import OrderedDict
from typing import Callable, Hashable


class LRU:
    """``max_bytes`` is a zero-argument callable read at every insert,
    so a module-level budget can be resized at runtime (node config)."""

    def __init__(self, max_bytes: Callable[[], int]) -> None:
        self._max_bytes = max_bytes
        self._data: OrderedDict = OrderedDict()  # key -> (value, nbytes)
        self._lock = threading.Lock()
        self.hits = 0
        self.misses = 0
        self.bytes = 0

    def __len__(self) -> int:
        return len(self._data)

    def get(self, key: Hashable):
        """The cached value (now most-recently used), or None."""
        with self._lock:
            got = self._data.get(key)
            if got is None:
                self.misses += 1
                return None
            self._data.move_to_end(key)
            self.hits += 1
            return got[0]

    def put(self, key: Hashable, value, nbytes: int):
        """Insert ``value`` unless another thread got there first, then
        evict least-recently used entries until the weight fits the
        budget. Returns the value now cached under ``key``. A value that
        alone exceeds the budget is returned uncached and evicts
        nothing: it could never stay, so it must not empty the cache."""
        with self._lock:
            got = self._data.get(key)
            if got is not None:
                self._data.move_to_end(key)
                return got[0]
            cap = self._max_bytes()
            if nbytes > cap:
                return value
            self._data[key] = (value, nbytes)
            self.bytes += nbytes
            while self.bytes > cap:
                self.bytes -= self._data.popitem(last=False)[1][1]
            return value

    def retain(self, keep: Callable[[Hashable], bool]) -> None:
        """Drop every entry whose key fails ``keep``."""
        with self._lock:
            for key in [k for k in self._data if not keep(k)]:
                self.bytes -= self._data.pop(key)[1]

    def clear(self) -> None:
        """Drop every entry; the hit/miss counters keep counting."""
        with self._lock:
            self._data.clear()
            self.bytes = 0
