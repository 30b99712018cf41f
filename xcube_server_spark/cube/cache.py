"""Tile byte cache (SURVEY.md §2.1/§4 cache hierarchy): a memory LRU. The
reference serves tiles from one LRU memory cache
(``xcube_server/context.py:80-93``; mechanics ``xcube_server/cache.py:202-410``)
and evicts once the cache passes 0.75 of its capacity.

The TileService keeps PNG bytes in it, and the driver read
(``catalog.read_windows``) its decoded part files. A value is anything whose
``len`` is its size in bytes.
"""

from __future__ import annotations

import threading
from collections import OrderedDict

EVICTION_THRESHOLD = 0.75  # fraction of capacity that triggers eviction


class ByteCache:
    """Memory LRU, safe to share across request threads.

    A ``put`` that takes the cache past ``EVICTION_THRESHOLD`` of capacity
    evicts least-recently-used entries until it is back under, but never the
    entry just written.
    """

    def __init__(self, capacity: int):
        self.capacity = capacity
        self._data: OrderedDict = OrderedDict()  # oldest first
        self._used = 0
        self._lock = threading.Lock()

    def __len__(self) -> int:
        return len(self._data)

    def __contains__(self, key) -> bool:
        return key in self._data

    def get(self, key):
        with self._lock:
            value = self._data.get(key)
            if value is not None:
                self._data.move_to_end(key)
            return value

    def put(self, key, value) -> None:
        with self._lock:
            old = self._data.pop(key, None)
            if old is not None:
                self._used -= len(old)
            self._data[key] = value
            self._used += len(value)
            limit = self.capacity * EVICTION_THRESHOLD
            while self._used > limit and len(self._data) > 1:
                _, victim = self._data.popitem(last=False)
                self._used -= len(victim)
