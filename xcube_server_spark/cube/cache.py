"""Tile byte caches (SURVEY.md §2.1/§4 cache hierarchy): a memory LRU and
an optional disk tier. The reference serves tiles from one LRU memory cache
(``xcube_server/context.py:80-93``; mechanics ``xcube_server/cache.py:202-410``)
and evicts once the cache passes 0.75 of its capacity.

The TileService composes these for PNG bytes; anything hashable→bytes works.
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

    def get(self, key) -> bytes | None:
        with self._lock:
            value = self._data.get(key)
            if value is not None:
                self._data.move_to_end(key)
            return value

    def put(self, key, value: bytes) -> None:
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


class FileByteCache:
    """Disk tier of the tile-cache hierarchy (reference memory→file cache:
    ``xcube_server/defaults.py:42-46`` — 20 GB cap, default OFF — and
    ``xcube_server/cache.py:202-410`` FileCacheStore).

    Content-addressed by a hash of the key; survives process restarts (the
    constructor re-scans the directory), evicts oldest-mtime files past
    ``EVICTION_THRESHOLD`` of capacity. Writes are atomic (tmp + rename) so
    a concurrent reader never sees a torn entry.
    """

    def __init__(self, path: str, capacity: int = 20 * 1000**3):
        import os
        import threading

        self.path = path
        self.capacity = capacity
        self._lock = threading.Lock()
        os.makedirs(path, exist_ok=True)

    def _file_for(self, key) -> str:
        import hashlib
        import os

        h = hashlib.sha256(repr(key).encode()).hexdigest()
        return os.path.join(self.path, f"{h}.bin")

    def __len__(self) -> int:
        import glob
        import os

        return len(glob.glob(os.path.join(self.path, "*.bin")))

    def get(self, key) -> bytes | None:
        import os

        fp = self._file_for(key)
        try:
            with open(fp, "rb") as f:
                data = f.read()
            os.utime(fp, None)  # LRU recency = mtime
            return data
        except OSError:
            return None

    def put(self, key, value: bytes) -> None:
        import glob
        import os

        fp = self._file_for(key)
        with self._lock:
            tmp = fp + ".tmp"
            with open(tmp, "wb") as f:
                f.write(value)
            os.replace(tmp, fp)
            files = []
            total = 0
            for p in glob.glob(os.path.join(self.path, "*.bin")):
                try:
                    st = os.stat(p)
                except OSError:
                    continue
                files.append((st.st_mtime, st.st_size, p))
                total += st.st_size
            if total > self.capacity * EVICTION_THRESHOLD:
                files.sort()  # oldest first
                for _, size, p in files:
                    if p == fp or total <= self.capacity * EVICTION_THRESHOLD:
                        continue
                    try:
                        os.remove(p)
                        total -= size
                    except OSError:
                        pass
