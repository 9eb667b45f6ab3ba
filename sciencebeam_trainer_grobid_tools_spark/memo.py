"""Bounded memo keyed by an owner object's identity.

Several driver-side builders memoize an immutable result per live object
(a SparkSession, a DataFrame handle, a py4j gateway, a mapping dict).  Each
entry holds its owner strongly, so while the entry lives no new object can
take the owner's ``id()``; a hit also checks ``is`` before it returns.  The
memo is a FIFO of at most ``maxsize`` entries.
"""

from __future__ import annotations

from collections import OrderedDict
from typing import Any, Callable, Hashable


class IdentityMemo:
    def __init__(self, maxsize: int) -> None:
        self.maxsize = maxsize
        self._entries: "OrderedDict[tuple, tuple]" = OrderedDict()

    def get(self, owner: Any, key: Hashable, build: Callable[[], Any]) -> Any:
        """The value memoized for ``(owner, key)``, built by ``build()`` on
        a miss."""
        full_key = (id(owner), key)
        hit = self._entries.get(full_key)
        if hit is not None and hit[0] is owner:
            return hit[1]
        value = build()
        self._entries[full_key] = (owner, value)
        while len(self._entries) > self.maxsize:
            self._entries.popitem(last=False)
        return value
