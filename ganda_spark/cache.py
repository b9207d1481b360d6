"""Cache lifetime: the one place the engine persists and releases data.

`persist(df)` persists df and registers it with the calling thread's
innermost open `scope()`; leaving a scope unpersists what it holds. With
no scope open the persist lives for the session. Owners open a scope
around the work that reads their caches — a crawl generation, a CLI run,
a streaming micro-batch, a query entry (released when the next entry
starts), an operator's own iteration loop — so a persist that pins a
nondeterministic value (a fetch output, range-rank boundaries, a
monotonically_increasing_id stamp) outlives everything derived from it.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame

_local = threading.local()


def persist(df: DataFrame) -> DataFrame:
    """df.persist(), released when this thread's innermost scope closes."""
    df = df.persist()
    stack = getattr(_local, "stack", None)
    if stack:
        stack[-1].append(df)
    return df


class scope:
    """Yields the list of DataFrames persisted inside it and unpersists
    them on exit. A class, not a generator, so an entry scope still open
    at interpreter exit is never closed by garbage collection."""

    def __enter__(self) -> list[DataFrame]:
        self._stack = _local.__dict__.setdefault("stack", [])
        self._held: list[DataFrame] = []
        self._stack.append(self._held)
        return self._held

    def __exit__(self, *exc) -> None:
        # by identity: an entry scope can outlive a scope opened after it
        self._stack[:] = [s for s in self._stack if s is not self._held]
        for df in self._held:
            df.unpersist()
