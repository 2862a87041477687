"""Process-wide memo of built Column expressions.

Building a rule plan is driver work: every `F.*` call and Column operator
is a py4j round trip, so compiling the transcript suite into its Column
tree costs thousands of JVM calls — more CPU than Spark spends executing
a small request. The tree only depends on plain inputs (the ordered
ruleset, the allowed-transition list, which dims are present, the
partition column), never on the DataFrame it is applied to: Columns are
unresolved expression trees, bound to a plan only when a DataFrame uses
them. So each distinct tree is built once per SparkContext and reused.

Keys must carry EVERYTHING the built expressions depend on; values must
be Columns (or containers of Columns) and never DataFrames or collected
data. The memo belongs to the JavaSparkContext it was built under and is
dropped when that context changes (a stop/start, or a new JVM), so no
Column is reused under a context other than the one it was built in.
"""

from __future__ import annotations

import threading
from typing import Any, Callable, Hashable, TypeVar

from pyspark import SparkContext

T = TypeVar("T")

# bounded so callers that vary rulesets per call (contract queries,
# ad-hoc serving rules) cannot grow it without limit; oldest entry goes
MAX_ENTRIES = 256

_lock = threading.Lock()
_owner: Any = None  # the JavaSparkContext the entries were built under
_entries: dict[Hashable, Any] = {}
_stats = {"hits": 0, "misses": 0}


def memo(key: Hashable, build: Callable[[], T]) -> T:
    """Return the value cached under `key` for the active SparkContext,
    building (outside the lock) and caching it on a miss."""
    global _owner
    sc = SparkContext._active_spark_context
    owner = sc._jsc if sc is not None else None
    with _lock:
        if _owner is not owner:
            _entries.clear()
            _owner = owner
        if key in _entries:
            _stats["hits"] += 1
            return _entries[key]
        _stats["misses"] += 1
    value = build()
    with _lock:
        if owner is not None and _owner is owner:
            if key not in _entries and len(_entries) >= MAX_ENTRIES:
                del _entries[next(iter(_entries))]
            # a concurrent build of the same key may have landed first:
            # every caller gets the one cached value
            value = _entries.setdefault(key, value)
    return value


def stats() -> dict[str, int]:
    """Hit/miss counters since process start."""
    with _lock:
        return dict(_stats)


def clear() -> None:
    """Drop every entry: the next build of each key starts from scratch."""
    with _lock:
        _entries.clear()
