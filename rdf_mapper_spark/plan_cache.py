"""One keyed cache of driver-side plans, per Spark application.

Building a plan is driver work that repeats whenever the same thing is
asked for again: compiling a mapping spec (py4j traffic and JVM
analysis), listing a partitioned directory tree on read.  This module
keeps the result under a key that names everything the build read, so a
repeat is a lookup:

* ``("mapping", ...)``: a compiled mapping (`engine.PreparedMapping`),
  keyed by spec content, prepared input schema, digest, the engine's
  folded one-off subjects and the registered-transformer table.  It
  holds Column trees and SQL text only, never a DataFrame, so it pins
  no plan or cached block;
* ``("quad_store", path)`` / ``("ann_index", path)``: the lazy read plan
  of a stored quad table or ANN index;
* the driver entry's fixture tables and flagship emission plans.

Every key starts with the session's ``applicationId``: a fresh
SparkSession (a new application) never sees an entry, and storing an
entry drops those of any earlier application.  The cache is bounded
(least recently used first out), so a long session that compiles many
specs does not grow without limit.

Single-writer rule: a cached read plan is only as fresh as its file
listing.  Every writer of a cached path in this process (`store.
write_quad_store`, the ANN index builders) calls ``invalidate(path)``
after it writes, and a path has one writer at a time.  A path rewritten
by another process is not seen here until someone calls
``invalidate(path)``.
"""

from __future__ import annotations

import threading
from collections import OrderedDict
from typing import Any, Callable

from pyspark.sql import SparkSession

_MAX_ENTRIES = 256

_ENTRIES: OrderedDict[tuple, Any] = OrderedDict()
_LOCK = threading.Lock()


def _key(spark: SparkSession, key: tuple) -> tuple:
    return (spark.sparkContext.applicationId,) + tuple(key)


def lookup(spark: SparkSession, key: tuple) -> Any:
    """The entry under ``key`` for this application, or None."""
    full = _key(spark, key)
    with _LOCK:
        hit = _ENTRIES.get(full)
        if hit is not None:
            _ENTRIES.move_to_end(full)
        return hit


def store(spark: SparkSession, key: tuple, value: Any) -> Any:
    """Keep ``value`` under ``key`` for this application; returns it."""
    full = _key(spark, key)
    with _LOCK:
        for stale in [k for k in _ENTRIES if k[0] != full[0]]:
            del _ENTRIES[stale]
        _ENTRIES[full] = value
        _ENTRIES.move_to_end(full)
        while len(_ENTRIES) > _MAX_ENTRIES:
            _ENTRIES.popitem(last=False)
    return value


def cached(spark: SparkSession, key: tuple, build: Callable[[], Any]) -> Any:
    """The entry under ``key``, built (and kept) on a miss."""
    hit = lookup(spark, key)
    return store(spark, key, build()) if hit is None else hit


def invalidate(path: str) -> None:
    """Drop every entry whose key names ``path`` (after rewriting it)."""
    with _LOCK:
        for k in [k for k in _ENTRIES if path in k[2:]]:
            del _ENTRIES[k]


def clear() -> None:
    """Drop every entry."""
    with _LOCK:
        _ENTRIES.clear()
