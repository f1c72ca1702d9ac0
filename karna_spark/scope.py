"""Query-lifetime caches: one scope owns every intermediate a query pins.

Operators and builders persist intermediates that several consumers of
one plan read. Spark's ContextCleaner only reclaims those blocks when
the driver garbage-collects the frame, so a long-lived session (the
HTTP server, the CLI, a streaming job) releases them per query:

    with query_scope():
        rows = builder(spark, sf_dir).collect()

The innermost open scope lives in a ``ContextVar``, so each server
thread has its own. On exit a scope unpersists only the frames it
persisted itself; outside any scope ``pin`` is a plain persist that
the caller owns. Per-round frames of iterative loops (BPE symbols,
connected-components labels) are released by their loops instead.
"""

from __future__ import annotations

from contextlib import contextmanager
from contextvars import ContextVar
from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

_owned: ContextVar[list[DataFrame] | None] = ContextVar("query_scope", default=None)


@contextmanager
def query_scope() -> Iterator[None]:
    """Unpersist every frame pinned inside the block when it exits,
    normally or by exception. Scopes nest."""
    owned: list[DataFrame] = []
    token = _owned.set(owned)
    try:
        yield
    finally:
        _owned.reset(token)
        for df in reversed(owned):
            df.unpersist()


def own(df: DataFrame) -> DataFrame:
    """Hand an already-persisted frame to the innermost open scope."""
    owned = _owned.get()
    if owned is not None:
        owned.append(df)
    return df


def pin(df: DataFrame) -> DataFrame:
    """Persist ``df`` (MEMORY_AND_DISK) for the current query. A frame
    that is already cached stays its owner's and is returned as is."""
    lvl = df.storageLevel
    if lvl.useMemory or lvl.useDisk:
        return df
    return own(df.persist(StorageLevel.MEMORY_AND_DISK))
