"""Query scope: which cached frames a scope releases on exit
(karna_spark/scope.py)."""

from __future__ import annotations


def _cached(df) -> bool:
    lvl = df.storageLevel
    return lvl.useMemory or lvl.useDisk


def test_nested_scope_releases_only_its_own_pins(spark):
    from karna_spark.scope import pin, query_scope

    with query_scope():
        outer = pin(spark.range(11))
        with query_scope():
            inner = pin(spark.range(12))
            assert _cached(outer) and _cached(inner)
        assert not _cached(inner)
        assert _cached(outer)
    assert not _cached(outer)


def test_scope_leaves_a_callers_cache_alone(spark):
    from karna_spark.scope import pin, query_scope

    df = spark.range(13).persist()
    try:
        with query_scope():
            assert pin(df) is df
        assert _cached(df)
    finally:
        df.unpersist()


def test_pin_outside_a_scope_is_the_callers(spark):
    from karna_spark.scope import pin, query_scope

    df = pin(spark.range(14))
    try:
        with query_scope():
            pass
        assert _cached(df)
    finally:
        df.unpersist()


def test_scope_releases_on_error(spark):
    import pytest

    from karna_spark.scope import pin, query_scope

    with pytest.raises(RuntimeError):
        with query_scope():
            df = pin(spark.range(15))
            raise RuntimeError("query failed")
    assert not _cached(df)


def test_threads_own_separate_scopes(spark):
    """Server threads each hold their own innermost scope. Interleaved
    on purpose: A opens, B opens, A pins, B leaves — B must release
    none of A's pins, and A's exit must release them."""
    import threading

    from karna_spark.scope import pin, query_scope

    a_open, b_open, a_pinned, b_done = (threading.Event() for _ in range(4))
    seen: dict[str, bool] = {}
    frame = spark.range(101)

    def thread_a() -> None:
        with query_scope():
            a_open.set()
            b_open.wait(timeout=60)
            pin(frame).count()
            a_pinned.set()
            b_done.wait(timeout=60)
            seen["a_cached_after_b_left"] = _cached(frame)

    def thread_b() -> None:
        a_open.wait(timeout=60)
        with query_scope():
            b_open.set()
            a_pinned.wait(timeout=60)
        b_done.set()

    threads = [threading.Thread(target=f) for f in (thread_a, thread_b)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
        assert not t.is_alive()
    assert seen == {"a_cached_after_b_left": True}
    assert not _cached(frame)
