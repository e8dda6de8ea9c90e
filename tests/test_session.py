"""session.scoped_conf: the one helper that changes session config around
a body (streaming drains, q198's collect, tests)."""

from __future__ import annotations

import time

import pytest

from discogs_load_spark.session import scoped_conf

SET_KEY = "spark.sql.shuffle.partitions"  # set explicitly by get_spark
UNSET_KEY = "spark.sql.streaming.noDataMicroBatches.enabled"


def test_scoped_conf_restores_when_body_raises(spark):
    before = spark.conf.get(SET_KEY)
    with pytest.raises(ZeroDivisionError):
        with scoped_conf(spark, {SET_KEY: "3"}):
            assert spark.conf.get(SET_KEY) == "3"
            1 / 0
    assert spark.conf.get(SET_KEY) == before


def test_scoped_conf_unsets_a_key_that_was_unset(spark):
    assert spark.conf.get(UNSET_KEY, None) is None
    with scoped_conf(spark, {UNSET_KEY: "false"}):
        assert spark.conf.get(UNSET_KEY) == "false"
    assert spark.conf.get(UNSET_KEY, None) is None
    assert spark.conf.get(UNSET_KEY) == "true"  # back to Spark's default


def test_scoped_conf_refuses_a_nested_scope_on_one_session(spark):
    before = spark.conf.get(SET_KEY)
    with scoped_conf(spark, {SET_KEY: "3"}):
        with pytest.raises(RuntimeError, match="already open"):
            with scoped_conf(spark, {SET_KEY: "5"}):
                pass
        assert spark.conf.get(SET_KEY) == "3"  # the refused scope set nothing
    assert spark.conf.get(SET_KEY) == before
    with scoped_conf(spark, {SET_KEY: "7"}):  # a closed scope frees the session
        assert spark.conf.get(SET_KEY) == "7"
    assert spark.conf.get(SET_KEY) == before


class _FakeConf:
    def __init__(self):
        self.values = {}

    def get(self, key, default=None):
        time.sleep(0)  # yield here, as a JVM round trip would
        return self.values.get(key, default)

    def set(self, key, value):
        self.values[key] = value

    def unset(self, key):
        self.values.pop(key, None)


class _FakeSession:
    def __init__(self):
        self.conf = _FakeConf()


def test_scoped_conf_admits_one_scope_at_a_time_across_threads():
    """Threads racing for scopes on one session: at most one is ever
    inside, and the config ends as it began (a scope that read another
    scope's value as its 'before' would leave it set)."""
    import sys
    import threading

    session = _FakeSession()
    lock = threading.Lock()
    state = {"inside": 0, "peak": 0, "admitted": 0, "foreign": 0}

    def worker(i):
        for _ in range(200):
            try:
                with scoped_conf(session, {"k": str(i)}):
                    with lock:
                        state["inside"] += 1
                        state["admitted"] += 1
                        state["peak"] = max(state["peak"], state["inside"])
                    with lock:
                        state["inside"] -= 1
                        state["foreign"] += session.conf.get("k") != str(i)
            except RuntimeError:
                pass

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(i,)) for i in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert state["peak"] == 1 and state["admitted"] > 0
    assert state["foreign"] == 0
    assert session.conf.get("k") is None
