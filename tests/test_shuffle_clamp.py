"""Concurrent streams share one shuffle-partition clamp
(``streaming/pipeline.py:clamped_shuffle_partitions``): however their
enter/exit steps interleave, the session gets its own value back.

Spark-free: the streams are stand-ins whose ``awaitTermination`` blocks
on events, so the test fixes the interleaving instead of racing for it.
"""

from __future__ import annotations

import sys
import threading
from concurrent.futures import ThreadPoolExecutor

from spotify_etl_aws_spark.streaming.pipeline import (
    clamped_shuffle_partitions,
    run_available_now,
)

KEY = "spark.sql.shuffle.partitions"


class _Conf:
    def __init__(self, values):
        self.values = dict(values)

    def get(self, key, default=None):
        return self.values.get(key, default)

    def set(self, key, value):
        self.values[key] = value


class _Session:
    def __init__(self):
        self.conf = _Conf({KEY: "200"})

    def table(self, name):
        return name


class _Query:
    def __init__(self, on_wait):
        self.on_wait = on_wait

    def awaitTermination(self):
        self.on_wait()


class _Writer:
    def __init__(self, query):
        self.query = query

    def __getattr__(self, _name):
        return lambda *args, **kwargs: self

    def start(self):
        return self.query


class _Stream:
    def __init__(self, session, on_wait):
        self.sparkSession = session
        self.writeStream = _Writer(_Query(on_wait))


def test_interleaved_streams_restore_the_session_value():
    """The interleaving that per-stream save/restore gets wrong:
    A saves 200 and clamps to 32; B starts inside A's clamp and saves
    32; A finishes and restores 200; B finishes and restores 32."""
    session = _Session()
    a_clamped, b_clamped, a_done = (threading.Event() for _ in range(3))
    seen = {}

    def a_running():
        seen["a"] = session.conf.get(KEY)
        a_clamped.set()
        assert b_clamped.wait(10)

    def b_running():
        seen["b"] = session.conf.get(KEY)
        b_clamped.set()
        assert a_done.wait(10)

    def run_a():
        run_available_now(_Stream(session, a_running), "a")
        a_done.set()

    def run_b():
        assert a_clamped.wait(10)
        run_available_now(_Stream(session, b_running), "b")

    with ThreadPoolExecutor(2) as pool:
        for f in [pool.submit(run_a), pool.submit(run_b)]:
            f.result(timeout=30)
    assert seen == {"a": "32", "b": "32"}
    assert session.conf.get(KEY) == "200"


def test_small_setting_is_left_alone():
    session = _Session()
    session.conf.set(KEY, "4")
    seen = []
    run_available_now(
        _Stream(session, lambda: seen.append(session.conf.get(KEY))), "s"
    )
    assert seen == ["4"] and session.conf.get(KEY) == "4"


def test_many_threads_always_see_the_clamp_and_leave_the_value():
    """More threads than cores enter and leave the clamp with a short
    switch interval: every one sees 32 inside, and 200 is back after."""
    session = _Session()
    inside = []
    previous = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:

        def worker(_):
            for _ in range(200):
                with clamped_shuffle_partitions(session):
                    inside.append(session.conf.get(KEY))

        with ThreadPoolExecutor(16) as pool:
            for f in [pool.submit(worker, i) for i in range(16)]:
                f.result(timeout=60)
    finally:
        sys.setswitchinterval(previous)
    assert len(inside) == 16 * 200 and set(inside) == {"32"}
    assert session.conf.get(KEY) == "200"
