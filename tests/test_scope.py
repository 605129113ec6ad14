"""``Scope``: the one barrier for a fold's background writes and
checkpoints, and ``epoch_store.overlap`` written on top of it.

Exit joins every future and releases every registered checkpoint on
success and on failure; the body's error wins over a future's, and
among futures the first submitted wins. A scope that never submits
starts no thread. None of these tests needs Spark: frames are fakes
and ``release_checkpoint`` is recorded.
"""

from __future__ import annotations

import os
import threading
import time

import pytest

from ziggurat_spark import scratch
from ziggurat_spark.queries.epoch_store import overlap
from ziggurat_spark.scratch import Scope

SRC = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "ziggurat_spark",
)


class Boom(Exception):
    """The injected failure."""


class FakeFrame:
    """Stands in for a DataFrame: its local checkpoint is itself."""

    def localCheckpoint(self, eager=True):
        assert eager is False
        return self


@pytest.fixture
def released(monkeypatch):
    got: list = []
    monkeypatch.setattr(scratch, "release_checkpoint", got.append)
    return got


def test_failing_body_joins_a_slow_future_and_releases(released):
    done: list = []
    frames = [FakeFrame(), FakeFrame()]

    def slow():
        time.sleep(0.3)
        done.append(released[:])  # nothing released while it runs

    with pytest.raises(Boom):
        with Scope() as sc:
            for f in frames:
                assert sc.checkpoint(f) is f
            sc.submit(slow)
            raise Boom()
    assert done == [[]]
    assert released == frames


def test_failing_body_cancels_futures_not_yet_started():
    ran: list = []
    gate = threading.Event()
    with pytest.raises(Boom):
        with Scope() as sc:
            for i in range(3):
                sc.submit(lambda i=i: (gate.wait(5), ran.append(i)))
            # the first two hold the pool's two workers until after
            # exit has cancelled the third
            threading.Timer(0.2, gate.set).start()
            raise Boom()
    assert sorted(ran) == [0, 1]


def test_body_error_wins_over_future_error(released):
    def fails():
        raise KeyError("future")

    with pytest.raises(Boom):
        with Scope() as sc:
            sc.checkpoint(FakeFrame())
            sc.submit(fails)
            time.sleep(0.05)
            raise Boom()
    assert len(released) == 1


def test_first_submitted_future_error_raises(released):
    def late():
        time.sleep(0.2)
        raise Boom("first submitted")

    def early():
        raise KeyError("second submitted, fails first")

    with pytest.raises(Boom, match="first submitted"):
        with Scope() as sc:
            sc.checkpoint(FakeFrame())
            sc.submit(late)
            sc.submit(early)
    assert len(released) == 1


def test_success_returns_results_and_releases(released):
    with Scope() as sc:
        f = sc.submit(lambda a, b=0: a + b, 1, b=2)
        sc.adopt(FakeFrame())
    assert f.result() == 3
    assert len(released) == 1


def test_scope_without_submit_starts_no_thread(monkeypatch, released):
    def no_pool(*a, **kw):
        raise AssertionError("a checkpoint-only scope started a pool")

    monkeypatch.setattr(scratch, "ThreadPoolExecutor", no_pool)
    before = threading.active_count()
    with Scope() as sc:
        sc.checkpoint(FakeFrame())
        assert threading.active_count() == before
    assert len(released) == 1


def test_nested_scopes_release_only_their_own(released):
    outer, inner = FakeFrame(), FakeFrame()
    with Scope() as a:
        a.checkpoint(outer)
        with Scope() as b:
            b.checkpoint(inner)
        assert released == [inner]
    assert released == [inner, outer]


def test_overlap_runs_one_call_on_the_callers_thread():
    seen: list = []
    overlap([lambda: seen.append(threading.get_ident())])
    assert seen == [threading.get_ident()]


def test_overlap_runs_at_most_two_at_a_time_and_waits_for_all():
    lock = threading.Lock()
    live = {"now": 0, "max": 0}
    ended: list = []

    def call(i):
        with lock:
            live["now"] += 1
            live["max"] = max(live["max"], live["now"])
        time.sleep(0.1)
        with lock:
            live["now"] -= 1
        ended.append(i)

    overlap([lambda i=i: call(i) for i in range(5)])
    assert live["max"] == 2
    assert sorted(ended) == list(range(5))


def test_overlap_raises_the_first_failure_after_every_call_ended():
    ended: list = []

    def slow_ok():
        time.sleep(0.2)
        ended.append("ok")

    def fails():
        raise Boom()

    with pytest.raises(Boom):
        overlap([fails, slow_ok])
    assert ended == ["ok"]


def test_pools_and_releases_live_only_in_scope():
    """Source guard: every background write and checkpoint release of
    the streaming folds goes through ``Scope``."""
    with open(os.path.join(SRC, "queries", "streaming_surface.py")) as fh:
        src = fh.read()
    assert "ThreadPoolExecutor" not in src
    assert "spent" not in src
    assert "release_checkpoint(" not in src
    for root, _dirs, files in os.walk(SRC):
        for name in files:
            path = os.path.join(root, name)
            if name.endswith(".py") and path != os.path.join(SRC, "scratch.py"):
                with open(path) as fh:
                    assert "ThreadPoolExecutor" not in fh.read(), path
