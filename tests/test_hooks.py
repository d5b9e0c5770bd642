"""Spark-free tests of the schedule-point module (operators/hooks.py)."""

from __future__ import annotations

import threading

import pytest

from wcdimportbot_spark.operators import hooks


def test_point_is_noop_without_schedule():
    assert hooks._active is None
    hooks.point("anything")  # nothing installed: returns at once
    with hooks.schedule() as sched:
        pass
    hooks.point("anything")
    assert sched.hits["anything"] == 0


def test_rule_orders_two_threads():
    order = []

    def writer():
        hooks.point("w.start")
        order.append("writer")
        hooks.point("w.wrote")

    with hooks.schedule(
        hooks.Rule("w.start", after="main.wrote"),
        hooks.Rule("main.check", after="w.wrote"),
    ) as sched, hooks.background(writer):
        order.append("main")
        hooks.point("main.wrote")
        hooks.point("main.check")
        order.append("main-after")
    assert order == ["main", "writer", "main-after"]
    assert sched.hits == {
        "w.start": 1, "w.wrote": 1, "main.wrote": 1, "main.check": 1
    }


def test_hit_numbers_select_the_waiting_arrival():
    seen = []

    def writer():
        for i in range(3):
            hooks.point("w.step")
            seen.append(i)

    with hooks.schedule(
        hooks.Rule("w.step", hit=3, after="main.go")
    ) as sched, hooks.background(writer):
        while sched.hits["w.step"] < 3:
            threading.Event().wait(0.01)
        assert seen == [0, 1]  # third arrival parked
        hooks.point("main.go")
    assert seen == [0, 1, 2]
    assert sched.hits["w.step"] == 3


def test_wait_timeout_names_both_points():
    with pytest.raises(hooks.ScheduleError) as ei:
        with hooks.schedule(
            hooks.Rule("a.wait", after="b.never", after_hit=2),
            timeout=0.2,
        ):
            hooks.point("b.never")
            hooks.point("a.wait")
    msg = str(ei.value)
    assert "timed out" in msg
    assert "'a.wait' hit 1" in msg and "'b.never' hit 2" in msg
    assert "reached 1 time(s)" in msg
    assert hooks._active is None


def test_swallowed_wait_error_raises_at_exit():
    def writer():
        try:
            hooks.point("w.wait")
        except hooks.ScheduleError:
            pass  # an engine that swallows the error

    with pytest.raises(hooks.ScheduleError, match="timed out"):
        with hooks.schedule(
            hooks.Rule("w.wait", after="never"), timeout=0.1
        ), hooks.background(writer):
            pass


def test_unfired_rule_raises_at_exit():
    with pytest.raises(hooks.ScheduleError) as ei:
        with hooks.schedule(hooks.Rule("renamed.point", after="x")):
            hooks.point("x")
    msg = str(ei.value)
    assert "never fired" in msg
    assert "'renamed.point' hit 1 waits for 'x' hit 1" in msg


def test_exit_releases_parked_thread():
    released = []

    def writer():
        try:
            hooks.point("w.park")
        except hooks.ScheduleError as e:
            released.append(str(e))
            raise

    with pytest.raises(RuntimeError, match="row failed"):
        with hooks.schedule(hooks.Rule("w.park", after="never")) as s:
            with hooks.background(writer, timeout=5):
                while s.hits["w.park"] == 0:
                    threading.Event().wait(0.01)
                raise RuntimeError("row failed")
    assert released and "released at schedule exit" in released[0]


def test_background_reraises_and_returns():
    with hooks.background(lambda: 42) as bg:
        pass
    assert bg.result == 42

    def boom():
        raise ValueError("writer failed")

    with pytest.raises(ValueError, match="writer failed"):
        with hooks.background(boom):
            pass


def test_nested_install_refused():
    with hooks.schedule():
        with pytest.raises(hooks.ScheduleError, match="already installed"):
            with hooks.schedule():
                pass  # pragma: no cover
    assert hooks._active is None
