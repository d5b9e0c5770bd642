"""Named schedule points for forced-schedule race scenarios.

Engines mark the seams a cross-writer race turns on with
``hooks.point("import.items.merged")``. With no schedule installed a
point is one module-global read: no Spark action, no env var, no
argument threaded through any engine.

A scenario installs a :func:`schedule` of :class:`Rule` s — "hit ``hit``
of ``point`` waits until hit ``after_hit`` of ``after`` has been
reached" — and runs the opposing writer through :func:`background`::

    with hooks.schedule(
        hooks.Rule("test.purge", after="increment.corpus.merged"),
        hooks.Rule("increment.corpus.merged", after="test.purged"),
    ) as sched:
        with hooks.background(run_increment):
            hooks.point("test.purge")
            purge_documents(...)
            hooks.point("test.purged")
    assert sched.hits["increment.corpus.merged"] == 2

A point counts as reached when a thread arrives at it, before that
thread waits on any rule of its own; so "``after`` reached" means
everything its thread ran before the point has happened. Points are
global, not per thread: a scenario tells two writers apart by the
points their own code paths hit (each ``versioned.epoch_bracket`` call
site has its own ``bracket:<own>:<name>:<step>`` points), and the test
thread may hit points of its own to mark "about to call" / "returned".

Failures are loud: a wait that outlasts ``timeout`` raises
:class:`ScheduleError` naming both points; leaving the context raises
for a rule whose point was never hit (the scenario ran some other
interleaving) or for a wait error an engine swallowed, and releases
every thread still parked — each raises at its point, unwinding any
writer lock it holds instead of carrying it into whatever runs next.
"""

from __future__ import annotations

import contextlib
import threading
from collections import Counter
from typing import NamedTuple

_active = None  # the installed Schedule, or None
_install_lock = threading.Lock()


class ScheduleError(RuntimeError):
    """A forced schedule did not run the interleaving it declares."""


class Rule(NamedTuple):
    point: str
    after: str
    hit: int = 1
    after_hit: int = 1

    def __str__(self) -> str:
        return (
            f"{self.point!r} hit {self.hit} waits for "
            f"{self.after!r} hit {self.after_hit}"
        )


def point(name: str) -> None:
    """Mark a schedule point; a no-op unless a schedule is installed."""
    s = _active
    if s is not None:
        s._arrive(name)


class Schedule:
    def __init__(self, rules, timeout: float):
        self.rules = list(rules)
        self.timeout = timeout
        #: arrivals per point name (0 for a point never hit)
        self.hits: Counter = Counter()
        self._cv = threading.Condition()
        self._errors: list = []
        self._parked: list = []
        self._closed = False

    def _arrive(self, name: str) -> None:
        with self._cv:
            self.hits[name] += 1
            n = self.hits[name]
            self._cv.notify_all()
            for rule in self.rules:
                if rule.point == name and rule.hit == n:
                    self._wait(rule)

    def _wait(self, rule: Rule) -> None:
        def reached() -> bool:
            return self.hits[rule.after] >= rule.after_hit

        self._parked.append(rule)
        try:
            self._cv.wait_for(
                lambda: self._closed or reached(), self.timeout
            )
        finally:
            self._parked.remove(rule)
        if reached():
            return
        if self._closed:
            raise ScheduleError(f"released at schedule exit: {rule}")
        err = ScheduleError(
            f"timed out after {self.timeout}s: {rule}, which was "
            f"reached {self.hits[rule.after]} time(s)"
        )
        self._errors.append(err)
        raise err

    def close(self) -> None:
        """Release every parked thread (each raises at its point)."""
        with self._cv:
            self._closed = True
            self._errors += [
                ScheduleError(f"still parked at schedule exit: {r}")
                for r in self._parked
            ]
            self._cv.notify_all()

    def check(self) -> None:
        """Raise the first wait error, else name every unfired rule."""
        if self._errors:
            raise self._errors[0]
        unfired = [str(r) for r in self.rules if self.hits[r.point] < r.hit]
        if unfired:
            raise ScheduleError(
                "rule(s) never fired: " + "; ".join(unfired)
            )


@contextlib.contextmanager
def schedule(*rules: Rule, timeout: float = 300.0):
    """Install a schedule for the block; nested installs are refused."""
    global _active
    s = Schedule(rules, timeout)
    with _install_lock:
        if _active is not None:
            raise ScheduleError("a schedule is already installed")
        _active = s
    try:
        yield s
    finally:
        s.close()
        _active = None
    s.check()


class background:
    """Run ``fn`` on a daemon thread for the duration of a ``with``
    block; on exit join it (``timeout`` seconds) and re-raise its error.
    ``result`` holds its return value afterwards. If the block itself
    raises, the installed schedule is closed first so a parked thread
    unwinds before the join."""

    def __init__(self, fn, timeout: float = 600.0):
        self.fn, self.timeout = fn, timeout
        self.result = self._error = None
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        try:
            self.result = self.fn()
        except BaseException as e:  # noqa: BLE001 - re-raised on exit
            self._error = e

    def __enter__(self) -> "background":
        self._thread.start()
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        s = _active
        if exc_type is not None and s is not None:
            s.close()
        self._thread.join(self.timeout)
        if exc_type is not None:
            return
        if self._thread.is_alive():
            raise ScheduleError(
                f"{getattr(self.fn, '__name__', self.fn)} still running "
                f"after {self.timeout}s"
            )
        if self._error is not None:
            raise self._error
