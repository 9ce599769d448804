"""Every process a run starts has ended before the run exits.

The run makes itself the reaper of its orphaned descendants (Linux
``PR_SET_CHILD_SUBREAPER``): a process whose parent exits first, such as
a Python worker of a stopped JVM or the JVM of a killed child, is
re-parented to the run rather than to init, so the run can still stop it
and wait for it.
"""

from __future__ import annotations

import ctypes
import os
import signal
import time

PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    try:
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):  # not Linux: only direct children are reaped
        pass


def _parents() -> dict[int, int]:
    """pid -> parent pid of every process in /proc."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # ended while listing
            continue
        out[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def descendants(pid: int) -> list[int]:
    parents = _parents()
    found, frontier = [], [pid]
    while frontier:
        kids = [c for c, p in parents.items() if p == frontier[-1]]
        frontier.pop()
        found += kids
        frontier += kids
    return found


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_all(grace_s: float = 10.0) -> None:
    """Terminate every descendant still running, kill those that outlive
    ``grace_s``, and wait until each has ended and been reaped."""
    me = os.getpid()
    termed: set[int] = set()
    deadline = time.monotonic() + grace_s
    while True:
        _reap()
        left = descendants(me)
        if not left:
            return
        late = time.monotonic() > deadline
        for pid in left:
            if late or pid not in termed:
                try:
                    os.kill(pid, signal.SIGKILL if late else signal.SIGTERM)
                except ProcessLookupError:
                    pass
                termed.add(pid)
        time.sleep(0.05)


def exit_on_sigterm() -> None:
    """Turn SIGTERM into SystemExit, so the run's cleanup still runs."""
    def handler(signum, frame):
        raise SystemExit(128 + signum)

    signal.signal(signal.SIGTERM, handler)
