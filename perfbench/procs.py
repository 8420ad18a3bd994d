"""Leave no process behind.

PySpark starts the JVM as a child of this process, and the JVM starts the
Python worker daemon and its workers. Stopping the session does not end
the JVM: it exits only once it sees its stdin pipe close, which happens
when this process exits, so without help the JVM and its workers outlive
the benchmark by a second or more. The benchmark therefore makes itself the
subreaper of its process tree (orphaned descendants are re-parented to it,
not to init), closes the JVM's pipe at the end, and waits until every
process below it has ended.
"""

from __future__ import annotations

import contextlib
import ctypes
import os
import signal
import time
import traceback

from .stats import _proc_stats, tree_pids

PR_SET_CHILD_SUBREAPER = 36
POLL_S = 0.05


def adopt_orphans() -> bool:
    """Make this process the subreaper of its descendants (Linux)."""
    try:
        prctl = ctypes.CDLL(None, use_errno=True).prctl
    except (OSError, AttributeError):
        return False
    prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    prctl.restype = ctypes.c_int
    return prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) == 0


def descendants() -> list[int]:
    """Pids of every process below this one, ended ones that no parent has
    reaped yet included."""
    return tree_pids(_proc_stats(), os.getpid())[1:]


def _reap() -> None:
    with contextlib.suppress(ChildProcessError):
        while os.waitpid(-1, os.WNOHANG)[0]:
            pass


def stop_spark() -> None:
    """Stop the active SparkContext, if any, and close the JVM's stdin so it
    exits; `end_all` then waits for it."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        try:
            sc.stop()
        except Exception:  # the JVM may be gone already; ending it must still run
            traceback.print_exc()
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None and proc.stdin is not None:
        with contextlib.suppress(OSError):
            proc.stdin.close()


def end_all(grace: float = 60.0) -> list[int]:
    """Wait until no process is left below this one, not even an unreaped
    one, reaping each. Those still there after `grace` seconds are killed;
    returns their pids."""
    deadline = time.monotonic() + grace
    killed: list[int] = []
    while True:
        _reap()
        left = descendants()
        if not left:
            return killed
        if time.monotonic() >= deadline:
            for pid in left:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, signal.SIGKILL)
                if pid not in killed:
                    killed.append(pid)
        time.sleep(POLL_S)
