"""Stop every process a run started and wait until each has ended.

A run starts the Spark JVM (a child of this interpreter) and, through
it, the ``pyspark.daemon`` Python workers. ``SparkSession.stop`` leaves
the JVM running: it exits only once its stdin closes, which happens
when this interpreter exits, so without this module the JVM and its
workers outlive the run by about a second.
"""

from __future__ import annotations

import os
import signal
import subprocess
import time


def _stat(pid: int) -> tuple[str, int] | None:
    """(state, parent pid) of ``pid``, or None once it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None
    return fields[0], int(fields[1])


def descendants(root: int) -> set[int]:
    """Every process below ``root`` in the process tree."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(st[1], []).append(int(name))
    out, todo = set(), [root]
    while todo:
        for c in children.get(todo.pop(), []):
            if c not in out:
                out.add(c)
                todo.append(c)
    return out


def alive(pid: int) -> bool:
    """``pid`` runs: it exists and is not a zombie."""
    st = _stat(pid)
    return st is not None and st[0] not in "ZXx"


def _reap() -> None:
    """Collect the exit status of every ended child of this process."""
    while True:
        try:
            pid, _status = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _wait_gone(pids: set[int], timeout: float) -> set[int]:
    """Wait up to ``timeout`` s for ``pids`` to end; return the rest."""
    deadline = time.monotonic() + timeout
    while True:
        _reap()
        left = {p for p in pids if alive(p)}
        if not left or time.monotonic() >= deadline:
            return left
        time.sleep(0.05)


def stop_all(grace: float = 30.0) -> None:
    """Stop Spark, then the JVM, then anything else below this process,
    and wait until all of them have ended. Safe to call when Spark never
    started or is already stopped."""
    from pyspark import SparkContext

    me = os.getpid()
    seen = descendants(me)
    sc = SparkContext._active_spark_context
    if sc is not None:
        try:
            sc.stop()
        except Exception:
            pass
    seen |= descendants(me)
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        # the JVM exits (running its shutdown hooks) when its stdin closes
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=grace)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:
            pass
        SparkContext._gateway = None
        SparkContext._jvm = None
    # Python workers the JVM left behind, and anything else started here
    for sig, wait in ((signal.SIGTERM, 10.0), (signal.SIGKILL, grace)):
        left = {p for p in seen | descendants(me) if alive(p)}
        if not left:
            break
        for p in left:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        _wait_gone(left, wait)
    _reap()
