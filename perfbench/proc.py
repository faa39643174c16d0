"""Process-tree helpers: peak RSS of the driver, JVM and Python workers,
and shutdown that waits for every process the run started."""

from __future__ import annotations

import os
import signal
import subprocess
import threading
import time


def _children_map() -> dict[int, list[int]]:
    """ppid -> child pids, from /proc."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children_map(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _exe(pid: int) -> str | None:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return None


def tree_rss_bytes(pid: int) -> int:
    """Summed RSS of `pid` and its descendants. A java child of the JVM
    is a fork that has not exec'd yet (Hadoop's local file system runs
    shell commands); its pages are the JVM's, so it is not added."""
    page = os.sysconf("SC_PAGE_SIZE")
    kids, total, todo = _children_map(), 0, [pid]
    while todo:
        p = todo.pop()
        exe = _exe(p)
        for c in kids.get(p, []):
            if not (exe and exe.endswith("/java") and _exe(c) == exe):
                todo.append(c)
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, ValueError, IndexError):
            pass
    return total


class RssSampler:
    """Peak of the summed RSS of this process, the JVM and the Python
    workers, sampled from /proc every `period` seconds while active."""

    def __init__(self, period: float = 0.1):
        self.period = period
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def __enter__(self):
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
            self._stop.wait(self.period)

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))


def stop_spark(spark) -> None:
    """Stop the session, close the JVM's stdin (the gateway exits on EOF)
    and wait for it, then reap anything left of the process tree."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)  # noqa: SLF001
    spark.stop()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except (OSError, subprocess.TimeoutExpired):  # the kill below ends it
            pass
    kill_tree()


def kill_tree() -> None:
    pids = descendants(os.getpid())
    for p in pids:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass
    for p in pids:
        try:
            os.waitpid(p, 0)
        except (ChildProcessError, OSError):
            pass
    t_end = time.monotonic() + 10
    while time.monotonic() < t_end and any(os.path.exists(f"/proc/{p}") for p in pids):
        time.sleep(0.05)
