"""The benchmark's own process tree, read from ``/proc``: summed RSS of
the driver, the JVM and the Python workers, and waiting for all of
them to end. Also the host record written with every run."""

from __future__ import annotations

import os
import platform
import signal
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _parents() -> dict[int, int]:
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue   # the process ended while we listed
        # the command name may hold spaces; fields resume after ')'
        parent[int(name)] = int(stat[stat.rindex(")") + 2:].split()[1])
    return parent


def _tree(root: int, parent: dict[int, int]) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def descendants(root: int) -> list[int]:
    return _tree(root, _parents())


def _exe(pid: int) -> str | None:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return None


def tree_pids(root: int) -> list[int]:
    """``root`` and its descendants. A child that still runs its
    parent's executable, the JVM, is a spawn that has not exec'd yet:
    it shares the JVM's memory, so it is left out."""
    parent = _parents()
    out = []
    for pid in [root, *_tree(root, parent)]:
        exe = _exe(pid)
        if exe and exe == _exe(parent.get(pid, 0)) and \
                os.path.basename(exe) == "java":
            continue
        out.append(pid)
    return out


def rss_bytes(pids: list[int]) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except OSError:
            pass   # ended since the tree was listed
    return total


class RssSampler:
    """Samples the summed RSS of this process tree on a background
    thread while active; ``peak_mb`` is the largest sample. The tree is
    listed once a second (a full /proc scan); RSS is read every
    ``interval_s``."""

    def __init__(self, interval_s: float = 0.1, rescan_every: int = 10):
        self.interval_s = interval_s
        self.rescan_every = rescan_every
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        i = 0
        while not self._stop.is_set():
            if i % self.rescan_every == 0:
                pids = tree_pids(os.getpid())
            self.peak = max(self.peak, rss_bytes(pids))
            i += 1
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, rss_bytes(tree_pids(os.getpid())))

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            stat = fh.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"   # a zombie has ended


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def wait_gone(pids: list[int], timeout_s: float = 30.0) -> None:
    """Wait until every process in ``pids`` has ended; terminate, then
    kill, whatever outlives ``timeout_s``. Taking the pids up front also
    covers workers that were re-parented when their JVM exited."""
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        alive = [p for p in pids if _alive(p)]
        for pid in alive if sig is not None else []:
            try:
                os.kill(pid, sig)
            except OSError:
                pass
        deadline = time.monotonic() + (timeout_s if sig is None else 5.0)
        while time.monotonic() < deadline:
            _reap()
            if not any(_alive(p) for p in pids):
                return
            time.sleep(0.05)
    raise RuntimeError(f"processes {[p for p in pids if _alive(p)]} "
                       "survived SIGKILL")


def mem_total_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def host_record() -> dict:
    return {"nproc": cpu_count(), "mem_total_mb": mem_total_mb(),
            "loadavg": os.getloadavg(), "machine": platform.machine(),
            "python": platform.python_version()}
