"""CPU time and resident memory of the Spark JVM and its Python workers, from /proc."""

from __future__ import annotations

import os
import signal
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after the last ')'
    return raw[raw.rindex(")") + 2 :].split()


def tree(root: int) -> list[int]:
    """``root`` and every live descendant."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(d))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def reap(pids: list[int], timeout_s: float = 10.0) -> None:
    """Wait for processes that are not our children to exit; kill those that do not."""
    deadline = time.monotonic() + timeout_s
    alive = list(pids)
    while alive:
        alive = [p for p in alive if _stat(p) is not None and _stat(p)[0] != "Z"]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            deadline = time.monotonic() + timeout_s
        time.sleep(0.05)


def cpu_seconds(root: int) -> float:
    """utime+stime of the tree, plus that of its children already reaped."""
    total = 0
    for pid in tree(root):
        st = _stat(pid)
        if st is not None:
            total += sum(int(x) for x in st[11:15])  # utime stime cutime cstime
    return total / _TICK


def _rss(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * _PAGE
    except OSError:
        return 0


def rss_bytes(root: int) -> int:
    return sum(_rss(pid) for pid in tree(root))


class RssSampler:
    """Samples the tree's RSS on a background thread; ``take_peak`` returns the
    highest sample since the previous call."""

    def __init__(self, root: int, interval_s: float = 0.05):
        self._root, self._interval = root, interval_s
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        pids, listed = [], 0.0
        while not self._stop.wait(self._interval):
            if time.monotonic() - listed > 1.0:  # a full /proc scan is too dear for every sample
                pids, listed = tree(self._root), time.monotonic()
            rss = sum(_rss(pid) for pid in pids)
            with self._lock:
                self._peak = max(self._peak, rss)

    def take_peak(self) -> int:
        rss = rss_bytes(self._root)
        with self._lock:
            peak, self._peak = max(self._peak, rss), 0
        return peak
