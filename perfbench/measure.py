"""The outside-the-program memory sampler."""

from __future__ import annotations

import os
import threading


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended between listdir and open
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_rss_mb(root: int) -> float:
    """Resident memory of ``root`` and all its descendants: the Python
    driver, the JVM it launched and the JVM's Python workers."""
    kids = _children()
    total, stack = 0, [root]
    while stack:
        pid = stack.pop()
        total += _rss_kb(pid)
        stack.extend(kids.get(pid, ()))
    return total / 1024.0


class PeakRss:
    """Samples ``tree_rss_mb`` of this process every ``interval`` seconds
    on a background thread while active; ``peak_mb`` is the largest
    sample taken."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.wait(self.interval):
            self.peak_mb = max(self.peak_mb, tree_rss_mb(me))

    def __enter__(self) -> "PeakRss":
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
