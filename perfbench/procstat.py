"""Process-tree memory sampling and on-disk size helpers (Linux /proc)."""

from __future__ import annotations

import os
import threading

SAMPLE_S = 0.2


def tree_pids(root: int) -> list[int]:
    """``root`` and every live descendant (the JVM, the Python daemon and
    its workers all descend from the benchmark process)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after its ')'
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_pss_bytes(root: int) -> int:
    """Resident memory of the tree, each shared page divided among the
    processes mapping it (PSS): forked Python workers share most pages
    with their daemon, and summing RSS would count those once per fork."""
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


class PeakMemory:
    """Samples the resident memory of this process tree on a background
    thread; ``peak_mb`` is the largest total seen."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_pss_bytes(root))
            self._stop.wait(SAMPLE_S)

    def __enter__(self) -> "PeakMemory":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20


def dir_bytes(path: str) -> int:
    """Bytes of every regular file under ``path`` (0 if it is absent)."""
    total = 0
    for base, _, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(base, name))
    return total
