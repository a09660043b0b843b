"""Proportional set size of a process tree, sampled from ``/proc``.

PSS charges each shared page to its sharers in equal parts, so forked Python
workers do not count the pages they share with their parent once each, the
way summed RSS does.
"""

from __future__ import annotations

import os
import threading


def pss_kb(pid: int) -> int:
    """``Pss`` of one process in kB, or 0 if it has exited."""
    try:
        with open(f"/proc/{pid}/smaps_rollup", "rb") as f:
            for line in f:
                if line.startswith(b"Pss:"):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        pass
    return 0


def _parents() -> dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except (FileNotFoundError, ProcessLookupError):
            continue
        # the command name may hold spaces or parentheses; fields resume after the last ')'
        fields = stat[stat.rindex(b")") + 2:].split()
        out[int(name)] = int(fields[1])
    return out


def tree(root: int, exclude: set[int] = frozenset()) -> list[int]:
    """``root`` and its live descendants, without the subtrees in ``exclude``."""
    children: dict[int, list[int]] = {}
    for pid, ppid in _parents().items():
        children.setdefault(ppid, []).append(pid)
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        if pid in exclude:
            continue
        out.append(pid)
        stack.extend(children.get(pid, []))
    return out


def tree_pss_mb(root: int, exclude: set[int] = frozenset()) -> float:
    return sum(pss_kb(p) for p in tree(root, exclude)) / 1024.0


class PssSampler:
    """Samples the summed PSS of a process tree every ``interval`` seconds on
    a daemon thread and keeps the peak since the last ``reset``."""

    def __init__(self, root: int | None = None, interval: float = 0.2):
        self.root = os.getpid() if root is None else root
        self.interval = interval
        self.exclude: set[int] = set()
        self._lock = threading.Lock()
        self._peak = 0.0
        self._samples = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def sample(self) -> float:
        mb = tree_pss_mb(self.root, set(self.exclude))
        with self._lock:
            self._peak = max(self._peak, mb)
            self._samples += 1
        return mb

    def reset(self) -> None:
        with self._lock:
            self._peak = 0.0
            self._samples = 0

    @property
    def peak_mb(self) -> float:
        with self._lock:
            return self._peak

    @property
    def samples(self) -> int:
        with self._lock:
            return self._samples

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def start(self) -> "PssSampler":
        self._thread = threading.Thread(target=self._loop, name="pss-sampler", daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
