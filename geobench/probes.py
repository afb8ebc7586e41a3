"""Process-tree memory and platform context (CPU steal, a zero-Spark
CPU control) recorded beside the metrics, so a noisy window shows in
the run's artifact."""

from __future__ import annotations

import os
import statistics
import subprocess
import sys
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                # the ppid follows the parenthesised command name
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(root: int) -> list[int]:
    kids = _children()
    out, todo = [], list(kids.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _resident_bytes(pid: int) -> int:
    """Proportional set size: a page shared by n processes counts 1/n in
    each, so the Python workers the engine's daemon forks do not count
    their parent's pages again.  Resident set size where the kernel has
    no ``smaps_rollup``."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except (OSError, IndexError, ValueError):
        return 0


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` and all its descendants: this driver,
    the JVM it launched and the JVM's Python workers."""
    return sum(_resident_bytes(pid) for pid in [root, *descendants(root)])


class RssSampler:
    """Samples the process tree's resident set on a thread; ``peak_mb``
    is the largest sum seen while sampling."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while True:
            self.peak = max(self.peak, tree_rss_bytes(pid))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20


class StealSampler:
    """``vmstat 1`` for the measured window; reports hypervisor steal."""

    def __init__(self):
        self._proc: subprocess.Popen | None = None

    def __enter__(self) -> "StealSampler":
        try:
            self._proc = subprocess.Popen(["vmstat", "1"], stdout=subprocess.PIPE,
                                          stderr=subprocess.DEVNULL, text=True)
        except OSError:
            self._proc = None
        return self

    def __exit__(self, *exc) -> None:
        if self._proc is None:
            self.result = {"samples": 0}
            return
        self._proc.terminate()
        out, _ = self._proc.communicate(timeout=10)
        st_idx, vals = None, []
        for line in out.splitlines():
            cols = line.split()
            if st_idx is None and "st" in cols and "id" in cols:
                st_idx = cols.index("st")
            elif st_idx is not None and len(cols) > st_idx and cols[st_idx].isdigit():
                vals.append(int(cols[st_idx]))
        vals = vals[1:]  # the first line averages since boot
        self.result = {"samples": len(vals),
                       "mean_pct": statistics.mean(vals) if vals else None,
                       "max_pct": max(vals) if vals else None}


def cpu_control(root: str, iterations: int = 1000) -> float:
    """Single-process rate of the zero-Spark HTML-parse control from
    ``tools/scaling_bench.py`` (parses per second); 0.0 when the tools
    directory is absent."""
    sys.path.insert(0, os.path.join(root, "tools"))
    try:
        from scaling_bench import CONTROL
    except ImportError:
        return 0.0
    finally:
        sys.path.pop(0)
    ns = {"__name__": "geobench_control"}
    exec(compile(CONTROL, "scaling_bench.CONTROL", "exec"), ns)
    return iterations / ns["work"](iterations)
