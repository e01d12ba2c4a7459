"""Spans, percentiles and the process-tree memory sampler.

Spans are recorded in the benchmark's own code around calls into each
layer.  They stay in memory and are written out when the run ends.  A
disabled :class:`Tracer` records nothing, so the untraced run pays only
for a ``with`` statement.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from typing import Dict, Iterable, List, Optional


@dataclass
class Span:
    name: str
    start: float  # time.time() seconds
    end: float
    parent: Optional[int]
    run_id: str
    id: int = 0


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: List[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            sid = len(self.spans) + 1
            sp = Span(name, time.time(), 0.0, stack[-1] if stack else None, self.run_id, sid)
            self.spans.append(sp)
        stack.append(sid)
        try:
            yield
        finally:
            stack.pop()
            sp.end = time.time()

    def add(self, spans: Iterable[dict]) -> None:
        """Merge spans recorded in another process (same run id)."""
        with self._lock:
            for s in spans:
                sid = len(self.spans) + 1
                self.spans.append(Span(s["name"], s["start"], s["end"], None, self.run_id, sid))

    def durations_ms(self, name: str) -> List[float]:
        return [(s.end - s.start) * 1000.0 for s in self.spans if s.name == name and s.end]

    def self_times_ms(self) -> Dict[str, float]:
        """Total self time per span name: duration minus the part of it
        that child spans cover."""
        children: Dict[int, List[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out: Dict[str, float] = {}
        for s in self.spans:
            if not s.end:
                continue
            covered, cursor = 0.0, s.start
            for c in sorted(children.get(s.id, []), key=lambda c: c.start):
                lo, hi = max(c.start, cursor), min(c.end or c.start, s.end)
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start - covered) * 1000.0
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def percentile(values: List[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100); 0.0 for no samples."""
    if not values:
        return 0.0
    v = sorted(values)
    k = max(0, min(len(v) - 1, int(round(q / 100.0 * len(v) + 0.5)) - 1))
    return float(v[k])


def mean(values: List[float]) -> float:
    return sum(values) / len(values) if values else 0.0


def median(values: List[float]) -> float:
    if not values:
        return 0.0
    v = sorted(values)
    n = len(v)
    return float(v[n // 2] if n % 2 else (v[n // 2 - 1] + v[n // 2]) / 2.0)


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants (the
    JVM and the Python workers it forks), sampled from /proc as the sum
    of their proportional set sizes."""

    def __init__(self, interval: float = 0.5):
        super().__init__(name="rss-sampler", daemon=True)
        self.interval = interval
        self.peak_bytes = 0
        self.peak_by_command: Dict[str, int] = {}
        self._halt = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> Dict[str, int]:
        """Resident bytes of the process tree, by command name."""
        children: Dict[int, List[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    stat = f.read()
                # The command name may contain spaces: fields follow the ')'.
                ppid = int(stat.rsplit(")", 1)[1].split()[1])
                children.setdefault(ppid, []).append(int(d))
            except (OSError, IndexError, ValueError):
                continue
        tree, frontier = {os.getpid()}, [os.getpid()]
        while frontier:
            for c in children.get(frontier.pop(), []):
                if c not in tree:
                    tree.add(c)
                    frontier.append(c)
        by_command: Dict[str, int] = {}
        for p in tree:
            try:
                with open(f"/proc/{p}/comm") as f:
                    comm = f.read().strip()
                by_command[comm] = by_command.get(comm, 0) + self._pss(p)
            except (OSError, IndexError, ValueError):
                continue
        return by_command

    def _pss(self, pid: int) -> int:
        """Proportional set size: a page shared by several processes of
        the tree (forked Python workers, a JVM child between fork and
        exec) counts once in the total, split between them."""
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        return int(line.split()[1]) * 1024
        except OSError:
            pass
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * self._page

    def sample(self) -> None:
        by_command = self._tree_rss()
        total = sum(by_command.values())
        if total > self.peak_bytes:
            self.peak_bytes = total
            self.peak_by_command = by_command

    def run(self) -> None:
        while not self._halt.wait(self.interval):
            self.sample()

    def stop(self) -> float:
        """Stop sampling; returns the peak in MB."""
        self._halt.set()
        self.join(timeout=5)
        self.sample()
        return self.peak_bytes / (1 << 20)
