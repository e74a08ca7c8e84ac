"""Shared machinery: run context, spans, process-tree memory, statistics.

Spans are kept in memory (``Tracer``) and written out once, when the
run ends. A span is ``(id, parent, trace, name, start, end)``; its
layer is the name's first dotted component. A layer's self time is its
spans' durations minus the part of each span that its child spans
cover.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


_T0 = time.perf_counter()


def quantile(values: list[float], q: int) -> float:
    """The q-th percentile, interpolated between the closest ranks
    (``statistics.quantiles(n=100, method="inclusive")``)."""
    if len(values) == 1:
        return float(values[0])
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


@dataclass
class Span:
    id: int
    parent: int | None
    trace: str
    name: str
    start: float
    end: float


@dataclass
class Tracer:
    """In-memory span recorder. Disabled, it records nothing and its
    context manager costs one attribute test."""

    enabled: bool
    spans: list[Span] = field(default_factory=list)
    _lock: threading.Lock = field(default_factory=threading.Lock)
    _local: threading.local = field(default_factory=threading.local)

    def add(self, name: str, start: float, end: float, parent: int | None = None,
            trace: str = "") -> int | None:
        if not self.enabled:
            return None
        with self._lock:
            sid = len(self.spans)
            self.spans.append(Span(sid, parent, trace, name, start, end))
        return sid

    @contextmanager
    def span(self, name: str, trace: str = ""):
        """Time the block as a span whose parent is the enclosing span of
        the same thread."""
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        with self._lock:
            sid = len(self.spans)
            self.spans.append(Span(sid, parent, trace, name, time.time(), 0.0))
        stack.append(sid)
        try:
            yield sid
        finally:
            stack.pop()
            self.spans[sid].end = time.time()

    def self_time_by_layer(self) -> dict[str, float]:
        """Seconds per layer not covered by that span's children."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered, cur_end = 0.0, s.start
            for c in sorted(children.get(s.id, []), key=lambda c: c.start):
                lo, hi = max(c.start, cur_end), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    cur_end = hi
            layer = s.name.split(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + max(0.0, s.end - s.start - covered)
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


def _tree_pids(root: int) -> list[int]:
    """``root`` and all its descendants, from /proc children lists."""
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/children") as f:
                    todo.extend(int(c) for c in f.read().split())
            except OSError:
                pass
    return out


def _read(path: str) -> bytes:
    try:
        with open(path, "rb") as f:
            return f.read()
    except OSError:
        return b""


def _rss_kb(pid: int) -> int:
    for line in _read(f"/proc/{pid}/status").splitlines():
        if line.startswith(b"VmRSS:"):
            return int(line.split()[1])
    return 0


def host_steal() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals)


class RssSampler:
    """Samples the resident set of this process and every descendant
    (the Spark JVM and its Python workers) every ``period`` seconds and
    keeps the largest sum seen."""

    def __init__(self, period: float = 0.25):
        self.period = period
        self.peak_kb = 0
        self.peak_detail: dict[int, int] = {}  # pid → kB at the peak
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _sample(self) -> None:
        # a process forked or spawned by another has that process's
        # command line, and shares its pages, until it execs: each
        # command line is counted once
        total, detail, seen = 0, {}, set()
        for p in _tree_pids(os.getpid()):
            cmd = _read(f"/proc/{p}/cmdline")
            if cmd not in seen:
                seen.add(cmd)
                detail[p] = _rss_kb(p)
                total += detail[p]
        if total > self.peak_kb:
            self.peak_kb, self.peak_detail = total, detail

    def _run(self) -> None:
        while not self._stop.wait(self.period):
            self._sample()

    def __enter__(self) -> "RssSampler":
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


@dataclass
class Run:
    """What a workload gets: its arguments, its scratch directory, the
    tracer, and where its results go."""

    seed: int
    seconds: int
    cores: int
    work: str
    tracer: Tracer
    opts: dict
    metrics: dict[str, tuple[float, str]] = field(default_factory=dict)
    layer: dict[str, tuple[float, str]] = field(default_factory=dict)
    aliases: dict[str, tuple[float, str]] = field(default_factory=dict)
    notes: list[str] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)

    def metric(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = (float(value), unit)

    def layer_metric(self, name: str, value: float, unit: str) -> None:
        self.layer[name] = (float(value), unit)

    def alias(self, name: str, value: float, unit: str) -> None:
        """A workload-specific name for an end-to-end figure, printed
        for people; the JSON result carries the generic name."""
        self.aliases[name] = (float(value), unit)

    def note(self, text: str) -> None:
        self.notes.append(text)

    def phase(self, what: str) -> None:
        """Log progress with the time since the process started (stderr)."""
        print(f"perfbench: {time.perf_counter() - _T0:7.1f}s {what}", file=sys.stderr, flush=True)

    def check(self, ok: bool, what: str) -> bool:
        """Count one correctness-checked operation."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(what)
        return ok
