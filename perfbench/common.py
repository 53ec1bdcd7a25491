"""Pieces shared by the workloads: the run context, the HTTP client,
the process-tree RSS sampler and the query result comparison (rows are
normalized by the repository's oracle check, ``tests/oracle_check.py``)."""

from __future__ import annotations

import http.client
import json
import math
import os
import threading
import time
from dataclasses import dataclass, field

import numpy as np
from oracle_check import normalize_rows

from tracing import Tracer

# every set-up is repeated this many times per run; setup_s is the median
SETUP_REPEATS = 2
# the process tree's resident memory is sampled this often
RSS_SAMPLE_S = 0.25


def scaled(n: int, seconds: float) -> int:
    """``n`` units of work per 10 s of ``--seconds``, at least 1. A run
    does a fixed amount of work, not as much as fits in a deadline, so
    every run measures the same mix."""
    return max(1, round(n * seconds / 10))


@dataclass
class Ctx:
    """State of one benchmark run, passed to the workload."""

    tmp: str
    seed: int
    seconds: float
    traced: bool
    spark: object
    tracer: Tracer
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    info: dict = field(default_factory=dict)
    lock: threading.Lock = field(default_factory=threading.Lock)

    def rng(self, stream: int) -> np.random.Generator:
        return np.random.default_rng([self.seed, stream])

    def op(self, ok: bool, what: str) -> bool:
        """Count one attempted operation; a failed one is recorded with
        its cause."""
        with self.lock:
            self.attempted += 1
        if not ok:
            self.fail(what)
        return ok

    def fail(self, what: str) -> None:
        with self.lock:
            self.failed += 1
            if len(self.failures) < 50:
                self.failures.append(what)

    def path(self, name: str) -> str:
        p = os.path.join(self.tmp, name)
        os.makedirs(p, exist_ok=True)
        return p


class Client:
    """One admin-UI session's HTTP client. In a traced run every request
    opens an ``http.request`` span and passes its trace to the server."""

    def __init__(self, port: int, tracer: Tracer):
        self.port = port
        self.tracer = tracer

    def call(self, method: str, path: str, body: dict | None = None, trace: str | None = None):
        """Returns (status, payload, seconds, response bytes)."""
        data = json.dumps(body).encode() if body is not None else None
        with self.tracer.span("http.request", trace=trace, route=path) as attrs:
            headers = {"Content-Type": "application/json"} if data else {}
            if attrs is not None:
                headers["X-Trace-Id"], span_id = self.tracer.current()
                headers["X-Parent-Span"] = str(span_id)
            t0 = time.perf_counter()
            conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=120)
            try:
                conn.request(method, path, body=data, headers=headers)
                resp = conn.getresponse()
                raw = resp.read()
                status = resp.status
            finally:
                conn.close()
            elapsed = time.perf_counter() - t0
            if attrs is not None:
                attrs["bytes"] = len(raw)
        return status, json.loads(raw), elapsed, len(raw)


def descendants(root: int) -> list[int]:
    """Pids of every live descendant of ``root``, from /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


class RssSampler:
    """Peak resident memory of this process and all its descendants
    (the Spark JVM and its Python workers), sampled from /proc."""

    def __init__(self):
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> int:
        total = 0
        for pid in [os.getpid(), *descendants(os.getpid())]:
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                continue
        return total

    def sample(self) -> None:
        self.peak_bytes = max(self.peak_bytes, self._tree_rss())

    def _loop(self) -> None:
        while not self._stop.wait(RSS_SAMPLE_S):
            self.sample()

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()
        return self.peak_bytes / (1024 * 1024)


# Spark and DuckDB, and two Spark runs, may sum floats in different orders,
# so a sum rounded to a few decimals can differ by one unit in its last
# place (seen: 26493813.30 against 26493813.31); floats match within this
# relative tolerance
REL_TOL = 1e-6


def _same(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=1e-9)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return a == b


def results_match(cols_a: list[str], rows_a, cols_b: list[str], rows_b) -> bool:
    """Same column names and the same multiset of rows."""
    if sorted(cols_a) != sorted(cols_b) or len(rows_a) != len(rows_b):
        return False
    pairs = zip(normalize_rows(cols_a, rows_a), normalize_rows(cols_b, rows_b))
    return all(_same(a, b) for a, b in pairs)
