"""Measurement helpers: percentiles, process-tree memory, host stamp."""

from __future__ import annotations

import math
import os
import threading
import time

# percentiles the tail helper may report, highest first
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0)


def percentile(values: list[float], pct: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least
    ``pct`` % of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    rank = max(1, math.ceil(pct / 100.0 * len(s)))
    return s[rank - 1]


def beyond(n: int, pct: float) -> int:
    """Samples strictly above the nearest-rank ``pct`` percentile."""
    return n - max(1, math.ceil(pct / 100.0 * n))


def supports(n: int, pct: float) -> bool:
    """True when ``pct`` has at least ten samples beyond it."""
    return beyond(n, pct) >= 10


def min_samples(pct: float) -> int:
    """The fewest samples for which ``pct`` has ten beyond it."""
    n = 1
    while not supports(n, pct):
        n += 1
    return n


def summarize(values: list[float]) -> dict:
    """Median, the highest ladder percentile with at least ten samples
    beyond it, and the sample count."""
    n = len(values)
    out = {"n": n, "p50": percentile(values, 50.0) if n else None}
    tail = next((p for p in TAIL_LADDER if supports(n, p)), None)
    out["tail_pct"] = tail
    out["tail"] = percentile(values, tail) if tail is not None else None
    return out


def tail_value(values: list[float], pct: float) -> float:
    """The ``pct`` percentile, refused when fewer than ten samples lie
    beyond it."""
    if not supports(len(values), pct):
        raise ValueError(
            f"p{pct:g} needs at least ten samples beyond it; have "
            f"{len(values)} samples"
        )
    return percentile(values, pct)


def _children(pid: int) -> list[int]:
    try:
        with open(f"/proc/{pid}/task/{pid}/children") as f:
            return [int(x) for x in f.read().split()]
    except OSError:
        return []


def process_tree(pid: int | None = None) -> list[int]:
    pid = os.getpid() if pid is None else pid
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(_children(p))
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class TreeRss:
    """Samples the summed resident memory of this process and all its
    descendants (driver, JVM, Python workers) on a background thread."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_kb = 0
        self.peak_parts: list[int] = []  # per-process kB at the peak
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> int:
        parts = {p: _rss_kb(p) for p in process_tree()}
        kb = sum(parts.values())
        if kb > self.peak_kb:
            self.peak_kb = kb
            self.peak_parts = sorted(parts.values(), reverse=True)
        return kb

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self) -> "TreeRss":
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def calibration() -> dict:
    """The single-thread host kernel: one pass of each kernel of the
    repository's calibration (60,000 pure-Python pgoutput parses, and
    4 x sort+cumsum over a seeded 8M-float array). Recorded only; never
    used to normalise a metric."""
    import numpy as np

    from pg_logical_replication_spark.sources import pgoutput_format as fmt

    cache: dict = {}
    fmt.parse_message(
        fmt.encode_relation(
            16385, "public", "huge_transaction",
            [(f"col{j:02d}", 25) for j in range(20)], key_columns=["col00"],
        ),
        cache,
    )
    msgs = [
        fmt.encode_insert(16385, [("t", f"v{i}_{j}") for j in range(20)])
        for i in range(2000)
    ]
    t0 = time.perf_counter()
    for _ in range(30):
        for m in msgs:
            fmt.parse_message(m, cache)
    py = time.perf_counter() - t0
    arr = np.random.default_rng(42).random(8_000_000)
    t0 = time.perf_counter()
    for _ in range(4):
        float(np.cumsum(np.sort(arr))[-1])
    nps = time.perf_counter() - t0
    return {
        "py_decode_s": py,
        "np_sort_s": nps,
        "loadavg": list(os.getloadavg()),
    }
