"""Summary statistics, failure accounting and process-tree memory for the
benchmark."""

from __future__ import annotations

import os
import statistics
import threading
import traceback

# Percentiles a tail may be reported at, lowest first.
TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
TAIL_MIN_BEYOND = 10


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def tail(samples) -> tuple[float, float, int] | None:
    """(percentile, value, n): the highest percentile in ``TAIL_LADDER``
    that has at least ``TAIL_MIN_BEYOND`` samples above its nearest-rank
    position. None when the sample is too small for any of them."""
    xs = sorted(samples)
    n = len(xs)
    best = None
    for p in TAIL_LADDER:
        rank = max(1, -(-round(p * 10) * n // 1000))  # ceil(p% of n), exact
        if n - rank >= TAIL_MIN_BEYOND:
            best = (p, xs[rank - 1], n)
    return best


class Ops:
    """Counts operations attempted and failed. An operation fails when it
    raises or when its check returns False; either way it counts once."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def run(self, label: str, fn, check=None):
        """Run ``fn``; returns its result, or None when it raised."""
        self.attempted += 1
        try:
            out = fn()
        except Exception:  # noqa: BLE001 — a failed operation is a result
            self.failed += 1
            self.errors.append(f"{label}: {traceback.format_exc(limit=3)}")
            return None
        if check is not None:
            self.verify(label, lambda: check(out), counted=True)
        return out

    def verify(self, label: str, check, counted: bool = False) -> bool:
        """Record a correctness check. ``counted`` means the operation it
        checks was already counted as attempted."""
        if not counted:
            self.attempted += 1
        try:
            ok = bool(check())
            err = "" if ok else "wrong result"
        except Exception:  # noqa: BLE001
            ok, err = False, traceback.format_exc(limit=3)
        if not ok:
            self.failed += 1
            self.errors.append(f"{label}: {err}")
        return ok


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


class PeakRss:
    """Samples the summed RSS of this process and all its descendants
    (this Python process, the JVM, Python workers) every ``period`` seconds."""

    def __init__(self, period: float = 0.25):
        self.period = period
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        me = os.getpid()
        total = sum(_rss_bytes(p) for p in [me, *descendants(me)])
        self.peak = max(self.peak, total)

    def _loop(self) -> None:
        while not self._stop.wait(self.period):
            self.sample()

    def __enter__(self):
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20


def tree_bytes(root: str) -> int:
    """Bytes of the regular files under ``root``, each inode counted once
    (snapshot versions share carried files by hard link)."""
    seen: set[tuple[int, int]] = set()
    total = 0
    for d, _dirs, files in os.walk(root):
        for name in files:
            st = os.lstat(os.path.join(d, name))
            key = (st.st_dev, st.st_ino)
            if key not in seen:
                seen.add(key)
                total += st.st_size
    return total
