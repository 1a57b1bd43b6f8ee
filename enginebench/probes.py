"""Measurement helpers that observe the engine from outside: process-tree
RSS, Spark job/stage/task counts, and answer checks against the oracle."""

from __future__ import annotations

import math
import os
import threading
import time
from contextlib import contextmanager

PAGE = os.sysconf("SC_PAGE_SIZE")


def _proc_table() -> tuple[dict[int, int], dict[int, int]]:
    """(pid -> parent pid, pid -> resident bytes) of every process."""
    parent: dict[int, int] = {}
    rss: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
            with open(f"/proc/{name}/statm") as f:
                pages = int(f.read().split()[1])
        except (OSError, IndexError, ValueError):
            continue  # process exited while we looked
        pid = int(name)
        # field 4 (ppid) follows the parenthesised command name
        parent[pid] = int(stat.rsplit(")", 1)[1].split()[1])
        rss[pid] = pages * PAGE
    return parent, rss


def _below(parent: dict[int, int], root: int) -> set[int]:
    out, frontier = set(), {root}
    while frontier:
        frontier = {p for p, pp in parent.items() if pp in frontier}
        out |= frontier
    return out


def descendants(root: int) -> set[int]:
    return _below(_proc_table()[0], root)


def _tree_rss_bytes(root: int) -> int:
    """Summed resident memory of ``root`` and all its descendants."""
    parent, rss = _proc_table()
    return sum(rss.get(p, 0) for p in _below(parent, root) | {root})


class PeakRss:
    """Samples the RSS of this process tree (driver, JVM, Python
    workers) on a background thread; ``peak_mb`` is the maximum seen."""

    def __init__(self, interval_s: float = 0.5) -> None:
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(me))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, _tree_rss_bytes(os.getpid()))

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20


class SparkCounts:
    """Exact job/stage/task counts of the Spark work a block of driver
    code launches, read from ``SparkContext.statusTracker()`` under a
    job group set around the block."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self._n = 0

    @contextmanager
    def group(self):
        """Yields a dict that holds jobs/stages/tasks once the block ends."""
        self._n += 1
        gid = f"enginebench-{self._n}"
        self.sc.setJobGroup(gid, gid)
        out: dict[str, int] = {}
        try:
            yield out
        finally:
            self.sc.setJobGroup("enginebench-idle", "idle")
            tr = self.sc.statusTracker()
            jobs = tr.getJobIdsForGroup(gid)
            stages = [s for j in jobs for s in tr.getJobInfo(j).stageIds]
            infos = [tr.getStageInfo(s) for s in stages]
            out.update(
                jobs=len(jobs),
                stages=len(stages),
                tasks=sum(i.numTasks for i in infos if i is not None),
            )


def timed(fn, *args, **kw):
    t0 = time.perf_counter()
    out = fn(*args, **kw)
    return out, time.perf_counter() - t0


def median(xs: list[float]) -> float:
    s = sorted(xs)
    n = len(s)
    return s[n // 2] if n % 2 else 0.5 * (s[n // 2 - 1] + s[n // 2])


def answer_ok(got: list[tuple[int, float]], want: list[tuple[int, float]],
              scores: dict[int, float], k: int,
              excluded: frozenset[int] = frozenset()) -> bool:
    """Does a served top-k match the oracle?

    ``want`` is the oracle's full ranking (doc_id, score) and ``scores``
    the same as a dict. Rank by rank the served score must equal the
    oracle's score at that rank (to 1e-9 relative), and every served
    doc must carry its own oracle score; this accepts a different
    choice among exactly tied docs and nothing else. ``excluded`` docs
    (tombstones) must never be served."""
    live = [(d, s) for d, s in want if d not in excluded][:k]
    if len(got) != len(live):
        return False
    for (doc, sc), (_, want_sc) in zip(got, live):
        if doc in excluded or doc not in scores:
            return False
        tol = 1e-9 * max(1.0, abs(want_sc))
        if not (math.isclose(sc, want_sc, rel_tol=0, abs_tol=tol)
                and math.isclose(scores[doc], want_sc, rel_tol=0, abs_tol=tol)):
            return False
    return len({d for d, _ in got}) == len(got)
