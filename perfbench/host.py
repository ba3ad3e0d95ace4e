"""Host diagnostics: control timings and process-tree memory.

The control timings make a throttled host visible beside every
figure. They are recorded, never used to scale or gate a result.
"""

from __future__ import annotations

import os
import threading
import time


def python_control_ms() -> float:
    """A fixed CPU-bound Python loop (integer arithmetic, no allocation)."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc = (acc + i * i) % 1_000_003
    if acc < 0:  # keeps the loop observable
        raise RuntimeError(acc)
    return (time.perf_counter() - t0) * 1000.0


#: sum(id % 7) over range(200_000): 28_571 full cycles of 21, then 0+1+2
_CONTROL_SUM = 599_994


def spark_control_ms(spark) -> float:
    """A fixed tiny Spark job: one aggregate over a generated range."""
    t0 = time.perf_counter()
    got = spark.range(0, 200_000, 1, 4).selectExpr("sum(id % 7) AS s").collect()[0][0]
    if got != _CONTROL_SUM:
        raise RuntimeError(f"control job returned {got}, expected {_CONTROL_SUM}")
    return (time.perf_counter() - t0) * 1000.0


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after ")"
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def tree_pids(root: int, depth: int | None = None) -> list[int]:
    """``root`` and its descendants, down to ``depth`` generations."""
    kids = _children()
    out, todo = [], [(root, 0)]
    while todo:
        pid, d = todo.pop()
        out.append(pid)
        if depth is None or d < depth:
            todo.extend((k, d + 1) for k in kids.get(pid, ()))
    return out


def rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Samples the summed RSS of a Spark driver process and its direct
    children (the JVM it launched) on a background thread and keeps the
    peak. Python workers, children of the JVM, are not counted: how many
    are alive at a sampling instant varies from run to run. Use as a
    context manager."""

    def __init__(self, root_pid: int, interval_s: float = 0.1):
        self.root_pid = root_pid
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval_s)

    def sample(self) -> None:
        total = sum(rss_kb(p) for p in tree_pids(self.root_pid, depth=1))
        self.peak_kb = max(self.peak_kb, total)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0
