"""Spans, Spark SQL metrics and host counters for the traced run.

Spans are recorded by the benchmark around its calls into each layer's
public functions; nothing inside the engine is instrumented. They are
kept in memory and written out once, when the run ends.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


class Tracer:
    """In-memory span recorder: (name, start, end, parent, run_id, attrs)."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield {}
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.perf_counter(),
            "end": None,
            "attrs": dict(attrs),
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec["attrs"]
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name and s["end"] is not None]

    def write(self, path: str) -> None:
        if not self.enabled:
            return
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans}, f)


def _parse_metric(kind: str, text: str) -> float:
    """Spark's formatted SQL metric value → a number (sum/size metrics only)."""
    if "\n" in text:  # "total (min, med, max ...)\n<total> (...)"
        text = text.split("\n", 1)[1].split(" (", 1)[0]
    text = text.strip()
    if kind == "size":
        num, unit = text.split(" ")
        return round(float(num) * _SIZE_UNITS[unit])
    return int(text.replace(",", ""))


class SqlMetrics:
    """Reads per-node metrics of finished SQL executions from Spark's status store."""

    def __init__(self, spark):
        self.spark = spark
        self._jss = spark._jsparkSession
        self._store = self._jss.sharedState().statusStore()

    def _drain(self) -> None:
        # execution-end events reach the status store through the async listener bus
        self._jss.sparkContext().listenerBus().waitUntilEmpty()

    def last_id(self) -> int:
        self._drain()
        n = self._store.executionsCount()
        if n == 0:
            return -1
        execs = self._store.executionsList(n - 1, 1)
        return execs.apply(0).executionId()

    def since(self, after_id: int) -> list[int]:
        self._drain()
        n = self._store.executionsCount()
        execs = self._store.executionsList()
        ids = [execs.apply(k).executionId() for k in range(n)]
        return [i for i in ids if i > after_id]

    def node_metrics(self, exec_ids: list[int]) -> list[tuple[str, str, float]]:
        """(node name, metric name, value) for every sum/size metric of the executions."""
        out = []
        for eid in exec_ids:
            values = self._store.executionMetrics(eid)
            nodes = self._store.planGraph(eid).allNodes()
            for k in range(nodes.size()):
                node = nodes.apply(k)
                ms = node.metrics()
                for j in range(ms.size()):
                    m = ms.apply(j)
                    if m.metricType() not in ("sum", "size"):
                        continue
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        out.append((node.name(), m.name(), _parse_metric(m.metricType(), v.get())))
        return out

    @staticmethod
    def total(rows, node_prefix: str | None, metric: str) -> float:
        return sum(v for n, m, v in rows if m == metric and (node_prefix is None or n.startswith(node_prefix)))

    def cached_relations(self) -> int:
        """1 when the CacheManager holds any cached relation, else 0 (0 right after clearCache)."""
        return 0 if self._jss.sharedState().cacheManager().isEmpty() else 1


# --- host and process tree -------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int | None = None) -> list[int]:
    kids = _children()
    out, todo = [], [pid or os.getpid()]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s() -> float:
    """User+system CPU of this process, its live descendants and reaped children."""
    total = 0
    for pid in [os.getpid(), *descendants()]:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        except (OSError, IndexError, ValueError):
            continue
    return total / _CLK_TCK


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over the host's CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _CLK_TCK


def tree_peak_rss_mb() -> float:
    """Sum of peak resident sets (VmHWM) of the JVM and its Python workers."""
    total_kb = 0
    for pid in descendants():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0
