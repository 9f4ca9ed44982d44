"""Measurement helpers that sit outside the program: process-tree CPU
and RSS from /proc, in-memory spans, and Spark's own SQL metrics read
over the UI REST API after an action."""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time
import urllib.request

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _proc_table() -> dict[int, tuple[int, float, int]]:
    """pid -> (ppid, cpu seconds incl. reaped children, rss bytes)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                parts = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        cpu = sum(int(x) for x in parts[11:15]) / _CLK
        out[int(name)] = (int(parts[1]), cpu, int(parts[21]) * _PAGE)
    return out


def tree_pids(root: int, table=None) -> list[int]:
    table = table if table is not None else _proc_table()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    seen, stack = [], [root]
    while stack:
        p = stack.pop()
        if p in table and p not in seen:
            seen.append(p)
            stack.extend(children.get(p, []))
    return seen


def tree_usage(root: int | None = None) -> tuple[float, int]:
    """(CPU seconds, RSS bytes) summed over ``root`` and its descendants:
    the driver JVM and every Python worker, which the JVM's own
    executorCpuTime does not see."""
    table = _proc_table()
    pids = tree_pids(root or os.getpid(), table)
    return sum(table[p][1] for p in pids), sum(table[p][2] for p in pids)


class PeakRss:
    """Polls the process tree's RSS while active; ``peak`` is the
    largest sum seen since the last ``start``."""

    def __init__(self, interval: float = 0.2) -> None:
        self.interval = interval
        self.peak = 0
        self._on = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        while not self._stop.is_set():
            if self._on.is_set():
                self.peak = max(self.peak, tree_usage()[1])
            self._stop.wait(self.interval)

    def start(self) -> None:
        self.peak = tree_usage()[1]
        self._on.set()

    def stop(self) -> int:
        self._on.clear()
        self.peak = max(self.peak, tree_usage()[1])
        return self.peak

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


class Spans:
    """In-memory spans (name, start, end, parent); written out once at
    the end of the run."""

    def __init__(self) -> None:
        self.records: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.records), "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(), **attrs,
        }
        self.records.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def durations(self, name: str) -> list[float]:
        return [r["end"] - r["start"] for r in self.records if r["name"] == name and "end" in r]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.records, f)


# ---------------------------------------------------------------------------
# Spark SQL metrics (UI REST API; the traced run enables the UI)
# ---------------------------------------------------------------------------

_UNITS = {
    "B": 1, "KiB": 1024, "MiB": 1024 ** 2, "GiB": 1024 ** 3, "TiB": 1024 ** 4,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow",
                "FlatMapGroupsInPandas", "PythonMapInArrow")


def _value(text: str) -> float:
    """'total (min, med, max ...)\\n2.3 s (557 ms, ...)' -> 2.3;
    '20.0 MiB' -> bytes; '42,000' -> 42000."""
    line = text.split("\n")[-1].split(" (")[0].split()
    return float(line[0].replace(",", "")) * (_UNITS.get(line[1], 1.0) if len(line) > 1 else 1.0)


class SqlMetrics:
    """Sums of Spark's per-node SQL metrics over the executions whose
    description is ``tag`` (set with ``setJobGroup`` before the action)."""

    def __init__(self, spark, tag: str) -> None:
        sc = spark.sparkContext
        base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        # the listener bus may still be folding in the last task
        # metrics when the action returns: wait until the ops settle
        for _ in range(50):
            with urllib.request.urlopen(
                f"{base}/sql?details=true&planDescription=false&length=100000", timeout=30
            ) as r:
                execs = [e for e in json.load(r) if e.get("description") == tag]
            if all(e.get("status") != "RUNNING" for e in execs):
                break
            time.sleep(0.1)
        # per execution: node-name counts and per-(node, metric) sums
        self.execs: list[tuple[dict[str, int], dict[tuple[str, str], float]]] = []
        for e in execs:
            nodes: dict[str, int] = {}
            sums: dict[tuple[str, str], float] = {}
            for n in e.get("nodes", []):
                name = n["nodeName"]
                nodes[name] = nodes.get(name, 0) + 1
                for m in n.get("metrics", []):
                    try:
                        v = _value(m["value"])
                    except (ValueError, IndexError):
                        continue
                    sums[(name, m["name"])] = sums.get((name, m["name"]), 0.0) + v
            self.execs.append((nodes, sums))
        self.jobs = len(sc.statusTracker().getJobIdsForGroup(tag))

    def get(self, node: str, metric: str, within: str | None = None) -> float:
        """Sum of ``metric`` over ``node``s; with ``within``, only in the
        executions where a ``within`` node produced rows (a cached
        plan's nodes also show in the executions that read the cache)."""
        return sum(
            sums.get((node, metric), 0.0) for _, sums in self.execs
            if within is None or sums.get((within, "number of output rows"), 0.0) > 0
        )

    def count(self, *names: str) -> int:
        return sum(nodes.get(n, 0) for nodes, _ in self.execs for n in names)

    @staticmethod
    def storage_bytes(spark) -> int:
        """Memory + disk held by cached RDDs/DataFrames right now."""
        sc = spark.sparkContext
        url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/storage/rdd"
        with urllib.request.urlopen(url, timeout=30) as r:
            return sum(x.get("memoryUsed", 0) + x.get("diskUsed", 0) for x in json.load(r))
