"""Measurement plumbing: spans, Spark SQL metric roll-ups, process-tree
CPU and memory, and the host stamp of a run record."""

from __future__ import annotations

import os
import re
import threading
import time
from contextlib import contextmanager

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")


# --------------------------------------------------------------- spans

class Tracer:
    """In-memory spans (name, start, end, parent); written out at the end.

    Disabled, ``span`` only yields: untraced runs pay one context manager
    per call and keep nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield attrs
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter() - self._t0, "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield attrs
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self._t0
            rec.update(attrs)

    def total_ms(self, name: str) -> float:
        return sum((s["end"] - s["start"]) * 1e3 for s in self.spans
                   if s["name"] == name and s["end"] is not None)


# --------------------------------------------------------------- process tree

def _tree(root: int) -> list[tuple[int, list[str]]]:
    """(pid, /proc stat fields after the command name) of ``root`` and all
    of its descendants.

    Of the JVM's children only the Python workers count: a helper the JVM
    has spawned but not yet exec'd (Hadoop runs shell commands that way)
    shares the JVM's address space and would count its heap twice."""
    children: dict[int, list] = {}
    comm: dict[int, str] = {}
    own = None
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                head, tail = f.read().rsplit(")", 1)
        except OSError:
            continue
        rest = tail.split()
        comm[int(d)] = head.split("(", 1)[1]
        if int(d) == root:
            own = (root, rest)
        children.setdefault(int(rest[1]), []).append((int(d), rest))
    out = [own] if own else []
    stack = [root]
    while stack:
        parent = stack.pop()
        for pid, rest in children.get(parent, []):
            if comm.get(parent) == "java" and not comm[pid].startswith("python"):
                continue
            out.append((pid, rest))
            stack.append(pid)
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """User + system CPU seconds of the process tree, including reaped
    children."""
    tot = 0
    for _, rest in _tree(root or os.getpid()):
        tot += sum(int(x) for x in rest[11:15])
    return tot / CLK_TCK


def tree_rss_mb(root: int | None = None) -> float:
    tot = 0
    for _, rest in _tree(root or os.getpid()):
        tot += int(rest[21])
    return tot * PAGE / 2**20


class RssSampler(threading.Thread):
    """Peak of the summed resident memory of the process tree, sampled
    every ``period`` seconds."""

    def __init__(self, period: float = 0.05):
        super().__init__(daemon=True)
        self.period = period
        self.peak = 0.0
        self._stop_evt = threading.Event()

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self.peak = max(self.peak, tree_rss_mb())
            self._stop_evt.wait(self.period)

    def stop(self) -> float:
        self._stop_evt.set()
        if self.ident is not None:
            self.join()
        return self.peak


# --------------------------------------------------------------- host stamp

def _steal_ticks() -> int:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


class HostStamp:
    """loadavg, nproc and the CPU-steal delta of the run."""

    def __init__(self):
        self.steal0 = _steal_ticks()
        self.load0 = os.getloadavg()

    def finish(self) -> dict:
        return {
            "loadavg_start": [round(x, 2) for x in self.load0],
            "loadavg_end": [round(x, 2) for x in os.getloadavg()],
            "steal_s": (_steal_ticks() - self.steal0) / CLK_TCK,
            "nproc": os.cpu_count(),
            "affinity": len(os.sched_getaffinity(0)),
        }


# --------------------------------------------------------------- Spark SQL

_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
          "ms": 1, "s": 1e3, "m": 6e4, "h": 3.6e6, "ns": 1e-6}
_NUM = re.compile(r"^(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")


def parse_metric(text: str | None) -> float:
    """Value of a formatted SQL metric ('1,234', '12.3 MiB', '1.2 s', or
    'total (min, med, max ...)\\n<total> (...)') in bytes, ms or units."""
    if not text:
        return 0.0
    line = text.split("\n")[-1].strip()
    m = _NUM.match(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)


# (operator family, metric name) -> per-layer metric
FAMILY = [
    ("Exchange", "data size", "exchange.bytes"),
    ("Scan parquet", "scan time", "scan.ms"),
    ("Scan parquet", "number of files read", "scan.files_read"),
    ("Scan parquet", "size of files read", "scan.bytes_read"),
    ("HashAggregate", "time in aggregation build", "agg.ms"),
    ("ObjectHashAggregate", "time in aggregation build", "agg.ms"),
    ("Sort", "sort time", "sort.ms"),  # feeds the SortAggregates
    ("Execute InsertIntoHadoopFsRelationCommand", "task commit time", "write.ms"),
    ("Execute InsertIntoHadoopFsRelationCommand", "job commit time", "write.ms"),
    ("Execute InsertIntoHadoopFsRelationCommand", "number of written files", "write.files"),
    ("Execute InsertIntoHadoopFsRelationCommand", "written output", "write.bytes"),
    ("MapInPandas", "time to start Python workers", "python.boot_ms"),
    ("MapInPandas", "time to run Python workers", "python.exec_ms"),
    ("MapInPandas", "data sent to Python workers", "python.bytes_sent"),
    ("MapInPandas", "data returned from Python workers", "python.bytes_received"),
    ("MapInPandas", "number of output rows", "python.rows_out"),
]
SQL_KEYS = sorted({k for _, _, k in FAMILY} | {"exchange.count"})


class SqlMetrics:
    """Rolls up the SQL metrics of every query execution since the last
    call, by operator family, from the session's SQL status store (kept
    with the UI disabled; it retains the last 1000 executions)."""

    def __init__(self, spark):
        self.bus = spark.sparkContext._jsc.sc().listenerBus()
        self.store = spark._jsparkSession.sharedState().statusStore()
        self.conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
        self.seen = max((e.executionId() for e in self._recent()), default=-1)
        self.reset()

    def reset(self) -> None:
        """Zero ``total``, the sums over every ``collect`` since."""
        self.total = dict.fromkeys(SQL_KEYS, 0.0)

    def _recent(self, window: int = 1000):
        n = self.store.executionsCount()
        return self.conv.asJava(self.store.executionsList(max(0, n - window), window))

    def collect(self) -> dict:
        """Sums over the executions started since the last call."""
        out = dict.fromkeys(SQL_KEYS, 0.0)
        self.bus.waitUntilEmpty()  # execution-end events are applied async
        last = self.seen
        for e in self._recent():
            eid = e.executionId()
            if eid <= self.seen:
                continue
            last = max(last, eid)
            vals = self.conv.asJava(self.store.executionMetrics(eid))
            for node in self.conv.asJava(self.store.planGraph(eid).allNodes()):
                name = node.name()
                if name == "Exchange":
                    out["exchange.count"] += 1
                for m in self.conv.asJava(node.metrics()):
                    for fam, mname, key in FAMILY:
                        if m.name() == mname and name.startswith(fam):
                            out[key] += parse_metric(vals.get(m.accumulatorId()))
        self.seen = last
        for k, v in out.items():
            self.total[k] += v
        return out


def jvm_gc_ms(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return float(sum(b.getCollectionTime() for b in beans))


def jvm_live_heap_mb(spark) -> float:
    """Heap in use right after a full collection."""
    jvm = spark._jvm
    jvm.java.lang.System.gc()
    used = jvm.java.lang.management.ManagementFactory.getMemoryMXBean() \
        .getHeapMemoryUsage().getUsed()
    return used / 2**20


def versions(spark) -> dict:
    jvm = spark._jvm
    return {
        "spark": spark.version,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "heap_max_mb": jvm.java.lang.Runtime.getRuntime().maxMemory() / 2**20,
    }


def tree_pids(root: int | None = None) -> list[int]:
    root = root or os.getpid()
    return [pid for pid, _ in _tree(root) if pid != root]
