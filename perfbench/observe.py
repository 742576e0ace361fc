"""Measurement from outside the engine: process CPU and memory from
``/proc``, Spark's SQL status store, JVM GC time, and in-memory spans.

Nothing here changes what Spark executes: the status store is the one
Spark keeps for its UI (it is populated with ``spark.ui.enabled=false``
too), and ``/proc`` is read from a sampling thread in this process.
"""

from __future__ import annotations

import os
import re
import threading
import time
from dataclasses import asdict, dataclass, field

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
RSS_INTERVAL_S = 0.25
CLEANER_WAIT_S = 1.0


# ---------------------------------------------------------------------------
# /proc: CPU seconds and resident memory of the JVM and its Python workers
# ---------------------------------------------------------------------------


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # exited between listing and reading
        return None
    # the command name may contain spaces: split after its closing paren
    return raw[raw.rindex(")") + 2 :].split()


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def process_tree(root: int, python_only: bool = False) -> list[int]:
    """``root`` and all its descendants (Spark's Python daemon and the
    workers it forks).  ``python_only`` keeps, below the root, only
    Python processes: a helper the JVM spawns shares the JVM's pages
    until it execs, and would count the heap twice."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f:
                children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    if python_only:
        out = [root] + [p for p in out[1:] if _comm(p).startswith("python")]
    return out


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of the tree, including reaped children
    (a worker that exits is folded into its parent's cutime/cstime)."""
    total = 0
    for pid in process_tree(root):
        f = _stat_fields(pid)
        if f:  # fields 14-17 of stat: utime stime cutime cstime
            total += sum(int(v) for v in f[11:15])
    return total / _CLK


def rss_mb(pids: list[int]) -> float:
    total = 0
    for pid in pids:
        f = _stat_fields(pid)
        if f:
            total += int(f[21])  # field 24: rss in pages
    return total * _PAGE / 2**20


class RssSampler:
    """Peak of the tree's summed RSS, sampled every ``RSS_INTERVAL_S`` s
    from a daemon thread until :meth:`stop`."""

    def __init__(self, root: int) -> None:
        self.root, self.peak_mb = root, 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        tick, pids = 0, []
        while not self._stop.is_set():
            if tick % 10 == 0:  # workers come and go; re-list them every 10 ticks
                pids = process_tree(self.root, python_only=True)
            self.peak_mb = max(self.peak_mb, rss_mb(pids))
            tick += 1
            self._stop.wait(RSS_INTERVAL_S)

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=10)
        return self.peak_mb


def host_steal_s() -> float:
    """CPU seconds the hypervisor has taken from this VM since boot
    (all CPUs): a busy host shows as steal during a run."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _CLK if len(fields) > 8 else 0.0


def cpu_control_s() -> float:
    """Wall time of a fixed single-thread numpy workload: a yardstick of
    the host's speed at the time of the run (a throttled or contended
    phase shows as a larger value), independent of Spark."""
    import numpy as np

    a = np.arange(1_000_000, dtype=np.float64) * 1e-6
    for _ in range(5):  # untimed: first-call allocator set-up
        a = np.sqrt(a * a + 1.0) - 1.0
    t0 = time.perf_counter()
    for _ in range(60):
        a = np.sqrt(a * a + 1.0) - 1.0
    return time.perf_counter() - t0


# ---------------------------------------------------------------------------
# Spark: SQL status store, GC time, block-manager storage
# ---------------------------------------------------------------------------

_UNITS = {
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_NUM = re.compile(r"([-\d.,]+)\s*([A-Za-z]*)")


def parse_metric(text: str | None) -> tuple[float, float | None, float | None]:
    """(total, median, max) of one formatted SQL metric value, in bytes,
    seconds or plain counts.  Per-task metrics read
    ``"total (min, med, max (stageId: taskId))\\n10.5 MiB (1 B, 2 B, 3 B (stage 1.0: task 2))"``;
    the others are a single number."""
    if not text:
        return 0.0, None, None
    body = text.split("\n", 1)[-1]
    vals = [
        float(n.replace(",", "")) * _UNITS.get(u, 1.0)
        for n, u in _NUM.findall(body.split("(stage")[0])
        if n.replace(",", "").replace(".", "").replace("-", "")
    ]
    if len(vals) >= 4:
        return vals[0], vals[2], vals[3]
    return (vals[0] if vals else 0.0), None, None


@dataclass
class Node:
    id: int
    name: str
    desc: str
    metrics: dict[str, tuple[float, float | None, float | None]]
    children: list[int] = field(default_factory=list)


@dataclass
class Execution:
    id: int
    submitted: float  # epoch seconds
    plan: str
    stages: list[int] = field(default_factory=list)
    nodes: list[Node] = field(default_factory=list)


class StatusStore:
    """Reads executions and per-node metrics from the SQL status store."""

    def __init__(self, spark) -> None:
        self._spark = spark
        self._store = spark._jsparkSession.sharedState().statusStore()

    def last_id(self) -> int:
        n = int(self._store.executionsCount())
        if n == 0:
            return -1
        return int(self._store.executionsList(n - 1, 1).apply(0).executionId())

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        store holds all executions started so far."""
        self._spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()

    def since(self, after_id: int, with_nodes: bool = False) -> list[Execution]:
        """Executions with id > ``after_id`` (ascending)."""
        n = int(self._store.executionsCount())
        lst = self._store.executionsList(max(0, n - 500), 500)
        out = []
        for i in range(lst.size()):
            e = lst.apply(i)
            eid = int(e.executionId())
            if eid > after_id:
                ex = Execution(eid, int(e.submissionTime()) / 1000.0, str(e.physicalPlanDescription()))
                if with_nodes:
                    ex.nodes = self._nodes(eid)
                    ex.stages = [int(x) for x in str(e.stages().mkString(",")).split(",") if x]
                out.append(ex)
        return sorted(out, key=lambda x: x.id)

    def _nodes(self, eid: int) -> list[Node]:
        values = self._store.executionMetrics(eid)
        plan = self._store.planGraph(eid)
        children: dict[int, list[int]] = {}
        edges = plan.edges()  # child -> parent
        for i in range(edges.size()):
            ed = edges.apply(i)
            children.setdefault(int(ed.toId()), []).append(int(ed.fromId()))
        graph = plan.allNodes()
        nodes = []
        for i in range(graph.size()):
            nd = graph.apply(i)
            ms = nd.metrics()
            metrics = {}
            for j in range(ms.size()):
                m = ms.apply(j)
                v = values.get(m.accumulatorId())
                metrics[str(m.name())] = parse_metric(str(v.get()) if v.isDefined() else None)
            nid = int(nd.id())
            nodes.append(Node(nid, str(nd.name()).strip(), str(nd.desc()), metrics,
                              children.get(nid, [])))
        return nodes


def shuffle_skew(spark, execs: list[Execution]) -> float:
    """Largest over median shuffle partition: the max / median bytes
    read per task of the stage that reads the most shuffle data (a
    reduce task reads one partition, or one coalesced run of them).
    0 when the executions read no shuffle."""
    app = spark.sparkContext._jsc.sc().statusStore()
    q = spark.sparkContext._gateway.new_array(spark._jvm.double, 2)
    q[0], q[1] = 0.5, 1.0
    best, skew = 0, 0.0
    for sid in {s for e in execs for s in e.stages}:
        read = int(app.lastStageAttempt(sid).shuffleReadBytes())
        summary = app.taskSummary(sid, 0, q)
        if read > best and summary.isDefined():
            rb = summary.get().shuffleReadMetrics().readBytes()
            med, mx = float(rb.apply(0)), float(rb.apply(1))
            if med > 0:
                best, skew = read, mx / med
    return skew


def gc_seconds(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, int(b.getCollectionTime())) for b in beans) / 1000.0


def live_heap_mb(spark) -> float:
    """Heap in use after full collections: what the driver JVM holds,
    Spark's on-heap memory store (every cached block) included.

    Two collections ``CLEANER_WAIT_S`` apart: the first finds the
    handles of the op's broadcasts and shuffles unreachable, Spark's
    ContextCleaner then drops their blocks on its own thread, and the
    second frees those blocks (second op of ``polygon_knn_uniform``,
    seeds 1-3, 4-vCPU VM: 139 to 212 MB after the first collection, 78
    to 80 MB after the second)."""
    jvm = spark._jvm
    jvm.java.lang.System.gc()  # a full, stop-the-world collection under ParallelGC
    time.sleep(CLEANER_WAIT_S)
    jvm.java.lang.System.gc()
    usage = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
    return int(usage.getUsed()) / 2**20


def cached_mb(spark) -> float:
    """Memory + disk held by persisted RDDs (cached DataFrames and local
    checkpoints) in the block manager."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(int(i.memSize()) + int(i.diskSize()) for i in infos) / 2**20


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None
    op: int


class Tracer:
    """In-memory spans around the benchmark's calls into each layer.
    Spans whose parent is ``"op"`` are the op's blocking path; the
    diagnostics run after the op have parent ``"diagnostic"``."""

    def __init__(self) -> None:
        self.spans: list[Span] = []

    def span(self, name: str, op: int, parent: str | None, fn, *args, **kw):
        """Call ``fn`` inside a span; times are epoch seconds, so spans
        line up with the executions' submission times."""
        t0 = time.time()
        try:
            return fn(*args, **kw)
        finally:
            self.spans.append(Span(name, t0, time.time(), parent, op))

    def to_json(self) -> list[dict]:
        return [asdict(s) for s in self.spans]
