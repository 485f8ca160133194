"""Tracing for the benchmark's ``--trace 1`` runs.

Three sources, all read from outside the program:

- spans: wrappers the benchmark installs around public calls of
  ``skewer_spark`` and PySpark (``SPANNED``). Each span records name,
  start, end and parent; spans stay in memory until the run ends.
- Spark's status stores: plan-node SQL metrics per execution
  (``sharedState().statusStore()``) and job/stage/task data
  (``SparkContext.statusStore()``). Both work with the UI disabled.
- ``/proc``: high-water RSS of the driver and the JVM, and the Python
  worker processes started under the JVM.
"""

from __future__ import annotations

import functools
import importlib
import itertools
import os
import re
import statistics
import threading
import time
from dataclasses import dataclass, field

# (span name, module, class or None, attribute)
SPANNED = (
    ("get_spark", "skewer_spark.session", None, "get_spark"),
    ("pipeline_run", "skewer_spark.pipeline", "Pipeline", "run"),
    ("writer_parquet", "pyspark.sql.readwriter", "DataFrameWriter", "parquet"),
    ("to_pandas", "pyspark.sql.classic.dataframe", "DataFrame", "toPandas"),
    ("register_dir", "skewer_spark.icelite", "IceLiteTable", "register_dir"),
    ("append_pandas", "skewer_spark.icelite", "IceLiteTable", "append_pandas"),
    ("snapshots", "skewer_spark.icelite", "IceLiteTable", "snapshots"),
    ("lineage_commit", "skewer_spark.lineage", "LineageLog", "commit"),
    ("committed_units", "skewer_spark.lineage", "LineageLog", "committed_units"),
    ("curate_pack", "skewer_spark.ops.curation", None, "curate_pack"),
)


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0


class Tracer:
    """Records spans around the ``SPANNED`` calls while ``active``.

    Spans opened on a thread with no open span (the streaming
    ``foreachBatch`` callback thread) take the innermost open root span
    as their parent."""

    def __init__(self) -> None:
        self.active = False
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._roots: list[int] = []
        self._saved: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def span(self, name: str, root: bool = False):
        tracer = self

        class _Ctx:
            def __enter__(self):
                stack = tracer._stack()
                parent = stack[-1] if stack else (tracer._roots[-1] if tracer._roots else None)
                self.s = Span(next(tracer._ids), name, parent, time.time())
                stack.append(self.s.sid)
                if root:
                    tracer._roots.append(self.s.sid)
                return self.s

            def __exit__(self, *exc):
                self.s.end = time.time()
                tracer._stack().pop()
                if root:
                    tracer._roots.remove(self.s.sid)
                tracer.spans.append(self.s)
                return False

        return _Ctx()

    def install(self) -> None:
        for name, mod, cls, attr in SPANNED:
            owner = importlib.import_module(mod)
            if cls is not None:
                owner = getattr(owner, cls)
            fn = getattr(owner, attr)
            self._saved.append((owner, attr, fn))
            setattr(owner, attr, self._wrap(name, fn))

    def uninstall(self) -> None:
        for owner, attr, fn in reversed(self._saved):
            setattr(owner, attr, fn)
        self._saved.clear()

    def _wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            with self.span(name):
                return fn(*args, **kwargs)

        return traced


def union_s(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ------------------------------------------------------------------ /proc
def _proc_status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(pids) -> float:
    """Sum of the high-water resident set sizes of ``pids``, in MiB."""
    return sum(_proc_status_kb(p, "VmHWM") for p in pids) / 1024.0


def _proc_table() -> dict[int, tuple[int, str]]:
    """pid -> (ppid, cmdline) for every visible process."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
            with open(f"/proc/{d}/cmdline", "rb") as f:
                cmd = f.read().replace(b"\0", b" ").decode(errors="replace")
        except OSError:
            continue
        out[int(d)] = (int(stat.rsplit(")", 1)[1].split()[1]), cmd)
    return out


def python_workers(jvm_pid: int) -> set[int]:
    """PySpark Python processes below the JVM, except the fork daemon."""
    table = _proc_table()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    found, todo = set(), list(kids.get(jvm_pid, []))
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        ppid, cmd = table[pid]
        if "pyspark" in cmd and not (ppid == jvm_pid and "pyspark.daemon" in cmd):
            found.add(pid)
    return found


class WorkerSampler:
    """Samples the Python workers under the JVM every ``interval`` seconds
    on a background thread: workers started while it runs, and the peak
    number alive at once."""

    def __init__(self, jvm_pid: int, interval: float = 0.02):
        self.jvm_pid = jvm_pid
        self.interval = interval
        self.before = python_workers(jvm_pid)
        self.seen: set[int] = set(self.before)
        self.peak = len(self.before)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            now = python_workers(self.jvm_pid)
            self.seen |= now
            self.peak = max(self.peak, len(now))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        return False

    @property
    def started(self) -> int:
        return len(self.seen - self.before)


# ----------------------------------------------------- Spark status stores
_SCALE = {
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_STAGE_RE = re.compile(r"\(stage (\d+)\.\d+: task")


def parse_metric(text: str) -> tuple[float, int | None]:
    """(total, stage of the max task) from a formatted SQL metric such as
    ``total (min, med, max (stageId: taskId))\\n30.3 s (...(stage 5.0: task 20))``.
    Sizes come back in bytes and times in seconds."""
    body = text.split("\n", 1)[-1]
    head = body.split(" (", 1)[0].strip().replace(",", "")
    parts = head.split()
    try:
        value = float(parts[0]) * (_SCALE.get(parts[1], 1.0) if len(parts) > 1 else 1.0)
    except (IndexError, ValueError):
        value = 0.0
    m = _STAGE_RE.search(text)
    return value, int(m.group(1)) if m else None


@dataclass
class Node:
    nid: int
    name: str
    desc: str
    metrics: dict[str, float] = field(default_factory=dict)
    stages: set[int] = field(default_factory=set)


@dataclass
class Execution:
    eid: int
    submitted: float
    nodes: dict[int, Node]
    children: dict[int, list[int]]
    span: str = ""
    span_parent: str = ""

    def find(self, pred) -> list[Node]:
        return [n for n in self.nodes.values() if pred(n)]

    def subtree(self, nid: int) -> list[Node]:
        out, todo = [], list(self.children.get(nid, []))
        while todo:
            c = todo.pop()
            out.append(self.nodes[c])
            todo.extend(self.children.get(c, []))
        return out


@dataclass
class Stage:
    sid: int
    tasks: int
    failed: int
    run_s: float
    gc_s: float
    skew: float  # max / median task run time


@dataclass
class Job:
    start: float
    end: float
    stages: list[int]


def _seq(jvm, coll) -> list:
    return list(jvm.scala.jdk.javaapi.CollectionConverters.asJava(coll))


def _date_s(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def flush_listeners(spark) -> None:
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30_000)


def read_executions(spark, t0: float, t1: float) -> list[Execution]:
    """SQL executions submitted in [t0, t1] with their plan-node metrics."""
    jvm = spark._jvm
    store = spark._jsparkSession.sharedState().statusStore()
    out = []
    for ui in _seq(jvm, store.executionsList()):
        submitted = ui.submissionTime() / 1000.0
        if not (t0 - 0.002 <= submitted <= t1 + 0.002):
            continue
        eid = ui.executionId()
        metrics = store.executionMetrics(eid)
        values = dict(jvm.scala.jdk.javaapi.CollectionConverters.asJava(metrics))
        graph = store.planGraph(eid)
        nodes = {}
        for n in _seq(jvm, graph.allNodes()):
            node = Node(n.id(), n.name(), n.desc())
            for m in _seq(jvm, n.metrics()):
                text = values.get(m.accumulatorId())
                if text is None:
                    continue
                v, stage = parse_metric(text)
                node.metrics[m.name()] = node.metrics.get(m.name(), 0.0) + v
                if stage is not None:
                    node.stages.add(stage)
            nodes[node.nid] = node
        children: dict[int, list[int]] = {}
        for e in _seq(jvm, graph.edges()):
            children.setdefault(e.toId(), []).append(e.fromId())
        out.append(Execution(eid, submitted, nodes, children))
    return out


def read_jobs(spark, t0: float, t1: float) -> tuple[list[Job], dict[int, Stage]]:
    """Jobs submitted in [t0, t1] and the stages they ran."""
    jvm = spark._jvm
    store = spark.sparkContext._jsc.sc().statusStore()
    quantiles = spark.sparkContext._gateway.new_array(jvm.double, 2)
    quantiles[0], quantiles[1] = 0.5, 1.0
    jobs, stages = [], {}
    for j in _seq(jvm, store.jobsList(None)):
        start, end = _date_s(j.submissionTime()), _date_s(j.completionTime())
        if start is None or not (t0 - 0.002 <= start <= t1 + 0.002):
            continue
        ids = [int(s) for s in _seq(jvm, j.stageIds())]
        jobs.append(Job(start, end if end is not None else t1, ids))
        for sid in ids:
            if sid in stages:
                continue
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # stage was skipped and never attempted
                continue
            if sd.numCompleteTasks() + sd.numFailedTasks() == 0:
                continue
            skew = 0.0
            summary = store.taskSummary(sid, sd.attemptId(), quantiles)
            if summary.isDefined():
                med, top = list(_seq(jvm, summary.get().executorRunTime()))
                skew = top / med if med > 0 else 0.0
            stages[sid] = Stage(
                sid, sd.numCompleteTasks(), sd.numFailedTasks(),
                sd.executorRunTime() / 1000.0, sd.jvmGcTime() / 1000.0, skew,
            )
    return jobs, stages


def attribute(executions: list[Execution], spans: list[Span]) -> None:
    """Tag each execution with the innermost span open when it was
    submitted, and that span's parent."""
    by_id = {s.sid: s for s in spans}
    for ex in executions:
        inner = None
        for s in spans:
            if s.start - 0.002 <= ex.submitted <= s.end + 0.002:
                if inner is None or s.start >= inner.start:
                    inner = s
        if inner is not None:
            ex.span = inner.name
            parent = by_id.get(inner.parent)
            ex.span_parent = parent.name if parent else ""


def median(values, default: float = 0.0) -> float:
    values = list(values)
    return statistics.median(values) if values else default
