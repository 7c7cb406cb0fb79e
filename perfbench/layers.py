"""Per-layer measurement: spans, Spark status-store reads and /proc.

A ``Tracer`` wraps every call the benchmark makes into the program's
layers (``queries``, ``catalyst``, ``exec``, ``tables``, ``session``,
``tpcds_data``). In a traced run each wrapped call becomes one span:
name, start, end, parent span and the id of the operation it belongs to.
Spans stay in memory and are written out once, at exit. Every Spark call
inside a span runs under its own job group, so the jobs, stages and task
metrics it launched can be read back from Spark's status store right after
the operation returns (the session retains only the last 100 stages).

An untraced run keeps only the operation wall times; no job groups, no
status-store reads.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JError

STAGE_FIELDS = {
    "task_run_ms": "executorRunTime",
    "task_cpu_ns": "executorCpuTime",
    "gc_ms": "jvmGcTime",
    "input_bytes": "inputBytes",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "spill_mem_bytes": "memoryBytesSpilled",
    "spill_disk_bytes": "diskBytesSpilled",
}


@dataclass
class Span:
    name: str
    start_ns: int
    end_ns: int = 0
    parent: int = -1  # index into Tracer.spans, -1 for an operation root
    op: int = -1
    group: str | None = None

    @property
    def ms(self) -> float:
        return (self.end_ns - self.start_ns) / 1e6


@dataclass
class OpRecord:
    """One timed operation of the closed loop."""

    op: int
    name: str
    kind: str  # "read" | "commit"
    mode: str = ""  # table copy for lake_upsert ops ("cow" | "mor")
    wall_ms: float = 0.0
    ok: bool = False
    error: str | None = None
    rows: list | None = None
    columns: list | None = None
    stats: dict = field(default_factory=dict)
    qdef: object = None  # registry QueryDef of a query op


class Tracer:
    def __init__(self, spark_context, enabled: bool):
        self.sc = spark_context
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._op = -1
        self.bookkeeping_ns = 0  # tracer time spent inside op windows

    @contextmanager
    def op(self, op_id: int, name: str):
        """Root span of one operation; the wall time is always measured."""
        self._op = op_id
        if not self.enabled:
            yield
            self._op = -1
            return
        with self.span(f"op.{name}", group=False):
            yield
        self._op = -1

    @contextmanager
    def span(self, name: str, group: bool = True):
        """One layer call inside the current operation (set-up calls,
        outside any operation, are not spanned)."""
        if not self.enabled or self._op < 0:
            yield
            return
        t0 = time.perf_counter_ns()
        idx = len(self.spans)
        gid = f"pb{self._op}.{idx}" if group else None
        parent = self._stack[-1] if self._stack else -1
        sp = Span(name, 0, parent=parent, op=self._op, group=gid)
        self.spans.append(sp)
        self._stack.append(idx)
        if gid:
            self.sc.setJobGroup(gid, name)
        sp.start_ns = time.perf_counter_ns()
        self.bookkeeping_ns += sp.start_ns - t0
        try:
            yield
        finally:
            sp.end_ns = time.perf_counter_ns()
            self._stack.pop()
            if gid:
                outer = self.spans[self._stack[-1]].group if self._stack else None
                if outer:
                    self.sc.setJobGroup(outer, self.spans[self._stack[-1]].name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.bookkeeping_ns += time.perf_counter_ns() - sp.end_ns

    def op_spans(self, op_id: int) -> list[Span]:
        return [s for s in self.spans if s.op == op_id]

    def self_ms(self, op_id: int) -> dict[str, float]:
        """Self time per layer (span duration minus its children), keyed by
        the span name's first component; the operation root is
        ``harness``. The values sum to the root span's duration."""
        spans = self.op_spans(op_id)
        index = {id(s): i for i, s in enumerate(self.spans)}
        child_ms: dict[int, float] = {}
        for s in spans:
            if s.parent >= 0:
                child_ms[s.parent] = child_ms.get(s.parent, 0.0) + s.ms
        out: dict[str, float] = {}
        for s in spans:
            layer = "harness" if s.parent < 0 else s.name.split(".")[0]
            own = s.ms - child_ms.get(index[id(s)], 0.0)
            out[layer] = out.get(layer, 0.0) + own
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "name": s.name, "start_ns": s.start_ns, "end_ns": s.end_ns,
                    "parent": s.parent, "op": s.op, "group": s.group,
                }) + "\n")


def _opt_ms(opt) -> int | None:
    return opt.get().getTime() if opt.isDefined() else None


def group_metrics(sc, group: str, window: tuple[float, float] | None = None) -> dict:
    """Jobs, stages and summed task metrics of one job group, read from the
    status store. ``incomplete`` is set when a job, or a stage the jobs
    report as completed, is no longer retained (the session keeps the last
    100 stages), so the caller can flag the operation rather than
    under-count it. With ``window`` (epoch seconds of the enclosing call)
    also returns ``driver_gap_ms``: the part of the window during which
    none of the group's jobs was running."""
    store = sc._jsc.sc().statusStore()
    jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    out = {k: 0 for k in STAGE_FIELDS}
    out.update(jobs=len(jobs), stages=0, tasks=0, incomplete=False)
    intervals = []
    stage_ids: set[int] = set()
    completed = 0  # stages the jobs report as completed
    for j in jobs:
        try:
            jd = store.job(j)
        except Py4JError:  # evicted job
            out["incomplete"] = f"job {j} not retained"
            continue
        completed += int(jd.numCompletedStages())
        it = jd.stageIds().iterator()
        while it.hasNext():
            stage_ids.add(int(it.next()))
        sub, done = _opt_ms(jd.submissionTime()), _opt_ms(jd.completionTime())
        if sub is not None and done is not None:
            intervals.append((sub / 1000.0, done / 1000.0))
    for s in stage_ids:
        try:
            sd = store.lastStageAttempt(s)
        except Py4JError:  # evicted, or skipped and never stored
            continue
        if sd.status().toString() != "COMPLETE":
            continue
        out["stages"] += 1
        out["tasks"] += int(sd.numCompleteTasks())
        for k, attr in STAGE_FIELDS.items():
            out[k] += int(getattr(sd, attr)())
    if out["stages"] < completed:
        out["incomplete"] = (
            f"{completed - out['stages']} of {completed} completed stages not retained"
        )
    if window is not None:
        lo, hi = window
        busy, cur_lo, cur_hi = 0.0, None, None
        for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    busy += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            busy += cur_hi - cur_lo
        out["driver_gap_ms"] = max(0.0, (hi - lo) - busy) * 1000.0
    return out


# ---------------------------------------------------------------------------
# /proc: resident memory and CPU of the driver, the JVM and Python workers

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> tuple[int, float, int, str] | None:
    """(ppid, cpu seconds, rss bytes, comm) of one process."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1:raw.rindex(")")]
    rest = raw[raw.rindex(")") + 2:].split()
    # fields after comm: state(0) ppid(1) ... utime(11) stime(12) ... rss(21)
    return int(rest[1]), (int(rest[11]) + int(rest[12])) / _CLK_TCK, int(rest[21]) * _PAGE, comm


def descendants(root: int) -> dict[int, tuple[float, int, str]]:
    """{pid: (cpu s, rss bytes, comm)} for ``root`` and all its descendants."""
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st:
                procs[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, st in procs.items():
        children.setdefault(st[0], []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in procs:
            out[pid] = procs[pid][1:]
        todo.extend(children.get(pid, ()))
    return out


class ProcSampler(threading.Thread):
    """Samples RSS and CPU of the process tree every ``interval`` seconds.
    ``peak_rss`` is the highest summed RSS seen; ``cpu`` keeps the latest
    cumulative CPU seconds per pid, so processes that exit keep their
    last-seen share."""

    def __init__(self, root: int, interval: float = 0.1):
        super().__init__(daemon=True)
        self.root, self.interval = root, interval
        self.peak_rss = 0
        self.cpu: dict[int, tuple[float, str]] = {}
        self._stop_evt = threading.Event()

    def sample(self) -> None:
        tree = descendants(self.root)
        self.peak_rss = max(self.peak_rss, sum(v[1] for v in tree.values()))
        for pid, (cpu, _, comm) in tree.items():
            self.cpu[pid] = (cpu, comm)

    def run(self) -> None:
        while not self._stop_evt.wait(self.interval):
            self.sample()

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()
        self.sample()

    def cpu_by_role(self) -> dict[str, float]:
        """CPU seconds of the driver (the benchmark process itself), the
        JVM and the Python worker processes."""
        out = {"driver": 0.0, "jvm": 0.0, "python_worker": 0.0}
        for pid, (cpu, comm) in self.cpu.items():
            if pid == self.root:
                out["driver"] += cpu
            elif comm == "java":
                out["jvm"] += cpu
            elif comm.startswith("python"):
                out["python_worker"] += cpu
        return out
