"""Traced-run machinery: spans around the package's public entry points,
Spark job groups read back from the status store, and /proc samples of the
Spark JVM and its PySpark worker processes.

Nothing here is installed in an untraced run.  Spans stay in memory and are
written out once, at the end of the run.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

_CLK_TCK = os.sysconf("SC_CLK_TCK")


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None  # index into Tracer.spans
    op: str = ""  # the operation the span belongs to
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans, wraps callables, and tags Spark jobs with groups."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []
        self.op = ""
        self.cost_s = 0.0  # time spent on tracing inside the timed ops
        self._in_cost = False

    # -- spans --------------------------------------------------------------

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = Span(name, time.perf_counter(), parent=parent, op=self.op, attrs=attrs)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    @contextmanager
    def cost(self):
        """Count the time inside as tracing cost (the outermost block only)."""
        if self._in_cost:
            yield
            return
        self._in_cost = True
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.cost_s += time.perf_counter() - t0
            self._in_cost = False

    def wrap(self, owner, attr: str, name: str, on_result=None, group=None) -> None:
        """Replace ``owner.attr`` by a spanned call; :meth:`uninstall` restores
        the original.  ``on_result(span, result)`` may add attributes;
        ``group`` prefixes a job group given to the Spark jobs of each call."""
        original = getattr(owner, attr)

        def traced(*args, **kwargs):
            with self.span(name) as s:
                if group is None:
                    result = original(*args, **kwargs)
                else:
                    with self.job_group(f"{group}:{len(self.spans)}"):
                        result = original(*args, **kwargs)
                if on_result is not None:
                    with self.cost():
                        on_result(s, result)
                return result

        self.patch(owner, attr, traced)

    def patch(self, owner, attr: str, value) -> None:
        """Set ``owner.attr`` until :meth:`uninstall`."""
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()

    # -- job groups ---------------------------------------------------------

    @contextmanager
    def job_group(self, group: str):
        """Tag the Spark jobs started inside with ``group``, then restore."""
        with self.cost():
            prev = self.sc.getLocalProperty("spark.jobGroup.id")
            self.sc.setLocalProperty("spark.jobGroup.id", group)
        try:
            yield
        finally:
            with self.cost():
                self.sc.setLocalProperty("spark.jobGroup.id", prev)

    # -- span arithmetic ----------------------------------------------------

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def total(self, name: str) -> float:
        return sum(s.dur for s in self.named(name))

    def self_time(self, name: str) -> float:
        """Sum over spans ``name`` of their duration minus their children's."""
        idx = {i for i, s in enumerate(self.spans) if s.name == name}
        child = sum(s.dur for s in self.spans if s.parent in idx)
        return self.total(name) - child

    def has_ancestor(self, span: Span, name: str) -> bool:
        p = span.parent
        while p is not None:
            if self.spans[p].name == name:
                return True
            p = self.spans[p].parent
        return False

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(
                [
                    {"name": s.name, "start": s.start, "end": s.end,
                     "parent": s.parent, "op": s.op, **s.attrs}
                    for s in self.spans
                ],
                fh,
            )


@dataclass
class GroupStats:
    """What the status store knows about the jobs of one job group."""

    jobs: int = 0
    tasks: int = 0
    exec_run_s: float = 0.0
    exec_cpu_s: float = 0.0
    input_records: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    skew_weighted: float = 0.0  # sum of stage run time x (max / median task)
    skew_weight: float = 0.0

    def add(self, other: "GroupStats") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(other, k))

    @property
    def task_skew(self) -> float:
        """Run-time-weighted mean of max over median task time per stage."""
        return self.skew_weighted / self.skew_weight if self.skew_weight else 0.0


def read_status_store(spark) -> dict[str, GroupStats]:
    """Per-job-group totals from the live status store (works with the UI off).

    Read once, after the timed window: every call is a py4j round trip."""
    sc = spark.sparkContext
    jvm = sc._jvm
    gw = sc._gateway
    store = sc._jsc.sc().statusStore()
    jobs = store.jobsList(jvm.java.util.ArrayList())
    stage_group: dict[int, str] = {}
    out: dict[str, GroupStats] = {}
    for i in range(jobs.size()):
        job = jobs.apply(i)
        group_opt = job.jobGroup()
        if group_opt.isEmpty():
            continue
        group = group_opt.get()
        out.setdefault(group, GroupStats()).jobs += 1
        sids = job.stageIds()
        for k in range(sids.size()):
            stage_group[sids.apply(k)] = group
    if not stage_group:
        return out
    quantiles = gw.new_array(jvm.double, 2)
    quantiles[0] = 0.5
    quantiles[1] = 1.0
    stages = store.stageList(
        jvm.java.util.ArrayList(), False, False, gw.new_array(jvm.double, 0),
        jvm.java.util.ArrayList(),
    )
    for i in range(stages.size()):
        st = stages.apply(i)
        group = stage_group.get(st.stageId())
        if group is None:
            continue
        g = out[group]
        g.tasks += st.numCompleteTasks()
        run_ms = st.executorRunTime()
        g.exec_run_s += run_ms / 1e3
        g.exec_cpu_s += st.executorCpuTime() / 1e9
        g.input_records += st.inputRecords()
        g.shuffle_write_bytes += st.shuffleWriteBytes()
        g.spill_bytes += st.memoryBytesSpilled() + st.diskBytesSpilled()
        if st.numCompleteTasks() >= 2 and run_ms > 0:
            summary = store.taskSummary(st.stageId(), st.attemptId(), quantiles)
            if summary.isDefined():
                dist = summary.get().executorRunTime()
                med, mx = dist.apply(0), dist.apply(1)
                g.skew_weighted += run_ms * (mx / max(med, 1.0))
                g.skew_weight += run_ms
    return out


def sum_groups(stats: dict[str, GroupStats], prefix: str) -> GroupStats:
    total = GroupStats()
    for group, g in stats.items():
        if group.startswith(prefix):
            total.add(g)
    return total


class ProcSampler:
    """CPU seconds of the Spark JVM's descendants (the PySpark daemon and its
    workers, exited ones included once reaped) and the JVM's peak RSS."""

    def __init__(self, jvm_pid: int) -> None:
        self.jvm_pid = jvm_pid

    @staticmethod
    def _stat(pid: int) -> list[str] | None:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                raw = fh.read()
        except OSError:
            return None
        # The command name may hold spaces; fields resume after its ')'.
        return raw[raw.rindex(")") + 2 :].split()

    def descendants(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            st = self._stat(int(entry))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(entry))
        out, todo = [], [self.jvm_pid]
        while todo:
            for c in children.get(todo.pop(), []):
                out.append(c)
                todo.append(c)
        return out

    def worker_cpu_s(self) -> float:
        total = 0
        for pid in self.descendants():
            st = self._stat(pid)
            if st is not None:
                # utime stime cutime cstime (fields 14-17 of /proc/<pid>/stat)
                total += sum(int(x) for x in st[11:15])
        return total / _CLK_TCK

    def peak_rss_mb(self) -> float:
        try:
            with open(f"/proc/{self.jvm_pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        return int(line.split()[1]) / 1024.0
        except OSError:
            pass
        return 0.0


def host_steal_s() -> float:
    """CPU seconds the hypervisor gave to other guests while this VM's CPUs
    wanted to run (the ``steal`` column of /proc/stat), since boot."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / _CLK_TCK


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0
