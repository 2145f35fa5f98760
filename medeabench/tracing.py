"""Benchmark-side tracing: spans around calls into the program, Spark's
status stores read per op window, process RSS, and the run record.

Spans live in memory (name, start, end, parent, op) and are written out
once, at exit.  Nothing here runs inside the program: stages and SQL
executions are attributed to an op by the time window of its span,
because the checkpoint runner submits jobs from its own threads.
"""

from __future__ import annotations

import hashlib
import json
import os
import platform
import re
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int | None = None


@dataclass
class Tracer:
    """Records spans when ``enabled``; otherwise ``span`` only yields."""

    enabled: bool
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)
    op: int | None = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.time(), parent=parent, op=self.op))
        idx = len(self.spans) - 1
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.time()

    def seconds(self, name: str, op: int | None) -> float:
        return sum(s.end - s.start for s in self.spans if s.name == name and s.op == op)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([s.__dict__ for s in self.spans], fh)


_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_SIZE_RE = re.compile(r"([\d.,]+) (B|KiB|MiB|GiB|TiB)")
_STAGE_RE = re.compile(r"\(stage (\d+)\.(\d+): task \d+\)")


def _size_total(text: str) -> float:
    """Total of a formatted SQL size metric ('total (...)\\n1.2 MiB (...)')."""
    m = _SIZE_RE.search(text.split("\n")[-1])
    return float(m.group(1).replace(",", "")) * _SIZE_UNITS[m.group(2)] if m else 0.0


def _ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


_METRIC_RE = re.compile(r"SQLPlanMetric\((.*?),(\d+),(\w+)\)")
_PY_SENT = "data sent to Python workers"
_PY_RETURNED = "data returned from Python workers"
_PY_RUN = "time to run Python workers"


class StatusWindow:
    """Per-op totals read from Spark's app and SQL status stores.

    Stages, jobs and SQL executions are attributed to the op whose time
    window holds their submission; ids already attributed are skipped,
    which keeps the py4j round trips per op proportional to the op."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self.store = sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.gw = sc._gateway
        self.done: dict[str, set[int]] = {"jobs": set(), "stages": set(), "execs": set()}

    def _new(self, kind: str, items, key, t0: float, t1: float, submitted):
        """Items of ``items`` first seen inside [t0, t1], by submission."""
        for i in range(items.size()):
            item = items.apply(i)
            k = key(item)
            if k in self.done[kind]:
                continue
            sub = submitted(item)
            if sub is not None and sub < t0:
                self.done[kind].add(k)  # before this window: never ours
            elif sub is not None and sub <= t1:
                self.done[kind].add(k)
                yield item

    def read(self, t0: float, t1: float) -> dict:
        out = dict.fromkeys(
            ("jobs", "stages", "tasks", "failed_tasks", "run_s", "cpu_s", "input_bytes",
             "output_bytes", "shuffle_write_bytes", "spill_bytes", "py_sent", "py_returned"),
            0.0,
        )
        jobs = self.store.jobsList(None)
        for _ in self._new("jobs", jobs, lambda j: j.jobId(), t0, t1,
                           lambda j: _ms(j.submissionTime())):
            out["jobs"] += 1
        no_quantiles = self.gw.new_array(self.gw.jvm.double, 0)
        stages = self.store.stageList(None, False, False, no_quantiles, None)
        for s in self._new("stages", stages, lambda s: (s.stageId(), s.attemptId()), t0, t1,
                           lambda s: _ms(s.submissionTime())):
            out["stages"] += 1
            out["tasks"] += s.numTasks()
            out["failed_tasks"] += s.numFailedTasks()
            out["run_s"] += s.executorRunTime() / 1e3
            out["cpu_s"] += s.executorCpuTime() / 1e9
            out["input_bytes"] += s.inputBytes()
            out["output_bytes"] += s.outputBytes()
            out["shuffle_write_bytes"] += s.shuffleWriteBytes()
            out["spill_bytes"] += s.diskBytesSpilled()
        kernel_stages: set[tuple[int, int]] = set()
        execs = self.sql.executionsList()
        for e in self._new("execs", execs, lambda e: e.executionId(), t0, t1,
                           lambda e: e.submissionTime() / 1000.0):
            values = self.sql.executionMetrics(e.executionId())
            wanted = {
                int(acc): name
                for name, acc, _ in _METRIC_RE.findall(e.metrics().toString())
                if name in (_PY_SENT, _PY_RETURNED, _PY_RUN)
            }
            for acc, name in wanted.items():
                v = values.get(acc)
                if not v.isDefined():
                    continue
                text = v.get()
                if name == _PY_SENT:
                    out["py_sent"] += _size_total(text)
                elif name == _PY_RETURNED:
                    out["py_returned"] += _size_total(text)
                else:
                    kernel_stages.update((int(a), int(b)) for a, b in _STAGE_RE.findall(text))
        ratios = []
        for stage_id, attempt in sorted(kernel_stages):
            tasks = self.store.taskList(stage_id, attempt, 100000)
            durs = sorted(
                d.get() for d in (tasks.apply(k).duration() for k in range(tasks.size()))
                if d.isDefined()
            )
            if durs and statistics.median(durs) > 0:
                ratios.append(durs[-1] / statistics.median(durs))
        out["kernel_task_max_over_p50"] = statistics.median(ratios) if ratios else 0.0
        return out


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid`` (children, grandchildren...)."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
            children.setdefault(ppid, []).append(int(d))
    out, todo = [], list(children.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def cpu_s(pid: int) -> float:
    """User + system CPU seconds of ``pid`` and every live descendant."""
    total = 0
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += int(fields[11]) + int(fields[12])
    return total / os.sysconf("SC_CLK_TCK")


def _hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def peak_rss_mb(jvm_pid: int) -> tuple[float, float]:
    """(JVM VmHWM, largest VmHWM among its pyspark.daemon descendants)."""
    workers = []
    for pid in descendants(jvm_pid):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                if b"pyspark.daemon" in fh.read():
                    workers.append(_hwm_mb(pid))
        except OSError:
            continue
    return _hwm_mb(jvm_pid), max(workers, default=0.0)


def cpu_times() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta[:8])  # user..steal; guest time is already in user
    return delta[7] / total if total > 0 else 0.0


def loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def source_hash(root: str) -> str:
    """sha256 over the program's source files: the identity of the code
    a run measured, uncommitted edits included, with or without git."""
    h = hashlib.sha256()
    for base in ("medea_spark", "jobs"):
        for dirpath, dirnames, files in sorted(os.walk(os.path.join(root, base))):
            dirnames.sort()
            for f in sorted(files):
                if f.endswith(".py"):
                    p = os.path.join(dirpath, f)
                    h.update(os.path.relpath(p, root).encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()[:16]


def versions(spark) -> dict:
    from importlib.metadata import PackageNotFoundError, version

    out = {"python": platform.python_version()}
    for pkg in ("pyspark", "pyarrow", "pandas", "numpy", "duckdb", "orjson"):
        try:
            out[pkg] = version(pkg)
        except PackageNotFoundError:
            out[pkg] = None
    out["java"] = spark.sparkContext._jvm.System.getProperty("java.version")
    return out
