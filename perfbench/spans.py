"""Measurement plumbing for the benchmark: spans, Spark job/task counts,
SQL status-store metrics and peak RSS.

Everything here observes the program from outside: spans wrap calls into
the program's public functions, job and task counts come from the public
``statusTracker``, and operator metrics (Python-worker time, Arrow bytes,
shuffle bytes, row counts) are read from Spark's SQL status store after
the action has finished.  The status store is a private JVM API, so every
read is wrapped: a value it cannot give is reported as absent.
"""

from __future__ import annotations

import os
import re
import time
from contextlib import contextmanager


class Tracer:
    """In-memory spans (name, start, end, parent, op id), dumped at exit.

    While ``enabled`` is false :meth:`span` is a plain pass-through, so an
    untraced operation carries no bookkeeping beyond one ``if``.
    """

    def __init__(self):
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: int | None = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {"id": len(self.spans), "name": name, "op": self.op_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: duration minus the part of the
        interval its direct children cover (children never overlap here,
        because the client is a single closed loop)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            own = (s["end"] - s["start"]) - child[s["id"]]
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out


# --- Spark: job groups, status tracker, SQL status store -------------------

class JobGroups:
    """One Spark job group per traced call, so jobs, tasks and SQL
    executions can be attributed to the call that caused them."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jspark = spark._jsparkSession
        self._n = 0

    @contextmanager
    def group(self, label: str):
        self._n += 1
        name = f"perfbench-{self._n}-{label}"
        self.sc.setJobGroup(name, label)
        try:
            yield name
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def job_ids(self, group: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def task_counts(self, group: str) -> tuple[int, int]:
        """(completed tasks, failed tasks) over every stage of the group's
        jobs; skipped stages contribute nothing."""
        tracker = self.sc.statusTracker()
        done = failed = 0
        seen = set()
        for j in self.job_ids(group):
            info = tracker.getJobInfo(j)
            if info is None:
                continue
            for s in info.stageIds:
                if s in seen:
                    continue
                seen.add(s)
                st = tracker.getStageInfo(s)
                if st is not None:
                    done += st.numCompletedTasks
                    failed += st.numFailedTasks
        return done, failed

    def sql_metrics(self, group: str) -> dict[str, float] | None:
        """Sum of each (operator, metric) over the SQL executions whose
        jobs belong to ``group``, keyed ``"<operator>|<metric>"``.  None if
        the status store cannot be read."""
        jobs = set(self.job_ids(group))
        try:
            store = self.jspark.sharedState().statusStore()
            totals: dict[str, float] = {}
            it = store.executionsList().iterator()
            while it.hasNext():
                ex = it.next()
                ex_jobs = {int(k) for k in _scala_keys(ex.jobs())}
                if not ex_jobs & jobs:
                    continue
                values = store.executionMetrics(ex.executionId())
                nodes = store.planGraph(ex.executionId()).allNodes().iterator()
                while nodes.hasNext():
                    node = nodes.next()
                    ms = node.metrics().iterator()
                    while ms.hasNext():
                        m = ms.next()
                        v = values.get(m.accumulatorId())
                        if not v.isDefined():
                            continue
                        num = parse_metric(str(v.get()))
                        if num is None:
                            continue
                        key = f"{node.name().strip()}|{m.name()}"
                        totals[key] = totals.get(key, 0.0) + num
            return totals
        except Exception:  # private JVM API: absent, never a failure
            return None


def _scala_keys(scala_map) -> list:
    keys, it = [], scala_map.keysIterator()
    while it.hasNext():
        keys.append(it.next())
    return keys


_UNITS = {"B": 1.0, "KiB": 2.0 ** 10, "MiB": 2.0 ** 20, "GiB": 2.0 ** 30,
          "TiB": 2.0 ** 40, "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0,
          "h": 3600.0}
_NUM = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float | None:
    """A formatted SQL metric as a number: sizes in bytes, times in
    seconds, counts as is.  Multi-task metrics format as
    ``total (min, med, max ...)\\n<total> (...)``; the total is taken."""
    if text.startswith("total"):
        text = text.split("\n", 1)[-1]
    m = _NUM.match(text)
    if not m:
        return None
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit and unit not in _UNITS:
        return None
    return value * _UNITS.get(unit, 1.0)


def metric_sum(metrics: dict[str, float] | None, node: str, name: str) -> float | None:
    """Sum of metric ``name`` over plan nodes whose name starts with
    ``node``; None (absent) if the store could not be read or no such
    node ran."""
    if metrics is None:
        return None
    hits = [v for k, v in metrics.items()
            if k.split("|", 1)[0].startswith(node) and k.endswith("|" + name)]
    return sum(hits) if hits else None


def median(xs):
    """Median of a list of numbers; None for an empty list."""
    xs = sorted(xs)
    n = len(xs)
    if n == 0:
        return None
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2.0


# --- host and process readings ----------------------------------------------

def cpu_ticks() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat (user ... steal) in ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests in between."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / max(1, sum(delta))


_REF_DATA = []


def ref_loop_cpu_s() -> float:
    """CPU seconds this thread takes for a fixed loop that uses none of the
    program: NumPy passes over 32 MB and a pure-Python loop, about 0.16 s
    on a quiet host.  Timed next to each operation, it reads how fast the
    host runs a CPU second at that moment."""
    import numpy as np
    if not _REF_DATA:
        _REF_DATA.append(np.random.default_rng(1).random(4_000_000))
    a = _REF_DATA[0]
    t = time.thread_time()
    for _ in range(6):
        int(((a * 1.0001 + 0.5) > 0.9).sum())
    x = 0
    for i in range(400_000):
        x += i * i
    return time.thread_time() - t


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) used so far by ``root`` and every
    process under it: this process, the driver JVM and its Python
    workers.  Reaped children are included through ``cutime``/``cstime``,
    so a worker that exits between two readings is still counted once.
    Time the hypervisor steals is not CPU time of any process, so this
    reading grows far less than wall time when the host is contended."""
    ticks = 0
    for pid in [root] + descendants(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields after the command name start at field 3 (state):
        # utime, stime, cutime, cstime are fields 14-17
        ticks += sum(int(x) for x in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


# --- memory -----------------------------------------------------------------

def _status_kib(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendants(root: int) -> list[int]:
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after its ')'
        parent[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    out, frontier = [], [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.extend(kids)
        frontier.extend(kids)
    return out


def peak_rss_mb(jvm_pid: int) -> float:
    """Summed peak RSS (the kernel's ``VmHWM``) of the driver JVM and every
    live process under it (the Python workers).  Read once, after the
    timed loop, so no sampling thread competes with the driver; the sum of
    per-process peaks bounds the peak of the sum from above."""
    pids = [jvm_pid] + descendants(jvm_pid)
    return sum(_status_kib(p, "VmHWM") for p in pids) / 1024.0
