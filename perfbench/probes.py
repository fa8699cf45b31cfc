"""Measurement from outside the package: process tree, Spark status
stores and spans.

Nothing here calls into ``fintrack_etl_spark``. CPU and memory come
from ``/proc``; job, stage and task figures from Spark's
``AppStatusStore`` keyed by job group; operator figures from the SQL
status store's plan-graph metrics. Both stores are filled with
``spark.ui.enabled=false``.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import threading
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


# ---------------------------------------------------------------------------
# /proc: the client process, the driver JVM it launched, Python workers
# ---------------------------------------------------------------------------


def _stat_path(path: str) -> list[str] | None:
    try:
        with open(path, encoding="ascii", errors="replace") as f:
            raw = f.read()
    except OSError:
        return None
    # field 2 (comm) may hold spaces; everything after the last ')' is fixed
    return raw[raw.rindex(")") + 2 :].split()


def _stat(pid: int) -> list[str] | None:
    return _stat_path(f"/proc/{pid}/stat")


def tree_pids(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def tree_cpu_s(root: int, skip_tids: frozenset[int] = frozenset()) -> float:
    """User+sys CPU seconds of the tree, including reaped children,
    less what the live threads ``skip_tids`` used (the benchmark's own
    sampler)."""
    ticks = 0
    for p in tree_pids(root):
        st = _stat(p)
        if st is not None:  # utime stime cutime cstime
            ticks += int(st[11]) + int(st[12]) + int(st[13]) + int(st[14])
        for t in skip_tids:
            ts = _stat_path(f"/proc/{p}/task/{t}/stat")
            if ts is not None:
                ticks -= int(ts[11]) + int(ts[12])
    return ticks / _CLK


def _rss_bytes(pids: list[int]) -> int:
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/statm", encoding="ascii") as f:
                total += int(f.read().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            pass
    return total


def host_cpu_ticks() -> list[int]:
    """The aggregate line of ``/proc/stat``: user nice system idle
    iowait irq softirq steal ..."""
    with open("/proc/stat", encoding="ascii") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of host CPU time the hypervisor gave to other guests."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


#: HotSpot's JIT compiler threads (``comm`` is cut to 15 characters).
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


class Sampler:
    """Context manager: a thread that samples the process tree every
    ``every_s`` seconds. ``peak`` keeps the largest summed resident
    memory; :meth:`jit_cpu_s` reads the CPU seconds the JVM's JIT
    compiler threads have used. HotSpot starts and ends compiler
    threads as it goes; an ended thread keeps its last sampled time,
    so it loses at most one interval, in which it was idle before it
    ended."""

    def __init__(self, root: int, every_s: float = 0.25):
        self.root, self.every_s, self.peak = root, every_s, 0
        self.tid = 0  # the sampler's own thread id, once it runs
        self._jit: dict[tuple[int, str], int] = {}  # (tid, start time) -> ticks
        self._is_jit: dict[tuple[int, str], bool] = {}
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._started = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        pids = tree_pids(self.root)
        self.peak = max(self.peak, _rss_bytes(pids))
        for p in pids:
            try:
                tids = os.listdir(f"/proc/{p}/task")
            except OSError:
                continue
            for t in tids:
                st = _stat_path(f"/proc/{p}/task/{t}/stat")
                if st is None:
                    continue
                key = (int(t), st[19])  # a thread id can be reused; its start time not
                if key not in self._is_jit:
                    try:
                        with open(f"/proc/{p}/task/{t}/comm", encoding="ascii", errors="replace") as f:
                            self._is_jit[key] = f.read().startswith(_JIT_THREADS)
                    except OSError:
                        continue
                if self._is_jit[key]:
                    self._jit[key] = int(st[11]) + int(st[12])

    def _loop(self) -> None:
        self.tid = threading.get_native_id()
        self._started.set()
        while not self._stop.is_set():
            with self._lock:
                self._sample()
            self._stop.wait(self.every_s)

    def jit_cpu_s(self) -> float:
        with self._lock:
            self._sample()
            return sum(self._jit.values()) / _CLK

    def __enter__(self) -> Sampler:
        self._thread.start()
        self._started.wait()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()


# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory spans: name, start, end, parent and the run, workload
    and operation ids. ``enabled=False`` makes :meth:`span` free."""

    def __init__(self, run_id: str, workload: str, enabled: bool):
        self.run_id, self.workload, self.enabled = run_id, workload, enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "workload": self.workload,
            "op": op if op is not None else self._inherited_op(),
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def _inherited_op(self) -> str | None:
        return self.spans[self._stack[-1]]["op"] if self._stack else None

    def self_times(self, root_id: int) -> dict[str, float]:
        """Self time per span name inside the subtree of ``root_id``:
        duration minus the part of it that child spans cover."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        todo = [self.spans[root_id]]
        while todo:
            s = todo.pop()
            covered, cur_end = 0.0, None
            for c in sorted(kids.get(s["id"], ()), key=lambda c: c["start"]):
                lo = c["start"] if cur_end is None else max(c["start"], cur_end)
                if c["end"] > lo:
                    covered += c["end"] - lo
                cur_end = c["end"] if cur_end is None else max(cur_end, c["end"])
                todo.append(c)
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
        return out

    def write_jsonl(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


# ---------------------------------------------------------------------------
# Spark status stores
# ---------------------------------------------------------------------------

_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
          "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "ns": 1e-9}
#: Plan nodes that run Python workers (pandas/Arrow UDFs).
_PYTHON_NODES = frozenset({
    "MapInPandas", "MapInArrow", "ArrowEvalPython", "BatchEvalPython", "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas", "AggregateInPandas", "WindowInPandas", "PythonMapInArrow",
})
_NUM = re.compile(r"^\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]+)?")


def parse_metric(text: str | None) -> float:
    """SQL status store metric string → number (bytes, seconds, count).

    Plain counts read ``'3,225'``; sizes ``'114.5 KiB'``; timings
    ``'536 ms'``. Per-task metrics read ``'total (min, med, max ...)\\n
    4.2 s (1.0 s, ...)'``, of which the total is taken. Sizes are
    rounded by Spark to one decimal of their unit."""
    if not text:
        return 0.0
    if text.startswith("total"):
        text = text.split("\n", 1)[1]
    m = _NUM.match(text)
    if not m:
        return 0.0
    v = float(m.group(1).replace(",", ""))
    return v * _UNITS.get(m.group(2) or "", 1.0)


class SparkProbe:
    """Readers over one SparkContext's status stores."""

    def __init__(self, spark):
        self.spark = spark
        sc = spark.sparkContext
        self._sc = sc
        self._jsc = sc._jsc.sc()
        self._conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
        self._store = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._last_exec = -1
        self._new_executions()  # only executions after this point count
        gw = sc._gateway
        self._quantiles = gw.new_array(gw.jvm.double, 2)
        self._quantiles[0], self._quantiles[1] = 0.5, 1.0

    def _list(self, seq) -> list:
        return list(self._conv.asJava(seq))

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so
        the stores reflect the action that just returned."""
        self._jsc.listenerBus().waitUntilEmpty(30_000)

    def set_group(self, group: str) -> None:
        self._sc.setJobGroup(group, group)

    def jobs_stats(self, group: str) -> dict:
        """Jobs, stages and tasks of one job group (``AppStatusStore``)."""
        job_ids = list(self._sc.statusTracker().getJobIdsForGroup(group))
        out = dict(jobs=len(job_ids), stages=0, tasks=0, task_run_s=0.0, task_cpu_s=0.0,
                   failed_tasks=0, shuffle_write_bytes=0, shuffle_read_bytes=0,
                   shuffle_records=0, spill_bytes=0, task_skew=1.0, job_ids=job_ids)
        seen: set[int] = set()
        for j in job_ids:
            for sid in self._list(self._store.job(j).stageIds()):
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = self._store.lastStageAttempt(sid)
                except Py4JJavaError:  # NoSuchElementException: the stage never ran
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                out["failed_tasks"] += st.numFailedTasks()
                out["task_run_s"] += st.executorRunTime() / 1e3
                out["task_cpu_s"] += st.executorCpuTime() / 1e9
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["shuffle_read_bytes"] += st.shuffleReadBytes()
                out["shuffle_records"] += st.shuffleWriteRecords()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                if st.numCompleteTasks() > 1:
                    q = self._store.taskSummary(sid, st.attemptId(), self._quantiles)
                    if q.isDefined():
                        med, mx = self._list(q.get().executorRunTime())
                        if med > 0:
                            out["task_skew"] = max(out["task_skew"], mx / med)
        return out

    def sql_stats(self, job_ids: list[int]) -> dict:
        """Scan, Python-boundary and plan figures of the SQL executions
        that ran ``job_ids`` (SQL status store plan graphs)."""
        out = dict(files_read=0.0, bytes_read=0.0, rows_scanned=0.0, scan_ms=0.0,
                   py_nodes=0, py_sent=0.0, py_received=0.0, py_start_s=0.0, py_init_s=0.0)
        wanted = set(job_ids)
        for ex in self._new_executions():
            if not {int(j) for j in self._list(ex.jobs().keySet())} & wanted:
                continue
            eid = int(ex.executionId())
            metrics = None
            for node in self._list(self._sql.planGraph(eid).allNodes()):
                name = node.name()
                scan = name.startswith("Scan")
                if not (scan or name in _PYTHON_NODES):
                    continue
                if metrics is None:
                    metrics = self._conv.asJava(self._sql.executionMetrics(eid))
                vals = {m.name(): metrics.get(m.accumulatorId()) for m in self._list(node.metrics())}
                if scan:
                    out["files_read"] += parse_metric(vals.get("number of files read"))
                    out["bytes_read"] += parse_metric(vals.get("size of files read"))
                    out["rows_scanned"] += parse_metric(vals.get("number of output rows"))
                    out["scan_ms"] += 1e3 * parse_metric(vals.get("scan time"))
                else:
                    out["py_nodes"] += 1
                    out["py_sent"] += parse_metric(vals.get("data sent to Python workers"))
                    out["py_received"] += parse_metric(vals.get("data returned from Python workers"))
                    out["py_start_s"] += parse_metric(vals.get("time to start Python workers"))
                    out["py_init_s"] += parse_metric(vals.get("time to initialize Python workers"))
        return out

    def _new_executions(self) -> list:
        """SQL executions that started since the previous call, oldest
        first (the store lists executions in id order)."""
        n = int(self._sql.executionsCount())
        k = 8
        while True:
            k = min(k, n)
            window = self._list(self._sql.executionsList(n - k, k))
            if k == n or not window or int(window[0].executionId()) <= self._last_exec:
                break
            k *= 4
        new = [ex for ex in window if int(ex.executionId()) > self._last_exec]
        if new:
            self._last_exec = int(new[-1].executionId())
        return new

    def plan_phases_ms(self, df) -> dict[str, float]:
        """Catalyst phase times of ``df``'s own QueryExecution, after
        forcing optimization and physical planning on it."""
        qe = df._jdf.queryExecution()
        qe.optimizedPlan()
        qe.executedPlan()
        ph = self._conv.asJava(qe.tracker().phases())
        return {k: float(ph[k].durationMs()) for k in ph}


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile (``p`` in 0..100)."""
    s = sorted(values)
    k = max(0, min(len(s) - 1, -(-len(s) * p // 100) - 1))
    return s[int(k)]


def tail(values: list[float]) -> tuple[float, float]:
    """The highest whole percentile with at least ten samples beyond
    it, and its value. Below 20 samples no percentile above the median
    qualifies; the median is returned and labelled 50."""
    n = len(values)
    p = max(50, int(100 - 1000 / n)) if n else 50
    while p > 50 and n * (100 - p) / 100 < 10:
        p -= 1
    return float(p), percentile(values, p) if p > 50 else statistics.median(values)
