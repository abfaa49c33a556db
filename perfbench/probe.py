"""Measurement helpers that sit outside the engine.

- ``Spans``: per-pass wall-time accumulators around calls into the engine.
- ``SparkLayers``: per-pass counters read from Spark's own status stores
  (the core ``AppStatusStore`` for jobs and stages, the SQL store for
  per-operator metrics). Both stores are populated with
  ``spark.ui.enabled=false``.
- ``RssSampler``, ``cpu_times``, ``foreign_jobs``: host readings from
  ``/proc`` (process-tree RSS, hypervisor steal, competing Spark jobs).
"""

from __future__ import annotations

import contextlib
import os
import re
import threading
import time
import typing


class Spans:
    """Seconds spent inside named spans during one pass."""

    def __init__(self) -> None:
        self.seconds: typing.Dict[str, float] = {}

    @contextlib.contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.seconds[name] = self.seconds.get(name, 0.0) + time.perf_counter() - t0


class NoSpans:
    """The untraced stand-in: spans cost one context-manager entry."""

    seconds: typing.Dict[str, float] = {}

    def span(self, name: str):
        return contextlib.nullcontext()


# -- Spark status stores -----------------------------------------------------

_UNITS = {"B": 1, "KiB": 2 ** 10, "MiB": 2 ** 20, "GiB": 2 ** 30, "TiB": 2 ** 40,
          "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_VALUE = re.compile(r"^\s*([-0-9.,]+)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """A SQL-metric string as Spark's store formats it, in base units
    (bytes, seconds or a plain count). Task-aggregated metrics read
    ``"total (min, med, max ...)\\n<total> (<min>, ...)"``; single-task
    ones read ``"<total>"``."""
    line = text.split("\n")[-1]
    m = _VALUE.match(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


#: SQL-metric name -> per-layer metric it adds to, with a scale to the unit
SQL_METRICS = {
    "time to start Python workers": ("udf.worker_start_s", 1.0),
    "time to initialize Python workers": ("udf.worker_init_s", 1.0),
    "time to run Python workers": ("udf.worker_run_s", 1.0),
    "data sent to Python workers": ("udf.sent_mb", 1.0 / 2 ** 20),
    "data returned from Python workers": ("udf.returned_kb", 1.0 / 2 ** 10),
    "scan time": ("scan.time_s", 1.0),
    "number of files read": ("scan.files", 1.0),
    "size of files read": ("scan.read_mb", 1.0 / 2 ** 20),
    "time in aggregation build": ("agg.build_s", 1.0),
    "time to build": ("broadcast.build_s", 1.0),
}


class SparkLayers:
    """Per-pass job, stage and SQL-operator counters.

    ``begin(group)`` tags the jobs the calling thread starts from then on
    with a job group; ``collect()`` ends the pass, waits for the listener
    bus to drain and sums what the stores hold for the pass's groups and
    for every SQL execution started since its first ``begin``."""

    def __init__(self, spark, scan_marker: str) -> None:
        self.spark = spark
        self.scan_marker = scan_marker
        self._jsc = spark.sparkContext._jsc.sc()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._groups: typing.List[str] = []
        self._first_exec = 0

    def _max_execution_id(self) -> int:
        execs = self._sql.executionsList()
        return max((execs.apply(i).executionId() for i in range(execs.size())),
                   default=-1)

    def begin(self, group: str) -> None:
        if not self._groups:
            self._jsc.listenerBus().waitUntilEmpty(30000)
            self._first_exec = self._max_execution_id() + 1
        self._groups.append(group)
        self.spark.sparkContext.setJobGroup(group, group)

    def collect(self) -> typing.Tuple[typing.Dict[str, float], typing.Dict[str, int]]:
        """(counters, {group: jobs}) for the pass; ends it."""
        self.spark.sparkContext._jsc.clearJobGroup()
        self._jsc.listenerBus().waitUntilEmpty(30000)
        store = self._jsc.statusStore()
        out = {k: 0.0 for k in ("spark.jobs", "spark.stages", "spark.tasks",
                                "exec.run_slot_s", "exec.cpu_s", "exec.gc_s",
                                "shuffle.write_mb", "shuffle.records",
                                "scan.input_scans")}
        out.update({name: 0.0 for name, _ in SQL_METRICS.values()})
        groups = set(self._groups)
        jobs_by_group = {g: 0 for g in groups}
        stage_ids = set()
        jobs = store.jobsList(None)
        for i in range(jobs.size()):
            j = jobs.apply(i)
            g = j.jobGroup()
            if not (g.isDefined() and g.get() in groups):
                continue
            jobs_by_group[g.get()] += 1
            ids = j.stageIds()
            stage_ids.update(ids.apply(k) for k in range(ids.size()))
        out["spark.jobs"] = float(sum(jobs_by_group.values()))
        for sid in stage_ids:
            try:
                s = store.lastStageAttempt(sid)
            except Exception:  # py4j error: a stage skipped by shuffle reuse never ran
                continue
            if s.status().toString() == "SKIPPED":
                continue
            out["spark.stages"] += 1
            out["spark.tasks"] += s.numCompleteTasks() + s.numFailedTasks()
            out["exec.run_slot_s"] += s.executorRunTime() / 1e3
            out["exec.cpu_s"] += s.executorCpuTime() / 1e9
            out["exec.gc_s"] += s.jvmGcTime() / 1e3
            out["shuffle.write_mb"] += s.shuffleWriteBytes() / 2 ** 20
            out["shuffle.records"] += s.shuffleWriteRecords()
        self._add_sql_metrics(out)
        self._groups = []
        return out, jobs_by_group

    def _add_sql_metrics(self, out: typing.Dict[str, float]) -> None:
        execs = self._sql.executionsList()
        for i in range(execs.size()):
            eid = execs.apply(i).executionId()
            if eid < self._first_exec:
                continue
            values = self._sql.executionMetrics(eid)
            nodes = self._sql.planGraph(eid).allNodes()
            for k in range(nodes.size()):
                node = nodes.apply(k)
                if node.name().startswith("Scan") and self.scan_marker in node.desc():
                    out["scan.input_scans"] += 1
                metrics = node.metrics()
                for m in range(metrics.size()):
                    target = SQL_METRICS.get(metrics.apply(m).name())
                    if target is None:
                        continue
                    v = values.get(metrics.apply(m).accumulatorId())
                    if v.isDefined():
                        out[target[0]] += parse_metric(v.get()) * target[1]


def persisted_rdds(spark) -> int:
    """RDDs the SparkContext still holds persisted."""
    return len(spark.sparkContext._jsc.getPersistentRDDs())


# -- host readings -----------------------------------------------------------

def cpu_times() -> typing.Tuple[int, int]:
    """(steal ticks, all ticks) summed over CPUs, from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return (fields[7] if len(fields) > 7 else 0), sum(fields[:8])


#: ``cpu_probe`` on this host when no co-tenant is busy; co-tenant bursts,
#: which /proc/stat steal does not show, roughly double it
QUIET_PROBE_S = 0.13


def cpu_probe(n: int = 3_000_000) -> float:
    """Seconds for a fixed single-threaded Python loop: a reading of how
    fast the host runs right now."""
    t0 = time.perf_counter()
    x = 0
    for i in range(n):
        x += i
    return time.perf_counter() - t0


def _children_map() -> typing.Dict[int, typing.List[int]]:
    kids: typing.Dict[int, typing.List[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open("/proc/{}/stat".format(name)) as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree(root: int) -> typing.List[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open("/proc/{}/status".format(pid)) as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _age_s(pid: int, uptime: float) -> float:
    try:
        with open("/proc/{}/stat".format(pid)) as fh:
            start = int(fh.read().rsplit(")", 1)[1].split()[19])
    except OSError:
        return 0.0
    return uptime - start / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """Background thread tracking the peak summed RSS of this process tree
    (the driver, its JVM and the JVM's Python workers).

    Processes younger than ``MIN_AGE_S`` are left out: a child the JVM
    spawns to run a command shares the JVM's memory until it execs, and
    summing it would count the JVM twice for that instant."""

    MIN_AGE_S = 1.0

    def __init__(self, interval: float = 0.2) -> None:
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.sample(me)
            self._stop.wait(self.interval)

    def sample(self, root: int) -> None:
        with open("/proc/uptime") as fh:
            uptime = float(fh.read().split()[0])
        pids = [p for p in process_tree(root)
                if p == root or _age_s(p, uptime) >= self.MIN_AGE_S]
        self.peak_kb = max(self.peak_kb, sum(_rss_kb(p) for p in pids))

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample(os.getpid())


def foreign_jobs() -> typing.List[str]:
    """Command lines of running pytest or check_queries processes outside
    this process's own ancestry: their Spark jobs share the CPUs, which the
    steal counter cannot see."""
    mine = set()
    pid = os.getpid()
    while pid > 1:
        mine.add(pid)
        try:
            with open("/proc/{}/stat".format(pid)) as fh:
                pid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            break
    mine.update(process_tree(os.getpid()))
    found = []
    for name in os.listdir("/proc"):
        if not name.isdigit() or int(name) in mine:
            continue
        try:
            with open("/proc/{}/cmdline".format(name), "rb") as fh:
                cmd = fh.read().replace(b"\0", b" ").decode(errors="replace").strip()
        except OSError:
            continue
        if re.search(r"\bpytest\b|check_queries", cmd):
            found.append(cmd[:160])
    return found
