"""Readers for what Spark and the OS report about a running op.

Everything here is read between ops, outside their timing:

* :class:`StatusReader` diffs the stage totals of Spark's status store
  (jobs, stages, tasks, run/CPU/GC time, shuffle and spill bytes),
  lists the stages that read a Python data source (a ``BatchScan`` in
  the stage's operation graph) with their start and end, and reads
  node metrics from the SQL status store (Python-worker bytes,
  scan output rows, files, rows, bytes and tasks of file writes) for
  the executions an op started;
* :class:`TriggerListener` collects per-trigger durations of every
  streaming query;
* :func:`tree_rss_mb` sums the resident memory of this process, the
  JVM and every process below the JVM;
* :func:`cpu_ticks` and :func:`core_seconds` measure how much and how
  fast CPU the machine got: hypervisor steal, and the speed of a core
  while it runs.
"""

from __future__ import annotations

import os
import re
import threading
import time

import numpy as np
from pyspark.sql.streaming import StreamingQueryListener

STAGE_FIELDS = (
    "numTasks",
    "numFailedTasks",
    "executorRunTime",
    "executorCpuTime",
    "jvmGcTime",
    "shuffleWriteBytes",
    "memoryBytesSpilled",
    "diskBytesSpilled",
)
SQL_FIELDS = (
    "python_bytes_sent",
    "python_bytes_returned",
    "batchscan_rows",
    "write_files",
    "write_rows",
    "write_bytes",
    "write_tasks",
)
PYTHON_NODE = re.compile(r"Python|Pandas|Arrow")
_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_TIMES = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def parse_metric(text: str) -> float:
    """The total from an SQL-metric display string: ``"1,234"``, or
    ``"total (min, med, max ...)\\n12.3 MiB (...)"`` for size and
    timing metrics."""
    m = re.match(r"([-\d.,]+)\s*([A-Za-z]*)", text.strip().split("\n")[-1])
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    return value * _UNITS.get(unit, _TIMES.get(unit, 1.0))


class StatusReader:
    """What one SparkContext ran since the previous call, read through
    py4j from the status stores.

    Stage, job and SQL-execution ids only grow, and the stores list
    stages and jobs newest first, so each call walks back only to the
    last id it saw. Call between ops, when nothing is running."""

    def __init__(self, spark):
        self.spark = spark
        self.jsc = spark.sparkContext._jsc.sc()
        gw = spark.sparkContext._gateway
        self._list = gw.jvm.java.util.ArrayList
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._last_stage = self._last_job = self._last_exec = -1
        self.take()

    def take(self) -> dict:
        """Totals over the stages, jobs and SQL executions completed
        since the previous call, and under ``scan_stages`` the
        (name, start, end) in epoch seconds of each of those stages
        that read a source."""
        store = self.jsc.statusStore()
        tot = dict.fromkeys(STAGE_FIELDS, 0.0)
        tot["stages"] = tot["jobs"] = 0.0
        tot["scan_stages"] = []
        # PySpark 4.1 exposes only the five-argument overload to py4j.
        stages = store.stageList(
            self._list(), False, False, self._no_quantiles, self._list()
        )
        top = self._last_stage
        for i in range(stages.size()):
            s = stages.apply(i)
            sid = int(s.stageId())
            if sid <= self._last_stage:
                break
            top = max(top, sid)
            if str(s.status().toString()) in ("COMPLETE", "FAILED"):
                tot["stages"] += 1
                for f in STAGE_FIELDS:
                    tot[f] += float(getattr(s, f)())
                if s.inputRecords() > 0 and s.submissionTime().isDefined():
                    scan = self._source_scan(store, sid)
                    if scan:
                        tot["scan_stages"].append((
                            scan,
                            s.submissionTime().get().getTime() / 1e3,
                            s.completionTime().get().getTime() / 1e3,
                        ))
        self._last_stage = top
        jobs = store.jobsList(self._list())
        top = self._last_job
        for i in range(jobs.size()):
            jid = int(jobs.apply(i).jobId())
            if jid <= self._last_job:
                break
            top = max(top, jid)
            tot["jobs"] += 1
        self._last_job = top
        tot.update(self._new_sql_metrics())
        return tot

    @staticmethod
    def _source_scan(store, stage_id: int) -> str | None:
        """The ``BatchScan <source>`` operator of a stage, if it has
        one. The engine's only DataSource V2 scans are its Python data
        sources (parquet is read through the V1 file scan)."""
        clusters = store.operationGraphForStage(stage_id).rootCluster().childClusters()
        for i in range(clusters.size()):
            name = str(clusters.apply(i).name())
            if name.startswith("BatchScan "):
                return name
        return None

    def _new_sql_metrics(self) -> dict[str, float]:
        out = dict.fromkeys(SQL_FIELDS, 0.0)
        count = int(self._sql.executionsCount())
        window = 500  # newest executions scanned per call
        execs = self._sql.executionsList(max(0, count - window), window)
        for i in range(execs.size()):
            eid = int(execs.apply(i).executionId())
            if eid > self._last_exec:
                self._add_execution(eid, out)
                self._last_exec = eid
        return out

    def _add_execution(self, exec_id: int, out: dict[str, float]) -> None:
        values = self._sql.executionMetrics(exec_id)
        nodes = self._sql.planGraph(exec_id).allNodes()
        in_write = False  # nodes are listed top-down
        for n in range(nodes.size()):
            node = nodes.apply(n)
            name = node.name()
            metrics = node.metrics()
            got = {}
            for m in range(metrics.size()):
                metric = metrics.apply(m)
                raw = values.get(metric.accumulatorId())
                if not raw.isEmpty():
                    got[metric.name()] = parse_metric(raw.get())
            if PYTHON_NODE.search(name):
                out["python_bytes_sent"] += got.get("data sent to Python workers", 0.0)
                out["python_bytes_returned"] += got.get("data returned from Python workers", 0.0)
            elif name.startswith("BatchScan"):
                out["batchscan_rows"] += got.get("number of output rows", 0.0)
            elif "InsertInto" in name:
                in_write = True
                out["write_files"] += got.get("number of written files", 0.0)
                out["write_rows"] += got.get("number of output rows", 0.0)
                out["write_bytes"] += got.get("written output", 0.0)
            elif in_write and name == "Exchange":
                # the shuffle that feeds the file writer: one task each
                in_write = False
                out["write_tasks"] += got.get("number of partitions", 0.0)

    def storage(self) -> tuple[int, float]:
        """(persisted RDDs live, MiB of them held in memory)."""
        live = int(self.spark.sparkContext._jsc.getPersistentRDDs().size())
        infos = self.jsc.getRDDStorageInfo()
        mem = sum(float(infos[i].memSize()) for i in range(len(infos)))
        return live, mem / 2**20


class TriggerListener(StreamingQueryListener):
    """Per-trigger ``durationMs`` phases and input rows of every
    streaming query in the session, in arrival order."""

    def __init__(self):
        self._lock = threading.Lock()
        self.triggers: list[dict] = []

    def onQueryStarted(self, event):  # noqa: N802
        pass

    def onQueryProgress(self, event):  # noqa: N802
        p = event.progress
        row = {k: float(v) / 1000.0 for k, v in dict(p.durationMs).items()}
        row["input_rows"] = float(p.numInputRows)
        with self._lock:
            self.triggers.append(row)

    def onQueryIdle(self, event):  # noqa: N802
        pass

    def onQueryTerminated(self, event):  # noqa: N802
        pass

    def settle(self, quiet_s: float = 0.1, limit_s: float = 3.0) -> None:
        """Wait until no progress event has arrived for ``quiet_s``:
        the listener bus delivers events after the query returns."""
        deadline = time.monotonic() + limit_s
        seen = -1
        while time.monotonic() < deadline:
            with self._lock:
                n = len(self.triggers)
            if n == seen:
                return
            seen = n
            time.sleep(quiet_s)

    def take(self) -> list[dict]:
        """Triggers reported since the last call."""
        with self._lock:
            out, self.triggers = self.triggers, []
        return out


def cpu_ticks() -> tuple[int, int]:
    """(busy, steal) clock ticks of all CPUs since boot. Steal is time
    the hypervisor ran something else while this machine's CPUs had
    work: on a shared host it stretches every op by a varying amount."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    user, nice, system, _idle, _iowait, irq, softirq, steal = f[:8]
    return user + nice + system + irq + softirq, steal


def stolen_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of the CPU time this machine wanted between two
    :func:`cpu_ticks` readings that the hypervisor did not give it."""
    busy, steal = after[0] - before[0], after[1] - before[1]
    return steal / (busy + steal) if busy + steal > 0 else 0.0


# A fixed piece of work that no engine code touches: sort 250k random
# integers (2 MB, more than a core's L2 cache). numpy lets go of the GIL
# while it sorts, so one thread per CPU runs it on all CPUs at once.
_PROBE_DATA = np.random.default_rng(0).integers(0, 2**32, 250_000)


def _probe_on(cpu: int, out: list[float], i: int) -> None:
    os.sched_setaffinity(0, {cpu})
    t = time.thread_time()
    np.sort(_PROBE_DATA)
    out[i] = time.thread_time() - t


def core_seconds() -> list[float]:
    """CPU seconds of the probe on each CPU this process may use, run on
    all of them at once, as an op's tasks run. Thread CPU time leaves
    out steal and time spent waiting for a CPU, so what it measures is
    how fast a core runs while every core is busy: on a shared host
    that varies with the load neighbours put on the same physical cores
    and caches (2.3 times slower than quiet for over an hour, on a
    4-vCPU VM with little steal)."""
    cpus = sorted(os.sched_getaffinity(0))
    out = [0.0] * len(cpus)
    threads = [threading.Thread(target=_probe_on, args=(c, out, i)) for i, c in enumerate(cpus)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return out


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_rss_mb(root_pid: int) -> float:
    """Resident memory of ``root_pid`` and all its descendants, in MB."""
    kids = _children()
    total, stack = 0, [root_pid]
    while stack:
        pid = stack.pop()
        total += _rss_kb(pid)
        stack.extend(kids.get(pid, ()))
    return total / 1024.0
