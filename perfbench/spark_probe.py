"""Reads Spark's own status for one operation, from outside the program.

Nothing here launches a Spark job: every figure comes from the application
status store (``SparkContext.statusTracker`` / ``AppStatusStore``), the SQL
status store (``sharedState().statusStore()``) and the block manager's
storage report.  The SQL store holds each execution's *final* plan graph
(AQE posts its re-optimized plan there), which is where the plan
fingerprint is counted.
"""

from __future__ import annotations

import re
import time
from dataclasses import dataclass, field

# plan-graph node names counted by the fingerprint
PYTHON_NODES = (
    "MapInPandas", "MapInArrow", "ArrowEvalPython", "BatchEvalPython",
    "FlatMapGroupsInPandas", "FlatMapGroupsInArrow", "FlatMapCoGroupsInPandas",
    "AggregateInPandas", "WindowInPandas", "ArrowEvalPythonUDTF",
    "BatchEvalPythonUDTF", "PythonMapInArrow",
)
SCAN_PREFIXES = ("Scan", "InMemoryTableScan", "LocalTableScan")

_UNITS = {
    "B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "ns": 1e-9,
}


def parse_metric(text: str | None) -> float:
    """A SQL metric as the status store formats it -> a number (bytes,
    seconds or a count).  Aggregated metrics read ``total (min, med, max
    ...)\\n<total> (...)``; the total is taken."""
    if not text:
        return 0.0
    line = text.strip().splitlines()[-1]
    m = re.match(r"\s*([-0-9.,]+)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    return num * _UNITS.get(m.group(2), 1.0)


def _iter(scala_iterable):
    it = scala_iterable.iterator()
    while it.hasNext():
        yield it.next()


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of [start, end] intervals."""
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


@dataclass
class OpReading:
    """What Spark recorded for one operation's job group."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    job_intervals: list = field(default_factory=list)  # (start, end) epoch s
    task_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    rows_scanned: float = 0.0
    python_worker_start_s: float = 0.0
    python_exec_s: float = 0.0
    python_arrow_mb: float = 0.0
    plan: dict = field(default_factory=dict)


class SparkStatus:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self._exec_seen = int(self.sql.executionsCount())

    # -- whole application -------------------------------------------------

    def job_count(self) -> int:
        """Jobs launched so far in this application."""
        return int(self.store.jobsList(None).size())

    def storage(self) -> tuple[int, float]:
        """(persistent RDDs, MB of executor storage they hold)."""
        n = int(self.sc._jsc.getPersistentRDDs().size())
        total = 0
        for info in self.sc._jsc.sc().getRDDStorageInfo():
            total += int(info.memSize()) + int(info.diskSize())
        return n, total / 1e6

    # -- one operation -----------------------------------------------------

    def read_group(self, group: str) -> OpReading:
        r = OpReading()
        job_ids = list(self.sc.statusTracker().getJobIdsForGroup(group))
        stage_ids: set[int] = set()
        for jid in job_ids:
            jd = self.store.job(int(jid))
            r.jobs += 1
            start, end = _opt_ms(jd.submissionTime()), _opt_ms(jd.completionTime())
            if start is not None and end is not None:
                r.job_intervals.append((start, end))
            stage_ids.update(int(s) for s in _iter(jd.stageIds()))
        for sid in stage_ids:
            sd = self.store.lastStageAttempt(sid)
            if str(sd.status()) == "SKIPPED":
                continue
            r.stages += 1
            r.tasks += int(sd.numTasks())
            r.failed_tasks += int(sd.numFailedTasks())
            r.task_s += int(sd.executorRunTime()) / 1000.0
            r.gc_s += int(sd.jvmGcTime()) / 1000.0
            r.shuffle_read_mb += int(sd.shuffleReadBytes()) / 1e6
            r.shuffle_write_mb += int(sd.shuffleWriteBytes()) / 1e6
            r.spill_mb += (int(sd.memoryBytesSpilled()) + int(sd.diskBytesSpilled())) / 1e6
        self._read_sql(r)
        return r

    def _read_sql(self, r: OpReading) -> None:
        """Plan fingerprint and node metrics of every SQL execution started
        since the previous reading (the benchmark is single-threaded, so
        those are exactly this operation's)."""
        count = int(self.sql.executionsCount())
        plan = dict(exchanges=0, reused_exchanges=0, inmemory_scans=0,
                    checkpoint_scans=0, python_nodes=0, smj=0, bhj=0)
        if count > self._exec_seen:
            execs = self.sql.executionsList(self._exec_seen, count - self._exec_seen)
            for e in _iter(execs):
                eid = e.executionId()
                values = self.sql.executionMetrics(eid)
                for node in _iter(self.sql.planGraph(eid).allNodes()):
                    name = str(node.name())
                    metrics = {}
                    for m in _iter(node.metrics()):
                        v = values.get(m.accumulatorId())
                        metrics[str(m.name())] = v.get() if v.isDefined() else None
                    _count_node(plan, name)
                    if name.startswith(SCAN_PREFIXES):
                        r.rows_scanned += parse_metric(metrics.get("number of output rows"))
                    if name in PYTHON_NODES:
                        r.python_worker_start_s += parse_metric(
                            metrics.get("time to start Python workers"))
                        r.python_exec_s += parse_metric(
                            metrics.get("time to run Python workers")
                            or metrics.get("time spent executing"))
                        r.python_arrow_mb += (
                            parse_metric(metrics.get("data sent to Python workers"))
                            + parse_metric(metrics.get("data returned from Python workers"))
                        ) / 1e6
        self._exec_seen = count
        r.plan = plan


def _count_node(plan: dict, name: str) -> None:
    if name == "Exchange" or name == "BroadcastExchange":
        plan["exchanges"] += 1
    elif name.startswith("Reused"):
        plan["reused_exchanges"] += 1
    elif name == "InMemoryTableScan":
        plan["inmemory_scans"] += 1
    elif name.startswith("Scan ExistingRDD"):
        plan["checkpoint_scans"] += 1
    elif name in PYTHON_NODES:
        plan["python_nodes"] += 1
    elif name == "SortMergeJoin":
        plan["smj"] += 1
    elif name == "BroadcastHashJoin":
        plan["bhj"] += 1


@dataclass
class Span:
    name: str
    op: int
    start: float
    end: float
    parent: str | None


class Tracer:
    """In-memory spans and per-operation Spark readings for a traced run.

    ``overhead_s`` accumulates the wall time spent inside the tracer itself
    (job groups, status-store reads, storage reports), which is the part of
    the traced run's slowdown the tracer can see."""

    def __init__(self, spark):
        self.status = SparkStatus(spark)
        self.spans: list[Span] = []
        self.readings: dict[int, OpReading] = {}
        self.storage_before: dict[int, tuple[int, float]] = {}
        self.storage_after: dict[int, tuple[int, float]] = {}
        self.overhead_s = 0.0

    def span(self, name: str, op: int, start: float, end: float, parent: str | None):
        self.spans.append(Span(name, op, start, end, parent))

    def begin(self, op: int, name: str) -> None:
        t = time.perf_counter()
        self.storage_before[op] = self.status.storage()
        self.status.sc.setJobGroup(f"perfbench-{op}", name, False)
        self.overhead_s += time.perf_counter() - t

    def end(self, op: int) -> None:
        t = time.perf_counter()
        sc = self.status.sc
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        self.readings[op] = self.status.read_group(f"perfbench-{op}")
        self.storage_after[op] = self.status.storage()
        self.overhead_s += time.perf_counter() - t

    def plan(self, df, op: int) -> None:
        """Force physical planning on the operation's own QueryExecution and
        record it as a ``catalyst.plan`` span.  The collecting action then
        runs that same plan, so this moves the planning, it adds none."""
        t = time.perf_counter()
        df._jdf.queryExecution().executedPlan()
        self.span("catalyst.plan", op, t, time.perf_counter(), "op")
