"""In-memory spans recorded around the calls into each layer, and the
per-job-group stage metrics read from Spark's status store."""

from __future__ import annotations

import contextlib
import json
import re
import time


class Tracer:
    """Spans kept in memory: name, start, end, parent and query id. With
    ``enabled=False`` every span is a no-op, so the untraced run pays
    nothing."""

    def __init__(self, enabled: bool = True):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, qid=None):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "qid": qid,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(with_self_time(self.spans), f)


def union_length(intervals) -> float:
    """Total length covered by a set of [start, end] intervals."""
    total = 0.0
    cur_s = cur_e = None
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


def with_self_time(spans: list[dict]) -> list[dict]:
    """Copies of ``spans`` with ``self_s``: duration minus the union of the
    children's intervals (clipped to the parent)."""
    kids: dict = {}
    for sp in spans:
        if sp["parent"] is not None:
            kids.setdefault(sp["parent"], []).append(sp)
    out = []
    for sp in spans:
        s, e = sp["start"], sp["end"]
        covered = union_length(
            (max(c["start"], s), min(c["end"], e))
            for c in kids.get(sp["id"], ())
            if c["end"] > s and c["start"] < e
        )
        out.append(dict(sp, self_s=(e - s) - covered))
    return out


STAGE_FIELDS = (
    "inputBytes", "inputRecords", "shuffleReadBytes", "shuffleReadRecords",
    "shuffleWriteBytes", "shuffleWriteRecords", "executorRunTime",
    "executorCpuTime", "memoryBytesSpilled", "diskBytesSpilled",
    "peakExecutionMemory", "numTasks",
)


ROWS = "number of output rows"
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"
_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


def metric_value(text: str) -> int:
    """The total of one SQL metric as the status store formats it: a
    count (``"1,234"``) or a size whose total is the first value of the
    last line (``"total (min, med, max (stageId: taskId))\\n25.3 MiB (...)"``).
    Sizes are formatted to 0.1 of their unit, so they are exact to about
    0.2%."""
    last = text.strip().split("\n")[-1]
    m = re.match(r"\s*([\d,.]+)\s*([KMGT]?i?B)?", last)
    if m is None:
        raise ValueError(f"unparsed SQL metric value: {text!r}")
    num = float(m.group(1).replace(",", ""))
    return round(num * _UNITS[m.group(2)]) if m.group(2) else int(num)


class StageReader:
    """Stage metrics of the jobs a job group launched, and the SQL node
    metrics of the executions a query ran, read from the
    status stores once the listener bus has delivered every event."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.sql = spark._jsparkSession.sharedState().statusStore()

    def group(self, group: str) -> dict:
        self.jsc.listenerBus().waitUntilEmpty(30_000)
        tracker = self.sc.statusTracker()
        store = self.jsc.statusStore()
        jobs = tracker.getJobIdsForGroup(group)
        stages = []
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds:
                sd = store.lastStageAttempt(int(sid))
                if sd.status().toString() != "COMPLETE":
                    continue  # skipped: its work was reused, not redone
                stages.append({k: int(getattr(sd, k)()) for k in STAGE_FIELDS})
        return {"jobs": len(jobs), "stages": stages}

    def last_execution(self) -> int:
        """Id of the newest SQL execution so far, -1 if none."""
        self.jsc.listenerBus().waitUntilEmpty(30_000)
        lst = self.sql.executionsList()
        return max((lst.apply(i).executionId() for i in range(lst.size())), default=-1)

    def sql_metrics(self, after: int, column: str) -> dict:
        """Node metrics summed over every SQL execution newer than
        ``after``:

        - ``tiles_scanned``: rows output by the parquet scans that read
          ``column``, i.e. the rows of the row groups the scans admitted.
          Scans are matched by column, not path, because the plan
          abbreviates long locations.
        - ``python_bytes_in`` / ``python_bytes_out`` / ``python_rows_out``:
          data sent to and returned from the Python workers, and rows
          output, by every node that runs Python (the nodes that carry
          Spark's Python metrics)."""
        reads = re.compile(r"FileScan parquet \[[^\]]*\b" + re.escape(column) + "#")
        self.jsc.listenerBus().waitUntilEmpty(30_000)
        out = dict.fromkeys(("tiles_scanned", "python_bytes_in", "python_bytes_out",
                             "python_rows_out"), 0)
        for eid in range(after + 1, self.last_execution() + 1):
            values = self.sql.executionMetrics(eid)
            nodes = self.sql.planGraph(eid).allNodes()
            for j in range(nodes.size()):
                node = nodes.apply(j)
                metrics = node.metrics()
                got = {}
                for k in range(metrics.size()):
                    m = metrics.apply(k)
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        got[m.name()] = v.get()
                if PY_SENT in got:
                    out["python_bytes_in"] += metric_value(got[PY_SENT])
                    out["python_bytes_out"] += metric_value(got.get(PY_RETURNED, "0"))
                    out["python_rows_out"] += metric_value(got.get(ROWS, "0"))
                elif reads.search(node.desc()):
                    out["tiles_scanned"] += metric_value(got.get(ROWS, "0"))
        return out

    def gc_s(self) -> float:
        """Total collection time of every JVM garbage collector so far."""
        mf = self.sc._jvm.java.lang.management.ManagementFactory
        return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1e3


def jvm_pid(sc) -> int:
    return int(sc._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getPid())
