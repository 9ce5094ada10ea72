"""Measurement from outside the engine: spans, Spark's status stores,
streaming progress, and process memory.

Nothing here changes what the engine runs. Spans are timed around the
benchmark's own calls into the engine's public functions; each span
tags the Spark jobs it causes with ``setJobGroup`` so stage and SQL
metrics can be read back per span from the status stores (these work
with the UI disabled). Everything stays in memory until the run ends.
"""

from __future__ import annotations

import itertools
import os
import re
import threading
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener


def seq(x) -> list:
    """A Scala Seq from py4j as a Python list."""
    return [x.apply(i) for i in range(x.length())]


# --------------------------------------------------------------- spans

class Spans:
    """One span per layer call: name, layer, start, end, parent and the
    job group its Spark jobs carry. Nested spans record their parent."""

    def __init__(self, sc, trace_id: str):
        self.sc = sc
        self.trace_id = trace_id
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()

    @contextmanager
    def span(self, layer: str, name: str):
        stack = self._local.__dict__.setdefault("stack", [])
        sid = next(self._ids)
        group = f"{self.trace_id}/{sid}"
        rec = {"id": sid, "layer": layer, "name": name, "group": group,
               "parent": stack[-1]["id"] if stack else None,
               "trace": self.trace_id}
        self.sc.setJobGroup(group, f"{layer}:{name}")
        stack.append(rec)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            if stack:
                self.sc.setJobGroup(stack[-1]["group"], stack[-1]["name"])
            else:
                self.sc.setJobGroup("untraced", "untraced")
            self.spans.append(rec)


# ------------------------------------------------------- status stores

def submitted(job) -> float | None:
    """A job's submission time in epoch seconds."""
    t = job.submissionTime()
    return t.get().getTime() / 1000.0 if t.isDefined() else None


_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
          "ms": 1e-3, "s": 1.0, "min": 60.0, "h": 3600.0}
_TOTAL = re.compile(r"([-\d.,]+)\s*([A-Za-z]+)?")


def parse_metric(text: str) -> float:
    """A rendered SQL metric ('1014.8 KiB', '4.6 s', '31,203', or the
    'total (min, med, max ...)\\n<total> (...)' form) as bytes, seconds
    or a count."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = _TOTAL.match(text.strip())
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2) or "", 1.0)


class StatusReader:
    """Reads stage and SQL metrics of a job group from the status
    stores (``sc.statusStore()`` and the SQL ``sharedState`` store).
    The stores keep a bounded number of jobs and executions, so
    callers read each group soon after its jobs finish."""

    def __init__(self, spark):
        self.spark = spark
        self.store = spark.sparkContext._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()

    def jobs(self, group: str) -> list:
        return [
            j for j in seq(self.store.jobsList(None))
            if j.jobGroup().isDefined() and j.jobGroup().get() == group
        ]

    def ungrouped(self, start: float, end: float) -> list:
        """Jobs without a job group submitted between `start` and `end`
        (epoch seconds): jobs from threads the engine starts itself,
        which do not inherit the caller's job group."""
        return [
            j for j in seq(self.store.jobsList(None))
            if not j.jobGroup().isDefined()
            and start <= (submitted(j) or 0.0) <= end
        ]

    def stats(self, jobs: list) -> dict:
        out = {"stages": 0, "tasks": 0, "cpu_s": 0.0, "run_s": 0.0,
               "input_bytes": 0, "shuffle_bytes": 0, "spill_bytes": 0,
               "task_skew": 0.0, "heaviest_run_s": 0.0}
        heaviest = None
        for j in jobs:
            for sid in seq(j.stageIds()):
                try:
                    st = self.store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 - skipped or evicted stage
                    continue
                if st.numCompleteTasks() == 0:
                    continue
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks()
                out["cpu_s"] += st.executorCpuTime() / 1e9
                out["run_s"] += st.executorRunTime() / 1e3
                out["input_bytes"] += st.inputBytes()
                out["shuffle_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                if heaviest is None or st.executorRunTime() > heaviest.executorRunTime():
                    heaviest = st
        if heaviest is not None:
            durs = sorted(
                t.duration().get() for t in seq(
                    self.store.taskList(heaviest.stageId(), heaviest.attemptId(), 10000)
                ) if t.duration().isDefined()
            )
            if durs:
                med = durs[len(durs) // 2]
                out["task_skew"] = durs[-1] / med if med > 0 else 1.0
            out["heaviest_run_s"] = heaviest.executorRunTime() / 1e3
        return out

    def sql_metrics(self, job_ids: list[int],
                    seen: set[int]) -> dict[tuple[str, str], float]:
        """Sum of each (plan node, metric) over the SQL executions that
        ran any of `job_ids` and are not in `seen`; adds them to it."""
        ids = set(job_ids)
        out: dict[tuple[str, str], float] = {}
        if not ids:
            return out
        for ex in seq(self.sql.executionsList()):
            jobs = ex.jobs()
            if ex.executionId() in seen or not any(jobs.contains(j) for j in ids):
                continue
            seen.add(ex.executionId())
            values = self.sql.executionMetrics(ex.executionId())
            for node in seq(self.sql.planGraph(ex.executionId()).allNodes()):
                for m in seq(node.metrics()):
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        key = (node.name().strip(), m.name())
                        out[key] = out.get(key, 0.0) + parse_metric(v.get())
        return out


def gc_seconds(sc) -> float:
    """Total collection time of the driver JVM's collectors (local mode:
    the executors share this JVM)."""
    beans = sc._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1000.0


# ------------------------------------------------------ streaming progress

class ProgressListener(StreamingQueryListener):
    """Collects ``StreamingQueryProgress`` per micro-batch; optionally
    calls `on_batch(progress)` so a traced run can read the batch's
    jobs before the status store evicts them."""

    def __init__(self, on_batch=None):
        self.batches: list[dict] = []
        self.on_batch = on_batch

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        rec = {"run_id": str(p.runId), "batch_id": p.batchId,
               "rows": p.numInputRows, "duration_ms": dict(p.durationMs)}
        if self.on_batch is not None:
            self.on_batch(rec)
        self.batches.append(rec)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


# ------------------------------------------------------------ memory

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", "rb") as f:
                raw = f.read()
        except OSError:
            continue
        ppid = int(raw[raw.rfind(b")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, stack = [], list(kids.get(pid, []))
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(kids.get(p, []))
    return out


def tree_rss_mb(root_pid: int) -> float:
    """Resident memory of a process and all its descendants."""
    return sum(_rss_kb(p) for p in [root_pid, *descendants(root_pid)]) / 1024.0


def alive(pid: int) -> bool:
    """True while the process exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read()
    except OSError:
        return False
    return raw[raw.rfind(b")") + 2:].split()[0] != b"Z"


class PeakRss:
    """Samples the resident memory of the driver JVM plus its Python
    workers every `period` seconds and keeps the maximum."""

    def __init__(self, jvm_pid: int, period: float = 0.2):
        self.pid = jvm_pid
        self.period = period
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_mb(self.pid))
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_mb(self.pid))
