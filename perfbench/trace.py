"""Measurement plumbing: spans, Spark status-store readings, process-tree RSS.

Nothing here changes what the engine does. Spans are recorded around
the benchmark's own calls into the engine's layers; Spark's numbers are
read from its status stores after each op (before the store's
retention limits can evict them); memory is sampled from ``/proc``.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
from collections import Counter
from contextlib import contextmanager
from dataclasses import dataclass, field


class TraceError(RuntimeError):
    """The status stores disagree or lost data; the traced run fails."""


# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------


@dataclass
class Span:
    id: int
    name: str
    layer: str
    op_id: int
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory span log. ``enabled=False`` keeps only the op timings the
    end-to-end metrics need, so untraced runs pay no bookkeeping."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._next_op = 0

    def new_op(self) -> int:
        self._next_op += 1
        return self._next_op

    @contextmanager
    def span(self, name: str, layer: str, op_id: int):
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), name, layer, op_id, parent, time.time())
        if self.enabled:
            self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()

    def self_times(self) -> dict[int, float]:
        """span id → duration minus the union of its children's intervals."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append((s.start, s.end))
        return {
            s.id: (s.end - s.start) - union_length(kids.get(s.id, []), s.start, s.end)
            for s in self.spans
        }

    def write(self, path: str) -> None:
        self_t = self.self_times()
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                rec = dict(s.__dict__, self_s=self_t[s.id])
                fh.write(json.dumps(rec, default=str) + "\n")


def union_length(intervals, lo: float, hi: float) -> float:
    """Total length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur_end), min(b, hi)
        if b > a:
            total += b - a
            cur_end = b
    return total


# ---------------------------------------------------------------------------
# Spark status stores
# ---------------------------------------------------------------------------

# SQL metric names (Spark 4.1) → (per-layer key, kind)
SQL_METRICS = {
    "time to run Python workers": ("udf_workers.run_s", "time"),
    "time to start Python workers": ("udf_workers.start_s", "time"),
    # the worker's boot-to-init time: a reused worker "boots" when its
    # previous task ends, so this also counts the time it sat idle
    # between tasks (README.md, "udf_workers.init_s")
    "time to initialize Python workers": ("udf_workers.init_s", "time"),
    "data sent to Python workers": ("udf_workers.bytes_sent", "size"),
    "data returned from Python workers": ("udf_workers.bytes_returned", "size"),
    "number of files read": ("io.files_read", "count"),
    "scan time": ("io.scan_s", "time"),
    "metadata time": ("io.metadata_s", "time"),
}

_TIME_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}
_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_VALUE = re.compile(r"^\s*([\d.,]+)\s*([A-Za-z]*)")
_PLAN_METRIC = re.compile(r"SQLPlanMetric\((.+?),(\d+),([A-Za-z]+)\)")
_MAP_KEY = re.compile(r"(?:\(|, )(\d+) -> ")


def parse_metric(text: str, kind: str) -> tuple[float, float]:
    """Parse one value of SQLAppStatusStore.executionMetrics into (value,
    rounding): Spark shows ``2.8 s``, so the value is good to 0.05 s.
    Multi-task metrics read ``total (min, med, max ...)\\n<total> (...)``;
    the total is taken."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _VALUE.match(line)
    if not m:
        raise TraceError(f"unparseable SQL metric value {text!r}")
    digits = m.group(1).replace(",", "")
    num = float(digits)
    step = 0.5 * 10.0 ** -len(digits.partition(".")[2])
    unit = m.group(2)
    scale = 1.0
    if kind == "time":
        scale = _TIME_UNITS[unit or "ms"]
    elif kind == "size":
        scale = _SIZE_UNITS[unit or "B"]
    return num * scale, step * scale


@dataclass
class Mark:
    job: int  # the first job id an op may launch


class StatusReader:
    """Reads, for the jobs and SQL executions an op launched, the numbers
    Spark's status stores hold: job intervals, stage task metrics, and
    the SQL metrics (Python worker time and bytes, scan metrics)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.store = self.jsc.statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.tracker = self.sc.statusTracker()
        self.next_exec = 0

    def _drain(self) -> None:
        self.jsc.listenerBus().waitUntilEmpty()

    def _exec_frontier(self) -> list:
        """Executions not yet seen, in id order (stops at the first gap of
        three missing ids, past the newest execution)."""
        found, eid, misses = [], self.next_exec, 0
        while misses < 3:
            opt = self.sql_store.execution(eid)
            if opt.isEmpty():
                misses += 1
            else:
                found.append(opt.get())
                misses = 0
                self.next_exec = eid + 1
            eid += 1
        return found

    def mark(self) -> Mark:
        self._drain()
        self._exec_frontier()  # skip executions of untraced work
        return Mark(self.jsc.dagScheduler().numTotalJobs())

    def read(self, mark: Mark) -> dict:
        """Readings for everything launched since ``mark``. Raises
        TraceError when a job or stage the tracker lists is missing from
        the store (evicted), rather than under-reporting, and when the
        Python workers' run or start time exceeds the op's task time."""
        self._drain()
        end_job = self.jsc.dagScheduler().numTotalJobs()
        out: Counter = Counter()
        slack: Counter = Counter()  # display rounding of the SQL metrics
        intervals = []
        for j in range(mark.job, end_job):
            info = self.tracker.getJobInfo(j)
            if info is None:
                raise TraceError(f"job {j} is no longer in the status store")
            jd = self.store.job(j)
            sub, comp = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and comp.isDefined():
                intervals.append((sub.get().getTime() / 1e3, comp.get().getTime() / 1e3))
            read_stages = 0
            for sid in info.stageIds:
                try:
                    sd = self.store.lastStageAttempt(sid)
                except Exception:  # py4j NoSuchElementException: evicted
                    continue
                read_stages += 1
                out["exec.tasks"] += sd.numTasks()
                out["exec.executor_run_s"] += sd.executorRunTime() / 1e3
                out["exec.executor_cpu_s"] += sd.executorCpuTime() / 1e9
                out["exec.gc_s"] += sd.jvmGcTime() / 1e3
                out["io.input_bytes"] += sd.inputBytes()
                out["shuffle.write_bytes"] += sd.shuffleWriteBytes()
                out["shuffle.read_bytes"] += sd.shuffleReadBytes()
                out["shuffle.fetch_wait_s"] += sd.shuffleFetchWaitTime() / 1e3
                out["shuffle.spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            if read_stages != len(info.stageIds) or read_stages != jd.stageIds().size():
                raise TraceError(
                    f"job {j}: tracker lists {len(info.stageIds)} stages, store "
                    f"holds {jd.stageIds().size()}, read {read_stages}"
                )
            out["exec.stages"] += read_stages
            out["exec.jobs"] += 1
        for ex in self._exec_frontier():
            names = {
                int(acc): name
                for name, acc, _kind in _PLAN_METRIC.findall(ex.metrics().toString())
                if name in SQL_METRICS
            }
            if not names:
                continue
            text = self.sql_store.executionMetrics(ex.executionId()).toString()
            keys = list(_MAP_KEY.finditer(text))
            for i, k in enumerate(keys):
                acc = int(k.group(1))
                if acc not in names:
                    continue
                stop = keys[i + 1].start() if i + 1 < len(keys) else len(text) - 1
                key, kind = SQL_METRICS[names[acc]]
                value, rounding = parse_metric(text[k.end() : stop], kind)
                out[key] += value
                slack[key] += rounding
        # Python worker run and start times are spent inside the op's
        # tasks. (init_s is not: see README.md.)
        for key in ("udf_workers.run_s", "udf_workers.start_s"):
            if out[key] > out["exec.executor_run_s"] + slack[key] + 1e-3:
                raise TraceError(
                    f"{key} = {out[key]:.3f} s exceeds the op's summed task "
                    f"time {out['exec.executor_run_s']:.3f} s"
                )
        out["exec.job_wall_s"] += sum(b - a for a, b in intervals)
        return {"metrics": dict(out), "job_intervals": intervals}

    def storage(self) -> tuple[int, int]:
        """(persisted RDD count, cached bytes in memory and on disk)."""
        infos = self.jsc.getRDDStorageInfo()
        cached = sum(r.memSize() + r.diskSize() for r in infos)
        return self.sc._jsc.getPersistentRDDs().size(), cached


class ProgressLog:
    """StreamingQueryListener that keeps every progress event (traced
    runs only: it starts py4j's callback server)."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        log = self.events = []

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):  # noqa: N802 (API name)
                pass

            def onQueryProgress(self, event):  # noqa: N802
                p = event.progress
                log.append({"batch": p.batchId, "rows": p.numInputRows,
                            "durations_ms": dict(p.durationMs)})

            def onQueryIdle(self, event):  # noqa: N802
                pass

            def onQueryTerminated(self, event):  # noqa: N802
                pass

        self.listener = _Listener()
        spark.streams.addListener(self.listener)

    def take(self) -> list[dict]:
        got, self.events[:] = list(self.events), []
        return got


# ---------------------------------------------------------------------------
# Process-tree memory
# ---------------------------------------------------------------------------


def process_tree(root: int) -> list[int]:
    """``root`` and all its descendants, from /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_rss_bytes(root: int) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except OSError:
            continue
    return total


class RssSampler:
    """Samples the RSS of this process tree (driver, JVM, Python workers)
    every ``interval`` seconds on a background thread; keeps the peak."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(me))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
