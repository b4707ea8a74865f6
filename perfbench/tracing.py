"""Spans, Spark status-store counters and a process-tree RSS sampler.

Nothing here changes program code: spans go around public calls made
from the benchmark (or around module functions the benchmark wraps for
the duration of a call), and the counters are read from Spark's own
status stores after each job.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import re
import threading
import time
from dataclasses import asdict, dataclass, field
from statistics import median


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    job: int
    id: int
    counts: dict = field(default_factory=dict)


class Tracer:
    """In-memory spans; ``enabled=False`` makes every span a no-op so the
    untraced measurement pays nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._ids = itertools.count()
        self.job = 0

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        s = Span(name, time.perf_counter(), 0.0,
                 self._stack[-1] if self._stack else None, self.job,
                 next(self._ids))
        self._stack.append(s.id)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.perf_counter()
            self.spans.append(s)

    def wrap(self, module, attr: str, name: str, count=None):
        """Replace ``module.attr`` by a spanned twin; returns an undo."""
        orig = getattr(module, attr)

        def traced(*a, **kw):
            with self.span(name) as s:
                out = orig(*a, **kw)
                if s is not None and count is not None:
                    s.counts.update(count(out))
                return out

        setattr(module, attr, traced)
        return lambda: setattr(module, attr, orig)

    def self_times(self) -> dict:
        """Median self time per span name: duration minus the part of it
        covered by child spans."""
        child = {}
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] = child.get(s.parent, 0.0) + (s.end - s.start)
        per: dict = {}
        for s in self.spans:
            per.setdefault(s.name, []).append(
                (s.end - s.start) - child.get(s.id, 0.0))
        return {k: median(v) for k, v in per.items()}

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": [asdict(s) for s in self.spans],
                       "self_time_s": self.self_times()}, f, indent=1)


# ---------------------------------------------------------------- Spark

_SIZE = {"B": 1, "KiB": 2 ** 10, "MiB": 2 ** 20, "GiB": 2 ** 30,
         "TiB": 2 ** 40}
_TIME = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0,
         "h": 3600.0}
_VALUE = re.compile(r"([0-9][0-9.,]*)\s*([A-Za-z]+)")

PY_METRICS = {
    "data sent to Python workers": "python_data_sent_mb",
    "data returned from Python workers": "python_data_received_mb",
    "time to run Python workers": "python_run_s",
    "time to initialize Python workers": "python_init_s",
    "time to start Python workers": "python_start_s",
}


def parse_metric(text: str) -> float:
    """Total of a formatted SQL metric: sizes in MB, times in s.  Spark
    renders a multi-task metric as 'total (min, med, max ...)\\n<total>
    (...)' and a single value without the header line."""
    line = text.strip().splitlines()[-1]
    m = _VALUE.search(line)
    if not m:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _SIZE:
        return num * _SIZE[unit] / 1e6
    return num * _TIME.get(unit, 0.0)


class SparkProbe:
    """Reads what a call did from Spark's status stores: its jobs (by a
    per-call job group), their stages, and the SQL node metrics of the
    SQL executions it started."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self._group = itertools.count()
        self._pending: list = []

    @contextlib.contextmanager
    def call(self, label: str):
        """Run the body under its own job group.  Yields a dict that
        ``flush`` fills with the call's counters, so reading the stores
        stays out of the timed job."""
        gid = f"perfbench-{label}-{next(self._group)}"
        # the launcher retains every execution, so the ones this call
        # starts are those numbered from the current count on
        out: dict = {}
        self._pending.append((gid, self.sql_store.executionsCount(), out))
        self.sc.setJobGroup(gid, label)
        try:
            yield out
        finally:
            self.sc._jsc.clearJobGroup()

    def flush(self) -> None:
        # the status stores are fed by the asynchronous listener bus
        self.jsc.listenerBus().waitUntilEmpty()
        ends = [p[1] for p in self._pending[1:]]
        ends.append(self.sql_store.executionsCount())
        for (gid, first, out), end in zip(self._pending, ends):
            out.update(self._collect(gid, first, end))
        self._pending.clear()

    def _collect(self, gid: str, first_exec: int, end_exec: int) -> dict:
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(gid)
        store = self.jsc.statusStore()
        stages = []
        for j in jobs:
            info = tracker.getJobInfo(j)
            for sid in (info.stageIds if info else []):
                try:
                    stages.append(store.lastStageAttempt(sid))
                except Exception:  # skipped stage: never attempted
                    pass
        seen = set()
        uniq = []
        for st in stages:
            if st.stageId() not in seen:
                seen.add(st.stageId())
                uniq.append(st)
        res = {
            "spark_jobs": len(jobs),
            "input_mb": sum(s.inputBytes() for s in uniq) / 1e6,
            "shuffle_write_mb": sum(s.shuffleWriteBytes() for s in uniq) / 1e6,
            "shuffle_write_s": sum(s.shuffleWriteTime() for s in uniq) / 1e9,
            "task_skew": self._write_stage_skew(store, uniq),
        }
        res.update({v: 0.0 for v in PY_METRICS.values()})
        it = self.sql_store.executionsList(
            first_exec, end_exec - first_exec).iterator()
        while it.hasNext():
            e = it.next()
            wanted = {}
            mit = e.metrics().iterator()
            while mit.hasNext():
                m = mit.next()
                if m.name() in PY_METRICS:
                    wanted[m.accumulatorId()] = PY_METRICS[m.name()]
            if not wanted:
                continue
            vit = self.sql_store.executionMetrics(e.executionId()).iterator()
            while vit.hasNext():
                kv = vit.next()
                key = wanted.get(kv._1())
                if key is not None:
                    res[key] += parse_metric(kv._2())
        return res

    def _write_stage_skew(self, store, stages) -> float:
        """max / median task run time of the call's heaviest writing
        stage (for the extraction job: the Arrow extraction stage, which
        runs in the same stage as the partitioned write)."""
        writing = [s for s in stages if s.outputBytes() > 0]
        if not writing:
            return 0.0
        st = max(writing, key=lambda s: s.executorRunTime())
        gw = self.sc._gateway
        qs = gw.new_array(gw.jvm.double, 2)
        qs[0], qs[1] = 0.5, 1.0
        dist = store.taskSummary(st.stageId(), st.attemptId(), qs)
        if not dist.isDefined():
            return 0.0
        run = dist.get().executorRunTime()
        med, top = run.apply(0), run.apply(1)
        return top / med if med > 0 else 0.0

    def persisted_rdds(self) -> int:
        return self.sc._jsc.getPersistentRDDs().size()


# ------------------------------------------------------------ memory

def _children() -> dict:
    kids: dict = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree_rss_mb(root: int) -> float:
    kids = _children()
    todo, total = [root], 0
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1])
        except (OSError, IndexError, ValueError):
            pass
    return total * os.sysconf("SC_PAGE_SIZE") / 1e6


class RssSampler:
    """Peak resident memory of a process tree (the JVM and the Python
    workers it forks), sampled while active."""

    def __init__(self, root: int, period: float = 0.05):
        self.root, self.period = root, period
        self.peak = 0.0
        self._on = threading.Event()
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)
        self._t.start()

    def _run(self):
        # idle (no wake-ups) while no traced job runs
        while self._on.wait() and not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_mb(self.root))
            time.sleep(self.period)

    @contextlib.contextmanager
    def active(self):
        self._on.set()
        try:
            yield
        finally:
            self._on.clear()

    def close(self):
        self._stop.set()
        self._on.set()
        self._t.join()
