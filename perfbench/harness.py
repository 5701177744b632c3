"""Measurement helpers shared by the benchmark's workloads.

Everything here is benchmark-side: the engine is only ever called, never
patched.  The pure helpers (percentiles, span self time, failure
accounting, metric names, result digests) need no Spark and are unit
tested in ``perfbench/tests``; ``SparkProbe`` and ``RssSampler`` read
public Spark and ``/proc`` interfaces while a workload runs.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import re
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

METRIC_NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def check_metric_name(name: str) -> str:
    """Return ``name`` if it is a valid metric name, else raise."""
    if not METRIC_NAME_RE.fullmatch(name):
        raise ValueError(f"bad metric name {name!r}: want [A-Za-z0-9_.-]+, <= 64 chars")
    return name


# -- percentiles ---------------------------------------------------------------


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``p``%
    of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[min(rank, len(xs)) - 1]


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return statistics.median(values)


def tail_percentile(values: list[float], beyond: int = 10) -> tuple[int, float] | None:
    """The highest whole percentile that still has at least ``beyond``
    samples above it (nearest rank), with its value.  ``None`` when the
    sample only supports the median or less (fewer than 2 * beyond
    samples)."""
    n = len(values)
    if n < 2 * beyond:
        return None
    p = math.floor(100.0 * (n - beyond) / n)
    while p > 50 and n - math.ceil(p / 100.0 * n) < beyond:
        p -= 1
    if p <= 50:
        return None
    return p, percentile(values, p)


# -- failure accounting ----------------------------------------------------------


@dataclass
class Ledger:
    """Counts checked operations.  An operation that raised and one that
    returned a wrong answer both count as failed."""

    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)

    def record(self, ok: bool, what: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.problems) < 20:
                self.problems.append(what)

    def mark_wrong(self, what: str) -> None:
        """Turn an already attempted operation into a failed one (its
        answer was checked after it was timed)."""
        self.failed += 1
        if len(self.problems) < 20:
            self.problems.append(what)

    @property
    def failed_ratio(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


# -- spans -------------------------------------------------------------------------


@dataclass
class Span:
    span_id: int
    name: str
    start: float
    end: float
    parent: int | None
    request: str | None

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_time(span: Span, children: list[Span]) -> float:
    """``span``'s duration minus the part of its interval that its
    children cover (overlapping children are counted once)."""
    cut = sorted(
        (max(c.start, span.start), min(c.end, span.end))
        for c in children
        if c.end > span.start and c.start < span.end
    )
    covered = 0.0
    cur_s = cur_e = None
    for s, e in cut:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return span.duration - covered


def self_times(spans: list[Span]) -> dict[int, float]:
    kids: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append(s)
    return {s.span_id: self_time(s, kids.get(s.span_id, [])) for s in spans}


class Tracer:
    """In-memory span recorder.  Disabled, ``span`` costs one branch."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.request: str | None = None
        self._stack: list[int] = []
        self._next = 0
        self.overhead_s = 0.0  # time spent reading engine/Spark state for the trace

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = self._next
        self._next += 1
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self.spans.append(Span(sid, name, start, end, parent, self.request))

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s.__dict__) + "\n")


# -- requests ----------------------------------------------------------------------


@dataclass
class Sample:
    kind: str
    seconds: float
    rows: int


class Recorder:
    """Latency of every timed request, by request kind."""

    def __init__(self):
        self.samples: list[Sample] = []
        self.loop_s = 0.0

    def latencies(self, kinds: tuple[str, ...] | None = None) -> list[float]:
        return [s.seconds for s in self.samples if kinds is None or s.kind in kinds]

    def rows(self, kinds: tuple[str, ...] | None = None) -> int:
        return sum(s.rows for s in self.samples if kinds is None or s.kind in kinds)


# -- answers -----------------------------------------------------------------------


def _canon(v):
    if hasattr(v, "item") and not isinstance(v, (list, dict, str, bytes)):
        try:
            v = v.item()
        except (AttributeError, ValueError):
            pass
    if isinstance(v, float) and math.isnan(v):
        return "nan"
    if v is None:
        return None
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return [_canon(x) for x in v]
    return v


def digest(pdf) -> str:
    """Order-insensitive digest of a pandas frame: columns by name, rows
    sorted.  Equal digests mean equal answers, types included."""
    cols = sorted(pdf.columns)
    rows = [
        json.dumps([_canon(v) for v in row], default=str)
        for row in pdf[cols].itertuples(index=False, name=None)
    ]
    rows.sort()
    h = hashlib.sha256(json.dumps(cols).encode())
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest()


class _Collected:
    """A collected answer posing as a DataFrame for ``compare.compare``."""

    def __init__(self, pdf):
        self._pdf = pdf

    def toPandas(self):
        return self._pdf


class StoredOracle:
    """A stored oracle answer posing as a DuckDB connection."""

    def __init__(self, pdf):
        self._pdf = pdf

    def execute(self, _sql):
        return self

    def fetchdf(self):
        return self._pdf


class Verifier:
    """Checks answers with the engine's own ``compare.compare`` (exact,
    type-strict).  An answer whose digest already passed is not
    compared again."""

    def __init__(self):
        self._passed: dict[str, set[str]] = defaultdict(set)
        self.issues: list[str] = []

    def check(self, name: str, pdf, sql: str, con) -> bool:
        from columnar_analytics_engine_spark.compare import compare

        d = digest(pdf)
        if d in self._passed[name]:
            return True
        res = compare(name, _Collected(pdf), sql, con)
        if res.ok:
            self._passed[name].add(d)
        elif len(self.issues) < 10:
            self.issues.append(str(res))
        return res.ok


# -- Spark-side per-request numbers ------------------------------------------------


EXEC_KEYS = (
    "exec.jobs",
    "exec.stages",
    "exec.tasks",
    "exec.task_failures",
    "exec.executor_run_s",
    "exec.shuffle_write_bytes",
    "exec.spill_bytes",
    "exec.gc_s",
)
PLAN_PHASES = {"analysis": "plan.analysis_s", "optimization": "plan.optimization_s", "planning": "plan.planning_s"}


class SparkProbe:
    """Reads per-request execution numbers through public Spark
    interfaces: the job group and status tracker for job and stage ids,
    the status store for stage task metrics, and a DataFrame's
    ``queryExecution`` planning tracker for Catalyst phase times."""

    def __init__(self, spark, tracer: Tracer):
        self.sc = spark.sparkContext
        self.tracer = tracer
        self.totals: dict[str, float] = defaultdict(float)
        self.requests = 0
        self.plans = 0

    def begin(self, request_id: str) -> None:
        if self.tracer.enabled:
            t0 = time.perf_counter()
            self.sc.setJobGroup(request_id, request_id)
            self.tracer.overhead_s += time.perf_counter() - t0

    def end(self, request_id: str) -> None:
        if not self.tracer.enabled:
            return
        t0 = time.perf_counter()
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        store = jsc.statusStore()
        self.requests += 1
        for jid in tracker.getJobIdsForGroup(request_id):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            self.totals["exec.jobs"] += 1
            for sid in info.stageIds:
                try:
                    sd = store.lastStageAttempt(sid)
                except Exception:  # stage evicted from the store
                    continue
                if sd.status().toString() == "SKIPPED":
                    continue
                self.totals["exec.stages"] += 1
                self.totals["exec.tasks"] += sd.numTasks()
                self.totals["exec.task_failures"] += sd.numFailedTasks()
                self.totals["exec.executor_run_s"] += sd.executorRunTime() / 1000.0
                self.totals["exec.shuffle_write_bytes"] += sd.shuffleWriteBytes()
                self.totals["exec.spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                self.totals["exec.gc_s"] += sd.jvmGcTime() / 1000.0
        self.sc.setJobGroup("", "")
        self.tracer.overhead_s += time.perf_counter() - t0

    def plan_phases(self, df) -> None:
        """Add the Catalyst phase times of ``df``'s last action."""
        if not self.tracer.enabled:
            return
        t0 = time.perf_counter()
        phases = df._jdf.queryExecution().tracker().phases()
        it = phases.iterator()
        while it.hasNext():
            kv = it.next()
            key = PLAN_PHASES.get(kv._1())
            if key:
                self.totals[key] += kv._2().durationMs() / 1000.0
        self.plans += 1
        self.tracer.overhead_s += time.perf_counter() - t0

    def storage(self) -> tuple[int, int]:
        """(cached RDD entries, cached bytes in memory and on disk)."""
        t0 = time.perf_counter()
        entries = nbytes = 0
        for info in self.sc._jsc.sc().getRDDStorageInfo():
            if info.numCachedPartitions() > 0:
                entries += 1
                nbytes += info.memSize() + info.diskSize()
        self.tracer.overhead_s += time.perf_counter() - t0
        return entries, nbytes

    def metrics(self) -> dict[str, float]:
        n = max(1, self.requests)
        out = {k: self.totals.get(k, 0.0) / n for k in EXEC_KEYS}
        for key in PLAN_PHASES.values():
            out[key] = self.totals.get(key, 0.0) / max(1, self.plans)
        return out


# -- settling before the timed loop ----------------------------------------------


def wait_quiet(read, interval_s: float = 0.25, quiet_polls: int = 2, timeout_s: float = 8.0, sleep=time.sleep) -> bool:
    """Poll the monotone counter ``read()`` every ``interval_s`` until it
    stays unchanged for ``quiet_polls`` polls in a row (True), or until
    ``timeout_s`` has passed (False)."""
    last, quiet, waited = read(), 0, 0.0
    while waited < timeout_s:
        sleep(interval_s)
        waited += interval_s
        now = read()
        quiet = quiet + 1 if now == last else 0
        last = now
        if quiet >= quiet_polls:
            return True
    return False


def settle(spark) -> bool:
    """Let the JVM finish the work the warm-up left queued before timing
    starts: collect garbage in Python and the driver JVM, then wait until
    the JIT compiler's total compilation time stops growing.  Without it
    the first timed requests share the CPU with compiles whose progress
    depends on how busy the host is."""
    import gc

    gc.collect()
    jvm = spark.sparkContext._jvm
    jvm.System.gc()
    bean = jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
    return wait_quiet(bean.getTotalCompilationTime)


# -- memory ------------------------------------------------------------------------


def _tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` and all its descendants."""
    parent: dict[int, int] = {}
    rss: dict[int, int] = {}
    page = os.sysconf("SC_PAGE_SIZE")
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
            with open(f"/proc/{d}/statm") as fh:
                statm = fh.read().split()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        parent[int(d)] = int(fields[1])
        rss[int(d)] = int(statm[1]) * page
    keep = {root}
    changed = True
    while changed:
        changed = False
        for pid, ppid in parent.items():
            if ppid in keep and pid not in keep:
                keep.add(pid)
                changed = True
    return sum(rss.get(p, 0) for p in keep)


class RssSampler:
    """Samples the resident memory of this process and its children (the
    driver JVM and its Python workers) and keeps the peak."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while True:
            self.peak_bytes = max(self.peak_bytes, _tree_rss_bytes(me))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_bytes = max(self.peak_bytes, _tree_rss_bytes(os.getpid()))

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / 2**20


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def list_files(path: str, suffix: str) -> dict[str, int]:
    """Data files (by suffix) under ``path`` with their sizes."""
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(suffix) and not f.startswith((".", "_")):
                p = os.path.join(root, f)
                out[p] = os.path.getsize(p)
    return out
