"""Closed-loop driver, span tracer and Spark counter attribution.

One client sends each operation only after the previous one returned. An
operation is a callable; its latency is the wall time of the call, which
includes consuming its result. Output checks run after the clock stops.

Tracing (``--trace 1``) records a span around every call the workload makes
into a layer of the engine: name, start, end, parent and operation id. Each
operation runs under its own Spark job group in both modes; a traced span
opens a child job group, so every Spark job is attributed to the innermost
span that launched it. Job, stage, task and I/O counters come from the
driver's status store (``SparkStatusTracker`` job ids, then the JVM
``AppStatusStore`` job and stage records). Catalyst phase times come from
``queryExecution().tracker().phases()``; its ``toString()`` is parsed
because the ``PhaseSummary`` accessors do not resolve through py4j on
Spark 4.1. Spans stay in memory and are written out when the run ends.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import math
import os
import re
import resource
import statistics
import time
import traceback
from dataclasses import dataclass, field
from typing import Callable, Iterable

_PHASE = re.compile(r"(\w+) -> PhaseSummary\((\d+), (\d+)\)")

# per-span Spark counters, summed over the jobs a span launched
SPARK_COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "cpu_ms",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "input_bytes",
    "input_records",
    "output_bytes",
    "output_records",
)


def process_age_s() -> float:
    """Seconds since this process started (from /proc, so interpreter
    start-up counts towards set-up time)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(jvm_pid: int | None) -> float:
    """Peak resident set of this Python process plus the driver JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    if jvm_pid:
        with open(f"/proc/{jvm_pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (q in [0, 100])."""
    xs = sorted(values)
    if not xs:
        return math.nan
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


@dataclass
class Span:
    name: str
    op_id: int
    parent: int | None
    t0: float
    t1: float = 0.0
    group: str | None = None
    spark: dict = field(default_factory=dict)
    jobs_s: float = 0.0
    phases_ms: dict = field(default_factory=dict)
    attrs: dict = field(default_factory=dict)


@dataclass
class OpResult:
    op_id: int
    name: str
    cls: str  # "read", "commit", "maint", "meta" or "transform"
    latency_s: float
    ok: bool
    cycle: int


@dataclass
class Op:
    """One closed-loop operation: ``fn()`` does the work and consumes the
    result; ``check(out)`` validates the output after the clock stopped."""

    name: str
    cls: str
    fn: Callable[[], object]
    check: Callable[[object], bool] | None = None


class Tracer:
    """Spans around layer calls plus per-span Spark counters.

    With ``enabled`` false every ``span`` is a no-op, so an untraced run
    pays only for one job-group call per operation."""

    def __init__(self, spark, prefix: str):
        self.sc = spark.sparkContext
        self.prefix = prefix
        self.enabled = False
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.op_id = -1
        self._groups = itertools.count(1)
        self._store = self.sc._jsc.sc().statusStore()
        self._bus = self.sc._jsc.sc().listenerBus()

    # -- spans --------------------------------------------------------------

    def _group(self, label: str) -> str:
        gid = f"{self.prefix}-{next(self._groups)}"
        self.sc.setJobGroup(gid, label)
        return gid

    @contextlib.contextmanager
    def op(self, op_id: int, name: str):
        """The operation's own job group (both modes) and, traced, its
        root span."""
        self.op_id = op_id
        gid = self._group(f"{name}#{op_id}")
        try:
            if self.enabled:
                with self._span(f"op.{name}", gid):
                    yield
            else:
                yield
        finally:
            self.sc.setJobGroup(f"{self.prefix}-idle", "idle")

    def span(self, name: str, **attrs):
        if not self.enabled:
            return contextlib.nullcontext()
        return self._span(name, self._group(name), **attrs)

    @contextlib.contextmanager
    def _span(self, name: str, gid: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        parent_gid = self.spans[parent].group if parent is not None else None
        s = Span(name, self.op_id, parent, time.perf_counter(), group=gid, attrs=attrs)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.t1 = time.perf_counter()
            self._stack.pop()
            if parent_gid is not None:
                self.sc.setJobGroup(parent_gid, "resume")

    def phases(self, df) -> None:
        """Attach the Catalyst phase times of a consumed DataFrame to the
        innermost open span."""
        if not self.enabled or not self._stack:
            return
        text = df._jdf.queryExecution().tracker().phases().toString()
        span = self.spans[self._stack[-1]]
        for phase, t0, t1 in _PHASE.findall(text):
            span.phases_ms[phase] = span.phases_ms.get(phase, 0) + int(t1) - int(t0)

    # -- Spark counters -----------------------------------------------------

    def attribute(self, first_span: int) -> None:
        """Fill Spark counters for spans recorded since ``first_span``."""
        if not self.enabled:
            return
        self._bus.waitUntilEmpty()
        tracker = self.sc.statusTracker()
        for s in self.spans[first_span:]:
            counts = dict.fromkeys(SPARK_COUNTERS, 0)
            intervals = []
            for jid in tracker.getJobIdsForGroup(s.group):
                job = self._store.job(jid)
                counts["jobs"] += 1
                sub, end = job.submissionTime(), job.completionTime()
                if sub.isDefined() and end.isDefined():
                    intervals.append((sub.get().getTime(), end.get().getTime()))
                ids = job.stageIds()
                for i in range(ids.size()):
                    st = self._store.lastStageAttempt(ids.apply(i))
                    if st.status().toString() == "SKIPPED":
                        continue
                    counts["stages"] += 1
                    counts["tasks"] += st.numTasks()
                    counts["cpu_ms"] += st.executorCpuTime() / 1e6
                    counts["shuffle_read_bytes"] += st.shuffleReadBytes()
                    counts["shuffle_write_bytes"] += st.shuffleWriteBytes()
                    counts["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                    counts["input_bytes"] += st.inputBytes()
                    counts["input_records"] += st.inputRecords()
                    counts["output_bytes"] += st.outputBytes()
                    counts["output_records"] += st.outputRecords()
            s.spark = counts
            s.jobs_s = _union_ms(intervals) / 1000.0

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s.__dict__, default=str) + "\n")


def _union_ms(intervals: list[tuple[int, int]]) -> float:
    total, cur_lo, cur_hi = 0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return float(total)


class Runner:
    """Runs operations in a closed loop and keeps their results."""

    def __init__(self, tracer: Tracer, files_under: str | None = None):
        self.tracer = tracer
        self.results: list[OpResult] = []
        self.files_under = files_under
        self.files_written: dict[int, int] = {}
        self.errors: list[str] = []
        self.warmup: list[OpResult] = []
        self._ids = itertools.count()

    def _data_files(self) -> set[str]:
        return {
            os.path.join(d, f)
            for d, _, names in os.walk(self.files_under)
            for f in names
            if f.endswith(".parquet")
        }

    def run(self, op: Op, cycle: int, record: bool = True) -> bool:
        op_id = next(self._ids)
        tr = self.tracer
        first = len(tr.spans)
        before = self._data_files() if tr.enabled and self.files_under else set()
        ok, out = True, None
        t0 = time.perf_counter()
        try:
            with tr.op(op_id, op.name):
                out = op.fn()
        except Exception:  # noqa: BLE001 - a failed op is counted, not fatal
            ok = False
            self.errors.append(f"{op.name}#{op_id}: {traceback.format_exc()}")
        latency = time.perf_counter() - t0
        if tr.enabled:
            tr.attribute(first)
            if self.files_under:
                self.files_written[op_id] = len(self._data_files() - before)
        if ok and op.check is not None:
            try:
                ok = bool(op.check(out))
                if not ok:
                    self.errors.append(f"{op.name}#{op_id}: wrong output")
            except Exception:  # noqa: BLE001
                ok = False
                self.errors.append(f"{op.name}#{op_id} check: {traceback.format_exc()}")
        res = OpResult(op_id, op.name, op.cls, latency, ok, cycle)
        (self.results if record else self.warmup).append(res)
        return ok

    def loop(
        self,
        make_cycle: Callable[[int], Iterable[Op]],
        seconds: float,
        trace: bool,
        first_cycle: int,
    ) -> None:
        """Whole cycles until ``seconds`` of wall time have passed, so every
        run measures the same mix of operations."""
        start = time.perf_counter()
        cycle = first_cycle
        self.tracer.enabled = trace
        try:
            while True:
                for op in make_cycle(cycle):
                    self.run(op, cycle)
                cycle += 1
                if time.perf_counter() - start >= seconds:
                    return
        finally:
            self.tracer.enabled = False


def summarize(sel: list[OpResult]) -> dict:
    """End-to-end latency and throughput of the timed operations."""
    lat = [r.latency_s for r in sel]
    out = {
        "n_ops": len(sel),
        "ops_per_s": len(sel) / sum(lat) if lat else math.nan,
        "op_p50_s": percentile(lat, 50),
        "op_p90_s": percentile(lat, 90),
    }
    for cls in ("read", "commit"):
        xs = [r.latency_s for r in sel if r.cls == cls]
        out[f"n_{cls}"] = len(xs)
        out[f"{cls}_p50_s"] = percentile(xs, 50)
        out[f"{cls}_p90_s"] = percentile(xs, 90)
    n_failed = sum(1 for r in sel if not r.ok)
    out["failed_op_ratio"] = n_failed / len(sel) if sel else math.nan
    return out


def median_or_zero(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def mean_or_zero(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0
