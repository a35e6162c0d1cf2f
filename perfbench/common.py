"""Shared machinery of the benchmark: the closed-loop driver, latency
statistics, host and process-tree probes, Spark status-store counters
and the span tracer used by traced runs.

Nothing here imports the engine package; workloads import it after
``run.py`` has pointed every scratch path of Spark, the JVM and Python
at the run's work directory.
"""

from __future__ import annotations

import contextlib
import functools
import math
import os
import statistics
import threading
import time
from dataclasses import dataclass, field
from typing import Any, Callable, Iterator, Optional

now = time.perf_counter


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------


def quantile(values: list[float], q: float) -> Optional[float]:
    """Linear-interpolated quantile (``statistics.quantiles`` inclusive
    method); +inf entries (failed operations) sort last.  ``None`` for
    an empty sample."""
    if not values:
        return None
    xs = sorted(values)
    if len(xs) == 1:
        return xs[0]
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    if math.isinf(xs[hi]) or math.isinf(xs[lo]):
        return xs[hi] if pos > lo else xs[lo]
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> Optional[float]:
    return statistics.median(values) if values else None


# ---------------------------------------------------------------------------
# operations and the closed loop
# ---------------------------------------------------------------------------


@dataclass
class Op:
    """One operation of a workload's stream.  ``fn`` runs it and returns
    what the output check needs.  ``ends_round`` marks the last
    operation of a round.  Operations with the same ``slot`` do the same
    kind of work on the same table each time it comes round; throughput
    takes each slot's median time (see ``slot_median_rate``)."""

    kind: str
    fn: Callable[[], Any]
    meta: dict = field(default_factory=dict)
    ends_round: bool = True
    slot: Optional[str] = None


@dataclass
class OpRecord:
    op_id: int
    kind: str
    latency_s: float  # +inf when the operation raised
    output: Any
    meta: dict
    error: Optional[str] = None
    elapsed_s: float = 0.0  # wall time, also when the operation raised
    steal_share: float = 0.0  # of all CPU time while it ran
    slot: Optional[str] = None


# An operation during which the hypervisor stole more than this share of
# the machine's CPU time ran on a disturbed host: steal bursts from
# neighbouring guests slow every operation in them by 20-80%.
STEAL_DISTURBED = 0.05


def slot_median_rate(records: list[OpRecord]) -> Optional[float]:
    """Successful operations per second, with each operation's wall time
    replaced by the median time of its slot over the run.  The median
    is taken over the slot's undisturbed runs (steal share at most
    ``STEAL_DISTURBED``), or is the least disturbed run's time when all
    were disturbed.  A burst of CPU steal then moves neither the rate
    nor the mix of operations it is computed from, as long as each slot
    has an undisturbed run.  Operations without a slot count with their
    own time.  ``None`` for an empty run."""
    by_slot: dict[Any, list[OpRecord]] = {}
    for r in records:
        key = r.slot if r.slot is not None else ("op", r.op_id)
        by_slot.setdefault(key, []).append(r)
    busy_s = 0.0
    for reps in by_slot.values():
        xs = [r.elapsed_s for r in reps if r.steal_share <= STEAL_DISTURBED]
        if not xs:
            xs = [min(reps, key=lambda r: r.steal_share).elapsed_s]
        busy_s += len(reps) * statistics.median(xs)
    ok = sum(r.error is None for r in records)
    return ok / busy_s if busy_s > 0 else None


def _steal_total() -> tuple[int, int]:
    f = _cpu_fields()
    return (f[7] if len(f) > 7 else 0), sum(f)


def closed_loop(
    ops: Iterator[Op], rounds: int, tracer: "Tracer",
    between: Optional[Callable[[Op], None]] = None,
) -> tuple[list[OpRecord], float]:
    """One client, zero think time: the next operation starts when the
    previous one returns.  Runs ``rounds`` whole rounds, so every run of
    a workload does the same work whatever the host's speed.  An
    exception is recorded with the operation kind and the loop goes on.
    Each record carries the share of CPU time stolen while the
    operation ran.  ``between`` runs untimed after each operation (view
    and cache cleanup).  Returns the records and the loop's wall time."""
    records: list[OpRecord] = []
    start = now()
    op_id = 0
    while rounds > 0:
        op = next(ops)
        tracer.op_id = op_id
        steal0, total0 = _steal_total()
        t0 = now()
        out, error = None, None
        try:
            with tracer.span("op." + op.kind):
                out = op.fn()
        except Exception as exc:  # the run must go on: record and count
            error = f"{type(exc).__name__}: {exc}"[:500]
        elapsed = now() - t0
        steal1, total1 = _steal_total()
        share = (steal1 - steal0) / (total1 - total0) if total1 > total0 else 0.0
        rec = OpRecord(op_id, op.kind, math.inf if error else elapsed, out,
                       op.meta, error, elapsed, share, op.slot)
        records.append(rec)
        if between is not None:
            between(op)
        rounds -= op.ends_round
        op_id += 1
    tracer.op_id = None
    return records, now() - start


# ---------------------------------------------------------------------------
# host and process tree
# ---------------------------------------------------------------------------


def _cpu_fields() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


class HostProbe:
    """CPU steal (``/proc/stat`` field 8, all CPUs) and load average
    over an interval, so spread between runs can be attributed."""

    def __init__(self) -> None:
        self._hz = os.sysconf("SC_CLK_TCK")
        self._t0 = _cpu_fields()

    def report(self) -> dict:
        t1 = _cpu_fields()
        steal = (t1[7] - self._t0[7]) if len(t1) > 7 else None
        with open("/proc/loadavg") as fh:
            load1, load5, load15 = (float(x) for x in fh.read().split()[:3])
        return {
            "cpu_steal_s": None if steal is None else steal / self._hz,
            "loadavg_1m": load1,
            "loadavg_5m": load5,
            "loadavg_15m": load15,
            "nproc": os.cpu_count(),
        }


def descendants(root_pid: int) -> list[int]:
    """Every live process below ``root_pid`` (from /proc ppid links)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, stack = [], [root_pid]
    while stack:
        for c in children.get(stack.pop(), []):
            out.append(c)
            stack.append(c)
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


class RssSampler:
    """Peak resident set size of this process and all its descendants
    (the JVM and the Python workers), sampled on a background thread."""

    def __init__(self, interval_s: float = 0.1) -> None:
        self.peak = 0
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        me = os.getpid()
        total = sum(_rss_bytes(p) for p in [me] + descendants(me))
        self.peak = max(self.peak, total)

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self._interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()


# ---------------------------------------------------------------------------
# Spark status store
# ---------------------------------------------------------------------------


class SparkCounters:
    """Job/stage/task counters and executor metrics for the stages that
    ran between ``mark()`` and ``delta()``, read from the application
    status store (what the Spark UI shows)."""

    def __init__(self, spark) -> None:
        self._spark = spark
        self._store = spark._jsc.sc().statusStore()
        self._mark_stage = -1
        self._mark_jobs: set[int] = set()

    def _stages(self):
        q = self._spark.sparkContext._gateway.new_array(
            self._spark._jvm.double, 0
        )
        return self._store.stageList(None, False, False, q, None)

    def _job_ids(self) -> set[int]:
        return set(self._spark.sparkContext.statusTracker().getJobIdsForGroup())

    def mark(self) -> None:
        seq = self._stages()
        self._mark_stage = max(
            [seq.apply(i).stageId() for i in range(seq.size())], default=-1
        )
        self._mark_jobs = self._job_ids()

    def delta(self) -> dict:
        seq = self._stages()
        out = {
            "spark.jobs": len(self._job_ids() - self._mark_jobs),
            "spark.stages": 0,
            "spark.tasks": 0,
            "spark.tasks_failed": 0,
            "spark.shuffle_write_bytes": 0,
            "spark.shuffle_read_bytes": 0,
            "spark.executor_run_s": 0.0,
            "spark.executor_cpu_s": 0.0,
            "spark.jvm_gc_s": 0.0,
        }
        for i in range(seq.size()):
            s = seq.apply(i)
            if s.stageId() <= self._mark_stage:
                continue
            out["spark.stages"] += 1
            out["spark.tasks"] += s.numCompleteTasks() + s.numFailedTasks()
            out["spark.tasks_failed"] += s.numFailedTasks()
            out["spark.shuffle_write_bytes"] += s.shuffleWriteBytes()
            out["spark.shuffle_read_bytes"] += s.shuffleReadBytes()
            out["spark.executor_run_s"] += s.executorRunTime() / 1e3
            out["spark.executor_cpu_s"] += s.executorCpuTime() / 1e9
            out["spark.jvm_gc_s"] += s.jvmGcTime() / 1e3
        return out


# ---------------------------------------------------------------------------
# tracing
# ---------------------------------------------------------------------------

_NULL_SPAN = contextlib.nullcontext()


class Tracer:
    """In-memory spans: (id, parent, name, op id, start, end).  Disabled
    tracers hand out a shared no-op context manager, so untraced runs
    pay one attribute test per span site."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[list] = []
        self.counters: dict[str, float] = {}
        self.op_id: Optional[int] = None
        self._stack: list[int] = []
        # time spent recording spans (the tracer's own overhead)
        self.bookkeeping_s = 0.0

    def count(self, name: str, n: float = 1) -> None:
        self.counters[name] = self.counters.get(name, 0) + n

    @property
    def parent_name(self) -> Optional[str]:
        return self.spans[self._stack[-1]][2] if self._stack else None

    def span(self, name: str):
        if not self.enabled:
            return _NULL_SPAN
        return _Span(self, name)

    def wrap(self, name: str, fn: Callable,
             on_call: Optional[Callable[..., None]] = None) -> Callable:
        """``fn`` timed as span ``name``; ``on_call(tracer, result, *args,
        **kwargs)`` records counters from the call's inputs and result."""

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name):
                result = fn(*args, **kwargs)
            if on_call is not None:
                on_call(self, result, *args, **kwargs)
            return result

        return wrapper

    def patch(self, owner: Any, attr: str, name: str,
              on_call: Optional[Callable[..., None]] = None) -> None:
        """Replace ``owner.attr`` by its traced wrapper (traced runs only;
        the process ends with the run, so patches are never undone)."""
        if self.enabled:
            setattr(owner, attr, self.wrap(name, getattr(owner, attr), on_call))

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the time its direct
        children cover."""
        child_time: dict[int, float] = {}
        for sid, parent, _name, _op, t0, t1 in self.spans:
            if parent is not None and t1 is not None:
                child_time[parent] = child_time.get(parent, 0.0) + (t1 - t0)
        out: dict[str, float] = {}
        for sid, _parent, name, _op, t0, t1 in self.spans:
            if t1 is None:
                continue
            out[name] = out.get(name, 0.0) + (t1 - t0) - child_time.get(sid, 0.0)
        return out

    def totals(self, prefix: str) -> tuple[float, int]:
        """(inclusive seconds, calls) of outermost spans named ``prefix*``
        — nested spans of the same family are not counted twice."""
        total, calls = 0.0, 0
        names = {sid: name for sid, _p, name, *_ in self.spans}
        for sid, parent, name, _op, t0, t1 in self.spans:
            if t1 is None or not name.startswith(prefix):
                continue
            if parent is not None and names[parent].startswith(prefix):
                continue
            total += t1 - t0
            calls += 1
        return total, calls


class _Span:
    __slots__ = ("tracer", "name", "sid")

    def __init__(self, tracer: Tracer, name: str) -> None:
        self.tracer = tracer
        self.name = name

    def __enter__(self):
        t = self.tracer
        b0 = now()
        parent = t._stack[-1] if t._stack else None
        self.sid = len(t.spans)
        t._stack.append(self.sid)
        start = now()
        t.spans.append([self.sid, parent, self.name, t.op_id, start, None])
        t.bookkeeping_s += now() - b0
        return self

    def __exit__(self, *exc):
        t = self.tracer
        end = now()
        t.spans[self.sid][5] = end
        t._stack.pop()
        t.bookkeeping_s += now() - end
        return False
