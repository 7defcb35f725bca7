"""Spans, interval arithmetic, percentiles and Spark status-store reads.

Spans are recorded only around the calls the benchmark makes into the
engine: each has a name, start, end, parent and the id of the operation
it belongs to. They are kept in memory and summarised when the run ends.
Spark jobs and stages are read afterwards from the application status
store and attributed to spans by time window, which is valid because the
benchmark runs one operation at a time; this also catches jobs submitted
from the streaming thread or from overlapped staging threads, which job
groups miss.
"""

from __future__ import annotations

import math
import time
from contextlib import contextmanager
from dataclasses import dataclass


# --- percentiles ------------------------------------------------------------

PERCENTILE_LADDER = (99, 95, 90, 75, 50)


def percentile(samples: list[float], p: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(samples)
    return s[max(0, math.ceil(p / 100 * len(s)) - 1)]


def tail_percentile(samples: list[float], beyond: int = 10
                    ) -> "tuple[int, float] | None":
    """The highest ladder percentile that has at least ``beyond`` samples
    above its rank, with its value; None when there are too few samples
    for even the median."""
    n = len(samples)
    for p in PERCENTILE_LADDER:
        if n - math.ceil(p / 100 * n) >= beyond:
            return p, percentile(samples, p)
    return None


def median(samples: list[float]) -> float:
    s = sorted(samples)
    m = len(s) // 2
    return s[m] if len(s) % 2 else (s[m - 1] + s[m]) / 2


# --- intervals --------------------------------------------------------------

def union_ms(intervals: "list[tuple[float, float]]") -> float:
    """Length of the union of [start, end) intervals — overlapping Spark
    jobs are counted once, so busy time never exceeds wall time."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(iv: "tuple[float, float]", lo: float, hi: float
         ) -> "tuple[float, float]":
    return max(iv[0], lo), min(iv[1], hi)


def busy_ms(spans: "list[Span]", jobs: "list[Job]") -> float:
    """Summed over ``spans``, the union of the Spark job intervals that
    started within each span, clipped to it."""
    return sum(union_ms([clip((j.start_ms, j.end_ms), sp.start_ms, sp.end_ms)
                         for j in jobs if sp.start_ms <= j.start_ms < sp.end_ms])
               for sp in spans)


# --- spans ------------------------------------------------------------------

@dataclass
class Span:
    name: str
    start_ms: float
    end_ms: float = 0.0
    parent: "int | None" = None
    op_id: int = 0
    sid: int = 0

    @property
    def dur_ms(self) -> float:
        return self.end_ms - self.start_ms


def now_ms() -> float:
    return time.time() * 1000.0


class Tracer:
    """In-memory span recorder. A disabled tracer still times the
    outermost op span (the end-to-end sample) but records no children.
    ``own_s`` is the time spent recording the spans only tracing adds:
    the tracer's share of a traced run's loop."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self.own_s = 0.0
        self._stack: list[int] = []
        self._op = 0

    @contextmanager
    def op(self, name: str):
        """One closed-loop operation: the unit the end-to-end latency is
        taken over."""
        self._op += 1
        with self._span(name, force=True) as sp:
            yield sp

    @contextmanager
    def span(self, name: str):
        with self._span(name, force=False) as sp:
            yield sp

    @contextmanager
    def _span(self, name: str, force: bool):
        if not (self.enabled or force):
            yield None
            return
        t0 = time.perf_counter()
        sp = Span(name, now_ms(), parent=self._stack[-1] if self._stack
                  else None, op_id=self._op, sid=len(self.spans))
        self.spans.append(sp)
        self._stack.append(sp.sid)
        t1 = time.perf_counter()
        try:
            yield sp
        finally:
            t2 = time.perf_counter()
            self._stack.pop()
            sp.end_ms = now_ms()
            if not force:
                self.own_s += t1 - t0 + time.perf_counter() - t2

    def children(self, sp: Span) -> list[Span]:
        return [c for c in self.spans if c.parent == sp.sid]


def self_ms(sp: Span, children: list[Span]) -> float:
    """A span's duration minus the part of it its children cover."""
    covered = union_ms([clip((c.start_ms, c.end_ms), sp.start_ms, sp.end_ms)
                        for c in children])
    return sp.dur_ms - covered


# --- Spark status store -----------------------------------------------------

@dataclass
class Job:
    job_id: int
    start_ms: float
    end_ms: float
    stage_ids: list[int]
    tasks: int


@dataclass
class Stage:
    stage_id: int
    tasks: int
    run_ms: float
    cpu_ms: float
    gc_ms: float
    input_bytes: int
    shuffle_read: int
    shuffle_write: int
    spill: int
    skew: float


def _opt_ms(opt) -> "float | None":
    return float(opt.get().getTime()) if opt.isDefined() else None


def wait_listener_bus(spark, timeout_ms: int = 10_000) -> None:
    """Let the async listener bus deliver every queued event, so the status
    store holds all jobs of the run."""
    try:
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(timeout_ms)
    except Exception:  # noqa: BLE001 - best effort on other Spark builds
        time.sleep(1.0)


def _as_list(spark, scala_seq) -> list:
    conv = spark.sparkContext._jvm.scala.jdk.javaapi.CollectionConverters
    return list(conv.asJava(scala_seq))


def _doubles(spark, values: "list[float]"):
    sc = spark.sparkContext
    arr = sc._gateway.new_array(sc._jvm.double, len(values))
    for i, v in enumerate(values):
        arr[i] = v
    return arr


def read_jobs(spark, since_ms: float) -> list[Job]:
    store = spark.sparkContext._jsc.sc().statusStore()
    jobs = []
    for jd in _as_list(spark, store.jobsList(None)):
        sub, com = _opt_ms(jd.submissionTime()), _opt_ms(jd.completionTime())
        if sub is None or com is None or sub < since_ms:
            continue
        jobs.append(Job(jd.jobId(), sub, com,
                        [int(s) for s in _as_list(spark, jd.stageIds())],
                        jd.numTasks()))
    return jobs


def read_stages(spark, stage_ids: "set[int]") -> dict[int, Stage]:
    """Completed-stage metrics for the given ids (latest attempt)."""
    store = spark.sparkContext._jsc.sc().statusStore()
    out: dict[int, Stage] = {}
    no_q, med_max = _doubles(spark, []), _doubles(spark, [0.5, 1.0])
    for sd in _as_list(spark, store.stageList(None, False, False, no_q,
                                              None)):
        sid = sd.stageId()
        if sid not in stage_ids or sid in out:
            continue
        skew = 1.0
        try:
            dist = store.taskSummary(sid, sd.attemptId(), med_max)
            if dist.isDefined():
                q = dist.get().executorRunTime()
                med, mx = float(q.apply(0)), float(q.apply(1))
                skew = mx / med if med > 0 else 1.0
        except Exception:  # noqa: BLE001 - summary is optional
            pass
        out[sid] = Stage(
            sid, sd.numCompleteTasks(), float(sd.executorRunTime()),
            sd.executorCpuTime() / 1e6, float(sd.jvmGcTime()),
            int(sd.inputBytes()), int(sd.shuffleReadBytes()),
            int(sd.shuffleWriteBytes()),
            int(sd.memoryBytesSpilled()) + int(sd.diskBytesSpilled()), skew)
    return out
