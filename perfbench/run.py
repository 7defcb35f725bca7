"""Benchmark entry point.

    python3 perfbench/run.py --workload grid --seed 1 --seconds 10 --trace 0

Runs one closed-loop workload (``grid`` or ``corpus``, or one of their
parts ``dashboard``, ``stream``, ``curate`` and ``index``; see
``workloads.py``) against the engine package in the directory it is
started from, in a fresh session, then checks every result against its
twin. The last line of standard output is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
A ``{"run": ...}`` line before it records the run's ``cpus``, Spark
version, seed, driver heap, set-up phases and the figures that are
reported but not gated; a traced run also prints its spans. Everything
the run writes lives under ``.perfbench_runs/`` in the working directory
and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import numpy as np  # noqa: E402

import checks  # noqa: E402
import spans as tr  # noqa: E402
from layers import summarize_layers, unit  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

END_TO_END = {"setup_s": "s", "cpu_ms_per_op": "ms"}
DRIVER_MEM = "2g"  # pinned: the engine's default samples MemAvailable


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(root, f)).st_size
            except OSError:
                pass
    return total


def _stat(pid) -> "list[str]":
    with open(f"/proc/{pid}/stat") as f:
        return f.read().rsplit(")", 1)[1].split()


def _cpu_s(pid) -> float:
    """User plus system CPU seconds of a process (all threads) or, given
    ``pid/task/tid``, of one thread."""
    fields = _stat(pid)
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def _children_cpu_s(pid: int) -> float:
    """CPU seconds of every process descended from ``pid`` (the PySpark
    worker daemon and its workers), with the children they reaped."""
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                parent[int(d)] = int(_stat(d)[1])
            except OSError:
                pass
    total = 0
    for p in parent:
        q = parent[p]
        while q > 1 and q != pid:
            q = parent.get(q, 0)
        if q == pid:
            try:
                total += sum(int(x) for x in _stat(p)[11:15])
            except OSError:
                pass
    return total / os.sysconf("SC_CLK_TCK")


def _loop_cpu_s(jvm_pid: int) -> "tuple[float, float]":
    """(CPU seconds so far of the client, the driver JVM without its JIT
    compiler threads and the JVM's child processes; of the JIT threads)."""
    jit = _jit_cpu_s(jvm_pid)
    return (_cpu_s(os.getpid()) + _cpu_s(jvm_pid) - jit
            + _children_cpu_s(jvm_pid), jit)


def _jit_cpu_s(pid: int) -> float:
    """CPU seconds of the JVM's JIT compiler threads still alive."""
    total = 0.0
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                if "Compiler" not in f.read():
                    continue
            total += _cpu_s(f"{pid}/task/{tid}")
        except OSError:
            pass
    return total


def _hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


class Run:
    """State of one benchmark run: the session, the inputs, the samples
    and the results waiting for their checks."""

    def __init__(self, workload, seed: int, trace: bool, root: str) -> None:
        self.workload = workload
        self.seed = seed
        self.trace = trace
        self.root = root
        self.tmp = os.path.join(root, "tmp")
        self.rng = np.random.default_rng([seed, 1])
        self.tracer = tr.Tracer(trace)
        self.spark = None
        self.data_dir = ""
        self.client_ms = 0.0
        self.attempted = 0
        self.failed = 0
        self.samples: dict[str, list[float]] = {}
        self.expectations: list = []
        self.recalls: list = []
        self.counts: dict[str, float] = {}
        self.progress: list = []
        self.errors: list[str] = []

    # -- called by workloads -------------------------------------------------

    def op(self, name: str, fn):
        """Run one closed-loop operation; an exception counts as failed."""
        self.attempted += 1
        out = None
        with self.tracer.op(name) as sp:
            try:
                out = fn()
            except Exception:  # noqa: BLE001 - every failure is counted
                self.failed += 1
                self.errors.append(f"{name}: {traceback.format_exc()}")
        self.client_ms += sp.dur_ms
        self.samples.setdefault(name, []).append(sp.dur_ms)
        return out

    def expect(self, name: str, out, sql: str) -> None:
        """Keep a result for the checks: ``(cols, rows)``, or a callable
        that reads them after the timed loop."""
        if out is not None:
            self.expectations.append((name, out, sql))

    def expect_recall(self, name: str, out, exact) -> None:
        """Keep a probe's top-k for the recall check; ``exact()`` gives
        the exact top-k of each query."""
        if out is not None:
            self.recalls.append((name, out, exact))

    def count(self, name: str, value: float) -> None:
        self.counts[name] = max(self.counts.get(name, 0), value)

    def own_dir(self, name: str) -> str:
        return tempfile.mkdtemp(prefix=f"{name}_",
                                dir=os.path.join(self.root, "own"))

    # -- set-up --------------------------------------------------------------

    def setup(self) -> "dict[str, float]":
        """Generate the inputs, then set the program up: start the session
        and prepare (index builds). Returns each phase's seconds;
        ``setup_s`` is the program's part, everything but the inputs."""
        from insight_de_smart_grid_spark.session import get_spark

        t0 = time.perf_counter()
        self.data_dir = tempfile.mkdtemp(
            prefix="data_", dir=os.path.join(self.root, "own"))
        self.workload.inputs(self.seed, self.data_dir)
        t1 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench")
        t2 = time.perf_counter()
        self.workload.prepare(self)
        t3 = time.perf_counter()
        return {"inputs_s": t1 - t0, "session_s": t2 - t1,
                "prepare_s": t3 - t2, "setup_s": t3 - t1}

    # -- checks --------------------------------------------------------------

    def check(self) -> int:
        """Compare every kept result with its twin; returns mismatches."""
        bad = 0
        if self.expectations:
            con = checks.connect(self.data_dir)
            want: dict[str, tuple] = {}
            for name, out, sql in self.expectations:
                try:
                    cols, rows = out() if callable(out) else out
                    if sql not in want:
                        res = con.execute(sql)
                        want[sql] = checks.canon(
                            [d[0] for d in res.description], res.fetchall())
                    ok = checks.same(checks.canon(cols, rows), want[sql])
                except Exception:  # noqa: BLE001 - counts against the op
                    ok = False
                    self.errors.append(f"{name}: {traceback.format_exc()}")
                if not ok:
                    bad += 1
                    self.errors.append(f"{name}: result differs from oracle")
            con.close()
        recalls = []
        for name, (cols, rows), exact_topk in self.recalls:
            exact = exact_topk()
            qi, vi = cols.index("query_id"), cols.index("vec_id")
            got: dict[int, set[int]] = {}
            for r in rows:
                got.setdefault(int(r[qi]), set()).add(int(r[vi]))
            rec = checks.recall_at_k(got, exact)
            recalls.append(rec)
            if rec < 0.5:
                bad += 1
                self.errors.append(f"{name}: recall@10 {rec:.2f} < 0.5")
        if recalls:
            self.counts["index.recall_at_10"] = float(np.mean(recalls))
        return bad


def span_records(tracer: "tr.Tracer", origin_ms: float) -> "list[dict]":
    """The traced spans, times relative to the loop start, each with its
    self time."""
    return [{"name": sp.name, "op": sp.op_id, "id": sp.sid,
             "parent": sp.parent, "start_ms": sp.start_ms - origin_ms,
             "dur_ms": sp.dur_ms,
             "self_ms": tr.self_ms(sp, tracer.children(sp))}
            for sp in tracer.spans]


def rounds(workload, seconds: float) -> int:
    """Rounds that fill ``seconds`` at the workload's nominal round time.
    The loop runs whole rounds, so every run has the same mix of
    operation kinds."""
    return max(1, int(seconds // workload.round_s))


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _pin_environment(root: str) -> None:
    """Everything the JVM and the engine write goes under ``root``; the
    heap and core count are pinned so runs are comparable."""
    for d in ("tmp", "own", "spark-local", "jvm-tmp"):
        os.makedirs(os.path.join(root, d), exist_ok=True)
    cpus = os.cpu_count() or 1
    try:
        cpus = len(os.sched_getaffinity(0))
    except AttributeError:
        pass
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(root, "spark-local")
    os.environ["TMPDIR"] = os.path.join(root, "tmp")
    tempfile.tempdir = os.path.join(root, "tmp")
    # both the launcher and the driver JVM: temp files under root, no
    # hsperfdata in the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = (
        "-XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads "
        f"-Djava.io.tmpdir={os.path.join(root, 'jvm-tmp')}")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.sql.warehouse.dir={os.path.join(root, 'warehouse')} "
        "pyspark-shell")


def _stop(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:  # noqa: BLE001
            pass
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv=None) -> int:
    args = _parse(argv)
    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    # the engine package must come from the working directory
    sys.path.insert(0, os.getcwd())
    import insight_de_smart_grid_spark  # noqa: F401
    import pyspark
    from pyspark import SparkContext

    root = os.path.abspath(os.path.join(
        ".perfbench_runs", f"{args.workload}-{args.seed}-{os.getpid()}"))
    _pin_environment(root)

    workload = WORKLOADS[args.workload]()
    run = Run(workload, args.seed, bool(args.trace), root)
    try:
        phases = run.setup()
        jvm_pid = SparkContext._gateway.proc.pid
        loop_start_ms = tr.now_ms()
        cpu0, jit0 = _loop_cpu_s(jvm_pid)
        t0 = time.perf_counter()
        for _ in range(rounds(workload, args.seconds)):
            workload.round(run)
        loop_s = time.perf_counter() - t0
        cpu_s, jit_s = (b - a for a, b in zip((cpu0, jit0),
                                              _loop_cpu_s(jvm_pid)))
        tr.wait_listener_bus(run.spark)
        busy_ms = tr.busy_ms(
            [s for s in run.tracer.spans if s.parent is None],
            tr.read_jobs(run.spark, loop_start_ms))
        t1 = time.perf_counter()
        run.failed += run.check()
        layers = summarize_layers(run, loop_start_ms) if run.trace else {}
        rss = _hwm_mb(os.getpid()) + _hwm_mb(jvm_pid)
        t2 = time.perf_counter()
        _stop(run.spark)
        run.spark = None
        phases.update(check_s=t2 - t1, stop_s=time.perf_counter() - t2)
        shutil.rmtree(os.path.join(root, "own"), ignore_errors=True)
        tmp_left_mb = _dir_bytes(run.tmp) / 2**20
    finally:
        if run.spark is not None:
            _stop(run.spark)
        shutil.rmtree(root, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(root))
        except OSError:
            pass
    for e in run.errors:
        print(e, file=sys.stderr)
    print(", ".join(f"{k} {v:.1f}" for k, v in phases.items())
          + f", loop_s {loop_s:.1f}", file=sys.stderr)
    for name, v in sorted(run.samples.items()):
        print(f"{name}: {[round(x) for x in v]} ms", file=sys.stderr)

    ops = [v for vs in run.samples.values() for v in vs]
    n = len(ops)
    if args.trace:
        metrics = dict(layers)
        metrics.update({
            "tmp_left_mb": tmp_left_mb,
            "peak_rss_mb": rss,
            "op.p50_ms": tr.median(ops),
            "op.per_s": n / (run.client_ms / 1000),
            "setup.session_s": phases["session_s"],
            "setup.prepare_s": phases["prepare_s"],
            "trace.overhead_ms": 1000 * run.tracer.own_s / n,
            "trace.overhead_pct": 100 * 1000 * run.tracer.own_s
            / run.client_ms,
        })
        metrics = {k: {"value": float(v), "unit": unit(k)}
                   for k, v in sorted(metrics.items())}
    else:
        metrics = {
            "setup_s": {"value": phases["setup_s"], "unit": "s"},
            "cpu_ms_per_op": {"value": 1000 * cpu_s / n, "unit": "ms"},
        }
    info = {"workload": args.workload, "seed": args.seed,
            "trace": args.trace,
            "cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
            "spark": pyspark.__version__, "driver_mem": DRIVER_MEM,
            "samples": n, "loop_s": loop_s, **phases,
            # for reading, not gated (see README.md)
            "op_p50_ms": tr.median(ops),
            "ops_per_s": n / (run.client_ms / 1000),
            "wall_ms_per_op": run.client_ms / n,
            "cpu_ms_per_op": 1000 * cpu_s / n,
            "jit_cpu_ms_per_op": 1000 * jit_s / n,
            "busy_ms_per_op": busy_ms / n,
            "tmp_left_mb": tmp_left_mb, "peak_rss_mb": rss}
    print(json.dumps({"run": info}))
    if args.trace:
        print(json.dumps({"spans": span_records(run.tracer, loop_start_ms)}))
    print(json.dumps({"correct": run.failed == 0,
                      "attempted": max(run.attempted, 1),
                      "failed": run.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
