"""Benchmark harness: run every registered query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) and print ONE JSON line.

Execution uses the noop sink so the full physical plan runs (scan -> shuffle ->
agg) without driver-side collection cost dominating the measurement.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

REPO = str(Path(__file__).resolve().parent)
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from insight_de_smart_grid_spark.session import (  # noqa: E402
    default_parallelism,
    get_spark,
)
from insight_de_smart_grid_spark.plans.registry import QUERIES  # noqa: E402
from insight_de_smart_grid_spark.operators.staging import (  # noqa: E402
    checkpoint_scope,
    pinned_rdd_ids,
)


def run_query(spark, name: str, sf_dir: str) -> None:
    """One fully-consumed noop execution inside a checkpoint_scope: the
    localCheckpoint blocks a staging operator pins and the scratch dirs a
    replay or index query creates are released as soon as the query's
    sink finishes, so the loop over every registered query holds at most
    one query's leftovers at a time and leaves none behind
    (operators/staging.py lifecycle contract)."""
    with checkpoint_scope(spark):
        QUERIES[name].fn(spark, sf_dir).write.mode("overwrite").format(
            "noop").save()


def is_regression(now: float, baseline: float) -> bool:
    """>1.5x the frozen median AND >0.3 s absolute — the absolute floor
    absorbs run-to-run noise on sub-100 ms queries."""
    return (baseline > 0 and now > 0
            and now > 1.5 * baseline and now - baseline > 0.3)


def is_ingest_regression(now_rate: float, base_rate: float) -> bool:
    """Ingest throughput gate (round-7 advisory): a >1.5x DROP in
    rows/sec vs the frozen baseline. Same shape as the query gate but
    inverted — lower is worse for a rate."""
    return base_rate > 0 and now_rate > 0 and now_rate * 1.5 < base_rate


def gate_baseline(base_doc: dict, out: dict) -> dict:
    """``base_doc`` when it was frozen at this run's scale factor and core
    count, else ``{}`` with a note on stderr. The frozen medians are
    per-(sf, cpus) facts: an sf0.01 run against sf0.1 medians flags noise
    (streaming replays have scale-independent overhead), and a 4-core run
    against ``local[32]`` medians flags the core count."""
    for key in ("sf", "cpus"):
        if base_doc.get(key) != out.get(key):
            print(f"bench: baseline frozen at {key}={base_doc.get(key)}, "
                  f"run is {key}={out.get(key)} — regression gate skipped",
                  file=sys.stderr)
            return {}
    return base_doc


def round_number(repo: str) -> int:
    """Current build round. ``SPARK_GRAFT_ROUND`` overrides; otherwise
    prefer the round of a CORRECTNESS file written in THIS session — the
    driver runs correctness before bench, so when the newest
    CORRECTNESS_r{N}.json postdates the newest BENCH_r{M}.json, this bench
    run belongs to round N (round-8 fix: the old max+1 rule numbered the
    driver's round-7 snapshot r08). With no fresher correctness artifact
    (the builder's own in-round runs), it is one past the highest
    committed CORRECTNESS/BENCH round."""
    env = os.environ.get("SPARK_GRAFT_ROUND")
    if env and env.isdigit():
        return int(env)
    import re

    def highest(prefix: str) -> int:
        best = 0
        for p in Path(repo).glob(f"{prefix}_r[0-9]*.json"):
            m = re.match(rf"{prefix}_r(\d+)\.json$", p.name)
            if m:
                best = max(best, int(m.group(1)))
        return best

    corr, bench = highest("CORRECTNESS"), highest("BENCH")
    # CORRECTNESS ahead of BENCH = the driver wrote this round's
    # correctness artifact earlier in the same session; this bench run is
    # the same round. Equal highs = a builder session inside the next round.
    if corr > bench:
        return corr
    return max(corr, bench) + 1


def previous_round_tip(repo: str) -> "str | None":
    """Commit hash of the previous round's tip: the commit that last
    touched the highest BENCH_r{N}.json *with committed history*. In a
    driver session the driver writes this round's BENCH_r{N}.json BEFORE
    the round-boundary commit, so the newest artifact on disk is
    untracked and ``git log -- <it>`` is empty (the round-8 bug: that
    empty answer was returned as None instead of falling back to the
    newest COMMITTED artifact). Walk the artifacts newest-first and
    return the first one git knows about. None in a repo with no
    committed bench artifact or no git history."""
    import re
    import subprocess

    rounds = []
    for p in Path(repo).glob("BENCH_r[0-9]*.json"):
        m = re.match(r"BENCH_r(\d+)\.json$", p.name)
        if m:
            rounds.append((int(m.group(1)), p.name))
    for _, name in sorted(rounds, reverse=True):
        try:
            out = subprocess.run(
                ["git", "log", "-n", "1", "--format=%H", "--", name],
                cwd=repo, capture_output=True, text=True, timeout=30)
        except Exception:
            return None
        tip = out.stdout.strip()
        if tip:
            return tip
    return None


def ab_verdict(prev_time: "float | None", baseline: float,
               cur_time: "float | None" = None) -> str:
    """Attribute a confirmed regression by how the PREVIOUS tip measures
    right now on the same host: if the old code is just as slow against
    the frozen baseline, the slowdown travels with the machine
    (host_drift); if the old code still hits its baseline, the slowdown
    travels with the code (code_regression). No measurement -> the flag
    stands unattributed rather than guessed.

    ``cur_time`` (round-9): the CURRENT tree's median from the SAME
    interleaved window as ``prev_time``. Host drift oscillating on
    ~tens-of-minutes timescales can make the prev tree read fast in a
    window minutes after the flag fired (the round-8 star_stats_agg
    misattribution, SCALE.md "Bench-drift note") — so code_regression
    additionally requires the current tree to still be slow in that same
    window, AND meaningfully slower than the prev tree measured beside
    it (uniform ~1.4x drift can park prev at 1.3x-over-baseline — just
    under the gate — while cur reads 1.6x: both trees moved together,
    that's the host; the round-9 full-bench triage reproduced exactly
    this on three untouched queries). The tree-to-tree gap uses the same
    dual ratio+absolute shape as is_regression, scaled down (the two
    medians come from one interleaved window, so the noise band is
    tighter than cross-session)."""
    if prev_time is None or prev_time <= 0:
        return "unattributed"
    if is_regression(prev_time, baseline):
        return "host_drift"
    if cur_time is not None and cur_time > 0:
        if not is_regression(cur_time, baseline):
            return "host_drift"
        if not (cur_time > 1.3 * prev_time
                and cur_time - prev_time > 0.2):
            return "host_drift"
    return "code_regression"


def interleaved_measure(names: list, prev_once, cur_once,
                        rounds: int = 3) -> dict:
    """Per-tree medians from STRICTLY interleaved single runs: for each
    name, alternate prev, cur, prev, cur ... so both trees sample the
    same host-load window and oscillating drift cannot flip the verdict.
    ``prev_once(name) -> float | None`` (None = old tree can't run it),
    ``cur_once(name) -> float``. Streaming replays run one pair (each
    invocation replays full state). Returns
    ``{name: {"prev": median | None, "cur": median}}``."""
    out = {}
    for name in names:
        reps = 1 if name.startswith("streaming_") else rounds
        prev_runs, cur_runs = [], []
        for _ in range(reps):
            p = prev_once(name)
            if p is not None and p > 0:
                prev_runs.append(p)
            try:
                cur_runs.append(cur_once(name))
            except Exception as exc:
                print(f"ab: {name} failed on current tree: {exc}",
                      file=sys.stderr)
        out[name] = {
            "prev": (round(sorted(prev_runs)[len(prev_runs) // 2], 3)
                     if prev_runs else None),
            "cur": (round(sorted(cur_runs)[len(cur_runs) // 2], 3)
                    if cur_runs else None),
        }
    return out


_AB_WORKER_CODE = r"""
import sys, time
wt, sf_dir = sys.argv[1], sys.argv[2]
sys.path.insert(0, wt)
from insight_de_smart_grid_spark.session import get_spark
from bench import run_query
from insight_de_smart_grid_spark.plans.registry import QUERIES
spark = get_spark(app_name="bench_ab")
print("AB_READY", flush=True)
warmed = set()
for line in sys.stdin:
    name = line.strip()
    if not name or name == "EXIT":
        break
    if name not in QUERIES:
        print("AB_SKIP " + name, flush=True)
        continue
    try:
        if name not in warmed and not name.startswith("streaming_"):
            run_query(spark, name, sf_dir)
            warmed.add(name)
        t0 = time.perf_counter()
        run_query(spark, name, sf_dir)
        print("AB_T %s %.6f" % (name, time.perf_counter() - t0), flush=True)
    except Exception as exc:
        print("AB_ERR %s %s" % (name, exc), flush=True)
spark.stop()
"""


class _PrevTipWorker:
    """Long-lived subprocess running the previous tip's own bench loop in
    its worktree; the parent requests ONE timed run per line, which is
    what lets prev/cur runs interleave in the same window instead of the
    round-8 shape (all prev runs in one block minutes after the flag)."""

    def __init__(self, worktree: str, sf_dir: str, timeout: float = 600):
        import queue
        import subprocess
        import sys as _sys
        import threading

        self.timeout = timeout
        self.proc = subprocess.Popen(
            [_sys.executable, "-c", _AB_WORKER_CODE, worktree, sf_dir],
            cwd=worktree, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
            stderr=subprocess.DEVNULL, text=True)
        # reader thread + queue so every read carries the deadline: a hung
        # prev-tip query (the degraded-host scenario the A/B runs under)
        # returns None after `timeout` instead of stalling the whole bench
        # on a blocking readline (ADVICE r9)
        self._lines: "queue.Queue[str]" = queue.Queue()
        t = threading.Thread(
            target=lambda: ([self._lines.put(ln)
                             for ln in iter(self.proc.stdout.readline, "")],
                            self._lines.put("")),
            daemon=True)
        t.start()
        if self._read_until("AB_READY") is None:
            raise RuntimeError("ab worker failed to start")

    def _readline(self) -> "str | None":
        import queue

        try:
            line = self._lines.get(timeout=self.timeout)
        except queue.Empty:
            self.proc.kill()    # wedged worker: dead, not load-bearing
            return None
        return line or None     # "" = EOF sentinel from the reader thread

    def _read_until(self, prefix: str) -> "str | None":
        while True:
            line = self._readline()
            if line is None:
                return None
            if line.startswith(prefix):
                return line.strip()

    def measure_once(self, name: str) -> "float | None":
        try:
            self.proc.stdin.write(name + "\n")
            self.proc.stdin.flush()
        except Exception:
            return None
        while True:
            line = self._readline()
            if line is None:
                return None
            if line.startswith(f"AB_T {name} "):
                return float(line.split()[2])
            if line.startswith(("AB_SKIP", "AB_ERR")):
                return None

    def close(self) -> None:
        try:
            self.proc.stdin.write("EXIT\n")
            self.proc.stdin.flush()
        except Exception:
            pass
        try:
            self.proc.wait(timeout=120)
        except Exception:
            self.proc.kill()


def crosstree_interleaved(repo: str, commit: "str | None", names: list,
                          sf_dir: str, cur_once, rounds: int = 3) -> dict:
    """Measure ``names`` on ``commit`` in a throwaway ``git worktree``
    (removed even when measuring raises), alternating run-by-run with the
    current tree in the same window (round-9: the star_stats_agg lesson;
    the automated form of the round-7 text_winnow_fingerprint triage in
    SCALE.md). A None/empty commit never reaches ``git worktree add``
    (round-8 TypeError). Returns
    ``{name: {"prev": sec | None, "cur": sec | None}}``; empty dict when
    there is no commit to measure against."""
    import subprocess
    import tempfile

    if not commit:
        print("ab: no previous-tip commit to measure against",
              file=sys.stderr)
        return {}
    wt = tempfile.mkdtemp(prefix="bench_ab_")
    try:
        subprocess.run(["git", "worktree", "add", "--detach", "--force",
                        wt, commit], cwd=repo, check=True,
                       capture_output=True, timeout=120)
        worker = _PrevTipWorker(wt, sf_dir)
        try:
            return interleaved_measure(names, worker.measure_once,
                                       cur_once, rounds=rounds)
        finally:
            worker.close()
    finally:
        subprocess.run(["git", "worktree", "remove", "--force", wt],
                       cwd=repo, capture_output=True, timeout=120)


def confirmed_regressions(timings: dict, base: dict, remeasure) -> dict:
    """Flags from the first pass, kept only if a fresh measurement minutes
    later still crosses the line. A transient allocator/GC stall can push
    all three medians of a sub-second query over at once; a genuine plan or
    code regression reproduces. ``remeasure(name) -> float`` re-times one
    query (raising keeps the flag — can't re-measure means can't clear)."""
    confirmed = {}
    for name, t in sorted(timings.items()):
        b = base.get(name, 0)
        if not is_regression(t, b):
            continue
        try:
            t2 = remeasure(name)
        except Exception:
            confirmed[name] = {"now": t, "baseline": b}
            continue
        if is_regression(t2, b):
            confirmed[name] = {"now": t2, "baseline": b}
        else:
            print(f"bench: flag on {name} did not reproduce "
                  f"({t}s -> {t2}s vs baseline {b}s) — transient",
                  file=sys.stderr)
    return confirmed


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark(app_name="bench")

    # steady-state warmup: spin up executors/codegen and touch every table's
    # footer so the first timed query doesn't absorb JVM startup
    from insight_de_smart_grid_spark.sources.tables import TABLES, load_table
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    n_events = 0
    for t in TABLES:
        try:
            n = load_table(spark, sf_dir, t).count()
            if t == "events":
                n_events = n
        except Exception:
            pass

    # Steady-state methodology: one untimed warmup run per query (absorbs
    # whole-stage-codegen compilation, plan analysis, and Python worker
    # spin-up — one-time costs a long-lived cluster never re-pays), then one
    # measured run. Streaming queries skip the warmup (each invocation is a
    # full stateful replay; there is no compile-once steady state to expose).
    timings: dict[str, float] = {}
    failed: set[str] = set()
    pins_before = pinned_rdd_ids(spark)
    for name, q in QUERIES.items():
        if name.startswith("streaming_"):
            continue
        try:
            run_query(spark, name, sf_dir)
        except Exception as exc:
            failed.add(name)
            print(f"bench: {name} failed in warmup: {exc}", file=sys.stderr)
    # lifecycle check: the scoped loop must not leak pinned blocks — a
    # staging operator whose blocks survive its scope would accumulate
    # across the whole query loop and distort every later timing
    leaked = pinned_rdd_ids(spark) - pins_before
    if leaked:
        print(f"bench: WARNING {len(leaked)} RDDs stayed pinned after the "
              f"warmup loop: {sorted(leaked)}", file=sys.stderr)
    # Batch queries: median of 3 measured runs (GC pauses and JIT
    # recompilation make single runs noisy at these latencies). Streaming
    # replays: one run — each invocation replays full state, so repeats cost
    # far more than the noise they remove.
    for name, q in QUERIES.items():
        if name in failed:
            timings[name] = -1.0
            continue
        reps = 1 if name.startswith("streaming_") else 3
        runs = []
        try:
            for _ in range(reps):
                t0 = time.perf_counter()
                run_query(spark, name, sf_dir)
                runs.append(time.perf_counter() - t0)
            timings[name] = round(sorted(runs)[len(runs) // 2], 3)
        except Exception as exc:  # keep the bench line parseable on failure
            timings[name] = -1.0
            print(f"bench: {name} failed: {exc}", file=sys.stderr)

    total = round(sum(t for t in timings.values() if t >= 0), 3)
    flagship = timings.get("duty_cycle_10m", 0)
    out = {
        "metric": "total_query_wall_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "cpus": default_parallelism(),
        # embedded so a snapshot is self-identifying even if the filename
        # inference and the driver's artifact numbering ever disagree
        "round": round_number(REPO),
    }
    if n_events and flagship > 0:
        # reference baseline headline is >=100k msg/s sustained ingest
        # (README.md:27); flagship duty-cycle rows/sec is the comparable
        out["ingest_rows_per_sec"] = int(n_events / flagship)
    # the resolved driver heap varies with host load (MemAvailable cap,
    # session.default_driver_mem) — log it so a regression triage can see
    # whether a slow round ran under a smaller heap than the frozen medians
    try:
        out["driver_mem"] = spark.sparkContext.getConf().get(
            "spark.driver.memory", "unset")
    except Exception:
        out["driver_mem"] = "unknown"

    # Round-over-round regression tracking against the frozen per-query
    # baseline (BENCH_BASELINE.json = round-1 medians). Regression = >1.5x
    # the baseline median AND >0.3 s absolute (absorbs noise on sub-100 ms
    # queries). Reported on stderr + in the JSON; the stdout contract stays
    # one line.
    base_path = Path(REPO) / "BENCH_BASELINE.json"
    if base_path.exists():
        base_doc = gate_baseline(json.loads(base_path.read_text()), out)
        base = base_doc.get("queries", {})

        def remeasure(name: str) -> float:
            # same methodology as the first pass (median of 3; streaming
            # replays once); first-pass timings stay in `queries` untouched
            runs = []
            for _ in range(1 if name.startswith("streaming_") else 3):
                t0 = time.perf_counter()
                run_query(spark, name, sf_dir)
                runs.append(time.perf_counter() - t0)
            return round(sorted(runs)[len(runs) // 2], 3)

        regressions = confirmed_regressions(timings, base, remeasure)
        if regressions:
            # round-8/9: automated cross-tree A/B — a flag that survives
            # the in-session confirm is re-measured on the PREVIOUS round's
            # tip in a throwaway worktree, with prev/cur runs INTERLEAVED
            # in the same window (round-9: oscillating host drift flipped
            # the round-8 star_stats_agg verdict when the prev block ran
            # minutes after the flag), and attributed code_regression vs
            # host_drift (the manual SCALE.md:503 triage, folded in)
            def cur_once(name: str) -> float:
                t0 = time.perf_counter()
                run_query(spark, name, sf_dir)
                return time.perf_counter() - t0

            ab = {}
            try:
                prev = previous_round_tip(REPO)
                ab = crosstree_interleaved(
                    REPO, prev, sorted(regressions), sf_dir, cur_once)
                if prev:
                    out["ab_prev_tip"] = prev
            except Exception as exc:
                print(f"bench: cross-tree A/B failed: {exc}",
                      file=sys.stderr)
            for name, r in regressions.items():
                m = ab.get(name, {})
                r["prev_tip_sec"] = m.get("prev")
                r["same_window_cur_sec"] = m.get("cur")
                r["verdict"] = ab_verdict(m.get("prev"), r["baseline"],
                                          cur_time=m.get("cur"))
            out["regressions"] = regressions
            for name, r in sorted(regressions.items()):
                print(f"bench: REGRESSION {name}: {r['now']}s vs baseline "
                      f"{r['baseline']}s -> {r['verdict']}"
                      f" (same window: prev tip {r['prev_tip_sec']}s, "
                      f"cur {r['same_window_cur_sec']}s)", file=sys.stderr)
        # ingest gate (round-7 advisory): same drop-with-in-session-confirm
        # logic as the query gate, against the frozen rows/sec headline. The
        # rate is n_events / flagship-median, so the confirm pass is one
        # fresh flagship re-measure minutes after the first.
        base_rate = base_doc.get("ingest_rows_per_sec", 0)
        now_rate = out.get("ingest_rows_per_sec", 0)
        if is_ingest_regression(now_rate, base_rate):
            try:
                rate2 = int(n_events / remeasure("duty_cycle_10m"))
            except Exception:
                rate2 = now_rate
            if is_ingest_regression(rate2, base_rate):
                out["ingest_regression"] = {"now": rate2,
                                            "baseline": base_rate}
                print(f"bench: INGEST REGRESSION {rate2} rows/s vs "
                      f"baseline {base_rate}", file=sys.stderr)
            else:
                print(f"bench: ingest flag did not reproduce ({now_rate} "
                      f"-> {rate2} rows/s vs baseline {base_rate}) — "
                      "transient", file=sys.stderr)

    # full per-round snapshot (round-7 advisory): the driver's BENCH_r{N}
    # artifact keeps only a 2,000-char stdout tail, losing most per-query
    # timings; this committed file preserves the complete measurement.
    try:
        full = Path(REPO) / f"BENCH_FULL_r{out['round']:02d}.json"
        full.write_text(json.dumps(out, indent=1, sort_keys=True) + "\n")
    except OSError as exc:
        print(f"bench: could not write full snapshot: {exc}",
              file=sys.stderr)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
