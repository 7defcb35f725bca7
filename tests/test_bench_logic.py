"""Unit tests for bench.py's regression detection — pure logic, no Spark.

The confirm pass is the part worth pinning: a first-pass flag must be
re-measured before it is reported, a reproducing flag keeps the *fresh*
timing, a transient one is dropped, and a re-measure failure keeps the
original flag (can't re-measure means can't clear it).
"""
from __future__ import annotations

import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

from bench import (  # noqa: E402
    ab_verdict,
    confirmed_regressions,
    crosstree_interleaved,
    gate_baseline,
    interleaved_measure,
    is_ingest_regression,
    is_regression,
    previous_round_tip,
    round_number,
)


def test_is_regression_needs_both_ratio_and_absolute():
    assert is_regression(1.0, 0.5)           # 2x and +0.5s
    assert not is_regression(0.45, 0.2)      # 2.25x but only +0.25s
    assert not is_regression(5.5, 5.0)       # +0.5s but only 1.1x
    assert not is_regression(0.9, 0.61)      # 1.48x — under the ratio
    assert not is_regression(1.0, 0)         # no baseline entry
    assert not is_regression(-1.0, 0.5)      # failed query never flags


def test_confirmed_keeps_fresh_timing_on_reproduction():
    out = confirmed_regressions(
        {"q": 2.0}, {"q": 0.5}, lambda name: 1.8)
    assert out == {"q": {"now": 1.8, "baseline": 0.5}}


def test_transient_flag_is_dropped(capsys):
    out = confirmed_regressions(
        {"q": 2.0, "ok": 0.5}, {"q": 0.5, "ok": 0.5}, lambda name: 0.55)
    assert out == {}
    assert "did not reproduce" in capsys.readouterr().err


def test_remeasure_failure_keeps_original_flag():
    def boom(name):
        raise RuntimeError("executor gone")
    out = confirmed_regressions({"q": 2.0}, {"q": 0.5}, boom)
    assert out == {"q": {"now": 2.0, "baseline": 0.5}}


def test_unflagged_queries_never_remeasured():
    calls = []

    def spy(name):
        calls.append(name)
        return 9.9
    out = confirmed_regressions(
        {"fast": 0.1, "slow": 3.0}, {"fast": 0.1, "slow": 1.0}, spy)
    assert calls == ["slow"]
    assert set(out) == {"slow"}


def test_ingest_gate_fires_on_synthetic_slowdown():
    """Round-7 advisory: the ingest rows/sec gate must fire on a >1.5x
    throughput DROP against the frozen baseline and stay silent on
    anything smaller (rates invert the query gate's direction)."""
    base = 224_719
    assert is_ingest_regression(base // 2, base)        # 2x drop: fires
    assert is_ingest_regression(149_000, base)          # just past 1.5x
    assert not is_ingest_regression(150_000, base)      # 1.498x: silent
    assert not is_ingest_regression(base, base)         # clean run: silent
    assert not is_ingest_regression(base * 2, base)     # faster: silent
    assert not is_ingest_regression(0, base)            # no measurement
    assert not is_ingest_regression(base, 0)            # no baseline


def test_gate_skips_a_baseline_from_another_core_count(capsys):
    """The frozen medians arm the gate only at the run's own sf AND cpus:
    a 4-core run must not be compared against ``local[32]`` medians."""
    base = {"sf": 0.1, "cpus": 32, "queries": {"q": 1.0}}
    assert gate_baseline(base, {"sf": 0.1, "cpus": 32}) is base
    assert gate_baseline(base, {"sf": 0.1, "cpus": 4}) == {}
    assert "cpus=32, run is cpus=4" in capsys.readouterr().err
    assert gate_baseline(base, {"sf": 0.01, "cpus": 32}) == {}
    assert "sf=0.1, run is sf=0.01" in capsys.readouterr().err
    assert gate_baseline({"sf": 0.1, "queries": {}},
                         {"sf": 0.1, "cpus": 32}) == {}


def test_round_number_from_artifacts(tmp_path, monkeypatch):
    """BENCH_FULL_r{N} self-numbers from the committed driver artifacts.
    Round-8 rule: a CORRECTNESS round AHEAD of the highest BENCH round
    means the driver wrote this round's correctness artifact earlier in
    the same session — the bench run belongs to THAT round (the round-7
    off-by-one wrote BENCH_FULL_r08 during the round-7 driver session).
    Equal highs = a builder session inside the next round. Env override
    wins."""
    monkeypatch.delenv("SPARK_GRAFT_ROUND", raising=False)
    assert round_number(str(tmp_path)) == 1  # bare repo -> round 1
    (tmp_path / "CORRECTNESS_r06.json").write_text("{}")
    (tmp_path / "BENCH_r05.json").write_text("{}")
    (tmp_path / "BENCH_r2_local.json").write_text("{}")  # non-driver: skip
    # driver session: round-6 correctness already on disk, bench is round 6
    assert round_number(str(tmp_path)) == 6
    # driver then writes BENCH_r06 -> a later (builder) session is round 7
    (tmp_path / "BENCH_r06.json").write_text("{}")
    assert round_number(str(tmp_path)) == 7
    monkeypatch.setenv("SPARK_GRAFT_ROUND", "12")
    assert round_number(str(tmp_path)) == 12


def test_run_query_releases_staged_blocks(spark):
    """The bench loop's consume-then-release contract: a query that stages
    shared subplans (sim_knn_graph localCheckpoints its signature table
    and rep map) must leave the persistent-RDD registry exactly as it
    found it once run_query returns — the whole query loop in one session
    must not accumulate pinned blocks (operators/staging.py lifecycle)."""
    from bench import run_query
    from insight_de_smart_grid_spark.operators.staging import (
        pinned_rdd_ids,
    )
    from tests.conftest import SF_ORACLE

    before = pinned_rdd_ids(spark)
    run_query(spark, "sim_knn_graph", SF_ORACLE)
    assert pinned_rdd_ids(spark) - before == set()


def test_ab_verdict_attribution():
    """A synthetic slowdown that the previous tip does NOT show is a code
    regression; one the previous tip shows equally is host drift; a
    failed cross-tree measurement leaves the flag unattributed rather
    than guessed. Thresholds are the same is_regression line the flag
    itself crossed."""
    baseline = 0.9
    assert ab_verdict(0.95, baseline) == "code_regression"   # prev fast
    assert ab_verdict(1.41, baseline) == "host_drift"        # prev slow too
    assert ab_verdict(None, baseline) == "unattributed"
    assert ab_verdict(-1.0, baseline) == "unattributed"      # failed run
    # the round-7 manual triage (SCALE.md:503) as data: 1.40s now vs
    # 0.883 frozen, 1.414s on the round-6 tip -> host drift
    assert ab_verdict(1.414, 0.883) == "host_drift"


def test_previous_round_tip_skips_untracked_driver_artifact(tmp_path):
    """Round-9 fix, pinned to exactly the driver-session state the round-8
    judge reproduced: the driver writes BENCH_r{N}.json BEFORE the
    round-boundary commit, so the newest artifact on disk is UNTRACKED
    and `git log -- <it>` is empty. previous_round_tip must fall back to
    the newest artifact WITH committed history instead of returning
    None (which crashed the A/B with a TypeError in `git worktree add`)."""
    import subprocess

    def git(*args):
        return subprocess.run(["git", *args], cwd=tmp_path, check=True,
                              capture_output=True, text=True)

    git("init", "-q")
    git("config", "user.email", "t@t")
    git("config", "user.name", "t")
    (tmp_path / "BENCH_r07.json").write_text("{}")
    git("add", "BENCH_r07.json")
    git("commit", "-q", "-m", "round 7 artifacts")
    r7_tip = git("rev-parse", "HEAD").stdout.strip()
    # mid-driver-session state: this round's snapshot exists but is
    # untracked — must NOT shadow the committed r07 artifact
    (tmp_path / "BENCH_r08.json").write_text("{}")
    assert previous_round_tip(str(tmp_path)) == r7_tip
    # nothing committed at all -> None (and the A/B degrades cleanly)
    for p in tmp_path.glob("BENCH_r*.json"):
        p.unlink()
    (tmp_path / "BENCH_r09.json").write_text("{}")
    assert previous_round_tip(str(tmp_path)) is None


def test_crosstree_measure_rejects_missing_commit(tmp_path, capsys):
    """A None/empty previous tip must degrade to 'unattributed' ({} from
    the measurer), never reach `git worktree add None` (round-8 bug)."""
    assert crosstree_interleaved(str(tmp_path), None, ["q"], "sf",
                                 cur_once=lambda n: 1.0) == {}


def test_interleaved_measure_alternates_and_medians():
    """Round-9 A/B shape: prev and cur single runs must strictly
    alternate (same host-load window), medians taken per tree, a prev
    tree that can't run the query yields prev=None, and streaming
    queries run one pair."""
    order = []
    prev_vals = iter([1.0, 1.2, 1.1])
    cur_vals = iter([2.0, 2.4, 2.2])

    def prev_once(name):
        order.append(("prev", name))
        return next(prev_vals)

    def cur_once(name):
        order.append(("cur", name))
        return next(cur_vals)

    out = interleaved_measure(["q"], prev_once, cur_once, rounds=3)
    assert out["q"] == {"prev": 1.1, "cur": 2.2}
    assert order[:6] == [("prev", "q"), ("cur", "q")] * 3  # strict A,B,A,B

    out2 = interleaved_measure(
        ["streaming_x"], lambda n: 5.0, lambda n: 6.0, rounds=3)
    assert out2["streaming_x"] == {"prev": 5.0, "cur": 6.0}
    out3 = interleaved_measure(["gone"], lambda n: None,
                               lambda n: 0.4, rounds=3)
    assert out3["gone"] == {"prev": None, "cur": 0.4}


def test_ab_verdict_same_window_cur():
    """The star_stats_agg lesson as data: a synthetic code slowdown (cur
    still slow in the same window the prev tree reads fast) stays
    code_regression; a recorded-drift replay (both trees back at
    baseline once the oscillation passed) reads host_drift."""
    baseline = 0.673
    # synthetic slowdown: prev hits baseline, cur 2x slow in same window
    assert ab_verdict(0.70, baseline, cur_time=1.41) == "code_regression"
    # round-8 recorded drift: flag fired at 1.009s, but in the A/B window
    # prev read 0.70 and cur read 0.71 — drift resolved -> host_drift
    assert ab_verdict(0.70, baseline, cur_time=0.71) == "host_drift"
    # prev slow too: host_drift regardless of cur
    assert ab_verdict(1.40, baseline, cur_time=1.41) == "host_drift"
    # no cur measurement: falls back to the round-8 prev-only rule
    assert ab_verdict(0.70, baseline, cur_time=None) == "code_regression"
    assert ab_verdict(None, baseline, cur_time=1.41) == "unattributed"
    # round-9 full-bench triage as data: uniform drift parked prev just
    # UNDER the gate while cur sat just over — the trees moved together,
    # so the same-window tree-to-tree gap must call it host_drift
    # (events_sliding_distinct: base 1.155, prev 1.549, cur 1.841 — gap
    # 1.19x; clean-window re-run read prev 1.876 vs cur 1.988)
    assert ab_verdict(1.549, 1.155, cur_time=1.841) == "host_drift"
    # (multimodal_resize_fake: base 0.292 — prev escaped only by the
    # 0.3s absolute floor; cur-prev = 0.09s is window noise)
    assert ab_verdict(0.575, 0.292, cur_time=0.665) == "host_drift"
    # a real code regression clears BOTH gap criteria
    assert ab_verdict(1.0, 0.9, cur_time=1.45) == "code_regression"


def test_previous_round_tip_resolves_bench_commit():
    """In the real repo the previous tip is the commit that last touched
    the highest BENCH_r{N}.json — a driver round-boundary commit that
    exists and is an ancestor of HEAD."""
    import subprocess

    tip = previous_round_tip(str(REPO))
    assert tip and len(tip) == 40
    rc = subprocess.run(["git", "merge-base", "--is-ancestor", tip, "HEAD"],
                        cwd=REPO)
    assert rc.returncode == 0
    assert previous_round_tip("/tmp") is None  # no artifacts -> no tip


def test_crosstree_interleaved_checks_out_and_cleans_up(monkeypatch):
    """crosstree_interleaved hands the prev-tip worker a real worktree of
    the requested commit (the previous tip's bench.py is present) and
    removes it even when measuring raises."""
    import subprocess

    import bench

    tip = previous_round_tip(str(REPO))
    seen = {}

    class FakeWorker:
        def __init__(self, wt, sf_dir):
            seen["wt"] = wt
            seen["head"] = subprocess.run(
                ["git", "rev-parse", "HEAD"], cwd=wt,
                capture_output=True, text=True).stdout.strip()
            assert (Path(wt) / "bench.py").exists()

        def measure_once(self, name):
            return 0.5

        def close(self):
            seen["closed"] = True

    monkeypatch.setattr(bench, "_PrevTipWorker", FakeWorker)
    out = crosstree_interleaved(str(REPO), tip, ["q1"], "unused",
                                cur_once=lambda n: 0.7, rounds=1)
    assert out == {"q1": {"prev": 0.5, "cur": 0.7}}
    assert seen["head"] == tip and seen["closed"]
    assert not Path(seen["wt"]).exists()

    class RaisingWorker(FakeWorker):
        def measure_once(self, name):
            raise RuntimeError("boom")

    monkeypatch.setattr(bench, "_PrevTipWorker", RaisingWorker)
    seen.clear()
    try:
        crosstree_interleaved(str(REPO), tip, ["q1"], "unused",
                              cur_once=lambda n: 0.7, rounds=1)
    except RuntimeError:
        pass
    else:
        raise AssertionError("measuring error must propagate")
    assert seen["closed"] and not Path(seen["wt"]).exists()


def test_prev_tip_worker_enforces_read_deadline():
    """ADVICE r9: a hung prev-tip query must time out (returning None and
    killing the worker) instead of blocking the bench on readline."""
    import queue
    import time

    from bench import _PrevTipWorker

    class FakeProc:
        def __init__(self):
            self.killed = False

        def kill(self):
            self.killed = True

    w = object.__new__(_PrevTipWorker)
    w.timeout = 0.2
    w._lines = queue.Queue()   # nothing ever arrives: the hung worker
    w.proc = FakeProc()
    w.proc.stdin = None

    t0 = time.perf_counter()
    assert w._read_until("AB_T") is None
    assert time.perf_counter() - t0 < 5
    assert w.proc.killed

    # a line that DOES arrive in time is returned unchanged
    w2 = object.__new__(_PrevTipWorker)
    w2.timeout = 5
    w2._lines = queue.Queue()
    w2.proc = FakeProc()
    w2._lines.put("AB_T q1 1.25\n")
    assert w2._read_until("AB_T") == "AB_T q1 1.25"
    # EOF sentinel ("" from the reader thread) reads as worker death
    w2._lines.put("")
    assert w2._readline() is None
