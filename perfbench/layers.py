"""Per-layer metrics of a traced run.

Layers are named after the engine's modules. Spark metrics are read from
the status store after the loop and attributed to each traced operation
by time window; streaming metrics come from each replay's
``StreamingQueryProgress`` (full ``durationMs`` and ``stateOperators``).
Counts are per traced operation unless the name says otherwise, timings
are medians over the traced spans of that name.
"""

from __future__ import annotations

import spans as tr

OLAP_TILES = ("total_power", "topk", "timeseries", "split", "m4", "history",
              "reagg", "duty_tumbling", "duty_sliding", "star")
CURATE_STAGES = ("exact", "minhash", "lsh_pairs", "clusters", "keep_best",
                 "semantic", "knn")
BATCH_PHASES = ("latestOffset", "getBatch", "queryPlanning", "addBatch",
                "walCommit", "commitOffsets")
STATE_FIELDS = (("rows_total", "numRowsTotal"),
                ("rows_updated", "numRowsUpdated"),
                ("rows_removed", "numRowsRemoved"),
                ("commit_ms", "commitTimeMs"),
                ("update_ms", "allUpdatesTimeMs"),
                ("removal_ms", "allRemovalsTimeMs"),
                ("memory_bytes", "memoryUsedBytes"))

# every per-layer metric, with its unit; each run reports them all
PER_LAYER = {
    "sources.read_ms": "ms", "sources.input_bytes": "bytes",
    "plans.build_ms": "ms", "plans.eager_jobs": "count",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.busy_ms": "ms", "spark.driver_gap_ms": "ms",
    "spark.task_run_ms": "ms", "spark.task_cpu_ms": "ms",
    "spark.gc_ms": "ms", "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes", "spark.spill_bytes": "bytes",
    "spark.stage_skew": "ratio",
    **{f"olap.{t}_ms": "ms" for t in OLAP_TILES},
    "streaming.batches": "count", "streaming.batch_ms": "ms",
    **{f"streaming.{p}_ms": "ms" for p in BATCH_PHASES},
    "streaming.flush_batch_ms": "ms", "streaming.source_stage_ms": "ms",
    "streaming.events_per_s": "1/s",
    **{f"state.{n}": ("ms" if n.endswith("_ms") else
                      "bytes" if n.endswith("bytes") else "count")
       for n, _ in STATE_FIELDS},
    "staging.pinned_left": "count",
    **{f"curate.{k}_ms": "ms" for k in CURATE_STAGES},
    "curate.candidate_pairs": "count", "curate.verified_pairs": "count",
    "curate.lsh_yield": "ratio",
    "index.build_ms": "ms", "index.probe_ms": "ms", "index.probe_jobs": "count",
    "index.append_ms": "ms", "index.append_driver_ms": "ms",
    "index.dedup_probe_ms": "ms", "index.compact_ms": "ms",
    "index.live_files": "count", "index.bytes_per_input_byte": "ratio",
    "index.manifest_version": "count", "index.recall_at_10": "ratio",
    "op.p50_ms": "ms", "op.per_s": "1/s", "op.tail_ms": "ms",
    "op.tail_pct": "%", "op.samples": "count",
    "trace.overhead_ms": "ms", "trace.overhead_pct": "%",
    "setup.session_s": "s", "setup.prepare_s": "s",
    "tmp_left_mb": "MB", "peak_rss_mb": "MB",
}


def unit(name: str) -> str:
    if name in PER_LAYER:
        return PER_LAYER[name]
    for suffix, u in (("_ms", "ms"), ("_s", "s"), ("_bytes", "bytes")):
        if name.endswith(suffix):
            return u
    return "count"


def _med(values: "list[float]") -> float:
    return tr.median(values) if values else 0.0


def spark_metrics(spans: "list[tr.Span]", jobs: "list[tr.Job]",
                  stages: "dict[int, tr.Stage]") -> dict:
    """Per-op means of the Spark work attributed to ``spans`` (one span
    per operation) by time window, plus the worst stage skew."""
    totals = dict.fromkeys(("jobs", "stages", "tasks", "busy_ms",
                            "driver_gap_ms", "task_run_ms", "task_cpu_ms",
                            "gc_ms", "shuffle_read_bytes",
                            "shuffle_write_bytes", "spill_bytes",
                            "input_bytes"), 0.0)
    skew = 0.0
    for sp in spans:
        mine = [j for j in jobs if sp.start_ms <= j.start_ms < sp.end_ms]
        busy = tr.busy_ms([sp], mine)
        st = [stages[s] for s in {s for j in mine for s in j.stage_ids}
              if s in stages and stages[s].tasks > 0]
        totals["jobs"] += len(mine)
        totals["stages"] += len(st)
        totals["tasks"] += sum(s.tasks for s in st)
        totals["busy_ms"] += busy
        totals["driver_gap_ms"] += sp.dur_ms - busy
        totals["task_run_ms"] += sum(s.run_ms for s in st)
        totals["task_cpu_ms"] += sum(s.cpu_ms for s in st)
        totals["gc_ms"] += sum(s.gc_ms for s in st)
        totals["shuffle_read_bytes"] += sum(s.shuffle_read for s in st)
        totals["shuffle_write_bytes"] += sum(s.shuffle_write for s in st)
        totals["spill_bytes"] += sum(s.spill for s in st)
        totals["input_bytes"] += sum(s.input_bytes for s in st)
        skew = max([skew] + [s.skew for s in st if s.tasks > 1])
    n = max(len(spans), 1)
    out = {k: v / n for k, v in totals.items()}
    out["stage_skew"] = skew
    return out


def jobs_within(spans: "list[tr.Span]", jobs: "list[tr.Job]") -> int:
    return sum(1 for sp in spans for j in jobs
               if sp.start_ms <= j.start_ms < sp.end_ms)


def streaming_metrics(progress: list, replay_ms: "list[float]",
                      events_per_replay: int) -> dict:
    """Per-batch medians of the micro-batch phases and state-operator
    figures; the flush is each replay's last (no-data) batch."""
    out = {}
    if not progress:
        return out
    by_replay: dict[int, list] = {}
    for rid, p in progress:
        by_replay.setdefault(rid, []).append(p)
    out["streaming.batches"] = (sum(len(v) for v in by_replay.values())
                                / len(by_replay))
    batches = [p for _, p in progress]
    out["streaming.batch_ms"] = _med(
        [float(p["durationMs"]["triggerExecution"]) for p in batches])
    for ph in BATCH_PHASES:
        out[f"streaming.{ph}_ms"] = _med(
            [float(p["durationMs"].get(ph, 0)) for p in batches])
    out["streaming.flush_batch_ms"] = _med(
        [float(v[-1]["durationMs"]["triggerExecution"])
         for v in by_replay.values()])
    for name, field in STATE_FIELDS:
        out[f"state.{name}"] = _med(
            [float(sum(s[field] or 0 for s in p["stateOperators"]))
             for p in batches])
    if replay_ms:
        out["streaming.events_per_s"] = (
            events_per_replay * len(replay_ms) / (sum(replay_ms) / 1000))
    return out


def summarize_layers(run, since_ms: float) -> dict:
    tr.wait_listener_bus(run.spark)
    jobs = tr.read_jobs(run.spark, since_ms)
    stages = tr.read_stages(run.spark, {s for j in jobs for s in j.stage_ids})
    spans = run.tracer.spans
    ops = [s for s in spans if s.parent is None]

    def named(name):
        return [s for s in spans if s.name == name]

    out = {f"spark.{k}": v for k, v in
           spark_metrics(ops, jobs, stages).items()}
    out["sources.input_bytes"] = out.pop("spark.input_bytes")
    out["sources.read_ms"] = _med([s.dur_ms for s in named("sources.read")])
    out["plans.build_ms"] = _med([s.dur_ms for s in named("plans.build")])
    out["plans.eager_jobs"] = (jobs_within(named("plans.build"), jobs)
                               / max(len(ops), 1))
    samples = [v for vs in run.samples.values() for v in vs]
    tail = tr.tail_percentile(samples)
    out["op.samples"] = len(samples)
    if tail:
        out["op.tail_pct"], out["op.tail_ms"] = tail
    out.update(run.counts)
    out.update(run.workload.layers(run, spans, jobs, stages))
    return {k: out.get(k, 0.0) for k in PER_LAYER} | {
        k: v for k, v in out.items() if k not in PER_LAYER}
