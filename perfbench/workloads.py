"""The closed-loop workloads.

Each workload is driven by one client: the next operation starts only
after the previous one returns. A workload has

- ``inputs(seed, data_dir)``: writes its seeded input tables;
- ``prepare(run)``: set-up work beyond starting the session (index builds);
- ``round(run)``: one cycle of its operation mix, each operation timed
  with ``run.op``;
- ``layers(run, spans, jobs, stages)``: its own per-layer metrics for the
  traced run.

``dashboard``, ``stream``, ``curate`` and ``index`` each stress one
layer. ``grid`` (dashboard and stream over the same ``events``) and
``corpus`` (curate and index over the same documents and embeddings) run
two of them in one session; they are what the benchmark lists, since a
session start is paid once per run.

Operations call the engine's public functions directly: ``plans`` query
builders and registry entries, ``operators.*`` and
``streaming.replay.replay_parquet_stream``. Results are kept for the
output checks, which run after the timed loop.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow.parquet as pq

import gen
import layers
import spans as tr


N_EVENTS = 10_000
CORPUS_DOCS, CORPUS_VECS = 500, 600


def _rows(df) -> "tuple[list[str], list[tuple]]":
    return df.columns, [tuple(r) for r in df.collect()]


def _rng(seed: int, stream: int) -> np.random.Generator:
    """One generator per input table family, so workloads that share a
    table draw the same one from the same seed."""
    return np.random.default_rng([seed, stream])


def _events(seed: int):
    return gen.events(_rng(seed, 10), n=N_EVENTS)


def _corpus(seed: int) -> dict:
    return {"documents": gen.documents(_rng(seed, 12), CORPUS_DOCS),
            "embeddings": gen.embeddings(_rng(seed, 13), CORPUS_VECS)}


# --- dashboard --------------------------------------------------------------

# a snowflake of broadcast dimensions and a TPC-H Q3-shaped fact-fact join
STAR = ("star_region_revenue", "star_shipping_priority")


class Dashboard:
    """Pivot/Druid tiles and star joins over small generated tables: short
    queries where driver planning, job scheduling and AQE carry the
    time. No state store, no index."""

    name = "dashboard"
    round_s = 16  # seconds of one round on a 4-core host

    def inputs(self, seed: int, data_dir: str) -> None:
        gen.write_tables({"events": _events(seed),
                          **gen.star(_rng(seed, 11))}, data_dir)

    def prepare(self, run) -> None:
        pass

    def _tiles(self, run) -> list:
        from insight_de_smart_grid_spark.operators import dashboard as dash
        from insight_de_smart_grid_spark.operators import duty_cycle as dc
        from insight_de_smart_grid_spark.operators import history as hist
        from insight_de_smart_grid_spark.plans.registry import QUERIES
        from insight_de_smart_grid_spark.sources.tables import (
            READINGS_SQL_VIEW as RV,
        )

        # seeded values, drawn once per run from options of about equal
        # cost, so the seed changes what is asked but not how much work it
        # is; every round refreshes the same tiles, as a dashboard does
        rng = np.random.default_rng([run.seed, 2])
        dim = str(rng.choice(["appliance_name", "house_id",
                              "appliance_id"]))
        k = int(rng.integers(3, 11))
        bucket = int(rng.choice([60, 120, 300]))
        houses = [str(h) for h in sorted(rng.choice(20, 5, replace=False))]
        minutes = int(rng.choice([30, 60, 360, 1440]))
        m4 = int(rng.choice([2, 3]))
        days, wmin = int(rng.integers(3, 6)), int(rng.choice([10, 20, 30]))
        tumble = int(rng.choice([10, 15]))
        reg = QUERIES

        def registry(name):
            return (lambda r: reg[name].fn(run.spark, run.data_dir),
                    reg[name].sql)

        return [
            ("total_power", *registry("dash_total_power")),
            ("topk", lambda r: dash.top_k_by_measure(r, dim, k=k),
             dash.top_k_oracle_sql(RV, dim, k)),
            ("timeseries", lambda r: dash.time_series(r, f"{bucket} seconds"),
             dash.time_series_oracle_sql(RV, bucket)),
            ("split", lambda r: dash.filtered_split(
                r, houses, last=f"{minutes} minutes"),
             dash.filtered_split_oracle_sql(RV, houses, minutes=minutes)),
            ("m4", lambda r: dash.m4_downsample(r, f"{m4} minutes"),
             dash.m4_downsample_oracle_sql(RV, m4 * 60)),
            ("history", lambda r: hist.history(r, days, wmin),
             hist.history_oracle_sql(RV, days, wmin)),
            ("reagg", *registry("rollup_reagg")),
            ("duty_tumbling", lambda r: dc.duty_cycle(
                r, window=f"{tumble} minutes"),
             dc.duty_cycle_oracle_sql(RV, tumble * 60)),
            ("duty_sliding", *registry("duty_cycle_sliding_auto")),
        ] + [("star", *registry(name)) for name in STAR]

    def round(self, run) -> None:
        from insight_de_smart_grid_spark.sources.tables import readings_view

        # a fixed order: what runs before a tile changes its latency
        for kind, build, sql in self._tiles(run):

            def tile(build=build):
                with run.tracer.span("sources.read"):
                    r = readings_view(run.spark, run.data_dir)
                with run.tracer.span("plans.build"):
                    df = build(r)
                with run.tracer.span("action"):
                    return _rows(df)

            run.expect(f"olap.{kind}", run.op(f"olap.{kind}", tile), sql)

    def layers(self, run, spans, jobs, stages) -> dict:
        return {f"olap.{t}_ms": tr.median(run.samples[f"olap.{t}"])
                for t in layers.OLAP_TILES}


# --- curate -----------------------------------------------------------------

class Curate:
    """The LLM-curation batch pass over documents and embeddings with a
    planted share of near-duplicates: a few long shuffle- and CPU-heavy
    jobs per stage."""

    name = "curate"
    round_s = 22

    def inputs(self, seed: int, data_dir: str) -> None:
        gen.write_tables(_corpus(seed), data_dir)

    def prepare(self, run) -> None:
        pass

    def round(self, run) -> None:
        from insight_de_smart_grid_spark.operators import dedup as dd
        from insight_de_smart_grid_spark.operators import similarity as sim
        from insight_de_smart_grid_spark.operators.staging import (
            checkpoint_scope,
            pinned_rdd_ids,
        )
        from insight_de_smart_grid_spark.sources.tables import load_table

        spark, tracer = run.spark, run.tracer
        docs = load_table(spark, run.data_dir, "documents")
        emb = load_table(spark, run.data_dir, "embeddings")
        stages = [
            ("exact", lambda: dd.exact_dedup_groups(docs),
             dd.EXACT_DEDUP_SQL),
            ("minhash", lambda: dd.signature_shingle_sets(docs), None),
            ("lsh_pairs", lambda: dd.minhash_lsh_near_dups(
                docs, threshold=0.5), dd.minhash_lsh_oracle_sql(32, 8, 3,
                                                                0.5)),
            ("clusters", lambda: dd.dup_clusters(dd.minhash_lsh_near_dups(
                docs, threshold=0.5)), dd.dup_clusters_lsh_oracle_sql()),
            ("keep_best", lambda: dd.keep_best_per_cluster(
                docs, dd.ngram_jaccard_pairs(docs)),
             dd.keep_best_oracle_sql(3, 0.1)),
            ("semantic", lambda: sim.semantic_dedup(emb, 0.95),
             sim.semantic_dedup_oracle_sql(0.95)),
            ("knn", lambda: sim.knn_graph(emb, k=3),
             sim.knn_graph_oracle_sql(3)),
        ]
        before = pinned_rdd_ids(spark)
        # one pass: each stage is one operation, all in one staging scope
        with checkpoint_scope(spark):
            for kind, build, sql in stages:

                def stage(build=build, sql=sql):
                    with tracer.span("plans.build"):
                        df = build()
                    with tracer.span("action"):
                        if sql is None:
                            df.write.format("noop").mode("overwrite").save()
                            return None
                        return _rows(df)

                run.expect(f"curate.{kind}", run.op(f"curate.{kind}", stage),
                           sql)
        run.count("staging.pinned_left",
                  len(pinned_rdd_ids(spark) - before))

    def layers(self, run, spans, jobs, stages) -> dict:
        from insight_de_smart_grid_spark.operators import dedup as dd
        from insight_de_smart_grid_spark.sources.tables import load_table

        out = {f"curate.{k}_ms": tr.median(run.samples[f"curate.{k}"])
               for k in layers.CURATE_STAGES}
        docs = load_table(run.spark, run.data_dir, "documents")
        cands = dd.lsh_candidate_pairs(dd.minhash_signatures(docs)).count()
        verified = dd.minhash_lsh_near_dups(docs, threshold=0.5).count()
        return out | {"curate.candidate_pairs": cands,
                      "curate.verified_pairs": verified,
                      "curate.lsh_yield": verified / cands if cands else 0.0}


# --- stream -----------------------------------------------------------------

N_SLICES = 2


class Stream:
    """Time-ordered slices of ``events`` replayed one file per micro-batch
    through three streaming plans, then the watermark flush: per-batch
    fixed cost plus state-store update and commit. One operation is one
    replay drained to its end, flush included."""

    name = "stream"
    round_s = 18

    def inputs(self, seed: int, data_dir: str) -> None:
        ev = _events(seed)
        gen.write_tables({"events": ev}, data_dir)
        gen.write_slices(ev, os.path.join(data_dir, "slices"), N_SLICES)

    def prepare(self, run) -> None:
        pass

    def round(self, run) -> None:
        """One replay of each plan, so every round has the same mix."""
        from insight_de_smart_grid_spark.operators import rollup as ru
        from insight_de_smart_grid_spark.plans.registry import QUERIES
        from insight_de_smart_grid_spark.sources.tables import (
            READINGS_SQL_VIEW as RV,
            events_to_readings,
        )
        from insight_de_smart_grid_spark.streaming import duty_cycle_stream
        from insight_de_smart_grid_spark.streaming import replay as rp
        from insight_de_smart_grid_spark.streaming import rollup_stream

        sliding = QUERIES["duty_cycle_sliding"].sql
        plans = [
            ("duty_explode", duty_cycle_stream.duty_cycle_stream_plan,
             sliding),
            ("duty_panes", duty_cycle_stream.duty_cycle_stream_panes_plan,
             sliding),
            ("rollup", rollup_stream.rollup_stream_plan,
             ru.rollup_oracle_sql(RV, 1)),
        ]
        src = os.path.join(run.data_dir, "slices")
        for kind, plan, sql in plans:
            base = run.own_dir(f"replay_{kind}")
            progress: list = []

            def replay(plan=plan, base=base, progress=progress):
                staging = rp.parquet_stream_source
                if run.tracer.enabled:
                    def traced_staging(*a, **kw):
                        with run.tracer.span("streaming.source_stage"):
                            return staging(*a, **kw)
                    rp.parquet_stream_source = traced_staging
                try:
                    return rp.replay_parquet_stream(
                        run.spark, src,
                        lambda s: plan(events_to_readings(s)),
                        query_name=f"bench_{kind}",
                        checkpoint_dir=os.path.join(base, "ck"),
                        out_dir=os.path.join(base, "sink"),
                        flush_sentinel=True, max_files_per_trigger=1,
                        progress_out=progress)
                finally:
                    rp.parquet_stream_source = staging

            out = run.op(f"stream.{kind}", replay)
            run.progress.extend((run.attempted, p) for p in progress)
            if out is not None:
                # the sink is read after the timed loop
                run.expect(f"stream.{kind}", lambda out=out: _rows(
                    out.filter("house_id != '-1'").drop("date", "hour")),
                    sql)

    def layers(self, run, spans, jobs, stages) -> dict:
        replay_ms = [v for k, vs in run.samples.items()
                     if k.startswith("stream.") for v in vs]
        return layers.streaming_metrics(run.progress, replay_ms, N_EVENTS) | {"streaming.source_stage_ms": tr.median(
                [s.dur_ms for s in spans
                 if s.name == "streaming.source_stage"] or [0.0])}


# --- index ------------------------------------------------------------------

DELTA_VECS, DELTA_DOCS, N_DELTAS = 100, 30, 8
N_QUERIES = 16


class Index:
    """Persisted ANN, IVF and MinHash indexes built over the corpus at
    set-up, then a seeded mix of batch probes and a dedup-checked append,
    and a compaction to close each round, all through the shared
    ``index_base``/``index_manifest`` layer."""

    name = "index"
    round_s = 10

    def inputs(self, seed: int, data_dir: str) -> None:
        gen.write_tables(_corpus(seed), data_dir)
        # deltas arrive later: ids continue past the corpus
        rng = _rng(seed, 14)
        gen.write_tables({
            "vectors": gen.embeddings(rng, N_DELTAS * DELTA_VECS,
                                      first_id=CORPUS_VECS),
            "documents": gen.documents(rng, N_DELTAS * DELTA_DOCS,
                                       first_id=CORPUS_DOCS)},
            os.path.join(data_dir, "deltas"))

    def prepare(self, run) -> None:
        from insight_de_smart_grid_spark.operators import ann_index as ai
        from insight_de_smart_grid_spark.operators import dedup_index as di
        from insight_de_smart_grid_spark.operators import ivf_index as ii
        from insight_de_smart_grid_spark.sources.tables import load_table

        emb = load_table(run.spark, run.data_dir, "embeddings")
        docs = load_table(run.spark, run.data_dir, "documents")
        root = os.path.join(run.data_dir, "idx")
        self.paths = {f: os.path.join(root, f) for f in ("ann", "ivf",
                                                         "dedup")}
        t0 = tr.now_ms()
        ai.build_signature_index(emb, self.paths["ann"], n_tables=8,
                                 n_planes=6)
        ii.build_ivf_index(emb, self.paths["ivf"], n_centroids=16)
        di.build_dedup_index(docs, self.paths["dedup"])
        self.build_ms = tr.now_ms() - t0
        self.next_delta = 0

    def _delta(self, run, table: str, size: int, start: int):
        from insight_de_smart_grid_spark.sources.pq import read_parquet
        from pyspark.sql import functions as F

        df = read_parquet(run.spark, os.path.join(run.data_dir, "deltas",
                                                  f"{table}.parquet"))
        idc = "vec_id" if table == "vectors" else "doc_id"
        lo = (CORPUS_VECS if table == "vectors" else CORPUS_DOCS) + start
        return df.filter((F.col(idc) >= lo) & (F.col(idc) < lo + size))

    def round(self, run) -> None:
        from insight_de_smart_grid_spark.operators import ann_index as ai
        from insight_de_smart_grid_spark.operators import dedup_index as di
        from insight_de_smart_grid_spark.operators import ivf_index as ii
        from insight_de_smart_grid_spark.sources.tables import load_table
        from pyspark.sql import functions as F

        spark, tracer = run.spark, run.tracer
        emb = load_table(spark, run.data_dir, "embeddings")
        ops = ["probe_ann", "probe_ivf", "append"]
        for kind in [ops[i] for i in run.rng.permutation(len(ops))]:
            if kind.startswith("probe"):
                qids = sorted(int(q) for q in run.rng.choice(
                    CORPUS_VECS, N_QUERIES, replace=False))
                queries = emb.filter(F.col("vec_id").isin(qids))
                n_appends = self.next_delta
                fam = kind.split("_")[1]

                def probe(fam=fam, queries=queries):
                    with tracer.span("plans.build"):
                        df = (ai.query_index_batch_topk(
                            spark, self.paths["ann"], queries, k=10)
                            if fam == "ann" else ii.query_ivf_batch_topk(
                                spark, self.paths["ivf"], queries, k=10,
                                nprobe=4))
                    with tracer.span("action"):
                        return _rows(df)

                out = run.op(f"index.probe_{fam}", probe)
                run.expect_recall(f"index.probe_{fam}", out,
                                  lambda q=qids, n=n_appends:
                                  self.exact_topk(run, q, n))
                continue
            start = self.next_delta
            self.next_delta += 1
            vecs = self._delta(run, "vectors", DELTA_VECS,
                               start * DELTA_VECS)
            docs = self._delta(run, "documents", DELTA_DOCS,
                               start * DELTA_DOCS)

            def append(vecs=vecs, docs=docs):
                with tracer.span("index.dedup_probe"):
                    pairs = _rows(di.dedup_new_against_index(
                        spark, self.paths["dedup"], docs))
                with tracer.span("index.write"):
                    di.append_dedup_index(docs, self.paths["dedup"])
                    ai.append_signatures(vecs, self.paths["ann"])
                    ii.append_ivf_index(vecs, self.paths["ivf"])
                return pairs

            run.op("index.append", append)

        def compact():
            ai.compact_signature_index(spark, self.paths["ann"])
            ii.compact_ivf_index(spark, self.paths["ivf"])
            di.compact_dedup_index(spark, self.paths["dedup"])

        run.op("index.compact", compact)

    def exact_topk(self, run, qids: "list[int]", n_appends: int,
                   k: int = 10) -> "dict[int, set[int]]":
        """Brute-force cosine top-k over every vector the index held when
        the probe ran (base plus ``n_appends`` deltas), excluding the
        query itself."""
        base = pq.read_table(os.path.join(run.data_dir, "embeddings.parquet"))
        delta = pq.read_table(os.path.join(run.data_dir, "deltas",
                                           "vectors.parquet"))
        n_delta = n_appends * DELTA_VECS
        ids = np.concatenate([base["vec_id"].to_numpy(),
                              delta["vec_id"].to_numpy()[:n_delta]])
        x = np.vstack([np.stack(base["embedding"].to_numpy(
            zero_copy_only=False)), np.stack(delta["embedding"].to_numpy(
                zero_copy_only=False))[:n_delta]]).astype(np.float64)
        x /= np.linalg.norm(x, axis=1, keepdims=True)
        pos = {int(v): i for i, v in enumerate(ids)}
        out = {}
        for q in qids:
            s = x @ x[pos[q]]
            s[pos[q]] = -np.inf
            out[q] = {int(ids[i]) for i in np.argsort(-s)[:k]}
        return out

    def layers(self, run, spans, jobs, stages) -> dict:
        from insight_de_smart_grid_spark.operators import ann_index as ai
        from insight_de_smart_grid_spark.operators.index_base import (
            live_file_count,
        )
        from insight_de_smart_grid_spark.operators.index_manifest import (
            read_manifest,
        )

        live = sum(live_file_count(p, t) for p, t in (
            (self.paths["ann"], ("bands", "vectors")),
            (self.paths["ivf"], ("lists",)),
            (self.paths["dedup"], ("bands", "docs"))))
        input_bytes = os.path.getsize(os.path.join(run.data_dir,
                                                   "embeddings.parquet"))
        ops = [s for s in spans if s.parent is None]
        probes = [s for s in ops if s.name.startswith("index.probe")]
        appends = [s for s in ops if s.name == "index.append"]
        spark_append = layers.spark_metrics(appends, jobs, stages)
        samples = run.samples
        return {
            "index.build_ms": self.build_ms,
            "index.probe_ms": tr.median(samples.get("index.probe_ann", [])
                                        + samples.get("index.probe_ivf",
                                                      [])),
            "index.probe_jobs": layers.spark_metrics(probes, jobs,
                                                     stages)["jobs"],
            "index.append_ms": tr.median(samples.get("index.append", [0])),
            "index.append_driver_ms": spark_append["driver_gap_ms"],
            "index.dedup_probe_ms": tr.median(
                [s.dur_ms for s in spans if s.name == "index.dedup_probe"]
                or [0]),
            "index.compact_ms": tr.median(samples.get("index.compact", [0])),
            "index.live_files": live,
            "index.bytes_per_input_byte":
                ai.index_bytes(self.paths["ann"]) / input_bytes,
            "index.manifest_version": sum(
                (read_manifest(p) or {}).get("version", 0)
                for p in self.paths.values()),
        }


# --- combined ---------------------------------------------------------------

class Combined:
    """Workloads run one after the other in one session: each round runs
    every part's round, in order."""

    def __init__(self, name: str, *parts) -> None:
        self.name, self.parts = name, parts
        self.round_s = sum(p.round_s for p in parts)

    def inputs(self, seed: int, data_dir: str) -> None:
        for p in self.parts:
            p.inputs(seed, data_dir)

    def prepare(self, run) -> None:
        for p in self.parts:
            p.prepare(run)

    def round(self, run) -> None:
        for p in self.parts:
            p.round(run)

    def layers(self, run, spans, jobs, stages) -> dict:
        out: dict = {}
        for p in self.parts:
            out.update(p.layers(run, spans, jobs, stages))
        return out


WORKLOADS = {
    **{w.name: w for w in (Dashboard, Stream, Curate, Index)},
    "grid": lambda: Combined("grid", Dashboard(), Stream()),
    "corpus": lambda: Combined("corpus", Curate(), Index()),
}
