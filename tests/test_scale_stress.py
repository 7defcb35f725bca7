"""Skew/volume stress sweep: run the blocked dedup/similarity/agg/streaming
families against the power-law corpus from `tests/stress_corpus.py` and
assert the *planted* hazards are survived, not just that small data passes.

Two sizes, same code path:

- default (every pytest run): sf0.01 base x mult=10 -> 5k docs / 5k vectors
  / 100k events.  Small enough for CI, big enough that a quadratic candidate
  blowup or a driver materialization is a visible wall-clock cliff.
- ``SPARK_GRAFT_STRESS=full``: sf0.1 base x mult=10 -> 50k docs / 20k
  vectors / 1M events.  Run manually; per-query timings print as one JSON
  line (grep ``STRESS_TIMINGS``) and are recorded in ``SCALE.md``.

What the assertions buy (each maps to a SCALE.md design claim):

- *planted near-dup mass*: every base doc has mult-1 near-identical copies;
  MinHash+LSH must find a copy-pair for >=75% of base docs (recall through
  real duplicate mass, not a toy pair).
- *hot LSH bucket*: ~2% of embeddings are ONE identical vector -> a
  max-occupancy bucket in every hyperplane table.  The blocked cosine join
  must return ALL C(h,2) hot pairs exactly (candidate generation is
  bucket-complete for identical vectors) without blowing up.
- *mega-hot gram*: 20% of docs carry the same 220-char single-char run ->
  one k-gram key holds every occurrence.  `duplicate_spans` window form and
  `skew_safe` df form must agree row-for-row under that skew (the crossover
  timing is the printed evidence).
- *hot aggregation key*: 30% of events re-keyed to one user; totals must
  still be exactly mult x the base corpus (values/timestamps untouched by
  construction), proving the skewed groupBy path loses nothing.
"""
from __future__ import annotations

import json
import os
import time

import pytest
from pyspark.sql import functions as F

from insight_de_smart_grid_spark.plans.registry import QUERIES
from tests.conftest import SF_ORACLE
from tests.stress_corpus import (
    BIG,
    HOT_SOURCE,
    HOT_USER,
    PROBE_MOD,
    PROBE_RES,
    PROBE_RES2,
    build_stress_corpus,
)

# whole-module slow mark (round-12): the 10x stress sweep is the longest
# single file in the suite; it runs under SPARK_GRAFT_FULL_TESTS=1 (the
# builder's pre-commit sweep), not in the bounded default verify window
pytestmark = pytest.mark.slow

FULL = os.environ.get("SPARK_GRAFT_STRESS", "") == "full"
BASE = os.environ.get("SPARK_GRAFT_STRESS_BASE",
                      "/root/testdata/sf0.1" if FULL else SF_ORACLE)
MULT = int(os.environ.get("SPARK_GRAFT_STRESS_MULT", "10"))

TIMINGS: dict[str, float] = {}


@pytest.fixture(scope="module")
def stress_dir(spark, tmp_path_factory):
    out = tmp_path_factory.mktemp("stress")
    t0 = time.monotonic()
    d = build_stress_corpus(spark, str(out), base_sf=BASE, mult=MULT)
    TIMINGS["_build_corpus"] = round(time.monotonic() - t0, 2)
    return d


def _timed(name: str, fn, spark=None):
    """Time one fully-consumed execution. When ``spark`` is passed the
    call runs inside a ``checkpoint_scope`` so the localCheckpoint blocks
    the staging operators pin are released before the NEXT family runs —
    the same consume-then-release lifecycle bench.py uses. Without it the
    sweep accumulates every family's pinned blocks in the one 16g JVM;
    measured at 30x, that heap pressure OOMed a later broadcast build."""
    from insight_de_smart_grid_spark.operators.staging import (
        checkpoint_scope,
    )

    t0 = time.monotonic()
    if spark is not None:
        with checkpoint_scope(spark):
            out = fn()
    else:
        out = fn()
    TIMINGS[name] = round(time.monotonic() - t0, 2)
    return out


def test_corpus_invariants(spark, stress_dir):
    """The generator planted what the docstring says it planted."""
    base_docs = spark.read.parquet(f"{BASE}/documents.parquet").count()
    docs = spark.read.parquet(f"{stress_dir}/documents.parquet")
    assert docs.count() == base_docs * MULT

    hot_src = docs.filter(F.col("source") == HOT_SOURCE).count() / (
        base_docs * MULT)
    assert 0.6 <= hot_src <= 0.8  # Zipf head: ~70% one source

    ev = spark.read.parquet(f"{stress_dir}/events.parquet")
    base_ev = spark.read.parquet(f"{BASE}/events.parquet")
    n_base = base_ev.count()
    assert ev.count() == n_base * MULT
    hot_user = ev.filter(F.col("user_id") == HOT_USER).count() / (
        n_base * MULT)
    assert 0.25 <= hot_user <= 0.4  # ~30% re-keyed to one user

    emb = spark.read.parquet(f"{stress_dir}/embeddings.parquet")
    n_emb_base = spark.read.parquet(f"{BASE}/embeddings.parquet").count()
    assert emb.count() == n_emb_base * MULT


def test_minhash_recall_on_planted_copies(spark, stress_dir):
    """Every base doc has MULT-1 near-identical copies (one appended marker
    word); the registered MinHash+LSH query must recover a copy-pair for
    the vast majority of base docs — recall through real duplicate mass."""
    pairs = _timed(
        "dedup_minhash_lsh",
        lambda: QUERIES["dedup_minhash_lsh"].fn(spark, stress_dir)
        .filter(F.col("doc_a") % BIG == F.col("doc_b") % BIG)
        .select((F.col("doc_a") % BIG).alias("base_id"))
        .distinct().count(), spark)
    base_docs = spark.read.parquet(f"{BASE}/documents.parquet").count()
    recall = pairs / base_docs
    TIMINGS["minhash_copy_recall"] = round(recall, 4)
    # shortest docs (10 words -> 8 shingles) sit at copy-pair Jaccard ~0.72
    # where the 8x4 LSH detects ~92%; the median doc is ~1.0 detection
    assert recall >= 0.75


def test_blocked_tiers_recall_on_planted_copies(spark, stress_dir):
    """Round-7: the containment/winnow LSH tiers must recover the planted
    near-identical copy-pairs (copy containment ~1.0; dozens of shared
    rare fingerprints) for the vast majority of base docs — the blocked
    first pass keeps the duplicate mass the exact tiers would emit while
    never running the inversion that tracks C(mult,2) pair volume."""
    base_docs = spark.read.parquet(f"{BASE}/documents.parquet").count()

    def copy_recall(name):
        hits = (QUERIES[name].fn(spark, stress_dir)
                .filter(F.col("doc_a") % BIG == F.col("doc_b") % BIG)
                .select((F.col("doc_a") % BIG).alias("base_id"))
                .distinct().count())
        return hits / base_docs

    r_cont = _timed("dedup_containment_lsh_recall",
                    lambda: copy_recall("dedup_containment_lsh"), spark)
    TIMINGS["containment_lsh_copy_recall"] = round(r_cont, 4)
    # copies share every rare shingle with their base -> the rare-shingle
    # block alone recovers them; band collisions only add
    assert r_cont >= 0.9
    r_win = _timed("dedup_winnow_lsh_recall",
                   lambda: copy_recall("dedup_winnow_lsh"), spark)
    TIMINGS["winnow_lsh_copy_recall"] = round(r_win, 4)
    # measured: the LSH tier recalls EXACTLY what the exact tier does on
    # this corpus (0.53 == 0.53 at 10x) — the binding constraint is
    # winnow's own n_shared >= 5 bar on the shortest docs (few
    # fingerprints), not the band blocking; the floor pins the blocked
    # tier never drops below half while the oracle pins value equality
    assert r_win >= 0.5


def test_hot_lsh_bucket_is_complete_and_bounded(spark, stress_dir):
    """~2% of vectors are ONE identical vector: the hottest possible LSH
    bucket (every table, same bucket). Identical vectors can never miss —
    the blocked pair join must emit ALL C(h,2) hot pairs, exactly."""
    emb = spark.read.parquet(f"{stress_dir}/embeddings.parquet")
    hot_vec = [1.0 if i % 2 == 0 else -1.0 for i in range(64)]
    hot_ids = {r.vec_id for r in emb.filter(
        F.col("embedding") == F.array(*[F.lit(float(v)).cast("float")
                                        for v in hot_vec])).collect()}
    h = len(hot_ids)
    assert h >= 20  # the hazard is real (~2% of rows)

    pairs = _timed(
        "dedup_embedding_cosine",
        lambda: QUERIES["dedup_embedding_cosine"].fn(spark, stress_dir)
        .select("vec_a", "vec_b").collect(), spark)
    hot_pairs = {(r.vec_a, r.vec_b) for r in pairs
                 if r.vec_a in hot_ids and r.vec_b in hot_ids}
    assert len(hot_pairs) == h * (h - 1) // 2


def test_duplicate_spans_skew_crossover(spark, stress_dir):
    """The 220-char single-char run on 20% of docs makes every one of its
    k-grams ONE mega-hot key. Window form and skew_safe df form must agree
    row-for-row under that skew; timings print for SCALE.md."""
    def run(name):
        rows = QUERIES[name].fn(spark, stress_dir).collect()
        return sorted((r.doc_id, r.n_dup_spans, r.dup_chars, r.dup_frac)
                      for r in rows)

    window_form = _timed("dedup_duplicate_spans",
                         lambda: run("dedup_duplicate_spans"), spark)
    df_form = _timed("dedup_duplicate_spans_skew_safe",
                     lambda: run("dedup_duplicate_spans_skew_safe"), spark)
    assert window_form == df_form
    assert len(window_form) > 0


def test_hot_key_totals_scale_exactly(spark, stress_dir):
    """Totals are invariant to the planted key skew: values and timestamps
    are copied untouched, so the global sum must be exactly MULT x the base
    corpus even though 30% of rows pile onto one user."""
    def total(sf):
        return QUERIES["dash_total_power"].fn(spark, sf).collect()[0][0]

    stress_total = _timed("dash_total_power", lambda: total(stress_dir))
    base_total = total(BASE)
    assert stress_total == pytest.approx(base_total * MULT, rel=1e-9)

    top = _timed(
        "dash_top10_house",
        lambda: QUERIES["dash_top10_house"].fn(spark, stress_dir).collect())
    assert top[0][0] == str(HOT_USER)  # the hot user dominates the tile


def test_auto_planes_holds_candidate_volume(spark, stress_dir):
    """The occupancy^2 lever, measured on the skewed corpus: candidate
    volume (sum over buckets of occ*(occ-1), summed over tables) must drop
    monotonically with plane depth, and the auto depth must track corpus
    size — auto_n_planes resolves deeper on the 10x corpus than on its
    base whenever the 10x growth crosses a doubling boundary. The planted
    identical-vector bucket is a floor no depth can (or should) cut:
    identical vectors share every bucket at any depth."""
    from insight_de_smart_grid_spark.operators.similarity import (
        auto_n_planes,
        hyperplane_signatures,
    )

    emb = spark.read.parquet(f"{stress_dir}/embeddings.parquet")
    n = emb.count()
    auto = auto_n_planes(n)
    base_n = spark.read.parquet(f"{BASE}/embeddings.parquet").count()
    assert auto >= auto_n_planes(base_n)  # depth tracks corpus growth
    TIMINGS["auto_n_planes_resolved"] = auto

    def volume(planes):
        occ = (hyperplane_signatures(emb, n_tables=16, n_planes=planes)
               .groupBy("table", "bucket").count())
        return occ.agg(F.sum(F.col("count") * (F.col("count") - 1))
                       .alias("v")).first()[0]

    v_fixed = _timed("cand_volume_8p", lambda: volume(8))
    v_auto = _timed("cand_volume_auto", lambda: volume(auto))
    v_deeper = volume(auto + 2)
    TIMINGS["cand_volume_ratio_8p_over_auto"] = round(v_fixed / v_auto, 3)
    assert v_deeper < v_auto <= v_fixed if auto > 8 else v_deeper < v_fixed

    if FULL:
        # the wall-clock counterpart to the fixed-depth sim_knn_graph sweep
        # entry: same graph, auto depth — the SCALE.md lever, measured
        from insight_de_smart_grid_spark.operators.similarity import (
            knn_graph,
        )
        n_edges = _timed("knn_graph_auto",
                         lambda: knn_graph(emb, k=3,
                                           n_planes="auto").count(),
                         spark)
        assert n_edges > 0


def test_duty_cycle_auto_form_selection(spark, stress_dir):
    """The round-7 adaptive pane/explode probe, exercised on both
    corpora: the DENSE stress corpus (mult same-timestamp copies per
    pane) must select the pane decomposition, the sparse base fixture
    (~1 event per (key, pane)) must keep the single-shuffle explode
    plan. Plan-asserted via the pane form's make_interval marker."""
    from insight_de_smart_grid_spark.operators.sliding import (
        PANE_DENSITY_CROSSOVER,
        pane_density,
    )
    from insight_de_smart_grid_spark.sources.tables import readings_view

    dense = readings_view(spark, str(stress_dir))
    sparse = readings_view(spark, BASE)
    d_dense = pane_density(dense, 120)
    d_sparse = pane_density(sparse, 120)
    TIMINGS["pane_density_stress"] = round(d_dense, 2)
    TIMINGS["pane_density_base"] = round(d_sparse, 2)
    assert d_dense >= PANE_DENSITY_CROSSOVER > d_sparse

    def is_pane_plan(df):
        # analyzed plan: the optimizer constant-folds the literal
        # make_interval away (see test_duty_cycle.py::_is_pane_plan)
        return "make_interval" in df._jdf.queryExecution().analyzed(
            ).toString()

    auto_dense = QUERIES["duty_cycle_sliding_auto"].fn(spark,
                                                       str(stress_dir))
    auto_sparse = QUERIES["duty_cycle_sliding_auto"].fn(spark, BASE)
    assert is_pane_plan(auto_dense) and not is_pane_plan(auto_sparse)


def test_sampled_pane_density_agrees_on_both_regimes(spark, stress_dir):
    """Round-8: the sampled probe (Bernoulli row sample + Poisson
    inversion, ``pane_density(sample_fraction=...)``) must agree with the
    full probe on WHICH SIDE of the crossover both measured regimes sit —
    the dense stress corpus (~19 events/cell) and the sparse base fixture
    (~1). The timing pair is the SCALE.md evidence that the probe's
    aggregation cost stops scaling with corpus size; a sample smaller
    than min_sample_rows must fall back to the (exact) full probe."""
    from insight_de_smart_grid_spark.operators.sliding import (
        PANE_DENSITY_CROSSOVER,
        pane_density,
    )
    from insight_de_smart_grid_spark.sources.tables import readings_view

    dense = readings_view(spark, str(stress_dir))
    sparse = readings_view(spark, BASE)

    full_dense = _timed("probe_full_dense",
                        lambda: pane_density(dense, 120), spark)
    samp_dense = _timed(
        "probe_sampled_dense",
        lambda: pane_density(dense, 120, sample_fraction=0.1,
                             min_sample_rows=1_000), spark)
    full_sparse = pane_density(sparse, 120)
    samp_sparse = pane_density(sparse, 120, sample_fraction=0.1,
                               min_sample_rows=500)
    TIMINGS["probe_density_full_dense"] = round(full_dense, 2)
    TIMINGS["probe_density_sampled_dense"] = round(samp_dense, 2)
    # same side of the crossover in both regimes
    assert (full_dense >= PANE_DENSITY_CROSSOVER) == \
        (samp_dense >= PANE_DENSITY_CROSSOVER)
    assert (full_sparse >= PANE_DENSITY_CROSSOVER) == \
        (samp_sparse >= PANE_DENSITY_CROSSOVER)
    # the inversion is quantitatively close in the dense regime (the
    # decision margin regime; Poisson model + HLL rse bound ~20%)
    assert abs(samp_dense - full_dense) <= 0.25 * full_dense
    # under-threshold sample -> exact full-probe value
    assert pane_density(sparse, 120, sample_fraction=0.001,
                        min_sample_rows=10_000) == full_sparse


def test_bucketed_interval_join_matches_plain_under_hot_key(
        spark, stress_dir):
    """Round-8: the time-bucketed interval join must produce exactly the
    plain form's rows on the SKEWED corpus (30% of events on one user —
    the regime where bucket-boundary mistakes would show as missing or
    duplicated pairs). The paired timings are the growth evidence: plain
    pays hot-clicks x hot-purchases, bucketed pays only time-proximate
    pairs."""
    from insight_de_smart_grid_spark.operators.interval_join import (
        clicks_before_purchases,
        clicks_before_purchases_bucketed,
    )
    from insight_de_smart_grid_spark.sources.tables import load_table

    ev = load_table(spark, str(stress_dir), "events")

    def rows(tag, fn):
        return _timed(f"range_join_{tag}", lambda: sorted(
            (r.user_id, r.purchase_id, r.n_clicks, r.last_click_ts)
            for r in fn(ev, lookback="4 hours").collect()), spark)

    plain = rows("plain_collect", clicks_before_purchases)
    bucketed = rows("bucketed_collect", clicks_before_purchases_bucketed)
    assert plain and plain == bucketed


def test_ann_index_append_cost_tracks_delta_not_corpus(
        spark, stress_dir, tmp_path):
    """Round-8 index-maintenance sweep point: appending a FIXED-size
    delta must cost the same whether the index behind it holds the base
    corpus or the mult-x stress corpus — the append path never reads the
    index or re-counts history (plan-asserted in test_ann_index.py; this
    is the measured twin). Also pins result correctness at stress scale:
    index+append answers a probe query identically to a from-scratch
    index over the same union."""
    from insight_de_smart_grid_spark.operators import ann_index as ai

    small = spark.read.parquet(f"{BASE}/embeddings.parquet")
    big = spark.read.parquet(f"{stress_dir}/embeddings.parquet")
    # fixed delta: the base corpus re-keyed out of both id spaces
    delta = small.withColumn("vec_id", F.col("vec_id") + F.lit(10 ** 12))

    p_small, p_big = str(tmp_path / "s"), str(tmp_path / "b")
    ai.build_signature_index(small, p_small, n_tables=4, n_planes=8)
    ai.build_signature_index(big, p_big, n_tables=4, n_planes=8)
    _timed("ann_append_onto_base_idx",
           lambda: ai.append_signatures(delta, p_small), spark)
    _timed("ann_append_onto_stress_idx",
           lambda: ai.append_signatures(delta, p_big), spark)
    t_s = TIMINGS["ann_append_onto_base_idx"]
    t_b = TIMINGS["ann_append_onto_stress_idx"]
    # same delta, same work — corpus size must not leak into append cost
    # (generous 2x bound absorbs JVM noise at these sub-second walls)
    assert t_b <= 2.0 * max(t_s, 0.5)

    # correctness at stress scale: (big + delta) index == rebuild
    rebuilt = str(tmp_path / "r")
    ai.build_signature_index(big.unionByName(delta), rebuilt,
                             n_tables=4, n_planes=8)
    qv = small.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    got = sorted((r.vec_id, r.cos_sim) for r in ai.query_index_topk(
        spark, p_big, qv, k=10, exclude_id=0).collect())
    want = sorted((r.vec_id, r.cos_sim) for r in ai.query_index_topk(
        spark, rebuilt, qv, k=10, exclude_id=0).collect())
    assert got == want


def test_ann_batch_probe_one_job_beats_per_query_loop(
        spark, stress_dir, tmp_path):
    """Round-9 sweep point (VERDICT r8 items 2+3 measured together): ANN-
    checking a delta of Q query vectors through the batched probe — one
    job, probe set broadcast against the pruned bands scan — returns
    rows identical to Q driver-side ``query_index_topk`` loops and beats
    their wall (the loop pays Q job schedulings + Q driver round-trips).
    Also records the split layout's on-disk footprint vs the round-8
    long format at stress scale: vectors stored once, so the ratio lands
    near (bands + 1 vector copy) / (n_tables vector copies)."""
    from pathlib import Path

    from insight_de_smart_grid_spark.operators import ann_index as ai
    from insight_de_smart_grid_spark.operators.similarity import (
        hyperplane_signatures,
    )

    big = spark.read.parquet(f"{stress_dir}/embeddings.parquet")
    path = str(tmp_path / "bp")
    _timed("ann_index_build_split",
           lambda: ai.build_signature_index(big, path, n_tables=4,
                                            n_planes=8), spark)
    legacy = str(tmp_path / "legacy_long")
    (hyperplane_signatures(big, 4, 8, 64)
     .repartition("table").sortWithinPartitions("table", "bucket")
     .write.partitionBy("table").parquet(legacy))
    legacy_bytes = sum(f.stat().st_size
                       for f in Path(legacy).rglob("*.parquet"))
    ratio = ai.index_bytes(path) / legacy_bytes
    TIMINGS["ann_index_bytes_ratio_pct"] = round(ratio * 100, 1)
    assert ratio <= 0.5  # 4 tables: at most half; 16 tables: ~1/8

    q_n = 64 if FULL else 16
    qids = [r.vec_id for r in
            big.select("vec_id").orderBy("vec_id").limit(q_n).collect()]
    queries = big.filter(F.col("vec_id").isin(qids))
    got = _timed(
        f"ann_batch_probe_{q_n}q",
        lambda: sorted((r.query_id, r.vec_id, r.cos_sim) for r in
                       ai.query_index_batch_topk(spark, path, queries,
                                                 k=10).collect()), spark)

    def loop():
        rows = []
        for qid in qids:
            qv = (big.filter(F.col("vec_id") == qid)
                  .select("embedding").head()[0])
            rows += [(qid, r.vec_id, r.cos_sim) for r in
                     ai.query_index_topk(spark, path, qv, k=10,
                                         exclude_id=qid).collect()]
        return sorted(rows)

    want = _timed(f"ann_per_query_loop_{q_n}q", loop, spark)
    assert got == want and got
    assert (TIMINGS[f"ann_batch_probe_{q_n}q"]
            < TIMINGS[f"ann_per_query_loop_{q_n}q"])


def test_dedup_index_append_cost_tracks_delta_not_corpus(
        spark, stress_dir, tmp_path):
    """Round-8 index-maintenance sweep point, dedup side: appending a
    FIXED-size document delta must cost the same whether the index behind
    it holds the base corpus or the mult-x stress corpus — the append
    path shingles only the delta (plan-asserted in test_dedup_index.py;
    this is the measured twin). Correctness at stress scale: the
    incremental probe of a re-keyed base-corpus delta against the stress
    index must find a near-dup partner for >=75% of delta docs (every
    delta doc has mult near-identical copies already in the index — the
    same recall contract the inline MinHash sweep pins)."""
    from insight_de_smart_grid_spark.operators import dedup_index as di

    small = spark.read.parquet(f"{BASE}/documents.parquet")
    big = spark.read.parquet(f"{stress_dir}/documents.parquet")
    delta = small.withColumn("doc_id", F.col("doc_id") + F.lit(10 ** 12))

    p_small, p_big = str(tmp_path / "s"), str(tmp_path / "b")
    di.build_dedup_index(small, p_small)
    di.build_dedup_index(big, p_big)
    _timed("dedup_idx_append_onto_base",
           lambda: di.append_dedup_index(delta, p_small), spark)
    _timed("dedup_idx_append_onto_stress",
           lambda: di.append_dedup_index(delta, p_big), spark)
    t_s = TIMINGS["dedup_idx_append_onto_base"]
    t_b = TIMINGS["dedup_idx_append_onto_stress"]
    # same delta, same work — corpus size must not leak into append cost
    assert t_b <= 2.0 * max(t_s, 0.5)

    matched = _timed("dedup_idx_incremental_probe", lambda: (
        di.dedup_new_against_index(spark, p_big, delta)
        .select("doc_b").distinct().count()), spark)
    n_delta = delta.count()
    TIMINGS["dedup_idx_delta_docs_matched"] = matched
    assert matched >= 0.75 * n_delta


def test_ivf_index_append_cost_and_probe_pruning(spark, stress_dir,
                                                 tmp_path):
    """Round-9 third index family at stress scale: appending a
    FIXED-size vector delta costs the same whether the IVF index behind
    it holds the base corpus or the mult-x corpus (the append reads the
    delta + the k-row frozen centroid table, never the inverted lists —
    plan-asserted in test_ivf_index.py; this is the measured twin), and
    the probed slice of the lists stays a strict minority of the corpus
    (the nprobe/n_centroids pruning contract at stress scale)."""
    from insight_de_smart_grid_spark.operators import ivf_index as ii

    small = spark.read.parquet(f"{BASE}/embeddings.parquet")
    big = spark.read.parquet(f"{stress_dir}/embeddings.parquet")
    delta = small.withColumn("vec_id", F.col("vec_id") + F.lit(10 ** 12))

    p_small, p_big = str(tmp_path / "s"), str(tmp_path / "b")
    ii.build_ivf_index(small, p_small)
    _timed("ivf_index_build_stress",
           lambda: ii.build_ivf_index(big, p_big), spark)
    _timed("ivf_append_onto_base_idx",
           lambda: ii.append_ivf_index(delta, p_small), spark)
    _timed("ivf_append_onto_stress_idx",
           lambda: ii.append_ivf_index(delta, p_big), spark)
    t_s = TIMINGS["ivf_append_onto_base_idx"]
    t_b = TIMINGS["ivf_append_onto_stress_idx"]
    assert t_b <= 2.0 * max(t_s, 0.5)

    # probe correctness + pruning at stress scale: batched probe over a
    # query delta answers in one job and touches a strict subset of lists
    qids = [r.vec_id for r in
            big.select("vec_id").orderBy("vec_id").limit(8).collect()]
    queries = big.filter(F.col("vec_id").isin(qids))
    got = _timed("ivf_batch_probe_8q", lambda: (
        ii.query_ivf_batch_topk(spark, p_big, queries, k=10, nprobe=4)
        .count()), spark)
    assert got > 0
    lists = ii._read_table(spark, p_big, "lists")
    total = lists.count()
    # the 4 most popular probe targets cannot cover the corpus: clusters
    # partition it, and nprobe < n_centroids
    per_cluster = {r.cluster: r["count"] for r in
                   lists.groupBy("cluster").count().collect()}
    top4 = sum(sorted(per_cluster.values(), reverse=True)[:4])
    assert top4 < total


def test_sliding_pane_combine_under_timestamp_flood(spark, stress_dir):
    """Round-8 planted hazard: a duplicate-timestamp FLOOD — 1 in 20 of
    the hot user's events re-stamped to one fixed instant, so a single
    (key, pane) cell holds thousands of rows while every other cell stays
    at the corpus density. The pane form's exposure is its FIRST
    aggregation's hot group; partial (map-side) aggregation collapses the
    flood to at most one partial row per shuffle partition before the
    exchange, so the hot cell costs a local fold, not a shuffle skew —
    this test pins that the pane and explode forms stay row-identical
    under the flood and records both timings (the x30 full sweep is the
    SCALE.md growth evidence). The KMV pane partial's collect_set state
    is also exercised: its per-group state is the cell's DISTINCT value
    count, which the flood maximizes for its pane."""
    from insight_de_smart_grid_spark.operators.sliding import sliding_agg
    from insight_de_smart_grid_spark.sources.tables import load_table

    ev = load_table(spark, str(stress_dir), "events")
    flood = ev.withColumn(
        "ts",
        F.when((F.col("user_id") == HOT_USER)
               & (F.pmod(F.xxhash64("event_id"), 20) == 0),
               F.to_timestamp(F.lit("2024-01-05 00:01:30")))
        .otherwise(F.col("ts")))
    n_flood = flood.filter(
        F.col("ts") == F.to_timestamp(F.lit("2024-01-05 00:01:30"))).count()
    TIMINGS["flood_rows_in_one_pane"] = n_flood
    assert n_flood > 500  # the hazard is actually planted

    aggs = (("sum_value", "sum", "value"), ("n_vals", "count", "value"),
            ("kmv_users", "kmv_distinct", "user_id"))

    def run(tag, panes):
        out = _timed(f"sliding_flood_{tag}", lambda: sorted(
            (r.time_end, r.user_id,
             None if r.sum_value is None else round(r.sum_value, 6),
             r.n_vals, r.kmv_users)
            for r in sliding_agg(flood, aggs=aggs, keys=("user_id",),
                                 panes=panes).collect()), spark)
        return out

    assert run("explode", False) == run("panes", True)

    # the ranked aggregate through the same flood: the hot (event_type,
    # user, pane) cell maximizes one count; rank over exact integer counts
    # must stay form-invariant (ties broken by item asc on both paths)
    from insight_de_smart_grid_spark.operators.sliding import sliding_topk

    def run_topk(tag, panes):
        return _timed(f"sliding_flood_topk_{tag}", lambda: sorted(
            (r.time_end, r.event_type, r.user_id, r.cnt, r.rk)
            for r in sliding_topk(flood, keys=("event_type",),
                                  item="user_id", k=3,
                                  panes=panes).collect()), spark)

    assert run_topk("explode", False) == run_topk("panes", True)


def test_ann_recall_on_planted_neighbors(spark, stress_dir):
    """Round-7 ANN recall contract: the corpus plants PERTURBED copies
    (cos ~0.989..0.99999 to their base, vs ~0.75 max unrelated cross-cos)
    for base vectors with vec_id % PROBE_MOD == PROBE_RES — known-nearest
    pairs whose bucket collision is NOT free (identical copies share
    every bucket by construction; perturbed ones exercise the real
    p^planes geometry). Asserted, at whatever MULT the sweep runs:

    - recall@k of the occupancy-holding auto depth (``n_planes="auto"``,
      the sim_ann_auto_depth lever) >= 0.9 over the planted set;
    - multiprobe recall >= single-probe recall at the SAME (tables,
      planes) geometry per query (candidate superset — the documented
      monotonicity), and >= 0.9 absolute."""
    from insight_de_smart_grid_spark.operators.similarity import (
        lsh_ann_topk,
        lsh_multiprobe_topk,
    )

    emb = spark.read.parquet(f"{stress_dir}/embeddings.parquet")
    hot_vec = [1.0 if i % 2 == 0 else -1.0 for i in range(64)]

    base_ids = [r.vec_id for r in spark.read.parquet(
        f"{BASE}/embeddings.parquet")
        .filter(F.col("vec_id") % PROBE_MOD == PROBE_RES)
        .orderBy("vec_id").limit(6).collect()]
    rows = (emb.filter((F.col("vec_id") % BIG).isin(base_ids))
            .select("vec_id", "embedding").collect())
    by_base: dict[int, dict[int, list]] = {}
    for r in rows:
        by_base.setdefault(r.vec_id % BIG, {})[r.vec_id] = list(r.embedding)

    import math

    def cos(u, v):
        d = sum(a * b for a, b in zip(u, v))
        return d / (math.sqrt(sum(a * a for a in u))
                    * math.sqrt(sum(b * b for b in v)))

    queries = []  # (qid, planted neighbor ids)
    for b, grp in sorted(by_base.items()):
        if grp[b] == hot_vec:
            continue  # query itself hot-replaced: no planted clique
        planted = [vid for vid, v in grp.items()
                   if vid != b and v != hot_vec]
        if len(planted) < MULT - 3:
            continue
        # ground truth is REAL, not assumed: every planted copy sits at
        # cos >= 0.98 to its base
        assert all(cos(grp[b], grp[p]) >= 0.98 for p in planted)
        queries.append((b, set(planted)))
    assert len(queries) >= 3  # the corpus really planted the probes
    queries = queries[:4]

    k = MULT + 5

    def recall(fn, qid, planted, **kw):
        got = {r.vec_id for r in fn(emb, qid, k=k, **kw).collect()}
        return len(got & planted) / len(planted)

    r_auto = [recall(lsh_ann_topk, q, p, n_planes="auto")
              for q, p in queries]
    r_single = [recall(lsh_ann_topk, q, p, n_tables=4, n_planes=8)
                for q, p in queries]
    r_multi = [recall(lsh_multiprobe_topk, q, p, n_tables=4, n_planes=8)
               for q, p in queries]
    # auto radius at target 0.999 resolves radius 2 on the 4x8 geometry:
    # a strict mask superset of the fixed 1-bit form
    r_mauto = [recall(lsh_multiprobe_topk, q, p, n_tables=4, n_planes=8,
                      probe_radius="auto", target_recall=0.999)
               for q, p in queries]
    TIMINGS["ann_recall_auto_depth"] = round(sum(r_auto) / len(r_auto), 4)
    TIMINGS["ann_recall_single4x8"] = round(sum(r_single) / len(r_single), 4)
    TIMINGS["ann_recall_multiprobe4x8"] = round(sum(r_multi) / len(r_multi),
                                                4)
    TIMINGS["ann_recall_multiprobe_auto"] = round(sum(r_mauto)
                                                  / len(r_mauto), 4)
    assert sum(r_auto) / len(r_auto) >= 0.9
    assert all(m >= s for m, s in zip(r_multi, r_single))  # superset
    assert all(a >= m for a, m in zip(r_mauto, r_multi))   # radius 2 ⊇ 1
    assert sum(r_multi) / len(r_multi) >= 0.9
    # the auto radius was derived FOR a 0.999 target at cos 0.9; the
    # planted pairs sit at cos >= 0.98, so the model bound holds with room
    assert sum(r_mauto) / len(r_mauto) >= 0.95


def test_ann_recall_at_design_point_cos09(spark, stress_dir):
    """The auto probe radius and its binomial model are derived FOR a
    0.999 recall target at cos 0.9 — this test makes the contract bind
    there, not just at the near-1 regime band 1 covers. Band 2 plants
    copies at delta = 0.046*min(copy,10) (cos ~ 1/sqrt(1+delta^2),
    spanning ~0.999 down to ~0.90); recall is measured over the planted
    pairs at cos in [0.89, 0.98) — the regime where p^planes actually
    bites (a single 8-plane table matches such a pair with prob ~0.29)."""
    from insight_de_smart_grid_spark.operators.similarity import (
        lsh_ann_topk,
        lsh_multiprobe_topk,
    )

    emb = spark.read.parquet(f"{stress_dir}/embeddings.parquet")
    hot_vec = [1.0 if i % 2 == 0 else -1.0 for i in range(64)]
    base_ids = [r.vec_id for r in spark.read.parquet(
        f"{BASE}/embeddings.parquet")
        .filter(F.col("vec_id") % PROBE_MOD == PROBE_RES2)
        .orderBy("vec_id").limit(5).collect()]
    rows = (emb.filter((F.col("vec_id") % BIG).isin(base_ids))
            .select("vec_id", "embedding").collect())
    by_base: dict[int, dict[int, list]] = {}
    for r in rows:
        by_base.setdefault(r.vec_id % BIG, {})[r.vec_id] = list(r.embedding)

    import math

    def cos(u, v):
        d = sum(a * b for a, b in zip(u, v))
        return d / (math.sqrt(sum(a * a for a in u))
                    * math.sqrt(sum(b * b for b in v)))

    queries = []  # (qid, hard planted ids at cos in [0.89, 0.98))
    for b, grp in sorted(by_base.items()):
        if grp[b] == hot_vec:
            continue
        hard = [vid for vid, v in grp.items()
                if vid != b and v != hot_vec
                and 0.89 <= cos(grp[b], v) < 0.98]
        if hard:
            queries.append((b, set(hard)))
    n_pairs = sum(len(p) for _, p in queries)
    assert len(queries) >= 3 and n_pairs >= 8  # the band is really planted

    k = MULT + 5

    def recall(fn, **kw):
        hit = tot = 0
        for qid, planted in queries:
            got = {r.vec_id for r in fn(emb, qid, k=k, **kw).collect()}
            hit += len(got & planted)
            tot += len(planted)
        return hit / tot

    r_single = recall(lsh_ann_topk, n_tables=4, n_planes=8)
    r_mauto = recall(lsh_multiprobe_topk, n_tables=4, n_planes=8,
                     probe_radius="auto", target_recall=0.999)
    r_depth = recall(lsh_ann_topk, n_planes="auto")
    TIMINGS["ann09_recall_single4x8"] = round(r_single, 4)
    TIMINGS["ann09_recall_multiprobe_auto"] = round(r_mauto, 4)
    TIMINGS["ann09_recall_auto_depth"] = round(r_depth, 4)
    # the derived radius must deliver (model: >=0.999 per pair at
    # cos>=0.9; 0.9 leaves sampling slack) and dominate single-probe
    assert r_mauto >= 0.9
    assert r_mauto >= r_single
    # 16-table auto depth at cos 0.9: modeled 0.96-0.99 across sweep
    # sizes (p^depth ~ 0.18-0.29, 16 tables); 0.85 leaves sampling slack
    assert r_depth >= 0.85


def test_knn_graph_wall_ratio_with_levers(spark, stress_dir):
    """The round-5 measured super-linear point, closed: knn_graph at
    MULT x data (with the planted identical-vector bucket) vs the benign
    base corpus, running BOTH levers — occupancy-holding auto plane depth
    and the exact-duplicate representative pre-collapse (adaptive: the
    base corpus has no duplicate groups and takes the plain plan; the
    stress corpus collapses its hot group). Sub-linear wall for MULT x
    data is the SCALE.md claim; the ratio records as evidence and is
    asserted at the full stress size where timing noise is small."""
    from insight_de_smart_grid_spark.operators.similarity import knn_graph

    def run(d):
        emb = spark.read.parquet(f"{d}/embeddings.parquet")
        return knn_graph(emb, k=3, n_planes="auto").count()

    run(BASE)  # untimed warmup absorbs codegen/Arrow spin-up
    t0 = time.monotonic()
    n_base = run(BASE)
    t_base = time.monotonic() - t0
    t0 = time.monotonic()
    n_stress = run(stress_dir)
    t_stress = time.monotonic() - t0
    assert n_base > 0 and n_stress > 0
    ratio = round(t_stress / max(t_base, 1e-9), 2)
    TIMINGS["knn_graph_auto_base_s"] = round(t_base, 2)
    TIMINGS["knn_graph_auto_stress_s"] = round(t_stress, 2)
    TIMINGS["knn_graph_auto_wall_ratio"] = ratio
    if FULL:
        # MULT x data, planted hot bucket: wall must stay sub-linear —
        # <= 0.35 * MULT (at 10x that is 3.5x, well under the 7.2x
        # fixed-depth/no-collapse ratio round 5 measured)
        assert ratio <= 0.35 * MULT, ratio


SWEEP = [
    # blocked near-dup / similarity paths (the SCALE.md families).
    # Deliberately absent: dedup_clusters / dedup_ngram_jaccard — the exact
    # shingle-inversion tier is quadratic in hot-shingle document frequency
    # by construction (measured: OOMs a 16g JVM at 50k docs under the
    # planted boilerplate phrase). SCALE.md caveat #2 names the LSH tier
    # as the corpus-scale path; dedup_clusters_lsh below is that path.
    "dedup_exact",
    "dedup_simhash",
    "dedup_clusters_lsh",
    # round-7: the blocked first-pass tiers for the two output-bound exact
    # quadratics (winnow/containment track C(mult,2) true-pair mass; these
    # clear the same corpus from bounded band buckets)
    "dedup_containment_lsh",
    "dedup_winnow_lsh",
    "dedup_semantic",
    "dedup_winnow",
    "dedup_containment",
    "sim_ann_lsh_topk",
    "sim_knn_graph",
    "sim_kmeans_portable",
    # segment-inversion fuzzy match over the replicated supplier names
    "fuzzy_supplier_passjoin",
    # text + pipeline over the skewed source column
    "text_stats",
    "text_lang_id",
    "pipeline_source_cap",
    "pipeline_global_shuffle",
    "pipeline_pack_sequences",
    "pipeline_train_quality_clf",
    # hot (house, window) keys through rollup and stateful streaming;
    # the two sliding duty-cycle forms measure the pane-decomposition
    # crossover on a DENSE corpus (mult same-timestamp copies per pane)
    "duty_cycle_sliding",
    "duty_cycle_sliding_panes",
    "duty_cycle_sliding_auto",
    "events_sliding_stats",
    "events_sliding_stats_panes",
    "rollup_1s",
    "dash_timeseries_5s",
    "streaming_rollup",
    "streaming_duty_cycle",
    "streaming_duty_cycle_panes",
    "streaming_interpolate",
    # round-7: second-point coverage for the remaining streaming families
    # (the 30x sweep previously recorded only streaming rollup/duty/interp)
    "streaming_sequence_detect",
    "streaming_counter_deltas",
    "streaming_sliding_stats_panes",
    # round-8: the extended pane algebra (sliding distinct via KMV, sliding
    # variance via sum-of-squares) — explode vs pane growth on the dense
    # corpus is the SCALE.md evidence for the new decompositions
    "events_sliding_distinct",
    "events_sliding_distinct_panes",
    "events_sliding_stddev",
    "events_sliding_stddev_panes",
    "streaming_sliding_distinct_panes",
    "streaming_sliding_stddev_panes",
    # round-8: interval join, plain (per-key candidates — quadratic in the
    # 30% hot user) vs time-bucketed (per-(key, bucket) candidates); the
    # growth gap on this corpus is the SCALE.md evidence
    "range_join_clicks_before_purchase",
    "range_join_clicks_bucketed",
    # round-8: the persisted dedup index lifecycle (build 80% + two appends
    # + compact + full pair query) and the incremental delta-vs-index probe
    # through the planted duplicate mass
    "dedup_index_append",
    "dedup_index_incremental",
    # round-8: the ranked pane aggregate — per-item counts through the hot
    # (event_type, user, pane) cells, rank over the aggregated cardinality
    "events_sliding_topk",
    "events_sliding_topk_panes",
    "streaming_sliding_topk_panes",
    # round-8: the quantile algebra — binned-histogram sliding p95, bin
    # counts as pane sums; bounded state vs exact percentile's raw values
    "events_sliding_p95",
    "events_sliding_p95_panes",
    "streaming_sliding_p95_panes",
    # round-8: the persisted-index lifecycle as a scheduled-ingest loop,
    # and the same loop driven by real Structured-Streaming micro-batches
    "dedup_index_ingest_loop",
    "streaming_dedup_index_ingest",
    # round-8: multiprobe recall lever through the persisted ANN index
    "sim_ann_index_multiprobe",
]


@pytest.mark.parametrize("name", SWEEP)
def test_sweep_completes(spark, stress_dir, name):
    """Each family must complete against the stress corpus and return rows
    — a quadratic candidate blowup or single-task skew collapse shows up
    here as a wall-clock cliff (timings recorded for SCALE.md)."""
    n = _timed(name, lambda: QUERIES[name].fn(spark, stress_dir).count(),
               spark)
    assert n > 0


def test_ivf_trained_recall_at_design_point_cos09(spark, stress_dir,
                                                  tmp_path):
    """Round-10 (VERDICT r9 item 2): the IVF family gets the ANN
    family's recall methodology, against the TRAINED (bounded k-means)
    quantizer — with arbitrary-id placeholder centroids nprobe pruning
    had no geometric meaning, so the round-9 family demonstrated
    maintenance, not ANN search. Same planted band as
    ``test_ann_recall_at_design_point_cos09``: copies at cos in
    [0.89, 0.98) of their base; recall measured through the PERSISTED
    kmeans index at the (n_centroids=16, nprobe=4) design point, and
    nprobe=n_centroids (no pruning) must dominate it."""
    import math

    from insight_de_smart_grid_spark.operators import ivf_index as ii

    emb = spark.read.parquet(f"{stress_dir}/embeddings.parquet")
    hot_vec = [1.0 if i % 2 == 0 else -1.0 for i in range(64)]
    base_ids = [r.vec_id for r in spark.read.parquet(
        f"{BASE}/embeddings.parquet")
        .filter(F.col("vec_id") % PROBE_MOD == PROBE_RES2)
        .orderBy("vec_id").limit(5).collect()]
    rows = (emb.filter((F.col("vec_id") % BIG).isin(base_ids))
            .select("vec_id", "embedding").collect())
    by_base: dict[int, dict[int, list]] = {}
    for r in rows:
        by_base.setdefault(r.vec_id % BIG, {})[r.vec_id] = \
            list(r.embedding)

    def cos(u, v):
        d = sum(a * b for a, b in zip(u, v))
        return d / (math.sqrt(sum(a * a for a in u))
                    * math.sqrt(sum(b * b for b in v)))

    queries = []  # (qid, qvec, hard planted ids at cos in [0.89, 0.98))
    for b, grp in sorted(by_base.items()):
        if grp[b] == hot_vec:
            continue
        hard = [vid for vid, v in grp.items()
                if vid != b and v != hot_vec
                and 0.89 <= cos(grp[b], v) < 0.98]
        if hard:
            queries.append((b, grp[b], set(hard)))
    n_pairs = sum(len(p) for _, _, p in queries)
    assert len(queries) >= 3 and n_pairs >= 8

    path = str(tmp_path / "ivf_km")
    ii.build_ivf_index(emb, path, n_centroids=16, quantizer="kmeans")
    k = MULT + 5

    def recall(nprobe):
        hit = tot = 0
        for qid, qv, planted in queries:
            got = {r.vec_id for r in
                   ii.query_ivf_topk(spark, path, qv, k=k, nprobe=nprobe,
                                     exclude_id=qid).collect()}
            hit += len(got & planted)
            tot += len(planted)
        return hit / tot

    r_design = recall(4)
    r_full = recall(16)   # no pruning: the quantizer-internal ceiling
    r_auto = recall("auto")   # round-11 mass-derived per-query nprobe
    TIMINGS["ivf_recall_kmeans_16c_4p"] = round(r_design, 4)
    TIMINGS["ivf_recall_kmeans_16c_16p"] = round(r_full, 4)
    TIMINGS["ivf_recall_kmeans_16c_auto"] = round(r_auto, 4)
    # planted copies perturb their base slightly, so base and copy land
    # in the same (or an adjacent) trained cell; 4-of-16 probing must
    # recover >= 0.9 of pairs at cos >= 0.89 — the IVF design contract
    assert r_design >= 0.9
    assert r_full >= r_design
    # the derived nprobe (VERDICT r10 item 3) must hold the same design
    # contract with NO hand-pinned probe count
    assert r_auto >= 0.9


def test_ivf_skew_split_bounds_probe_cost(spark, tmp_path):
    """Round-11 bounded-imbalance contract (VERDICT r10 item 4): plant a
    corpus whose vectors are 90% tiny perturbations of ONE direction and
    whose LOWEST ids are 1 dense + 15 spread vectors — the worst case
    for both deterministic quantizers: the portable quantizer freezes
    those 16 ids (one dense centroid swallows ~90% of the corpus), and a
    kmeans RETRAIN inherits the same pathological lowest-id init (one
    seed in the dense cloud — plain Lloyd never splits a cluster its
    init under-seeded), so retrain is measurably NOT the rebalance
    lever here. ``split_hot_clusters`` is: median-projection cuts halve
    every >max_share cluster per pass until the bound holds, and the
    probe's candidate volume — the rows a dense query's nprobe lists
    hold — drops from ~nine-tenths of the corpus to a bounded slice."""
    import hashlib
    import math

    from insight_de_smart_grid_spark.operators import ivf_index as ii

    dim = 32
    n = 300 * MULT

    def unit(seed):
        ks = [int(hashlib.md5(f"{seed}|{d}".encode())
                  .hexdigest()[:8], 16) % 2001 - 1000 for d in range(dim)]
        z = math.sqrt(sum(x * x for x in ks)) or 1.0
        return [x / z for x in ks]

    base = unit("dense-base")
    rows = []
    for i in range(n):
        if 1 <= i <= 15 or i % 10 == 5:
            v = unit(f"spread|{i}")
        elif i == 0:
            v = base
        else:
            nz = unit(f"n|{i}")
            v = [b + 0.25 * x for b, x in zip(base, nz)]
        rows.append((i, v))
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")

    def max_share(path):
        c = [r.n for r in ii._read_table(spark, path, "lists")
             .groupBy("cluster").agg(F.count(F.lit(1)).alias("n"))
             .collect()]
        return max(c) / sum(c)

    def probed_rows(path, nprobe=2):
        qv = rows[20][1]          # a dense-cloud query
        cents = ii._read_table(spark, path, "centroids")
        from insight_de_smart_grid_spark.operators.similarity import (
            _dot, _norm,
        )
        qcol = F.array(*[F.lit(float(x)) for x in qv])
        top = [r.c_id for r in cents.withColumn(
            "s", _dot(qcol, F.col("cv")) / (_norm(qcol) * _norm(F.col("cv"))))
            .orderBy(F.desc("s"), F.asc("c_id")).limit(nprobe).collect()]
        return (ii._read_table(spark, path, "lists")
                .filter(F.col("cluster").isin(top)).count())

    p = str(tmp_path / "skew")
    ii.build_ivf_index(emb, p, n_centroids=16)
    share0 = max_share(p)
    cost0 = probed_rows(p)
    TIMINGS["ivf_skew_max_share_portable"] = round(share0, 4)
    assert share0 >= 0.8          # the hazard is real: one hot list

    # retrain does NOT rebalance this corpus (lowest-id init, 1 dense seed)
    p_rt = str(tmp_path / "skew_rt")
    ii.build_ivf_index(emb, p_rt, n_centroids=16)
    ii.retrain_ivf_index(spark, p_rt, quantizer="kmeans")
    share_rt = max_share(p_rt)
    TIMINGS["ivf_skew_max_share_after_retrain"] = round(share_rt, 4)
    assert share_rt >= 0.6        # the docstring's claim, measured

    # splitting is the lever: each pass halves the hot clusters
    passes = 0
    while max_share(p) > 0.3 and passes < 6:
        _timed(f"ivf_skew_split_pass_{passes}",
               lambda: ii.split_hot_clusters(spark, p, max_share=0.3),
               spark)
        passes += 1
    share1 = max_share(p)
    cost1 = probed_rows(p)
    TIMINGS["ivf_skew_max_share_after_split"] = round(share1, 4)
    TIMINGS["ivf_skew_probe_rows_before"] = cost0
    TIMINGS["ivf_skew_probe_rows_after"] = cost1
    assert share1 <= 0.3          # the bound holds after the passes
    assert cost0 >= 0.8 * n       # before: probing was a near-full scan
    assert cost1 <= 0.65 * cost0  # after: candidate volume is bounded
    # nothing lost, rows preserved exactly through every split pass
    assert ii._read_table(spark, p, "lists").count() == n


def test_bucketed_shuffle_probe_at_stress_scale(spark, stress_dir,
                                                tmp_path):
    """Round-10 big-delta path at stress scale (VERDICT r9 item 3): the
    SAME shuffle-mode incremental probe of a base-corpus-sized delta
    against the mult-x stress index, on the partitioned layout (index
    side shuffles on the band keys) vs the bucketed layout (index side
    exchange-free — the executed-plan walk from the small-corpus test,
    re-asserted here at scale). Pair sets must be identical; both walls
    record for SCALE.md."""
    from tests.conftest import exchange_above_scan

    from insight_de_smart_grid_spark.operators import dedup_index as di

    small = spark.read.parquet(f"{BASE}/documents.parquet")
    big = spark.read.parquet(f"{stress_dir}/documents.parquet")
    delta = small.withColumn("doc_id", F.col("doc_id") + F.lit(10 ** 12))

    p_part = str(tmp_path / "part")
    p_bk = str(tmp_path / "bk")
    di.build_dedup_index(big, p_part)
    _timed("dedup_idx_build_bucketed_stress",
           lambda: di.build_dedup_index(big, p_bk, layout="bucketed"),
           spark)

    def pairs(path):
        out = di.dedup_new_against_index(spark, path, delta,
                                         mode="shuffle")
        rows = sorted((r.doc_a, r.doc_b, r.jaccard)
                      for r in out.collect())
        return out, rows

    out_p, rows_p = [None], [None]

    def run_part():
        out_p[0], rows_p[0] = pairs(p_part)
        return len(rows_p[0])

    out_b, rows_b = [None], [None]

    def run_bk():
        out_b[0], rows_b[0] = pairs(p_bk)
        return len(rows_b[0])

    n_p = _timed("dedup_shuffle_probe_partitioned_stress", run_part,
                 spark)
    n_b = _timed("dedup_shuffle_probe_bucketed_stress", run_bk, spark)
    assert n_p == n_b and rows_p[0] == rows_b[0] and n_p > 0
    # the layout contract, re-checked on the at-scale executed plans
    assert exchange_above_scan(out_p[0], "/part/")
    assert not exchange_above_scan(out_b[0], "/bk/")


def test_zz_report():
    """Last in file: print one grep-able JSON line with all timings."""
    print("\nSTRESS_TIMINGS " + json.dumps(
        {"base": BASE, "mult": MULT, **TIMINGS}, sort_keys=True))
