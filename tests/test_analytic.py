"""Tests for the analytic-surface extensions (grouping sets, window battery,
RANGE moving average, PMI/Zipf corpus probes, portable IVF, keep-best dedup).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from insight_de_smart_grid_spark.operators import dedup as dd
from insight_de_smart_grid_spark.operators.similarity import (
    cosine_topk,
    ivf_portable_topk,
    matryoshka_topk,
    quantized_topk,
)
from insight_de_smart_grid_spark.sources.tables import load_table
from tests.conftest import SF_ORACLE
from tests.oracle import check_registered

ORACLE_CHECKED = [
    "star_grouping_sets",
    "window_battery",
    "events_moving_avg",
    "text_pmi_bigrams",
    "text_zipf_fit",
    "star_above_avg_orders",
    "sim_ivf_portable_topk",
    "dedup_keep_best",
    "streaming_left_join",
    "events_anomaly_zscore",
    "events_dow_hour_profile",
    "text_char_lm_xent",
    "events_props_variant",
    "dedup_duplicate_spans",
    "pipeline_chunk_documents",
    "events_funnel",
    "star_cohort_retention",
    "text_bm25_topk",
    "star_large_volume_orders",
    "events_transition_counts",
    "streaming_static_enrich",
    "streaming_upsert_compaction",
    "star_percentiles",
    "star_unpivot_quantity",
    "star_order_keys_concat",
    "dedup_containment",
    "star_market_share",
    "events_profile_report",
    "events_gap_stats",
    "avro_roundtrip_readings",
    "pipeline_prepare_training_data",
    "star_priority_with_late_items",
    "star_promo_share",
    "sim_quantized_topk",
    "sim_matryoshka_topk",
]


def test_streaming_left_join_emits_null_extended_rows(spark):
    """Outer semantics actually exercised: some purchases have no click in
    the lookback and surface with null click columns after watermark close."""
    from insight_de_smart_grid_spark.plans.registry import QUERIES

    out = QUERIES["streaming_left_join"].fn(spark, SF_ORACLE)
    assert out.filter(F.col("click_id").isNull()).count() > 0


@pytest.mark.parametrize("name", ORACLE_CHECKED)
def test_analytic_matches_oracle(spark, duck, name):
    check_registered(spark, duck, name)


def test_grouping_sets_totals_consistent(spark):
    """The () set equals the whole-table aggregate; each l_returnflag
    subtotal equals the sum of its (flag, status) cells."""
    from insight_de_smart_grid_spark.plans.registry import QUERIES

    out = QUERIES["star_grouping_sets"].fn(spark, SF_ORACLE).collect()
    total = [r for r in out if r.g_flag == 1 and r.g_status == 1]
    assert len(total) == 1
    cells = [r for r in out if r.g_flag == 0 and r.g_status == 0]
    assert abs(sum(r.sum_qty for r in cells) - total[0].sum_qty) < 1e-6
    for flag_row in (r for r in out if r.g_flag == 0 and r.g_status == 1):
        mine = [r for r in cells if r.l_returnflag == flag_row.l_returnflag]
        assert abs(sum(r.sum_qty for r in mine) - flag_row.sum_qty) < 1e-6


def test_grouping_sets_single_expand(spark):
    """All three sets come from ONE Expand + one aggregation — no plan
    should union per-set scans."""
    from insight_de_smart_grid_spark.plans.registry import QUERIES

    plan = (QUERIES["star_grouping_sets"].fn(spark, SF_ORACLE)
            ._jdf.queryExecution().executedPlan().toString())
    assert plan.count("Expand") >= 1
    assert "Union" not in plan


def test_window_battery_single_window_node(spark):
    """Same-spec window functions collapse into at most two Window nodes
    (running-frame + full-frame), i.e. one shuffle on o_custkey."""
    from insight_de_smart_grid_spark.plans.registry import QUERIES

    plan = (QUERIES["window_battery"].fn(spark, SF_ORACLE)
            ._jdf.queryExecution().executedPlan().toString())
    assert plan.count("Exchange") == 1


def test_moving_avg_counts_bounded_by_range(spark):
    """Every 5-minute trailing count is at least 1 (self) and no larger
    than the user's total event count."""
    ev = load_table(spark, SF_ORACLE, "events")
    per_user = ev.groupBy("user_id").count()
    from insight_de_smart_grid_spark.plans.registry import QUERIES

    out = (QUERIES["events_moving_avg"].fn(spark, SF_ORACLE)
           .join(ev.select("event_id", "user_id"), "event_id")
           .join(per_user, "user_id"))
    bad = out.filter((F.col("n_5m") < 1)
                     | (F.col("n_5m") > F.col("count"))).count()
    assert bad == 0


def test_keep_best_one_keeper_per_cluster(spark):
    docs = load_table(spark, SF_ORACLE, "documents")
    out = dd.keep_best_per_cluster(docs, dd.ngram_jaccard_pairs(docs))
    per_cluster = (out.groupBy("cluster_id")
                   .agg(F.sum("keep").alias("keepers"),
                        F.count("*").alias("members")))
    assert per_cluster.filter(F.col("keepers") != 1).count() == 0
    assert per_cluster.filter(F.col("members") < 2).count() == 0


def test_keep_best_prefers_quality_over_min_id(spark):
    """Within every cluster the keeper has max (quality, -doc_id) — i.e. the
    policy really ranks by quality, not by id."""
    docs = load_table(spark, SF_ORACLE, "documents")
    out = dd.keep_best_per_cluster(docs, dd.ngram_jaccard_pairs(docs))
    best = (out.groupBy("cluster_id").agg(F.max("quality").alias("maxq")))
    bad = (out.filter(F.col("keep") == 1).join(best, "cluster_id")
           .filter(F.col("quality") < F.col("maxq")).count())
    assert bad == 0


def test_portable_ivf_recall_vs_exact(spark):
    """The deterministic quantizer still lands most of the true top-10 in
    the probed lists (the corpus clusters by construction)."""
    emb = load_table(spark, SF_ORACLE, "embeddings")
    exact = {r.vec_id for r in cosine_topk(emb, 7, k=10).collect()}
    approx = {r.vec_id for r in ivf_portable_topk(emb, 7, k=10).collect()}
    assert len(exact & approx) >= 5


def test_auto_n_centroids_sqrt_rule():
    """C* = ceil(sqrt(nprobe * n)) — per-query cost O(sqrt(n)) — with the
    broadcast-bounding clamps."""
    from insight_de_smart_grid_spark.operators.similarity import (
        auto_n_centroids,
    )

    assert auto_n_centroids(0) == 16
    assert auto_n_centroids(50) == 16               # lo clamp
    assert auto_n_centroids(10_000, nprobe=4) == 200
    assert auto_n_centroids(1_000_000, nprobe=1) == 1000
    assert auto_n_centroids(10 ** 12) == 65536      # hi clamp (broadcast)
    ns = [auto_n_centroids(n) for n in (10, 10 ** 3, 10 ** 6, 10 ** 9)]
    assert ns == sorted(ns)                          # monotone in n
    # 4x the corpus -> 2x the centroids (between the clamps)
    assert auto_n_centroids(4 * 10 ** 6) == 2 * auto_n_centroids(10 ** 6)


def test_portable_ivf_auto_centroids_matches_explicit(spark):
    """n_centroids="auto" must equal the explicitly-resolved integer run
    row-for-row — the lever changes the quantizer size, nothing else — and
    still surface a true close neighbor in its probed lists."""
    from insight_de_smart_grid_spark.operators.similarity import (
        auto_n_centroids,
    )

    emb = load_table(spark, SF_ORACLE, "embeddings")
    resolved = auto_n_centroids(emb.count())
    auto_rows = sorted(map(tuple,
                           ivf_portable_topk(emb, 7, k=10,
                                             n_centroids="auto").collect()))
    explicit_rows = sorted(map(tuple,
                               ivf_portable_topk(
                                   emb, 7, k=10,
                                   n_centroids=resolved).collect()))
    assert auto_rows == explicit_rows
    assert len(auto_rows) == 10
    exact = {r.vec_id for r in cosine_topk(emb, 7, k=10).collect()}
    assert {r[0] for r in auto_rows} & exact


def test_portable_ivf_no_driver_collect(spark):
    """The whole plan is declarative — no toPandas/collect anywhere in the
    operator (probe selection included)."""
    emb = load_table(spark, SF_ORACLE, "embeddings")
    df = ivf_portable_topk(emb, 7, k=10)
    assert df.count() == 10  # materializes purely through the plan


def test_quantized_topk_recall_vs_exact(spark):
    """int8 max-abs quantization of 64-dim vectors barely perturbs cosine
    ordering: at 4x oversampling the rescored top-10 should recover nearly
    all of the exact top-10 (quantization error ~ 1/254 per component)."""
    emb = load_table(spark, SF_ORACLE, "embeddings")
    exact = {r.vec_id for r in cosine_topk(emb, 7, k=10).collect()}
    approx = {r.vec_id for r in quantized_topk(emb, 7, k=10).collect()}
    assert len(exact & approx) >= 8


def test_matryoshka_topk_recall_vs_exact(spark):
    """Prefix-16-of-64 ranking is lossier than int8 quantization (3/4 of the
    signal is unseen in stage 1), but with 4x oversampling and full-precision
    rescoring a majority of the true top-10 must survive on a corpus whose
    labels cluster by construction."""
    emb = load_table(spark, SF_ORACLE, "embeddings")
    exact = {r.vec_id for r in cosine_topk(emb, 7, k=10).collect()}
    approx = {r.vec_id for r in matryoshka_topk(emb, 7, k=10).collect()}
    assert len(exact & approx) >= 5


def test_quantized_codes_are_int8_range(spark):
    """The stage-1 ranking really runs over int8-representable codes: every
    quantized component must lie in [-127, 127] (the storage contract the
    4x memory claim rests on)."""
    emb = load_table(spark, SF_ORACLE, "embeddings").limit(50)
    v = F.col("embedding").cast("array<double>")
    maxabs = F.aggregate(v, F.lit(0.0),
                         lambda acc, x: F.greatest(acc, F.abs(x)))
    scale = F.greatest(maxabs, F.lit(1e-30)) / F.lit(127.0)
    qmax = emb.select(
        F.aggregate(
            F.transform(v, lambda x: F.abs(F.floor(x / scale + F.lit(0.5)))),
            F.lit(0.0), lambda acc, x: F.greatest(acc, x)).alias("m"))
    assert qmax.agg(F.max("m")).collect()[0][0] <= 127


def test_zipf_slope_is_negative(spark):
    from insight_de_smart_grid_spark.plans.registry import QUERIES

    row = QUERIES["text_zipf_fit"].fn(spark, SF_ORACLE).collect()[0]
    assert row.zipf_slope < 0
    assert row.n_ranks > 0 and row.n_tokens > 0


def test_char_lm_xent_single_explode(spark):
    """The per-doc bigram explode/aggregation happens ONCE: model counts are
    whole-partition windows over it, not separate aggregate+join branches
    that would recompute the subtree."""
    from insight_de_smart_grid_spark.plans.registry import QUERIES

    plan = (QUERIES["text_char_lm_xent"].fn(spark, SF_ORACLE)
            ._jdf.queryExecution().executedPlan().toString())
    assert plan.count("Generate explode") == 1
    assert "Join" not in plan


def test_anomaly_zscore_single_shuffle(spark):
    """Mean and stddev come from ONE whole-partition window — a single
    exchange on user_id, no self-join."""
    from insight_de_smart_grid_spark.plans.registry import QUERIES

    plan = (QUERIES["events_anomaly_zscore"].fn(spark, SF_ORACLE)
            ._jdf.queryExecution().executedPlan().toString())
    assert plan.count("Exchange") == 1


def test_duplicate_spans_finds_planted_substring(spark):
    """Two docs sharing one exact 60-char block (and otherwise unique text)
    each report exactly one duplicated span covering >= the block."""
    import string

    shared = ("the quick brown fox jumps over the lazy dog again and "
              "again!")
    uniq_a = " ".join(string.ascii_lowercase[i:i + 5] for i in range(20))
    uniq_b = " ".join(string.ascii_uppercase[i:i + 4] for i in range(20))
    docs = spark.createDataFrame(
        [(1, uniq_a + " " + shared + " " + uniq_a[::-1]),
         (2, uniq_b + " " + shared + " " + uniq_b[::-1]),
         (3, "entirely distinct filler content with no repeats at all x")],
        "doc_id long, text string")
    out = {r.doc_id: r for r in dd.duplicate_spans(docs, k=20).collect()}
    assert set(out) == {1, 2}
    for d in (1, 2):
        assert out[d].n_dup_spans == 1
        assert out[d].dup_chars >= len(shared)


def test_chunks_cover_whole_document(spark):
    """Chunk grid covers every char: the furthest chunk end equals the doc
    length and chunk 0 is the document prefix."""
    from insight_de_smart_grid_spark.operators.pipeline import chunk_documents

    docs = load_table(spark, SF_ORACLE, "documents")
    out = chunk_documents(docs)
    cover = (out.groupBy("doc_id")
             .agg(F.max(F.col("chunk_idx") * 192
                        + F.col("n_chunk_chars")).alias("covered")))
    bad = (cover.join(docs.select("doc_id",
                                  F.length("text").alias("n")), "doc_id")
           .filter(F.col("covered") != F.col("n")).count())
    assert bad == 0
    first = out.filter(F.col("chunk_idx") == 0).join(docs, "doc_id")
    assert first.filter(
        F.col("chunk") != F.expr("substring(text, 1, 256)")).count() == 0


def test_funnel_counts_are_monotone(spark):
    from insight_de_smart_grid_spark.plans.registry import QUERIES

    r = QUERIES["events_funnel"].fn(spark, SF_ORACLE).collect()[0]
    assert r.n_users >= r.n_view >= r.n_view_click >= r.n_full_funnel >= 0


def test_cohort_month_zero_equals_cohort_size(spark):
    """Every cohort is fully active at months_since=0 (the first order
    itself), so the 0-offset cell equals the cohort population."""
    from insight_de_smart_grid_spark.plans.registry import QUERIES

    out = QUERIES["star_cohort_retention"].fn(spark, SF_ORACLE)
    orders = load_table(spark, SF_ORACLE, "orders")
    mkey = (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
    sizes = (orders.groupBy("o_custkey").agg(F.min(mkey).alias("cohort_m"))
             .groupBy("cohort_m").agg(F.count(F.lit(1)).alias("pop")))
    zero = out.filter(F.col("months_since") == 0)
    bad = (zero.join(sizes, "cohort_m")
           .filter(F.col("active_customers") != F.col("pop")).count())
    assert bad == 0


def test_semantic_clusters_on_planted_neighbors(spark):
    """LSH-blocked cosine pairs -> min-label components, end-to-end on
    embeddings with REAL near-dups (the driver corpus has none above any
    production threshold — max pairwise cosine ~0.51, so the composition
    is proven here on planted data instead of a vacuous 0-row oracle)."""
    import numpy as np

    from insight_de_smart_grid_spark.operators.similarity import (
        cosine_pairs_blocked,
    )

    rng = np.random.RandomState(11)
    base = rng.randn(6, 64)
    rows = []
    vid = 0
    for b in base:
        for _ in range(3):  # three noisy copies per concept -> 6 clusters
            v = b + rng.randn(64) * 0.05
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = (cosine_pairs_blocked(emb, threshold=0.9)
             .select(F.col("vec_a").alias("doc_a"),
                     F.col("vec_b").alias("doc_b")))
    clusters = dd.dup_clusters(pairs).collect()
    by_cluster = {}
    for r in clusters:
        by_cluster.setdefault(r.cluster_id, set()).add(r.doc_id)
    assert len(by_cluster) == 6
    expected = [{3 * i, 3 * i + 1, 3 * i + 2} for i in range(6)]
    assert sorted(by_cluster.values(), key=min) == expected


def test_duplicate_spans_prunes_scan_to_id_and_text(spark):
    """The span pipeline reads only (doc_id, text) from parquet — lang/
    source/n_chars never leave the scan."""
    from insight_de_smart_grid_spark.plans.registry import QUERIES

    plan = (QUERIES["dedup_duplicate_spans"].fn(spark, SF_ORACLE)
            ._jdf.queryExecution().executedPlan().toString())
    import re
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert schemas, plan[:500]
    for s in schemas:
        cols = {c.split(":")[0] for c in s.split(",") if c}
        assert cols <= {"doc_id", "text"}, cols


def test_containment_catches_embedded_doc(spark):
    """A short doc fully embedded in a long host scores containment 1.0
    even though symmetric Jaccard is tiny — the asymmetric detector's whole
    point."""
    short = "alpha beta gamma delta epsilon zeta"
    filler_a = " ".join(f"w{i}" for i in range(60))
    filler_b = " ".join(f"v{i}" for i in range(60))
    host = filler_a + " " + short + " " + filler_b
    docs = spark.createDataFrame(
        [(1, short), (2, host), (3, "totally unrelated words here only")],
        "doc_id long, text string")
    pairs = {(r.doc_a, r.doc_b): r.containment
             for r in dd.containment_pairs(docs).collect()}
    assert pairs.get((1, 2)) == 1.0
    jac = {(r.doc_a, r.doc_b): r.jaccard
           for r in dd.ngram_jaccard_pairs(docs, threshold=0.0).collect()}
    assert jac[(1, 2)] < 0.2


def test_prepare_training_data_conserves_tokens(spark):
    """Shard summaries add up: total tokens across shards equals the token
    count of the survivor set computed independently."""
    from insight_de_smart_grid_spark.operators import pipeline as pl
    from insight_de_smart_grid_spark.operators.dedup import drop_exact_dups
    from insight_de_smart_grid_spark.operators.text import (
        lang_id,
        quality_score,
        token_count,
    )
    from insight_de_smart_grid_spark.plans.registry import QUERIES

    docs = load_table(spark, SF_ORACLE, "documents")
    kept = (docs.filter(lang_id("text") == "en")
            .filter(quality_score("text") >= 0.5))
    survivors = (drop_exact_dups(kept)
                 .join(pl.decontaminate(docs).select("doc_id"),
                       "doc_id", "left_anti"))
    want_docs = survivors.count()
    want_tokens = survivors.select(
        F.sum(token_count("text")).alias("s")).collect()[0].s
    out = QUERIES["pipeline_prepare_training_data"].fn(spark, SF_ORACLE)
    row = out.agg(F.sum("n_docs").alias("d"),
                  F.sum("total_tokens").alias("t")).collect()[0]
    assert row.d == want_docs
    assert row.t == want_tokens


def test_priority_late_items_single_semi_join(spark):
    """The correlated EXISTS plans as ONE semi join carrying the non-equi
    ship-date condition — no nested loop, no second scan of orders."""
    from insight_de_smart_grid_spark.plans.registry import QUERIES

    plan = (QUERIES["star_priority_with_late_items"].fn(spark, SF_ORACLE)
            ._jdf.queryExecution().executedPlan().toString())
    assert "LeftSemi" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_minhash_signatures_matches_fused_pipeline(spark):
    """The standalone signature builder and the fused signature+verify-set
    aggregation inside minhash_lsh_near_dups compute IDENTICAL minhashes —
    the sync guard that keeps the two copies of the affine formula honest."""
    docs = load_table(spark, SF_ORACLE, "documents").limit(50)
    from insight_de_smart_grid_spark.operators.dedup import (
        _MINHASH_P,
        _minhash_ab,
        minhash_signatures,
        portable_hash60,
        word_ngrams,
    )

    standalone = {r.doc_id: tuple(r)[1:] for r in
                  minhash_signatures(docs, n_hashes=8).collect()}
    sh = (word_ngrams(docs, 3)
          .select(F.col("doc_id"), portable_hash60(F.col("g")).alias("gh")))
    x = F.col("gh") % F.lit(_MINHASH_P)
    mins = [F.min((F.lit(a) * x + F.lit(b)) % F.lit(_MINHASH_P))
            .alias(f"mh{i}") for i, (a, b) in enumerate(_minhash_ab(8))]
    fused = {r.doc_id: tuple(r)[1:]
             for r in sh.groupBy("doc_id").agg(*mins).collect()}
    assert standalone == fused


def test_dup_clusters_raises_when_unconverged(spark):
    """A 5-node chain cannot converge in 1 round — must fail loud, not
    return split clusters."""
    import pytest

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 5)], "doc_a long, doc_b long")
    with pytest.raises(RuntimeError, match="converge"):
        dd.dup_clusters(pairs, max_rounds=1)
