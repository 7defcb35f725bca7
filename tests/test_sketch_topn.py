"""Tests for the frequent-items top-N sketch, approx-percentile bridge,
linear-interpolation gap repair, and per-source cap."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from insight_de_smart_grid_spark.operators.sketches import topn_frequent
from insight_de_smart_grid_spark.operators.timeseries import interpolate_gaps
from insight_de_smart_grid_spark.plans.registry import QUERIES
from insight_de_smart_grid_spark.sources.tables import load_table
from tests.conftest import SF_ORACLE
from tests.oracle import check_registered, compare

ORACLE_CHECKED = [
    "dash_topn_sketch",
    "star_approx_percentiles",
    "events_interpolate",
    "pipeline_source_cap",
]


@pytest.mark.parametrize("name", ORACLE_CHECKED)
def test_new_query_matches_oracle(spark, duck, name):
    check_registered(spark, duck, name)


def test_topn_under_pruning_pressure(spark):
    """With m far below per-shard distincts, the sketch must still (a) report
    exact counts for every surviving candidate, (b) keep the planted hot
    keys, and (c) only mark rows `guaranteed` when no pruned key could
    outrank them."""
    rows = []
    for k in range(200):                      # long tail: 1 row each
        rows.append((f"tail{k}",))
    for k in range(5):                        # hot heads: 50 - 10*k rows
        rows.extend([(f"hot{k}",)] * (50 - 10 * k))
    df = spark.createDataFrame(rows, "k: string").repartition(7)

    out = topn_frequent(df, "k", n=5, m=3, n_shards=8).collect()
    exact = {r.k: r.cnt for r in df.groupBy("k").count()
             .withColumnRenamed("count", "cnt").collect()}
    assert out, "sketch returned nothing"
    for r in out:
        assert r.cnt == exact[r.k], "candidate count must be exact"
    kept = [r.k for r in out]
    # hot0 (50) and hot1 (40) dwarf any shard's pruning ceiling (tail keys
    # have count 1, so thresholds are tiny) -> must survive and be flagged.
    top = {r.k: r for r in out}
    assert "hot0" in top and top["hot0"].rnk == 1 and top["hot0"].guaranteed
    assert "hot1" in top and top["hot1"].rnk == 2 and top["hot1"].guaranteed
    # guaranteed rows must truly be unbeatable: count strictly above every
    # pruned key's count (all pruned keys have exact count <= max threshold).
    pruned_max = max(c for k, c in exact.items() if k not in kept)
    for r in out:
        if r.guaranteed:
            assert r.cnt > pruned_max


def test_topn_exact_when_capacity_sufficient(spark):
    """m >= per-shard distincts -> identical to exact top-N, all rows
    guaranteed."""
    ev = load_table(spark, SF_ORACLE, "events")
    out = topn_frequent(ev, "user_id", n=10, m=64, n_shards=32).collect()
    exact = (ev.groupBy("user_id").count()
             .orderBy(F.desc("count"), F.asc("user_id")).limit(10).collect())
    assert [(r.user_id, r.cnt) for r in out] == \
        [(r.user_id, r["count"]) for r in exact]
    assert all(r.guaranteed for r in out)


def test_interpolate_midpoint_on_planted_gap(spark):
    """A single missing bucket between observations v=10 and v=20 must fill
    with 15 (midpoint), flagged unobserved; edges stay observed."""
    rows = [
        (1, "2024-01-01 00:30:00", 10.0),
        (1, "2024-01-01 02:15:00", 20.0),
    ]
    df = (spark.createDataFrame(rows, "user_id: int, ts: string, value: double")
          .withColumn("ts", F.col("ts").cast("timestamp")))
    out = {r.bucket_ts.hour: r for r in interpolate_gaps(df).collect()}
    assert out[0].value == 10.0 and out[0].is_observed
    assert out[2].value == 20.0 and out[2].is_observed
    assert out[1].value == 15.0 and not out[1].is_observed


def test_source_cap_uses_window_group_limit(spark):
    """The rank<=50 filter must push a WindowGroupLimit below the exchange
    so partitions pre-prune before shuffling."""
    plan = (QUERIES["pipeline_source_cap"].fn(spark, SF_ORACLE)
            ._jdf.queryExecution().executedPlan().toString())
    assert "WindowGroupLimit" in plan, plan


def test_kmv_retention_matches_oracle(spark, duck):
    check_registered(spark, duck, "sketch_kmv_retention")


def test_kmv_merge_is_lossless_for_union(spark):
    """The k smallest hashes of A∪B are always contained in kmv(A)∪kmv(B):
    sketching two halves separately and merging must equal sketching the
    union directly — the mergeability contract that lets per-day sketches
    roll up to weeks/months without touching raw data."""
    from insight_de_smart_grid_spark.operators.sketches import kmv_sketches

    ev = load_table(spark, SF_ORACLE, "events")
    k = 32
    whole = kmv_sketches(ev.withColumn("g", F.lit(1)), "user_id", "g", k=k)
    halves = kmv_sketches(
        ev.withColumn("g", (F.col("event_id") % 2).cast("int")),
        "user_id", "g", k=k)
    merged = (halves.agg(F.slice(F.array_sort(F.flatten(
        F.collect_list("kmv"))), 1, k).alias("m")).collect()[0].m)
    direct = whole.collect()[0].kmv
    # merged may contain duplicates across halves (same user both halves)
    dedup = sorted(set(merged))[:k]
    assert dedup[:len(direct)] == list(direct)[:len(dedup)]


def test_kmv_estimate_accuracy_under_incomplete_sketch(spark):
    """With k far below the true cardinality the estimator must land within
    3 standard errors (3/sqrt(k-2)) of the true distinct count."""
    from insight_de_smart_grid_spark.operators.sketches import (
        kmv_estimate, kmv_sketches)

    docs = load_table(spark, SF_ORACLE, "documents")
    k = 64
    sk = kmv_sketches(docs.withColumn("g", F.lit(1)), "doc_id", "g", k=k)
    est = sk.select(kmv_estimate(F.col("kmv"), F.col("sz"), k)
                    .alias("e")).collect()[0].e
    true = docs.select("doc_id").distinct().count()
    assert abs(est - true) / true < 3.0 / (k - 2) ** 0.5


def test_source_overlap_matches_oracle(spark, duck):
    check_registered(spark, duck, "text_source_overlap")


def test_balanced_shards_matches_oracle(spark, duck):
    check_registered(spark, duck, "pipeline_balanced_shards")


def test_balanced_shards_equalizes_totals(spark):
    """Every shard's total must land within one maximum-document-length of
    the mean (the serpentine-deal bound), every doc assigned exactly once —
    the property hash sharding lacks when sizes are skewed."""
    from insight_de_smart_grid_spark.operators.pipeline import balanced_shards

    docs = load_table(spark, SF_ORACLE, "documents")
    out = balanced_shards(docs, n_shards=16)
    assert out.count() == docs.count()
    assert out.select("doc_id").distinct().count() == docs.count()
    totals = [r.tot for r in
              out.groupBy("shard").agg(F.sum("n_chars").alias("tot"))
              .collect()]
    assert len(totals) == 16
    mean = sum(totals) / len(totals)
    max_doc = docs.agg(F.max("n_chars")).collect()[0][0]
    assert max(totals) <= mean + max_doc
    assert min(totals) >= mean - max_doc
    # and materially tighter than the worst shard of a naive hash deal
    assert max(totals) < 1.06 * mean and min(totals) > 0.94 * mean


def test_setops_all_matches_oracle(spark, duck):
    check_registered(spark, duck, "star_setops_all")


def test_mad_udaf_matches_oracle(spark, duck):
    check_registered(spark, duck, "events_mad_udaf")


def test_mad_udaf_known_answer(spark):
    """MAD of [1, 2, 4, 100] -> median 3, |x-3| = [2,1,1,97], MAD 1.5."""
    from insight_de_smart_grid_spark.functions.udafs import mad_udaf

    df = spark.createDataFrame(
        [(1, 1.0), (1, 2.0), (1, 4.0), (1, 100.0)], "g: int, value: double")
    out = df.groupBy("g").agg(mad_udaf(F.col("value")).alias("m")).collect()
    assert out[0].m == 1.5


def test_strip_markup_matches_oracle(spark, duck):
    check_registered(spark, duck, "text_strip_markup")


def test_strip_markup_known_answer(spark):
    from insight_de_smart_grid_spark.operators.text import strip_markup

    df = spark.createDataFrame(
        [("<div>a &amp; b</div> see https://x.y/z?a=1 end  ",)], "t: string")
    out = df.select(strip_markup("t").alias("s")).collect()[0].s
    assert out == "a b see end"


def test_topn_sketch_prunes_with_window_group_limit(spark):
    """The per-shard rank<=m cut must plan as WindowGroupLimit (map-side
    candidate pruning before the shuffle) — the property that bounds merge
    state at any key cardinality."""
    plan = (QUERIES["dash_topn_sketch"].fn(spark, SF_ORACLE)
            ._jdf.queryExecution().executedPlan().toString())
    assert "WindowGroupLimit" in plan, plan


def test_kmv_prunes_with_window_group_limit_and_no_collect_set(spark):
    """The rank<=k cut must plan as WindowGroupLimit, and no collect_set
    may appear anywhere (per-group state must stay bounded by k)."""
    plan = (QUERIES["sketch_kmv_retention"].fn(spark, SF_ORACLE)
            ._jdf.queryExecution().executedPlan().toString())
    assert "WindowGroupLimit" in plan, plan
    assert "collect_set" not in plan, plan


def test_balanced_shards_broadcasts_thresholds(spark):
    """The decile-threshold join must broadcast the one-row aggregate —
    never a sort-merge join against the corpus."""
    plan = (QUERIES["pipeline_balanced_shards"].fn(spark, SF_ORACLE)
            ._jdf.queryExecution().executedPlan().toString())
    assert "SortMergeJoin" not in plan, plan


def test_streaming_interpolate_matches_oracle(spark, duck):
    check_registered(spark, duck, "streaming_interpolate")


def test_streaming_interpolate_defers_until_right_wall_closes(spark, tmp_path):
    """Planted sequence 10 @h0, (gap h1), 20 @h2, 99 @h3: the h1 gap may
    only emit once h2 CLOSES (h3 arrives), lerped to 15; h3 stays open and
    unemitted; the gap ahead of an open wall never emits."""
    import pandas as pd_

    from insight_de_smart_grid_spark.streaming.gap_fill_stream import (
        interpolate_stream,
    )
    from insight_de_smart_grid_spark.streaming.replay import (
        replay_parquet_stream,
    )

    src = tmp_path / "src.parquet"
    df = spark.createDataFrame(
        [(1, "2024-01-01 00:30:00", 10.0),
         (1, "2024-01-01 02:15:00", 20.0),
         (1, "2024-01-01 03:05:00", 99.0)],
        "user_id: int, ts: string, value: double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    df.coalesce(1).write.parquet(str(src))

    out = replay_parquet_stream(
        spark, str(src), interpolate_stream).collect()
    got = {r.bucket_ts.hour: (r.value, r.is_observed) for r in out}
    assert got == {0: (10.0, True), 1: (15.0, False), 2: (20.0, True)}


def test_bloom_incremental_matches_oracle(spark, duck):
    check_registered(spark, duck, "dedup_incremental_bloom")


def test_bloom_prefilter_is_lossless_and_prunes(spark):
    """The bloom path must (a) return exactly the exact anti-join's rows
    (no false negatives can lose a duplicate, no false positive can leak
    one past the verify join) and (b) actually prune: the might_contain
    suspects must be far fewer than the incoming batch."""
    from insight_de_smart_grid_spark.operators.dedup import (
        bloom_might_contain_sql, build_bloom, fingerprint,
        incremental_dedup, incremental_dedup_bloom)

    docs = load_table(spark, SF_ORACLE, "documents")
    b = F.pmod(F.xxhash64(F.col("doc_id").cast("string")), F.lit(100))
    incoming, corpus = docs.filter(b >= 50), docs.filter(b < 50)

    exact = {r.doc_id for r in incremental_dedup(incoming, corpus).collect()}
    fast = {r.doc_id for r in
            incremental_dedup_bloom(incoming, corpus).collect()}
    assert fast == exact

    bloom = build_bloom(
        corpus.select(fingerprint("text").alias("fp")).distinct(), "fp")
    suspects = (incoming.withColumn("__fp", fingerprint("text"))
                .join(F.broadcast(bloom))
                .where(F.expr(bloom_might_contain_sql("bloom", "__fp")))
                .count())
    n_in = incoming.count()
    true_dups = n_in - len(exact)
    # suspects = true dups + fp tail; the tail must be small (fpp ~ 1e-4
    # at this fill factor, so <5% of incoming is a generous ceiling)
    assert suspects >= true_dups
    assert suspects <= true_dups + max(5, n_in // 20)


def test_sequence_detect_matches_oracle(spark, duck):
    check_registered(spark, duck, "events_sequence_detect")


def test_sequence_detect_on_planted_chain(spark, tmp_path):
    """Planted: a valid click->view->purchase chain, a broken one (no view),
    and one with a stale click outside the 30m hop — only the valid chain
    may fire, and it must pick the MOST RECENT qualifying view/click."""
    from insight_de_smart_grid_spark.plans.registry import QUERIES
    import os

    rows = [
        # user 1: valid chain, with an older click that must NOT be chosen
        (1, 1, "2024-01-01 10:00:00", "click"),
        (2, 1, "2024-01-01 10:05:00", "click"),
        (3, 1, "2024-01-01 10:10:00", "view"),
        (4, 1, "2024-01-01 10:20:00", "purchase"),
        # user 2: no view between click and purchase
        (5, 2, "2024-01-01 10:00:00", "click"),
        (6, 2, "2024-01-01 10:20:00", "purchase"),
        # user 3: click too far before the view (35m hop)
        (7, 3, "2024-01-01 09:00:00", "click"),
        (8, 3, "2024-01-01 09:40:00", "view"),
        (9, 3, "2024-01-01 09:50:00", "purchase"),
    ]
    df = (spark.createDataFrame(
        rows, "event_id: long, user_id: long, ts: string, event_type: string")
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withColumn("value", F.lit(1.0)).withColumn("props", F.lit("{}")))
    d = str(tmp_path)
    df.write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))

    out = QUERIES["events_sequence_detect"].fn(spark, d).collect()
    assert len(out) == 1
    r = out[0]
    assert r.user_id == 1
    assert r.click_ts.minute == 5   # the most recent qualifying click
    assert r.view_ts.minute == 10 and r.purchase_ts.minute == 20


def test_streaming_sequence_detect_matches_batch_oracle(spark, duck):
    check_registered(spark, duck, "streaming_sequence_detect")


def test_time_weighted_avg_matches_oracle(spark, duck):
    check_registered(spark, duck, "events_time_weighted_avg")


def test_time_weighted_avg_weighs_held_values(spark):
    """v=10 held 50 min then v=100 held 10 min (to bucket edge... clipped
    at next reading) within one day: TWA = (10*50 + 100*10)/60 = 25,
    where plain avg would say 55."""
    rows = [
        (1, "2024-01-01 23:00:00", 10.0),
        (1, "2024-01-01 23:50:00", 100.0),
    ]
    df = (spark.createDataFrame(rows, "user_id: int, ts: string, value: double")
          .withColumn("ts", F.col("ts").cast("timestamp")))
    from insight_de_smart_grid_spark.operators.timeseries import (
        time_weighted_avg,
    )
    out = time_weighted_avg(df).collect()
    assert len(out) == 1
    assert abs(out[0].twa - 25.0) < 1e-9
    assert out[0].covered_us == 3600 * 1_000_000


def test_observation_metrics_ride_the_same_pass(spark):
    """Observation aggregates must equal a separate count/sum — without a
    second scan (the metric comes back from the SAME collect)."""
    from insight_de_smart_grid_spark.streaming.monitor import observe_load

    ev = load_table(spark, SF_ORACLE, "events")
    df, obs = observe_load(
        ev, "load",
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("value").isNull().cast("int")).alias("null_values"))
    n_direct = df.count()   # the one action; metrics materialize here
    got = obs.get
    assert got["n_rows"] == n_direct
    assert got["null_values"] == ev.where(F.col("value").isNull()).count()


def test_streaming_listener_captures_progress(spark, tmp_path):
    """A replay runs in its own query session, where listeners on the
    caller's session cannot see it, so its progress comes from
    ``progress_out``: every micro-batch's input rows (the source plus the
    flush sentinel) and the state rows of its aggregation.
    ``ProgressCapture`` still sees every micro-batch of a stream started
    in the caller's session, such as the upsert compaction."""
    from insight_de_smart_grid_spark.sources.tables import (
        events_to_readings, normalize_event_ts)
    from insight_de_smart_grid_spark.streaming.duty_cycle_stream import (
        duty_cycle_stream_plan,
    )
    from insight_de_smart_grid_spark.streaming.monitor import ProgressCapture
    from insight_de_smart_grid_spark.streaming.replay import (
        replay_parquet_stream,
    )
    from insight_de_smart_grid_spark.streaming.stream_ops import (
        upsert_compaction_stream,
    )

    src = f"{SF_ORACLE}/events.parquet"
    n_src = spark.read.parquet(src).count()
    progress = []
    replay_parquet_stream(
        spark, src,
        lambda s: duty_cycle_stream_plan(
            events_to_readings(normalize_event_ts(s))),
        query_name="monitored_dc", flush_sentinel=True,
        progress_out=progress).count()
    assert sum(p["numInputRows"] for p in progress) >= n_src
    assert any(op["numRowsTotal"] > 0
               for p in progress for op in p["stateOperators"]), \
        "stateful aggregation should report state rows"

    cap = ProgressCapture()
    spark.streams.addListener(cap)
    try:
        upsert_compaction_stream(spark, src, str(tmp_path / "snap"),
                                 str(tmp_path / "ck"))
        captured = cap.drain()
    finally:
        spark.streams.removeListener(cap)
    assert captured, "no progress events captured"
    assert sum(p["num_input_rows"] for p in captured) >= n_src


def test_fuzzy_match_matches_oracle(spark, duck):
    check_registered(spark, duck, "fuzzy_supplier_match")


def test_fuzzy_match_recovers_planted_typos(spark):
    """Every dirty name (one substituted char, never position 0) must map
    back to its source supplier name at distance <= 1."""
    out = QUERIES["fuzzy_supplier_match"].fn(spark, SF_ORACLE).collect()
    n_sup = load_table(spark, SF_ORACLE, "supplier").count()
    assert len(out) == load_table(spark, SF_ORACLE, "supplier") \
        .selectExpr("concat(substring(s_name, 1, 1 + (s_suppkey % "
                    "(length(s_name) - 1))), 'x', substring(s_name, 3 + "
                    "(s_suppkey % (length(s_name) - 1)))) AS d") \
        .distinct().count()
    assert all(r.distance <= 1 for r in out)
    assert n_sup > 0


def test_passjoin_matches_oracle(spark, duck):
    check_registered(spark, duck, "fuzzy_supplier_passjoin")


def test_passjoin_equals_brute_force_on_indels(spark):
    """PassJoin blocking is LOSSLESS for general edit distance: on planted
    first-char deletion, first-char insertion, mid deletion, and
    substitution (the first two are exactly what (first char, length band)
    blocking cannot recall) the blocked result must equal the unblocked
    brute force."""
    from pyspark.sql import Window

    from insight_de_smart_grid_spark.operators.relational import (
        passjoin_fuzzy_match,
    )

    clean = spark.createDataFrame(
        [("Supplier#000000001",), ("Supplier#000000002",),
         ("Acme Widgets",), ("Shortname",)], "clean_name string")
    dirty = spark.createDataFrame(
        [("upplier#000000001",), ("Supplier#00x000002",),
         ("XAcme Widgets",), ("Shortnme",), ("totally different",)],
        "dirty_name string")
    got = {(r.dirty_name, r.clean_name, r.distance)
           for r in passjoin_fuzzy_match(dirty, clean).collect()}
    bf = (dirty.crossJoin(clean)
          .select("dirty_name", "clean_name",
                  F.levenshtein("dirty_name", "clean_name", 2).alias("d"))
          .where(F.col("d") >= 0))
    w = Window.partitionBy("dirty_name").orderBy("d", "clean_name")
    exp = {(r.dirty_name, r.clean_name, r.d)
           for r in bf.withColumn("rn", F.row_number().over(w))
           .where("rn = 1").collect()}
    assert got == exp and len(got) == 4
    # the first-char cases are present — tier-1 blocking would lose them
    assert ("upplier#000000001", "Supplier#000000001", 1) in got
    assert ("XAcme Widgets", "Acme Widgets", 1) in got


def test_benford_matches_oracle(spark, duck):
    check_registered(spark, duck, "audit_benford_totalprice")


def test_benford_partitions_and_masses(spark):
    """Digit counts must sum to the filtered row count and expected masses
    to ~1: the audit's internal consistency."""
    rows = QUERIES["audit_benford_totalprice"].fn(spark, SF_ORACLE).collect()
    o = load_table(spark, SF_ORACLE, "orders")
    n = o.where(F.col("o_totalprice") >= 1).count()
    assert sum(r.n_obs for r in rows) == n
    assert abs(sum(r.expected_n for r in rows) - n) < 1e-6 * n
    assert {r.digit for r in rows} <= set(range(1, 10))


def test_interpolate_avoids_quadratic_window_frame(spark):
    """The forward walls must come from a reverse-ordered RUNNING frame —
    an UnboundedFollowing frame is O(n^2) per key (measured 40x slower at
    sf0.1). The plan must not contain an UnboundedFollowing frame bound."""
    plan = (QUERIES["events_interpolate"].fn(spark, SF_ORACLE)
            ._jdf.queryExecution().executedPlan().toString())
    assert "unboundedfollowing" not in plan.lower(), plan


def test_streaming_full_join_matches_oracle(spark, duck):
    check_registered(spark, duck, "streaming_full_join")


def test_streaming_full_join_emits_both_outer_sides(spark):
    """Null-extended rows must appear on BOTH sides (unmatched purchases
    AND unmatched clicks) — the property the left join lacks — and no
    sentinel (-1) rows may leak."""
    out = QUERIES["streaming_full_join"].fn(spark, SF_ORACLE)
    rows = out.collect()
    assert any(r.purchase_id is None for r in rows)
    assert any(r.click_id is None for r in rows)
    assert all(r.user_id != -1 for r in rows)


def test_left_join_flushes_tail_unmatched_purchase(spark, tmp_path):
    """Regression for the per-side watermark stall: an unmatched purchase
    AFTER the last click (inside the stall window that a single-type
    sentinel cannot clear) must still emit a null-extended row.

    Uses the PRODUCTION replay config (one all-types sentinel, no
    max_files_per_trigger): the all-types sentinel advances both post-
    filter watermarks, and the final no-data micro-batch availableNow
    runs evicts state and emits the tail outer row."""
    from insight_de_smart_grid_spark.streaming.replay import (
        replay_parquet_stream,
    )
    from insight_de_smart_grid_spark.streaming.stream_ops import (
        purchase_click_left_stream_plan,
    )

    rows = [
        (1, 7, "2024-01-01 10:00:00", "click", 1.0, "{}"),
        (2, 7, "2024-01-01 10:10:00", "purchase", 1.0, "{}"),   # matched
        (3, 8, "2024-01-01 11:00:00", "purchase", 1.0, "{}"),   # tail, unmatched
    ]
    df = (spark.createDataFrame(
        rows, "event_id: long, user_id: long, ts: string, "
              "event_type: string, value: double, props: string")
        .withColumn("ts", F.col("ts").cast("timestamp")))
    src = tmp_path / "events.parquet"
    df.coalesce(1).write.parquet(str(src))

    out = replay_parquet_stream(
        spark, str(src), purchase_click_left_stream_plan,
        flush_sentinel=True, sentinel_all_types=True)
    got = {(r.purchase_id, r.click_id)
           for r in out.where(F.col("user_id") != -1).collect()}
    assert (2, 1) in got, got          # the matched pair
    assert (3, None) in got, got       # the stall-window outer row


def test_top_paths_matches_oracle(spark, duck):
    check_registered(spark, duck, "events_top_paths")


@pytest.mark.parametrize("name", [
    "pipeline_sample_k_per_source",
    "pipeline_cdc_net_state",
    "audit_table_checksum",
])
def test_ops_utilities_match_oracle(spark, duck, name):
    check_registered(spark, duck, name)


def test_sample_k_is_exact_and_stable(spark):
    out1 = QUERIES["pipeline_sample_k_per_source"].fn(spark, SF_ORACLE)
    out2 = QUERIES["pipeline_sample_k_per_source"].fn(spark, SF_ORACLE)
    per = out1.groupBy("source").count().collect()
    assert all(r["count"] == 25 for r in per)
    assert {r.doc_id for r in out1.collect()} == \
        {r.doc_id for r in out2.collect()}  # reproducible


def test_checksum_flips_on_any_row_change(spark):
    """Changing one value, dropping one row, or duplicating one row must
    each change the (checksum, n_rows) pair."""
    from insight_de_smart_grid_spark.plans.registry import QUERIES as Q

    base = Q["audit_table_checksum"].fn(spark, SF_ORACLE).collect()[0]
    li = load_table(spark, SF_ORACLE, "lineitem")

    def chk(df):
        rh = (F.conv(F.substring(F.md5(F.concat_ws(
            "|", F.col("l_orderkey").cast("string"),
            F.col("l_linenumber").cast("string"),
            F.col("l_quantity").cast("string"),
            F.col("l_returnflag"))), 1, 15), 16, 10).cast("long"))
        return tuple(df.select(rh.alias("rh"))
                     .agg(F.bit_xor("rh"), F.count(F.lit(1)))
                     .collect()[0])

    assert chk(li) == (base.checksum, base.n_rows)
    victim = li.select("l_orderkey", "l_linenumber").head(1)[0]
    hit = ((F.col("l_orderkey") == victim.l_orderkey)
           & (F.col("l_linenumber") == victim.l_linenumber))
    mutated = li.withColumn(
        "l_returnflag",
        F.when(hit, F.lit("Z")).otherwise(F.col("l_returnflag")))
    assert chk(mutated)[0] != base.checksum
    dropped = li.where(~hit)
    assert chk(dropped) != (base.checksum, base.n_rows)


def test_streaming_kmv_daily_matches_oracle(spark, duck):
    check_registered(spark, duck, "streaming_kmv_daily")


def test_streaming_kmv_state_is_bounded(spark):
    """Every emitted sketch must retain at most k hashes regardless of the
    day's event volume (the bounded-state contract)."""
    rows = QUERIES["streaming_kmv_daily"].fn(spark, SF_ORACLE).collect()
    assert rows
    assert all(r.retained <= 64 for r in rows)


def test_dedup_savings_matches_oracle(spark, duck):
    check_registered(spark, duck, "dedup_savings_report")


def test_dedup_savings_identities(spark):
    """chars_saved must equal chars_total minus the keeper's n_chars, and
    every cluster keeps exactly one document."""
    rows = QUERIES["dedup_savings_report"].fn(spark, SF_ORACLE).collect()
    assert rows
    docs = {r.doc_id: r.n_chars for r in
            load_table(spark, SF_ORACLE, "documents")
            .select("doc_id", "n_chars").collect()}
    for r in rows:
        assert r.chars_saved == r.chars_total - docs[r.keeper_doc]
        assert r.n_docs >= 2  # singleton docs never form clusters


def test_aqe_converts_smj_to_broadcast_at_runtime(spark):
    """With the static broadcast threshold disabled, AQE must still convert
    the join to broadcast at runtime once the filtered dim's actual size
    is known — the optimizer safety net a 100 TB plan relies on when
    static stats lie."""
    from insight_de_smart_grid_spark.sources.tables import load_table as lt

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    try:
        # static planner: broadcasts off; runtime: AQE's own threshold on
        # (it does NOT inherit a sane default when the static one is -1)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold",
                       "10485760")
        li = lt(spark, SF_ORACLE, "lineitem")
        pt = lt(spark, SF_ORACLE, "part").where(F.col("p_size") == 1)
        j = li.join(pt, li.l_partkey == pt.p_partkey).groupBy("p_brand") \
              .agg(F.sum("l_quantity").alias("q"))
        j.collect()  # materialize so AQE finalizes the plan
        final = j._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in final, final
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")


def test_audit_integrity_matches_oracle(spark, duck):
    check_registered(spark, duck, "audit_integrity")


def test_audit_integrity_counts_planted_violations(spark):
    """Each rule fires on exactly the violations planted for it (and the
    clean rows never count)."""
    from insight_de_smart_grid_spark.operators.relational import (
        integrity_report,
    )

    orders = spark.createDataFrame(
        [(1, 10, "2024-01-01"), (2, 11, "2024-01-02"),
         (2, 11, "2024-01-02"),          # duplicate pk (x2 -> 1 dup group)
         (None, 12, "2024-01-03")],      # null pk
        "o_orderkey long, o_custkey long, o_orderdate string")
    customer = spark.createDataFrame([(10,), (11,)], "c_custkey long")
    lineitem = spark.createDataFrame(
        [(1, 1, 5.0, "2024-01-05"),
         (1, 1, 5.0, "2023-12-31"),      # dup pk AND shipped before order
         (99, 1, 5.0, "2024-01-05"),     # orphan orderkey
         (2, 1, -3.0, "2024-01-05")],    # nonpositive qty
        "l_orderkey long, l_linenumber int, l_quantity double,"
        " l_shipdate string")
    events = spark.createDataFrame([(None,), ("2024-01-01 00:00:00",)],
                                   "ts string") \
        .select(F.to_timestamp("ts").alias("ts"))
    got = {r.check: r.n_violations
           for r in integrity_report(lineitem, orders, customer,
                                     events).collect()}
    assert got == {
        "lineitem_orphan_orderkey": 1,
        "orders_orphan_custkey": 1,          # the null-key order's cust 12
        "orders_duplicate_pk": 1,
        "lineitem_duplicate_pk": 1,
        "orders_null_key": 1,
        "lineitem_nonpositive_qty": 1,
        "lineitem_shipped_before_order": 1,
        "events_null_ts": 1,
    }


def test_m4_matches_oracle(spark, duck):
    check_registered(spark, duck, "dash_m4_downsample")


def test_m4_preserves_bucket_extremes_with_bounded_rows(spark):
    """Per (series, bucket): at most 4 rows survive, and the surviving rows
    contain the bucket's true min/max value and first/last timestamp — the
    pixel-exactness contract of M4 decimation."""
    from insight_de_smart_grid_spark.operators.dashboard import m4_downsample
    from insight_de_smart_grid_spark.sources.tables import readings_view

    r = readings_view(spark, SF_ORACLE)
    out = m4_downsample(r, "1 minute")
    per = (out.groupBy("house_id", "appliance_id", "bucket_start")
           .agg(F.count(F.lit(1)).alias("n"),
                F.min("power").alias("minp"), F.max("power").alias("maxp"),
                F.min("ts").alias("mints"), F.max("ts").alias("maxts")))
    assert per.filter("n > 4").count() == 0
    truth = (r.withColumn("bucket_start",
                          F.window("ts", "1 minute")["start"])
             .groupBy("house_id", "appliance_id", "bucket_start")
             .agg(F.min("power").alias("tminp"), F.max("power").alias("tmaxp"),
                  F.min("ts").alias("tmints"), F.max("ts").alias("tmaxts")))
    joined = per.join(truth, ["house_id", "appliance_id", "bucket_start"])
    assert joined.count() == truth.count()
    assert joined.filter("minp != tminp OR maxp != tmaxp OR "
                         "mints != tmints OR maxts != tmaxts").count() == 0


def test_compare_rejects_tzaware_vs_naive_timestamps(spark, duck):
    """Regression for the round-2 dash_m4_downsample driver failure: the
    local canonicalizer used to silently convert tz-aware datetimes to
    naive UTC, so a TIMESTAMPTZ-returning oracle (DuckDB to_timestamp)
    matched a plain-TIMESTAMP Spark column locally while the driver's
    schema check failed. tz-aware vs naive must now mismatch locally too."""
    import pytest as _pytest

    sdf = spark.sql("SELECT timestamp'1970-01-01 00:00:00' AS ts")
    with _pytest.raises(AssertionError):
        compare(sdf, duck, "SELECT to_timestamp(0) AS ts")
    # the sanctioned bucket form (plain TIMESTAMP) still matches
    compare(sdf, duck, "SELECT TIMESTAMP '1970-01-01 00:00:00' AS ts")


def test_integrity_oracle_null_key_parity(spark):
    """NOT IN vs anti-join NULL semantics: with NULL key columns present
    (exactly what orders_null_key audits for), the oracle must count the
    same orphans as the left_anti engine path — guarded by the NOT EXISTS
    rewrite (a NOT IN oracle yields UNKNOWN and counts 0)."""
    import duckdb as _duckdb

    from insight_de_smart_grid_spark.operators.relational import (
        INTEGRITY_ORACLE_SQL,
        integrity_report,
    )

    lineitem = spark.createDataFrame(
        [(None, 1, 1, 1, 5.0, "2024-01-05"),   # NULL fk -> orphan
         (1, 1, 1, 1, 5.0, "2024-01-05"),
         (99, 1, 1, 1, 5.0, "2024-01-05")],    # dangling fk -> orphan
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int,"
        " l_quantity double, l_shipdate string") \
        .withColumn("l_shipdate", F.to_timestamp("l_shipdate"))
    orders = spark.createDataFrame(
        [(1, 10, "2024-01-01"), (None, 11, "2024-01-02")],
        "o_orderkey long, o_custkey long, o_orderdate string") \
        .withColumn("o_orderdate", F.to_timestamp("o_orderdate"))
    customer = spark.createDataFrame([(10,)], "c_custkey long")
    events = spark.createDataFrame(
        [("2024-01-01 00:00:00",)], "ts string") \
        .select(F.to_timestamp("ts").alias("ts"))

    con = _duckdb.connect()
    for name, df in [("lineitem", lineitem), ("orders", orders),
                     ("customer", customer), ("events", events)]:
        con.register(f"{name}_pd", df.toPandas())
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM {name}_pd")
    compare(integrity_report(lineitem, orders, customer, events),
            con, INTEGRITY_ORACLE_SQL)
    got = {r.check: r.n_violations
           for r in integrity_report(lineitem, orders, customer,
                                     events).collect()}
    # NULL l_orderkey matches no order under either engine's semantics
    assert got["lineitem_orphan_orderkey"] == 2
    assert got["orders_orphan_custkey"] == 1
    con.close()


def test_passjoin_catches_short_string_pairs(spark):
    """Pigeonhole blind spot: for clean strings of length <= max_dist the
    untouched segment can be empty, so pure segment inversion misses pairs
    like ('xy' -> 'ab', d=2). The short-string fallback must catch them
    while long strings still resolve through the segment index."""
    from insight_de_smart_grid_spark.operators.relational import (
        passjoin_fuzzy_match,
    )

    clean = spark.createDataFrame(
        [("ab",), ("Acme Widgets",)], "clean_name string")
    dirty = spark.createDataFrame(
        [("xy",),                 # dist 2 to 'ab': no shared nonempty segment
         ("a",),                  # dist 1 to 'ab'
         ("Acme Widgetts",)],     # dist 1, long-string path
        "dirty_name string")
    got = {(r.dirty_name, r.clean_name, r.distance)
           for r in passjoin_fuzzy_match(dirty, clean).collect()}
    assert ("xy", "ab", 2) in got, got
    assert ("a", "ab", 1) in got, got
    assert ("Acme Widgetts", "Acme Widgets", 1) in got, got
