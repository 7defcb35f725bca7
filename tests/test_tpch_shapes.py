"""Tests for the TPC-H join-shape module (Q5/Q6/Q10/Q13/Q15/Q16/Q17/Q19/
Q21/Q22 analogs), the HLL sketch rollup, and PII redaction."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from insight_de_smart_grid_spark.operators.sketches import (
    hll_reaggregate,
    hll_rollup,
)
from insight_de_smart_grid_spark.operators.text import redact_pii
from insight_de_smart_grid_spark.plans.registry import QUERIES
from insight_de_smart_grid_spark.sources.tables import load_table
from tests.conftest import SF_ORACLE
from tests.oracle import check_registered

ORACLE_CHECKED = [
    "star_local_supplier_volume",
    "star_returned_items",
    "star_order_count_distribution",
    "star_top_supplier",
    "star_parts_supplier_counts",
    "star_small_qty_revenue",
    "star_disjunctive_revenue",
    "star_late_sole_supplier",
    "star_sales_opportunity",
    "star_forecast_revenue",
    "rollup_hll_distinct",
    "text_pii_redaction",
    "pipeline_global_shuffle",
    "text_normalize",
    "streaming_hll_rollup",
    "pipeline_scd2_intervals",
    "events_gap_fill",
    "events_counter_deltas",
    "events_seasonal_anomaly",
    "events_band_join",
    "kafka_pipeline_sim",
    "streaming_kafka_pipeline",
    "sessionize_dynamic_gap",
    "map_battery",
    "try_arithmetic_battery",
    "streaming_gap_fill",
    "streaming_counter_deltas",
    "streaming_scd2",
]


def test_gap_fill_carries_values_across_planted_gap(spark):
    """Forward fill on a constructed series: key 1 observes hours 0 and 3;
    hours 1-2 must exist, carry value 10.0, and be flagged unobserved."""
    from insight_de_smart_grid_spark.operators.timeseries import gap_fill

    df = spark.createDataFrame(
        [(1, "2024-01-01 00:30:00", 10.0), (1, "2024-01-01 03:10:00", 40.0)],
        "user_id long, ts string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = {r.bucket_ts.hour: r for r in gap_fill(df).collect()}
    assert sorted(out) == [0, 1, 2, 3]
    assert out[1].value == 10.0 and not out[1].is_observed
    assert out[2].value == 10.0 and not out[2].is_observed
    assert out[3].value == 40.0 and out[3].is_observed


def test_counter_deltas_flags_resets(spark):
    from insight_de_smart_grid_spark.operators.timeseries import (
        counter_deltas,
    )

    df = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", 100.0),
         (1, "2024-01-01 01:00:00", 130.0),
         (1, "2024-01-01 02:00:00", 5.0),    # meter restart
         (1, "2024-01-01 03:00:00", 25.0)],
        "user_id long, ts string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    rows = counter_deltas(df).orderBy("ts").collect()
    assert [r.consumed for r in rows] == [30.0, 5.0, 20.0]
    assert [r.is_reset for r in rows] == [False, True, False]


def test_scd2_single_shuffle_and_interval_chain(spark):
    """All SCD2 window/group stages share one hash(user_id) exchange, and
    the output is a well-formed history: per user, intervals chain
    (valid_to == next valid_from), exactly one is_current, consecutive
    states differ."""
    df = QUERIES["pipeline_scd2_intervals"].fn(spark, SF_ORACLE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan
    rows = df.orderBy("user_id", "valid_from").collect()
    by_user: dict = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    for seq in by_user.values():
        assert sum(r.is_current for r in seq) == 1
        for a, b in zip(seq, seq[1:]):
            assert a.valid_to == b.valid_from
            assert a.state != b.state


def test_global_shuffle_reseeds_and_covers(spark):
    """Different seeds permute differently; every doc appears exactly once;
    positions are dense 1..n per shard."""
    from insight_de_smart_grid_spark.operators.pipeline import global_shuffle

    docs = load_table(spark, SF_ORACLE, "documents")
    a = global_shuffle(docs, seed="ep0")
    b = global_shuffle(docs, seed="ep1")
    n = docs.count()
    assert a.count() == n and b.count() == n
    assert a.select("doc_id").distinct().count() == n
    moved = (a.alias("a").join(b.alias("b"), "doc_id")
             .where("a.shard <> b.shard OR a.pos <> b.pos").count())
    assert moved > n // 2  # reseeding really permutes
    per_shard = a.groupBy("shard").agg(
        F.count("*").alias("c"), F.max("pos").alias("m")).collect()
    assert all(r.c == r.m for r in per_shard)


@pytest.mark.parametrize("name", ORACLE_CHECKED)
def test_tpch_shape_matches_oracle(spark, duck, name):
    check_registered(spark, duck, name)


def test_q13_keeps_zero_order_customers(spark):
    """The outer-join-with-ON-predicate semantics: the distribution must
    contain a c_count=0 bucket (customers whose orders are all excluded or
    absent) — a WHERE-clause formulation would lose it."""
    out = QUERIES["star_order_count_distribution"].fn(spark, SF_ORACLE)
    zero = out.where(F.col("c_count") == 0).collect()
    assert zero and zero[0].n_customers > 0


def test_q19_part_filter_pushed_into_broadcast_side(spark):
    """Catalyst must factor the common brand-membership predicate out of the
    OR and push it below the join: the part-side scan carries a pushed
    filter, and the join is a broadcast hash join (fact never shuffles)."""
    plan = QUERIES["star_disjunctive_revenue"].fn(
        spark, SF_ORACLE)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_q6_predicates_reach_scan(spark):
    """All Q6 predicates are pushable: the lineitem scan node itself must
    carry shipdate/discount/quantity in PushedFilters."""
    df = QUERIES["star_forecast_revenue"].fn(spark, SF_ORACLE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    scan = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert scan, plan
    pushed = " ".join(scan)
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, pushed


def test_hll_union_matches_direct_sketch(spark):
    """Mergeability: hour sketches unioned to a day estimate what a direct
    day-level sketch estimates (identical sketch family + lg_k)."""
    events = load_table(spark, SF_ORACLE, "events")
    via_hours = hll_reaggregate(
        hll_rollup(events, "user_id", bucket="hour"), bucket="day")
    direct = (
        events.groupBy(F.date_trunc("day", "ts").alias("bucket_ts"))
        .agg(F.hll_sketch_estimate(
            F.hll_sketch_agg("user_id", F.lit(12))).alias("direct_est"))
    )
    joined = via_hours.join(direct, "bucket_ts").collect()
    assert joined
    for r in joined:
        assert r.approx_distinct == r.direct_est, r


def test_redact_pii_on_organic_text(spark):
    """The operator (not the planted query) on real strings: every class
    replaced, non-PII text untouched."""
    df = spark.createDataFrame(
        [("mail bob.smith+x@corp.example.org now",),
         ("call 415-555-0199 or 020-7946-0958x",),
         ("host 192.168.0.1 up",),
         ("nothing here",)], ["t"])
    out = [r.r for r in df.select(redact_pii("t").alias("r")).collect()]
    assert out[0] == "mail <EMAIL> now"
    assert "<PHONE>" in out[1] and "415" not in out[1]
    assert out[2] == "host <IPV4> up"
    assert out[3] == "nothing here"


def test_q21_single_partitioning_feeds_both_aggs(spark):
    """The explicit repartition(l_orderkey) must be the ONLY exchange below
    the two stacked aggregations — hash(okey) clusters (okey, skey) too, so
    neither groupBy adds its own shuffle."""
    plan = QUERIES["star_late_sole_supplier"].fn(
        spark, SF_ORACLE)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 2, plan  # repart + s_name agg
    assert "REPARTITION_BY_COL" in plan


def test_q15_returns_single_max_supplier(spark):
    out = QUERIES["star_top_supplier"].fn(spark, SF_ORACLE).collect()
    assert len(out) >= 1
    revs = {r.total_revenue for r in out}
    assert len(revs) == 1  # everyone returned ties the max


def test_winnow_arrow_and_hof_forms_agree(spark):
    """The registered Arrow winnow stats must equal the pure-HOF formulation
    over the SAME gram space (raw k-grams). (The md5-hashed-gram variant
    selects different window minima by design — hashing permutes the order —
    so it is not count-comparable.)"""
    from insight_de_smart_grid_spark.operators.text import (
        kgrams,
        winnow_stats_arrow,
        winnowed_of,
    )

    docs = load_table(spark, SF_ORACLE, "documents")
    arrow = winnow_stats_arrow(docs).select("doc_id", "n_fp", "min_fp")
    winnowed = winnowed_of(kgrams("text"), 4)
    hof = docs.select(
        "doc_id",
        F.size(winnowed).alias("n_fp_hof"),
        F.array_min(winnowed).alias("min_fp_hof"))
    diff = (arrow.join(hof, "doc_id")
            .where("n_fp <> n_fp_hof OR min_fp <> min_fp_hof").count())
    assert diff == 0


def test_band_join_avoids_nested_loop(spark):
    """The inequality join must plan as a bucket equi-join: no
    BroadcastNestedLoopJoin / CartesianProduct anywhere."""
    plan = QUERIES["events_band_join"].fn(
        spark, SF_ORACLE)._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan and "Cartesian" not in plan, plan


def test_band_join_boundary_inclusion(spark):
    """Pairs straddling a bucket boundary are found; the eps bound is
    strict (gap == eps excluded)."""
    from insight_de_smart_grid_spark.operators.relational import (
        band_self_join,
    )

    df = spark.createDataFrame(
        [(1, 0.0009), (2, 0.0011),   # adjacent buckets, gap 0.0002 -> pair
         (3, 5.0), (4, 5.001),       # gap == eps exactly -> excluded
         (5, 9.0)],                  # isolated
        "id long, v double")
    pairs = {(r.a_id, r.b_id)
             for r in band_self_join(df, "v", 0.001, "id").collect()}
    assert pairs == {(1, 2)}


def test_mock_kafka_envelope_contract(spark):
    """The simulated broker delivers the exact connector schema, keyed
    per-house partitioning (same house never spans partitions), and
    contiguous per-partition offsets."""
    from insight_de_smart_grid_spark.sources.mock_kafka import (
        KAFKA_SOURCE_SCHEMA,
        register_mock_kafka,
    )

    register_mock_kafka(spark)
    env = (spark.read.format("mockkafka")
           .option("path", f"{SF_ORACLE}/events.parquet").load())
    assert env.schema == KAFKA_SOURCE_SCHEMA
    spread = (env.select(F.col("key").cast("string").alias("h"), "partition")
              .groupBy("h").agg(F.countDistinct("partition").alias("n"))
              .where("n > 1").count())
    assert spread == 0
    offs = env.groupBy("partition").agg(
        F.count("*").alias("c"), F.max("offset").alias("m"),
        F.min("offset").alias("lo")).collect()
    assert offs and all(r.lo == 0 and r.m == r.c - 1 for r in offs)


def test_streaming_gap_fill_closed_bucket_contract(spark, tmp_path):
    """Planted stream: key observes hours 0 and 3 then hour 5. Hours 0-2
    close when hour 3 arrives; hours 3-4 close when hour 5 arrives; hour 5
    stays open and must NOT be emitted."""
    from insight_de_smart_grid_spark.streaming.gap_fill_stream import (
        gap_fill_stream,
    )
    from insight_de_smart_grid_spark.streaming.replay import (
        replay_parquet_stream,
    )

    base = str(tmp_path)
    src = spark.createDataFrame(
        [(1, "2024-01-01 00:30:00", 10.0),
         (1, "2024-01-01 03:10:00", 40.0),
         (1, "2024-01-01 05:59:00", 70.0)],
        "user_id long, ts string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    src.write.parquet(base + "/src")
    out = replay_parquet_stream(
        spark, base + "/src", gap_fill_stream,
        checkpoint_dir=base + "/ck", out_dir=base + "/sink")
    rows = {r.bucket_ts.hour: (r.value, r.is_observed)
            for r in out.collect()}
    assert rows == {0: (10.0, True), 1: (10.0, False), 2: (10.0, False),
                    3: (40.0, True), 4: (40.0, False)}
