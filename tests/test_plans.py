"""Physical-plan shape guards: the properties that decide whether a query
survives a 100x scale-up, asserted on `.explain("formatted")` output so a
regression (lost pushdown, accidental nested-loop join, extra shuffle) fails
CI rather than surfacing as a cluster incident.
"""

from __future__ import annotations

import contextlib
import io

from insight_de_smart_grid_spark.plans.registry import QUERIES
from tests.conftest import SF_ORACLE


def plan_of(spark, name: str) -> str:
    df = QUERIES[name].fn(spark, SF_ORACLE)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def n_exchanges(plan: str) -> int:
    # formatted explain lists each node twice (tree + detail section);
    # count only the numbered detail headers
    import re
    return len(re.findall(r"\(\d+\) Exchange", plan))


def test_enrich_labels_broadcasts_the_dim(spark):
    """J1 must be a broadcast hash join — shuffling the fact side on a
    lookup key is the classic 100 TB failure."""
    assert "BroadcastHashJoin" in plan_of(spark, "enrich_labels")


def test_region_revenue_joins_are_hash_joins(spark):
    p = plan_of(spark, "star_region_revenue")
    assert "NestedLoop" not in p and "CartesianProduct" not in p


def test_near_dup_blocking_is_equi_join(spark):
    """simhash/LSH blocking must hash-join on block keys; an OR-of-equalities
    predicate silently degrades to a nested-loop O(n^2) join."""
    for name in ("dedup_simhash", "dedup_minhash_lsh"):
        p = plan_of(spark, name)
        assert "BroadcastNestedLoopJoin" not in p, name
        assert "CartesianProduct" not in p, name


def test_pricing_summary_prunes_columns(spark):
    """The lineitem scan must read only the 7 columns the query touches —
    a full-width scan of the largest table is wrong at any scale."""
    p = plan_of(spark, "star_pricing_summary")
    assert "l_comment" not in p and "l_partkey" not in p


def test_filter_pushdown_reaches_parquet_scan(spark):
    """Predicates on raw columns must appear in PushedFilters on the scan."""
    p = plan_of(spark, "star_top_revenue_orders")
    assert "PushedFilters: [" in p
    import re
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", p)
    assert any(s.strip() for s in pushed), pushed


def test_duty_cycle_has_single_shuffle(spark):
    """One shuffle at the groupBy (partial+final HashAggregate around it);
    more means a lost map-side combine."""
    p = plan_of(spark, "duty_cycle_10m")
    assert n_exchanges(p) == 1, p


def test_sessionize_reuses_partitioning(spark):
    """The session aggregation groups by (user_id, session_seq) on data
    already hash-partitioned by user_id; subset-key partitioning satisfies
    the clustered distribution, so there must be exactly one exchange."""
    p = plan_of(spark, "sessionize_events")
    assert n_exchanges(p) == 1, p


def test_topk_is_take_ordered_not_global_sort(spark):
    """orderBy+limit must plan TakeOrderedAndProject (O(K) per partition),
    never a full global Sort."""
    p = plan_of(spark, "dash_top10_appliance")
    assert "TakeOrderedAndProject" in p


def test_rollup_materialization_prunes_partitions(spark, tmp_path):
    """The materialized rollup (Druid-segment analog) must serve an
    interval query via partition pruning: the (date, hour) filter appears in
    PartitionFilters and the re-aggregated answer matches the raw query."""
    from pyspark.sql import functions as F

    from insight_de_smart_grid_spark.operators.rollup import (
        reaggregate,
        rollup_time,
        write_rollup,
    )
    from insight_de_smart_grid_spark.sources.tables import readings_view

    readings = readings_view(spark, SF_ORACLE)
    path = str(tmp_path / "rollup")
    write_rollup(rollup_time(readings), path)

    cube = spark.read.parquet(path)
    some = cube.select("date", "hour").distinct().limit(1).collect()[0]
    sliced = cube.filter((F.col("date") == some.date)
                         & (F.col("hour") == some.hour))

    buf_plan = sliced._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in buf_plan
    assert "date" in buf_plan.split("PartitionFilters", 1)[1][:200]

    got = {(r.house_id, r.appliance_id, r.cnt, round(r.sum_power, 6))
           for r in reaggregate(sliced, ("house_id", "appliance_id"),
                                avg_col=None).collect()}
    want = {(r.house_id, r.appliance_id, r.cnt, round(r.sum_power, 6))
            for r in (readings
                      .filter((F.to_date("ts") == some.date)
                              & (F.hour("ts") == some.hour))
                      .groupBy("house_id", "appliance_id")
                      .agg(F.count(F.lit(1)).alias("cnt"),
                           F.sum(F.col("power").cast("double"))
                           .alias("sum_power"))).collect()}
    assert got == want


def test_bucketed_join_needs_no_shuffle(spark, tmp_path):
    """Bucketing both fact tables on the join key lets the join run with
    ZERO exchanges — the co-located-join strategy that amortizes one write
    across every future join at 100 TB."""
    from insight_de_smart_grid_spark.sources.tables import load_table

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        for t in ("orders", "lineitem"):
            key = "o_orderkey" if t == "orders" else "l_orderkey"
            (load_table(spark, SF_ORACLE, t)
             .write.mode("overwrite")
             .option("path", str(tmp_path / t))
             .bucketBy(8, key).sortBy(key)
             .saveAsTable(f"bkt_{t}"))
        joined = spark.sql("""
            SELECT o.o_orderkey, count(*) AS n_items
            FROM bkt_orders o JOIN bkt_lineitem l
              ON o.o_orderkey = l.l_orderkey
            GROUP BY o.o_orderkey
        """)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            joined.explain("formatted")
        p = buf.getvalue()
        assert "SortMergeJoin" in p
        assert n_exchanges(p) == 0, p
        # and it computes the right thing
        got = dict(joined.collect())
        want = dict(
            load_table(spark, SF_ORACLE, "lineitem")
            .groupBy("l_orderkey").count().collect())
        assert got == want
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bkt_orders")
        spark.sql("DROP TABLE IF EXISTS bkt_lineitem")


def test_interval_join_uses_equi_key_not_nested_loop(spark):
    """The range join must ride its user_id equi key into a hash/SMJ join;
    a range-only condition degrades to BroadcastNestedLoopJoin."""
    p = plan_of(spark, "range_join_clicks_before_purchase")
    assert "NestedLoop" not in p and "CartesianProduct" not in p


def test_repartition_by_house_colocates_keys(spark):
    """ST7: the Kafka key-partitioned produce analog — repartition(house_id)
    must land every row of a house in exactly one partition (the property the
    reference gets from Kafka keying, producer_REDD_avro.py:173)."""
    from pyspark.sql import functions as F

    from insight_de_smart_grid_spark.sources.tables import readings_view
    from tests.conftest import SF_SMOKE

    parts_per_key = (
        readings_view(spark, SF_SMOKE)
        .repartition(F.col("house_id"))
        .withColumn("pid", F.spark_partition_id())
        .groupBy("house_id")
        .agg(F.countDistinct("pid").alias("n_parts"))
        .agg(F.max("n_parts").alias("mx"))
        .collect()[0].mx)
    assert parts_per_key == 1


def test_curate_corpus_plan_shape(spark):
    """The composed curation pipeline must fuse scoring into the scan
    (3-column read), push the dedup's top-1-per-fingerprint below the
    exchange (WindowGroupLimit partial), and shuffle exactly twice."""
    p = plan_of(spark, "curate_corpus")
    assert "WindowGroupLimit" in p
    assert n_exchanges(p) == 2
    assert "n_chars" not in p  # untouched documents columns stay unread


def test_aqe_splits_skewed_join_partitions(spark):
    """The 100 TB skew story must actually engage: with one key holding 90%
    of the left side, AQE has to re-plan the sort-merge join with skew-split
    partitions (SortMergeJoin(skew=true)) — and still return exact results."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        left = spark.range(0, 200_000).select(
            F.when(F.col("id") % 10 < 9, 0).otherwise(F.col("id"))
            .alias("k"),
            F.col("id").alias("v"))
        right = spark.range(0, 1000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w"))
        j = left.join(right, "k")
        rows = j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan
        # 180000 rows collapse onto k=0 (+100 ids ending in 9 below 1000)
        assert len(rows) == 180_100
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_dataset_split_is_shuffle_free_projection(spark):
    """A deterministic split must stay a per-row projection: zero
    exchanges, and the scan pruned to the id column only."""
    p = plan_of(spark, "pipeline_dataset_split")
    assert n_exchanges(p) == 0, p
    assert "ReadSchema: struct<doc_id:bigint>" in p, p


def test_latest_compaction_limits_before_exchange(spark):
    """CDC compaction must plan a Partial WindowGroupLimit below the
    exchange so the shuffle carries one row per key per map partition,
    not the full history."""
    # explain("formatted") collapses the not-yet-final AdaptiveSparkPlan
    # for this query; the raw executedPlan string keeps the full tree
    p = (QUERIES["pipeline_latest_compaction"].fn(spark, SF_ORACLE)
         ._jdf.queryExecution().executedPlan().toString())
    plan_lines = p.splitlines()
    partial = next((i for i, l in enumerate(plan_lines)
                    if "WindowGroupLimit" in l and "Partial" in l), None)
    exchange = next((i for i, l in enumerate(plan_lines)
                     if "Exchange" in l), None)
    assert partial is not None and exchange is not None, p
    # tree prints top-down: the Partial limit must sit BELOW the exchange
    assert partial > exchange, p


def test_weighted_mix_broadcasts_weights_dim(spark):
    """The mixture-weights dim must broadcast — shuffling the corpus on
    lang to meet a 5-row table would be the classic scale failure."""
    p = plan_of(spark, "pipeline_weighted_mix")
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p, p


def test_pack_sequences_shuffles_once_on_shard(spark):
    """Packing must cost exactly one exchange (the per-shard window) —
    a global-order prefix sum would plan a single-partition sort."""
    p = plan_of(spark, "pipeline_pack_sequences")
    assert n_exchanges(p) == 1, p


def test_quantile_threshold_broadcasts_no_window(spark):
    """The scale-path percentile cut must broadcast the per-source
    thresholds and never rank the corpus — a Window/ntile node here means
    the full per-source sort snuck back in."""
    import re
    p = plan_of(spark, "pipeline_quantile_threshold")
    assert "BroadcastHashJoin" in p, p
    # \b keeps 'percentile(' (the agg we WANT) from matching 'ntile('
    assert "Window" not in p and not re.search(r"\bntile\(", p), p


def test_runtime_bloom_filter_injected_for_selective_join(spark):
    """Runtime row-level filtering: when a shuffle join has a selective
    build side, Catalyst injects a bloom filter on the probe side so the
    fact shuffle only carries rows that can match — the free 100 TB
    optimization this engine relies on for fact⋈filtered-dim joins."""
    from insight_de_smart_grid_spark.sources.tables import load_table

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        # at production scale the fact side is always over the default 10GB
        # gate; at sf0.01 it isn't, so drop the gate to exercise the rule
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        o = load_table(spark, SF_ORACLE, "orders").where(
            "o_orderpriority = '1-URGENT' AND o_totalprice > 400000")
        li = load_table(spark, SF_ORACLE, "lineitem")
        j = li.join(o, li.l_orderkey == o.o_orderkey).groupBy(
            "o_orderpriority").count()
        p = j._jdf.queryExecution().optimizedPlan().toString().lower()
        assert "bloom_filter_agg" in p, p[:4000]
        assert "might_contain" in p, p[:4000]
    finally:
        for k, v in prev.items():
            if v is not None:
                spark.conf.set(k, v)
            else:
                spark.conf.unset(k)


def test_join_strategy_hints_are_honored(spark):
    """The hint surface a tuner needs: SHUFFLE_HASH avoids the sort-merge
    sorts (hash join at shuffle scale), MERGE forces SMJ, and the hinted
    plans still compute identical results."""
    from insight_de_smart_grid_spark.sources.tables import load_table

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        o = load_table(spark, SF_ORACLE, "orders")
        li = load_table(spark, SF_ORACLE, "lineitem")

        def plan_of_join(hint):
            j = li.join(o.hint(hint), li.l_orderkey == o.o_orderkey)
            agg = j.groupBy("o_orderstatus").count()
            return agg, agg._jdf.queryExecution().executedPlan().toString()

        shj, p_shj = plan_of_join("shuffle_hash")
        smj, p_smj = plan_of_join("merge")
        assert "ShuffledHashJoin" in p_shj and "SortMergeJoin" not in p_shj
        assert "SortMergeJoin" in p_smj
        assert sorted(map(tuple, shj.collect())) == \
            sorted(map(tuple, smj.collect()))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_persisted_ann_index_probes_without_index_shuffle(spark, tmp_path):
    """The docstring claim made real: the LSH signature table is a
    PERSISTED index (bucketed by its probe key), a query's signatures
    broadcast against it, and the index side is never re-shuffled — no
    hash-partitioning Exchange anywhere in the probe plan. Candidates match
    the in-memory signature join exactly, and incrementally appended
    vectors become probe-visible without rebuilding."""
    from pyspark.sql import functions as F

    from insight_de_smart_grid_spark.operators.similarity import (
        hyperplane_signatures,
    )
    from insight_de_smart_grid_spark.sources.tables import load_table

    emb = load_table(spark, SF_ORACLE, "embeddings")
    sig = hyperplane_signatures(emb, n_tables=16, n_planes=8) \
        .select("vec_id", "table", "bucket")
    (sig.write.mode("overwrite").option("path", str(tmp_path / "idx"))
     .bucketBy(8, "table", "bucket").sortBy("table", "bucket")
     .saveAsTable("ann_sig_idx"))
    try:
        idx = spark.table("ann_sig_idx")
        qsig = (sig.filter(F.col("vec_id") == 0)
                .select("table", "bucket"))
        probe = (idx.join(F.broadcast(qsig), ["table", "bucket"])
                 .filter(F.col("vec_id") != 0)
                 .select("vec_id").distinct())

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            probe.explain("formatted")
        plan = buf.getvalue()
        assert "BroadcastHashJoin" in plan, plan
        # the index scan is the real bucketed artifact with the probe's
        # vec_id filter pushed into it...
        assert "Bucketed: true" in plan, plan
        assert "Not(EqualTo(vec_id,0))" in plan, plan
        # ...and the ONLY hash repartitioning anywhere is the distinct's
        # own aggregation exchange — the index itself never reshuffles
        assert plan.count("hashpartitioning") == 1, plan

        live = (sig.alias("i")
                .join(qsig.alias("q"), ["table", "bucket"])
                .filter(F.col("vec_id") != 0).select("vec_id").distinct())
        assert ({r.vec_id for r in probe.collect()}
                == {r.vec_id for r in live.collect()})

        # incremental add: a cloned vector of id 0 lands in identical
        # buckets -> appended signatures make it a candidate immediately
        clone = (emb.filter(F.col("vec_id") == 0)
                 .withColumn("vec_id", F.lit(999_999).cast("long")))
        hyperplane_signatures(clone, n_tables=16, n_planes=8) \
            .select("vec_id", "table", "bucket") \
            .write.insertInto("ann_sig_idx")
        assert (spark.table("ann_sig_idx")
                .join(F.broadcast(qsig), ["table", "bucket"])
                .filter(F.col("vec_id") == 999_999).count()) > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS ann_sig_idx")


def test_persisted_ann_index_multiprobe_without_index_shuffle(spark,
                                                              tmp_path):
    """The multiprobe serving path over the SAME persisted index: the
    probe list grows to n_planes+1 buckets per table (query bucket + every
    Hamming-1 flip, `lsh_multiprobe_topk`'s recall lever) but stays a
    broadcast equi-join — the bucketed index side is never re-shuffled and
    never range-scanned, exactly like single-probe. Candidates must be a
    superset of single-probe's (monotone recall) and match the in-memory
    multiprobe join."""
    from pyspark.sql import functions as F

    from insight_de_smart_grid_spark.operators.similarity import (
        hyperplane_signatures,
    )
    from insight_de_smart_grid_spark.sources.tables import load_table

    n_planes = 8
    emb = load_table(spark, SF_ORACLE, "embeddings")
    sig = hyperplane_signatures(emb, n_tables=4, n_planes=n_planes) \
        .select("vec_id", "table", "bucket")
    (sig.write.mode("overwrite").option("path", str(tmp_path / "idx"))
     .bucketBy(8, "table", "bucket").sortBy("table", "bucket")
     .saveAsTable("ann_sig_idx_mp"))
    try:
        idx = spark.table("ann_sig_idx_mp")
        qsig = sig.filter(F.col("vec_id") == 0).select("table", "bucket")
        probes = qsig.select(
            "table",
            F.explode(F.array(
                F.col("bucket"),
                *[F.col("bucket").bitwiseXOR(F.lit(1 << p))
                  for p in range(n_planes)])).alias("bucket"))
        probe = (idx.join(F.broadcast(probes), ["table", "bucket"])
                 .filter(F.col("vec_id") != 0)
                 .select("vec_id").distinct())

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            probe.explain("formatted")
        plan = buf.getvalue()
        assert "BroadcastHashJoin" in plan, plan
        assert "Bucketed: true" in plan, plan
        assert "Not(EqualTo(vec_id,0))" in plan, plan
        # the ONLY hash repartitioning is the distinct's own aggregation
        # exchange; the index never reshuffles even with the 9x probe list
        assert plan.count("hashpartitioning") == 1, plan

        got = {r.vec_id for r in probe.collect()}
        live = {r.vec_id for r in
                (sig.join(probes, ["table", "bucket"])
                 .filter(F.col("vec_id") != 0)
                 .select("vec_id").distinct()).collect()}
        assert got == live
        single = {r.vec_id for r in
                  (idx.join(F.broadcast(qsig), ["table", "bucket"])
                   .filter(F.col("vec_id") != 0)
                   .select("vec_id").distinct()).collect()}
        assert single <= got  # multiprobe candidates dominate single-probe

        # round-7 auto radius (target 0.999 at 4x8 -> radius 2): the probe
        # list grows to sum_{j<=2} C(8,j) = 37 buckets/table and must STILL
        # be one broadcast equi-join against the untouched bucketed index
        from insight_de_smart_grid_spark.operators.similarity import (
            _probe_masks,
            auto_probe_radius,
        )
        r2 = auto_probe_radius(4, n_planes, target_recall=0.999)
        assert r2 == 2
        probes2 = qsig.select(
            "table",
            F.explode(F.array(
                *[F.col("bucket").bitwiseXOR(F.lit(m))
                  for m in _probe_masks(n_planes, r2)])).alias("bucket"))
        probe2 = (idx.join(F.broadcast(probes2), ["table", "bucket"])
                  .filter(F.col("vec_id") != 0)
                  .select("vec_id").distinct())
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            probe2.explain("formatted")
        plan2 = buf.getvalue()
        assert "BroadcastHashJoin" in plan2, plan2
        assert "Bucketed: true" in plan2, plan2
        assert plan2.count("hashpartitioning") == 1, plan2
        got2 = {r.vec_id for r in probe2.collect()}
        assert got <= got2  # radius 2 candidates dominate radius 1
    finally:
        spark.sql("DROP TABLE IF EXISTS ann_sig_idx_mp")


def test_scan_speed_ops_have_zero_shuffle(spark):
    """The scan-speed families must stay pure projections: the model-based
    quality scorer and the audio encode+decode pipeline carry no Exchange
    at any scale (a shuffle creeping in would be a 100 TB regression)."""
    for name in ("pipeline_model_score", "multimodal_audio_decode"):
        p = plan_of(spark, name)
        assert n_exchanges(p) == 0, f"{name} gained a shuffle:\n{p}"


def test_graph_rounds_reuse_the_materialized_edge_list(spark):
    """PageRank's 3 rounds must read the checkpointed kNN edge list, not
    re-derive it: at most one signature-stage subtree (the Arrow matmul
    batch eval) may appear in the executed plan."""
    df = QUERIES["sim_pagerank"].fn(spark, SF_ORACLE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") <= 1, plan
