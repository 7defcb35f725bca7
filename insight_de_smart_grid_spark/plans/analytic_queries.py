"""Analytic-surface extensions: GROUPING SETS, the full SQL window-function
battery, time-range (RANGE-frame) moving aggregates, corpus PMI collocations,
and the oracle-portable IVF ANN.

Each closes a gap a reference user would hit when pointing real analytics at
the engine; all stay in JVM expression space and every one carries a DuckDB
twin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from insight_de_smart_grid_spark.operators.similarity import (
    ivf_portable_topk,
    ivf_portable_topk_oracle_sql,
    matryoshka_topk,
    matryoshka_topk_oracle_sql,
    quantized_topk,
    quantized_topk_oracle_sql,
)
from insight_de_smart_grid_spark.operators.text import (
    pmi_bigrams,
    pmi_bigrams_oracle_sql,
)
from insight_de_smart_grid_spark.operators.staging import scratch_dir
from insight_de_smart_grid_spark.plans.registry import register
from insight_de_smart_grid_spark.sources.tables import load_table


# ---------------------------------------------------------------------------
# GROUPING SETS with grouping flags (generalizes star_cube/star_rollup —
# arbitrary set lists are what dashboard subtotal panels actually emit)
# ---------------------------------------------------------------------------

@register("star_grouping_sets", """
SELECT l_returnflag, l_linestatus,
       CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
       CAST(GROUPING(l_linestatus) AS INT) AS g_status,
       sum(l_quantity) AS sum_qty,
       count(*) AS n_rows
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
""")
def q_star_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit grouping-set list (cube/rollup are its special cases; Spark
    plans ONE Expand + one aggregation — same single-shuffle shape at any
    scale). ``grouping()`` flags disambiguate real NULL keys from subtotal
    rows, matching the SQL-standard bit convention DuckDB uses."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupingSets(
            [["l_returnflag", "l_linestatus"], ["l_returnflag"], []],
            "l_returnflag", "l_linestatus")
        .agg(F.grouping("l_returnflag").cast("int").alias("g_flag"),
             F.grouping("l_linestatus").cast("int").alias("g_status"),
             F.sum("l_quantity").alias("sum_qty"),
             F.count("*").alias("n_rows"))
    )


# ---------------------------------------------------------------------------
# SQL window-function battery (ntile / percent_rank / cume_dist /
# first_value / last_value / nth_value) — complements the lag/lead and
# row_number coverage in star_queries
# ---------------------------------------------------------------------------

@register("window_battery", """
SELECT o_orderkey,
       CAST(ntile(4) OVER w AS INT) AS quartile,
       round(percent_rank() OVER w, 6) AS pct_rank,
       round(cume_dist() OVER w, 6) AS cum_dist,
       first_value(o_totalprice) OVER wf AS first_price,
       last_value(o_totalprice) OVER wf AS last_price,
       nth_value(o_totalprice, 2) OVER wf AS second_price
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
       wf AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
""")
def q_window_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every ranking/distribution/value window function over one ordered
    partition spec. The (date, key) ordering is a total order per partition,
    so ntile/percent_rank/cume_dist are deterministic cross-engine. One
    shuffle on o_custkey serves all seven functions — Spark collapses same-
    spec windows into a single Window physical node."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return orders.select(
        "o_orderkey",
        F.ntile(4).over(w).cast("int").alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cum_dist"),
        F.first("o_totalprice").over(wf).alias("first_price"),
        F.last("o_totalprice").over(wf).alias("last_price"),
        F.nth_value("o_totalprice", 2).over(wf).alias("second_price"),
    )


# ---------------------------------------------------------------------------
# Time-RANGE-frame moving aggregate (trailing 5-minute window per user) —
# the "rolling metric" shape, windowed by event TIME not row count
# ---------------------------------------------------------------------------

@register("events_moving_avg", """
SELECT event_id,
       round(avg(value) OVER w, 6) AS mavg_5m,
       CAST(count(*) OVER w AS BIGINT) AS n_5m
FROM (SELECT event_id, user_id, value,
             CAST(floor(epoch(ts)) AS BIGINT) AS ts_s
      FROM events)
WINDOW w AS (PARTITION BY user_id ORDER BY ts_s
             RANGE BETWEEN 300 PRECEDING AND CURRENT ROW)
""")
def q_events_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing five-minute mean per user via a RANGE frame keyed on epoch
    seconds. RANGE (unlike ROWS) makes tied timestamps peers — identical
    frames in any engine regardless of tie order, so the result is
    deterministic without a unique sort key. One shuffle on user_id; frames
    evaluate with a sliding accumulator, not a per-row rescan."""
    ev = load_table(spark, sf_dir, "events")
    w = (Window.partitionBy("user_id")
         .orderBy(F.col("ts").cast("long"))
         .rangeBetween(-300, 0))
    return ev.select(
        "event_id",
        F.round(F.avg("value").over(w), 6).alias("mavg_5m"),
        F.count("*").over(w).alias("n_5m"),
    )


# ---------------------------------------------------------------------------
# Corpus collocations by PMI (text-analysis extension)
# ---------------------------------------------------------------------------

@register("text_pmi_bigrams", pmi_bigrams_oracle_sql())
def q_text_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pmi_bigrams(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Oracle-portable IVF ANN (deterministic quantizer; the trained variant
# sim_ivf_topk keeps its recall test)
# ---------------------------------------------------------------------------

@register("sim_ivf_portable_topk", ivf_portable_topk_oracle_sql(7))
def q_sim_ivf_portable_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ivf_portable_topk(load_table(spark, sf_dir, "embeddings"),
                             query_vec_id=7)


# ---------------------------------------------------------------------------
# Compressed-index ANN: int8 scalar quantization and Matryoshka prefix-dim
# retrieval, both with bounded full-precision rescoring
# ---------------------------------------------------------------------------

@register("sim_quantized_topk", quantized_topk_oracle_sql(7))
def q_sim_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quantized_topk(load_table(spark, sf_dir, "embeddings"),
                          query_vec_id=7)


@register("sim_matryoshka_topk", matryoshka_topk_oracle_sql(7))
def q_sim_matryoshka_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return matryoshka_topk(load_table(spark, sf_dir, "embeddings"),
                           query_vec_id=7)


# ---------------------------------------------------------------------------
# Scalar-subquery shape (filter against a global aggregate)
# ---------------------------------------------------------------------------

@register("star_above_avg_orders", """
SELECT o_orderpriority,
       count(*) AS n_above,
       round(avg(o_totalprice), 6) AS avg_above
FROM orders
WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)
GROUP BY 1
""")
def q_star_above_avg_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-subquery filter: the global mean is a one-row broadcast
    (Catalyst plans the same thing for a correlated-scalar SQL form), so
    the only wide operation is the final small groupBy."""
    orders = load_table(spark, sf_dir, "orders")
    mean = orders.agg(F.avg("o_totalprice").alias("global_avg"))
    return (orders.join(F.broadcast(mean))
            .filter(F.col("o_totalprice") > F.col("global_avg"))
            .groupBy("o_orderpriority")
            .agg(F.count("*").alias("n_above"),
                 F.round(F.avg("o_totalprice"), 6).alias("avg_above")))


# ---------------------------------------------------------------------------
# Corpus-health probes / quality-aware dedup policy
# ---------------------------------------------------------------------------

from insight_de_smart_grid_spark.operators import dedup as _dd  # noqa: E402
from insight_de_smart_grid_spark.operators.text import (  # noqa: E402
    zipf_fit,
    zipf_fit_oracle_sql,
)


@register("text_zipf_fit", zipf_fit_oracle_sql())
def q_text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return zipf_fit(load_table(spark, sf_dir, "documents"))


@register("dedup_keep_best", _dd.keep_best_oracle_sql())
def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-ranked keep/drop over n-gram-Jaccard near-dup clusters."""
    docs = load_table(spark, sf_dir, "documents")
    return _dd.keep_best_per_cluster(docs, _dd.ngram_jaccard_pairs(docs))


# ---------------------------------------------------------------------------
# LEFT-OUTER stream-stream join (null-extended rows emitted on watermark
# close — the stateful-outer contract the inner streaming_interval_join
# can't exercise). The replay's flush sentinel pushes the final watermark
# past every real purchase, so the outer result equals the batch LEFT JOIN.
# ---------------------------------------------------------------------------

@register("streaming_left_join", """
SELECT p.user_id,
       p.event_id AS purchase_id,
       p.ts AS purchase_ts,
       c.event_id AS click_id,
       c.ts AS click_ts
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id
 AND c.ts > p.ts - INTERVAL 30 MINUTE
 AND c.ts <= p.ts
""")
def q_streaming_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from insight_de_smart_grid_spark.streaming.replay import (
        replay_parquet_stream,
    )
    from insight_de_smart_grid_spark.streaming.stream_ops import (
        purchase_click_left_stream_plan,
    )

    # ONE all-types sentinel, all files in one micro-batch. Per-type
    # sentinel rows are still required (per-side event-time stats collect
    # after the type filters, so a single-type sentinel would stall the
    # other side's watermark at its real maximum), but the second
    # sentinel/batch is not: availableNow runs a final no-data micro-batch
    # (noDataMicroBatches, on by default) where the advanced watermark
    # evicts state and emits the tail outer rows — regression-tested in
    # tests/test_sketch_topn.py::test_left_join_flushes_tail_unmatched_purchase.
    # max_files_per_trigger=1 (the round-2 staging) put every REAL data
    # file in its own stateful micro-batch too — a 2x slowdown for no
    # correctness gain. -1 guard drops the sentinels' own outer rows.
    from pyspark.sql import functions as _F

    out = replay_parquet_stream(
        spark, f"{sf_dir}/events.parquet", purchase_click_left_stream_plan,
        flush_sentinel=True, sentinel_all_types=True)
    return out.where(_F.col("user_id") != -1)


# ---------------------------------------------------------------------------
# Grid-analytics extensions over the readings/events surface: anomaly
# flagging and calendar load profiles (the two dashboards a utility asks
# for right after the reference's tiles)
# ---------------------------------------------------------------------------

@register("events_anomaly_zscore", """
SELECT event_id, user_id, event_type,
       round(z, 6) AS zscore
FROM (
  SELECT event_id, user_id, event_type,
         (value - avg(value) OVER (PARTITION BY user_id))
         / stddev_samp(value) OVER (PARTITION BY user_id) AS z
  FROM events)
WHERE abs(z) > 2.5
""")
def q_events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-entity z-score outliers: one whole-partition window computes
    mean and sample stddev in a single shuffle on user_id, the flag is a
    filter — no second pass over the fact, no driver-side stats. (An
    unpartitioned frame makes mean/stddev order-independent, so the result
    is deterministic and engine-portable.)"""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    z = ((F.col("value") - F.avg("value").over(w))
         / F.stddev_samp("value").over(w))
    return (ev.select("event_id", "user_id", "event_type",
                      z.alias("z"))
            .filter(F.abs(F.col("z")) > 2.5)
            .select("event_id", "user_id", "event_type",
                    F.round(F.col("z"), 6).alias("zscore")))


@register("events_dow_hour_profile", """
SELECT CAST(user_id AS VARCHAR) AS house_id,
       CAST(dayofweek(ts) AS INT) AS dow,
       CAST(hour(ts) AS INT) AS hod,
       round(avg(value), 6) AS avg_power,
       count(*) AS n_readings
FROM events
GROUP BY 1, 2, 3
""")
def q_events_dow_hour_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar load profile: average reading per (house, day-of-week,
    hour-of-day) — the generalization of the reference's same-time-of-day
    history query (SURVEY A10) from N fixed intervals to the full calendar
    grid. One aggregation whose key space is bounded (houses x 7 x 24), so
    the shuffle is tiny regardless of fact size; date_part stays in
    codegen. Spark's dayofweek == DuckDB's dayofweek + 1 (Sun=1 vs Sun=0),
    aligned via the -1 below."""
    ev = load_table(spark, sf_dir, "events")
    return (ev.groupBy(
                F.col("user_id").cast("string").alias("house_id"),
                (F.dayofweek("ts") - 1).cast("int").alias("dow"),
                F.hour("ts").cast("int").alias("hod"))
            .agg(F.round(F.avg("value"), 6).alias("avg_power"),
                 F.count(F.lit(1)).alias("n_readings")))


from insight_de_smart_grid_spark.operators.text import (  # noqa: E402
    char_lm_cross_entropy,
    char_lm_cross_entropy_oracle_sql,
)


@register("text_char_lm_xent", char_lm_cross_entropy_oracle_sql())
def q_text_char_lm_xent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-bigram LM cross-entropy quality proxy per document."""
    return char_lm_cross_entropy(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# VARIANT JSON path (Spark 4): parse once into the shredded binary encoding,
# extract fields without re-parsing — the scale-path upgrade over
# events_json_extract's per-field get_json_object string parse
# ---------------------------------------------------------------------------

@register("events_props_variant", """
SELECT event_id,
       CAST(CASE WHEN props IS NOT NULL AND json_valid(props)
                 THEN json_extract(props, '$.k') END AS BIGINT) AS k_long,
       CAST(CASE WHEN props IS NOT NULL AND json_valid(props)
                 THEN json_extract(props, '$.missing') END
            AS BIGINT) AS missing_val
FROM events
""")
def q_events_props_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``try_parse_json`` -> VariantType once, then typed
    ``try_variant_get`` per field. At scale this wins twice: the JSON text
    is decoded exactly once however many fields are read, and Parquet
    variant shredding lets the scan skip to requested paths. Missing paths
    AND malformed/null documents yield NULL (the try_ forms) — a crawl
    pipeline never dies on one bad payload."""
    ev = load_table(spark, sf_dir, "events")
    v = F.try_parse_json("props")
    return ev.select(
        "event_id",
        F.try_variant_get(v, "$.k", "bigint").alias("k_long"),
        F.try_variant_get(v, "$.missing", "bigint").alias("missing_val"),
    )


# ---------------------------------------------------------------------------
# Exact duplicate-substring spans (Lee et al. exact-substring dedup via
# k-gram inversion instead of suffix arrays)
# ---------------------------------------------------------------------------

@register("dedup_duplicate_spans", _dd.duplicate_spans_oracle_sql())
def q_dedup_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _dd.duplicate_spans(load_table(spark, sf_dir, "documents"))


@register("dedup_duplicate_spans_skew_safe",
          _dd.duplicate_spans_oracle_sql())
def q_dedup_duplicate_spans_skew_safe(spark: SparkSession,
                                      sf_dir: str) -> DataFrame:
    """The groupBy+join df form of `duplicate_spans` — map-side combine
    collapses hot boilerplate grams before the shuffle; same semantics
    (identical oracle), chosen when the gram distribution is power-law."""
    return _dd.duplicate_spans(load_table(spark, sf_dir, "documents"),
                               skew_safe=True)


# ---------------------------------------------------------------------------
# Overlapping document chunking (RAG / context-window prep)
# ---------------------------------------------------------------------------

from insight_de_smart_grid_spark.operators import pipeline as _pl  # noqa: E402


@register("pipeline_chunk_documents", _pl.chunk_documents_oracle_sql())
def q_pipeline_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _pl.chunk_documents(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Funnel analysis (ordered view -> click -> purchase per user) and monthly
# cohort retention — the two canonical product-analytics queries
# ---------------------------------------------------------------------------

@register("events_funnel", """
WITH stage AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
         min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
         min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
  FROM events GROUP BY user_id
)
SELECT count(*) AS n_users,
       count(t_view) AS n_view,
       count(CASE WHEN t_click > t_view THEN 1 END) AS n_view_click,
       count(CASE WHEN t_purchase > t_click AND t_click > t_view THEN 1 END)
         AS n_full_funnel
FROM stage
""")
def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-funnel counts: one conditional-min aggregation per user (a
    single shuffle with map-side combine) then a one-row rollup. The
    strictly-ordered comparisons (first view < first click < first
    purchase) are null-safe in both engines: NULL stage times fail every
    comparison and drop out of the funnel."""
    ev = load_table(spark, sf_dir, "events")

    def first_ts(ev_type: str):
        return F.min(F.when(F.col("event_type") == ev_type, F.col("ts")))

    stage = ev.groupBy("user_id").agg(
        first_ts("view").alias("t_view"),
        first_ts("click").alias("t_click"),
        first_ts("purchase").alias("t_purchase"))
    return stage.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("t_view").alias("n_view"),
        F.count(F.when(F.col("t_click") > F.col("t_view"), 1))
        .alias("n_view_click"),
        F.count(F.when((F.col("t_purchase") > F.col("t_click"))
                       & (F.col("t_click") > F.col("t_view")), 1))
        .alias("n_full_funnel"))


@register("star_cohort_retention", """
WITH firsts AS (
  SELECT o_custkey,
         min(year(o_orderdate) * 12 + month(o_orderdate)) AS cohort_m
  FROM orders GROUP BY 1
)
SELECT cohort_m,
       (year(o_orderdate) * 12 + month(o_orderdate)) - cohort_m
         AS months_since,
       count(DISTINCT o.o_custkey) AS active_customers
FROM orders o JOIN firsts f ON o.o_custkey = f.o_custkey
GROUP BY 1, 2
""")
def q_star_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly cohort retention matrix: cohort = month of first order,
    cells = distinct active customers at each month offset. The month key
    is integer arithmetic (year*12+month) — identical cross-engine, no
    interval/truncation semantics to disagree on. The firsts table is one
    row per customer and broadcasts; the distinct-count aggregation is the
    only wide stage."""
    orders = load_table(spark, sf_dir, "orders")
    mkey = (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
    firsts = (orders.groupBy("o_custkey")
              .agg(F.min(mkey).alias("cohort_m")))
    return (orders.join(F.broadcast(firsts), "o_custkey")
            .groupBy("cohort_m",
                     (mkey - F.col("cohort_m")).alias("months_since"))
            .agg(F.countDistinct("o_custkey").alias("active_customers")))


# ---------------------------------------------------------------------------
# BM25 ranked retrieval (corpus search layer)
# ---------------------------------------------------------------------------

from insight_de_smart_grid_spark.operators.text import (  # noqa: E402
    bm25_oracle_sql,
    bm25_topk,
)


@register("text_bm25_topk", bm25_oracle_sql())
def q_text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bm25_topk(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# HAVING-filtered join-back (TPC-H Q18 shape) and event-transition mining
# ---------------------------------------------------------------------------

@register("star_large_volume_orders", """
SELECT o_orderkey, o_orderdate, o_totalprice, sum_qty
FROM orders
JOIN (SELECT l_orderkey, sum(l_quantity) AS sum_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING sum(l_quantity) > 300) big
  ON o_orderkey = big.l_orderkey
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 20
""")
def q_star_large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: aggregate the fact, HAVING-filter the groups, join
    the survivors back to the header. The filtered aggregate is small and
    AQE broadcasts it back — the join carries only qualifying orderkeys."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    big = (li.groupBy("l_orderkey")
           .agg(F.sum("l_quantity").alias("sum_qty"))
           .filter(F.col("sum_qty") > 300))
    return (orders.join(big, orders.o_orderkey == big.l_orderkey)
            .select("o_orderkey", "o_orderdate", "o_totalprice", "sum_qty")
            .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
            .limit(20))


@register("events_transition_counts", """
SELECT prev_type, event_type AS next_type, count(*) AS n
FROM (
  SELECT event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type
  FROM events)
WHERE prev_type IS NOT NULL
GROUP BY 1, 2
""")
def q_events_transition_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order behavior transitions (the Markov-chain counts behind
    next-action models): lag over each user's (ts, id)-ordered sequence,
    then a tiny |event types|^2 aggregation. One shuffle on user_id; the
    unique (ts, event_id) sort key makes the sequence — and therefore every
    transition pair — deterministic cross-engine."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (ev.select(F.col("event_type"),
                      F.lag("event_type").over(w).alias("prev_type"))
            .filter(F.col("prev_type").isNotNull())
            .groupBy("prev_type", F.col("event_type").alias("next_type"))
            .agg(F.count(F.lit(1)).alias("n")))


# ---------------------------------------------------------------------------
# Stream-static broadcast enrichment (complete mode) and foreachBatch
# keyed-upsert sink — the two remaining Structured Streaming sink/join
# patterns
# ---------------------------------------------------------------------------

_ENRICH_LABELS = [("click", "Click Stream"), ("view", "Page View"),
                  ("purchase", "Purchase")]
_ENRICH_LABELS_SQL = ", ".join(f"('{k}', '{v}')" for k, v in _ENRICH_LABELS)


@register("streaming_static_enrich", f"""
WITH labels(appliance_name, label) AS (VALUES {_ENRICH_LABELS_SQL})
SELECT COALESCE(l.label, 'unknown') AS label,
       round(sum(e.value), 6) AS sum_value,
       count(*) AS n_events
FROM events e LEFT JOIN labels l ON e.event_type = l.appliance_name
GROUP BY 1
""")
def q_streaming_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    from insight_de_smart_grid_spark.sources.local_rows import local_rows_df
    from insight_de_smart_grid_spark.streaming.replay import (
        replay_parquet_stream,
    )
    from insight_de_smart_grid_spark.streaming.stream_ops import (
        static_enrich_totals_plan,
    )

    labels = local_rows_df(spark, _ENRICH_LABELS,
                           "appliance_name string, label string")
    return replay_parquet_stream(
        spark, f"{sf_dir}/events.parquet",
        lambda s: static_enrich_totals_plan(s, labels),
        output_mode="complete")


@register("streaming_upsert_compaction", """
SELECT user_id, event_type, ts, value
FROM (SELECT user_id, event_type, ts, value,
             row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts DESC, value DESC) AS rn
      FROM events)
WHERE rn = 1
""")
def q_streaming_upsert_compaction(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """The foreachBatch-maintained snapshot equals batch latest-compaction
    over the full feed."""
    from insight_de_smart_grid_spark.streaming.stream_ops import (
        upsert_compaction_stream,
    )

    from insight_de_smart_grid_spark.streaming.stream_ops import (
        read_upsert_snapshot,
    )

    base = scratch_dir("upsert_")
    upsert_compaction_stream(spark, f"{sf_dir}/events.parquet",
                             snapshot_dir=f"{base}/snapshot",
                             checkpoint_dir=f"{base}/ck")
    return read_upsert_snapshot(spark, f"{base}/snapshot")


# ---------------------------------------------------------------------------
# Multi-quantile battery, UNPIVOT (melt), and deterministic list aggregation
# ---------------------------------------------------------------------------

@register("star_percentiles", """
SELECT l_returnflag,
       round(CAST(quantile_cont(l_extendedprice, 0.25) AS DOUBLE), 6) AS p25,
       round(CAST(quantile_cont(l_extendedprice, 0.50) AS DOUBLE), 6) AS p50,
       round(CAST(quantile_cont(l_extendedprice, 0.75) AS DOUBLE), 6) AS p75,
       round(CAST(quantile_cont(l_extendedprice, 0.95) AS DOUBLE), 6) AS p95
FROM lineitem
GROUP BY 1
""")
def q_star_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact multi-quantile profile per group: ONE percentile aggregate
    evaluates all four cut points over a single sort buffer (array output
    split into scalar columns — the driver's canonicalizer wants scalar
    cells)."""
    li = load_table(spark, sf_dir, "lineitem")
    qs = F.percentile("l_extendedprice",
                      F.array(F.lit(0.25), F.lit(0.5),
                              F.lit(0.75), F.lit(0.95)))
    return (li.groupBy("l_returnflag")
            .agg(qs.alias("q"))
            .select("l_returnflag",
                    *[F.round(F.col("q")[i], 6).alias(n)
                      for i, n in enumerate(("p25", "p50", "p75", "p95"))]))


@register("star_unpivot_quantity", """
SELECT l_returnflag, metric, round(val, 6) AS val
FROM (
  SELECT l_returnflag,
         round(sum(l_quantity), 6) AS total_qty,
         round(sum(l_extendedprice), 6) AS total_price,
         round(avg(l_discount), 6) AS avg_disc
  FROM lineitem GROUP BY 1)
UNPIVOT (val FOR metric IN (total_qty, total_price, avg_disc))
""")
def q_star_unpivot_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT/melt: wide per-group metrics to long (metric, value) rows —
    the inverse of star_pivot_linestatus. Spark's unpivot is a zero-shuffle
    Expand over the already-aggregated (tiny) frame."""
    li = load_table(spark, sf_dir, "lineitem")
    wide = (li.groupBy("l_returnflag")
            .agg(F.round(F.sum("l_quantity"), 6).alias("total_qty"),
                 F.round(F.sum("l_extendedprice"), 6).alias("total_price"),
                 F.round(F.avg("l_discount"), 6).alias("avg_disc")))
    return (wide.unpivot("l_returnflag",
                         ["total_qty", "total_price", "avg_disc"],
                         "metric", "val")
            .select("l_returnflag", "metric", F.round("val", 6).alias("val")))


@register("star_order_keys_concat", """
SELECT o_custkey,
       string_agg(CAST(o_orderkey AS VARCHAR), ','
                  ORDER BY o_orderkey) AS order_keys,
       count(*) AS n_orders
FROM orders
GROUP BY 1
HAVING count(*) >= 12
""")
def q_star_order_keys_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic list aggregation: collect_list is unordered by
    contract, so the engine sorts the collected array before joining to a
    string (scalar output — engine-portable and canonicalizer-safe). The
    HAVING keeps the result focused on multi-order customers."""
    orders = load_table(spark, sf_dir, "orders")
    return (orders.groupBy("o_custkey")
            .agg(F.array_join(
                     F.array_sort(F.collect_list("o_orderkey")), ",")
                 .alias("order_keys"),
                 F.count(F.lit(1)).alias("n_orders"))
            .filter(F.col("n_orders") >= 12))


# ---------------------------------------------------------------------------
# Containment near-dup (asymmetric: doc embedded in a larger one) and the
# TPC-H Q8 market-share shape (conditional share of a grouped ratio)
# ---------------------------------------------------------------------------

@register("dedup_containment", _dd.containment_oracle_sql())
def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _dd.containment_pairs(load_table(spark, sf_dir, "documents"))


@register("dedup_containment_lsh", _dd.containment_lsh_oracle_sql())
def q_dedup_containment_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked corpus-scale containment tier (round-7): exact containment
    verified on MinHash-band ∪ rare-shingle candidates — the exact
    tier's full shingle inversion (output-bound, tracks C(mult,2) pair
    mass on replicated corpora) never runs. Recall contract in
    ``operators/dedup.py::containment_pairs_lsh``."""
    return _dd.containment_pairs_lsh(load_table(spark, sf_dir, "documents"))


@register("star_market_share", """
SELECT year(o_orderdate) AS o_year,
       round(sum(CASE WHEN sn.n_name = 'NATION_0'
                      THEN l_extendedprice * (1 - l_discount)
                      ELSE 0 END)
             / sum(l_extendedprice * (1 - l_discount)), 6) AS mkt_share,
       count(*) AS n_items
FROM lineitem
JOIN orders    ON l_orderkey = o_orderkey
JOIN customer  ON o_custkey = c_custkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
JOIN region    ON cn.n_regionkey = r_regionkey
JOIN supplier  ON l_suppkey = s_suppkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
WHERE r_name = 'ASIA'
GROUP BY 1
""")
def q_star_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of revenue sold into one region,
    per year — a conditional-sum / sum ratio over a six-way join. All
    dimension hops broadcast; the customer-region filter prunes before the
    fact join; the single wide shuffle is lineitem⨝orders."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region")
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey")
    asia_nations = (nat.join(F.broadcast(
                        reg.filter(F.col("r_name") == "ASIA")),
                        nat.n_regionkey == reg.r_regionkey)
                    .select(F.col("n_nationkey").alias("cn_key")))
    sn = nat.select(F.col("n_nationkey").alias("sn_key"),
                    F.col("n_name").alias("supp_nation"))
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (li.join(orders, li.l_orderkey == orders.o_orderkey)
            .join(F.broadcast(cust), F.col("o_custkey") == cust.c_custkey)
            .join(F.broadcast(asia_nations),
                  F.col("c_nationkey") == F.col("cn_key"))
            .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
            .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
            .groupBy(F.year("o_orderdate").alias("o_year"))
            .agg(F.round(F.sum(F.when(F.col("supp_nation") == "NATION_0",
                                      rev).otherwise(0.0))
                         / F.sum(rev), 6).alias("mkt_share"),
                 F.count(F.lit(1)).alias("n_items")))


# ---------------------------------------------------------------------------
# Data profiling (one-pass column quality report) and inter-event gap stats
# ---------------------------------------------------------------------------

@register("events_profile_report", """
SELECT count(*) AS n_rows,
       count(*) - count(user_id) AS null_user_id,
       count(*) - count(value) AS null_value,
       count(DISTINCT event_type) AS n_event_types,
       round(min(value), 6) AS min_value,
       round(max(value), 6) AS max_value,
       round(avg(value), 6) AS avg_value,
       min(ts) AS min_ts,
       max(ts) AS max_ts,
       count(CASE WHEN value < 0 THEN 1 END) AS n_negative_values,
       count(CASE WHEN json_valid(props) THEN NULL ELSE 1 END)
         AS n_bad_props
FROM events
""")
def q_events_profile_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass data-quality profile: null counts, domain bounds, value
    sanity, and JSON validity in ONE aggregation over one scan — the
    profiling report a pipeline runs before trusting a new drop. Every
    metric is an aggregate expression, so the whole report costs one
    map-side-combined shuffle of a single row per partition."""
    ev = load_table(spark, sf_dir, "events")
    n = F.count(F.lit(1))
    return ev.agg(
        n.alias("n_rows"),
        (n - F.count("user_id")).alias("null_user_id"),
        (n - F.count("value")).alias("null_value"),
        F.countDistinct("event_type").alias("n_event_types"),
        F.round(F.min("value"), 6).alias("min_value"),
        F.round(F.max("value"), 6).alias("max_value"),
        F.round(F.avg("value"), 6).alias("avg_value"),
        F.min("ts").alias("min_ts"),
        F.max("ts").alias("max_ts"),
        F.count(F.when(F.col("value") < 0, 1)).alias("n_negative_values"),
        F.count(F.when(F.try_parse_json("props").isNull(), 1))
        .alias("n_bad_props"),
    )


@register("events_gap_stats", """
SELECT user_id,
       count(*) AS n_gaps,
       CAST(max(gap_s) AS BIGINT) AS max_gap_s,
       round(avg(gap_s), 6) AS avg_gap_s
FROM (
  SELECT user_id,
         CAST(floor(epoch(ts)) AS BIGINT)
         - lag(CAST(floor(epoch(ts)) AS BIGINT))
           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_s
  FROM events)
WHERE gap_s IS NOT NULL
GROUP BY 1
""")
def q_events_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-event gap distribution per entity (liveness/heartbeat
    monitoring): lag over each user's (ts, id)-ordered sequence, epoch-
    second arithmetic for portable integers, then a per-user rollup. One
    shuffle on user_id serves both the window and the aggregation."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sec = F.col("ts").cast("long")
    return (ev.select("user_id",
                      (sec - F.lag(sec).over(w)).alias("gap_s"))
            .filter(F.col("gap_s").isNotNull())
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_gaps"),
                 F.max("gap_s").cast("bigint").alias("max_gap_s"),
                 F.round(F.avg("gap_s"), 6).alias("avg_gap_s")))


# ---------------------------------------------------------------------------
# Avro wire-format round trip (SURVEY S2 ungated): producer-encode readings
# to Avro binary datums, decode with the pure-Python codec, prove identity
# ---------------------------------------------------------------------------

AVRO_READINGS_SCHEMA = """
{"namespace": "powerraw", "name": "valueall", "type": "record",
 "fields": [{"name": "house_id", "type": "string"},
            {"name": "appliance_name", "type": "string"},
            {"name": "appliance_id", "type": "string"},
            {"name": "timestamp", "type": "long"},
            {"name": "power", "type": "float"}]}
"""


@register("avro_roundtrip_readings", """
SELECT CAST(user_id AS VARCHAR) AS house_id,
       event_type AS appliance_name,
       CAST(user_id AS VARCHAR) || '_' || event_type AS appliance_id,
       CAST(floor(epoch(ts) * 1000) AS BIGINT) AS timestamp,
       CAST(value AS REAL) AS power
FROM events
""")
def q_avro_roundtrip_readings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's exact wire format (schema.avsc fields, raw binary
    datums on the Kafka value) produced and consumed without the spark-avro
    jar: rows encode to Avro bytes with the producer twin and decode back
    through the Arrow-batched codec — the oracle checks the decoded stream
    equals the source, i.e. the codec is the identity it claims to be."""
    from typing import Iterator

    import pandas as pd

    from insight_de_smart_grid_spark.sources.avro_codec import (
        decode_avro_records,
        encode_record,
        parse_flat_record_schema,
    )
    from insight_de_smart_grid_spark.sources.tables import readings_view

    fields = parse_flat_record_schema(AVRO_READINGS_SCHEMA)
    readings = readings_view(spark, sf_dir).select(
        "house_id", "appliance_name", "appliance_id",
        (F.col("ts").cast("double") * 1000).cast("bigint")
        .alias("timestamp"),
        F.col("power").cast("float").alias("power"))

    def enc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pb in batches:
            vals = [encode_record(row._asdict(), fields)
                    for row in pb.itertuples(index=False)]
            yield pd.DataFrame({"value": vals})

    frames = readings.mapInPandas(enc, "value binary")
    return decode_avro_records(frames, AVRO_READINGS_SCHEMA)


# ---------------------------------------------------------------------------
# End-to-end corpus preparation: lang filter -> quality cut -> exact dedup
# -> decontamination -> token packing -> per-shard summary. The composition
# proof: every stage is an existing operator, chained as one lazy plan.
# ---------------------------------------------------------------------------

from insight_de_smart_grid_spark.operators.dedup import (  # noqa: E402
    drop_exact_dups,
)
from insight_de_smart_grid_spark.operators.pipeline import (  # noqa: E402
    _hash_bucket_sql,
)
from insight_de_smart_grid_spark.operators.text import (  # noqa: E402
    _SW_SQL,
    QUALITY_SQL,
    lang_id,
    quality_score,
)

_GRAM5 = " || ' ' || ".join(f"t[i+{j}]" for j in range(5))
_BUCKET = _hash_bucket_sql("CAST(doc_id AS VARCHAR)")
_SHARD = _hash_bucket_sql("CAST(doc_id AS VARCHAR)", 8)

_PREPARE_SQL = f"""
WITH qual AS ({QUALITY_SQL}),
langd AS (
  SELECT doc_id,
         CASE WHEN CAST(len(list_filter(string_split_regex(trim(text),
                        '\\s+'), t -> list_contains({_SW_SQL}, t)))
                   AS DOUBLE)
              / len(string_split_regex(trim(text), '\\s+')) >= 0.02
              THEN 'en' ELSE 'unknown' END AS lang
  FROM documents),
kept AS (
  SELECT d.doc_id, d.text
  FROM documents d
  JOIN qual q ON d.doc_id = q.doc_id AND q.quality >= 0.5
  JOIN langd l ON d.doc_id = l.doc_id AND l.lang = 'en'),
fp AS (
  SELECT doc_id,
         min(doc_id) OVER (
           PARTITION BY md5(regexp_replace(lower(trim(text)),
                                           '\\s+', ' ', 'g'))) AS keep_id
  FROM kept),
sh AS (
  SELECT DISTINCT doc_id, {_GRAM5} AS g, {_BUCKET} < 5 AS hold
  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
        FROM documents),
       UNNEST(generate_series(1, len(t) - 4)) AS u(i)
  WHERE len(t) >= 5),
contaminated AS (
  SELECT DISTINCT f.doc_id
  FROM sh f
  JOIN (SELECT DISTINCT g FROM sh WHERE hold) hg USING (g)
  WHERE NOT f.hold),
survivors AS (
  SELECT k.doc_id, k.text
  FROM kept k
  JOIN fp ON k.doc_id = fp.doc_id AND fp.keep_id = k.doc_id
  LEFT JOIN contaminated c ON k.doc_id = c.doc_id
  WHERE c.doc_id IS NULL),
packed AS (
  SELECT doc_id, shard, n_tokens,
         CAST(floor((sum(n_tokens) OVER (PARTITION BY shard
                                         ORDER BY doc_id)
                     - n_tokens) / 512) AS INT) AS seq_idx
  FROM (SELECT doc_id,
               CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
                 AS n_tokens,
               {_SHARD} AS shard
        FROM survivors))
SELECT shard,
       count(*) AS n_docs,
       CAST(max(seq_idx) + 1 AS BIGINT) AS n_sequences,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens
FROM packed
GROUP BY shard
"""


@register("pipeline_prepare_training_data", _PREPARE_SQL)
def q_pipeline_prepare_training_data(spark: SparkSession,
                                     sf_dir: str) -> DataFrame:
    """The whole curation chain as ONE lazy plan: english + quality >= 0.5
    -> exact dedup (min-id per normalized fingerprint, within the filtered
    set) -> drop docs sharing a 5-gram with the holdout slice (flagged over
    the full corpus, as decontamination must be) -> pack survivors into
    512-token sequences across 8 shards -> per-shard summary. Catalyst sees
    one tree: scans fuse, and the dedup semi-join + decontamination
    anti-join pipeline into the stages a hand-fused job would produce."""
    docs = load_table(spark, sf_dir, "documents")
    kept = (docs
            .filter(lang_id("text") == "en")
            .filter(quality_score("text") >= 0.5))
    deduped = drop_exact_dups(kept)
    contaminated = _pl.decontaminate(docs).select("doc_id")
    survivors = deduped.join(contaminated, "doc_id", "left_anti")
    packed = _pl.pack_sequences(survivors)
    return (packed.groupBy("shard")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 (F.max("seq_idx") + 1).cast("bigint").alias("n_sequences"),
                 F.sum("n_tokens").cast("bigint").alias("total_tokens")))


# ---------------------------------------------------------------------------
# Correlated EXISTS (TPC-H Q4 shape) and conditional revenue share over a
# dimension attribute (Q14 shape)
# ---------------------------------------------------------------------------

@register("star_priority_with_late_items", """
SELECT o_orderpriority, count(*) AS n_orders
FROM orders o
WHERE EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
GROUP BY 1
""")
def q_star_priority_with_late_items(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: correlated EXISTS with a cross-table comparison —
    orders having at least one lineitem shipped >60 days after the order
    date. Planned as ONE left-semi join carrying the extra non-equi
    condition; the count happens on the (small) surviving header set."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate")
    cond = ((li.l_orderkey == orders.o_orderkey)
            & (li.l_shipdate
               > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")))
    return (orders.join(li, cond, "left_semi")
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n_orders")))


@register("star_promo_share", """
SELECT round(100.0 * sum(CASE WHEN p_name LIKE '%widget%'
                              THEN l_extendedprice * (1 - l_discount)
                              ELSE 0 END)
             / sum(l_extendedprice * (1 - l_discount)), 6)
         AS promo_pct,
       count(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
""")
def q_star_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: percentage of revenue from one part family — a
    LIKE predicate on a broadcast dimension feeding a conditional-sum /
    sum ratio. One broadcast join, one single-row aggregate."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_extendedprice", "l_discount")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_name")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
            .agg(F.round(100.0 * F.sum(
                     F.when(F.col("p_name").like("%widget%"), rev)
                     .otherwise(0.0)) / F.sum(rev), 6).alias("promo_pct"),
                 F.count(F.lit(1)).alias("n_items")))
