"""Advanced relational extensions: sessionization, as-of join, statistical
aggregates, approximate aggregates, and a scalar-function battery.

These round out 'the operations a large-scale training-data / analytics
pipeline would need' beyond SURVEY §2's literal inventory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from insight_de_smart_grid_spark.functions.arrays import (
    ARRAY_BATTERY_SQL,
    array_battery,
)
from insight_de_smart_grid_spark.operators.asof import asof_join
from insight_de_smart_grid_spark.operators.interval_join import (
    clicks_before_purchases,
    clicks_before_purchases_oracle_sql,
)
from insight_de_smart_grid_spark.operators.sessionize import (
    session_aggregates,
    sessionize_oracle_sql,
)
from insight_de_smart_grid_spark.operators.text import (
    BPE_TOKENS_SQL,
    with_bpe_token_stats,
)
from insight_de_smart_grid_spark.plans.registry import register
from insight_de_smart_grid_spark.sources.tables import (
    READINGS_SQL_VIEW,
    load_table,
)


# ---------------------------------------------------------------------------
# Sessionization (gap = 30 min over events)
# ---------------------------------------------------------------------------

@register("sessionize_events", sessionize_oracle_sql(30))
def q_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return session_aggregates(ev, gap="30 minutes")


# ---------------------------------------------------------------------------
# As-of join: each purchase matched to the user's latest click at/before it
# ---------------------------------------------------------------------------

@register("asof_purchase_click", """
SELECT p.event_id, p.user_id, p.ts,
       c.value AS asof_value, c.ts AS asof_ts
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id AND p.ts >= c.ts
""")
def q_asof_purchase_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    purchases = (ev.filter(F.col("event_type") == "purchase")
                 .select("event_id", "user_id", "ts"))
    clicks = (ev.filter(F.col("event_type") == "click")
              .select("user_id", "ts", "value"))
    return asof_join(purchases, clicks, on="user_id",
                     payload_cols=("value",))


# ---------------------------------------------------------------------------
# Statistical aggregates (stddev / corr / regression slope / exact median)
# ---------------------------------------------------------------------------

@register("star_stats_agg", """
SELECT l_returnflag,
       round(stddev(l_quantity), 6) AS std_qty,
       round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
       round(regr_slope(l_extendedprice, l_quantity), 6) AS slope_price_qty,
       round(CAST(quantile_cont(l_quantity, 0.5) AS DOUBLE), 6) AS median_qty
FROM lineitem
GROUP BY 1
""")
def q_star_stats_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rounded to 6 decimals: variance/correlation accumulate in different
    orders across engines (one-pass vs pairwise), so raw doubles differ in
    the last ulps."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(F.round(F.stddev("l_quantity"), 6).alias("std_qty"),
             F.round(F.corr("l_quantity", "l_extendedprice"), 6)
             .alias("corr_qty_price"),
             F.round(F.regr_slope("l_extendedprice", "l_quantity"), 6)
             .alias("slope_price_qty"),
             F.round(F.percentile("l_quantity", F.lit(0.5)), 6)
             .alias("median_qty"))
    )


# ---------------------------------------------------------------------------
# Approximate aggregates — the sketches are engine-specific (HLL++ / KLL),
# so the driver-checkable shape carries the exact answers plus Spark-side
# tolerance verdicts: the oracle row is deterministic (exact values + TRUE)
# while the sketch accuracy is still asserted on every run
# ---------------------------------------------------------------------------

@register("star_approx_agg", """
SELECT l_returnflag,
       count(DISTINCT l_partkey) AS exact_parts,
       TRUE AS approx_parts_ok,
       TRUE AS approx_median_ok
FROM lineitem
GROUP BY 1
""")
def q_star_approx_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # two aggregations + a tiny join: countDistinct plans an Expand and the
    # exact percentile buffers values per group — combined in ONE agg the
    # Expand multiplies the percentile's buffered input several-fold
    # (measured 5x slower); split, each pays only its own cost
    counts = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("exact_parts"),
        F.approx_count_distinct("l_partkey").alias("approx_parts"))
    # the approx-median contract is a RANK bound (accuracy parameter), not a
    # value distance — a value tolerance lies on tiny groups where the
    # interpolated exact median sits between elements. Check the honest
    # claim: the sketch's answer lies between the exact DISCRETE percentiles
    # at 0.5 +- eps (true at every data scale). Both bounds come from ONE
    # window-sorted pass (percentile_disc(p) = min value whose
    # cume_dist = rn/n >= p): two separate percentile_disc aggregates each
    # buffer+sort the whole group independently — measured 2x slower. The
    # follow-up groupBy reuses the window's hash partitioning (no second
    # shuffle).
    from pyspark.sql import Window

    wp = Window.partitionBy("l_returnflag")
    ranked = (li.select("l_returnflag", "l_extendedprice")
              .withColumn("rn", F.row_number().over(
                  wp.orderBy("l_extendedprice")))
              .withColumn("n", F.count(F.lit(1)).over(wp)))

    def disc(p: float) -> F.Column:
        qualifies = F.col("rn").cast("double") / F.col("n") >= F.lit(p)
        return F.min(F.when(qualifies, F.col("l_extendedprice")))

    medians = ranked.groupBy("l_returnflag").agg(
        disc(0.49).alias("lo_med"),
        disc(0.51).alias("hi_med"),
        F.percentile_approx("l_extendedprice", 0.5).alias("approx_median"))
    agg = counts.join(medians, "l_returnflag")
    return agg.select(
        "l_returnflag", "exact_parts",
        (F.abs(F.col("approx_parts") - F.col("exact_parts"))
         <= F.greatest(0.05 * F.col("exact_parts"), F.lit(1.0)))
        .alias("approx_parts_ok"),
        ((F.col("approx_median") >= F.col("lo_med"))
         & (F.col("approx_median") <= F.col("hi_med")))
        .alias("approx_median_ok"))


# ---------------------------------------------------------------------------
# Scalar function battery (§2.8 generalized: string/date/math/conditional)
# ---------------------------------------------------------------------------

@register("scalar_battery", """
SELECT p_partkey,
       upper(p_brand) AS brand_upper,
       lower(p_type) AS type_lower,
       substr(p_name, 1, 8) AS name_prefix,
       length(p_name) AS name_len,
       replace(p_type, ' ', '_') AS type_snake,
       regexp_extract(p_type, '([A-Z]+)', 1) AS type_first_word,
       concat(p_brand, '#', CAST(p_size AS VARCHAR)) AS brand_size,
       lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_padded,
       abs(p_retailprice - 1000.0) AS price_dev,
       round(sqrt(p_retailprice), 6) AS price_sqrt,
       round(ln(p_retailprice), 6) AS price_ln,
       cast(floor(p_retailprice / 100) AS BIGINT) AS price_bucket,
       mod(p_partkey, 7) AS key_mod,
       greatest(p_size, 25) AS size_floor25,
       CASE WHEN p_size > 40 THEN 'L' WHEN p_size > 20 THEN 'M'
            ELSE 'S' END AS size_class,
       coalesce(nullif(p_brand, 'Brand#13'), 'OTHER') AS brand_or_other
FROM part
""")
def q_scalar_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_upper"),
        F.lower("p_type").alias("type_lower"),
        F.substring("p_name", 1, 8).alias("name_prefix"),
        F.length("p_name").alias("name_len"),
        F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("type_snake"),
        F.regexp_extract("p_type", r"([A-Z]+)", 1).alias("type_first_word"),
        F.concat(F.col("p_brand"), F.lit("#"),
                 F.col("p_size").cast("string")).alias("brand_size"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_padded"),
        F.abs(F.col("p_retailprice") - 1000.0).alias("price_dev"),
        F.round(F.sqrt("p_retailprice"), 6).alias("price_sqrt"),
        F.round(F.log("p_retailprice"), 6).alias("price_ln"),
        F.floor(F.col("p_retailprice") / 100).alias("price_bucket"),
        (F.col("p_partkey") % 7).alias("key_mod"),
        F.greatest(F.col("p_size"), F.lit(25)).alias("size_floor25"),
        F.when(F.col("p_size") > 40, "L").when(F.col("p_size") > 20, "M")
        .otherwise("S").alias("size_class"),
        F.coalesce(F.nullif(F.col("p_brand"), F.lit("Brand#13")),
                   F.lit("OTHER")).alias("brand_or_other"),
    )


@register("scalar_dates", """
SELECT o_orderkey,
       CAST(year(o_orderdate) AS INT) AS order_year,
       CAST(month(o_orderdate) AS INT) AS order_month,
       CAST(extract(dow FROM o_orderdate) AS INT) AS order_dow,
       date_trunc('month', o_orderdate) AS month_start,
       CAST(o_orderdate + INTERVAL 30 DAY AS DATE) AS due_date,
       CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
            AS INT) AS days_since_epoch95,
       CAST(last_day(CAST(o_orderdate AS DATE)) AS DATE) AS month_end
FROM orders
""")
def q_scalar_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month"),
        # Spark dayofweek: 1=Sunday..7; DuckDB dow: 0=Sunday..6
        (F.dayofweek("o_orderdate") - 1).alias("order_dow"),
        # trunc() returns DATE, matching DuckDB's date_trunc('month', ts)
        F.trunc("o_orderdate", "month").alias("month_start"),
        F.date_add(F.to_date("o_orderdate"), 30).alias("due_date"),
        F.datediff(F.to_date("o_orderdate"), F.lit("1995-01-01").cast("date"))
        .alias("days_since_epoch95"),
        F.last_day("o_orderdate").alias("month_end"),
    )


# ---------------------------------------------------------------------------
# BPE-ish token counting (text analysis, training-data pipeline)
# ---------------------------------------------------------------------------

@register("text_bpe_tokens", BPE_TOKENS_SQL)
def q_text_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    return with_bpe_token_stats(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Higher-order array-function battery over embeddings
# ---------------------------------------------------------------------------

@register("array_battery", ARRAY_BATTERY_SQL)
def q_array_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    return array_battery(load_table(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# Custom stateful streaming operator (applyInPandasWithState EWMA). The
# oracle replays the exact recurrence pandas ewm(adjust=False) computes —
# y_0 = x_0, y_i = (1-a)*y_{i-1} + a*x_i — as a recursive CTE stepping rank
# by rank within each (house, appliance) series. Two float details make the
# match exact: the SQL writes (1.0 - 0.3), never the literal 0.7 (1-0.3 and
# 0.7 differ by one ulp as doubles, and pandas computes the subtraction),
# and event timestamps have no (house, appliance, ts) ties (asserted in
# tests), so the recurrence order is unambiguous. The batch≡stream test in
# tests/test_advanced.py remains the state-semantics gate.
# ---------------------------------------------------------------------------

STREAM_EWMA_SQL = """
WITH RECURSIVE readings AS (
""" + READINGS_SQL_VIEW + """
),
seq AS (
  SELECT house_id, appliance_id, ts, power,
         row_number() OVER (PARTITION BY house_id, appliance_id
                            ORDER BY ts) AS rn
  FROM readings
),
r AS (
  SELECT house_id, appliance_id, ts, power, rn, power AS ewma
  FROM seq WHERE rn = 1
  UNION ALL
  SELECT s.house_id, s.appliance_id, s.ts, s.power, s.rn,
         (1.0 - 0.3) * r.ewma + 0.3 * s.power
  FROM r JOIN seq s
    ON s.house_id = r.house_id AND s.appliance_id = r.appliance_id
   AND s.rn = r.rn + 1
)
SELECT house_id, appliance_id, ts, power, ewma FROM r
"""


@register("streaming_ewma", STREAM_EWMA_SQL)
def q_streaming_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    from insight_de_smart_grid_spark.sources.tables import events_to_readings
    from insight_de_smart_grid_spark.streaming.replay import (
        replay_parquet_stream,
    )
    from insight_de_smart_grid_spark.streaming.stateful import ewma_stream

    return replay_parquet_stream(
        spark, f"{sf_dir}/events.parquet",
        lambda stream: ewma_stream(events_to_readings(stream)))


# ---------------------------------------------------------------------------
# Skew-resistant salted aggregation (two-stage sum; same answer as plain SUM)
# ---------------------------------------------------------------------------

@register("salted_agg", """
SELECT user_id,
       round(sum(value), 6) AS sum_value,
       count(*) AS n_rows
FROM events
GROUP BY 1
""")
def q_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from insight_de_smart_grid_spark.operators.relational import salted_sum
    ev = load_table(spark, sf_dir, "events")
    return salted_sum(ev, keys=["user_id"], value_col="value",
                      salt_from="event_id", n_salts=8)


# ---------------------------------------------------------------------------
# Streaming sessionization (session_window + watermark, append mode). The
# flush sentinel finalizes every real session, so the streamed set equals the
# batch session_window answer; the oracle reproduces session_window's merge
# semantics (a new session starts when ts >= prev + gap; end = last + gap).
# ---------------------------------------------------------------------------

STREAM_SESSIONS_SQL = """
WITH flagged AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL THEN 1
              WHEN ts >= lag(ts) OVER w + INTERVAL 30 MINUTE THEN 1
              ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
),
sessions AS (
  SELECT user_id, ts, value,
         sum(new_session) OVER (PARTITION BY user_id
                                ORDER BY ts ASC
                                ROWS UNBOUNDED PRECEDING) AS session_seq
  FROM flagged
)
SELECT user_id,
       min(ts) AS session_start,
       max(ts) + INTERVAL 30 MINUTE AS session_end,
       count(*) AS n_events,
       round(sum(value), 6) AS sum_value
FROM sessions
GROUP BY user_id, session_seq
"""


@register("streaming_sessions", STREAM_SESSIONS_SQL)
def q_streaming_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from insight_de_smart_grid_spark.operators.sessionize import (
        session_stream_plan,
    )
    from insight_de_smart_grid_spark.sources.tables import normalize_event_ts
    from insight_de_smart_grid_spark.streaming.replay import (
        replay_parquet_stream,
    )

    out = replay_parquet_stream(
        spark, f"{sf_dir}/events.parquet",
        lambda stream: session_stream_plan(normalize_event_ts(stream)),
        flush_sentinel=True)
    # sentinel sessions never finalize (end > watermark); filter is defense
    return (out.filter(F.col("user_id") != -1)
            .select("user_id", "session_start", "session_end", "n_events",
                    F.round("sum_value", 6).alias("sum_value")))


# ---------------------------------------------------------------------------
# Corpus profiling by source/lang (the pipeline-health view a training-data
# curation run starts from)
# ---------------------------------------------------------------------------

@register("docs_by_source", """
SELECT source, lang,
       count(*) AS n_docs,
       round(avg(n_chars), 6) AS avg_chars,
       min(n_chars) AS min_chars,
       max(n_chars) AS max_chars,
       count(DISTINCT doc_id) AS n_distinct_ids
FROM documents
GROUP BY 1, 2
""")
def q_docs_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (d.groupBy("source", "lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.round(F.avg("n_chars"), 6).alias("avg_chars"),
                 F.min("n_chars").alias("min_chars"),
                 F.max("n_chars").alias("max_chars"),
                 F.countDistinct("doc_id").alias("n_distinct_ids")))


# ---------------------------------------------------------------------------
# Interval (range) join: clicks in the 4 hours before each purchase.
# Equi key + range predicate -> hash/SMJ join, never a nested loop.
# ---------------------------------------------------------------------------

@register("range_join_clicks_before_purchase",
          clicks_before_purchases_oracle_sql("4 HOUR"))
def q_range_join_clicks_before_purchase(spark: SparkSession,
                                        sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return clicks_before_purchases(ev, lookback="4 hours")


@register("range_join_clicks_bucketed",
          clicks_before_purchases_oracle_sql("4 HOUR"))
def q_range_join_clicks_bucketed(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Round-8 bucketed twin of the interval join: the lookback folded
    into the equi key as epoch buckets (one bucket per left row, <=2
    exploded per right row), so per-pair work is bounded by time-proximate
    same-user events instead of the user's full history — the hot-user
    quadratic the plain SMJ form pays on the skewed stress corpus. Same
    oracle SQL; `operators/interval_join.py::interval_join_bucketed`."""
    from insight_de_smart_grid_spark.operators.interval_join import (
        clicks_before_purchases_bucketed,
    )

    ev = load_table(spark, sf_dir, "events")
    return clicks_before_purchases_bucketed(ev, lookback="4 hours")


# ---------------------------------------------------------------------------
# Stream-stream self-join (watermarked, append mode): an INNER join emits
# matches in the micro-batch they occur (the watermark only bounds state),
# so a full replay yields exactly the batch interval-join answer — oracle-
# checkable with no sentinel. Streaming exact dedup stays rows-only (which
# physical row survives a within-watermark re-delivery is order-dependent);
# its batch≡stream equality is proven in tests/test_streaming.py.
# ---------------------------------------------------------------------------

STREAM_INTERVAL_JOIN_SQL = """
SELECT p.user_id,
       p.event_id AS purchase_id,
       p.ts AS purchase_ts,
       c.event_id AS click_id,
       c.ts AS click_ts
FROM events p
JOIN events c
  ON p.user_id = c.user_id
 AND c.ts > p.ts - INTERVAL 4 HOUR
 AND c.ts <= p.ts
WHERE p.event_type = 'purchase' AND c.event_type = 'click'
"""


@register("streaming_interval_join", STREAM_INTERVAL_JOIN_SQL)
def q_streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from insight_de_smart_grid_spark.streaming.replay import (
        replay_parquet_stream,
    )
    from insight_de_smart_grid_spark.streaming.stream_ops import (
        purchase_click_stream_plan,
    )

    return replay_parquet_stream(
        spark, f"{sf_dir}/events.parquet", purchase_click_stream_plan)


@register("streaming_range_join_bucketed", STREAM_INTERVAL_JOIN_SQL)
def q_streaming_range_join_bucketed(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """Round-9 stream-stream twin of the BUCKETED interval join: the
    lookback folded into the equi key as epoch buckets, so the join's
    state store keys on (user, bucket) and a hot user's buffered clicks
    never pile into one state key — the same hot-key quadratic the batch
    bucketed form kills, applied to streaming state. Bucket columns are
    internal (dropped before the sink); watermarks and the range
    condition are unchanged, so the replay registers against the SAME
    oracle SQL as the plain stream-stream join
    (`streaming/stream_ops.py::purchase_click_bucketed_stream_plan`)."""
    from insight_de_smart_grid_spark.streaming.replay import (
        replay_parquet_stream,
    )
    from insight_de_smart_grid_spark.streaming.stream_ops import (
        purchase_click_bucketed_stream_plan,
    )

    return replay_parquet_stream(
        spark, f"{sf_dir}/events.parquet",
        purchase_click_bucketed_stream_plan)


# The streamed dedup projects ONLY the business-key columns, so its result
# is the distinct key set no matter which physical duplicate survived —
# exactly SELECT DISTINCT. (dropDuplicatesWithinWatermark could re-emit a
# key whose duplicates arrive further apart in event time than the
# watermark; the replay feeds whole files per trigger, so state never
# expires mid-run — the batch≡stream test pins that too.)
@register("streaming_dedup",
          "SELECT DISTINCT user_id, event_type, ts, value FROM events")
def q_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from insight_de_smart_grid_spark.streaming.replay import (
        replay_parquet_stream,
    )
    from insight_de_smart_grid_spark.streaming.stream_ops import (
        dedup_stream_plan,
    )

    return replay_parquet_stream(
        spark, f"{sf_dir}/events.parquet", dedup_stream_plan)


# ---------------------------------------------------------------------------
# Complete-output-mode streaming top-K (the live dashboard tile): the last
# trigger's complete table covers every input row, so the drained result IS
# the batch top-K and shares its oracle.
# ---------------------------------------------------------------------------

from insight_de_smart_grid_spark.operators.dashboard import (  # noqa: E402
    top_k_oracle_sql as _topk_sql,
)
from insight_de_smart_grid_spark.sources.tables import (  # noqa: E402
    READINGS_SQL_VIEW as _READINGS,
)


@register("streaming_topk", _topk_sql(_READINGS, "appliance_name"))
def q_streaming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from insight_de_smart_grid_spark.sources.tables import events_to_readings
    from insight_de_smart_grid_spark.streaming.replay import (
        replay_parquet_stream,
    )
    from insight_de_smart_grid_spark.streaming.stream_ops import (
        top_appliances_stream_plan,
    )

    return replay_parquet_stream(
        spark, f"{sf_dir}/events.parquet",
        lambda s: top_appliances_stream_plan(events_to_readings(s)),
        output_mode="complete")
