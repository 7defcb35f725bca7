"""Sketches, governance, simulated-broker streaming, time-series repair,
CEP, and extension-point queries — the capabilities a reference user gets
from Druid/enterprise tooling that the engine must own directly.

Families registered here:

- **Sketch rollups** (Druid metricsSpec parity): HLL count-distinct (batch
  + streaming state), KMV/theta distinct-intersection, frequent-items topN
  — each validated against an exact twin inside the same plan, so the
  driver's exact-match oracle still applies.
- **Data governance**: PII redaction and markup stripping over PLANTED
  deterministic noise (the synthetic corpus has none organically), proving
  the full regex chains via md5.
- **Simulated-broker pipelines**: the composed Kafka envelope -> Avro ->
  duty-cycle path, batch and streaming, without a broker in the container.
- **Time-series repair**, batch and streaming: gap fill, linear
  interpolation (deferred right-wall emission in the stream), counter
  deltas, SCD2, time-weighted averages.
- **CEP sequence detection** (batch windows; the streaming automaton lives
  in streaming/stream_ops.py and shares the batch oracle verbatim).
- **Extension points**: the Arrow grouped-agg pandas UDAF (per-meter MAD).

The planting pattern used throughout: derive deterministic test content
from ``doc_id`` identically in Spark and DuckDB so exact value hashes
prove behavior end-to-end on data the fixture lacks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from insight_de_smart_grid_spark.operators.sketches import (
    hll_reaggregate,
    hll_rollup,
    topn_frequent,
    topn_frequent_oracle_sql,
)
from insight_de_smart_grid_spark.operators.text import (
    PII_PATTERNS,
    pii_counts,
    redact_pii,
)
from insight_de_smart_grid_spark.operators.staging import scratch_dir
from insight_de_smart_grid_spark.plans.registry import register
from insight_de_smart_grid_spark.sources.tables import load_table


# ---------------------------------------------------------------------------
# HLL sketch rollup: hour sketches -> day union, checked against exact
# ---------------------------------------------------------------------------

@register("rollup_hll_distinct", """
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket_ts,
       count(DISTINCT user_id) AS exact_distinct,
       count(*) AS cnt,
       TRUE AS within_tol
FROM events
GROUP BY 1
""")
def q_rollup_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per day, two ways in one plan: (a) exact
    countDistinct from raw, (b) hour-bucket HLL sketches unioned to days
    (`operators/sketches.py` — the path a 100 TB deployment uses, since the
    sketches live in the rollup table and raw is never re-scanned).
    ``within_tol`` asserts the sketch estimate is within 5% of exact —
    a broken sketch/union/estimate path flips it to false and fails the
    driver's hash check against the oracle's constant TRUE."""
    events = load_table(spark, sf_dir, "events")
    hourly = hll_rollup(events, "user_id", bucket="hour")
    daily_est = hll_reaggregate(hourly, bucket="day")
    exact = (
        events.groupBy(F.date_trunc("day", F.col("ts")).alias("bucket_ts"))
        .agg(F.countDistinct("user_id").alias("exact_distinct"))
    )
    return (
        daily_est.join(exact, "bucket_ts")
        .select(
            "bucket_ts", "exact_distinct", "cnt",
            (F.abs(F.col("approx_distinct") - F.col("exact_distinct"))
             <= F.lit(0.05) * F.col("exact_distinct")).alias("within_tol"))
    )


# ---------------------------------------------------------------------------
# PII detection / redaction over planted deterministic PII
# ---------------------------------------------------------------------------

def _planted_sql() -> str:
    return (
        "text || ' contact u' || CAST(doc_id AS VARCHAR) || '@example.com "
        "ph 555-' || lpad(CAST((doc_id * 7) % 1000 AS VARCHAR), 3, '0') || "
        "'-' || lpad(CAST((doc_id * 13) % 10000 AS VARCHAR), 4, '0') || "
        "' ip 10.' || CAST(doc_id % 256 AS VARCHAR) || '.' || "
        "CAST((doc_id * 3) % 256 AS VARCHAR) || '.' || "
        "CAST((doc_id * 5) % 256 AS VARCHAR)"
    )


_PII_ORACLE = f"""
WITH planted AS (
    SELECT doc_id, {_planted_sql()} AS ptext FROM documents
)
SELECT doc_id,
       len(string_split_regex(ptext, '{PII_PATTERNS["email"]}')) - 1
           AS n_email,
       len(string_split_regex(ptext, '{PII_PATTERNS["phone"]}')) - 1
           AS n_phone,
       len(string_split_regex(ptext, '{PII_PATTERNS["ipv4"]}')) - 1
           AS n_ipv4,
       md5(regexp_replace(regexp_replace(regexp_replace(ptext,
           '{PII_PATTERNS["email"]}', '<EMAIL>', 'g'),
           '{PII_PATTERNS["phone"]}', '<PHONE>', 'g'),
           '{PII_PATTERNS["ipv4"]}', '<IPV4>', 'g')) AS redacted_md5
FROM planted
"""


@register("text_pii_redaction", _PII_ORACLE)
def q_text_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detect + count + redact three PII classes (`operators/text.py::
    redact_pii`). The corpus has no organic PII, so the query appends a
    deterministic doc_id-derived email/phone/IP to each document before
    scanning — both engines plant byte-identical strings, making the
    redacted-text md5 an exact cross-engine check of the full regex path.
    Pure chained regexp_replace: scan-speed, shuffle-free at any scale."""
    docs = load_table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    planted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact u"), d.cast("string"), F.lit("@example.com ph 555-"),
            F.lpad(((d * 7) % 1000).cast("string"), 3, "0"), F.lit("-"),
            F.lpad(((d * 13) % 10000).cast("string"), 4, "0"),
            F.lit(" ip 10."), (d % 256).cast("string"), F.lit("."),
            ((d * 3) % 256).cast("string"), F.lit("."),
            ((d * 5) % 256).cast("string"),
        ).alias("ptext"))
    email, phone, ipv4 = pii_counts("ptext")
    return planted.select(
        "doc_id",
        email.alias("n_email"), phone.alias("n_phone"), ipv4.alias("n_ipv4"),
        F.md5(redact_pii("ptext")).alias("redacted_md5"))


# ---------------------------------------------------------------------------
# Deterministic global shuffle + text normalization
# ---------------------------------------------------------------------------

from insight_de_smart_grid_spark.operators.pipeline import (  # noqa: E402
    global_shuffle,
    global_shuffle_oracle_sql,
)
from insight_de_smart_grid_spark.operators.text import (  # noqa: E402
    NORMALIZE_SQL,
    normalize_text,
)


@register("pipeline_global_shuffle", global_shuffle_oracle_sql())
def q_pipeline_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded epoch shuffle: (doc -> shard, in-shard position) with no
    global sort — one uniform-key shuffle + per-shard windows."""
    return global_shuffle(load_table(spark, sf_dir, "documents"))


@register("text_normalize", f"""
SELECT doc_id,
       md5({NORMALIZE_SQL.format(expr="text || '  MIXED Case' || chr(9) || 'line' || chr(10) || 'breaks  '")}) AS norm_md5,
       length({NORMALIZE_SQL.format(expr="text || '  MIXED Case' || chr(9) || 'line' || chr(10) || 'breaks  '")}) AS n_chars_norm
FROM documents
""")
def q_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace/case normalization proven on deliberately messy input:
    each doc gets a deterministic suffix with double spaces, tabs, newlines
    and mixed case appended before normalizing, so the md5 only matches the
    oracle if collapse/trim/lower behave identically."""
    docs = load_table(spark, sf_dir, "documents")
    messy = F.concat(F.col("text"), F.lit("  MIXED Case\tline\nbreaks  "))
    norm = normalize_text(messy)
    return docs.select(
        "doc_id",
        F.md5(norm).alias("norm_md5"),
        F.length(norm).alias("n_chars_norm"))


@register("streaming_hll_rollup", """
SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS bucket_ts,
       count(DISTINCT user_id) AS exact_distinct,
       count(*) AS cnt,
       TRUE AS within_tol
FROM events
GROUP BY 1
""")
def q_streaming_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Druid streaming-ingestion parity: hourly HLL sketches built in the
    watermarked streaming aggregation itself (`streaming/rollup_stream.py::
    hll_rollup_stream_plan`), materialized to parquet, then validated
    against batch exact distinct per hour — within_tol flips false (and the
    driver check fails) if the sketch survives the state store wrong. The
    flush sentinel finalizes every real window; its own far-future bucket
    drops at the inner join with the exact side."""
    from insight_de_smart_grid_spark.sources.tables import normalize_event_ts
    from insight_de_smart_grid_spark.streaming.replay import (
        replay_parquet_stream,
    )
    from insight_de_smart_grid_spark.streaming.rollup_stream import (
        hll_rollup_stream_plan,
    )

    cube = replay_parquet_stream(
        spark, f"{sf_dir}/events.parquet",
        lambda s: hll_rollup_stream_plan(normalize_event_ts(s)),
        flush_sentinel=True)
    est = cube.select(
        "bucket_ts", "cnt",
        F.hll_sketch_estimate(F.col("key_hll")).alias("approx_distinct"))
    exact = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("hour", F.col("ts")).alias("bucket_ts"))
        .agg(F.countDistinct("user_id").alias("exact_distinct"))
    )
    return (est.join(exact, "bucket_ts")
            .select("bucket_ts", "exact_distinct", "cnt",
                    (F.abs(F.col("approx_distinct") - F.col("exact_distinct"))
                     <= F.lit(0.05) * F.col("exact_distinct"))
                    .alias("within_tol")))


from insight_de_smart_grid_spark.operators.pipeline import (  # noqa: E402
    scd2_intervals,
    scd2_intervals_oracle_sql,
)


@register("pipeline_scd2_intervals", scd2_intervals_oracle_sql())
def q_pipeline_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kimball Type-2 dimension history from the raw event stream: one
    validity interval per run of consecutive identical states per user,
    with valid_to chaining and an is_current flag. Single hash(user_id)
    shuffle feeds every window stage."""
    return scd2_intervals(load_table(spark, sf_dir, "events"))


from insight_de_smart_grid_spark.operators.timeseries import (  # noqa: E402
    counter_deltas,
    counter_deltas_oracle_sql,
    gap_fill,
    gap_fill_oracle_sql,
)


@register("events_gap_fill", gap_fill_oracle_sql())
def q_events_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly-regularized per-user series with forward fill across gaps
    (`operators/timeseries.py::gap_fill`)."""
    return gap_fill(load_table(spark, sf_dir, "events"))


@register("events_counter_deltas", counter_deltas_oracle_sql())
def q_events_counter_deltas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Meter-style consumption deltas with reset detection."""
    return counter_deltas(load_table(spark, sf_dir, "events"))


@register("events_seasonal_anomaly", """
WITH profile AS (
  SELECT user_id, dayofweek(ts) AS dow, hour(ts) AS hod,
         avg(value) AS base_avg, stddev_samp(value) AS base_sd,
         count(*) AS n
  FROM events GROUP BY 1, 2, 3
)
SELECT e.event_id, e.user_id, e.ts,
       round((e.value - p.base_avg) / p.base_sd, 6) AS season_z
FROM events e
JOIN profile p
  ON e.user_id = p.user_id AND dayofweek(e.ts) = p.dow
 AND hour(e.ts) = p.hod
WHERE p.n >= 5 AND p.base_sd > 0
  AND abs((e.value - p.base_avg) / p.base_sd) > 2.5
""")
def q_events_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-baseline anomaly: readings deviating >2.5 sd from the SAME
    (house, day-of-week, hour-of-day) cell's history — the calendar-aware
    upgrade of the plain z-score flag (`events_anomaly_zscore`), catching
    "high for 3 AM Sunday" loads a global baseline calls normal. The
    profile aggregates to a bounded key space (|houses| x 7 x 24) and joins
    back broadcast; the fact never shuffles. Spark dayofweek == DuckDB
    dayofweek + 1, but the JOIN is dow-to-dow within one engine each, so no
    alignment shim is needed."""
    ev = load_table(spark, sf_dir, "events")
    prof = (ev.groupBy(
                F.col("user_id").alias("p_uid"),
                F.dayofweek("ts").alias("dow"),
                F.hour("ts").alias("hod"))
            .agg(F.avg("value").alias("base_avg"),
                 F.stddev_samp("value").alias("base_sd"),
                 F.count(F.lit(1)).alias("n")))
    z = (F.col("value") - F.col("base_avg")) / F.col("base_sd")
    return (ev.join(F.broadcast(prof),
                    (ev.user_id == F.col("p_uid"))
                    & (F.dayofweek(ev.ts) == F.col("dow"))
                    & (F.hour(ev.ts) == F.col("hod")))
            .where((F.col("n") >= 5) & (F.col("base_sd") > 0)
                   & (F.abs(z) > 2.5))
            .select("event_id", "user_id", "ts",
                    F.round(z, 6).alias("season_z")))


from insight_de_smart_grid_spark.operators.relational import (  # noqa: E402
    band_self_join,
)


@register("events_band_join", """
SELECT a.event_type, a.event_id AS a_id, b.event_id AS b_id,
       round(abs(a.value - b.value), 9) AS value_gap
FROM events a
JOIN events b
  ON a.event_type = b.event_type
 AND a.event_id < b.event_id
 AND abs(a.value - b.value) < 0.001
""")
def q_events_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure-inequality (band) self-join: reading pairs of the same type
    less than 0.001 apart — planned as a bucketized equi-join
    (`operators/relational.py::band_self_join`), never a nested-loop cross
    product. The oracle states the predicate directly; the engine's bucket
    blocking is provably lossless (qualifying pairs differ by at most one
    eps-bucket)."""
    ev = load_table(spark, sf_dir, "events")
    return band_self_join(ev, "value", 0.001, "event_id",
                          group_cols=("event_type",))


@register("kafka_pipeline_sim", """
WITH readings AS (
  SELECT make_timestamp(CAST(floor(epoch(ts) * 1000) AS BIGINT) * 1000) AS ts,
         CAST(user_id AS VARCHAR) AS house_id,
         CAST(user_id AS VARCHAR) || '_' || event_type AS appliance_id,
         value AS power
  FROM events
)
SELECT time_bucket(INTERVAL '600 seconds', ts)
         + INTERVAL '600 seconds' AS time_end,
       house_id,
       appliance_id,
       CAST(count(*) FILTER (WHERE CAST(power AS REAL) > 5.0) AS DOUBLE)
         / count(power) AS duty_cycle
FROM readings
GROUP BY 1, 2, 3
""")
def q_kafka_pipeline_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's full deployment pipeline minus only the socket:
    Kafka-schema source (`sources/mock_kafka.py` — exact connector schema,
    keyed produce, per-partition offsets, binary Avro datum values) →
    Arrow Avro decode (no jar) → readings projection → tumbling duty-cycle
    window (duty_cycle_avro.py:63-89). Swapping format("mockkafka") for
    format("kafka") is the only change a live broker needs. The oracle
    replays the same wire-format precision (epoch-millis timestamps) on the
    raw events table. float32 power survives exactly: the duty-cycle
    threshold compare happens on the same float both sides cast to double.
    """
    from insight_de_smart_grid_spark.operators.duty_cycle import duty_cycle
    from insight_de_smart_grid_spark.sources.avro_codec import (
        decode_avro_records,
    )
    from insight_de_smart_grid_spark.sources.files import (
        REFERENCE_AVRO_SCHEMA,
    )
    from insight_de_smart_grid_spark.sources.mock_kafka import (
        register_mock_kafka,
    )

    register_mock_kafka(spark)
    envelope = (spark.read.format("mockkafka")
                .option("path", f"{sf_dir}/events.parquet")
                .load())
    decoded = decode_avro_records(envelope.select("value"),
                                  REFERENCE_AVRO_SCHEMA)
    readings = decoded.select(
        F.timestamp_millis(F.col("timestamp")).alias("ts"),
        "house_id", "appliance_id",
        F.col("power").cast("double").alias("power"))
    return duty_cycle(readings, window="10 minutes")


@register("streaming_kafka_pipeline", """
WITH readings AS (
  SELECT make_timestamp(CAST(floor(epoch(ts) * 1000) AS BIGINT) * 1000) AS ts,
         CAST(user_id AS VARCHAR) AS house_id,
         CAST(user_id AS VARCHAR) || '_' || event_type AS appliance_id,
         value AS power
  FROM events
)
SELECT time_bucket(INTERVAL '600 seconds', ts)
         + INTERVAL '600 seconds' AS time_end,
       house_id,
       appliance_id,
       CAST(count(*) FILTER (WHERE CAST(power AS REAL) > 5.0) AS DOUBLE)
         / count(power) AS duty_cycle
FROM readings
GROUP BY 1, 2, 3
""")
def q_streaming_kafka_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's deployment loop as an actual STREAM: readStream over
    the simulated broker (checkpointed Kafka-style offsets) -> Arrow Avro
    decode -> watermarked tumbling duty-cycle -> append sink. The source's
    flush sentinel advances the watermark past the last real event so every
    window finalizes; the sentinel's own row is filtered from the RESULT
    (after the aggregation — filtering before it would starve the flush).
    Oracle: the same ms-precision duty cycle DuckDB computes from raw
    events, so streamed state must agree exactly with batch."""
    import time

    from insight_de_smart_grid_spark.session import query_session
    from insight_de_smart_grid_spark.sources.avro_codec import (
        decode_avro_records,
    )
    from insight_de_smart_grid_spark.sources.files import (
        REFERENCE_AVRO_SCHEMA,
    )
    from insight_de_smart_grid_spark.sources.mock_kafka import (
        register_mock_kafka,
    )
    from insight_de_smart_grid_spark.streaming.duty_cycle_stream import (
        duty_cycle_stream_plan,
    )
    from insight_de_smart_grid_spark.streaming.replay import state_width

    path = f"{sf_dir}/events.parquet"
    # Python data sources are registered per session: on the query's own
    qs = query_session(spark, state_width(path))
    register_mock_kafka(qs)
    env = (qs.readStream.format("mockkafka")
           .option("path", path)
           .option("flush_sentinel", "true")
           .load())
    decoded = decode_avro_records(env.select("value"), REFERENCE_AVRO_SCHEMA)
    readings = decoded.select(
        F.timestamp_millis(F.col("timestamp")).alias("ts"),
        "house_id", "appliance_id",
        F.col("power").cast("double").alias("power"))
    plan = duty_cycle_stream_plan(readings, slide=None)
    base = scratch_dir("stream_kafka_")
    # availableNow would stop at the offset latest at the start, which
    # holds the data but not the sentinel that follows it, so the
    # post-watermark emission batch would never run; drive with a fast
    # processing-time trigger instead and stop once a no-data batch has
    # fired after the sentinel (that empty batch is what emits the
    # finalized windows under the advanced watermark).
    # The cadence is dead time between the replay's few micro-batches
    # (the aggregation is slicing-invariant and watermark-gated, so
    # the result does not depend on it).
    q = (plan.writeStream.outputMode("append")
         .format("parquet").option("path", f"{base}/out")
         .option("checkpointLocation", f"{base}/ckpt")
         .trigger(processingTime="200 milliseconds").start())
    deadline = time.time() + 180
    while time.time() < deadline:
        time.sleep(0.15)
        seen = sum(int(p["numInputRows"]) for p in q.recentProgress)
        last = q.lastProgress
        if (last is not None and seen > 0
                and int(last["numInputRows"]) == 0):
            break
    q.stop()
    q.awaitTermination()
    return (spark.read.parquet(f"{base}/out")
            .filter(F.col("house_id") != "-1"))


from insight_de_smart_grid_spark.operators.sessionize import (  # noqa: E402
    sessionize_dynamic_gap,
    sessionize_dynamic_gap_oracle_sql,
)


@register("sessionize_dynamic_gap", sessionize_dynamic_gap_oracle_sql())
def q_sessionize_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessions whose idle timeout depends on the previous event's type
    (purchase 60m, signup 45m, else 15m) — the dynamic-gap generalization
    of sessionize_events."""
    ev = load_table(spark, sf_dir, "events")
    return (sessionize_dynamic_gap(ev)
            .select("user_id", "session_seq", "ts", "event_id"))


@register("map_battery", """
WITH m AS (
  SELECT doc_id,
         length(text) AS a,
         n_chars AS b,
         CAST(doc_id % 7 AS BIGINT) AS c
  FROM documents
)
SELECT doc_id,
       a + b + c AS sum_vals,
       CAST((CASE WHEN a > 100 THEN 1 ELSE 0 END)
          + (CASE WHEN b > 100 THEN 1 ELSE 0 END)
          + (CASE WHEN c > 100 THEN 1 ELSE 0 END) AS INT) AS n_big,
       a * 2 AS len_doubled,
       concat('b=', CAST(b AS VARCHAR)) AS b_tagged
FROM m
""")
def q_map_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-type scalar surface (an extension — SURVEY §2.8 notes the
    reference uses no map functions): build a map from parallel arrays,
    then exercise map_values/map_filter/transform_values/element_at and
    fold the results back to scalars. The oracle states the same
    computations directly — map functions exist only Spark-side, so the
    check proves the map path computes what the plain-column path states.
    All JVM expressions, zero shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    m = F.map_from_arrays(
        F.array(F.lit("a"), F.lit("b"), F.lit("c")),
        F.array(F.length("text").cast("long"),
                F.col("n_chars").cast("long"),
                (F.col("doc_id") % 7).cast("long")))
    big = F.map_filter(m, lambda k, v: v > 100)
    doubled = F.transform_values(m, lambda k, v: v * 2)
    return docs.select(
        "doc_id",
        F.aggregate(F.map_values(m), F.lit(0).cast("long"),
                    lambda acc, v: acc + v).alias("sum_vals"),
        F.size(big).cast("int").alias("n_big"),
        F.element_at(doubled, "a").alias("len_doubled"),
        F.concat(F.lit("b="),
                 F.element_at(m, "b").cast("string")).alias("b_tagged"))


@register("try_arithmetic_battery", """
SELECT event_id,
       value / nullif(CAST(event_id % 5 AS DOUBLE), 0) AS safe_div,
       TRY_CAST(CASE WHEN event_id % 3 = 0 THEN 'not-a-number'
                     ELSE CAST(value AS VARCHAR) END AS DOUBLE) AS parsed,
       CASE WHEN event_id % 4 = 0 THEN NULL
            ELSE CAST(round(value, 0) AS BIGINT) END AS maybe_int
FROM events
""")
def q_try_arithmetic_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-safe scalar surface: try_divide (NULL on /0 instead of error
    or Inf), try_cast over mixed parseable/garbage strings, and NULL
    propagation through conditional casts — the ANSI-safety battery a
    pipeline needs when ansi mode is on. Oracle mirrors with nullif +
    TRY_CAST."""
    ev = load_table(spark, sf_dir, "events")
    garbage_or_num = F.when(F.col("event_id") % 3 == 0,
                            F.lit("not-a-number")) \
                      .otherwise(F.col("value").cast("string"))
    return ev.select(
        "event_id",
        F.try_divide(F.col("value"),
                     (F.col("event_id") % 5).cast("double")).alias("safe_div"),
        garbage_or_num.try_cast("double").alias("parsed"),
        F.when(F.col("event_id") % 4 == 0, F.lit(None).cast("long"))
         .otherwise(F.round(F.col("value"), 0).cast("long"))
         .alias("maybe_int"))


from insight_de_smart_grid_spark.streaming.gap_fill_stream import (  # noqa: E402
    gap_fill_stream,
    gap_fill_stream_oracle_sql,
)


@register("streaming_gap_fill", gap_fill_stream_oracle_sql())
def q_streaming_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live telemetry repair: the batch gap fill as a stateful streaming
    operator (closed buckets emit when a later observation closes them;
    each key's newest bucket stays open). Oracle = batch gap fill minus
    every key's final bucket, value-checked through the state store."""
    from insight_de_smart_grid_spark.sources.tables import normalize_event_ts
    from insight_de_smart_grid_spark.streaming.replay import (
        replay_parquet_stream,
    )

    return replay_parquet_stream(
        spark, f"{sf_dir}/events.parquet",
        lambda stream: gap_fill_stream(normalize_event_ts(stream)))


from insight_de_smart_grid_spark.streaming.gap_fill_stream import (  # noqa: E402
    counter_deltas_stream,
)


@register("streaming_counter_deltas", """
WITH seq AS (
  SELECT user_id AS key, ts, value,
         round(value - lag(value) OVER (PARTITION BY user_id ORDER BY ts), 6)
             AS delta
  FROM events
)
SELECT key, ts, value, delta,
       delta < 0 AS is_reset,
       round(CASE WHEN delta < 0 THEN value ELSE delta END, 6) AS consumed
FROM seq WHERE delta IS NOT NULL
""")
def q_streaming_counter_deltas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Meter deltas computed live: state carries each key's last reading;
    every subsequent reading emits its consumption contribution exactly
    once. Streamed result equals the batch lag() formulation row for row."""
    from insight_de_smart_grid_spark.sources.tables import normalize_event_ts
    from insight_de_smart_grid_spark.streaming.replay import (
        replay_parquet_stream,
    )

    return replay_parquet_stream(
        spark, f"{sf_dir}/events.parquet",
        lambda stream: counter_deltas_stream(normalize_event_ts(stream)))


from insight_de_smart_grid_spark.streaming.gap_fill_stream import (  # noqa: E402
    scd2_stream,
)


@register("streaming_scd2", """
WITH runs AS (
  SELECT user_id, ts, event_type,
         sum(CASE WHEN prev IS NULL OR prev <> event_type THEN 1 ELSE 0 END)
             OVER (PARTITION BY user_id ORDER BY ts, event_type
                   ROWS UNBOUNDED PRECEDING) AS run_id
  FROM (
    SELECT user_id, ts, event_type,
           lag(event_type) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_type) AS prev
    FROM events)
), intervals AS (
  SELECT user_id, run_id,
         min(ts) AS valid_from,
         min_by(event_type, ts) AS state,
         count(*) AS n_events
  FROM runs GROUP BY 1, 2
)
SELECT user_id AS key, state, valid_from,
       lead(valid_from) OVER (PARTITION BY user_id
                              ORDER BY valid_from, state) AS valid_to,
       n_events
FROM intervals
QUALIFY valid_to IS NOT NULL
""")
def q_streaming_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live Type-2 dimension maintenance: closed validity intervals emit as
    state changes arrive; each key's open (current) interval stays in
    state. Oracle = batch SCD2 history minus the current rows."""
    from insight_de_smart_grid_spark.sources.tables import normalize_event_ts
    from insight_de_smart_grid_spark.streaming.replay import (
        replay_parquet_stream,
    )

    return replay_parquet_stream(
        spark, f"{sf_dir}/events.parquet",
        lambda stream: scd2_stream(normalize_event_ts(stream)))


# ---------------------------------------------------------------------------
# Frequent-items top-N: Druid approximate-topN parity with exactness flag
# ---------------------------------------------------------------------------

@register("dash_topn_sketch",
          topn_frequent_oracle_sql("events", "user_id",
                                   n=20, m=64, n_shards=32))
def q_dash_topn_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Druid-topN-parity ranking: top-20 users by event count through the
    bounded-candidate shard merge (reference dashboard ranks appliances via
    Druid topN, which is this same bounded-candidate merge across
    historicals). At sf0.01 per-shard capacity exceeds per-shard distincts,
    so the result is exact and every row is `guaranteed` — the pruning
    semantics under pressure are covered by the small-m test."""
    return topn_frequent(load_table(spark, sf_dir, "events"), "user_id",
                         n=20, m=64, n_shards=32)


# ---------------------------------------------------------------------------
# Linear-interpolation gap repair (slowly-varying-signal variant of gap fill)
# ---------------------------------------------------------------------------

from insight_de_smart_grid_spark.operators.timeseries import (  # noqa: E402
    interpolate_gaps,
    interpolate_gaps_oracle_sql,
)


@register("events_interpolate", interpolate_gaps_oracle_sql())
def q_events_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly-regularized per-user series with LINEAR interpolation across
    gaps (`operators/timeseries.py::interpolate_gaps`) — the physical-signal
    counterpart of the forward-fill repair."""
    return interpolate_gaps(load_table(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# Approximate-percentile bridge: exact quantiles as the oracle contract, the
# percentile_approx scale path validated against them inside the same plan
# ---------------------------------------------------------------------------

@register("star_approx_percentiles", """
SELECT o_orderpriority,
       quantile_cont(o_totalprice, 0.50) AS p50,
       quantile_cont(o_totalprice, 0.90) AS p90,
       quantile_cont(o_totalprice, 0.99) AS p99,
       TRUE AS approx_ok
FROM orders
GROUP BY 1
""")
def q_star_approx_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-priority order-value quantiles PLUS an in-plan check that
    `percentile_approx` (the KLL-style mergeable sketch — the only viable
    quantile at 100 TB, where exact percentile needs a per-group sort)
    honors its RANK-error contract (answer between the exact discrete
    percentiles at p +- 0.01 — true at every group size, unlike a value
    tolerance). The driver's exact-match oracle sees the exact values and
    a TRUE flag; an approx-quality regression flips the flag and fails
    the hash. Same pattern as `star_approx_agg`."""
    o = load_table(spark, sf_dir, "orders")
    exact = F.percentile("o_totalprice", F.lit([0.50, 0.90, 0.99]))
    approx = F.percentile_approx("o_totalprice",
                                 F.lit([0.50, 0.90, 0.99]), F.lit(10000))
    # rank-bound check (the sketch's actual accuracy contract — a value
    # tolerance lies on tiny groups): each approx quantile must land
    # between the exact DISCRETE percentiles at p +- 0.01. All six bounds
    # come from ONE window-sorted pass (percentile_disc(p) = min value
    # whose cume_dist = rn/n >= p): six separate percentile_disc
    # aggregates each buffer+sort the group independently — measured ~3x
    # slower. The groupBy reuses the window's hash partitioning, so the
    # whole query is one shuffle + one sort + the percentile buffers.
    from pyspark.sql import Window

    wp = Window.partitionBy("o_orderpriority")
    ranked = (o.select("o_orderpriority", "o_totalprice")
              .withColumn("rn", F.row_number().over(
                  wp.orderBy("o_totalprice")))
              .withColumn("n", F.count(F.lit(1)).over(wp)))

    def disc(p: float) -> F.Column:
        qualifies = F.col("rn").cast("double") / F.col("n") >= F.lit(p)
        return F.min(F.when(qualifies, F.col("o_totalprice")))

    bounds = [disc(p).alias(n) for p, n in
              ((0.49, "lo50"), (0.51, "hi50"), (0.89, "lo90"),
               (0.91, "hi90"), (0.98, "lo99"), (1.00, "hi99"))]
    within = ((F.col("ap")[0] >= F.col("lo50"))
              & (F.col("ap")[0] <= F.col("hi50"))
              & (F.col("ap")[1] >= F.col("lo90"))
              & (F.col("ap")[1] <= F.col("hi90"))
              & (F.col("ap")[2] >= F.col("lo99"))
              & (F.col("ap")[2] <= F.col("hi99")))
    return (
        ranked.groupBy("o_orderpriority")
        .agg(exact.alias("ex"), approx.alias("ap"), *bounds)
        .select("o_orderpriority",
                F.col("ex")[0].alias("p50"),
                F.col("ex")[1].alias("p90"),
                F.col("ex")[2].alias("p99"),
                within.alias("approx_ok"))
    )


# ---------------------------------------------------------------------------
# Per-source document cap (the "max N pages per domain" curation rule)
# ---------------------------------------------------------------------------

@register("pipeline_source_cap", """
SELECT doc_id, source, n_chars, rnk
FROM (SELECT doc_id, source, n_chars,
             CAST(row_number() OVER (PARTITION BY source
                  ORDER BY n_chars DESC, doc_id) AS INT) AS rnk
      FROM documents)
WHERE rnk <= 50
""")
def q_pipeline_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cap the corpus at 50 documents per source, keeping the longest first
    (deterministic doc_id tie-break) — the per-domain cap every web-scale
    curation pipeline applies so one crawler-friendly site can't dominate
    the mix. Catalyst plans the rank-filter as WindowGroupLimit: each
    partition keeps only its local top-50 per source BEFORE the shuffle,
    so the exchange carries O(|sources| * 50) rows per partition, not the
    corpus."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(F.desc("n_chars"),
                                             F.asc("doc_id"))
    return (docs.select("doc_id", "source", "n_chars",
                        F.row_number().over(w).cast("int").alias("rnk"))
            .where(F.col("rnk") <= 50))


# ---------------------------------------------------------------------------
# KMV (theta-style) sketch: distinct-INTERSECTION estimation across days.
# HLL (rollup_hll_distinct) unions; KMV also intersects — Druid ships theta
# sketches for exactly this (returning-users / retention tiles).
# ---------------------------------------------------------------------------

from insight_de_smart_grid_spark.operators.sketches import (  # noqa: E402
    _KMV_SCALE,
    kmv_pair_estimates,
    kmv_sketches,
    kmv_sketches_sql,
)

_KMV_K = 64

_KMV_RETENTION_SQL = f"""
WITH {kmv_sketches_sql("events", "user_id",
                       "CAST(date_trunc('day', ts) AS TIMESTAMP)", _KMV_K)},
pairs AS (
  SELECT a.dim AS day, b.dim AS next_day, a.kmv AS ka, a.sz AS sza,
         b.kmv AS kb, b.sz AS szb
  FROM sk a JOIN sk b ON b.dim = a.dim + INTERVAL 1 DAY
),
cuts AS (
  SELECT day, next_day, ka, kb,
         list_slice(list_sort(list_distinct(list_concat(ka, kb))),
                    1, {_KMV_K}) AS u,
         least(CASE WHEN sza < {_KMV_K} THEN {int(_KMV_SCALE)}
                    ELSE ka[{_KMV_K}] END,
               CASE WHEN szb < {_KMV_K} THEN {int(_KMV_SCALE)}
                    ELSE kb[{_KMV_K}] END) AS cut
  FROM pairs
),
est AS (
  SELECT day, next_day,
         CASE WHEN len(u) < {_KMV_K} THEN CAST(len(u) AS DOUBLE)
              ELSE {float(_KMV_K - 1)} * {_KMV_SCALE}
                   / CAST(u[{_KMV_K}] AS DOUBLE) END AS est_union,
         CAST(len(list_intersect(list_filter(ka, x -> x < cut),
                                 list_filter(kb, x -> x < cut)))
              AS DOUBLE) * {_KMV_SCALE} / CAST(cut AS DOUBLE) AS est_inter
  FROM cuts
),
exact AS (
  SELECT a.dim AS day, count(*) AS exact_common
  FROM hashes a JOIN hashes b ON a.h = b.h
                             AND b.dim = a.dim + INTERVAL 1 DAY
  GROUP BY 1
)
SELECT e.day, e.next_day, e.est_union, e.est_inter,
       coalesce(x.exact_common, 0) AS exact_common,
       TRUE AS within_tol
FROM est e LEFT JOIN exact x ON e.day = x.day
"""


@register("sketch_kmv_retention", _KMV_RETENTION_SQL)
def q_sketch_kmv_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day returning-users estimate through mergeable KMV sketches
    (`operators/sketches.py::kmv_sketches`): per-day k-minimum-hash sets,
    paired by consecutive days, theta-intersection estimator, validated
    in-plan against the exact hash intersection (within 35% or ±15 users at
    k=64; measured max deviation at sf0.01 is 11% — the flag flips and
    fails the oracle hash if the estimator
    degrades). The sketches are the only state: at 100 TB the per-day
    sketch table is |days| x k longs, and any pair/range query runs on it
    without re-touching raw events."""
    ev = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts"))
    sk = kmv_sketches(ev, "user_id", day, k=_KMV_K)
    a = sk.select(F.col("dim").alias("day"), F.col("kmv").alias("ka"),
                  F.col("sz").alias("sza"))
    b = sk.select(F.col("dim").alias("next_day"), F.col("kmv").alias("kb"),
                  F.col("sz").alias("szb"))
    pairs = a.join(b, F.col("next_day")
                   == F.col("day") + F.expr("INTERVAL 1 DAY"))
    est_u, est_i = kmv_pair_estimates(F.col("ka"), F.col("sza"),
                                      F.col("kb"), F.col("szb"), _KMV_K)

    h = (F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 15),
                16, 10).cast("long"))
    hashes = ev.select(day.alias("dim"), h.alias("h")).distinct()
    ha = hashes.select(F.col("dim").alias("day"), "h")
    hb = hashes.select(F.col("dim").alias("hb_day"), F.col("h").alias("h2"))
    exact = (ha.join(hb, (F.col("h") == F.col("h2"))
                     & (F.col("hb_day")
                        == F.col("day") + F.expr("INTERVAL 1 DAY")))
             .groupBy("day").agg(F.count(F.lit(1)).alias("exact_common")))

    out = (pairs.select("day", "next_day",
                        est_u.alias("est_union"), est_i.alias("est_inter"))
           .join(exact, "day", "left")
           .withColumn("exact_common",
                       F.coalesce(F.col("exact_common"), F.lit(0))))
    tol = F.greatest(F.lit(0.35) * F.col("exact_common").cast("double"),
                     F.lit(15.0))
    return out.select(
        "day", "next_day", "est_union", "est_inter", "exact_common",
        (F.abs(F.col("est_inter") - F.col("exact_common").cast("double"))
         <= tol).alias("within_tol"))


# ---------------------------------------------------------------------------
# Python UDAF surface (SURVEY §2.9): Arrow grouped-agg extension point
# ---------------------------------------------------------------------------

@register("events_mad_udaf", """
SELECT user_id,
       floor(mad(value) * 1000000) / 1000000 AS mad_value
FROM events
GROUP BY 1
""")
def q_events_mad_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-meter median absolute deviation through the Arrow GROUPED_AGG
    pandas UDAF (`functions/udafs.py::mad_udaf`) — the §2.9 aggregate
    extension point, oracle-checked against DuckDB's built-in mad().
    (Spark forbids mixing grouped-agg pandas UDFs with JVM aggregates in
    one pass — a real API constraint worth encoding here.)"""
    from insight_de_smart_grid_spark.functions.udafs import mad_udaf

    ev = load_table(spark, sf_dir, "events")
    return (ev.groupBy("user_id")
            .agg(mad_udaf(F.col("value")).alias("mad_value")))


# ---------------------------------------------------------------------------
# Markup stripping over planted deterministic HTML-ish noise
# ---------------------------------------------------------------------------

from insight_de_smart_grid_spark.operators.text import (  # noqa: E402
    markup_counts,
    strip_markup,
    strip_markup_sql,
)

_MARKED_SQL = (
    "text || ' <p class=\"x\">bold&amp;' || CAST(doc_id AS VARCHAR) || "
    "'</p> see https://ex.com/d' || CAST(doc_id AS VARCHAR) || "
    "'?q=1 tail&#39; <br/> end'"
)

_MARKUP_PATTERNS_SQL = {
    "tag": "<[^>]+>",
    "entity": "&[A-Za-z]+;|&#[0-9]+;",
    "url": "https?://[^ ]+",
}


@register("text_strip_markup", f"""
WITH marked AS (
  SELECT doc_id, {_MARKED_SQL} AS mtext FROM documents
)
SELECT doc_id,
       {" , ".join(
           f"len(string_split_regex(mtext, '{p}')) - 1 AS n_{n}"
           for n, p in _MARKUP_PATTERNS_SQL.items())},
       md5({strip_markup_sql("mtext")}) AS stripped_md5,
       length({strip_markup_sql("mtext")}) AS n_chars_stripped
FROM marked
""")
def q_text_strip_markup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-cleaning pass: strip tags / entities / URLs and collapse
    whitespace (`operators/text.py::strip_markup`). The corpus has no
    organic markup, so each doc gets deterministic doc_id-derived HTML-ish
    noise appended before cleaning — byte-identical in both engines, so the
    md5 proves the full regex chain end-to-end. Scan-speed, shuffle-free."""
    docs = load_table(spark, sf_dir, "documents")
    d = F.col("doc_id").cast("string")
    marked = docs.select(
        "doc_id",
        F.concat(F.col("text"),
                 F.lit(' <p class="x">bold&amp;'), d,
                 F.lit("</p> see https://ex.com/d"), d,
                 F.lit("?q=1 tail&#39; <br/> end")).alias("mtext"))
    stripped = strip_markup("mtext")
    return marked.select(
        "doc_id", *markup_counts("mtext"),
        F.md5(stripped).alias("stripped_md5"),
        F.length(stripped).alias("n_chars_stripped"))


# ---------------------------------------------------------------------------
# STREAMING linear interpolation (deferred emission: gaps close when their
# right wall finalizes)
# ---------------------------------------------------------------------------

from insight_de_smart_grid_spark.streaming.gap_fill_stream import (  # noqa: E402,E501
    interpolate_stream,
    interpolate_stream_oracle_sql,
)


@register("streaming_interpolate", interpolate_stream_oracle_sql())
def q_streaming_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live linear-interpolation repair: gaps emit lerped values when the
    observed bucket on their right CLOSES (interpolation needs the future
    wall — forward fill doesn't, which is the semantic difference from
    `streaming_gap_fill`). Oracle = batch interpolation cut at each key's
    second-largest observed bucket, value-checked through the state
    machine."""
    from insight_de_smart_grid_spark.sources.tables import normalize_event_ts
    from insight_de_smart_grid_spark.streaming.replay import (
        replay_parquet_stream,
    )

    return replay_parquet_stream(
        spark, f"{sf_dir}/events.parquet",
        lambda stream: interpolate_stream(normalize_event_ts(stream)))


# ---------------------------------------------------------------------------
# CEP sequence detection: ordered click -> view -> purchase chains
# ---------------------------------------------------------------------------

@register("events_sequence_detect", """
WITH ordered AS (
  SELECT user_id, ts, event_type, event_id,
         last_value(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             AS last_click_ts
  FROM events
), chains AS (
  SELECT user_id, ts, event_type,
         last_value(CASE WHEN event_type = 'view' AND last_click_ts IS NOT NULL
                         AND ts - last_click_ts <= INTERVAL 30 MINUTE
                    THEN struct_pack(view_ts := ts, click_ts := last_click_ts)
                    END IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             AS armed
  FROM ordered
)
SELECT user_id, ts AS purchase_ts,
       armed.view_ts AS view_ts, armed.click_ts AS click_ts
FROM chains
WHERE event_type = 'purchase' AND armed IS NOT NULL
  AND ts - armed.view_ts <= INTERVAL 30 MINUTE
""")
def q_events_sequence_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Complex-event-processing shape (MATCH_RECOGNIZE's common case): for
    each purchase, the most recent qualifying click -> view -> purchase
    chain with every hop within 30 minutes. Two stacked conditional
    last_value windows — an "arming" automaton carried as window state:
    the first pass carries the last click, the second carries the last
    view that was itself armed by a click. One hash(user_id) shuffle and
    one per-key sort serve both passes; no self-joins, so cost is O(events)
    regardless of chain density (the three-way join formulation explodes
    on hot users)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    last_click = F.last(
        F.when(F.col("event_type") == "click", F.col("ts")),
        ignorenulls=True).over(w)
    ordered = ev.select("user_id", "ts", "event_type", "event_id",
                        last_click.alias("last_click_ts"))
    armed_view = F.last(
        F.when((F.col("event_type") == "view")
               & F.col("last_click_ts").isNotNull()
               & (F.col("ts") <= F.col("last_click_ts")
                  + F.expr("INTERVAL 30 MINUTES")),
               F.struct(F.col("ts").alias("view_ts"),
                        F.col("last_click_ts").alias("click_ts"))),
        ignorenulls=True).over(w)
    chains = ordered.select("user_id", "ts", "event_type",
                            armed_view.alias("armed"))
    return (chains
            .where((F.col("event_type") == "purchase")
                   & F.col("armed").isNotNull()
                   & (F.col("ts") <= F.col("armed.view_ts")
                      + F.expr("INTERVAL 30 MINUTES")))
            .select("user_id", F.col("ts").alias("purchase_ts"),
                    F.col("armed.view_ts").alias("view_ts"),
                    F.col("armed.click_ts").alias("click_ts")))


from insight_de_smart_grid_spark.streaming.stream_ops import (  # noqa: E402
    sequence_detect_stream,
)
from insight_de_smart_grid_spark.plans.registry import QUERIES as _Q  # noqa: E402,E501


@register("streaming_sequence_detect", _Q["events_sequence_detect"].sql)
def q_streaming_sequence_detect(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Live CEP: the click→view→purchase automaton as per-key streaming
    state. Forward-only, so the streamed chains equal the batch query
    EXACTLY — this query shares `events_sequence_detect`'s oracle verbatim
    (the strongest batch≡stream statement in the suite: same rows, same
    values, through the state store)."""
    from insight_de_smart_grid_spark.sources.tables import normalize_event_ts
    from insight_de_smart_grid_spark.streaming.replay import (
        replay_parquet_stream,
    )

    return replay_parquet_stream(
        spark, f"{sf_dir}/events.parquet",
        lambda stream: sequence_detect_stream(normalize_event_ts(stream)))


from insight_de_smart_grid_spark.operators.timeseries import (  # noqa: E402
    time_weighted_avg,
    time_weighted_avg_oracle_sql,
)


@register("events_time_weighted_avg", time_weighted_avg_oracle_sql())
def q_events_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user daily TIME-weighted average for irregular sampling
    (`operators/timeseries.py::time_weighted_avg`) — the metering
    aggregate plain avg() distorts when reading intervals vary."""
    return time_weighted_avg(load_table(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# Entity resolution: blocked fuzzy name matching over planted typos
# ---------------------------------------------------------------------------

from insight_de_smart_grid_spark.operators.relational import (  # noqa: E402
    INTEGRITY_ORACLE_SQL,
    fuzzy_match,
    integrity_report,
    passjoin_fuzzy_match,
)


@register("fuzzy_supplier_match", """
WITH dirty AS (
  SELECT concat(substring(s_name, 1, 1 + (s_suppkey % (length(s_name) - 1))),
                'x',
                substring(s_name, 3 + (s_suppkey % (length(s_name) - 1))))
         AS dirty_name
  FROM supplier
),
dk AS (
  SELECT DISTINCT dirty_name, substring(dirty_name, 1, 1) AS blk_c,
         (length(dirty_name) // 4) + d.d AS blk_b
  FROM dirty, (VALUES (-1), (0), (1)) AS d(d)
),
ck AS (
  SELECT DISTINCT s_name AS clean_name, substring(s_name, 1, 1) AS blk_c,
         length(s_name) // 4 AS blk_b
  FROM supplier
),
cand AS (
  SELECT DISTINCT dirty_name, clean_name,
         levenshtein(dirty_name, clean_name) AS distance
  FROM dk JOIN ck USING (blk_c, blk_b)
  WHERE levenshtein(dirty_name, clean_name) <= 2
)
SELECT dirty_name, clean_name, CAST(distance AS INT) AS distance
FROM (SELECT *, row_number() OVER (PARTITION BY dirty_name
                                   ORDER BY distance, clean_name) AS rnk
      FROM cand)
WHERE rnk = 1
""")
def q_fuzzy_supplier_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution: supplier names with a PLANTED deterministic typo
    (one character substituted at 2 + suppkey mod (len-1) — never position
    1, so the first-char block is lossless for this corruption class)
    fuzzy-matched back to the clean catalog via
    `operators/relational.py::fuzzy_match` (blocked candidates + exact
    levenshtein verify, best match per dirty name)."""
    s = load_table(spark, sf_dir, "supplier")
    dirty = s.select(
        F.concat(F.expr("substring(s_name, 1, "
                        "1 + (s_suppkey % (length(s_name) - 1)))"),
                 F.lit("x"),
                 F.expr("substring(s_name, "
                        "3 + (s_suppkey % (length(s_name) - 1)))"))
        .alias("dirty_name"))
    clean = s.select(F.col("s_name").alias("clean_name"))
    out = fuzzy_match(dirty, clean)
    return out.select("dirty_name", "clean_name",
                      F.col("distance").cast("int").alias("distance"))


@register("fuzzy_supplier_passjoin", """
WITH dirty AS (
  SELECT DISTINCT
         concat(substring(s_name, 1, (s_suppkey % length(s_name))),
                substring(s_name, 2 + (s_suppkey % length(s_name))))
         AS dirty_name
  FROM supplier
),
cand AS (
  SELECT dirty_name, s_name AS clean_name,
         levenshtein(dirty_name, s_name) AS distance
  FROM dirty, supplier
  WHERE levenshtein(dirty_name, s_name) <= 2
)
SELECT dirty_name, clean_name, CAST(distance AS INT) AS distance
FROM (SELECT *, row_number() OVER (PARTITION BY dirty_name
                                   ORDER BY distance, clean_name) AS rnk
      FROM cand)
WHERE rnk = 1
""")
def q_fuzzy_supplier_passjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PassJoin segment-inversion fuzzy matching against a planted DELETION
    (char at 1 + suppkey mod len removed — sometimes the FIRST character,
    the case (first char, length band) blocking cannot recall). The oracle
    is the unblocked brute force: PassJoin's pigeonhole blocking is
    lossless, so blocked and brute-force answers must be identical —
    `operators/relational.py::passjoin_fuzzy_match`."""
    s = load_table(spark, sf_dir, "supplier")
    dirty = s.select(
        F.concat(F.expr("substring(s_name, 1, s_suppkey % length(s_name))"),
                 F.expr("substring(s_name, 2 + (s_suppkey % length(s_name)))"))
        .alias("dirty_name")).distinct()
    clean = s.select(F.col("s_name").alias("clean_name"))
    out = passjoin_fuzzy_match(dirty, clean)
    return out.select("dirty_name", "clean_name",
                      F.col("distance").cast("int").alias("distance"))


# ---------------------------------------------------------------------------
# Data-quality audit: Benford first-digit distribution
# ---------------------------------------------------------------------------

@register("audit_benford_totalprice", """
WITH digits AS (
  SELECT CAST(substring(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR),
                        1, 1) AS INT) AS digit
  FROM orders WHERE o_totalprice >= 1
),
n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM digits)
SELECT digit,
       count(*) AS n_obs,
       n * log10(1.0 + 1.0 / digit) AS expected_n,
       (count(*) - n * log10(1.0 + 1.0 / digit))
       * (count(*) - n * log10(1.0 + 1.0 / digit))
       / (n * log10(1.0 + 1.0 / digit)) AS chi2_part
FROM digits, n
GROUP BY digit, n
""")
def q_audit_benford_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-significant-digit audit of order totals — the
    data-quality screen for fabricated or truncated monetary columns.
    First digit via integer-string projection (portable; log10+floor has
    boundary hazards), expected mass log10(1 + 1/d), per-digit chi-square
    contribution. One scan, one 9-key aggregation — audit-at-scan-speed
    at any scale."""
    o = load_table(spark, sf_dir, "orders").where(F.col("o_totalprice") >= 1)
    digit = (F.substring(F.floor("o_totalprice").cast("long").cast("string"),
                         1, 1).cast("int").alias("digit"))
    digits = o.select(digit)
    n = digits.agg(F.count(F.lit(1)).cast("double").alias("n"))
    expected = F.col("n") * F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit"))
    return (digits.join(F.broadcast(n))
            .groupBy("digit", "n")
            .agg(F.count(F.lit(1)).alias("n_obs"))
            .select("digit", "n_obs",
                    expected.alias("expected_n"),
                    ((F.col("n_obs") - expected)
                     * (F.col("n_obs") - expected)
                     / expected).alias("chi2_part")))


# ---------------------------------------------------------------------------
# FULL-OUTER stream-stream join (completes the inner/left/full matrix)
# ---------------------------------------------------------------------------

from insight_de_smart_grid_spark.streaming.stream_ops import (  # noqa: E402
    purchase_click_full_stream_plan,
)


@register("streaming_full_join", """
SELECT coalesce(p.user_id, c.click_user_id) AS user_id,
       p.purchase_id, p.purchase_ts, c.click_id, c.click_ts
FROM (SELECT user_id, event_id AS purchase_id, ts AS purchase_ts
      FROM events WHERE event_type = 'purchase') p
FULL JOIN (SELECT user_id AS click_user_id, event_id AS click_id,
                  ts AS click_ts
           FROM events WHERE event_type = 'click') c
  ON p.user_id = c.click_user_id
 AND c.click_ts > p.purchase_ts - INTERVAL 30 MINUTE
 AND c.click_ts <= p.purchase_ts
""")
def q_streaming_full_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live FULL-OUTER purchase/click attribution: matched pairs plus
    null-extended rows on BOTH sides as the watermark closes them —
    value-checked against the batch FULL JOIN
    (`streaming/stream_ops.py::purchase_click_full_stream_plan`)."""
    from insight_de_smart_grid_spark.streaming.replay import (
        replay_parquet_stream,
    )

    # ONE PER-TYPE sentinel, all files in one micro-batch: the join sides
    # collect event-time stats AFTER their type filters, so the sentinel
    # must exist as a click AND a purchase or one side's watermark stalls
    # at its real maximum. The watermark advance then takes effect in the
    # final no-data micro-batch availableNow always runs
    # (noDataMicroBatches, on by default), which evicts state and emits
    # both sides' tail outer rows — regression-tested in
    # tests/test_sketch_topn.py. The earlier two-sentinel
    # max_files_per_trigger=1 staging also forced every REAL data file
    # into its own stateful micro-batch — a 2x slowdown for no
    # correctness gain. Sentinel rows carry user_id = -1 and are dropped
    # after the join.
    out = replay_parquet_stream(
        spark, f"{sf_dir}/events.parquet",
        purchase_click_full_stream_plan,
        flush_sentinel=True,
        sentinel_all_types=True)
    return out.where(F.col("user_id") != -1)


# ---------------------------------------------------------------------------
# Clickstream path mining: top-k ordered event-type paths per session
# ---------------------------------------------------------------------------

@register("events_top_paths", """
WITH sess AS (
  SELECT user_id, ts, event_id, event_type,
         sum(CASE WHEN prev_ts IS NULL
                  OR ts > prev_ts + INTERVAL 30 MINUTE THEN 1 ELSE 0 END)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING) AS session_seq
  FROM (SELECT user_id, ts, event_id, event_type,
               lag(ts) OVER (PARTITION BY user_id
                             ORDER BY ts, event_id) AS prev_ts
        FROM events)
),
paths AS (
  SELECT user_id, session_seq,
         string_agg(event_type, '>' ORDER BY ts, event_id) AS path
  FROM sess GROUP BY 1, 2
)
SELECT path, count(*) AS n_sessions,
       CAST(row_number() OVER (ORDER BY count(*) DESC, path) AS INT) AS rnk
FROM paths
GROUP BY path
QUALIFY rnk <= 20
""")
def q_events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clickstream path mining: the 20 most common ordered event-type
    sequences per 30-minute session — the product-analytics report behind
    "what do users actually do". Reuses the sessionizer
    (`operators/sessionize.py`); the path string is a deterministic
    ordered aggregation (sorted collect_list), the report a bounded top-K.
    Paths are bounded by session length, sessions shuffle on the user key,
    and the final rank touches |distinct paths| rows — scale-safe at any
    event volume."""
    from insight_de_smart_grid_spark.operators.sessionize import sessionize

    ev = load_table(spark, sf_dir, "events")
    sess = sessionize(ev)
    paths = (sess.groupBy("user_id", "session_seq")
             .agg(F.concat_ws(">", F.transform(
                 F.array_sort(F.collect_list(F.struct(
                     "ts", "event_id", "event_type"))),
                 lambda s: s.event_type)).alias("path")))
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("n_sessions"), F.asc("path"))
    return (paths.groupBy("path")
            .agg(F.count(F.lit(1)).alias("n_sessions"))
            .withColumn("rnk", F.row_number().over(w).cast("int"))
            .where(F.col("rnk") <= 20))


# ---------------------------------------------------------------------------
# Ops utilities: reproducible per-group exact-k sampling, CDC net state
# with delete tombstones, order-independent table checksum
# ---------------------------------------------------------------------------

@register("pipeline_sample_k_per_source", """
SELECT doc_id, source
FROM (SELECT doc_id, source,
             row_number() OVER (
                 PARTITION BY source
                 ORDER BY md5(CAST(doc_id AS VARCHAR) || '|seed7'), doc_id)
                 AS rnk
      FROM documents)
WHERE rnk <= 25
""")
def q_sample_k_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly k documents per source, uniformly at random but REPRODUCIBLE
    (rank by seeded md5 of the id): the eval-set carve-out that
    percentage sampling (`pipeline_stratified_sample`) can't give when the
    contract is "exactly 25 per source". WindowGroupLimit prunes each map
    partition to its local 25 before the shuffle."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("|seed7"))),
        F.asc("doc_id"))
    return (docs.select("doc_id", "source",
                        F.row_number().over(w).alias("rnk"))
            .where(F.col("rnk") <= 25).drop("rnk"))


@register("pipeline_cdc_net_state", """
WITH latest AS (
  SELECT user_id, event_type, ts, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
SELECT user_id, event_type AS last_op, ts, value
FROM latest
WHERE rn = 1 AND event_type <> 'error'
""")
def q_pipeline_cdc_net_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC net state WITH delete tombstones: the newest op per key wins,
    and keys whose newest op is the tombstone ('error' standing in for
    DELETE) vanish from the snapshot — the semantics `latest_compaction`
    (pure upsert) lacks. Same single WindowGroupLimit-pruned shuffle; the
    tombstone filter runs after the per-key top-1, so a delete genuinely
    erases rather than exposing the previous version."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"),
                                              F.desc("event_id"))
    return (ev.withColumn("rn", F.row_number().over(w))
            .where((F.col("rn") == 1) & (F.col("event_type") != "error"))
            .select("user_id", F.col("event_type").alias("last_op"),
                    "ts", "value"))


@register("audit_table_checksum", """
WITH h AS (
  SELECT CAST(concat('0x', substring(md5(
             coalesce(CAST(l_orderkey AS VARCHAR), '<null>') || '|' ||
             coalesce(CAST(l_linenumber AS VARCHAR), '<null>') || '|' ||
             coalesce(CAST(l_quantity AS VARCHAR), '<null>') || '|' ||
             coalesce(l_returnflag, '<null>')),
             1, 15)) AS BIGINT) AS rh
  FROM lineitem
)
SELECT bit_xor(rh) AS checksum, count(*) AS n_rows FROM h
""")
def q_audit_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent content checksum: bit_xor of a portable per-row
    hash plus the row count — the migration/replica-equality check that
    needs no sort and no data movement beyond one aggregate (XOR is
    commutative/associative, so map-side partials combine). Any changed,
    dropped, or duplicated row flips the pair. Hash inputs are stringified
    identically in both engines (bigint/int exact; l_quantity renders
    x.0-style from DOUBLE in neither — so it is cast via BIGINT-safe
    formatting below)."""
    li = load_table(spark, sf_dir, "lineitem")
    # l_quantity is integral-valued DOUBLE: Spark casts 17.0 -> '17.0',
    # DuckDB -> '17.0' as well; both engines agree on this rendering only
    # for integral values, which the fixture guarantees — the general rule
    # is to checksum NUMERIC columns via a scaled-integer cast.
    # NULLs are coalesced to an explicit marker BEFORE hashing: concat_ws
    # silently skips nulls (making NULL|x and x collide) and DuckDB's ||
    # nulls the whole row hash — a checksum must distinguish NULL cells.
    def cell(c) -> F.Column:
        return F.coalesce(F.col(c).cast("string"), F.lit("<null>"))

    rh = (F.conv(F.substring(F.md5(F.concat_ws(
        "|", cell("l_orderkey"), cell("l_linenumber"),
        cell("l_quantity"), cell("l_returnflag"))), 1, 15), 16, 10)
        .cast("long"))
    return (li.select(rh.alias("rh"))
            .agg(F.bit_xor("rh").alias("checksum"),
                 F.count(F.lit(1)).alias("n_rows")))


# ---------------------------------------------------------------------------
# STREAMING KMV sketches finalized by EVENT-TIME TIMEOUT (the third
# emission discipline: the clock closes the group, not a later element)
# ---------------------------------------------------------------------------

from insight_de_smart_grid_spark.streaming.sketch_stream import (  # noqa: E402,E501
    kmv_daily_stream,
    kmv_daily_stream_oracle_sql,
)


@register("streaming_kmv_daily", kmv_daily_stream_oracle_sql())
def q_streaming_kmv_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously-maintained per-day KMV distinct sketches: each day's
    bounded k-min-hash state emits its finalized estimate when the
    WATERMARK passes the day's end (applyInPandasWithState +
    EventTimeTimeout — Druid's streaming sketch segment-close). The replay
    sentinel's 3-day margin pushes the final watermark past every real
    day's end, so the streamed output equals the batch per-day sketch
    table exactly."""
    from insight_de_smart_grid_spark.sources.tables import normalize_event_ts
    from insight_de_smart_grid_spark.streaming.replay import (
        replay_parquet_stream,
    )

    # margin must exceed a DAY (the window granularity) for the final
    # day's event-time timeout to fire — the default 1h margin crosses the
    # last midnight only by data luck; availableNow's final commit batch
    # then fires the timeouts under the sentinel-advanced watermark
    return replay_parquet_stream(
        spark, f"{sf_dir}/events.parquet",
        lambda stream: kmv_daily_stream(normalize_event_ts(stream)),
        flush_sentinel=True,
        sentinel_margin_s=3 * 86400).where(F.col("day") < "2100-01-01")


# ---------------------------------------------------------------------------
# Dedup ROI report: what near-dup clustering actually saves
# ---------------------------------------------------------------------------

from insight_de_smart_grid_spark.operators import dedup as _ddq  # noqa: E402


def _savings_oracle_sql() -> str:
    base = _ddq.keep_best_oracle_sql()
    out = (base.replace(
        "SELECT c.doc_id, c.cluster_id, q.quality,\n"
        "       CAST(row_number() OVER (PARTITION BY c.cluster_id\n"
        "                               ORDER BY q.quality DESC, c.doc_id)\n"
        "            = 1 AS INT) AS keep\n"
        "FROM clus c JOIN qual q ON c.doc_id = q.doc_id",
        """, marked AS (
  SELECT c.doc_id, c.cluster_id,
         CAST(row_number() OVER (PARTITION BY c.cluster_id
                                 ORDER BY q.quality DESC, c.doc_id)
              = 1 AS INT) AS keep
  FROM clus c JOIN qual q ON c.doc_id = q.doc_id
)
SELECT m.cluster_id, count(*) AS n_docs,
       sum(d.n_chars) AS chars_total,
       sum(CASE WHEN m.keep = 0 THEN d.n_chars ELSE 0 END) AS chars_saved,
       min(CASE WHEN m.keep = 1 THEN m.doc_id END) AS keeper_doc
FROM marked m JOIN documents d ON m.doc_id = d.doc_id
GROUP BY 1"""))
    # splicing on the exact tail of keep_best_oracle_sql — fail loudly if
    # that text drifts, or this oracle silently degrades to keep_best's
    assert "marked AS" in out, "keep_best oracle tail changed; update splice"
    return out


@register("dedup_savings_report", _savings_oracle_sql())
def q_dedup_savings_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup ROI scoreboard: per near-dup cluster, how many documents
    collapse, the total and SAVED characters (everything but the
    quality-ranked keeper), and which doc survives — the report that
    justifies (or kills) a dedup stage in a curation pipeline. Pure
    composition of `dup_clusters` + `keep_best_per_cluster` + one
    bounded aggregation over |clustered docs| rows."""
    docs = load_table(spark, sf_dir, "documents")
    marked = _ddq.keep_best_per_cluster(
        docs, _ddq.ngram_jaccard_pairs(docs))
    return (marked.join(docs.select("doc_id", "n_chars"), "doc_id")
            .groupBy("cluster_id")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_chars").alias("chars_total"),
                 F.sum(F.when(F.col("keep") == 0, F.col("n_chars"))
                       .otherwise(F.lit(0))).alias("chars_saved"),
                 F.min(F.when(F.col("keep") == 1, F.col("doc_id")))
                 .alias("keeper_doc")))


@register("audit_integrity", INTEGRITY_ORACLE_SQL)
def q_audit_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-contract audit: referential integrity, PK uniqueness, null
    keys, ranges, date ordering — one (check, n_violations) row per rule
    (`operators/relational.py::integrity_report`)."""
    return integrity_report(load_table(spark, sf_dir, "lineitem"),
                            load_table(spark, sf_dir, "orders"),
                            load_table(spark, sf_dir, "customer"),
                            load_table(spark, sf_dir, "events"))
