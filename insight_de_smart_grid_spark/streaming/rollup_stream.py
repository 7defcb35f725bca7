"""Streaming rollup materialization: the reference's ingest path (Kafka ->
Druid per-second rollup into HOUR segments, ``database/Druid_conf_power_raw_
avro:20-26,117-133``) as one continuous Spark job.

``rollup_stream_plan`` is the streaming twin of ``operators/rollup.py::
rollup_time`` — same grain (1 s tumbling window x dims), same additive
``cnt``/``sum_power`` metrics, so the SUM(cnt) re-aggregation contract
(SURVEY §1.4) holds identically over the materialized table.
``streaming_rollup`` replays it into parquet partitioned by (date, hour)
— the Spark analog of Druid's hourly segments; every interval-filtered
query downstream gets partition pruning.

Scale notes: append mode + watermark bound state to ~(watermark/granularity)
window generations per dim combination; the sink-side ``repartition(date,
hour)`` keeps output at one file per hour-partition per trigger instead of
(state partitions x partitions) small files. Run cadence is
``trigger(availableNow=True)`` here (ST5 — the Airflow replacement); on a
live cluster the same query runs with a processing-time trigger unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def rollup_stream_plan(readings_stream: DataFrame,
                       granularity: str = "1 second",
                       watermark: str = "2 seconds",
                       dims: tuple[str, ...] = ("house_id", "appliance_id",
                                                "appliance_name"),
                       time_col: str = "ts",
                       value_col: str = "power") -> DataFrame:
    """Watermarked tumbling-window rollup in append mode; emits each
    (window_start, dims) row once, when the watermark finalizes it."""
    return (
        readings_stream
        .withWatermark(time_col, watermark)
        .groupBy(F.window(F.col(time_col), granularity).alias("window"),
                 *[F.col(d) for d in dims])
        .agg(F.count(F.lit(1)).alias("cnt"),
             F.sum(F.col(value_col).cast("double")).alias("sum_power"))
        .select(F.col("window.start").alias("window_start"),
                *dims, "cnt", "sum_power",
                F.to_date("window.start").alias("date"),
                F.hour("window.start").alias("hour"))
    )


def hll_rollup_stream_plan(events_stream: DataFrame,
                           key: str = "user_id",
                           granularity: str = "1 hour",
                           watermark: str = "2 seconds",
                           lg_k: int = 12) -> DataFrame:
    """Streaming twin of ``operators/sketches.py::hll_rollup``: watermarked
    tumbling windows each carrying a binary HLL sketch of distinct ``key``
    values plus the additive count — Druid's streaming-ingestion metricsSpec
    (sketch columns built AT ingest) as a continuous Spark job.

    Exact distinct is impossible in append-mode streaming (unbounded
    per-window key state); the sketch is the scale answer in both engines:
    state per window is the few-KB sketch buffer, merged map-side like any
    additive metric, and the materialized table re-aggregates by sketch
    union without touching raw data.
    """
    return (
        events_stream
        .withWatermark("ts", watermark)
        .groupBy(F.window(F.col("ts"), granularity).alias("window"))
        .agg(F.hll_sketch_agg(F.col(key), F.lit(lg_k)).alias("key_hll"),
             F.count(F.lit(1)).alias("cnt"))
        .select(F.col("window.start").alias("bucket_ts"), "key_hll", "cnt")
    )
