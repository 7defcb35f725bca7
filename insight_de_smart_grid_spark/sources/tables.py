"""Parquet table loaders + the canonical ``readings`` mapping.

The engine's storage layer is partitioned Parquet (columnar at rest, like the
reference's Druid segments — ``Druid_conf_power_raw_avro:143-151`` uses
lz4-compressed columns; Parquet+zstd is the Spark-native equivalent). Loads are
plain ``spark.read.parquet`` so Catalyst gets predicate pushdown and column
pruning for free.

``readings_view`` maps the driver's ``events`` table onto the reference's
power-reading record (``stream_processing/schema.avsc:1-27``):
ts -> event time, user_id -> house_id, event_type -> appliance_name,
user_id+'_'+event_type -> appliance_id, value -> power. The matching DuckDB
CTE text is ``READINGS_SQL_VIEW`` so Spark queries and oracle SQL share one
definition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one star-schema/stream table from a scale-factor directory.

    ``events.ts`` arrives in one of three physical forms depending on the
    writer generation: TIMESTAMP(NANOS) (surfaced as nanos-since-epoch longs
    via ``spark.sql.legacy.parquet.nanosAsLong``, which
    ``session.runtime_conf`` sets), TIMESTAMP(MICROS)
    without UTC adjustment (Spark ``timestamp_ntz``), or a session-local
    timestamp. ``normalize_event_ts`` folds all three to ``TimestampType``
    (session tz is pinned to UTC, so NTZ wall-time == the same instant) —
    JVM-side casts, no UDF.
    """
    from insight_de_smart_grid_spark.sources.pq import read_parquet

    if name not in TABLES:
        raise ValueError(f"unknown table {name!r}; expected one of {TABLES}")
    # the normalized relation is a pure lazy plan over an immutable
    # fixture — memoized per session (round-11 optimization) so the
    # ~100 ms/scan footer sniff + projection build is paid once per
    # process, not once per query plan build; every action on the
    # returned frame still scans the parquet data itself
    from insight_de_smart_grid_spark.sources.pq import _key

    try:
        cache = spark._table_df_cache
    except AttributeError:
        cache = spark._table_df_cache = {}
    # mtime in the key: a rewritten fixture (tests that regenerate a
    # table in place) misses and re-plans
    key = _key(spark, f"{sf_dir}/{name}.parquet") or (sf_dir, name)
    df = cache.get(key)
    if df is None:
        df = read_parquet(spark, f"{sf_dir}/{name}.parquet")
        if "ts" in df.columns:
            df = normalize_event_ts(df)
        cache[key] = df
    return df


def normalize_event_ts(events: DataFrame) -> DataFrame:
    """Fold any physical ``ts`` form to ``TimestampType``: nanos-since-epoch
    longs (legacy-reader surface of TIMESTAMP(NANOS) parquet, integer DIV
    keeps microsecond precision), ``timestamp_ntz`` (cast re-tags the wall
    time in the UTC session zone — streaming watermarks require LTZ), or
    already-LTZ (no-op)."""
    for field in events.schema.fields:
        if field.name != "ts":
            continue
        tn = field.dataType.typeName()
        if tn in ("long", "bigint"):
            return events.withColumn(
                "ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        if tn == "timestamp_ntz":
            return events.withColumn("ts", F.col("ts").cast("timestamp"))
    return events


def events_to_readings(events: DataFrame) -> DataFrame:
    """events-shaped frame (batch OR stream) -> the reference's power-reading
    record. Handles a still-long ``ts`` (nanos) for streaming readers.

    Mirrors the producer's key synthesis (``producer_REDD_avro.py:170-171``
    builds house_id/appliance_id via string concat — SURVEY P10) and the
    stream projection (``duty_cycle_avro.py:72-73``).
    """
    events = normalize_event_ts(events)
    return events.select(
        F.col("ts"),
        F.col("user_id").cast("string").alias("house_id"),
        F.concat_ws("_", F.col("user_id").cast("string"),
                    F.col("event_type")).alias("appliance_id"),
        F.col("event_type").alias("appliance_name"),
        F.col("value").alias("power"),
    )


def readings_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch scan of ``events`` in readings shape."""
    return events_to_readings(load_table(spark, sf_dir, "events"))


# DuckDB twin of readings_view — interpolate as a CTE in oracle SQL.
READINGS_SQL_VIEW = """
  SELECT ts,
         CAST(user_id AS VARCHAR) AS house_id,
         CAST(user_id AS VARCHAR) || '_' || event_type AS appliance_id,
         event_type AS appliance_name,
         value AS power
  FROM events
"""
