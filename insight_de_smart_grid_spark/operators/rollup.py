"""Time-bucketed rollup materialization + the additive re-aggregation contract.

Re-expresses Druid's ingest-time rollup (``database/Druid_conf_power_raw_avro:
20-26``: ``rollup: true``, ``queryGranularity: SECOND``, metrics ``count`` +
``sum_power`` at ``:8-19``) as an explicit Spark aggregation producing a
pre-aggregated table (SURVEY S8/A4/A8, §4 row 1).

Contract (SURVEY §1.4): after rollup, ``cnt`` is a metric column — downstream
"COUNT" must be ``SUM(cnt)`` and "SUM" must be ``SUM(sum_power)``, exactly as
the reference's batch query does with ``longsum("count")`` at
``batch/druid_batch.py:101``. ``reaggregate`` encodes that contract once so no
caller can get it wrong.

Scale notes: the rollup is the single most important 100 TB lever — raw events
collapse ~readings-per-second-fold before any dashboard query runs. One
shuffle keyed by (bucket, dims); Catalyst plans map-side partial aggregation,
so the exchange carries pre-combined rows. ``write_rollup`` partitions by
(date, hour), so every interval-filtered query gets partition pruning — the
Spark analog of Druid's HOUR segment pruning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def rollup_time(readings: DataFrame,
                granularity: str = "1 second",
                time_col: str = "ts",
                dims: tuple[str, ...] = ("house_id", "appliance_id",
                                         "appliance_name"),
                value_col: str = "power") -> DataFrame:
    """events/readings -> pre-aggregated cube at ``granularity``.

    Output grain: (window_start, *dims) with additive metrics ``cnt`` and
    ``sum_power`` (sum in DoubleType — Avro ``power`` is float but all Druid
    sums are double, ``Druid_conf_power_raw_avro:13-18``).
    """
    return (
        readings
        .groupBy(
            F.window(F.col(time_col), granularity).alias("window"),
            *[F.col(d) for d in dims],
        )
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col(value_col).cast("double")).alias("sum_power"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            *dims,
            "cnt",
            "sum_power",
        )
    )


def reaggregate(rollup: DataFrame,
                group_cols: tuple[str, ...],
                avg_col: str | None = "avg_power") -> DataFrame:
    """Additive re-aggregation over a rollup table.

    ``COUNT == SUM(cnt)``, ``SUM == SUM(sum_power)``, ``AVG == ratio`` —
    mirrors ``druid_batch.py:101-102`` (longsum/doublesum + post-aggregator).
    """
    out = (
        rollup.groupBy(*[F.col(c) for c in group_cols])
        .agg(
            F.sum("cnt").alias("cnt"),
            F.sum("sum_power").alias("sum_power"),
        )
    )
    if avg_col:
        out = out.withColumn(avg_col, F.col("sum_power") / F.col("cnt"))
    return out


def write_rollup(rollup: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Persist the cube partitioned by (date, hour) for interval pruning —
    the Spark analog of Druid's hourly segments (``Druid_conf_power_raw_avro:22``)."""
    (
        rollup
        .withColumn("date", F.to_date("window_start"))
        .withColumn("hour", F.hour("window_start"))
        .repartition("date", "hour")
        .write.mode(mode)
        .partitionBy("date", "hour")
        .parquet(path)
    )


# ---------------------------------------------------------------------------
# Oracle twins
# ---------------------------------------------------------------------------

def rollup_oracle_sql(readings_cte: str, seconds: int = 1) -> str:
    return f"""
WITH readings AS ({readings_cte})
SELECT time_bucket(INTERVAL '{seconds} seconds', ts) AS window_start,
       house_id, appliance_id, appliance_name,
       count(*) AS cnt,
       sum(power) AS sum_power
FROM readings
GROUP BY 1, 2, 3, 4
"""


def reagg_oracle_sql(readings_cte: str, seconds: int = 1) -> str:
    """Two-level aggregation: per-second rollup, then additive re-agg —
    proves SUM(cnt) == COUNT(*) through the materialization boundary."""
    return f"""
WITH readings AS ({readings_cte}),
rollup_1s AS (
  SELECT time_bucket(INTERVAL '{seconds} seconds', ts) AS window_start,
         house_id, appliance_id,
         count(*) AS cnt,
         sum(power) AS sum_power
  FROM readings
  GROUP BY 1, 2, 3
)
SELECT house_id, appliance_id,
       CAST(sum(cnt) AS BIGINT) AS cnt,
       sum(sum_power) AS sum_power,
       sum(sum_power) / sum(cnt) AS avg_power
FROM rollup_1s
GROUP BY 1, 2
"""
