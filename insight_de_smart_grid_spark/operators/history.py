"""Multi-interval "same time of day" lookback — the batch-layer history query.

Re-expresses ``batch/druid_batch.py:84-103`` (SURVEY A10 + P7): for each of
the past N days, take an interval of 2x the window length ending at the
current clock time, aggregate avg power per (house, appliance) across all N
intervals, stamped with the run time. Scheduling moves from Airflow
(``batch/airflow_DAG.py:26-38``) to a Spark job / ``availableNow`` trigger.

The deterministic 'now' is the dataset's max event time, carried as a
broadcast scalar so the whole plan stays declarative (no driver collect).

Scale notes: with the data-derived anchor (``max(ts)`` via a broadcast
scalar join) the OR-of-ranges predicate references a runtime column, so it is
evaluated early (right after the 1-row broadcast) but cannot become a static
parquet PushedFilter. The final aggregation shuffles only the few surviving
rows.
"""

from __future__ import annotations

from functools import reduce
from operator import or_

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from insight_de_smart_grid_spark.operators.rollup import rollup_time, reaggregate


def lookback_intervals_filter(df: DataFrame, days: int = 5,
                              window_minutes: int = 20,
                              time_col: str = "ts") -> DataFrame:
    """P7: restrict to N disjoint ranges [now - d days - 2W, now - d days),
    d = 0..N-1 — the pydruid ``intervals`` list at druid_batch.py:87-93."""
    anchor_df = df.agg(F.max(time_col).alias("__now"))
    conds = [
        (F.col(time_col) >= F.col("__now")
         - F.expr(f"INTERVAL {d} DAYS") - F.expr(f"INTERVAL {window_minutes} MINUTES"))
        & (F.col(time_col) < F.col("__now") - F.expr(f"INTERVAL {d} DAYS"))
        for d in range(days)
    ]
    return (
        df.join(F.broadcast(anchor_df))
        .filter(reduce(or_, conds))
        .drop("__now")
    )


def history(readings: DataFrame, days: int = 5,
            window_minutes: int = 20) -> DataFrame:
    """The full history job: intervals filter -> per-second rollup ->
    additive re-agg to (house, appliance) with avg_power (druid_batch.py:96-109).

    Runs through the rollup so the SUM(cnt) contract (SURVEY §1.4) is
    exercised on the same path production would use.
    """
    filtered = lookback_intervals_filter(readings, days, window_minutes)
    cube = rollup_time(filtered, "1 second",
                       dims=("house_id", "appliance_id"))
    out = reaggregate(cube, ("house_id", "appliance_id"), avg_col="avg_power")
    # reference drops the raw sums and keeps avg (druid_batch.py:107-109)
    return out.select("house_id", "appliance_id", "avg_power")


def history_oracle_sql(readings_cte: str, days: int = 5,
                       window_minutes: int = 20) -> str:
    conds = " OR ".join(
        f"(ts >= a - INTERVAL {d} DAY - INTERVAL {window_minutes} MINUTE "
        f"AND ts < a - INTERVAL {d} DAY)"
        for d in range(days)
    )
    return f"""
WITH readings AS ({readings_cte}),
anchor AS (SELECT max(ts) AS a FROM readings),
rollup_1s AS (
  SELECT time_bucket(INTERVAL '1 seconds', ts) AS window_start,
         house_id, appliance_id,
         count(*) AS cnt, sum(power) AS sum_power
  FROM readings, anchor
  WHERE {conds}
  GROUP BY 1, 2, 3
)
SELECT house_id, appliance_id,
       sum(sum_power) / sum(cnt) AS avg_power
FROM rollup_1s
GROUP BY 1, 2
"""
