"""Duty-cycle: fraction of readings above an active-power threshold per
(time window, house, appliance).

The reference's flagship computation (``stream_processing/duty_cycle_avro.py:75-79``):

    groupBy(window(time, W, S), house_id, appliance_id)
      .agg(count(power) AS c_all, count(when(power > thres, True)) AS c_duty)
      .withColumn(duty_cycle, c_duty / c_all)
      .select(window.end AS time_end, house_id, appliance_id, duty_cycle)

SURVEY operators covered: A1 (grouped count), A2 (conditional count), P3
(conditional expression), P4 (derived ratio), P5 (column prune), P6
(struct-field extraction), ST2 (window; tumbling = slide==width special case).

Both counts are sliding aggregates, so the duty cycle builds no window of
its own: ``duty_of`` hands them to the one pane engine —
``operators/sliding.py::sliding_agg`` in batch,
``streaming/sliding_stream.py::sliding_agg_stream_plan`` in a stream — and
divides. The engine owns the tumbling, explode and pane forms, the spread
before the explode, and the ``panes="auto"`` density probe.

Scale notes: one shuffle on (window, house_id, appliance_id); Catalyst plans
partial+final HashAggregate so the map side combines before the exchange. The
grouping key includes the window, so cardinality is bounded by
(#appliances x #windows) — at 100 TB this is the per-second rollup cardinality,
well distributed because house_id dominates the hash. No UDFs; everything stays
in whole-stage codegen.
"""

from __future__ import annotations

from functools import partial
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from insight_de_smart_grid_spark.operators.sliding import sliding_agg

DEFAULT_THRESHOLD = 5.0  # watts — reference `example config/config.ini:8`


def duty_of(sliding: Callable[..., DataFrame], keys: tuple[str, ...],
            threshold: float, power_col: str) -> DataFrame:
    """The duty cycle over a sliding aggregate: ``sliding(aggs=, keys=)``
    counts the readings and those above ``threshold`` per (window,
    *keys), and the duty cycle is their ratio. The flag is a Column
    input, so it is evaluated inside the partial aggregate, after the
    window expansion — count(when(power > thres, True)), reference
    duty_cycle_avro.py:77."""
    power = F.col(power_col)
    counts = sliding(aggs=(("c_all", "count", power_col),
                           ("c_duty", "count",
                            F.when(power > F.lit(threshold), True))),
                     keys=keys)
    return counts.select("time_end", *keys,
                         (F.col("c_duty") / F.col("c_all"))
                         .alias("duty_cycle"))


def duty_cycle(readings: DataFrame,
               window: str = "10 minutes",
               slide: str | None = None,
               threshold: float = DEFAULT_THRESHOLD,
               time_col: str = "ts",
               keys: tuple[str, ...] = ("house_id", "appliance_id"),
               power_col: str = "power",
               panes: "bool | str" = False) -> DataFrame:
    """Batch duty-cycle over a readings-shaped frame.

    ``slide=None`` -> tumbling (the oracle-checkable variant); pass a slide for
    the reference's sliding 10min/2min semantics (``duty_cycle_avro.py:58-59``).

    ``panes`` picks the sliding form, as in ``sliding.sliding_agg``:
    ``True`` aggregates epoch-aligned slide-width panes and sums them per
    window (integer counts, so the rows equal the explode form's —
    pinned by ``test_duty_cycle_pane_decomposition_is_invariant`` and the
    ``duty_cycle_sliding_panes`` oracle row); ``"auto"`` probes the
    events per (key, pane) and takes panes at or above the measured
    crossover, so the sparse fixture keeps the single-shuffle explode
    plan and dense 1 Hz telemetry gets the decomposition."""
    return duty_of(partial(sliding_agg, readings, window, slide,
                           time_col=time_col, panes=panes),
                   keys, threshold, power_col)


def duty_cycle_oracle_sql(readings_cte: str,
                          window_seconds: int = 600,
                          threshold: float = DEFAULT_THRESHOLD) -> str:
    """DuckDB twin of the tumbling variant.

    ``time_bucket``'s origin (2000-01-03) is a whole multiple of every bucket
    width we use, so it agrees with Spark's epoch-aligned ``window()``.
    """
    return f"""
WITH readings AS ({readings_cte})
SELECT time_bucket(INTERVAL '{window_seconds} seconds', ts)
         + INTERVAL '{window_seconds} seconds' AS time_end,
       house_id,
       appliance_id,
       CAST(count(*) FILTER (WHERE power > {threshold}) AS DOUBLE)
         / count(power) AS duty_cycle
FROM readings
GROUP BY 1, 2, 3
"""
