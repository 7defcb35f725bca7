"""Streaming duty-cycle: the reference's continuous query under Structured
Streaming (SURVEY §3.1; ``stream_processing/duty_cycle_avro.py``).

Operator coverage:
- ST1 event-time watermark (`withWatermark`, drops rows later than the bound
  — reference uses 2 s, ``duty_cycle_avro.py:75``);
- ST2 sliding event-time window (10 min / 2 min logical,
  ``duty_cycle_avro.py:58-59,76``);
- ST3 stateful windowed aggregation across micro-batches;
- ST4 append output mode (window emitted only once finalized);
- ST5 scheduled cadence via ``trigger(availableNow=True)`` — replaces the
  reference's Airflow DAG (``batch/airflow_DAG.py``) with a Spark-native
  incremental batch.

The duty cycle is one definition in two execution modes:
``operators/duty_cycle.py::duty_of`` over the batch ``sliding_agg`` or, here,
over ``streaming/sliding_stream.py::sliding_agg_stream_plan``. The engine
owns the watermark, the windows and the panes:

    form      batch                          stream
    tumbling  duty_cycle(slide=None)         duty_cycle_stream_plan(slide=None)
    explode   duty_cycle(slide=S)            duty_cycle_stream_plan
    panes     duty_cycle(panes=True)         duty_cycle_stream_panes_plan
    auto      duty_cycle(panes="auto")       run_sliding_stream(panes="auto")

Scale notes: state is keyed by (window, house, appliance); the watermark
bounds state size to (window/slide + late-bound) generations per key. The
pane form's event-ingesting state is keyed by (pane, house, appliance), so
the store ingests each event once instead of window/slide times. The
number of state stores is sized from the input, not fixed: one per
``ROWS_PER_STORE`` source rows a micro-batch brings, clamped to
[1, cores] (``streaming.replay.state_width``, read from parquet footers at
first start; a restart keeps the checkpoint's width). Every store pays a
fixed open/commit cost per batch, so extra stores on a small batch are
pure overhead. For a 100 TB keyspace use the RocksDB state store provider
(``spark.sql.streaming.stateStore.providerClass``) and a checkpoint dir on
shared storage — both plain configs, no code change (at the sizes measured
here the HDFS-backed store is cheaper).
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame

from insight_de_smart_grid_spark.operators.duty_cycle import (
    DEFAULT_THRESHOLD,
    duty_of,
)
from insight_de_smart_grid_spark.streaming.sliding_stream import (
    sliding_agg_stream_plan,
)


def duty_cycle_stream_plan(stream: DataFrame,
                           window: str = "10 minutes",
                           slide: str | None = "2 minutes",
                           watermark: str = "2 seconds",
                           threshold: float = DEFAULT_THRESHOLD,
                           time_col: str = "ts",
                           keys: tuple[str, ...] = ("house_id",
                                                    "appliance_id"),
                           power_col: str = "power",
                           panes: bool = False) -> DataFrame:
    """Streaming logical plan: watermark -> sliding window group ->
    count/count-if -> ratio (duty_cycle_avro.py:75-79), over
    ``sliding_agg_stream_plan``: the explode form by default, the
    chained-stateful pane form with ``panes=True``."""
    return duty_of(partial(sliding_agg_stream_plan, stream, window, slide,
                           watermark, time_col=time_col, panes=panes),
                   keys, threshold, power_col)


def duty_cycle_stream_panes_plan(stream: DataFrame,
                                 **plan_kwargs) -> DataFrame:
    """The pane-decomposed streaming duty cycle — the scale twin of
    ``duty_cycle_stream_plan`` for the reference's 1 Hz meters, where the
    explode form writes window/slide = 5x state rows per event (pinned
    equal by ``test_streaming_panes_equal_explode_stream`` and the
    ``streaming_duty_cycle_panes`` oracle row)."""
    return duty_cycle_stream_plan(stream, panes=True, **plan_kwargs)
