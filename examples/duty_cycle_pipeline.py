"""End-to-end reference-parity walkthrough: everything the smart-grid
pipeline computes, on one engine, in one script.

The reference wires five systems for this (Kafka producers ->
Spark duty-cycle job `stream_processing/duty_cycle_avro.py` -> Druid
rollup cubes `database/Druid_conf_*` -> Pivot dashboard
`frontend/dashboard-iGridDemo.json` -> Airflow-scheduled history job
`batch/druid_batch.py`). Here each stage is a DataFrame plan over the same
data:

  1. ingest + rollup        (Druid ingestion spec -> 1s rollup cube)
  2. duty-cycle             (sliding-window streaming metric, batch twin)
  3. dashboard queries      (total / top-K / time-series / filtered split)
  4. history lookback       (same-time-of-day N-day average)
  5. streaming form         (the same duty cycle as an actual
                             Structured Streaming replay, optional)

Usage:
    python examples/duty_cycle_pipeline.py [sf_dir] [--stream]
"""

from __future__ import annotations

import sys
from pathlib import Path

REPO = str(Path(__file__).resolve().parents[1])
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from insight_de_smart_grid_spark.operators import dashboard as dash
from insight_de_smart_grid_spark.operators import rollup as ru
from insight_de_smart_grid_spark.operators.duty_cycle import duty_cycle
from insight_de_smart_grid_spark.operators.history import history
from insight_de_smart_grid_spark.session import get_spark
from insight_de_smart_grid_spark.sources.tables import readings_view


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = args[0] if args else "/root/testdata/sf0.001"
    spark = get_spark(app_name="duty_cycle_pipeline")
    spark.sparkContext.setLogLevel("ERROR")

    readings = readings_view(spark, sf_dir)

    # one scope over the batch tour: any blocks operators stage via
    # localCheckpoint (operators/staging.py) are released before the
    # optional streaming replay starts — the cube is re-read by 3a, so
    # the sections share the scope rather than releasing mid-chain
    from insight_de_smart_grid_spark.operators.staging import (
        checkpoint_scope,
    )

    with checkpoint_scope(spark):
        print("== 1. rollup cube (1s granularity, additive cnt/sum_power)"
              " ==")
        cube = ru.rollup_time(readings, "1 second")
        cube.orderBy("window_start", "house_id", "appliance_id").show(5)

        print("== 2. duty cycle (10 min window, 2 min slide; panes='auto'"
              " probes events-per-(key, pane) and picks the pane"
              " decomposition on dense telemetry, the explode plan on"
              " sparse data) ==")
        dc = duty_cycle(readings, window="10 minutes", slide="2 minutes",
                        panes="auto")
        dc.orderBy("time_end", "house_id", "appliance_id").show(5)

        print("== 3a. dashboard: current total power (over the cube) ==")
        dash.total_power(cube).show()

        print("== 3b. dashboard: top-5 appliances by power ==")
        dash.top_k_by_measure(readings, "appliance_name", k=5).show()

        print("== 3c. dashboard: 5-second time series (first rows) ==")
        dash.time_series(readings, "5 seconds").orderBy(
            "bucket_start").show(5)

        print("== 4. history: same-time-of-day lookback averages ==")
        history(readings).show(5)

    if "--stream" in sys.argv:
        print("== 5. the SAME duty cycle as a streaming replay ==")
        from insight_de_smart_grid_spark.operators.staging import (
            checkpoint_scope,
        )
        from insight_de_smart_grid_spark.sources.tables import (
            events_to_readings,
        )
        from insight_de_smart_grid_spark.streaming.duty_cycle_stream import (
            duty_cycle_stream_plan,
        )
        from insight_de_smart_grid_spark.streaming.sliding_stream import (
            run_sliding_stream,
        )

        # the flush sentinel finalizes every window, so the streamed table
        # holds the batch table's complete window set; the scope removes
        # the replay's sink and checkpoint after show()
        with checkpoint_scope(spark):
            streamed = run_sliding_stream(
                spark, f"{sf_dir}/events.parquet", duty_cycle_stream_plan,
                events_to_readings, panes="auto", window="10 minutes",
                slide="2 minutes", watermark="2 seconds")
            streamed.orderBy("time_end", "house_id", "appliance_id").show(5)

    spark.stop()


if __name__ == "__main__":
    main()
