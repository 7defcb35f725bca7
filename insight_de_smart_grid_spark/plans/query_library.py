"""Registered queries beyond the flagship (reference parity + extensions).

Every entry pairs a Spark DataFrame builder with a DuckDB oracle twin (or
``sql=None`` for genuinely non-SQL-expressible ops). Reference file:line
citations sit on each query so parity can be checked against
/root/reference.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from insight_de_smart_grid_spark.operators import dashboard as dash
from insight_de_smart_grid_spark.operators import history as hist
from insight_de_smart_grid_spark.operators import rollup as ru
from insight_de_smart_grid_spark.operators import duty_cycle as dc
from insight_de_smart_grid_spark.operators.cleanse import (
    extract_json_double,
    synth_key,
)
from insight_de_smart_grid_spark.operators.enrich import enrich_with_labels
from insight_de_smart_grid_spark.plans.registry import register
from insight_de_smart_grid_spark.sources.tables import (
    READINGS_SQL_VIEW,
    load_table,
    readings_view,
)


# ---------------------------------------------------------------------------
# Rollup materialization + additive re-agg (SURVEY S8/A4/A8, §1.4 contract)
# ---------------------------------------------------------------------------

@register("rollup_1s", ru.rollup_oracle_sql(READINGS_SQL_VIEW, 1))
def q_rollup_1s(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time rollup cube (Druid_conf_power_raw_avro:8-26)."""
    return ru.rollup_time(readings_view(spark, sf_dir), "1 second")


@register("rollup_reagg", ru.reagg_oracle_sql(READINGS_SQL_VIEW, 1))
def q_rollup_reagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SUM(cnt) re-aggregation through the rollup (druid_batch.py:101-102)."""
    cube = ru.rollup_time(readings_view(spark, sf_dir), "1 second",
                          dims=("house_id", "appliance_id"))
    return ru.reaggregate(cube, ("house_id", "appliance_id"),
                          avg_col="avg_power")


# ---------------------------------------------------------------------------
# Dashboard tiles (SURVEY A7-A9, T1-T2, P8-P9)
# ---------------------------------------------------------------------------

@register("dash_total_power", dash.total_power_oracle_sql(READINGS_SQL_VIEW))
def q_dash_total_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'Current Total Power' (dashboard-iGridDemo.json:20-41, A7)."""
    r = readings_view(spark, sf_dir)
    return r.agg(F.sum(F.col("power").cast("double")).alias("total_power"))


@register("dash_top10_appliance",
          dash.top_k_oracle_sql(READINGS_SQL_VIEW, "appliance_name"))
def q_dash_top10_appliance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'Top 10 appliance category' (dashboard-iGridDemo.json:42-72, T1)."""
    return dash.top_k_by_measure(readings_view(spark, sf_dir),
                                 "appliance_name")


@register("dash_top10_house",
          dash.top_k_oracle_sql(READINGS_SQL_VIEW, "house_id"))
def q_dash_top10_house(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'Top 10 household' (dashboard-iGridDemo.json:73-104, T1)."""
    return dash.top_k_by_measure(readings_view(spark, sf_dir), "house_id")


@register("dash_top10_appliance_id",
          dash.top_k_oracle_sql(READINGS_SQL_VIEW, "appliance_id"))
def q_dash_top10_appliance_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'Top 10 appliances ids' (dashboard-iGridDemo.json:105-136, T1) —
    the third top-10 tile literal, split on appliance_id."""
    return dash.top_k_by_measure(readings_view(spark, sf_dir),
                                 "appliance_id")


@register("dash_timeseries_5s",
          dash.time_series_oracle_sql(READINGS_SQL_VIEW, 5))
def q_dash_timeseries_5s(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-5s total power trend (dashboard-iGridDemo.json:208-218, A8)."""
    return dash.time_series(readings_view(spark, sf_dir), "5 seconds")


@register("dash_two_level_split",
          dash.time_series_oracle_sql(READINGS_SQL_VIEW, 60,
                                      ("appliance_name",)))
def q_dash_two_level_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time x dimension split (dashboard-iGridDemo.json:330-394, A9)."""
    return dash.time_series(readings_view(spark, sf_dir), "60 seconds",
                            extra_dims=("appliance_name",))


_SPLIT_HOUSES = ["1", "7", "8", "42", "46"]


@register("dash_filtered_split",
          dash.filtered_split_oracle_sql(READINGS_SQL_VIEW, _SPLIT_HOUSES,
                                         minutes=24 * 60))
def q_dash_filtered_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-list filter + relative time filter + grouped table
    (dashboard-iGridDemo.json:138-193, P8+P9+T2)."""
    return dash.filtered_split(readings_view(spark, sf_dir), _SPLIT_HOUSES,
                               last="24 hours")


# ---------------------------------------------------------------------------
# Batch history lookback (SURVEY A10 + P7; druid_batch.py:84-116)
# ---------------------------------------------------------------------------

@register("history_lookback", hist.history_oracle_sql(READINGS_SQL_VIEW))
def q_history_lookback(spark: SparkSession, sf_dir: str) -> DataFrame:
    return hist.history(readings_view(spark, sf_dir))


# ---------------------------------------------------------------------------
# Sliding-window duty cycle (reference exact semantics: 10 min / 2 min)
# ---------------------------------------------------------------------------

_SLIDING_ORACLE = f"""
WITH readings AS ({READINGS_SQL_VIEW}),
bounds AS (
  SELECT time_bucket(INTERVAL '2 minutes', min(ts)) - INTERVAL '10 minutes' AS lo,
         max(ts) AS hi
  FROM readings
),
starts AS (
  SELECT unnest(generate_series(lo, hi, INTERVAL '2 minutes')) AS ws
  FROM bounds
)
SELECT s.ws + INTERVAL '10 minutes' AS time_end,
       r.house_id, r.appliance_id,
       CAST(count(*) FILTER (WHERE r.power > 5.0) AS DOUBLE)
         / count(*) AS duty_cycle
FROM readings r
JOIN starts s ON r.ts >= s.ws AND r.ts < s.ws + INTERVAL '10 minutes'
GROUP BY 1, 2, 3
"""


@register("duty_cycle_sliding", _SLIDING_ORACLE)
def q_duty_cycle_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 10min/2min duty cycle — the reference's exact streaming window
    shape (duty_cycle_avro.py:58-59,76) evaluated in batch."""
    return dc.duty_cycle(readings_view(spark, sf_dir), window="10 minutes",
                         slide="2 minutes")


@register("duty_cycle_sliding_auto", _SLIDING_ORACLE)
def q_duty_cycle_sliding_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADAPTIVE form selection (round-7): one cheap probe job estimates
    events per occupied (key, pane) and picks the pane decomposition at
    or above the measured crossover density, the explode form below
    (``operators/duty_cycle.py::pane_density`` — the knn-graph dup-probe
    pattern). Same oracle SQL as both fixed forms: whichever plan the
    probe picks must produce identical rows."""
    return dc.duty_cycle(readings_view(spark, sf_dir), window="10 minutes",
                         slide="2 minutes", panes="auto")


@register("duty_cycle_sliding_panes", _SLIDING_ORACLE)
def q_duty_cycle_sliding_panes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME sliding duty cycle through the pane decomposition (one
    tumbling slide-width pre-aggregate, explode over pane partials, tiny
    combine — "No pane, no gain"): the dense-telemetry scale twin of
    `duty_cycle_sliding`, registered against the identical oracle SQL so
    both forms are value-checked row-identical. See the operator
    docstring for when each form wins."""
    return dc.duty_cycle(readings_view(spark, sf_dir), window="10 minutes",
                         slide="2 minutes", panes=True)


# ---------------------------------------------------------------------------
# Cleansing + enrichment (SURVEY P10-P12, J1, §2.8)
# ---------------------------------------------------------------------------

@register("events_json_extract", f"""
SELECT event_id,
       COALESCE(TRY_CAST(CASE WHEN props IS NOT NULL AND json_valid(props)
                              THEN json_extract_string(props, '$.k') END
                         AS DOUBLE), 0.0)
         AS k_val
FROM events
""")
def q_events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-path extraction + tolerant numeric parse (P11 analog over
    events.props; producer_GREEND_avro.py:138-146 for the 0.0 fallback)."""
    ev = load_table(spark, sf_dir, "events")
    return extract_json_double(ev, "props", "$.k", "k_val").select(
        "event_id", "k_val")


_LABELS = [("click", "Click Stream"), ("view", "Page View"),
           ("purchase", "Purchase")]
_LABELS_SQL = ", ".join(f"('{k}', '{v}')" for k, v in _LABELS)


@register("enrich_labels", f"""
WITH readings AS ({READINGS_SQL_VIEW}),
labels(appliance_name, label) AS (VALUES {_LABELS_SQL})
SELECT r.house_id, r.appliance_id,
       COALESCE(l.label, 'unknown') AS label,
       sum(r.power) AS sum_power
FROM readings r LEFT JOIN labels l USING (appliance_name)
GROUP BY 1, 2, 3
""")
def q_enrich_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 broadcast lookup join + 'unknown' default (producer_REDD_avro.py:
    92-97; producer_GREEND_avro.py:199)."""
    r = readings_view(spark, sf_dir)
    from insight_de_smart_grid_spark.sources.local_rows import local_rows_df

    labels = local_rows_df(spark, _LABELS,
                           "appliance_name string, label string")
    enriched = enrich_with_labels(r, labels, on=["appliance_name"])
    return (enriched.groupBy("house_id", "appliance_id", "label")
            .agg(F.sum(F.col("power").cast("double")).alias("sum_power")))


@register("synth_keys", """
SELECT DISTINCT
  CAST(user_id AS VARCHAR) || '_' || event_type AS appliance_id,
  CAST(user_id AS VARCHAR) AS house_id,
  event_type AS appliance_name
FROM events
""")
def q_synth_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P10 key synthesis + DISTINCT (producer_REDD_avro.py:170-171)."""
    ev = load_table(spark, sf_dir, "events")
    return (ev.select(
        synth_key(F.col("user_id").cast("string"), "event_type")
        .alias("appliance_id"),
        F.col("user_id").cast("string").alias("house_id"),
        F.col("event_type").alias("appliance_name"))
        .distinct())


# ---------------------------------------------------------------------------
# Streaming parity (SURVEY ST1-ST5) — non-SQL-expressible: append-mode
# watermark semantics have no DuckDB twin, so the driver records a rows-only
# check; tests/test_streaming.py proves batch≡stream equivalence instead.
# ---------------------------------------------------------------------------

def _streaming_duty_cycle(spark: SparkSession, sf_dir: str, panes
                          ) -> DataFrame:
    """The events replayed as readings through the streaming duty cycle,
    flush sentinel on, sentinel marker rows filtered out."""
    from insight_de_smart_grid_spark.sources.tables import events_to_readings
    from insight_de_smart_grid_spark.streaming.duty_cycle_stream import (
        duty_cycle_stream_plan,
    )
    from insight_de_smart_grid_spark.streaming.sliding_stream import (
        run_sliding_stream,
    )

    out = run_sliding_stream(
        spark, f"{sf_dir}/events.parquet", duty_cycle_stream_plan,
        events_to_readings, panes=panes,
        window="10 minutes", slide="2 minutes", watermark="2 seconds")
    return out.filter(F.col("house_id") != "-1")


@register("streaming_duty_cycle", _SLIDING_ORACLE)
def q_streaming_duty_cycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's continuous query (duty_cycle_avro.py:63-91) replayed
    through Structured Streaming: watermark + sliding window + append mode +
    availableNow trigger, parquet sink.

    The end-of-replay flush sentinel advances the final watermark past every
    real window, so the streamed append-mode result is the COMPLETE window
    set — checkable against the same oracle as the batch
    ``duty_cycle_sliding``. Sentinel windows are never finalized (their end
    lies past the watermark); the marker filter is defense in depth."""
    return _streaming_duty_cycle(spark, sf_dir, panes=False)


@register("streaming_duty_cycle_panes", _SLIDING_ORACLE)
def q_streaming_duty_cycle_panes(spark: SparkSession, sf_dir: str
                                 ) -> DataFrame:
    """The reference's continuous query through the PANE-DECOMPOSED
    streaming plan (two chained stateful aggregations, Spark 3.4+
    multiple-stateful-operator append mode): tumbling slide-width pane
    aggregate — the state store ingests each event ONCE — then a sliding
    window combine over the aggregated panes. The dense-telemetry scale
    twin of ``streaming_duty_cycle`` (the reference's 1 Hz meters write
    window/slide = 5x state rows per event under the explode form),
    registered against the identical oracle SQL so both streaming forms
    are value-checked row-identical. See
    ``streaming/sliding_stream.py::sliding_agg_stream_plan``."""
    return _streaming_duty_cycle(spark, sf_dir, panes=True)


@register("streaming_duty_cycle_auto", _SLIDING_ORACLE)
def q_streaming_duty_cycle_auto(spark: SparkSession, sf_dir: str
                                ) -> DataFrame:
    """Adaptive form selection in the STREAMING mode (round-7): the
    density probe runs over the bounded replay input (ST5 scheduled
    micro-batch — the one streaming mode where the input CAN be probed;
    a live deployment probes yesterday's history the same way) and picks
    the pane-decomposed chained-stateful plan above the crossover, the
    explode plan below. Same oracle SQL as every other sliding form —
    whichever plan runs must emit identical rows."""
    return _streaming_duty_cycle(spark, sf_dir, panes="auto")


@register("streaming_rollup", ru.rollup_oracle_sql(READINGS_SQL_VIEW, 1))
def q_streaming_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's ingest path (S8): continuous per-second rollup
    materialized into an hour-partitioned cube via availableNow; returns the
    cube. The flush sentinel finalizes every real window, so the streamed
    cube equals the batch ``rollup_1s`` and shares its oracle (the driver
    shape drops the (date, hour) partition columns)."""
    from insight_de_smart_grid_spark.sources.tables import events_to_readings
    from insight_de_smart_grid_spark.streaming.replay import (
        replay_parquet_stream,
    )
    from insight_de_smart_grid_spark.streaming.rollup_stream import (
        rollup_stream_plan,
    )

    # one file per hour partition per trigger (Druid's hourly segments)
    cube = replay_parquet_stream(
        spark, f"{sf_dir}/events.parquet",
        lambda s: rollup_stream_plan(events_to_readings(s))
        .repartition("date", "hour"),
        flush_sentinel=True, partition_by=("date", "hour"))
    return (cube.filter(F.col("house_id") != "-1")
            .select("window_start", "house_id", "appliance_id",
                    "appliance_name", "cnt", "sum_power"))


@register("dash_m4_downsample",
          dash.m4_downsample_oracle_sql(READINGS_SQL_VIEW, 60))
def q_dash_m4_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 per-bucket min/max/first/last decimation of the per-appliance
    power series — pixel-exact line rendering at 1-minute resolution with
    a bounded 4-rows-per-bucket output
    (`operators/dashboard.py::m4_downsample`)."""
    return dash.m4_downsample(readings_view(spark, sf_dir), "1 minute")
