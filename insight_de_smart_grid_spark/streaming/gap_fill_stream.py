"""Streaming gap fill: the batch forward-fill repair
(`operators/timeseries.py::gap_fill`) as a live stateful operator.

Semantics — CLOSED buckets only: a bucket finalizes (and any gap buckets
before it back-fill) when a later-bucket observation for the same key
arrives; each key's newest bucket stays open in state, because its mean
could still change. The streamed output therefore equals the batch gap
fill minus each key's final bucket — exactly what the oracle states, so
the state machine is value-checked, not just row-counted.

State per key is four scalars (open bucket, running sum/count, last filled
value) — O(keys) total regardless of volume — carried by
``stateful.keyed_state``, the one driver of every per-key state machine
here (counter deltas, SCD2 and interpolation below too). Out-of-order
ACROSS micro-batches (an observation older than the open bucket) is
dropped like a watermark-expired row; within a batch order doesn't matter
(buckets are aggregated once per hash bucket of keys, then walked in
order).
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import DataFrame

from insight_de_smart_grid_spark.operators.timeseries import (
    gap_fill_oracle_sql,
    interpolate_gaps_oracle_sql,
)
from insight_de_smart_grid_spark.streaming.stateful import keyed_state

OUT_SCHEMA = ("key long, bucket_ts timestamp, value double, "
              "is_observed boolean")
STATE_SCHEMA = ("open_bucket long, open_sum double, open_cnt long, "
                "last_value double, has_last boolean")


def _bucket_sums(bucket_seconds: int):
    """``prepare`` for ``keyed_state``: one (key, bucket) sum/count pass
    over a hash bucket's rows; buckets are microsecond timestamps."""
    def prepare(pdf: pd.DataFrame) -> pd.DataFrame:
        b = pdf["ts"] // 10**6 // bucket_seconds * bucket_seconds * 10**6
        return (pdf.assign(b=b)
                .groupby(["user_id", "b"], sort=False, dropna=False)["value"]
                .agg(["sum", "count"]).reset_index())
    return prepare


def gap_fill_stream(events_stream: DataFrame,
                    bucket_seconds: int = 3600) -> DataFrame:
    """Watermark-free stateful gap fill; see module docstring for the
    closed-bucket contract."""
    step_us = bucket_seconds * 10**6

    def step(cols: dict, state: tuple) -> tuple:
        ob, osum, ocnt, lastv, haslast = state
        out: list[tuple] = []
        for b, bsum, bcnt in zip(cols["b"], cols["sum"], cols["count"]):
            if ob == -1:
                ob, osum, ocnt = b, bsum, bcnt
                continue
            if b == ob:
                osum += bsum
                ocnt += bcnt
                continue
            if b < ob:  # late across batches: expired, dropped
                continue
            val = round(osum / ocnt, 6)
            out.append((ob, val, True))
            lastv, haslast = val, True
            g = ob + step_us
            while g < b:
                out.append((g, lastv, False))
                g += step_us
            ob, osum, ocnt = b, bsum, bcnt
        return (ob, osum, ocnt, lastv, haslast), out

    return keyed_state(events_stream, ("user_id",), ("ts", "value"), ("b",),
                       STATE_SCHEMA, OUT_SCHEMA, (-1, 0.0, 0, 0.0, False),
                       step, prepare=_bucket_sums(bucket_seconds))


def gap_fill_stream_oracle_sql(bucket: str = "hour") -> str:
    """Batch gap fill minus each key's final (still-open) bucket."""
    return f"""
WITH filled AS ({gap_fill_oracle_sql(bucket)}), cut AS (
  SELECT *, max(bucket_ts) OVER (PARTITION BY key) AS last_ts FROM filled
)
SELECT key, bucket_ts, value, is_observed FROM cut WHERE bucket_ts < last_ts
"""


DELTA_OUT_SCHEMA = ("key long, ts timestamp, value double, delta double, "
                    "is_reset boolean, consumed double")
DELTA_STATE_SCHEMA = "last_ts long, last_value double, has_prev boolean"


def counter_deltas_stream(events_stream: DataFrame) -> DataFrame:
    """Streaming twin of ``operators/timeseries.py::counter_deltas``: per
    reading, consumption delta vs the previous reading with meter-restart
    detection. State is (last ts, last value) per key; a key's first-ever
    reading seeds state and emits nothing (inner semantics, like batch).
    Readings older than the carried state are expired duplicates/laggards
    and drop."""

    def step(cols: dict, state: tuple) -> tuple:
        last_us, last_v, has = state
        out: list[tuple] = []
        for us, v in zip(cols["ts"], cols["value"]):
            if has and us < last_us:
                continue  # late arrival behind the carried state
            if has:
                delta = round(v - last_v, 6)
                consumed = round(v if delta < 0 else delta, 6)
                out.append((us, v, delta, delta < 0, consumed))
            last_us, last_v, has = us, v, True
        return (last_us, last_v, has), out

    return keyed_state(events_stream, ("user_id",), ("ts", "value"), ("ts",),
                       DELTA_STATE_SCHEMA, DELTA_OUT_SCHEMA, (0, 0.0, False),
                       step)


SCD2_OUT_SCHEMA = ("key long, state string, valid_from timestamp, "
                   "valid_to timestamp, n_events long")
SCD2_STATE_SCHEMA = ("cur_state string, valid_from_us long, n_events long, "
                     "last_us long, has_open boolean")


def scd2_stream(events_stream: DataFrame) -> DataFrame:
    """Streaming twin of ``operators/pipeline.py::scd2_intervals``: live
    Type-2 dimension maintenance. State holds each key's OPEN interval
    (current state, its start, its event count); when an event with a
    different state arrives, the open interval closes — emitted with
    valid_to = the new interval's start — and the new one opens. The open
    interval itself is never emitted (its count can still grow), so the
    streamed output equals the batch SCD2 history minus each key's current
    row: the oracle states exactly that. Events strictly BEFORE the carried
    last timestamp drop (late data); equal-timestamp events process in
    (ts, state) order — the same deterministic tie order the batch
    operator and oracle use — so same-instant bursts count identically."""

    def step(cols: dict, state: tuple) -> tuple:
        cur, vf_us, n, last_us, has = state
        out: list[tuple] = []
        for us, st in zip(cols["ts"], cols["event_type"]):
            if has and us < last_us:
                continue
            if not has:
                cur, vf_us, n, has = st, us, 1, True
            elif st == cur:
                n += 1
            else:
                out.append((cur, vf_us, us, n))
                cur, vf_us, n = st, us, 1
            last_us = us
        return (cur, vf_us, n, last_us, has), out

    return keyed_state(events_stream, ("user_id",), ("ts", "event_type"),
                       ("ts", "event_type"), SCD2_STATE_SCHEMA,
                       SCD2_OUT_SCHEMA, ("", 0, 0, -1, False), step)


INTERP_OUT_SCHEMA = ("key long, bucket_ts timestamp, value double, "
                     "is_observed boolean")
INTERP_STATE_SCHEMA = ("open_bucket long, open_sum double, open_cnt long, "
                       "prev_bucket long, prev_value double")


def interpolate_stream(events_stream: DataFrame,
                       bucket_seconds: int = 3600) -> DataFrame:
    """Streaming twin of ``operators/timeseries.py::interpolate_gaps``
    (linear fill). Interpolation needs the NEXT observed value, so a gap
    run can only emit when the observed bucket that CLOSES it finalizes:
    when bucket c closes (a later bucket arrived), the operator emits the
    gaps between the previously-closed observed bucket and c — lerped
    between their means — then c itself. Each key's newest bucket stays
    open, and the gaps ahead of it stay unemitted (their right wall isn't
    final). Streamed output therefore equals the batch interpolation cut at
    each key's second-largest observed bucket — exactly what the oracle
    states, value-checking the deferred-emission state machine.

    State per key is five scalars; fills truncate (floor on the scaled
    double) exactly like batch — see interpolate_gaps on engine round()
    tie divergence."""
    step_us = bucket_seconds * 10**6

    def step(cols: dict, state: tuple) -> tuple:
        ob, osum, ocnt, prevb, prevv = state
        out: list[tuple] = []
        for b, bsum, bcnt in zip(cols["b"], cols["sum"], cols["count"]):
            if ob == -1:
                ob, osum, ocnt = b, bsum, bcnt
                continue
            if b == ob:
                osum += bsum
                ocnt += bcnt
                continue
            if b < ob:  # late across batches: expired, dropped
                continue
            vc = round(osum / ocnt, 6)
            if prevb != -1:
                span = ob - prevb
                g = prevb + step_us
                while g < ob:
                    frac = (g - prevb) / span
                    fill = math.floor(
                        (prevv + (vc - prevv) * frac) * 1e6) / 1e6
                    out.append((g, fill, False))
                    g += step_us
            out.append((ob, vc, True))
            prevb, prevv = ob, vc
            ob, osum, ocnt = b, bsum, bcnt
        return (ob, osum, ocnt, prevb, prevv), out

    return keyed_state(events_stream, ("user_id",), ("ts", "value"), ("b",),
                       INTERP_STATE_SCHEMA, INTERP_OUT_SCHEMA,
                       (-1, 0.0, 0, -1, 0.0), step,
                       prepare=_bucket_sums(bucket_seconds))


def interpolate_stream_oracle_sql(bucket: str = "hour") -> str:
    """Batch linear interpolation cut at each key's second-largest observed
    bucket (the last one the stream can close)."""
    return f"""
WITH filled AS ({interpolate_gaps_oracle_sql(bucket)}), observed AS (
  SELECT key, bucket_ts,
         max(bucket_ts) OVER (PARTITION BY key) AS last_ts
  FROM filled WHERE is_observed
), cutoff AS (
  SELECT key, max(bucket_ts) AS second_last
  FROM observed WHERE bucket_ts < last_ts GROUP BY 1
)
SELECT f.* FROM filled f JOIN cutoff c ON f.key = c.key
WHERE f.bucket_ts <= c.second_last
"""
