"""Streaming KMV sketch with EVENT-TIME-TIMEOUT finalization.

The other stateful streams here emit when a later element closes their
bucket (gap fill, SCD2) or emit immediately (CEP). This operator shows the
third emission discipline — the clock itself closes the group: each day's
k-minimum-hash sketch accumulates in state with a timeout at the day's
end, and when the WATERMARK passes that timestamp the group times out,
emits its finalized distinct-count estimate, and clears. That is how a
per-day sketch table (`operators/sketches.py::kmv_sketches`) is maintained
continuously: Druid's streaming theta-sketch ingestion does exactly this
segment-close dance.

State per day is the bounded k-element sorted hash list — insertion keeps
only values below the current k-th minimum, so a day of any volume holds
k longs. The hash is the engine-wide portable md5-60bit, so the batch
oracle reproduces the sketch bit-for-bit.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from insight_de_smart_grid_spark.operators.sketches import _KMV_SCALE

OUT_SCHEMA = "day timestamp, est_distinct double, retained int"
STATE_SCHEMA = "kmv array<long>"


def _h60(value: int) -> int:
    return int(hashlib.md5(str(value).encode()).hexdigest()[:15], 16)


def kmv_daily_stream(events_stream: DataFrame, k: int = 64,
                     watermark: str = "2 seconds") -> DataFrame:
    """Per-day distinct-user KMV sketches finalized by event-time timeout;
    see the module docstring. Requires a watermark (set here) — the
    timeout fires when it passes each day's end."""

    def fn(key: tuple, pdfs: Iterable[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        day = key[0]
        if state.hasTimedOut:
            (kmv,) = state.get
            kmv = sorted(kmv)
            state.remove()
            if not kmv:
                # a day whose only rows were flush sentinels: it existed to
                # advance the watermark, not to be a result
                return
            if len(kmv) < k:
                est = float(len(kmv))
            else:
                est = float(k - 1) * _KMV_SCALE / float(kmv[k - 1])
            yield pd.DataFrame(
                [(day, est, len(kmv))],
                columns=["day", "est_distinct", "retained"])
            return

        kmv = sorted(state.get[0]) if state.exists else []
        have = set(kmv)
        for p in pdfs:
            if p.empty:
                continue
            for uid in p["user_id"]:
                if int(uid) < 0:   # flush sentinel: advances the
                    continue       # watermark, never joins a sketch
                h = _h60(int(uid))
                if h in have:
                    continue
                if len(kmv) < k:
                    have.add(h)
                    kmv.append(h)
                elif h < kmv[-1]:
                    have.discard(kmv[-1])
                    have.add(h)
                    kmv[-1] = h
                else:
                    continue
                kmv.sort()
        state.update((kmv,))
        # finalize when the watermark passes this day's end
        day_end_ms = (int(pd.Timestamp(day).value // 1_000_000)
                      + 24 * 3600 * 1000)
        state.setTimeoutTimestamp(day_end_ms)

    # ts stays in the projection: the watermark rides that column, and
    # event-time timeout requires a watermarked column to reach the
    # stateful operator
    prepared = (events_stream
                .withWatermark("ts", watermark)
                .select(F.date_trunc("day", F.col("ts")).alias("day"),
                        "user_id", "ts"))
    return prepared.groupBy("day").applyInPandasWithState(
        fn, OUT_SCHEMA, STATE_SCHEMA, "append",
        GroupStateTimeout.EventTimeTimeout)


def kmv_daily_stream_oracle_sql(k: int = 64) -> str:
    """Batch twin: every day's KMV estimate (the replay sentinel's margin
    exceeds a day, so every real day times out and emits)."""
    from insight_de_smart_grid_spark.operators.sketches import (
        kmv_sketches_sql,
    )

    return f"""
WITH {kmv_sketches_sql("events", "user_id",
                       "CAST(date_trunc('day', ts) AS TIMESTAMP)", k)}
SELECT dim AS day,
       CASE WHEN sz < {k} THEN CAST(sz AS DOUBLE)
            ELSE {float(k - 1)} * {_KMV_SCALE} / CAST(kmv[{k}] AS DOUBLE)
       END AS est_distinct,
       CAST(sz AS INT) AS retained
FROM sk
"""
