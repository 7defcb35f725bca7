"""Stream-stream join and streaming dedup: the two Structured-Streaming
operator classes the reference pipeline never needed but a continuous
training-data pipeline does.

Both are plain plan builders over an events-shaped stream, shaped so their
batch twins (`operators/interval_join.py`, `dropDuplicates`) produce
identical output — which is what the batch≡stream tests assert.

Scale notes:
* Stream-stream join buffers both sides in the state store until the
  watermark passes the time bound in the join condition — the condition's
  explicit range on both event-time columns is what makes state evictable
  (an unbounded condition would grow state forever). RocksDB provider for
  large buffered sides.
* ``dropDuplicatesWithinWatermark`` keeps one state row per key seen within
  the watermark horizon; the key should be the business identity, not the
  full payload, so state rows stay small.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from insight_de_smart_grid_spark.sources.tables import normalize_event_ts
from insight_de_smart_grid_spark.streaming.stateful import keyed_state

DEDUP_KEY = ("user_id", "event_type", "ts", "value")


def purchase_click_stream_plan(events_stream: DataFrame,
                               lookback: str = "4 hours",
                               watermark: str = "2 seconds") -> DataFrame:
    """Stream-stream self-join: every (purchase, prior click ≤ lookback)
    pair per user, emitted as matches arrive (inner join, append mode)."""
    ev = normalize_event_ts(events_stream)
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id",
                F.col("event_id").alias("purchase_id"),
                F.col("ts").alias("purchase_ts"))
        .withWatermark("purchase_ts", watermark)
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("click_user_id"),
                F.col("event_id").alias("click_id"),
                F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", watermark)
    )
    joined = purchases.join(
        clicks,
        F.expr(f"""user_id = click_user_id
                   AND click_ts > purchase_ts - INTERVAL {lookback}
                   AND click_ts <= purchase_ts"""),
        "inner")
    return joined.select("user_id", "purchase_id", "purchase_ts",
                         "click_id", "click_ts")


def purchase_click_bucketed_stream_plan(events_stream: DataFrame,
                                        lookback: str = "4 hours",
                                        watermark: str = "2 seconds"
                                        ) -> DataFrame:
    """Stream-stream twin of ``interval_join_bucketed`` (round-9, VERDICT
    r8 item 7): the hot-key-safe form of the purchase/click join with the
    lookback folded into the equi key as epoch buckets — a purchase lives
    in exactly ONE bucket, each click explodes into the <=2 buckets its
    lookback window can reach, and the bucket id joins as an extra equi
    key. The stream-stream state store therefore keys on (user, bucket):
    a hot user's buffered clicks spread across time buckets instead of
    piling into one state key, the same quadratic-killer the batch form
    measured at x30 (2,744 s -> 41.7 s). Watermarks and the range
    condition are UNCHANGED — eviction still comes from the event-time
    bounds — so the output is row-identical to
    ``purchase_click_stream_plan`` and registers against the same
    oracle."""
    from insight_de_smart_grid_spark.operators.interval_join import (
        _interval_seconds_ij,
    )

    L = _interval_seconds_ij(lookback)
    ev = normalize_event_ts(events_stream)
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id",
                F.col("event_id").alias("purchase_id"),
                F.col("ts").alias("purchase_ts"))
        .withColumn("purchase_ib",
                    F.floor(F.unix_timestamp("purchase_ts") / F.lit(L)))
        .withWatermark("purchase_ts", watermark)
    )
    csec = F.unix_timestamp(F.col("click_ts"))
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("click_user_id"),
                F.col("event_id").alias("click_id"),
                F.col("ts").alias("click_ts"))
        .withColumn("click_ib",
                    F.explode(F.sequence(
                        F.floor(csec / F.lit(L)),
                        F.floor((csec + F.lit(L)) / F.lit(L)))))
        .withWatermark("click_ts", watermark)
    )
    joined = purchases.join(
        clicks,
        F.expr(f"""user_id = click_user_id
                   AND purchase_ib = click_ib
                   AND click_ts > purchase_ts - INTERVAL {lookback}
                   AND click_ts <= purchase_ts"""),
        "inner")
    return joined.select("user_id", "purchase_id", "purchase_ts",
                         "click_id", "click_ts")


def purchase_click_batch(events: DataFrame,
                         lookback: str = "4 hours") -> DataFrame:
    """Batch twin of the stream-stream join (same output schema)."""
    from insight_de_smart_grid_spark.operators.interval_join import (
        interval_join,
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"))
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"))
    return interval_join(purchases, clicks, on="user_id",
                         left_ts="purchase_ts", right_ts="click_ts",
                         lookback=lookback)


def dedup_stream_plan(events_stream: DataFrame,
                      watermark: str = "10 seconds") -> DataFrame:
    """Streaming exact dedup: first occurrence of each business key wins;
    re-deliveries within the watermark horizon are dropped
    (``dropDuplicatesWithinWatermark``). Output is the key columns only so
    the result is deterministic regardless of which physical row survives."""
    ev = normalize_event_ts(events_stream).select(*DEDUP_KEY)
    return (ev.withWatermark("ts", watermark)
            .dropDuplicatesWithinWatermark(list(DEDUP_KEY)))


def dedup_batch(events: DataFrame) -> DataFrame:
    """Batch twin: plain distinct over the same key columns."""
    return events.select(*DEDUP_KEY).dropDuplicates()


def top_appliances_stream_plan(readings_stream: DataFrame,
                               k: int = 10) -> DataFrame:
    """Continuously-maintained top-K (dashboard tile T1 as a live query):
    running sum per appliance, emitted in **complete** output mode — the
    whole (small) result table refreshes every trigger, which is exactly the
    contract a dashboard sink wants. State is one row per appliance (the
    aggregate), not per reading; the orderBy+limit runs on the tiny result,
    so complete mode stays cheap at any input scale."""
    return (readings_stream
            .groupBy("appliance_name")
            .agg(F.sum(F.col("power").cast("double")).alias("sum_power"))
            .orderBy(F.desc("sum_power"))
            .limit(k))


def purchase_click_left_stream_plan(events_stream: DataFrame,
                                    lookback: str = "30 minutes",
                                    watermark: str = "2 seconds") -> DataFrame:
    """LEFT-OUTER stream-stream join: every purchase, with its prior clicks
    within ``lookback`` when they exist, a null-extended row otherwise.

    Outer rows can only emit once the watermark proves no future match —
    so, unlike the inner variant, the watermark MUST be applied before the
    event-type filters: a per-side watermark after ``filter(purchase)``
    would only advance on purchase rows, and the query's (min-of-sides)
    watermark could stall short of the tail, holding unmatched rows back
    forever on a replay. One shared watermark on the unfiltered stream
    advances on every event (and on the replay flush sentinel), then both
    branches inherit it through their projections. State eviction follows
    the time bounds in the condition; RocksDB provider at scale."""
    ev = normalize_event_ts(events_stream).withWatermark("ts", watermark)
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id",
                F.col("event_id").alias("purchase_id"),
                F.col("ts").alias("purchase_ts"))
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("click_user_id"),
                F.col("event_id").alias("click_id"),
                F.col("ts").alias("click_ts"))
    )
    joined = purchases.join(
        clicks,
        F.expr(f"""user_id = click_user_id
                   AND click_ts > purchase_ts - INTERVAL {lookback}
                   AND click_ts <= purchase_ts"""),
        "leftOuter")
    # No sentinel filter needed (and one would break batch parity for real
    # -1/NULL user ids): the flush sentinel's ts exceeds every real event
    # by the margin, so as a purchase its null-extended row stays behind
    # the final watermark forever, and as a click its ts matches no
    # purchase within the lookback.
    return joined.select("user_id", "purchase_id", "purchase_ts",
                         "click_id", "click_ts")


def static_enrich_totals_plan(events_stream: DataFrame,
                              labels: DataFrame) -> DataFrame:
    """Stream-static join: the unbounded stream broadcast-joins a static
    dimension (re-read per micro-batch, no state kept for the static side)
    and aggregates per label — the streaming form of SURVEY J1's
    enrichment. Complete output mode: the result table is |labels|-sized
    however large the stream."""
    ev = normalize_event_ts(events_stream)
    return (ev.join(F.broadcast(labels),
                    ev.event_type == labels.appliance_name, "left")
            .groupBy(F.coalesce(F.col("label"), F.lit("unknown"))
                     .alias("label"))
            .agg(F.round(F.sum("value"), 6).alias("sum_value"),
                 F.count(F.lit(1)).alias("n_events")))


def upsert_compaction_stream(spark, parquet_path: str,
                             snapshot_dir: str,
                             checkpoint_dir: str) -> None:
    """foreachBatch keyed upsert: each micro-batch merges into a parquet
    snapshot keeping the newest record per (user_id, event_type) — the
    idempotent-sink pattern for feeding a serving table from a CDC stream.

    The merge is latest_compaction over (current snapshot UNION batch),
    written to a NEW versioned directory; a one-line pointer file then
    flips to it via ``os.replace`` — the only mutation of shared state is
    that single atomic rename, so a crash at ANY instant leaves the
    pointer on a complete earlier version (a dir-rename swap would have a
    window between "old moved away" and "new moved in" that loses the
    snapshot). Checkpoint replay of a batch recomputes the same merge =
    effectively exactly-once. On a real deployment this is a Delta/Iceberg
    MERGE (same pointer-flip idea, their transaction log); the dataflow
    inside foreachBatch is identical."""
    import os
    import shutil
    import tempfile
    from pathlib import Path

    from insight_de_smart_grid_spark.operators.pipeline import (
        latest_compaction,
    )
    from insight_de_smart_grid_spark.streaming.replay import (
        parquet_stream_source,
    )

    cols = ("user_id", "event_type", "ts", "value")
    stream = (normalize_event_ts(parquet_stream_source(spark, parquet_path))
              .select(*cols))
    root = Path(snapshot_dir)
    root.mkdir(parents=True, exist_ok=True)
    pointer = root / "CURRENT"

    def upsert(batch_df, batch_id: int) -> None:
        current = (pointer.read_text().strip()
                   if pointer.exists() else None)
        if current and (root / current).exists():
            merged = latest_compaction(
                spark.read.parquet(str(root / current)).unionByName(
                    batch_df.select(*cols)))
        else:
            merged = latest_compaction(batch_df.select(*cols))
        version = f"v{batch_id}"
        merged.write.mode("overwrite").parquet(str(root / version))
        fd, tmp = tempfile.mkstemp(dir=root, prefix=".ptr_")
        with os.fdopen(fd, "w") as fh:
            fh.write(version)
        os.replace(tmp, pointer)          # the one atomic mutation
        if current and current != version:
            shutil.rmtree(root / current, ignore_errors=True)

    q = (stream.writeStream.foreachBatch(upsert)
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True).start())
    q.awaitTermination()


def read_upsert_snapshot(spark, snapshot_dir: str):
    """Current contents of an ``upsert_compaction_stream`` snapshot (follows
    the pointer file)."""
    from pathlib import Path

    root = Path(snapshot_dir)
    version = (root / "CURRENT").read_text().strip()
    return spark.read.parquet(str(root / version))


SEQ_OUT_SCHEMA = ("user_id long, purchase_ts timestamp, view_ts timestamp, "
                  "click_ts timestamp")
SEQ_STATE_SCHEMA = ("last_click_us long, armed_view_us long, "
                    "armed_click_us long, last_us long")


def sequence_detect_stream(events_stream, gap_minutes: int = 30):
    """Streaming twin of the `events_sequence_detect` CEP query: the
    click→view→purchase arming automaton carried as PER-KEY STATE instead
    of window passes. The automaton is forward-only — a purchase fires on
    the state accumulated so far, never on future events — so the streamed
    output equals the batch query EXACTLY (no open-bucket holdback; the
    oracle is the identical chain set). State is four scalar timestamps
    per user, carried by ``stateful.keyed_state``. Events at or before
    the carried last timestamp are expired laggards and drop (same
    contract as every stateful op here)."""
    gap_us = gap_minutes * 60 * 1_000_000

    def step(cols: dict, state: tuple) -> tuple:
        last_click, armed_view, armed_click, last_us = state
        out: list[tuple] = []
        for us, et in zip(cols["ts"], cols["event_type"]):
            if us <= last_us:
                continue
            last_us = us
            if et == "click":
                last_click = us
            elif et == "view":
                if last_click != -1 and us - last_click <= gap_us:
                    armed_view, armed_click = us, last_click
            elif et == "purchase":
                if armed_view != -1 and us - armed_view <= gap_us:
                    out.append((us, armed_view, armed_click))
        return (last_click, armed_view, armed_click, last_us), out

    return keyed_state(events_stream, ("user_id",),
                       ("ts", "event_id", "event_type"), ("ts", "event_id"),
                       SEQ_STATE_SCHEMA, SEQ_OUT_SCHEMA, (-1, -1, -1, -1),
                       step)


def purchase_click_full_stream_plan(events_stream: DataFrame,
                                    lookback: str = "30 minutes",
                                    watermark: str = "2 seconds") -> DataFrame:
    """FULL-OUTER stream-stream join — completing the inner/left/full
    matrix: unmatched PURCHASES null-extend (as in the left join) and
    unmatched CLICKS null-extend too, each side emitting once the
    watermark proves no partner can arrive. Same shared-watermark-before-
    filters discipline as the left join (a stalled min-of-sides watermark
    would hold BOTH kinds of outer rows forever). A click's outer row
    needs the watermark past click_ts + lookback; the replay sentinel's
    margin exceeds the lookback, so every real unmatched click flushes
    while the sentinel itself stays in state."""
    ev = normalize_event_ts(events_stream).withWatermark("ts", watermark)
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id",
                F.col("event_id").alias("purchase_id"),
                F.col("ts").alias("purchase_ts"))
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("click_user_id"),
                F.col("event_id").alias("click_id"),
                F.col("ts").alias("click_ts"))
    )
    joined = purchases.join(
        clicks,
        F.expr(f"""user_id = click_user_id
                   AND click_ts > purchase_ts - INTERVAL {lookback}
                   AND click_ts <= purchase_ts"""),
        "fullOuter")
    return joined.select(
        F.coalesce("user_id", "click_user_id").alias("user_id"),
        "purchase_id", "purchase_ts", "click_id", "click_ts")
