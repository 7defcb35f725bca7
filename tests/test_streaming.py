"""Streaming-semantics tests (SURVEY §5): batch≡stream equivalence and the
documented watermark late-drop behavior — the coverage the reference never
had."""

from __future__ import annotations

from pyspark.sql import functions as F

from insight_de_smart_grid_spark.operators.duty_cycle import duty_cycle
from insight_de_smart_grid_spark.sources.tables import (
    events_to_readings,
    readings_view,
)
from insight_de_smart_grid_spark.streaming.duty_cycle_stream import (
    duty_cycle_stream_plan,
)
from insight_de_smart_grid_spark.streaming.sliding_stream import (
    run_sliding_stream,
)
from tests.conftest import SF_SMOKE


def test_batch_equals_stream_for_finalized_windows(spark):
    """The same duty-cycle computed as a batch query and as an append-mode
    streaming query must agree on every window the stream finalized."""
    stream_out = run_sliding_stream(
        spark, f"{SF_SMOKE}/events.parquet", duty_cycle_stream_plan,
        events_to_readings,
        window="10 minutes", slide="2 minutes",
        watermark="2 seconds", flush_sentinel=False)

    readings = readings_view(spark, SF_SMOKE)
    batch = duty_cycle(readings, window="10 minutes", slide="2 minutes")
    max_ts = readings.agg(F.max("ts")).collect()[0][0]

    s_rows = {tuple(r) for r in stream_out.collect()}
    b_rows = {tuple(r) for r in batch.collect()}
    # append mode withholds windows not yet past the watermark
    finalized = {r for r in b_rows
                 if (max_ts - r[0]).total_seconds() >= 2}
    assert s_rows == finalized
    assert len(s_rows) > 0


def test_streaming_panes_equal_explode_stream(spark):
    """Round-7 flagship: the pane-decomposed streaming plan (two chained
    stateful aggs, append mode) must emit EXACTLY the rows of the explode
    streaming plan — same finalized window set, same ratios — and both
    must equal the finalized subset of the batch pane form
    (``duty_cycle(panes=True)``), closing the batch≡stream contract for
    the decomposition."""
    def run(panes):
        return {tuple(r) for r in run_sliding_stream(
            spark, f"{SF_SMOKE}/events.parquet", duty_cycle_stream_plan,
            events_to_readings,
            window="10 minutes", slide="2 minutes", watermark="2 seconds",
            flush_sentinel=True, panes=panes)
            .filter(F.col("house_id") != "-1").collect()}

    pane_rows = run(True)
    assert pane_rows == run(False)
    # batch pane form, restricted to finalized windows (the flush
    # sentinel pushes the watermark past every real window, so the
    # streamed set is the COMPLETE batch set here)
    readings = readings_view(spark, SF_SMOKE)
    batch = duty_cycle(readings, window="10 minutes", slide="2 minutes",
                       panes=True)
    assert pane_rows == {tuple(r) for r in batch.collect()}
    assert len(pane_rows) > 0


def test_streaming_panes_cut_state_writes(spark):
    """The decomposition's scale claim, measured at the state store: the
    explode plan writes each event into window/slide (=5) window states,
    so its event-ingesting stateful operator updates ~5x the state rows
    of the pane plan's stage-1 (one pane state per (pane, key)). The
    pane plan pays a SECOND tiny operator whose input is aggregated pane
    cardinality — bounded by #keys x #panes, not events — so its total
    updated-state rows stay well under the explode plan's."""
    def updated_rows(panes):
        prog = []
        run_sliding_stream(
            spark, f"{SF_SMOKE}/events.parquet", duty_cycle_stream_plan,
            events_to_readings,
            window="10 minutes", slide="2 minutes", watermark="2 seconds",
            flush_sentinel=True, panes=panes, progress_out=prog)
        per_op: dict[int, int] = {}
        for p in prog:
            for i, so in enumerate(p.get("stateOperators", [])):
                per_op[i] = per_op.get(i, 0) + int(so["numRowsUpdated"])
        return per_op

    pane_ops = updated_rows(True)
    explode_ops = updated_rows(False)
    assert len(explode_ops) == 1 and len(pane_ops) == 2
    explode_writes = explode_ops[0]
    # the event-ingesting operator (the smaller of the two — progress
    # lists operators sink-first) must write ~1/5th of the explode plan's
    # window states on this sparse-occupancy fixture (each occupied pane
    # feeds 5 windows); <= 1/4 leaves margin for boundary panes. On DENSE
    # contiguous corpora the two forms' state CARDINALITY converges and
    # the win moves to aggregation input volume (5x events pre-shuffle vs
    # 1x) — that is the stress sweep's wall-clock entry.
    stage1 = min(pane_ops.values())
    assert stage1 <= explode_writes / 4


def test_streaming_auto_picks_form_by_density(spark, tmp_path):
    """panes="auto" in the streaming runner probes the bounded replay
    input: the sparse fixture must run the single-stateful explode plan
    (1 state operator in progress metrics), a dense 1 Hz corpus must run
    the chained pane plan (2 state operators) — and both must emit the
    correct window set."""
    def n_state_ops(path, prefix):
        prog = []
        out = run_sliding_stream(
            spark, path, duty_cycle_stream_plan,
            events_to_readings,
            window="10 minutes", slide="2 minutes", watermark="2 seconds",
            flush_sentinel=True, panes="auto", progress_out=prog)
        rows = out.filter(F.col("house_id") != "-1").count()
        ops = max(len(p.get("stateOperators", [])) for p in prog)
        return ops, rows

    ops_sparse, n_sparse = n_state_ops(f"{SF_SMOKE}/events.parquet", "sa")
    assert ops_sparse == 1 and n_sparse > 0  # explode plan

    dense_dir = str(tmp_path / "dense")
    (spark.range(600).selectExpr(
        "id AS event_id",
        "timestamp_seconds(1704067200 + id) AS ts",
        "id % 2 AS user_id",
        "'click' AS event_type",
        "cast(id % 7 as double) AS value",
        "'{}' AS props")
     .write.mode("overwrite").parquet(dense_dir))
    ops_dense, n_dense = n_state_ops(dense_dir, "da")
    assert ops_dense == 2 and n_dense > 0  # pane plan


def test_sliding_stats_stream_auto_and_parity(spark, tmp_path):
    """The generic streaming sliding aggregation: panes="auto" probes the
    replay input (sparse -> 1 state operator, dense -> 2), and the pane
    form's finalized rows equal the batch sliding_agg's on the same data
    (rounded like the registered twins)."""
    from insight_de_smart_grid_spark.operators.sliding import sliding_agg
    from insight_de_smart_grid_spark.sources.tables import (
        load_table,
        normalize_event_ts,
    )
    from insight_de_smart_grid_spark.streaming.sliding_stream import (
        sliding_agg_stream_plan,
    )

    aggs = (("sum_value", "sum", "value"), ("n_vals", "count", "value"),
            ("min_value", "min", "value"), ("max_value", "max", "value"),
            ("avg_value", "avg", "value"))

    def run(path, panes):
        prog = []
        out = run_sliding_stream(
            spark, path, sliding_agg_stream_plan, normalize_event_ts,
            panes=panes, aggs=aggs, keys=("user_id",),
            window="10 minutes", slide="2 minutes",
            watermark="2 seconds", progress_out=prog)
        rows = sorted(
            (r.time_end, r.user_id, round(r.sum_value, 6), r.n_vals,
             r.min_value, r.max_value, round(r.avg_value, 6))
            for r in out.filter(F.col("user_id") != -1).collect())
        return rows, max(len(p.get("stateOperators", [])) for p in prog)

    src = f"{SF_SMOKE}/events.parquet"
    rows_auto, ops_sparse = run(src, "auto")
    assert ops_sparse == 1  # sparse fixture -> explode plan
    rows_pane, ops_pane = run(src, True)
    assert ops_pane == 2 and rows_pane == rows_auto

    batch = sliding_agg(load_table(spark, SF_SMOKE, "events"),
                        window="10 minutes", slide="2 minutes",
                        aggs=aggs, keys=("user_id",), panes=True)
    want = sorted(
        (r.time_end, r.user_id, round(r.sum_value, 6), r.n_vals,
         r.min_value, r.max_value, round(r.avg_value, 6))
        for r in batch.collect())
    assert rows_pane == want and len(want) > 0

    dense_dir = str(tmp_path / "dense")
    (spark.range(600).selectExpr(
        "id AS event_id", "timestamp_seconds(1704067200 + id) AS ts",
        "id % 2 AS user_id", "'click' AS event_type",
        "cast(id % 7 as double) AS value", "'{}' AS props")
     .write.mode("overwrite").parquet(dense_dir))
    _, ops_dense = run(dense_dir, "auto")
    assert ops_dense == 2  # dense corpus -> pane plan


def test_flush_sentinel_survives_null_value_max_ts_row(spark, tmp_path):
    """Round-8 ADVICE: the flush sentinel copies the max-ts row verbatim;
    when that row's value is NULL, a plan whose pre filters
    `value IS NOT NULL` before the watermark used to drop the sentinel,
    stall the watermark at the real maximum ts, and silently lose tail
    windows. Plant exactly that corpus (latest row NULL-valued, NULLs
    sprinkled through) and pin: the streaming binned-histogram p95 equals
    the batch pane form row-for-row, including the final window."""
    from insight_de_smart_grid_spark.operators import sliding as sl
    from insight_de_smart_grid_spark.sources.tables import normalize_event_ts
    from insight_de_smart_grid_spark.streaming.sliding_stream import (
        sliding_agg_stream_plan,
    )

    src = str(tmp_path / "nulltail")
    (spark.range(240).selectExpr(
        "id AS event_id",
        "timestamp_seconds(1704067200 + id * 5) AS ts",
        "id % 3 AS user_id", "'click' AS event_type",
        # every 7th value NULL — and the LAST row (max ts), the hazard
        "CASE WHEN id % 7 = 0 OR id = 239 THEN NULL"
        " ELSE cast(id % 11 AS DOUBLE) END AS value",
        "'{}' AS props")
     .write.mode("overwrite").parquet(src))

    ev = spark.read.parquet(src)
    lo, hi = (ev.filter("value IS NOT NULL")
              .agg(F.min("value").cast("double"),
                   F.max("value").cast("double")).head())
    bins = sl.SLIDING_QUANTILE_BINS
    width = (hi - lo) / float(bins)

    def pre(s):
        # deliberately the PLAIN NULL filter (the round-8 hazard shape):
        # only the sentinel writer's value-coalesce keeps the sentinel
        # alive here — which is the fix this test pins. (The registered
        # p95 query additionally ORs in user_id == -1 as defense in
        # depth; using that shape here would mask a coalesce regression.)
        return (s.filter(F.col("value").isNotNull())
                .withColumn("__lo", F.lit(lo))
                .withColumn("__width", F.lit(width))
                .withColumn(
                    "__bin",
                    F.lit(0) if width == 0 else
                    F.least(F.floor((F.col("value") - F.lit(lo))
                                    / F.lit(width)).cast("int"),
                            F.lit(bins - 1))))

    base = str(tmp_path / "run")
    out = run_sliding_stream(
        spark, src, sliding_agg_stream_plan,
        lambda s: pre(normalize_event_ts(s)), panes=True,
        checkpoint_dir=f"{base}/ck", out_dir=f"{base}/sink",
        aggs=(("cnt", "count", "value"),),
        keys=("user_id", "__bin", "__lo", "__width"),
        window="10 minutes", slide="2 minutes", watermark="2 seconds")
    got = sorted((r.time_end, r.user_id, r.est, r.n_vals) for r in
                 sl.quantile_fold(out.filter(F.col("user_id") != -1),
                                  ("user_id",), 0.95).collect())
    want = sorted((r.time_end, r.user_id, r.est, r.n_vals) for r in
                  sl.sliding_quantile(ev, keys=("user_id",), col="value",
                                      q=0.95, panes=True).collect())
    assert got == want and len(want) > 0
    # the last window — only a surviving sentinel flushes it
    last_end = max(t for t, *_ in want)
    assert any(t == last_end for t, *_ in got)


def test_watermark_drops_late_rows_across_restarts(spark, tmp_path):
    """ST1: a row arriving after the watermark passed its window is dropped.
    Two availableNow runs share a checkpoint; the second run's input is
    entirely behind the persisted watermark."""
    data_dir = str(tmp_path / "data")
    ckpt = str(tmp_path / "ck")
    out_dir = str(tmp_path / "sink")
    on_time = spark.createDataFrame(
        [(1, "2024-01-01 10:00:01", 5, "click", 10.0, "{}"),
         (2, "2024-01-01 10:09:59", 5, "click", 10.0, "{}"),
         (3, "2024-01-01 10:30:00", 5, "click", 10.0, "{}")],
        "event_id long, ts string, user_id long, event_type string,"
        " value double, props string",
    ).withColumn("ts", F.to_timestamp("ts"))
    on_time.write.mode("overwrite").parquet(data_dir)
    out1 = run_sliding_stream(
        spark, data_dir, duty_cycle_stream_plan,
        events_to_readings,
        window="10 minutes", slide=None, watermark="2 seconds",
        checkpoint_dir=ckpt, out_dir=out_dir, flush_sentinel=False)
    first = {(r.time_end.isoformat(), r.duty_cycle)
             for r in out1.collect()}
    # watermark advanced to 10:29:58 -> the 10:00 window finalized
    assert ("2024-01-01T10:10:00", 1.0) in first
    n_first = len(first)

    late = spark.createDataFrame(
        [(4, "2024-01-01 10:05:00", 5, "click", 1.0, "{}")],
        "event_id long, ts string, user_id long, event_type string,"
        " value double, props string",
    ).withColumn("ts", F.to_timestamp("ts"))
    late.write.mode("append").parquet(data_dir)
    out2 = run_sliding_stream(
        spark, data_dir, duty_cycle_stream_plan,
        events_to_readings,
        window="10 minutes", slide=None, watermark="2 seconds",
        checkpoint_dir=ckpt, out_dir=out_dir, flush_sentinel=False)
    rows2 = out2.collect()
    # the late row (power 1.0, below threshold -> duty would drop to 2/3)
    # must NOT re-emit or alter the finalized 10:00 window
    final_windows = {(r.time_end.isoformat(), r.duty_cycle)
                     for r in rows2}
    assert ("2024-01-01T10:10:00", 1.0) in final_windows
    assert ("2024-01-01T10:10:00", 2 / 3) not in final_windows
    assert len(rows2) == n_first  # nothing new finalized, nothing re-opened


def test_interval_join_batch_equals_stream(spark):
    """Stream-stream self-join (purchases x prior clicks, watermarked) must
    emit exactly the batch interval join's pairs once drained."""
    from insight_de_smart_grid_spark.sources.tables import load_table
    from insight_de_smart_grid_spark.streaming.replay import (
        replay_parquet_stream,
    )
    from insight_de_smart_grid_spark.streaming.stream_ops import (
        purchase_click_batch,
        purchase_click_stream_plan,
    )

    streamed = replay_parquet_stream(
        spark, f"{SF_SMOKE}/events.parquet", purchase_click_stream_plan)
    batch = purchase_click_batch(load_table(spark, SF_SMOKE, "events"))
    s_rows = {tuple(r) for r in streamed.collect()}
    b_rows = {tuple(r) for r in batch.collect()}
    assert s_rows == b_rows
    assert len(s_rows) > 0


def test_streaming_dedup_matches_batch_distinct(spark):
    """dropDuplicatesWithinWatermark over a replay (duplicates arrive inside
    the horizon) must equal batch distinct on the same key."""
    from insight_de_smart_grid_spark.sources.tables import (
        load_table,
        normalize_event_ts,
    )
    from insight_de_smart_grid_spark.streaming.replay import (
        replay_parquet_stream,
    )
    from insight_de_smart_grid_spark.streaming.stream_ops import (
        dedup_batch,
        dedup_stream_plan,
    )

    streamed = replay_parquet_stream(
        spark, f"{SF_SMOKE}/events.parquet", dedup_stream_plan)
    batch = dedup_batch(normalize_event_ts(
        load_table(spark, SF_SMOKE, "events")))
    s_rows = {tuple(r) for r in streamed.collect()}
    b_rows = {tuple(r) for r in batch.collect()}
    assert s_rows == b_rows
    # the streamed output must itself be duplicate-free
    assert streamed.count() == len(s_rows)


def test_streaming_dedup_drops_planted_duplicate(spark, tmp_path):
    """A re-delivered record (same business key, new event_id) within the
    watermark horizon is dropped; a distinct record survives."""
    from insight_de_smart_grid_spark.streaming.replay import (
        replay_parquet_stream,
    )
    from insight_de_smart_grid_spark.streaming.stream_ops import (
        dedup_stream_plan,
    )

    data_dir = str(tmp_path / "data")
    rows = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", 5, "click", 10.0, "{}"),
         (2, "2024-01-01 10:00:00", 5, "click", 10.0, "{}"),  # re-delivery
         (3, "2024-01-01 10:00:01", 5, "click", 10.0, "{}")],
        "event_id long, ts string, user_id long, event_type string,"
        " value double, props string",
    ).withColumn("ts", F.to_timestamp("ts"))
    rows.write.mode("overwrite").parquet(data_dir)
    out = replay_parquet_stream(spark, data_dir, dedup_stream_plan)
    got = {(r.user_id, r.ts.isoformat(), r.value) for r in out.collect()}
    assert got == {(5, "2024-01-01T10:00:00", 10.0),
                   (5, "2024-01-01T10:00:01", 10.0)}


def _rollup_replay(spark, src, **dirs):
    """The ``streaming_rollup`` replay: the 1 s rollup into a
    (date, hour)-partitioned parquet sink, one file per partition per
    trigger."""
    from insight_de_smart_grid_spark.streaming.replay import (
        replay_parquet_stream,
    )
    from insight_de_smart_grid_spark.streaming.rollup_stream import (
        rollup_stream_plan,
    )

    return replay_parquet_stream(
        spark, src,
        lambda s: rollup_stream_plan(events_to_readings(s))
        .repartition("date", "hour"),
        partition_by=("date", "hour"), **dirs)


def test_streaming_rollup_materializes_partitioned_cube(spark, tmp_path):
    """S8 streaming form: the continuous rollup must (a) write real
    (date, hour) partitions, (b) agree with the batch rollup on every
    finalized window, and (c) satisfy the SUM(cnt) re-agg contract."""
    import pathlib

    from insight_de_smart_grid_spark.operators.rollup import (
        reaggregate,
        rollup_time,
    )

    base = str(tmp_path)
    cube = _rollup_replay(spark, f"{SF_SMOKE}/events.parquet",
                          out_dir=f"{base}/cube",
                          checkpoint_dir=f"{base}/ckpt")
    parts = [p.name for p in pathlib.Path(f"{base}/cube").iterdir()
             if p.is_dir() and not p.name.startswith("_")]
    assert parts and all(p.startswith("date=") for p in parts)

    readings = readings_view(spark, SF_SMOKE)
    max_ts = readings.agg(F.max("ts")).collect()[0][0]
    batch = rollup_time(readings).collect()
    finalized = {
        (r.window_start, r.house_id, r.appliance_id, r.appliance_name,
         r.cnt, round(r.sum_power, 9))
        for r in batch
        if (max_ts - r.window_start).total_seconds() >= 3}
    got = {(r.window_start, r.house_id, r.appliance_id, r.appliance_name,
            r.cnt, round(r.sum_power, 9)) for r in cube.collect()}
    assert finalized <= got and len(finalized) > 0
    # anything extra must only be later windows the batch run also has
    assert got <= {(r.window_start, r.house_id, r.appliance_id,
                    r.appliance_name, r.cnt, round(r.sum_power, 9))
                   for r in batch}

    # SUM(cnt) contract straight off the materialized cube
    reagg = reaggregate(cube.drop("date", "hour"),
                        group_cols=("house_id",))
    n_by_house = {(r.house_id, r.cnt) for r in reagg.collect()}
    direct = {(r.house_id, r["count(1)"]) for r in
              spark.read.parquet(f"{base}/cube")
              .groupBy("house_id").agg(F.sum("cnt").alias("count(1)"))
              .collect()}
    assert n_by_house == direct


def test_streaming_rollup_is_incremental_across_runs(spark, tmp_path):
    """A second availableNow run sharing the checkpoint must process only the
    new file and append only newly-finalized windows, leaving run-1 output
    untouched (exactly-once file sink)."""
    base = str(tmp_path)
    data_dir = f"{base}/data"

    def events(rows):
        return spark.createDataFrame(
            rows,
            "event_id long, ts string, user_id long, event_type string,"
            " value double, props string",
        ).withColumn("ts", F.to_timestamp("ts"))

    events([(1, "2024-01-01 10:00:00", 5, "click", 10.0, "{}"),
            (2, "2024-01-01 10:00:00", 5, "click", 20.0, "{}"),
            (3, "2024-01-01 10:00:30", 5, "click", 30.0, "{}")]
           ).write.mode("overwrite").parquet(data_dir)
    run1 = _rollup_replay(spark, data_dir, out_dir=f"{base}/cube",
                          checkpoint_dir=f"{base}/ckpt")
    got1 = {(r.window_start.isoformat(), r.cnt, r.sum_power)
            for r in run1.collect()}
    # 10:00:00 window (2 readings) finalized by the 10:00:30 row
    assert ("2024-01-01T10:00:00", 2, 30.0) in got1

    events([(4, "2024-01-01 10:01:00", 5, "click", 40.0, "{}")]
           ).write.mode("append").parquet(data_dir)
    run2 = _rollup_replay(spark, data_dir, out_dir=f"{base}/cube",
                          checkpoint_dir=f"{base}/ckpt")
    got2 = {(r.window_start.isoformat(), r.cnt, r.sum_power)
            for r in run2.collect()}
    # run 1 rows intact, 10:00:30 window finalized by the new row
    assert got1 <= got2
    assert ("2024-01-01T10:00:30", 1, 30.0) in got2
    # nothing double-counted: the 10:00:00 window still has cnt=2
    assert sum(1 for g in got2 if g[0] == "2024-01-01T10:00:00") == 1


def test_complete_mode_topk_equals_batch(spark):
    """Complete output mode must refresh the full top-K table each trigger;
    after draining, it equals the batch top-K exactly (values and order)."""
    from insight_de_smart_grid_spark.streaming.replay import (
        replay_parquet_stream,
    )
    from insight_de_smart_grid_spark.streaming.stream_ops import (
        top_appliances_stream_plan,
    )

    got = replay_parquet_stream(
        spark, f"{SF_SMOKE}/events.parquet",
        lambda s: top_appliances_stream_plan(events_to_readings(s), k=5),
        output_mode="complete")
    want = (readings_view(spark, SF_SMOKE)
            .groupBy("appliance_name")
            .agg(F.sum(F.col("power").cast("double")).alias("sum_power"))
            .orderBy(F.desc("sum_power")).limit(5))
    g = [(r.appliance_name, round(r.sum_power, 6)) for r in got.collect()]
    w = [(r.appliance_name, round(r.sum_power, 6)) for r in want.collect()]
    assert g == w and len(g) == 5


def ran_on_rocksdb(progress) -> bool:
    """Every state operator in a replay's progress reports the RocksDB
    provider's own metrics: the provider set on the caller's session
    reached the replay."""
    ops = [op for p in progress for op in p["stateOperators"]]
    return bool(ops) and all(
        any(k.startswith("rocksdb") for k in op["customMetrics"])
        for op in ops)


def test_rocksdb_state_store_matches_batch(spark):
    """The 100 TB state-store path: the same duty-cycle stream runs under
    the RocksDB provider (bounded-memory, spill-to-disk state — the provider
    a large-keyspace deployment must use) and produces exactly the
    HDFS-backed/default-provider result, i.e. the batch-finalized windows."""
    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    rocks = ("org.apache.spark.sql.execution.streaming."
             "state.RocksDBStateStoreProvider")
    spark.conf.set(key, rocks)
    progress = []
    try:
        stream_out = run_sliding_stream(
            spark, f"{SF_SMOKE}/events.parquet", duty_cycle_stream_plan,
            events_to_readings,
            window="10 minutes", slide="2 minutes",
            watermark="2 seconds", flush_sentinel=False,
            progress_out=progress)
        assert ran_on_rocksdb(progress)
        readings = readings_view(spark, SF_SMOKE)
        batch = duty_cycle(readings, window="10 minutes", slide="2 minutes")
        max_ts = readings.agg(F.max("ts")).collect()[0][0]
        s_rows = {tuple(r) for r in stream_out.collect()}
        finalized = {tuple(r) for r in batch.collect()
                     if (max_ts - r[0]).total_seconds() >= 2}
        assert s_rows == finalized
        assert len(s_rows) > 0
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def test_rocksdb_state_store_matches_batch_chained_panes(spark):
    """The round-7 chained-stateful pane plan under the RocksDB provider:
    TWO stateful operators now share the provider (separate state store
    instances per operator per partition), and the finalized output must
    still equal the batch pane form exactly — the production state-store
    proof for the new flagship streaming path."""
    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    rocks = ("org.apache.spark.sql.execution.streaming."
             "state.RocksDBStateStoreProvider")
    spark.conf.set(key, rocks)
    progress = []
    try:
        stream_out = run_sliding_stream(
            spark, f"{SF_SMOKE}/events.parquet", duty_cycle_stream_plan,
            events_to_readings,
            window="10 minutes", slide="2 minutes",
            watermark="2 seconds", flush_sentinel=True, panes=True,
            progress_out=progress)
        assert ran_on_rocksdb(progress)
        batch = duty_cycle(readings_view(spark, SF_SMOKE),
                           window="10 minutes", slide="2 minutes",
                           panes=True)
        s_rows = {tuple(r) for r in stream_out
                  .filter(F.col("house_id") != "-1").collect()}
        assert s_rows == {tuple(r) for r in batch.collect()}
        assert len(s_rows) > 0
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def test_chained_panes_drop_late_rows_across_restarts(spark, tmp_path):
    """ST1/ST4 for the chained pane plan: a row arriving behind the
    persisted watermark in a SECOND availableNow run over the shared
    checkpoint must not re-open or alter any finalized window — late
    drops have to hold through BOTH stateful operators (a late event the
    pane agg admitted would silently corrupt the downstream combine)."""
    data_dir = str(tmp_path / "data")
    ckpt = str(tmp_path / "ck")
    out_dir = str(tmp_path / "sink")
    on_time = spark.createDataFrame(
        [(1, "2024-01-01 10:00:01", 5, "click", 10.0, "{}"),
         (2, "2024-01-01 10:09:59", 5, "click", 10.0, "{}"),
         (3, "2024-01-01 10:30:00", 5, "click", 10.0, "{}")],
        "event_id long, ts string, user_id long, event_type string,"
        " value double, props string",
    ).withColumn("ts", F.to_timestamp("ts"))
    on_time.write.mode("overwrite").parquet(data_dir)
    out1 = run_sliding_stream(
        spark, data_dir, duty_cycle_stream_plan,
        events_to_readings,
        window="10 minutes", slide="2 minutes", watermark="2 seconds",
        checkpoint_dir=ckpt, out_dir=out_dir, panes=True,
        flush_sentinel=False)
    first = {(r.time_end.isoformat(), r.house_id, r.appliance_id,
              r.duty_cycle) for r in out1.collect()}
    # watermark reached 10:29:58: every sliding window ending by then is
    # finalized through both operators, incl. the [10:00,10:10) span's
    assert ("2024-01-01T10:10:00", "5", "5_click", 1.0) in first

    late = spark.createDataFrame(
        [(4, "2024-01-01 10:05:00", 5, "click", 1.0, "{}")],
        "event_id long, ts string, user_id long, event_type string,"
        " value double, props string",
    ).withColumn("ts", F.to_timestamp("ts"))
    late.write.mode("append").parquet(data_dir)
    out2 = run_sliding_stream(
        spark, data_dir, duty_cycle_stream_plan,
        events_to_readings,
        window="10 minutes", slide="2 minutes", watermark="2 seconds",
        checkpoint_dir=ckpt, out_dir=out_dir, panes=True,
        flush_sentinel=False)
    rows2 = {(r.time_end.isoformat(), r.house_id, r.appliance_id,
              r.duty_cycle) for r in out2.collect()}
    assert ("2024-01-01T10:10:00", "5", "5_click", 1.0) in rows2
    # the late below-threshold row would have dragged the ratio to 2/3
    assert all(not (t == "2024-01-01T10:10:00" and d != 1.0)
               for t, h, a, d in rows2)
    assert len(rows2) == len(first)  # nothing re-opened, nothing new


def test_foreachbatch_upsert_is_incremental(spark, tmp_path):
    """The foreachBatch snapshot merges across RESTARTS: feed half the
    files, run; add the rest, run again on the same checkpoint — the final
    snapshot equals batch latest-compaction over everything, and keys
    updated by the second half carry the newer ts."""
    import shutil
    from pathlib import Path

    from insight_de_smart_grid_spark.operators.pipeline import (
        latest_compaction,
    )
    from insight_de_smart_grid_spark.streaming.stream_ops import (
        upsert_compaction_stream,
    )

    src = tmp_path / "src"
    src.mkdir()
    ev = spark.createDataFrame(
        [(1, "click", "2024-01-01 10:00:00", 1.0),
         (1, "view", "2024-01-01 10:00:01", 2.0),
         (2, "click", "2024-01-01 10:00:02", 3.0)],
        "user_id long, event_type string, ts_s string, value double"
    ).selectExpr("user_id", "event_type", "CAST(ts_s AS TIMESTAMP) ts",
                 "value")
    ev.coalesce(1).write.parquet(str(src / "p1"))
    first = next((src / "p1").glob("part-*.parquet"))
    shutil.move(str(first), str(src / "a.parquet"))
    shutil.rmtree(src / "p1")

    snap = str(tmp_path / "snap")
    ck = str(tmp_path / "ck")
    from insight_de_smart_grid_spark.streaming.stream_ops import (
        read_upsert_snapshot,
    )

    upsert_compaction_stream(spark, str(src), snapshot_dir=snap,
                             checkpoint_dir=ck)
    assert read_upsert_snapshot(spark, snap).count() == 3

    ev2 = spark.createDataFrame(
        [(1, "click", "2024-01-01 11:00:00", 9.0),   # newer -> replaces
         (3, "view", "2024-01-01 11:00:01", 4.0)],   # new key -> inserts
        "user_id long, event_type string, ts_s string, value double"
    ).selectExpr("user_id", "event_type", "CAST(ts_s AS TIMESTAMP) ts",
                 "value")
    ev2.coalesce(1).write.parquet(str(src / "p2"))
    second = next((src / "p2").glob("part-*.parquet"))
    shutil.move(str(second), str(src / "b.parquet"))
    shutil.rmtree(src / "p2")

    upsert_compaction_stream(spark, str(src), snapshot_dir=snap,
                             checkpoint_dir=ck)
    got = {(r.user_id, r.event_type): (r.ts, r.value)
           for r in read_upsert_snapshot(spark, snap).collect()}
    want = {(r.user_id, r.event_type): (r.ts, r.value)
            for r in latest_compaction(ev.unionByName(ev2)).collect()}
    assert got == want
    assert got[(1, "click")][1] == 9.0
    assert len(got) == 4


def test_exactly_once_after_midstream_crash(spark, tmp_path):
    """Crash INSIDE the dangerous window (after the sink published a new
    snapshot version, before the checkpoint recorded the batch): the
    restarted query replays that batch, and because the foreachBatch merge
    is idempotent (latest-wins compaction over snapshot UNION batch) the
    final snapshot equals the batch-computed truth — no loss, no double
    counting. This is the failure-injection proof behind the
    'effectively exactly-once' claim of the upsert sink."""
    import os
    import shutil
    import tempfile
    from pathlib import Path

    from pyspark.sql import functions as FF

    from insight_de_smart_grid_spark.operators.pipeline import (
        latest_compaction,
    )
    from insight_de_smart_grid_spark.sources.tables import load_table

    cols = ["user_id", "event_type", "ts", "value"]
    ev = load_table(spark, SF_SMOKE, "events").select(*cols)

    src = tmp_path / "src"
    src.mkdir()
    for i in range(3):  # three files -> three micro-batches
        staged = str(tmp_path / f"staged{i}")
        (ev.filter(FF.crc32(FF.concat_ws(":", "user_id", "ts")) % 3 == i)
         .coalesce(1).write.mode("overwrite").parquet(staged))
        part = next(Path(staged).glob("part-*.parquet"))
        part.rename(src / f"f{i}.parquet")

    root = tmp_path / "snap"
    root.mkdir()
    pointer = root / "CURRENT"
    crashed = tmp_path / "crashed_once"

    def upsert(batch_df, batch_id: int) -> None:
        current = pointer.read_text().strip() if pointer.exists() else None
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
        os.replace(tmp, pointer)
        if current and current != version:
            shutil.rmtree(root / current, ignore_errors=True)
        if batch_id == 1 and not crashed.exists():
            crashed.write_text("yes")
            raise RuntimeError("injected crash after sink publish")

    def run() -> None:
        q = (spark.readStream.schema(ev.schema)
             .option("maxFilesPerTrigger", 1).parquet(str(src))
             .writeStream.foreachBatch(upsert)
             .option("checkpointLocation", str(tmp_path / "ckpt"))
             .trigger(availableNow=True).start())
        q.awaitTermination()

    import pytest as pt
    with pt.raises(Exception, match="injected crash"):
        run()
    assert crashed.exists()
    run()  # restart: replays batch 1, drains batch 2

    got = {tuple(r) for r in
           spark.read.parquet(
               str(root / pointer.read_text().strip())).collect()}
    want = {tuple(r) for r in latest_compaction(ev).collect()}
    assert got == want and len(want) > 0


def _write_rows(path, n: int, mtime: "int | None" = None, first: int = 0):
    """A parquet file of ``n`` (user_id, event_type) rows, optionally
    stamped with ``mtime`` (the file source orders triggers by it)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table({
        "user_id": pa.array(range(first, first + n), pa.int64()),
        "event_type": pa.array(["click", "purchase"] * (n // 2)
                               + ["click"] * (n % 2))}), path)
    if mtime is not None:
        os.utime(path, (mtime, mtime))


def test_state_width_rule(spark, tmp_path, monkeypatch):
    """``state_width``: one state store per ``ROWS_PER_STORE`` rows of
    the largest trigger, clamped to [1, cores]; triggers group
    ``max_files_per_trigger`` files in mtime order; bookkeeping files
    don't count; sizing reads footers only, so no Spark job runs."""
    from insight_de_smart_grid_spark.session import default_parallelism
    from insight_de_smart_grid_spark.streaming import replay as rp

    tiny = tmp_path / "tiny"
    tiny.mkdir()
    _write_rows(tiny / "a.parquet", 3)
    (tiny / "_SUCCESS").write_text("")
    assert rp.state_width(str(tiny)) == 1
    assert rp.state_width(str(tiny / "a.parquet")) == 1

    cores = default_parallelism()
    big = tmp_path / "big"
    big.mkdir()
    _write_rows(big / "a.parquet", 8 * cores + 1)
    monkeypatch.setattr(rp, "ROWS_PER_STORE", 8)
    assert 8 * cores + 1 > rp.ROWS_PER_STORE * cores
    assert rp.state_width(str(big)) == cores

    # mtime order b, c, a differs from name order a, b, c
    grouped = tmp_path / "grouped"
    grouped.mkdir()
    _write_rows(grouped / "a.parquet", 6, mtime=1_700_000_300)
    _write_rows(grouped / "b.parquet", 4, mtime=1_700_000_100)
    _write_rows(grouped / "c.parquet", 4, mtime=1_700_000_200)
    monkeypatch.setattr(rp, "ROWS_PER_STORE", 1)
    monkeypatch.setattr(rp, "default_parallelism", lambda: 64)
    assert rp.state_width(str(grouped)) == 14
    assert rp.state_width(str(grouped), 1) == 6
    assert rp.state_width(str(grouped), 2) == 8  # [b, c] then [a]
    assert rp.state_width(str(grouped), 3) == 14

    fresh = tmp_path / "fresh"  # footers no cache has seen
    fresh.mkdir()
    for i in range(3):
        _write_rows(fresh / f"p{i}.parquet", 5)
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    assert rp.state_width(str(fresh), 1) == 5
    assert set(tracker.getJobIdsForGroup()) == before


def test_restart_keeps_checkpointed_state_width(spark, tmp_path,
                                                monkeypatch):
    """The width rule decides a query's first start only: after a file
    that would size a wider shuffle lands, the restarted query keeps the
    width stored in its checkpoint and the sink still equals the batch
    answer."""
    from insight_de_smart_grid_spark.streaming import replay as rp

    monkeypatch.setattr(rp, "ROWS_PER_STORE", 4)
    monkeypatch.setattr(rp, "default_parallelism", lambda: 4)
    src = tmp_path / "src"
    src.mkdir()
    _write_rows(src / "a.parquet", 3)
    assert rp.state_width(str(src)) == 1

    def run():
        prog = []
        out = rp.replay_parquet_stream(
            spark, str(src),
            lambda s: s.select("user_id", "event_type").dropDuplicates(),
            checkpoint_dir=str(tmp_path / "ck"),
            out_dir=str(tmp_path / "sink"), progress_out=prog)
        widths = {so["numShufflePartitions"] for p in prog
                  for so in p.get("stateOperators", [])}
        return out, widths

    _, widths1 = run()
    assert widths1 == {1}
    _write_rows(src / "b.parquet", 12, first=2)
    assert rp.state_width(str(src)) == 4
    out2, widths2 = run()
    assert widths2 == widths1
    want = {tuple(r) for r in spark.read.parquet(str(src))
            .select("user_id", "event_type").distinct().collect()}
    assert {tuple(r) for r in out2.collect()} == want and len(want) == 14


def test_replay_takes_both_dirs_or_neither(tmp_path):
    """A checkpoint without its sink (or a sink without its checkpoint)
    is refused: a fresh checkpoint over a used sink would restart at
    batch 0 and read back the old run's rows."""
    import pytest

    from insight_de_smart_grid_spark.streaming.replay import (
        replay_parquet_stream,
    )

    for dirs in ({"checkpoint_dir": str(tmp_path / "ck")},
                 {"out_dir": str(tmp_path / "sink")}):
        with pytest.raises(ValueError, match="both"):
            replay_parquet_stream(None, str(tmp_path), lambda s: s, **dirs)
    assert list(tmp_path.iterdir()) == []
