"""Tests for sessionization, as-of join, stats/approx aggregates, scalar
batteries."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from insight_de_smart_grid_spark.operators.sessionize import (
    session_agg_builtin,
    session_aggregates,
)
from insight_de_smart_grid_spark.sources.tables import load_table
from tests.conftest import SF_ORACLE
from tests.oracle import check_registered

ORACLE_CHECKED = [
    "sessionize_events",
    "asof_purchase_click",
    "star_stats_agg",
    "scalar_battery",
    "scalar_dates",
    "text_bpe_tokens",
    "array_battery",
    "salted_agg",
    "docs_by_source",
    "range_join_clicks_before_purchase",
    "streaming_dedup",
    "streaming_ewma",
]


@pytest.mark.parametrize("name", ORACLE_CHECKED)
def test_advanced_matches_oracle(spark, duck, name):
    check_registered(spark, duck, name)


def test_events_have_no_reading_key_ties(spark):
    """The streaming_ewma oracle's recursive recurrence assumes a total
    order per (house, appliance): no two events share (user_id, event_type,
    ts). If the testdata ever gains ties, the EWMA order becomes ambiguous
    and that oracle must grow a tie-breaker."""
    ev = load_table(spark, SF_ORACLE, "events")
    n_ties = (ev.groupBy("user_id", "event_type", "ts").count()
              .filter("count > 1").count())
    assert n_ties == 0


def test_builtin_session_window_agrees_with_lag_cumsum(spark):
    """Two independent sessionization formulations (window-function recipe vs
    native session_window) must produce identical session boundaries."""
    ev = load_table(spark, SF_ORACLE, "events")
    manual = {(r.user_id, r.session_start, r.n_events, round(r.sum_value, 6))
              for r in session_aggregates(ev, gap="30 minutes").collect()}
    builtin = {(r.user_id, r.session_start, r.n_events, round(r.sum_value, 6))
               for r in session_agg_builtin(ev, gap="30 minutes").collect()}
    assert manual == builtin


def test_approx_agg_within_tolerance_of_exact(spark):
    """star_approx_agg carries its ±5% tolerance checks as in-query boolean
    verdicts (the driver-checkable shape); every group must pass, and the
    exact counts must match an independent aggregation."""
    exact = {
        r.l_returnflag: r.n for r in
        load_table(spark, SF_ORACLE, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.countDistinct("l_partkey").alias("n"))
        .collect()
    }
    from insight_de_smart_grid_spark.plans.registry import QUERIES
    rows = QUERIES["star_approx_agg"].fn(spark, SF_ORACLE).collect()
    assert len(rows) == len(exact)
    for r in rows:
        assert r.exact_parts == exact[r.l_returnflag]
        assert r.approx_parts_ok and r.approx_median_ok


def test_ewma_stream_equals_batch(spark):
    """The applyInPandasWithState EWMA must equal the batch applyInPandas
    run over the same input (state carried across micro-batches)."""
    from insight_de_smart_grid_spark.plans.registry import QUERIES
    from insight_de_smart_grid_spark.sources.tables import readings_view
    from insight_de_smart_grid_spark.streaming.stateful import ewma_batch

    batch = {(r.house_id, r.appliance_id, r.ts, round(r.ewma, 9))
             for r in ewma_batch(readings_view(spark, SF_ORACLE)).collect()}
    stream = {(r.house_id, r.appliance_id, r.ts, round(r.ewma, 9))
              for r in QUERIES["streaming_ewma"].fn(spark, SF_ORACLE).collect()}
    assert batch == stream


def test_streaming_sessions_match_batch_finalized(spark):
    """session_window under readStream (append mode) must agree with the
    batch session_window on EVERY session: the replay's flush sentinel
    advances the watermark past end-of-data, finalizing even the sessions
    that end in the last minute."""
    from pyspark.sql import functions as F2

    from insight_de_smart_grid_spark.plans.registry import QUERIES
    from insight_de_smart_grid_spark.sources.tables import load_table as lt

    ev = lt(spark, SF_ORACLE, "events")
    batch = (
        ev.groupBy(F2.session_window(F2.col("ts"), "30 minutes").alias("sw"),
                   "user_id")
        .agg(F2.count(F2.lit(1)).alias("n_events"),
             F2.sum("value").alias("sum_value"))
        .select("user_id", F2.col("sw.start").alias("session_start"),
                F2.col("sw.end").alias("session_end"), "n_events",
                "sum_value"))
    b_rows = {(r.user_id, r.session_start, r.session_end, r.n_events,
               round(r.sum_value, 6))
              for r in batch.collect()}
    s_rows = {(r.user_id, r.session_start, r.session_end, r.n_events,
               round(r.sum_value, 6))
              for r in QUERIES["streaming_sessions"].fn(spark, SF_ORACLE)
              .collect()}
    assert s_rows == b_rows
    assert len(s_rows) > 0


def test_asof_join_matches_pandas_merge_asof(spark):
    """Randomized (seeded) cross-check against pandas' reference asof
    implementation on data with duplicate timestamps and unmatched keys."""
    import numpy as np
    import pandas as pd

    from insight_de_smart_grid_spark.operators.asof import asof_join

    rng = np.random.RandomState(11)
    n_l, n_r = 400, 600
    left = pd.DataFrame({
        "event_id": np.arange(n_l),
        "user_id": rng.randint(0, 20, n_l),
        "ts": pd.to_datetime(rng.randint(0, 100_000, n_l), unit="s"),
    })
    right = pd.DataFrame({
        "user_id": rng.randint(0, 25, n_r),
        "ts": pd.to_datetime(rng.randint(0, 100_000, n_r), unit="s"),
        "value": rng.rand(n_r).round(6),
    })
    sl = spark.createDataFrame(left)
    sr = spark.createDataFrame(right)
    got = {(r.event_id, r.asof_value, r.asof_ts)
           for r in asof_join(sl, sr, on="user_id",
                              payload_cols=("value",)).collect()}

    # pandas merge_asof with equal right timestamps keeps the LAST row of the
    # ties; our last_value over (ts, right-first) ordering does the same
    ref = pd.merge_asof(
        left.sort_values("ts", kind="stable"),
        right.sort_values("ts", kind="stable"),
        on="ts", by="user_id", direction="backward",
        suffixes=("", "_r"))
    # recover the matched right ts: join value back (values are unique floats)
    ref = ref.dropna(subset=["value"])
    rv = right.rename(columns={"ts": "r_ts"})
    ref = ref.merge(rv, on=["user_id", "value"], how="left")
    # equal (user_id, value) pairs can join to several r_ts; keep the latest
    # r_ts <= ts, matching the as-of contract
    ref = ref[ref.r_ts <= ref.ts]
    ref = (ref.sort_values("r_ts").groupby("event_id", as_index=False)
           .last())
    want = {(int(r.event_id), float(r.value), r.r_ts.to_pydatetime())
            for r in ref.itertuples()}
    assert got == want


def test_sessionize_matches_python_reference(spark):
    """Seeded random events vs a pure-Python gap-sessionizer."""
    import numpy as np
    import pandas as pd

    from insight_de_smart_grid_spark.operators.sessionize import (
        session_aggregates,
    )

    rng = np.random.RandomState(5)
    n = 1000
    pdf = pd.DataFrame({
        "event_id": np.arange(n),
        "user_id": rng.randint(0, 15, n),
        "ts": pd.to_datetime(rng.randint(0, 500_000, n), unit="s"),
        "value": rng.rand(n).round(6),
    })
    got = {(r.user_id, r.session_seq, r.session_start, r.session_end,
            r.n_events, round(r.sum_value, 6))
           for r in session_aggregates(
               spark.createDataFrame(pdf), gap="30 minutes").collect()}

    want = set()
    for uid, g in pdf.sort_values(["ts", "event_id"]).groupby("user_id"):
        seq, start, prev, cnt, sv = 0, None, None, 0, 0.0
        for row in g.itertuples():
            if prev is None or (row.ts - prev).total_seconds() > 1800:
                if start is not None:
                    want.add((uid, seq, start.to_pydatetime(),
                              prev.to_pydatetime(), cnt, round(sv, 6)))
                seq += 1
                start, cnt, sv = row.ts, 0, 0.0
            prev_end = row.ts
            cnt += 1
            sv += row.value
            prev = row.ts
        want.add((uid, seq, start.to_pydatetime(), prev.to_pydatetime(),
                  cnt, round(sv, 6)))
    assert got == want


def test_ewma_batch_boundary_carry_with_tiny_arrow_batches(spark):
    """ewma_batch seeds the one group that spans an Arrow batch boundary;
    force 3-row batches so every partition splits mid-group and compare
    against a scalar-loop reference."""
    import pandas as pd
    from pyspark.sql import functions as F2

    from insight_de_smart_grid_spark.streaming.stateful import ewma_batch

    rng = __import__("random").Random(7)
    rows = []
    for i in range(200):
        rows.append((f"h{rng.randrange(3)}", f"a{rng.randrange(2)}",
                     f"2024-01-01 10:{i // 60:02d}:{i % 60:02d}",
                     round(rng.uniform(0, 100), 3)))
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["house_id", "appliance_id", "ts", "power"])
    ).withColumn("ts", F2.to_timestamp("ts"))

    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "3")
    try:
        got = {(r.house_id, r.appliance_id, r.ts, round(r.ewma, 9))
               for r in ewma_batch(df).collect()}
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)

    # scalar reference: y_0 = x_0; y_i = 0.3 x_i + 0.7 y_{i-1} per key
    want = set()
    by_key = {}
    for h, a, ts, p in sorted(rows, key=lambda r: (r[0], r[1], r[2])):
        cur = by_key.get((h, a))
        cur = p if cur is None else 0.3 * p + 0.7 * cur
        by_key[(h, a)] = cur
        want.add((h, a, pd.Timestamp(ts).to_pydatetime(), round(cur, 9)))
    assert got == want


def test_interval_join_randomized_against_duckdb(spark, duck):
    """Property check: interval_join over random timestamps must equal the
    equivalent DuckDB range join."""
    import pandas as pd
    from pyspark.sql import functions as F2

    from insight_de_smart_grid_spark.operators.interval_join import (
        interval_join,
    )

    rng = __import__("random").Random(11)
    evs = [(i, rng.randrange(5),
            f"2024-01-01 00:{rng.randrange(60):02d}:{rng.randrange(60):02d}",
            "left" if rng.random() < 0.5 else "right")
           for i in range(300)]
    pdf = pd.DataFrame(evs, columns=["eid", "uid", "ts", "side"])
    df = (spark.createDataFrame(pdf)
          .withColumn("ts", F2.to_timestamp("ts")))
    left = (df.filter(F2.col("side") == "left")
            .select("uid", F2.col("eid").alias("l_id"),
                    F2.col("ts").alias("l_ts")))
    right = (df.filter(F2.col("side") == "right")
             .select("uid", F2.col("eid").alias("r_id"),
                     F2.col("ts").alias("r_ts")))
    got = {(r.uid, r.l_id, r.r_id) for r in
           interval_join(left, right, on="uid", left_ts="l_ts",
                         right_ts="r_ts", lookback="5 minutes").collect()}

    duck.execute("CREATE OR REPLACE TABLE ij_ev AS SELECT * FROM pdf")
    want = {tuple(r) for r in duck.execute("""
        SELECT l.uid, l.eid, r.eid
        FROM ij_ev l JOIN ij_ev r
          ON r.uid = l.uid AND r.side = 'right'
         AND CAST(r.ts AS TIMESTAMP) > CAST(l.ts AS TIMESTAMP) - INTERVAL 5 MINUTE
         AND CAST(r.ts AS TIMESTAMP) <= CAST(l.ts AS TIMESTAMP)
        WHERE l.side = 'left'""").fetchall()}
    duck.execute("DROP TABLE ij_ev")
    assert got == want
    assert len(got) > 0
