"""Interval (range) join: all right rows within a bounded time window
before each left row.

The reference has no range join (its one join is the positional label lookup,
SURVEY §2.3 J1); this is the event-correlation primitive a training-data /
clickstream pipeline needs ("every click in the N hours before a purchase"),
and the all-matches complement of the as-of join (`operators/asof.py`, which
keeps only the latest match).

Scale shape: the join condition carries an **equi key** (`on`) next to the
range predicate, so Catalyst plans a shuffled hash / sort-merge join on the
key with the range as a join filter — one shuffle per side, no cartesian
blowup. Never write the range-only form (`ts BETWEEN ...` without an equi
key): that degrades to BroadcastNestedLoopJoin. A plan-shape test pins this
(tests/test_plans.py).

Stream-stream twin: `streaming/stream_ops.py::purchase_click_stream_plan`
runs the same logical join under Structured Streaming with watermarks on both
sides (the time bounds in the condition are what lets Spark evict buffered
state).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def interval_join(left: DataFrame, right: DataFrame, on: str,
                  left_ts: str, right_ts: str,
                  lookback: str = "4 hours",
                  how: str = "inner") -> DataFrame:
    """Join each left row to every right row of the same ``on`` key with
    ``right_ts`` in ``(left_ts - lookback, left_ts]``.

    ``left_ts`` / ``right_ts`` must be distinct column names (rename before
    calling); all other columns must not collide except ``on``.
    """
    # alias both sides: when left/right derive from the same source frame
    # (self-join), bare df[col] references collapse to a trivially-true
    # predicate instead of an equi key
    l, r = left.alias("__ij_l"), right.alias("__ij_r")
    lc = lambda c: F.col(f"__ij_l.{c}")  # noqa: E731
    rc = lambda c: F.col(f"__ij_r.{c}")  # noqa: E731
    cond = (
        (lc(on) == rc(on))
        & (rc(right_ts) > lc(left_ts) - F.expr(f"INTERVAL {lookback}"))
        & (rc(right_ts) <= lc(left_ts))
    )
    return l.join(r, cond, how).drop(rc(on))


def interval_join_bucketed(left: DataFrame, right: DataFrame, on: str,
                           left_ts: str, right_ts: str,
                           lookback: str = "4 hours",
                           how: str = "inner") -> DataFrame:
    """Time-bucket-blocked interval join (round-8): identical pairs to
    :func:`interval_join`, with the TIME dimension folded into the equi
    key — the pane trick applied to a range join, and the OSS analog of
    a range-join hint.

    WHY: the plain form's equi key is ``on`` alone, so a sort-merge join
    evaluates the range predicate against every same-key pair — per-key
    cost is clicks x purchases, QUADRATIC in a hot key's event count
    (the planted 30%-hot-user corpus makes this a measured cliff,
    tests/test_scale_stress.py). Bucketing by lookback-width epoch
    buckets joins on (key, bucket): a left row lives in exactly ONE
    bucket; each right row is exploded into the <=2 buckets its lookback
    window can reach (``floor(rts/B)`` .. ``floor((rts+L)/B)``, B = L),
    so per-pair work is bounded by TIME-PROXIMATE same-key events, never
    the key's full history. Exactness: bucket assignment is monotone in
    event time and the explode covers ``f(rts)..f(rts+L)``, a superset
    of every matching left row's bucket — the original range predicate
    then keeps exactly the true pairs, and no pair can duplicate because
    each left row has one bucket. Registered against the SAME oracle SQL
    as the plain form.

    Cost shape: one extra column + a <=2x explode of the right side vs
    the plain form's same two shuffles (both sides still exchange on the
    join key, now (key, bucket))."""
    L = _interval_seconds_ij(lookback)
    lb = F.floor(F.unix_timestamp(F.col(left_ts)) / F.lit(L))
    rsec = F.unix_timestamp(F.col(right_ts))
    # __ib added BEFORE aliasing so the join condition can resolve it
    # through the alias (a post-alias withColumn sits outside the scope)
    l = left.withColumn("__ib", lb).alias("__ij_l")
    r = right.withColumn(
        "__ib",
        F.explode(F.sequence(F.floor(rsec / F.lit(L)),
                             F.floor((rsec + F.lit(L)) / F.lit(L))))
    ).alias("__ij_r")
    lc = lambda c: F.col(f"__ij_l.{c}")  # noqa: E731
    rc = lambda c: F.col(f"__ij_r.{c}")  # noqa: E731
    cond = (
        (lc(on) == rc(on))
        & (lc("__ib") == rc("__ib"))
        & (rc(right_ts) > lc(left_ts) - F.expr(f"INTERVAL {lookback}"))
        & (rc(right_ts) <= lc(left_ts))
    )
    return (l.join(r, cond, how)
            .drop(rc(on)).drop(rc("__ib")).drop(lc("__ib")))


def _interval_seconds_ij(spec: str) -> int:
    """Whole seconds of a '<n> <unit>' lookback (hour/minute/second/day);
    bucketed blocking needs an integer bucket width."""
    from insight_de_smart_grid_spark.operators.sliding import (
        _interval_seconds,
    )

    s = _interval_seconds(spec)
    if not s:
        raise ValueError(f"lookback {spec!r} must be a whole-second "
                         "'<n> <unit>' interval for bucketed blocking")
    return s


def clicks_before_purchases(events: DataFrame,
                            lookback: str = "4 hours") -> DataFrame:
    """Per purchase: how many clicks the same user made in the preceding
    ``lookback``, and when the last one was. Inner semantics (purchases with
    no prior click drop), matching the DuckDB oracle."""
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    pairs = interval_join(purchases, clicks, on="user_id",
                          left_ts="purchase_ts", right_ts="click_ts",
                          lookback=lookback)
    return (pairs.groupBy("user_id", "purchase_id")
            .agg(F.count("*").alias("n_clicks"),
                 F.max("click_ts").alias("last_click_ts")))


def clicks_before_purchases_bucketed(events: DataFrame,
                                     lookback: str = "4 hours"
                                     ) -> DataFrame:
    """:func:`clicks_before_purchases` through the bucketed form — same
    rows (shares the oracle), per-(user, time-bucket) candidate volume."""
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    pairs = interval_join_bucketed(purchases, clicks, on="user_id",
                                   left_ts="purchase_ts",
                                   right_ts="click_ts", lookback=lookback)
    return (pairs.groupBy("user_id", "purchase_id")
            .agg(F.count("*").alias("n_clicks"),
                 F.max("click_ts").alias("last_click_ts")))


def clicks_before_purchases_oracle_sql(lookback_sql: str = "4 HOUR") -> str:
    return f"""
SELECT e.user_id,
       e.event_id AS purchase_id,
       count(*) AS n_clicks,
       max(c.ts) AS last_click_ts
FROM events e
JOIN events c
  ON c.user_id = e.user_id
 AND c.event_type = 'click'
 AND c.ts > e.ts - INTERVAL {lookback_sql}
 AND c.ts <= e.ts
WHERE e.event_type = 'purchase'
GROUP BY 1, 2
"""
