"""Test-side emulation of the driver's DuckDB-oracle comparison.

Runs a registered Spark query and its oracle SQL at sf0.01, canonicalizes both
results (columns sorted by name, rows sorted, floats rounded), and asserts
equality. Mirrors the driver's row-count + schema + order-insensitive
value-hash check closely enough that green here predicts green in
CORRECTNESS_r{N}.json.
"""

from __future__ import annotations

import math
from datetime import datetime, timezone


def _canon_value(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # round to 9 significant digits to absorb summation-order jitter
        if v == 0:
            return 0.0
        return float(f"{v:.9g}")
    if isinstance(v, datetime):
        # Deliberately DO NOT normalize tz-aware to naive: the driver's
        # comparison treats TIMESTAMP vs TIMESTAMPTZ as a schema mismatch
        # (round-2 dash_m4_downsample failed there while local was green
        # because this canonicalizer silently converted). Keep the tzinfo
        # in the canonical form so a tz-aware oracle column can never
        # match a naive Spark column.
        if v.tzinfo is not None:
            v = v.astimezone(timezone.utc)
            return "tz:" + v.isoformat(sep=" ", timespec="microseconds")
        return v.isoformat(sep=" ", timespec="microseconds")
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return tuple(_canon_value(x) for x in v)
    if isinstance(v, bool):
        return int(v)
    return v


def _canon_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_canon_value(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple(repr(x) for x in t))
    return [cols[i] for i in order], out


def compare(spark_df, duck_con, sql):
    scols = spark_df.columns
    srows = [tuple(r) for r in spark_df.collect()]
    res = duck_con.execute(sql)
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()

    assert sorted(c.lower() for c in scols) == sorted(c.lower() for c in dcols), \
        f"schema mismatch: spark={sorted(scols)} duck={sorted(dcols)}"
    assert len(srows) == len(drows), \
        f"row count mismatch: spark={len(srows)} duck={len(drows)}"

    _, s = _canon_rows([c.lower() for c in scols], srows)
    _, d = _canon_rows([c.lower() for c in dcols], drows)
    mismatches = [(a, b) for a, b in zip(s, d) if a != b]
    assert not mismatches, f"{len(mismatches)} row mismatches; first: {mismatches[0]}"


def check_query(spark, duck, q, sf_dir):
    """Run registered query ``q`` over ``sf_dir`` and compare it with its
    oracle inside one ``checkpoint_scope``: the result is collected before
    the scope exits, which then releases the query's pinned blocks and
    removes its scratch dirs."""
    from insight_de_smart_grid_spark.operators.staging import checkpoint_scope

    with checkpoint_scope(spark):
        compare(q.fn(spark, sf_dir), duck, q.sql)


def check_registered(spark, duck, name, sf_dir="/root/testdata/sf0.01"):
    from insight_de_smart_grid_spark.plans.registry import QUERIES

    q = QUERIES[name]
    assert q.sql is not None, f"{name} has no oracle SQL"
    check_query(spark, duck, q, sf_dir)
