"""Output checks, run outside the timed region.

Each checked result is compared, order-insensitively, with its DuckDB twin
run over the same generated parquet files: column names must match, rows
must match after canonicalisation (timestamps to microseconds), floats
within a relative 1e-9 — summation order differs between the engines.
"""

from __future__ import annotations

import datetime as dt
import math
import os

import duckdb

VIEWS = ("region", "nation", "customer", "supplier", "orders", "lineitem",
         "events", "documents", "embeddings")


def connect(data_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads=2")
    for t in VIEWS:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE OR REPLACE VIEW {t} AS "
                        f"SELECT * FROM read_parquet('{p}')")
    return con


def _canon(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v + 0.0  # folds -0.0
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat(sep=" ", timespec="microseconds")
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    return v


def _sort_key(row: tuple) -> str:
    # floats coarsened so rows whose floats differ in the last digits
    # still sort to the same position
    return repr(tuple(f"{v:.6g}" if isinstance(v, float) else v
                      for v in row))


def canon(cols: "list[str]", rows: "list[tuple]") -> tuple:
    """Columns sorted by lower-cased name, rows canonicalised and sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    out = sorted((tuple(_canon(r[i]) for i in order) for r in rows),
                 key=_sort_key)
    return tuple(cols[i].lower() for i in order), tuple(out)


def _close(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(map(_close, a, b))
    return a == b


def same(got: tuple, want: tuple) -> bool:
    """Two canonical results are equal: same columns, same rows, floats
    within a relative 1e-9."""
    return (got[0] == want[0] and len(got[1]) == len(want[1])
            and all(map(_close, got[1], want[1])))


def recall_at_k(got: "dict[int, set[int]]",
                exact: "dict[int, set[int]]") -> float:
    """Mean share of each query's exact top-k that the index returned."""
    hits = [len(got.get(q, set()) & ids) / len(ids)
            for q, ids in exact.items() if ids]
    return sum(hits) / len(hits) if hits else 1.0
