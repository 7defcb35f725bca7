"""Value checks on planted rows for queries whose oracle is empty at
sf0.01: each test copies one sf0.01 table to a temp dir, adds the rows
that make the query fire, and asserts the explicit result rows and that
the query equals its DuckDB oracle on the planted table."""

from __future__ import annotations

from datetime import datetime, timedelta

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from insight_de_smart_grid_spark.plans.registry import QUERIES
from tests.conftest import SF_ORACLE
from tests.oracle import compare

# one (user, day-of-week, hour) cell: user 999 is absent from sf0.01, and
# every reading falls on Sunday 2024-01-07 between 03:00 and 03:30
CELL_START = datetime(2024, 1, 7, 3, 0)
CELL_VALUES = [10.0, 11.0, 12.0, 13.0, 14.0, 15.0, 16.0, 17.0, 18.0, 19.0,
               100.0]
# near-duplicate copies: original vec_id -> planted vec_id. 1000003 lies
# in the ANN delete slice (vec_id % 9 == 4 AND vec_id >= 50); 10, 20, 30
# and the other two copies do not.
COPIES = {10: 1_000_000, 20: 1_000_001, 30: 1_000_003}


def _planted_dir(tmp_path_factory, table: str, rows: list) -> str:
    d = tmp_path_factory.mktemp(f"planted_{table}")
    base = pq.read_table(f"{SF_ORACLE}/{table}.parquet")
    extra = pa.Table.from_pylist(rows, schema=base.schema)
    pq.write_table(pa.concat_tables([base, extra]), d / f"{table}.parquet")
    return str(d)


def _check_oracle(got, sf_dir: str, table: str, sql: str) -> None:
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute(f"CREATE VIEW {table} AS SELECT * FROM "
                f"'{sf_dir}/{table}.parquet'")
    compare(got, con, sql)
    con.close()


@pytest.fixture(scope="module")
def planted_events_dir(tmp_path_factory):
    """sf0.01 ``events`` plus eleven readings in one calendar cell; the
    last, 100.0, lies 3.0 sd above the cell's mean."""
    rows = [{"event_id": 10_000_000 + i, "ts": CELL_START
             + timedelta(minutes=3 * i), "user_id": 999,
             "event_type": "click", "value": v, "props": "{}"}
            for i, v in enumerate(CELL_VALUES)]
    return _planted_dir(tmp_path_factory, "events", rows)


def test_seasonal_anomaly_on_planted_cell(spark, planted_events_dir):
    q = QUERIES["events_seasonal_anomaly"]
    got = q.fn(spark, planted_events_dir)
    assert [tuple(r) for r in got.collect()] == [
        (10_000_010, 999, datetime(2024, 1, 7, 3, 30), 2.996571)]
    _check_oracle(got, planted_events_dir, "events", q.sql)


@pytest.fixture(scope="module")
def planted_embeddings_dir(tmp_path_factory):
    """sf0.01 ``embeddings`` plus one copy of each ``COPIES`` original
    with its first coordinate nudged by 5% of the norm (cosine ~0.999)."""
    base = pq.read_table(f"{SF_ORACLE}/embeddings.parquet").to_pylist()
    by_id = {r["vec_id"]: r for r in base}
    rows = []
    for orig, new in COPIES.items():
        v = np.asarray(by_id[orig]["embedding"], dtype=np.float32)
        v[0] += np.float32(0.05 * np.linalg.norm(v))
        rows.append({"vec_id": new, "embedding": v.tolist(),
                     "label": by_id[orig]["label"]})
    return _planted_dir(tmp_path_factory, "embeddings", rows)


def _planted_cosines(sf_dir: str) -> dict:
    emb = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
           for r in pq.read_table(f"{sf_dir}/embeddings.parquet")
           .to_pylist()}
    return {(a, b): float(emb[a] @ emb[b] / np.linalg.norm(emb[a])
                          / np.linalg.norm(emb[b]))
            for a, b in COPIES.items()}


@pytest.mark.parametrize("name, kept", [
    ("sim_ann_index_cosine_pairs", set(COPIES.items())),
    ("sim_ann_index_deleted", {(10, 1_000_000), (20, 1_000_001)}),
])
def test_ann_index_pairs_on_planted_near_duplicates(
        spark, planted_embeddings_dir, name, kept):
    """The maintained ANN index finds every planted pair at its exact
    cosine; the delete lifecycle drops the pair whose planted copy lies in
    the deleted slice and keeps the rest."""
    q = QUERIES[name]
    got = q.fn(spark, planted_embeddings_dir)
    pairs = {(r.vec_a, r.vec_b): r.cos_sim for r in got.collect()}
    assert set(pairs) == kept
    want = _planted_cosines(planted_embeddings_dir)
    for k in kept:
        assert want[k] >= 0.95
        assert abs(pairs[k] - want[k]) < 2e-6
    _check_oracle(got, planted_embeddings_dir, "embeddings", q.sql)
