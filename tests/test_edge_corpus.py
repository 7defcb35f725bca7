"""Adversarial second-corpus sweep: every oracled query re-checked against
DuckDB on `tests/edge_fixture.py`'s pathological tables (empty/unicode/
duplicate docs, zero vectors, same-timestamp bursts, malformed JSON,
orphan foreign keys, counter resets).

The driver corpus is benign (ASCII text, unique timestamps, valid JSON);
this sweep is what caught — and now guards — the byte-vs-char oracle
drift in the multimodal fakes, FAILFAST JSON parses, zero-norm cosine
divergence, SCD2 timestamp-tie nondeterminism, value-tolerance lies in
the approx-sketch flags, and the sentinel-margin/day-boundary watermark
interactions in the streaming sketches.
"""

from __future__ import annotations

import duckdb
import pytest

from insight_de_smart_grid_spark.plans.registry import QUERIES
from tests.edge_fixture import build_edge_sf
from tests.oracle import check_query

ORACLED = sorted(n for n, q in QUERIES.items() if q.sql is not None)


@pytest.fixture(scope="session")
def edge_dir(tmp_path_factory) -> str:
    return build_edge_sf(str(tmp_path_factory.mktemp("edge_sf")))


@pytest.fixture(scope="session")
def edge_duck(edge_dir):
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for t in ("region nation customer supplier part orders lineitem "
              "events documents embeddings").split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{edge_dir}/{t}.parquet')")
    yield con
    con.close()


@pytest.mark.parametrize("name", ORACLED)
def test_query_matches_oracle_on_edge_corpus(spark, edge_dir, edge_duck,
                                             name):
    check_query(spark, edge_duck, QUERIES[name], edge_dir)
