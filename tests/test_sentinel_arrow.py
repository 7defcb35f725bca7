"""Parity tests for the driver-side (pyarrow footer-statistics) flush-
sentinel staging vs the original Spark-job path (round-11 optimization:
``streaming/replay.py::_stage_flush_sentinel_arrow``). The sentinel's
contract is semantic — max-ts row copied, ts bumped by the margin,
user_id -1, NULL value coalesced to 0, optional per-event-type fanout,
an mtime after the real files — so the two paths must produce row-identical
sentinel files under the replay's own reader."""

from __future__ import annotations

from pathlib import Path

import pytest

from insight_de_smart_grid_spark.sources.pq import parquet_schema
from insight_de_smart_grid_spark.streaming.replay import (
    _stage_flush_sentinel_arrow,
    _stage_flush_sentinel_spark,
)
from tests.conftest import SF_SMOKE


def _staged_copy(d: Path, src: str) -> str:
    d.mkdir()
    (d / Path(src).name).symlink_to(src)
    return str(d)


def _sentinel_rows(spark, staged: str, schema):
    files = sorted(str(p) for p in Path(staged).iterdir()
                   if p.name.startswith("zz_flush_sentinel"))
    assert files, "no sentinel written"
    df = spark.read.schema(schema).parquet(*files)
    return sorted(
        (tuple(r) for r in df.collect()),
        key=lambda t: tuple((v is None, str(v)) for v in t))


@pytest.mark.parametrize("all_types,margin_h", [(False, 1), (True, 1)])
def test_arrow_sentinel_matches_spark_path(spark, tmp_path, all_types,
                                           margin_h):
    src = f"{SF_SMOKE}/events.parquet"
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = parquet_schema(spark, src)

    d_arrow = _staged_copy(tmp_path / "arrow", src)
    d_spark = _staged_copy(tmp_path / "spark", src)
    _stage_flush_sentinel_arrow(d_arrow, 3600 * margin_h,
                                all_types=all_types)
    _stage_flush_sentinel_spark(spark, d_spark, 3600 * margin_h,
                                all_types=all_types, schema=schema)

    a = _sentinel_rows(spark, d_arrow, schema)
    s = _sentinel_rows(spark, d_spark, schema)
    # identical ts/user_id/event_type/value payload row-for-row; the
    # copied passthrough columns may differ only when several rows tie at
    # the max ts (orderBy-limit-1 vs sort_indices tie-break), which the
    # deterministic fixtures don't exhibit — assert full-row equality
    assert a == s
    # the sentinel's mtime is past the real file's, so mtime-ordered
    # micro-batching processes it last
    mt = [p.stat().st_mtime for p in sorted(Path(d_arrow).iterdir())]
    assert mt == sorted(mt) and len(set(mt)) == len(mt)


def test_arrow_sentinel_raises_without_ts_column(spark, tmp_path):
    staged = _staged_copy(tmp_path / "staged", f"{SF_SMOKE}/nation.parquet")
    with pytest.raises(Exception):
        _stage_flush_sentinel_arrow(staged, 3600)
