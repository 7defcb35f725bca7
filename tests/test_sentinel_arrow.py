"""The flush sentinel (``streaming/replay.py::_stage_flush_sentinel``)
against fixed expected rows: the max-``ts`` row copied with ``ts`` plus the
margin, ``user_id`` -1, a NULL ``value`` replaced by 0, one row per
``event_type`` under ``all_types``, and an mtime later than the real
files. Each case runs over a source with footer statistics and over an
INT96 source without them (Spark's default timestamp encoding), whose
max is read from the ``ts`` column and whose sentinel must read back
under the source's schema."""

from __future__ import annotations

import os
from datetime import datetime
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from insight_de_smart_grid_spark.streaming.replay import (
    _stage_flush_sentinel,
)
from tests.conftest import SF_SMOKE

# the max ts sits in the second row group, on a row with a NULL value
ROWS = [
    (1, datetime(2024, 1, 1, 0, 0), 7, "click", 1.5, "a"),
    (2, datetime(2024, 1, 1, 0, 30), 8, "view", 2.5, "b"),
    (3, datetime(2024, 1, 1, 1, 0), 9, "purchase", None, "c"),
    (4, datetime(2024, 1, 1, 0, 10), 7, None, 4.0, "d"),
]
# the copied row 3, one hour later
SENTINEL = (3, "2024-01-01 02:00:00", -1, "purchase", 0.0, "c")


def _write_source(d: Path, form: str) -> Path:
    unit = "us" if form == "stats" else "ns"
    cols = list(zip(*ROWS))
    tbl = pa.table({
        "event_id": pa.array(cols[0], pa.int64()),
        "ts": pa.array(cols[1], pa.timestamp(unit)),
        "user_id": pa.array(cols[2], pa.int64()),
        "event_type": pa.array(cols[3], pa.string()),
        "value": pa.array(cols[4], pa.float64()),
        "props": pa.array(cols[5], pa.string()),
    })
    d.mkdir()
    path = d / "part-0.parquet"
    if form == "stats":
        pq.write_table(tbl, path, row_group_size=2)
    else:
        pq.write_table(tbl, path, row_group_size=2,
                       use_deprecated_int96_timestamps=True,
                       write_statistics=False)
    ts = pq.read_metadata(path).row_group(1).column(1)
    assert (ts.statistics is not None) == (form == "stats")
    return path


@pytest.mark.parametrize("form", ["stats", "int96"])
@pytest.mark.parametrize("all_types", [False, True])
def test_sentinel_rows(spark, tmp_path, form, all_types):
    src = _write_source(tmp_path / "src", form)
    _stage_flush_sentinel(str(tmp_path / "src"), 3600, all_types=all_types)
    sentinel = tmp_path / "src" / "zz_flush_sentinel.parquet"

    # it reads back under the source's schema, INT96 included
    df = spark.read.parquet(str(sentinel))
    assert df.schema == spark.read.parquet(str(src)).schema
    got = sorted(
        (tuple(r) for r in df.selectExpr(
            "event_id", "CAST(ts AS STRING)", "user_id", "event_type",
            "value", "props").collect()),
        key=lambda t: (t[3] is None, t[3] or ""))
    types = ["click", "purchase", "view", None] if all_types \
        else ["purchase"]
    assert got == [SENTINEL[:3] + (t,) + SENTINEL[4:] for t in types]
    assert os.stat(sentinel).st_mtime > os.stat(src).st_mtime


def test_arrow_sentinel_raises_without_ts_column(spark, tmp_path):
    d = tmp_path / "staged"
    d.mkdir()
    (d / "nation.parquet").symlink_to(f"{SF_SMOKE}/nation.parquet")
    with pytest.raises(Exception):
        _stage_flush_sentinel(str(d), 3600)
