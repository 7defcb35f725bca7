"""The per-key streaming state machines across micro-batches and restarts,
and the guard that keeps their ``applyInPandasWithState`` wiring in one
driver.

Each case replays the first half of the sf0.01 events (split at the median
``ts``, so equal timestamps stay in one half), appends the second half to
the source dir, and replays again on the same checkpoint: the second run
sees only the new file and must continue from the carried state. The
combined sink must equal the query's registered oracle over all events.
For the two operators with a strict late-row rule, the second half also
carries one planted row older than its key's carried state; it must drop,
which the oracle comparison shows (the oracle never sees it). The CEP
case plants one chain that straddles the restart, under a user of its
own, and checks that row apart from the oracle's.
"""

from __future__ import annotations

import ast
from datetime import timedelta
from pathlib import Path

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from insight_de_smart_grid_spark import session
from insight_de_smart_grid_spark.plans.registry import QUERIES
from insight_de_smart_grid_spark.sources.tables import (
    events_to_readings,
    normalize_event_ts,
)
from insight_de_smart_grid_spark.streaming.gap_fill_stream import (
    counter_deltas_stream,
    gap_fill_stream,
    interpolate_stream,
    scd2_stream,
)
from insight_de_smart_grid_spark.streaming.replay import replay_parquet_stream
from insight_de_smart_grid_spark.streaming.stateful import ewma_stream
from insight_de_smart_grid_spark.streaming.stream_ops import (
    sequence_detect_stream,
)
from tests.conftest import SF_ORACLE
from tests.oracle import compare

PLANS = {
    "streaming_gap_fill": lambda s: gap_fill_stream(normalize_event_ts(s)),
    "streaming_interpolate":
        lambda s: interpolate_stream(normalize_event_ts(s)),
    "streaming_counter_deltas":
        lambda s: counter_deltas_stream(normalize_event_ts(s)),
    "streaming_scd2": lambda s: scd2_stream(normalize_event_ts(s)),
    "streaming_sequence_detect":
        lambda s: sequence_detect_stream(normalize_event_ts(s)),
    "streaming_ewma": lambda s: ewma_stream(events_to_readings(s)),
}
PLANT_LATE = {"streaming_counter_deltas", "streaming_scd2"}


def split_at_median_ts(events: pa.Table) -> tuple[pa.Table, pa.Table]:
    ts = events.column("ts")
    median = pc.sort_indices(events, sort_keys=[("ts", "ascending")])[
        events.num_rows // 2]
    cut = ts[median.as_py()]
    return (events.filter(pc.less_equal(ts, cut)),
            events.filter(pc.greater(ts, cut)))


def with_values(row: pa.Table, **values) -> pa.Table:
    """``row`` with the named columns replaced, types kept."""
    for name, value in values.items():
        i = row.schema.get_field_index(name)
        field = row.schema.field(i)
        row = row.set_column(i, field, pa.array([value], field.type))
    return row


def late_row(first: pa.Table) -> pa.Table:
    """A copy of some user's earliest first-half row, with a fresh id, a
    changed type and value: older than that user's carried state."""
    by_user = first.group_by("user_id").aggregate(
        [("ts", "min"), ("ts", "max")])
    older = by_user.filter(pc.less(by_user["ts_min"], by_user["ts_max"]))
    user, ts = older["user_id"][0], older["ts_min"][0]
    row = first.filter(pc.and_(pc.equal(first["user_id"], user),
                               pc.equal(first["ts"], ts))).slice(0, 1)
    return with_values(
        row, event_id=pc.max(first["event_id"]).as_py() + 10**9,
        event_type="late_" + row["event_type"][0].as_py(),
        value=row["value"][0].as_py() + 12345.0)


def straddling_chain(first: pa.Table, second: pa.Table):
    """A click and a view at the end of the first half and a purchase at
    the start of the second, for a user of its own: the chain fires only
    if the armed state survives the restart. The sf0.01 events have no
    chain of their own, so without it the sequence case checks nothing."""
    user = pc.max(first["user_id"]).as_py() + 1
    next_id = pc.max(first["event_id"]).as_py() + 10**9
    cut = pc.max(first["ts"]).as_py()
    ts = {"click": cut - timedelta(minutes=2),
          "view": cut - timedelta(minutes=1),
          "purchase": cut + timedelta(minutes=1)}
    rows = {t: with_values(first.slice(0, 1), user_id=user, event_type=t,
                           ts=v, event_id=next_id + i)
            for i, (t, v) in enumerate(ts.items())}
    return (pa.concat_tables([first, rows["click"], rows["view"]]),
            pa.concat_tables([rows["purchase"], second]),
            (user, ts["purchase"], ts["view"], ts["click"]))


@pytest.mark.parametrize("name", sorted(PLANS))
def test_state_carries_across_batches_and_restart(spark, duck, tmp_path,
                                                  name):
    first, second = split_at_median_ts(
        pq.read_table(f"{SF_ORACLE}/events.parquet"))
    assert first.num_rows and second.num_rows
    chain = None
    if name in PLANT_LATE:
        second = pa.concat_tables([late_row(first), second])
    if name == "streaming_sequence_detect":
        first, second, chain = straddling_chain(first, second)
    src = tmp_path / "src"
    src.mkdir()

    def replay():
        return replay_parquet_stream(
            spark, str(src), PLANS[name],
            checkpoint_dir=str(tmp_path / "ck"),
            out_dir=str(tmp_path / "sink"))

    pq.write_table(first, src / "part-0.parquet")
    replay()
    pq.write_table(second, src / "part-1.parquet")
    out = replay()
    if chain:
        planted = out.where(F.col("user_id") == chain[0])
        assert [tuple(r) for r in planted.select(
            "user_id", "purchase_ts", "view_ts", "click_ts").collect()] \
            == [chain]
        out = out.where(F.col("user_id") != chain[0])
    compare(out, duck, QUERIES[name].sql)


def test_pandas_state_wiring_lives_in_the_driver():
    """``applyInPandasWithState`` is called only by
    ``streaming/stateful.keyed_state`` and by the day-keyed event-time
    timeout in ``streaming/sketch_stream.py``; every other per-key state
    machine is a ``step`` the driver runs."""
    package = Path(session.__file__).parent
    sites = set()
    for f in sorted(package.rglob("*.py")):
        for top in ast.parse(f.read_text()).body:
            sites.update((f.name, getattr(top, "name", None))
                         for node in ast.walk(top)
                         if isinstance(node, ast.Attribute)
                         and node.attr == "applyInPandasWithState")
    assert sites == {("stateful.py", "keyed_state"),
                     ("sketch_stream.py", "kmv_daily_stream")}
