"""Custom stateful streaming: the one keyed-state driver, and EWMA smoothing.

The reference has no custom stateful operator (its only state is the built-in
windowed aggregation, SURVEY §2.7 ST3); this is the extension shape for
operators Spark's built-ins can't express — a *recursive* per-key computation
(EWMA depends on the previous row's output, a gap fill on the last closed
bucket) has no window-function or streaming-agg form, so it runs as an
Arrow-batched stateful map.

``keyed_state`` is the one driver for every such per-key state machine
(EWMA here; gap fill, interpolation, counter deltas and SCD2 in
``gap_fill_stream``; the CEP automaton in ``stream_ops``). Bucket layout:

* Grouping: ``applyInPandasWithState`` groups by
  ``pmod(xxhash64(keys), N_BUCKETS)``, not by the key. Grouping by the key
  pays one Arrow crossing per key per micro-batch (~2 ms each: minutes per
  million keys); a bucket pays one per bucket.
* State: a bucket's state row holds its keys and each state field as
  parallel arrays (key i's state is element i of every array). The whole
  row is rewritten every micro-batch that touches the bucket.
* Per micro-batch, one pandas pass per bucket: concatenate the bucket's
  frames, convert timestamp columns to int64 microseconds, apply the
  operator's optional per-bucket ``prepare`` (e.g. an hourly sum/count),
  stable-sort by (keys, order columns), find key boundaries with numpy,
  then call the operator's plain-Python ``step(cols, state) -> (state,
  rows)`` on each key's slice. ``cols`` maps a column to that key's values
  as a list; ``rows`` are tuples of the non-key output columns, with
  timestamps as int64 microseconds. The driver prepends the key columns and
  converts timestamps vectorized, one output frame per bucket.
* Each ``step`` owns its operator's rules: which rows are late, the tie
  order (its order columns), and rounding. The driver only moves data.

``N_BUCKETS`` is a constant, not derived from the shuffle width: a restart
restores the width from the checkpoint, but not a modulus baked into the
plan, so a derived modulus would send keys away from their state.

EWMA: ``pd.Series.ewm(alpha, adjust=False).mean()`` computes exactly the
recurrence ``y_i = alpha*x_i + (1-alpha)*y_{i-1}`` with ``y_0 = x_0``;
seeding with carried state is "prepend prev, drop the first output", which
reproduces the recurrence bit-for-bit (verified against the scalar loop) —
so batch ≡ stream ≡ restarted-stream to full float precision.

* Batch (``ewma_batch``): hash-repartition on the key, sort within partitions
  by (key, ts), then ``mapInPandas``. Each Arrow batch holds *many whole
  groups*, smoothed in one Cython call via ``groupby(...).ewm(adjust=False)``;
  only the single group that may span a batch boundary is seeded by carrying
  its last EWMA forward (sorted input ⇒ at most one spanning group per
  boundary). Memory stays bounded by the Arrow batch size, never the
  partition size, so the same plan holds at 100 TB.
* Streaming (``ewma_stream``): ``keyed_state`` keyed by (house, appliance),
  carrying one EWMA per key.

Scale notes: state per key is a few scalars; SCALE.md gives the measured
state bytes per batch. Use the RocksDB state store provider for keyspaces
whose bucket rows outgrow the executor heap.

Ordering contract: EWMA is order-sensitive; rows are sorted by event time
*within* each micro-batch, but a row arriving in a later batch with an
earlier timestamp is smoothed out of order (the operator has no retraction).
Feed it a per-key-ordered stream — Kafka keyed by house_id gives exactly
that (SURVEY ST7) — or widen micro-batches until order holds.
"""

from __future__ import annotations

from typing import Callable, Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

# Hash buckets of the key, one state row each. At sf0.1 (1,500 users) 64
# buckets hold 57-96 KB of state in all (ewma's 6,000 keys: 370 KB), where
# one row per key held 290-540 KB, and a batch makes at most 64 Arrow
# crossings instead of one per key (SCALE.md). Fixed, because a restart
# restores the shuffle width from its checkpoint but not a modulus derived
# from the data: keys would hash away from their state.
N_BUCKETS = 64

KEYS = ("house_id", "appliance_id")
OUT_COLS = ["house_id", "appliance_id", "ts", "power", "ewma"]
OUT_SCHEMA = ("house_id string, appliance_id string, ts timestamp, "
              "power double, ewma double")

_PY = {"bigint": int, "long": int, "int": int, "double": float,
       "boolean": bool, "string": str}


def _fields(ddl: str) -> list[tuple[str, str]]:
    return [tuple(f.split()) for f in ddl.split(",")]


def keyed_state(stream: DataFrame, key_cols: tuple[str, ...],
                value_cols: tuple[str, ...], order_cols: tuple[str, ...],
                state_fields: str, out_schema: str, init: tuple,
                step: Callable, prepare: Callable | None = None
                ) -> DataFrame:
    """Run ``step`` as a per-key state machine over ``stream`` in append
    mode, with keys hashed into ``N_BUCKETS`` state rows (module docstring
    has the layout). ``state_fields`` is the per-key state DDL and
    ``init`` a new key's state; ``out_schema`` starts with one column per
    key column. ``prepare(pdf) -> pdf`` optionally reshapes a bucket's rows
    (timestamps already in microseconds) before the sort."""
    keys = list(key_cols)
    key_types = [stream.schema[k].dataType.simpleString() for k in keys]
    fields = _fields(state_fields)
    state_schema = ", ".join(
        [f"k{i} array<{t}>" for i, t in enumerate(key_types)]
        + [f"{n} array<{t}>" for n, t in fields])
    key_casts = [_PY[t] for t in key_types]
    casts = [_PY[t] for _, t in fields]
    out = _fields(out_schema)
    key_out = [n for n, _ in out[:len(keys)]]
    row_cols = [n for n, _ in out[len(keys):]]
    ts_in = [c for c in value_cols
             if stream.schema[c].dataType.typeName() == "timestamp"]
    ts_out = [n for n, t in out[len(keys):] if t == "timestamp"]

    def fn(_bucket: tuple, pdfs: Iterable[pd.DataFrame],
           gstate: GroupState) -> Iterator[pd.DataFrame]:
        pdf = pd.concat(list(pdfs), ignore_index=True).drop(columns="bucket")
        if pdf.empty:
            return
        for c in ts_in:
            pdf[c] = pdf[c].to_numpy("datetime64[us]").view("int64")
        if prepare is not None:
            pdf = prepare(pdf)
        pdf = pdf.sort_values(keys + list(order_cols), kind="stable")
        karr = [pdf[k].to_numpy() for k in keys]
        change = np.zeros(len(pdf), dtype=bool)
        change[0] = True
        for a in karr:
            change[1:] |= a[1:] != a[:-1]
        starts = np.flatnonzero(change)
        ends = np.append(starts[1:], len(pdf))
        first = [[None if v is None or v != v else cast(v)
                  for v in a[starts].tolist()]
                 for a, cast in zip(karr, key_casts)]
        carried = (dict(zip(zip(*gstate.get[:len(keys)]),
                            zip(*gstate.get[len(keys):])))
                   if gstate.exists else {})
        lists = {c: pdf[c].tolist() for c in pdf.columns if c not in keys}
        rows, counts = [], []
        for key, s, e in zip(zip(*first), starts.tolist(), ends.tolist()):
            carried[key], emitted = step(
                {c: v[s:e] for c, v in lists.items()},
                carried.get(key, init))
            rows.extend(emitted)
            counts.append(len(emitted))
        gstate.update(tuple(
            [list(c) for c in zip(*carried)]
            + [[cast(v) for v in col]
               for cast, col in zip(casts, zip(*carried.values()))]))
        if rows:
            res = pd.DataFrame.from_records(rows, columns=row_cols)
            for i, (name, a) in enumerate(zip(key_out, karr)):
                res.insert(i, name, np.repeat(a[starts], counts))
            for c in ts_out:
                res[c] = pd.to_datetime(res[c], unit="us")
            yield res

    bucket = F.pmod(F.xxhash64(*keys), F.lit(N_BUCKETS)).alias("bucket")
    return (stream.select(*keys, *value_cols, bucket).groupBy("bucket")
            .applyInPandasWithState(fn, out_schema, state_schema, "append",
                                    GroupStateTimeout.NoTimeout))


def _ewm_seeded(powers: pd.Series, alpha: float,
                prev: float | None) -> pd.Series:
    """EWMA recurrence over an ordered series, optionally seeded with the
    carried previous value (prepend-then-drop keeps the exact recurrence)."""
    if prev is None:
        return powers.ewm(alpha=alpha, adjust=False).mean()
    seeded = pd.concat([pd.Series([prev]), powers], ignore_index=True)
    return (seeded.ewm(alpha=alpha, adjust=False).mean()
            .iloc[1:].reset_index(drop=True))


def _smooth_sorted(pdf: pd.DataFrame, alpha: float,
                   group_cols: list[str]) -> pd.DataFrame:
    """Vectorized EWMA for a frame already sorted by (group_cols, ts):
    one Cython pass over all groups."""
    ewma = (pdf.groupby(group_cols, sort=False)["power"]
            .ewm(alpha=alpha, adjust=False).mean())
    ewma.index = ewma.index.get_level_values(-1)  # back to row labels
    return pdf.assign(ewma=ewma)


def ewma_batch(readings: DataFrame, alpha: float = 0.3) -> DataFrame:
    """Batch form: co-locate each key's rows, sort once in the shuffle, then
    smooth whole Arrow batches at a time, seeding the one group that may
    span a batch boundary."""
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        carry_key: tuple | None = None
        carry_ewma: float | None = None
        for pdf in batches:
            if pdf.empty:
                continue
            pdf = pdf.reset_index(drop=True)
            out = _smooth_sorted(pdf, alpha, list(KEYS))
            first_key = tuple(pdf.iloc[0][list(KEYS)])
            if carry_key == first_key:
                # re-smooth the spanning group's prefix with the seed
                mask = ((pdf["house_id"] == first_key[0])
                        & (pdf["appliance_id"] == first_key[1]))
                idx = out.index[mask]
                out.loc[idx, "ewma"] = _ewm_seeded(
                    pdf.loc[idx, "power"].reset_index(drop=True),
                    alpha, carry_ewma).to_numpy()
            last = out.iloc[-1]
            carry_key = (last["house_id"], last["appliance_id"])
            carry_ewma = float(last["ewma"])
            yield out[OUT_COLS]

    prepared = readings.selectExpr(
        *KEYS, "ts", "cast(power as double) as power")
    co_located = (prepared
                  .repartition(*[F.col(k) for k in KEYS])
                  .sortWithinPartitions(*KEYS, "ts"))
    return co_located.mapInPandas(fn, OUT_SCHEMA)


def ewma_stream(readings_stream: DataFrame, alpha: float = 0.3) -> DataFrame:
    """Streaming form: ``keyed_state`` carries each (house, appliance)'s
    last EWMA and seeds the next micro-batch's recurrence with it, so the
    stream equals the batch run over the concatenated input."""
    def step(cols: dict, state: tuple) -> tuple:
        ewma = _ewm_seeded(pd.Series(cols["power"], dtype="float64"),
                           alpha, state[0]).tolist()
        return (ewma[-1],), list(zip(cols["ts"], cols["power"], ewma))

    prepared = readings_stream.selectExpr(
        *KEYS, "ts", "cast(power as double) as power")
    return keyed_state(prepared, KEYS, ("ts", "power"), ("ts",),
                       "ewma double", OUT_SCHEMA, (None,), step)
