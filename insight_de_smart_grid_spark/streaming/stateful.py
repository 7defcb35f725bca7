"""Custom stateful streaming operator: per-appliance EWMA smoothing.

The reference has no custom stateful operator (its only state is the built-in
windowed aggregation, SURVEY §2.7 ST3); this is the extension shape for
operators Spark's built-ins can't express — a *recursive* per-key computation
(EWMA depends on the previous row's output) has no window-function or
streaming-agg form, so it runs as an Arrow-batched stateful map with explicit
GroupState.

Vectorization design (this is the hot path — a naive one-Arrow-crossing-per-
key layout costs ~2 ms per key, which is minutes per million keys):

* Batch (``ewma_batch``): hash-repartition on the key, sort within partitions
  by (key, ts), then ``mapInPandas``. Each Arrow batch holds *many whole
  groups*, smoothed in one Cython call via ``groupby(...).ewm(adjust=False)``;
  only the single group that may span a batch boundary is seeded by carrying
  its last EWMA forward (sorted input ⇒ at most one spanning group per
  boundary). Memory stays bounded by the Arrow batch size, never the
  partition size, so the same plan holds at 100 TB.
* Streaming (``ewma_stream``): ``applyInPandasWithState`` must group by the
  state key, so we key state by ``house_id`` only and carry the per-appliance
  EWMAs as parallel arrays in the state row. One Arrow crossing per *house*
  per micro-batch smooths every appliance of that house vectorized.

``pd.Series.ewm(alpha, adjust=False).mean()`` computes exactly the recurrence
``y_i = alpha*x_i + (1-alpha)*y_{i-1}`` with ``y_0 = x_0``; seeding with
carried state is "prepend prev, drop the first output", which reproduces the
recurrence bit-for-bit (verified against the scalar loop) — so batch ≡ stream
≡ restarted-stream to full float precision.

Scale notes: state per key is one scalar per appliance — KBs per million
keys; one shuffle on the key, Arrow both ways, Cython inside. Use the
RocksDB state store provider for 100 TB keyspaces.

Ordering contract: EWMA is order-sensitive; rows are sorted by event time
*within* each micro-batch, but a row arriving in a later batch with an
earlier timestamp is smoothed out of order (the operator has no retraction).
Feed it a per-key-ordered stream — Kafka keyed by house_id gives exactly
that (SURVEY ST7) — or widen micro-batches until order holds.
"""

from __future__ import annotations

from typing import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

KEYS = ("house_id", "appliance_id")
OUT_COLS = ["house_id", "appliance_id", "ts", "power", "ewma"]
OUT_SCHEMA = ("house_id string, appliance_id string, ts timestamp, "
              "power double, ewma double")
# state keyed by house_id: parallel arrays of appliance -> last ewma
STATE_SCHEMA = "appliance_ids array<string>, ewmas array<double>"


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
    """Streaming form: state keyed by house_id carries one EWMA per
    appliance; each micro-batch smooths all of a house's appliances in one
    vectorized call, so the carried state makes the stream equal the batch
    run over the concatenated input."""
    def fn(key: tuple, pdfs: Iterable[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        if state.exists:
            ids, ewmas = state.get
            carried = dict(zip(ids, ewmas))
        else:
            carried = {}
        pdf = (pd.concat(list(pdfs), ignore_index=True)
               .sort_values(["appliance_id", "ts"], kind="stable")
               .reset_index(drop=True))
        parts = []
        for app_id, grp in pdf.groupby("appliance_id", sort=False):
            ewma = _ewm_seeded(grp["power"].reset_index(drop=True),
                               alpha, carried.get(app_id))
            parts.append(grp.assign(ewma=ewma.to_numpy()))
            carried[app_id] = float(ewma.iloc[-1])
        out = pd.concat(parts, ignore_index=True)
        state.update((list(carried.keys()), list(carried.values())))
        yield out[OUT_COLS]

    prepared = readings_stream.selectExpr(
        *KEYS, "ts", "cast(power as double) as power")
    return prepared.groupBy("house_id").applyInPandasWithState(
        fn, OUT_SCHEMA, STATE_SCHEMA, "append",
        GroupStateTimeout.NoTimeout)
