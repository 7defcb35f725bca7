"""Generic sliding-window aggregation under Structured Streaming, with the
pane-decomposed chained-stateful form — the streaming twin of
``operators/sliding.py``. The two modules are the one pane engine; every
sliding query, the duty cycle included, is an aggregate over it:

    form     batch (operators/sliding.py)  stream (this module)
    explode  sliding_agg(panes=False)      sliding_agg_stream_plan(panes=False)
    panes    sliding_agg(panes=True)       sliding_agg_stream_plan(panes=True)
    auto     sliding_agg(panes="auto")     run_sliding_stream(panes="auto")

The pane form is two CHAINED stateful aggregations in append mode
(Spark 3.4+ multiple stateful operators): a tumbling slide-width pane
aggregate ingests each event ONCE into state, then a sliding window over
the pane's window column folds the pane partials (sum-of-sums,
min-of-mins, count-as-sum; avg derived as exact sum/count). State input
of the second operator is bounded by #keys x #panes — aggregated
cardinality, not event cardinality. The append-mode flush cascades
through both operators in the final no-data micro-batch: a window's
panes all end at or before the window's end, so a finalized window always
has its full pane set and the rows equal the explode form's.
``run_sliding_stream`` is the one replay runner for every plan built here.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from insight_de_smart_grid_spark.operators.sliding import (
    combine_exprs,
    expand_needed,
    final_exprs,
    partial_exprs,
    probe_kwargs,
    use_panes,
)
from insight_de_smart_grid_spark.streaming.replay import (
    replay_parquet_stream,
)


def sliding_agg_stream_plan(stream: DataFrame,
                            window: str = "10 minutes",
                            slide: str = "2 minutes",
                            watermark: str = "2 seconds",
                            aggs: tuple = (("sum_value", "sum", "value"),),
                            keys: tuple = ("user_id",),
                            time_col: str = "ts",
                            panes: bool = True) -> DataFrame:
    """Streaming sliding aggregation plan; ``panes=True`` = the chained
    two-operator pane form, ``panes=False`` = the single-operator explode
    form (``slide=None`` makes it tumbling). Both emit (time_end, *keys,
    *outs) in append mode once the watermark finalizes a window. The
    aggregate surface is the full ``operators.sliding._DERIVED`` algebra
    (round-8): variance/stddev via sum-of-squares partials, sliding
    COUNT(DISTINCT) via KMV (bit-exact pane merge) or DataSketches HLL
    (register-merge union) — the second stateful operator's state input
    stays bounded by #keys x #panes for every one of them."""
    needed = expand_needed(aggs)
    wm = stream.withWatermark(time_col, watermark)
    if panes:
        pane = (wm.groupBy(F.window(F.col(time_col), slide).alias("pane"),
                           *[F.col(k) for k in keys])
                .agg(*partial_exprs(needed)))
        agg = (pane.groupBy(F.window(F.col("pane"), window, slide)
                            .alias("window"), *[F.col(k) for k in keys])
               .agg(*combine_exprs(needed)))
    else:
        agg = (wm.groupBy(F.window(F.col(time_col), window, slide)
                          .alias("window"), *[F.col(k) for k in keys])
               .agg(*partial_exprs(needed, alias="__c")))
    return agg.select(
        F.col("window.end").alias("time_end"), *keys, *final_exprs(aggs))


def run_sliding_stream(spark: SparkSession, parquet_path: str,
                       plan: Callable[..., DataFrame],
                       prep: Callable[[DataFrame], DataFrame],
                       panes: "bool | str" = False,
                       checkpoint_dir: str | None = None,
                       out_dir: str | None = None,
                       flush_sentinel: bool = True,
                       progress_out: "list | None" = None,
                       **plan_kwargs) -> DataFrame:
    """Replay a parquet table through a sliding streaming ``plan``
    (``sliding_agg_stream_plan`` or ``duty_cycle_stream_plan``) with
    ``availableNow`` into the replay's parquet sink; returns the
    finalized append-mode result as a batch DataFrame.

    ``prep`` is the stateless map from the raw stream to the plan's
    input: ``events_to_readings`` for the duty cycle, ``normalize_event_ts``
    (plus, for the quantile family, its bin projection) for the events
    aggregates. It must not add stateful operators. In production the
    source would be ``readStream.format("kafka")`` (S1); file-in/parquet-out
    keeps the identical plan testable without brokers.

    ``panes`` is the batch engine's choice (``sliding.use_panes``), made
    once before the stream starts: ``True`` runs the chained-stateful
    pane plan whenever the window splits into whole slide panes;
    ``"auto"`` runs the density probe over the SAME bounded parquet input
    — an unbounded live stream can't be probed, but this is the ST5
    scheduled micro-batch mode, where the input is exactly the history
    the probe should read (a live deployment probes yesterday's table).
    The probe's window, slide, time column and keys fall back to the
    plan's own signature defaults, so it always measures the pane width
    the plan executes. ``flush_sentinel`` finalizes every real window
    (``replay_parquet_stream``); without it append mode withholds the
    windows the watermark has not passed. ``progress_out`` collects the
    drained query's progress objects (state-operator metrics)."""
    from insight_de_smart_grid_spark.sources.pq import read_parquet

    pk = probe_kwargs(plan, plan_kwargs)
    panes = use_panes(panes, pk["window"], pk["slide"],
                      lambda: prep(read_parquet(spark, parquet_path)),
                      pk["time_col"], pk["keys"])
    return replay_parquet_stream(
        spark, parquet_path,
        lambda stream: plan(prep(stream), panes=panes, **plan_kwargs),
        checkpoint_dir=checkpoint_dir, out_dir=out_dir,
        flush_sentinel=flush_sentinel,
        progress_out=progress_out)
