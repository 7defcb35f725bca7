"""Generic sliding-window aggregation under Structured Streaming, with the
pane-decomposed chained-stateful form — the streaming twin of
``operators/sliding.py`` (round-7), completing the symmetry:

    batch explode  <->  batch panes      (operators/sliding.py)
    stream explode <->  stream panes     (this module)

The pane form is two CHAINED stateful aggregations in append mode
(Spark 3.4+ multiple stateful operators, the
``duty_cycle_stream_panes_plan`` pattern): a tumbling slide-width pane
aggregate ingests each event ONCE into state, then a sliding window over
the pane's window column folds the pane partials (sum-of-sums,
min-of-mins, count-as-sum; avg derived as exact sum/count). State input
of the second operator is bounded by #keys x #panes — aggregated
cardinality, not event cardinality.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from insight_de_smart_grid_spark.operators.sliding import (
    combine_exprs,
    expand_needed,
    final_exprs,
    partial_exprs,
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
    form. Both emit (time_end, *keys, *outs) in append mode once the
    watermark finalizes a window. The aggregate surface is the full
    ``operators.sliding._DERIVED`` algebra (round-8): variance/stddev
    via sum-of-squares partials, sliding COUNT(DISTINCT) via KMV
    (bit-exact pane merge) or DataSketches HLL (register-merge union) —
    the second stateful operator's state input stays bounded by
    #keys x #panes for every one of them."""
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


def run_sliding_stats_stream(spark: SparkSession, parquet_path: str,
                             checkpoint_dir: str | None = None,
                             out_dir: str | None = None,
                             flush_sentinel: bool = True,
                             progress_out: "list | None" = None,
                             panes: "bool | str" = True,
                             pre=None,
                             **plan_kwargs) -> DataFrame:
    """Replay an events-shaped parquet table through the streaming sliding
    aggregation (normalizing the nanos/NTZ ts like the other replays) and
    return the finalized append-mode result. ``panes="auto"`` probes the
    bounded replay input with the shared density probe (the ST5
    scheduled-micro-batch mode can be probed; a live stream can't — probe
    yesterday's history instead), same contract as the duty-cycle runner."""
    from insight_de_smart_grid_spark.operators.duty_cycle import (
        probe_kwargs,
        use_panes,
    )
    from insight_de_smart_grid_spark.sources.pq import read_parquet
    from insight_de_smart_grid_spark.sources.tables import normalize_event_ts

    # ``pre``: optional narrow (stateless) transform applied between ts
    # normalization and the stateful plan — e.g. the quantile family's
    # bin projection, whose (lo, width) literals come from static stats
    # (a bounded-replay batch pass here; catalog column stats at cluster
    # scale). Must not add stateful operators.
    pre = pre or (lambda s: s)

    def probe():
        return pre(normalize_event_ts(read_parquet(spark, parquet_path)))

    # fallbacks from the plan's own signature defaults (advisory): the
    # probe always measures the pane width the plan will execute
    pk = probe_kwargs(sliding_agg_stream_plan, plan_kwargs)
    panes = use_panes(panes, pk["window"], pk["slide"], probe,
                      pk["time_col"], pk["keys"])
    return replay_parquet_stream(
        spark, parquet_path,
        lambda stream: sliding_agg_stream_plan(
            pre(normalize_event_ts(stream)), panes=panes, **plan_kwargs),
        checkpoint_dir=checkpoint_dir, out_dir=out_dir,
        flush_sentinel=flush_sentinel,
        progress_out=progress_out)
