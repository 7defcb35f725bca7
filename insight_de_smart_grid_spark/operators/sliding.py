"""Generic sliding-window aggregation with optional pane decomposition,
for ANY algebraic aggregate: the one pane engine. The duty-cycle flagship
(operators/duty_cycle.py, reference
``stream_processing/duty_cycle_avro.py:75-79``) is two of its counts and
their ratio.

Spark's sliding ``window()`` explodes every event into window/slide
copies before the partial aggregate. Any aggregate that is a semigroup
fold decomposes over epoch-aligned slide-width PANES ("No pane, no
gain", Li et al. SIGMOD Record '05): one tumbling pane aggregate touches
each event once, then the explode runs over the aggregated pane
cardinality (bounded by #keys x #panes) and a tiny combine folds
window/slide pane partials per window. Pane [b, b+S) lies wholly inside
each of its windows, so min-of-pane-mins IS the window min,
sum-of-pane-sums the window sum — row-identical to the explode form
(floating-point sums are combined in a different order, which is why the
registered queries round like every other double aggregate in this repo).

Round-8 extends the decomposable algebra beyond sum/count/min/max/avg to
every remaining mergeable-partial aggregate the repo ships:

- ``var_samp`` / ``stddev_samp`` — sum-of-squares partials
  (sum, sum(x^2), count are each semigroup folds; the final combine is
  the textbook (ss - s^2/n)/(n-1), identical in both forms and stated
  verbatim in the DuckDB oracle);
- ``kmv_distinct`` — K-minimum-values distinct count
  (``operators/sketches.py`` family): a pane's k smallest distinct
  portable md5 hashes merge by union->distinct->k-smallest, and any
  window-distinct hash among the k smallest of its window is among the
  k smallest of its pane, so the pane merge is EXACT — pane and explode
  forms are bit-identical, and the md5 hash family makes the *estimate
  itself* value-checkable in DuckDB;
- ``approx_distinct`` — Apache DataSketches HLL (build
  ``hll_sketch_agg``, merge ``hll_union_agg``, read
  ``hll_sketch_estimate``). Sketch union is a register merge, so the
  pane form is the scale path for a sliding COUNT(DISTINCT) at 1 Hz
  meter density; the ESTIMATE of a union can differ from the estimate
  of a directly-built sketch (DataSketches switches estimators after a
  merge), so HLL sliding queries register with the exact-twin-in-plan
  ``within_tol`` pattern (``rollup_hll_distinct``), never a raw-value
  oracle.

The pane choice lives here too, one decision for batch and stream
(``use_panes``): ``panes=True`` takes the pane form whenever the window
splits into whole slide panes, ``panes="auto"`` only at or above the
measured density crossover (``pane_density``), explode below.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from insight_de_smart_grid_spark.operators.sketches import (
    _KMV_SCALE,
    kmv_estimate,
)

SLIDING_KMV_K = 64     # k-minimum-values sketch size for kmv_distinct
SLIDING_HLL_LGK = 12   # DataSketches lg_k for approx_distinct

_UNIT_SECONDS = {"second": 1, "seconds": 1, "minute": 60, "minutes": 60,
                 "hour": 3600, "hours": 3600, "day": 86400, "days": 86400}


def _interval_seconds(spec: str) -> "int | None":
    """Whole seconds of a simple '<n> <unit>' interval string, else None
    (callers fall back to the generic window path)."""
    parts = spec.strip().lower().split()
    if len(parts) == 2 and parts[0].isdigit() and parts[1] in _UNIT_SECONDS:
        return int(parts[0]) * _UNIT_SECONDS[parts[1]]
    return None


# Measured crossover (SCALE.md, round-6 stress sweep): the pane form wins
# at ~10 events per (key, pane) (3.28 vs 3.80 s at x10 density; gap grows
# with density) and loses at ~1 (the pre-agg collapses nothing and pays a
# second shuffle). 4.0 sits between the two measured points: above it the
# hash-agg input cut pays for the extra combine with margin.
PANE_DENSITY_CROSSOVER = 4.0

# Default Bernoulli fraction the ``panes="auto"`` call sites hand the
# density probe (round-9, VERDICT r8 item 8: the sampled probe existed
# but auto still full-scanned). 0.05 keeps f*rho >= 0.1 at the 4.0
# crossover — the bound the Poisson inversion needs (pane_density
# docstring) — with 2x margin; a sample landing under
# ``min_sample_rows`` falls back to the full scan, so small corpora
# (where the full probe is cheaper than modeling) are unaffected.
PROBE_SAMPLE_FRACTION = 0.05

# Catalyst size estimate of the probe's NARROW projection below which
# the sampled path isn't attempted at all: under it, the 5% sample could
# not reach min_sample_rows, so trying would just pay a wasted sample
# job before the full-scan fallback (measured +0.5 s per auto query at
# sf0.1). 2 MiB of (ts, keys) columns is ~330k rows at the fixtures'
# ~6 B/row estimate — comfortably past min_sample_rows / fraction =
# 200k, and an order of magnitude under the stress corpora where the
# sampled probe earns its keep. The gate reads optimizedPlan().stats()
# (file-size based) — zero jobs.
SAMPLED_PROBE_MIN_BYTES = 2 * 1024 * 1024


def probe_kwargs(plan_fn, plan_kwargs: dict,
                 names: tuple[str, ...] = ("window", "slide", "time_col",
                                           "keys")) -> dict:
    """Resolve the probe's view of ``names`` from ``plan_kwargs``, falling
    back to ``plan_fn``'s OWN signature defaults — round-8 advisory: the
    streaming runners used to re-duplicate the plan functions' default
    window/slide literals, so a changed plan default would silently make
    the ``panes="auto"`` probe measure density for a different pane width
    than the plan executes."""
    import inspect

    params = inspect.signature(plan_fn).parameters
    return {n: plan_kwargs.get(n, params[n].default) for n in names}


def pane_density(readings: DataFrame, slide_seconds: int,
                 time_col: str = "ts",
                 keys: tuple[str, ...] = ("house_id", "appliance_id"),
                 sample_fraction: "float | None" = None,
                 min_sample_rows: int = 10_000) -> float:
    """One cheap probe job: average events per occupied (key, pane) —
    the quantity that decides explode-vs-pane (the hash-agg input cut is
    exactly this density). Same pattern as ``knn_graph``'s duplicate
    probe: a narrow plan-build-time aggregation whose cost is one corpus
    scan with an HLL sketch, no shuffle of the wide rows.

    ``approx_count_distinct`` (HLL++, ~2% rse) estimates the occupied
    (key, pane) group count; the pane index is integer epoch arithmetic,
    not ``window()``, so nothing explodes in the probe itself.

    ``sample_fraction`` (round-8, the docstring's own cluster-scale
    fallback made real): probe a Bernoulli row sample instead of the
    full corpus. A row sample BIASES the naive n/g ratio — unsampled
    events shrink n proportionally but a group only leaves g when ALL
    its events are unsampled — so the observed sample density m relates
    to the true density rho by m = f*rho / (1 - exp(-f*rho)) under a
    Poisson group-size model; the probe inverts that (fixed point
    x = m*(1 - e^-x), x = f*rho), which is exact in expectation for
    Poisson-sized cells and errs toward the TRUE side of the crossover
    for the two measured regimes (pinned at 19.1 and 0.94 events/cell
    in tests/test_scale_stress.py). Error bound: the inversion needs
    f*rho >~ 0.1 at the decision point to separate m from 1, i.e.
    sample_fraction >= ~0.025 for the measured crossover of 4.0 — and a
    sample landing under ``min_sample_rows`` rows falls back to the
    full probe (a corpus that small is cheaper to scan than to model)."""
    if sample_fraction and 0.0 < sample_fraction < 1.0 \
            and _probe_input_bytes(readings, time_col, keys) \
            >= SAMPLED_PROBE_MIN_BYTES:
        import math

        st = _probe_frame(readings, slide_seconds, time_col, keys,
                          sample_fraction).first()
        if st.n >= min_sample_rows:
            m = st.n / max(st.g, 1)
            x = m  # f*rho; fixed point of x = m*(1 - e^-x)
            for _ in range(60):
                x = m * (1.0 - math.exp(-x))
            return x / sample_fraction
        # sample too small to invert reliably -> full probe below
    stats = _probe_frame(readings, slide_seconds, time_col, keys).first()
    return stats.n / max(stats.g, 1)


def _probe_input_bytes(readings: DataFrame, time_col: str,
                       keys: tuple[str, ...]) -> int:
    """Catalyst's size estimate of the probe's narrow projection — the
    zero-job corpus-size gate for the sampled probe. File-size based
    (CBO row counts are usually absent), so it's a coarse bound; the
    in-probe min_sample_rows fallback remains the exact guard."""
    try:
        proj = readings.select(time_col, *keys)
        return int(str(proj._jdf.queryExecution().optimizedPlan()
                       .stats().sizeInBytes()))
    except Exception:
        # no stats (e.g. a local relation) -> let the sampled path try;
        # the min_sample_rows fallback still protects correctness
        return SAMPLED_PROBE_MIN_BYTES


def _probe_frame(readings: DataFrame, slide_seconds: int, time_col: str,
                 keys: tuple[str, ...],
                 sample_fraction: "float | None" = None) -> DataFrame:
    """The density probe's one-row aggregation, built lazily so plan
    tests can pin its shape: a narrow projection, optionally through a
    Bernoulli Sample node (never a shuffle of the wide rows), into
    count + HLL group estimate."""
    pane_idx = F.floor(F.unix_timestamp(F.col(time_col)) /
                       F.lit(slide_seconds))
    g_expr = F.approx_count_distinct(
        F.struct(pane_idx.alias("p"), *[F.col(k) for k in keys])).alias("g")
    base = readings.select(time_col, *keys)
    if sample_fraction:
        base = base.sample(fraction=sample_fraction, seed=7)
    return base.agg(F.count("*").alias("n"), g_expr)


def use_panes(panes: "bool | str", window: str, slide: "str | None",
              probe_frame: Callable[[], DataFrame], time_col: str,
              keys: tuple[str, ...]) -> bool:
    """The one explode-vs-panes decision, batch and streaming: panes
    only when the window splits into more than one whole slide pane, and
    for ``panes="auto"`` only when ``pane_density`` over
    ``probe_frame()`` reaches ``PANE_DENSITY_CROSSOVER``. The probe frame
    is built only when that measurement runs."""
    w_s = _interval_seconds(window)
    s_s = _interval_seconds(slide) if slide else None
    if not (panes and w_s and s_s and w_s % s_s == 0 and w_s != s_s):
        return False
    return panes != "auto" or pane_density(
        probe_frame(), s_s, time_col, keys,
        sample_fraction=PROBE_SAMPLE_FRACTION) >= PANE_DENSITY_CROSSOVER


def _kmv_hash(col: Column) -> Column:
    """Portable 60-bit hash: first 15 hex chars of md5 — bit-identical in
    DuckDB (``CAST(concat('0x', substring(md5(x),1,15)) AS BIGINT)``),
    the same family as ``operators/sketches.py``."""
    return (F.conv(F.substring(F.md5(col.cast("string")), 1, 15), 16, 10)
            .cast("long"))


def _kmv_partial(col: Column) -> Column:
    """k smallest distinct hashes within the group. Per-group state is the
    group's distinct-hash set — bounded by pane size in the pane form
    (a 2-minute pane holds <= 120 events at the reference's 1 Hz), which
    is what makes this safe as a STREAMING pane partial too."""
    return F.slice(F.array_sort(F.collect_set(_kmv_hash(col))),
                   1, SLIDING_KMV_K)


def _kmv_combine(partial: Column) -> Column:
    """Merge pane sketches: union -> distinct -> k smallest. Exact: any
    hash among a window's k smallest is among its own pane's k smallest
    (panes partition the window), so nothing the merge needs was pruned."""
    return F.slice(
        F.array_sort(F.array_distinct(F.flatten(F.collect_list(partial)))),
        1, SLIDING_KMV_K)


# partial kind -> (pane/window partial builder, pane-merge combiner).
# Each partial is a semigroup fold; the combiner merges pane partials
# into the window partial of the same kind.
_PARTIALS = {
    "sum": (F.sum, F.sum),
    "count": (F.count, F.sum),
    "min": (F.min, F.min),
    "max": (F.max, F.max),
    "sumsq": (lambda c: F.sum(c.cast("double") * c.cast("double")), F.sum),
    "kmv": (_kmv_partial, _kmv_combine),
    # string-cast so any column type sketches (hll_sketch_agg accepts only
    # int/bigint/string/binary); casts are injective on distinct values
    "hll": (lambda c: F.hll_sketch_agg(c.cast("string"),
                                       F.lit(SLIDING_HLL_LGK)),
            F.hll_union_agg),
}

# user-facing aggregate -> the partial kinds it needs
_DERIVED = {
    "sum": ("sum",),
    "count": ("count",),
    "min": ("min",),
    "max": ("max",),
    "avg": ("sum", "count"),
    "var_samp": ("sum", "sumsq", "count"),
    "stddev_samp": ("sum", "sumsq", "count"),
    "kmv_distinct": ("kmv",),
    "approx_distinct": ("hll",),
}


def _var_expr(partial_of, col: str) -> Column:
    """Sample variance from (sum, sumsq, count) partials: the combine is
    float, so both forms (and the oracle) state the identical formula —
    (ss - s*s/n) / (n - 1), NULL when n <= 1."""
    n = partial_of("count", col).cast("double")
    s = partial_of("sum", col)
    ss = partial_of("sumsq", col)
    return F.when(n > 1, (ss - s * s / n) / (n - F.lit(1.0)))


def _final_expr(fn: str, partial_of, col: str) -> Column:
    if fn == "avg":
        return partial_of("sum", col) / partial_of("count", col)
    if fn == "var_samp":
        return _var_expr(partial_of, col)
    if fn == "stddev_samp":
        # greatest(., 0) absorbs a few-ulp negative from cancellation; the
        # n>1 guard keeps the single-sample result NULL (greatest would
        # otherwise swallow the NULL — Spark's greatest skips nulls)
        n = partial_of("count", col)
        return F.when(n > 1,
                      F.sqrt(F.greatest(_var_expr(partial_of, col),
                                        F.lit(0.0))))
    if fn == "kmv_distinct":
        kmv = partial_of("kmv", col)
        return kmv_estimate(kmv, F.size(kmv), SLIDING_KMV_K)
    if fn == "approx_distinct":
        return F.hll_sketch_estimate(partial_of("hll", col))
    return partial_of(fn, col)


def _label(name: str, col: "str | Column") -> str:
    """A partial's column label: its input column's name, or for a Column
    input (an expression such as the duty cycle's ``power > threshold``
    flag) the output's own name."""
    return col if isinstance(col, str) else name


def expand_needed(aggs: tuple) -> list:
    """Distinct (kind, label, input) partials the requested aggregates
    need, deterministically ordered. An input is a column name or a
    Column; a Column is evaluated inside the partial aggregate, after the
    window expansion. Raises on an aggregate with no algebraic
    decomposition (median, exact percentile, ...)."""
    needed = {}
    for name, fn, col in aggs:
        if fn not in _DERIVED:
            raise ValueError(f"unsupported aggregate {fn!r} for {name!r} — "
                             "pane decomposition needs an algebraic fold "
                             f"({'/'.join(sorted(_DERIVED))})")
        for kind in _DERIVED[fn]:
            needed[kind, _label(name, col)] = (
                F.col(col) if isinstance(col, str) else col)
    return [(kind, label, needed[kind, label])
            for kind, label in sorted(needed)]


def partial_exprs(needed: list, alias: str = "__p") -> list:
    """Pane/window partial aggregate expressions, one per (kind, label)."""
    return [_PARTIALS[kind][0](col).alias(f"{alias}_{kind}_{label}")
            for kind, label, col in needed]


def combine_exprs(needed: list, src: str = "__p",
                  alias: str = "__c") -> list:
    """Pane-merge aggregate expressions over the partial columns."""
    return [_PARTIALS[kind][1](F.col(f"{src}_{kind}_{label}"))
            .alias(f"{alias}_{kind}_{label}") for kind, label, _ in needed]


def final_exprs(aggs: tuple, alias: str = "__c") -> list:
    """Output expressions over the combined partials."""
    partial_of = lambda kind, col: F.col(f"{alias}_{kind}_{col}")  # noqa: E731
    return [_final_expr(fn, partial_of, _label(name, col)).alias(name)
            for name, fn, col in aggs]


def sliding_agg(df: DataFrame,
                window: str = "10 minutes",
                slide: str = "2 minutes",
                aggs: tuple = (("sum_value", "sum", "value"),),
                keys: tuple = ("user_id",),
                time_col: str = "ts",
                panes: "bool | str" = False) -> DataFrame:
    """Sliding aggregation over ``aggs`` = ((out_name, fn, col), ...) with
    fn in ``_DERIVED`` (sum/count/min/max/avg, var_samp/stddev_samp,
    kmv_distinct/approx_distinct) and col a column name or a Column.
    ``slide=None`` is the tumbling window. Returns (time_end, *keys, *outs);
    every derived final (avg, variance, the distinct estimates) is
    computed from the SAME partials in both forms (never an average of
    averages / variance of variances)."""
    w_s = _interval_seconds(window)
    s_s = _interval_seconds(slide) if slide else None
    needed = expand_needed(aggs)

    if use_panes(panes, window, slide, lambda: df, time_col, keys):
        pane = (df.groupBy(F.window(F.col(time_col), slide).alias("pane"),
                           *[F.col(k) for k in keys])
                .agg(*partial_exprs(needed)))
        n_panes = w_s // s_s
        partials = [f"__p_{kind}_{label}" for kind, label, _ in needed]
        exploded = (pane
                    .select(F.col("pane.start").alias("pane_start"), *keys,
                            *partials,
                            F.explode(F.sequence(
                                F.lit(0), F.lit(n_panes - 1))).alias("k"))
                    .select((F.col("pane_start")
                             + F.expr(f"make_interval(0,0,0,0,0,0, {w_s})")
                             - F.col("k")
                             * F.expr(f"make_interval(0,0,0,0,0,0, {s_s})"))
                            .alias("time_end"),
                            *keys, *partials))
        agg = (exploded.groupBy("time_end", *[F.col(k) for k in keys])
               .agg(*combine_exprs(needed)))
        return agg.select("time_end", *keys, *final_exprs(aggs))

    win = F.window(F.col(time_col), window, slide)
    if slide and w_s and s_s and w_s != s_s:
        # spread the raw events before the window/slide EXPLOSION
        # (round-11, guide §2.2/§3.3 — the word_ngrams treatment): a
        # single-split scan otherwise runs the w/s-fold explode AND the
        # partial aggregate serially in one task (measured interleaved:
        # events_sliding_distinct 1.36 -> 0.68 s). Keyed by (ts, keys)
        # for deterministic placement; no-op when the scan already has
        # enough splits. The pane branch above is NOT spread: its first
        # aggregate touches each event once (no explosion), and the A/B
        # read the added exchange as a small net loss there.
        from insight_de_smart_grid_spark.operators.layout import spread

        df = spread(df, time_col, *keys)
    # explode form: the window group IS the whole window, so the partial
    # builders produce the combined value directly (alias them __c)
    agg = (df.groupBy(win.alias("window"), *[F.col(k) for k in keys])
           .agg(*partial_exprs(needed, alias="__c")))
    return agg.select(
        F.col("window.end").alias("time_end"), *keys, *final_exprs(aggs))


def sliding_topk(df: DataFrame,
                 window: str = "10 minutes",
                 slide: str = "2 minutes",
                 keys: tuple = ("event_type",),
                 item: str = "user_id",
                 k: int = 3,
                 time_col: str = "ts",
                 panes: "bool | str" = False) -> DataFrame:
    """Sliding top-k items by occurrence count per (window, *keys) — the
    pane algebra extended to a RANKED aggregate. The per-item count is a
    sliding SUM of pane counts, so the decomposition applies verbatim with
    ``keys + (item,)`` as the grouping; the rank runs over the combined
    EXACT counts, so pane and explode forms are row-identical (integer
    counts — no float fold order in play). Ties break deterministically
    (count desc, item asc). The rank itself is cheap at scale: its input
    is the aggregated (window, keys, item) cardinality, never the event
    stream — the same property that makes Druid's topN-on-rollup shape
    work, and the reason the streaming twin can rank the finalized
    append-mode output as a batch post-pass."""
    from pyspark.sql import Window

    counted = sliding_agg(df, window, slide,
                          aggs=(("cnt", "count", item),),
                          keys=tuple(keys) + (item,),
                          time_col=time_col, panes=panes)
    w = (Window.partitionBy("time_end", *keys)
         .orderBy(F.desc("cnt"), F.asc(item)))
    return (counted.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= k))


def sliding_topk_oracle_sql(window_seconds: int = 600,
                            slide_seconds: int = 120,
                            k: int = 3) -> str:
    """DuckDB twin of ``sliding_topk``: the generate_series window-starts
    join, per-item counts, row_number with the identical deterministic
    tie-break. Integer counts — no rounding needed anywhere."""
    return f"""
WITH {_sliding_starts_sql(window_seconds, slide_seconds)},
counted AS (
  SELECT s.ws + INTERVAL '{window_seconds} seconds' AS time_end,
         e.event_type, e.user_id, count(e.user_id) AS cnt
  FROM events e
  JOIN starts s ON e.ts >= s.ws
               AND e.ts < s.ws + INTERVAL '{window_seconds} seconds'
  GROUP BY 1, 2, 3
)
SELECT time_end, event_type, user_id, cnt, rk FROM (
  SELECT *, row_number() OVER (
           PARTITION BY time_end, event_type
           ORDER BY cnt DESC, user_id ASC) AS rk
  FROM counted)
WHERE rk <= {k}
"""


SLIDING_QUANTILE_BINS = 64  # fixed-width histogram resolution


def sliding_quantile(df: DataFrame,
                     window: str = "10 minutes",
                     slide: str = "2 minutes",
                     keys: tuple = ("user_id",),
                     col: str = "value",
                     q: float = 0.95,
                     bins: int = SLIDING_QUANTILE_BINS,
                     time_col: str = "ts",
                     panes: "bool | str" = False) -> DataFrame:
    """Sliding q-quantile estimate from a fixed-width binned histogram —
    the pane algebra extended to QUANTILES. An exact sliding percentile
    needs every raw value as state; the histogram needs ``bins`` integer
    counts per (key, pane), and bin counts are sliding SUMs of pane
    counts, so the decomposition applies verbatim with the bin as an
    extra grouping key. The estimate (cumulative-count scan to the bin
    containing rank q*n, linear interpolation within it) derives ONLY
    from integer counts plus the corpus min/max, so pane, explode and
    streaming forms are bit-identical, the error is bounded by one bin
    width of the nearest-rank percentile (the selected bin contains the
    ceil(q*n)-th order statistic), and the estimate itself is
    value-checkable in DuckDB (``sliding_quantile_oracle_sql``) — the
    KMV property, for quantiles.

    The corpus (lo, hi) bin range comes from one narrow min/max aggregate
    broadcast as a single-row scalar (the repo's verified scalar-subquery
    pattern); at cluster scale that's catalog column stats. Returns
    (time_end, *keys, est, n_vals) with NULL-``col`` rows excluded (a
    group with no non-NULL values emits nothing, same as the oracle)."""
    stats = df.filter(F.col(col).isNotNull()).agg(
        F.min(col).cast("double").alias("__lo"),
        F.max(col).cast("double").alias("__hi"))
    width = (F.col("__hi") - F.col("__lo")) / F.lit(float(bins))
    binned = (df.filter(F.col(col).isNotNull())
              .crossJoin(F.broadcast(stats))
              .withColumn("__width", width)
              .withColumn(
                  "__bin",
                  F.when(F.col("__width") == 0, F.lit(0)).otherwise(
                      F.least(
                          F.floor((F.col(col) - F.col("__lo"))
                                  / F.col("__width")).cast("int"),
                          F.lit(bins - 1)))))
    hist = sliding_agg(binned, window, slide,
                       aggs=(("cnt", "count", col),),
                       keys=tuple(keys) + ("__bin", "__lo", "__width"),
                       time_col=time_col, panes=panes)
    return quantile_fold(hist, keys, q)


def quantile_fold(hist: DataFrame, keys: tuple, q: float) -> DataFrame:
    """Histogram -> quantile: cumulative-count scan to the bin holding
    rank q*n, linear interpolation within it. Input is (time_end, *keys,
    __bin, __lo, __width, cnt); its cost is the aggregated histogram
    cardinality (#groups x bins), never the event stream — which is why
    the streaming twin can run this as an output-side batch pass over the
    watermark-finalized histogram rows."""
    from pyspark.sql import Window

    grp = Window.partitionBy("time_end", *keys)
    run = grp.orderBy("__bin").rowsBetween(Window.unboundedPreceding,
                                           Window.currentRow)
    # materialize n/cum BEFORE the filter and derive est from the
    # materialized columns — referencing the window expressions after the
    # filter would re-evaluate them over the filtered (single-row)
    # partition and silently shift the interpolation
    r = F.lit(q) * F.col("__n").cast("double")
    frac = (r - (F.col("__cum") - F.col("cnt")).cast("double")) \
        / F.col("cnt")
    est = F.col("__lo") + (F.col("__bin") + frac) * F.col("__width")
    return (hist
            .withColumn("__n", F.sum("cnt").over(grp))
            .withColumn("__cum", F.sum("cnt").over(run))
            .filter(((F.col("__cum") - F.col("cnt")).cast("double") < r)
                    & (r <= F.col("__cum").cast("double")))
            .select("time_end", *keys, F.round(est, 6).alias("est"),
                    F.col("__n").alias("n_vals")))


def sliding_quantile_oracle_sql(window_seconds: int = 600,
                                slide_seconds: int = 120,
                                q: float = 0.95,
                                bins: int = SLIDING_QUANTILE_BINS) -> str:
    """DuckDB twin of ``sliding_quantile``: identical binning (corpus
    min/max scalar, same clamp), identical integer cumulative counts,
    identical interpolation arithmetic on identical operands — the
    ESTIMATE is value-checked, not a tolerance band."""
    return f"""
WITH {_sliding_starts_sql(window_seconds, slide_seconds)},
stats AS (
  SELECT CAST(min(value) AS DOUBLE) AS lo,
         (CAST(max(value) AS DOUBLE) - CAST(min(value) AS DOUBLE))
           / {bins} AS w
  FROM events WHERE value IS NOT NULL
),
hist AS (
  SELECT s.ws + INTERVAL '{window_seconds} seconds' AS time_end,
         e.user_id,
         CASE WHEN t.w = 0 THEN 0
              ELSE LEAST(CAST(floor((e.value - t.lo) / t.w) AS INT),
                         {bins - 1}) END AS bin,
         count(e.value) AS cnt,
         any_value(t.lo) AS lo, any_value(t.w) AS w
  FROM events e
  JOIN starts s ON e.ts >= s.ws
               AND e.ts < s.ws + INTERVAL '{window_seconds} seconds'
  CROSS JOIN stats t
  WHERE e.value IS NOT NULL
  GROUP BY 1, 2, 3
),
scanned AS (
  SELECT time_end, user_id, bin, cnt, lo, w,
         sum(cnt) OVER (PARTITION BY time_end, user_id) AS n,
         sum(cnt) OVER (PARTITION BY time_end, user_id ORDER BY bin
                        ROWS UNBOUNDED PRECEDING) AS cum
  FROM hist
)
SELECT time_end, user_id,
       round(lo + (bin + ({q} * CAST(n AS DOUBLE)
                          - CAST(cum - cnt AS DOUBLE)) / cnt) * w,
             6) AS est,
       CAST(n AS BIGINT) AS n_vals
FROM scanned
WHERE CAST(cum - cnt AS DOUBLE) < {q} * CAST(n AS DOUBLE)
  AND {q} * CAST(n AS DOUBLE) <= CAST(cum AS DOUBLE)
"""


def _sliding_starts_sql(window_seconds: int, slide_seconds: int) -> str:
    """Shared DuckDB CTE prologue: every slide-aligned window start that
    could contain an event (the generate_series sliding-oracle pattern)."""
    return f"""
bounds AS (
  SELECT time_bucket(INTERVAL '{slide_seconds} seconds', min(ts))
           - INTERVAL '{window_seconds} seconds' AS lo,
         max(ts) AS hi
  FROM events
),
starts AS (
  SELECT unnest(generate_series(lo, hi,
                INTERVAL '{slide_seconds} seconds')) AS ws
  FROM bounds
)"""


def sliding_stats_oracle_sql(window_seconds: int = 600,
                             slide_seconds: int = 120) -> str:
    """DuckDB twin of the registered events sliding-stats query: the
    generate_series window-starts join (the ``_SLIDING_ORACLE`` pattern),
    with doubles rounded to 6 like every double aggregate in this repo
    (pane and explode forms fold float sums in different orders)."""
    return f"""
WITH {_sliding_starts_sql(window_seconds, slide_seconds)}
SELECT s.ws + INTERVAL '{window_seconds} seconds' AS time_end,
       e.user_id,
       round(sum(e.value), 6) AS sum_value,
       count(e.value) AS n_vals,
       round(min(e.value), 6) AS min_value,
       round(max(e.value), 6) AS max_value,
       round(sum(e.value) / count(e.value), 6) AS avg_value
FROM events e
JOIN starts s ON e.ts >= s.ws
             AND e.ts < s.ws + INTERVAL '{window_seconds} seconds'
GROUP BY 1, 2
"""


def sliding_distinct_oracle_sql(window_seconds: int = 600,
                                slide_seconds: int = 120,
                                k: int = SLIDING_KMV_K) -> str:
    """DuckDB twin of the sliding KMV distinct-count: identical 60-bit md5
    hashes, identical k-smallest cut, identical estimator arithmetic
    ((k-1) * 2^60 / kmv[k] — one exact multiply then one divide on
    identical operands), so the ESTIMATE itself is value-checked, not
    just a tolerance band."""
    scale = int(_KMV_SCALE)
    return f"""
WITH {_sliding_starts_sql(window_seconds, slide_seconds)},
win AS (
  SELECT s.ws + INTERVAL '{window_seconds} seconds' AS time_end,
         e.event_type,
         (list_sort(list(DISTINCT
            CAST(concat('0x', substring(md5(CAST(e.user_id AS VARCHAR)),
                                        1, 15)) AS BIGINT))))[1:{k}] AS kmv,
         count(e.user_id) AS n_vals
  FROM events e
  JOIN starts s ON e.ts >= s.ws
               AND e.ts < s.ws + INTERVAL '{window_seconds} seconds'
  GROUP BY 1, 2
)
SELECT time_end, event_type,
       round(CASE WHEN len(kmv) < {k} THEN CAST(len(kmv) AS DOUBLE)
                  ELSE CAST({k - 1} AS DOUBLE) * {scale}.0
                       / CAST(kmv[{k}] AS DOUBLE) END, 6) AS approx_users,
       n_vals
FROM win
"""


def sliding_stddev_oracle_sql(window_seconds: int = 600,
                              slide_seconds: int = 120) -> str:
    """DuckDB twin of the sliding variance/stddev: the SAME
    sum-of-squares combine the engine's pane form runs —
    (ss - s*s/n)/(n-1), NULL at n<=1, sqrt over greatest(.,0) — stated
    verbatim rather than DuckDB's own var_samp (whose Welford/Youngs-
    Cramer update order differs)."""
    var = ("(sum(e.value * e.value) - sum(e.value) * sum(e.value)"
           " / count(e.value)) / (count(e.value) - 1)")
    return f"""
WITH {_sliding_starts_sql(window_seconds, slide_seconds)}
SELECT s.ws + INTERVAL '{window_seconds} seconds' AS time_end,
       e.user_id,
       round(CASE WHEN count(e.value) > 1 THEN {var} END, 6) AS var_value,
       round(CASE WHEN count(e.value) > 1
                  THEN sqrt(greatest({var}, 0)) END, 6) AS sd_value,
       count(e.value) AS n_vals
FROM events e
JOIN starts s ON e.ts >= s.ws
             AND e.ts < s.ws + INTERVAL '{window_seconds} seconds'
GROUP BY 1, 2
"""


def sliding_hll_within_tol_oracle_sql(window_seconds: int = 600,
                                      slide_seconds: int = 120) -> str:
    """Oracle for the HLL sliding distinct (exact-twin-in-plan pattern,
    ``rollup_hll_distinct``): the oracle states the EXACT sliding distinct
    count; the engine emits the same exact count from an explode-form
    countDistinct twin in the same plan plus ``within_tol`` asserting the
    pane-form HLL estimate sits within 5% — a broken sketch/union/estimate
    path flips the boolean and fails the hash check against the constant
    TRUE."""
    return f"""
WITH {_sliding_starts_sql(window_seconds, slide_seconds)}
SELECT s.ws + INTERVAL '{window_seconds} seconds' AS time_end,
       e.event_type,
       count(DISTINCT e.user_id) AS exact_distinct,
       TRUE AS within_tol
FROM events e
JOIN starts s ON e.ts >= s.ws
             AND e.ts < s.ws + INTERVAL '{window_seconds} seconds'
GROUP BY 1, 2
"""
