from __future__ import annotations

from pyspark.sql import functions as F

from insight_de_smart_grid_spark.operators.duty_cycle import duty_cycle
from insight_de_smart_grid_spark.sources.tables import readings_view
from tests.oracle import check_registered
from tests.conftest import SF_ORACLE


def test_duty_cycle_matches_oracle(spark, duck):
    check_registered(spark, duck, "duty_cycle_10m")


def test_duty_cycle_threshold_is_strict(spark):
    # reference uses strict `>` (duty_cycle_avro.py:77): power == 5.0 is idle
    df = spark.createDataFrame(
        [("2024-01-01 00:00:01", "h1", "a1", 5.0),
         ("2024-01-01 00:00:02", "h1", "a1", 5.01),
         ("2024-01-01 00:00:03", "h1", "a1", 4.99)],
        "ts string, house_id string, appliance_id string, power double",
    ).withColumn("ts", F.to_timestamp("ts"))
    out = duty_cycle(df, window="1 minute").collect()
    assert len(out) == 1
    assert abs(out[0].duty_cycle - 1 / 3) < 1e-12


def test_duty_cycle_sliding_covers_each_row_w_over_s_times(spark):
    # sliding window (W=10m, S=2m): each reading lands in 5 windows
    readings = readings_view(spark, SF_ORACLE).limit(100)
    tumbling = duty_cycle(readings, window="10 minutes")
    sliding = duty_cycle(readings, window="10 minutes", slide="2 minutes")
    n_rows = readings.count()
    total_tumbling = tumbling.count()
    assert sliding.count() >= total_tumbling
    # sum of c_all over sliding windows == 5 x number of readings
    sl = duty_cycle(readings, window="10 minutes", slide="2 minutes")
    # recompute with counts retained
    from pyspark.sql import functions as F2
    agg = (readings.groupBy(F2.window("ts", "10 minutes", "2 minutes"))
           .agg(F2.count("power").alias("c")))
    assert agg.agg(F2.sum("c")).collect()[0][0] == 5 * n_rows
    assert sl is not None


def test_duty_cycle_pane_decomposition_is_invariant(spark):
    """The pane form (tumbling slide-width pre-aggregate -> pane explode
    -> combine) must be row-identical to Spark's window-explode form:
    same (window, keys) groups including all-null-power windows (c_all=0
    -> NULL ratio in both), same long counts, hence the same IEEE
    quotient."""
    readings = readings_view(spark, SF_ORACLE)
    explode_form = duty_cycle(readings, window="10 minutes",
                              slide="2 minutes", panes=False)
    pane_form = duty_cycle(readings, window="10 minutes",
                           slide="2 minutes", panes=True)
    assert sorted(map(tuple, explode_form.collect())) == \
        sorted(map(tuple, pane_form.collect()))
    # W not divisible by S -> the pane path must decline, not misalign
    odd = duty_cycle(readings, window="10 minutes", slide="3 minutes",
                     panes=True)
    odd_ref = duty_cycle(readings, window="10 minutes", slide="3 minutes",
                         panes=False)
    assert sorted(map(tuple, odd.collect())) == \
        sorted(map(tuple, odd_ref.collect()))


def test_sliding_agg_pane_invariance_and_auto(spark):
    """The generalized pane decomposition (operators/sliding.py): sum,
    count, min, max, avg over a sliding 10s/2s window must be
    row-identical between the explode and pane forms — including NULL
    values (excluded from every aggregate on both paths), all-NULL
    windows (NULL sum/min/max/avg, count 0), min/max as pane-fold
    semigroup ops, and avg as exact sum/count (never avg-of-avgs, which
    uneven panes would corrupt). panes='auto' picks by the same density
    probe; a non-divisible shape falls back to explode; a non-algebraic
    fn raises."""
    import pytest

    from insight_de_smart_grid_spark.operators.sliding import sliding_agg

    rows = [(float(t), str(t % 3),
             None if t % 7 == 0 else float((t * 13) % 11 - 5))
            for t in range(0, 41)]
    rows += [(4.0, "9", None), (6.0, "9", None)]  # all-NULL key
    df = spark.createDataFrame(
        rows, "tsec double, user_id string, value double"
    ).selectExpr("timestamp_seconds(tsec) AS ts", "user_id", "value")
    aggs = (("sum_value", "sum", "value"), ("n_vals", "count", "value"),
            ("min_value", "min", "value"), ("max_value", "max", "value"),
            ("avg_value", "avg", "value"))

    def run(**kw):
        out = sliding_agg(df, window="10 seconds", slide="2 seconds",
                          aggs=aggs, keys=("user_id",), **kw)
        return sorted((r.time_end, r.user_id, r.sum_value, r.n_vals,
                       r.min_value, r.max_value, r.avg_value)
                      for r in out.collect())

    explode_form = run(panes=False)
    assert explode_form == run(panes=True)
    assert explode_form == run(panes="auto")  # either pick, same rows
    # the all-NULL key emits windows with count 0 and NULL everything else
    null_rows = [r for r in explode_form if r[1] == "9"]
    assert null_rows and all(
        r[2] is None and r[3] == 0 and r[4] is None and r[6] is None
        for r in null_rows)
    # non-divisible slide: pane path declines, output still correct
    odd = sliding_agg(df, window="10 seconds", slide="3 seconds",
                      aggs=aggs, keys=("user_id",), panes=True)
    ref = sliding_agg(df, window="10 seconds", slide="3 seconds",
                      aggs=aggs, keys=("user_id",), panes=False)
    assert sorted(map(tuple, odd.collect())) == \
        sorted(map(tuple, ref.collect()))
    with pytest.raises(ValueError, match="algebraic"):
        sliding_agg(df, aggs=(("m", "median", "value"),), panes=True)


def test_sliding_agg_extended_algebra_pane_invariance(spark):
    """Round-8 algebra: variance/stddev (sum-of-squares partials), KMV
    distinct-count (k-smallest-hash merge), and DataSketches HLL must all
    agree between explode and pane forms. KMV is bit-exact by
    construction (panes partition the window, so a window's k smallest
    distinct hashes all survive their pane's k-cut); variance matches
    after the repo's round-6 convention (float partials fold in a
    different order); HLL's pane-union ESTIMATE may legitimately differ
    from the direct sketch (DataSketches switches estimators after
    merge), so it is asserted within the 5% contract against exact, not
    equal. NULL handling: an all-NULL group must yield NULL variance and
    a 0.0 distinct estimate, identically in both forms."""
    from pyspark.sql import functions as F

    from insight_de_smart_grid_spark.operators.sliding import sliding_agg

    rows = [(float(t), str(t % 3),
             None if t % 7 == 0 else float((t * 13) % 11 - 5))
            for t in range(0, 41)]
    rows += [(4.0, "9", None), (6.0, "9", None)]  # all-NULL key
    df = spark.createDataFrame(
        rows, "tsec double, user_id string, value double"
    ).selectExpr("timestamp_seconds(tsec) AS ts", "user_id", "value")

    aggs = (("var_value", "var_samp", "value"),
            ("sd_value", "stddev_samp", "value"),
            ("kmv_users", "kmv_distinct", "value"),
            ("n_vals", "count", "value"))

    def run(panes):
        out = sliding_agg(df, window="10 seconds", slide="2 seconds",
                          aggs=aggs, keys=("user_id",), panes=panes)
        return sorted((r.time_end, r.user_id,
                       None if r.var_value is None
                       else round(r.var_value, 6),
                       None if r.sd_value is None
                       else round(r.sd_value, 6),
                       r.kmv_users, r.n_vals)
                      for r in out.collect())

    explode_form = run(False)
    assert explode_form == run(True)
    # all-NULL key: NULL var/sd, 0.0 distinct estimate, count 0
    null_rows = [r for r in explode_form if r[1] == "9"]
    assert null_rows and all(
        r[2] is None and r[3] is None and r[4] == 0.0 and r[5] == 0
        for r in null_rows)
    # single-sample windows exist in this fixture and must be NULL var
    assert any(r[5] == 1 and r[2] is None for r in explode_form)
    # HLL: pane-union estimate within the 5% contract of exact distinct
    hll = sliding_agg(df, window="10 seconds", slide="2 seconds",
                      aggs=(("est", "approx_distinct", "value"),),
                      keys=("user_id",), panes=True)
    exact = (df.groupBy(F.window("ts", "10 seconds", "2 seconds")
                        .alias("window"), "user_id")
             .agg(F.countDistinct("value").alias("exact"))
             .select(F.col("window.end").alias("time_end"), "user_id",
                     "exact"))
    joined = hll.join(exact, ["time_end", "user_id"]).collect()
    assert joined and all(
        abs(r.est - r.exact) <= max(1.0, 0.05 * r.exact) for r in joined)


def test_sliding_topk_pane_invariance_and_ties(spark):
    """Round-8 ranked aggregate: sliding top-k by count must be
    row-identical between explode and pane forms (integer counts — no
    float fold order), the rank never exceeds k, exactly-tied counts
    break by item ascending on both paths, and a group with fewer than k
    items emits all of them (row_number, not a padded top-k)."""
    from insight_de_smart_grid_spark.operators.sliding import sliding_topk

    # user u0 twice per 4s, u1 once per 2s, u2 once per 8s -> stable
    # ordering; group "b" has a single item (under-full top-k)
    rows = []
    for t in range(0, 41):
        if t % 4 == 0:
            rows += [(float(t), "a", "u0"), (float(t) + 0.5, "a", "u0")]
        if t % 2 == 0:
            rows.append((float(t), "a", "u1"))
        if t % 8 == 0:
            rows.append((float(t), "a", "u2"))
        if t % 16 == 0:
            rows.append((float(t), "b", "only"))
    # exact tie inside group "t": u8 and u9 equal counts -> item asc wins
    rows += [(1.0, "t", "u9"), (3.0, "t", "u8")]
    df = spark.createDataFrame(
        rows, "tsec double, event_type string, user_id string"
    ).selectExpr("timestamp_seconds(tsec) AS ts", "event_type", "user_id")

    def run(panes):
        out = sliding_topk(df, window="8 seconds", slide="2 seconds",
                           keys=("event_type",), item="user_id", k=2,
                           panes=panes)
        return sorted((r.time_end, r.event_type, r.user_id, r.cnt, r.rk)
                      for r in out.collect())

    explode_form = run(False)
    assert explode_form == run(True)
    assert all(r[4] <= 2 for r in explode_form)
    # under-full group emits its single item at rank 1
    b_rows = [r for r in explode_form if r[1] == "b"]
    assert b_rows and all(r[2] == "only" and r[4] == 1 for r in b_rows)
    # tie in group "t": equal counts, u8 (item asc) ranks above u9
    t_tied = [r for r in explode_form
              if r[1] == "t" and {"u8", "u9"} <= {x[2] for x in explode_form
                                                  if x[0] == r[0]
                                                  and x[1] == "t"}]
    assert t_tied
    for te in {r[0] for r in t_tied}:
        pair = sorted(r for r in t_tied if r[0] == te)
        if len(pair) == 2 and pair[0][3] == pair[1][3]:
            by_rank = sorted(pair, key=lambda r: r[4])
            assert by_rank[0][2] == "u8" and by_rank[1][2] == "u9"


def test_sliding_quantile_pane_invariance_and_error_bound(spark):
    """Round-8 quantile algebra: the binned-histogram sliding p95 must be
    bit-identical between explode and pane forms (the estimate derives
    only from integer counts + corpus min/max), within one bin width of
    the exact interpolated percentile over the same window, and collapse
    gracefully when the corpus is a single repeated value (width 0 ->
    est == that value). NULL values never reach a bin; an all-NULL key
    emits nothing."""
    from pyspark.sql import functions as F

    from insight_de_smart_grid_spark.operators.sliding import (
        SLIDING_QUANTILE_BINS,
        sliding_quantile,
    )

    rows = [(float(t), str(t % 3),
             None if t % 7 == 0 else float((t * 37) % 101))
            for t in range(0, 41)]
    rows += [(4.0, "9", None), (6.0, "9", None)]  # all-NULL key
    df = spark.createDataFrame(
        rows, "tsec double, user_id string, value double"
    ).selectExpr("timestamp_seconds(tsec) AS ts", "user_id", "value")

    def run(panes):
        out = sliding_quantile(df, window="10 seconds", slide="2 seconds",
                               keys=("user_id",), col="value", q=0.95,
                               panes=panes)
        return sorted((r.time_end, r.user_id, r.est, r.n_vals)
                      for r in out.collect())

    explode_form = run(False)
    assert explode_form == run(True)
    assert not [r for r in explode_form if r[1] == "9"]  # all-NULL: no row

    # error bound: the estimate lives in the bin holding the
    # NEAREST-RANK percentile (the ceil(q*n)-th smallest value — the
    # first bin whose cumulative count reaches q*n contains exactly that
    # order statistic), so |est - x_(ceil(q*n))| <= one bin width.
    # (Interpolated percentile() is a different definition: it can land
    # anywhere inside a sparse-data gap between order stats, so no
    # per-bin bound exists against it.)
    lo, hi = df.agg(F.min("value"), F.max("value")).head()
    width = (hi - lo) / SLIDING_QUANTILE_BINS
    exact = {(r.time_end, r.user_id): r.p for r in
             (df.filter(F.col("value").isNotNull())
              .groupBy(F.window("ts", "10 seconds", "2 seconds")
                       .alias("w"), "user_id")
              .agg(F.expr(
                  "element_at(array_sort(collect_list(value)),"
                  " cast(ceil(0.95 * count(value)) as int))").alias("p"))
              .select(F.col("w.end").alias("time_end"), "user_id", "p")
              .collect())}
    assert exact
    for time_end, uid, est, _n in explode_form:
        assert abs(est - exact[(time_end, uid)]) <= width + 1e-9, \
            (time_end, uid, est, exact[(time_end, uid)])

    # degenerate corpus: one repeated value -> width 0 -> est == value
    one = spark.createDataFrame(
        [(2.0, "u", 7.5), (5.0, "u", 7.5)],
        "tsec double, user_id string, value double"
    ).selectExpr("timestamp_seconds(tsec) AS ts", "user_id", "value")
    for panes in (False, True):
        got = sliding_quantile(one, window="10 seconds",
                               slide="2 seconds", keys=("user_id",),
                               panes=panes).collect()
        assert got and all(r.est == 7.5 for r in got)


def _is_pane_plan(df) -> bool:
    """The pane plan (and only it) synthesizes window ends with
    make_interval arithmetic over exploded pane indices; the explode form
    plans a single window() generator. Marker read from the ANALYZED
    plan — the optimizer constant-folds the literal make_interval away."""
    return "make_interval" in df._jdf.queryExecution().analyzed().toString()


def test_duty_cycle_auto_probe_picks_by_density(spark):
    """panes="auto" (round-7): the probe must pick the EXPLODE plan on
    the sparse fixture (~1 event per (key, pane) — the pre-agg collapses
    nothing) and the PANE plan on a dense corpus (many events per pane),
    and both choices must return rows identical to the fixed forms."""
    from insight_de_smart_grid_spark.operators.sliding import (
        PANE_DENSITY_CROSSOVER,
        pane_density,
    )

    readings = readings_view(spark, SF_ORACLE)
    assert pane_density(readings, 120) < PANE_DENSITY_CROSSOVER
    auto_sparse = duty_cycle(readings, window="10 minutes",
                             slide="2 minutes", panes="auto")
    assert not _is_pane_plan(auto_sparse)
    assert sorted(map(tuple, auto_sparse.collect())) == sorted(map(
        tuple, duty_cycle(readings, window="10 minutes",
                          slide="2 minutes", panes=False).collect()))

    # dense corpus: every key emits ~1 Hz within one 10-minute stretch
    dense = spark.range(600).selectExpr(
        "timestamp_seconds(1704067200 + id) AS ts",
        "cast(id % 2 as string) AS house_id",
        "concat(cast(id % 2 as string), '_m') AS appliance_id",
        "cast(id % 7 as double) AS power")
    assert pane_density(dense, 120) >= PANE_DENSITY_CROSSOVER
    auto_dense = duty_cycle(dense, window="10 minutes",
                            slide="2 minutes", panes="auto")
    assert _is_pane_plan(auto_dense)
    assert sorted(map(tuple, auto_dense.collect())) == sorted(map(
        tuple, duty_cycle(dense, window="10 minutes", slide="2 minutes",
                          panes=True).collect()))

    # non-decomposable shape: auto must fall back to explode, not raise
    odd_auto = duty_cycle(dense, window="10 minutes", slide="3 minutes",
                          panes="auto")
    assert not _is_pane_plan(odd_auto)


def test_auto_probe_is_sampled_with_small_corpus_fallback(
        spark, monkeypatch):
    """Round-9 (VERDICT r8 item 8): the ``panes="auto"`` call sites hand
    the density probe the default sample fraction — the probe's frame
    reads through a Sample node over a NARROW projection (never the wide
    rows, never a shuffle below the one-row agg) — and a corpus whose
    sample lands under min_sample_rows falls back to the exact full-scan
    probe, so the tiny-fixture choices above are unchanged."""
    from insight_de_smart_grid_spark.operators import sliding as sl

    readings = readings_view(spark, SF_ORACLE)
    sampled = sl._probe_frame(readings, 120, "ts",
                              ("house_id", "appliance_id"),
                              sl.PROBE_SAMPLE_FRACTION)
    plan = sampled._jdf.queryExecution().executedPlan().toString()
    assert "Sample" in plan
    full = sl._probe_frame(readings, 120, "ts",
                           ("house_id", "appliance_id"))
    assert "Sample" not in (full._jdf.queryExecution().executedPlan()
                            .toString())

    # the shared auto decision (sliding.use_panes) threads the fraction
    seen = []
    real = sl.pane_density

    def spy(df, s_s, time_col="ts", keys=("house_id", "appliance_id"),
            **kw):
        seen.append(kw.get("sample_fraction"))
        return real(df, s_s, time_col, keys, **kw)

    monkeypatch.setattr(sl, "pane_density", spy)
    ev = spark.read.parquet(f"{SF_ORACLE}/events.parquet")
    from insight_de_smart_grid_spark.sources.tables import (
        normalize_event_ts,
    )
    sl.sliding_agg(normalize_event_ts(ev), window="10 minutes",
                   slide="2 minutes", aggs=(("n", "count", "value"),),
                   keys=("user_id",), panes="auto")
    assert seen == [sl.PROBE_SAMPLE_FRACTION]

    # the sf0.01 fixture's 5% sample is far below min_sample_rows, so the
    # probe fell back to the exact scan: same density as the unsampled
    # call, same choice on the tiny regime
    assert (real(readings, 120,
                 sample_fraction=sl.PROBE_SAMPLE_FRACTION)
            == real(readings, 120))
