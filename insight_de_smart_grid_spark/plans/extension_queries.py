"""North-star extension queries: dedup, text analysis, similarity search,
multimodal plumbing, and training-pipeline utilities (BASELINE.json;
SURVEY §7.2 step 7).

Everything is oracle-checked except IVF ANN (its trained centroids aren't
portable across engines) — that one gets a rows-only driver check plus a
recall test against the exact operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from insight_de_smart_grid_spark.operators import dedup as dd
from insight_de_smart_grid_spark.operators import ivf_index as ivf
from insight_de_smart_grid_spark.operators import multimodal as mm
from insight_de_smart_grid_spark.operators import pipeline as pl
from insight_de_smart_grid_spark.operators import similarity as sim
from insight_de_smart_grid_spark.operators import sliding as sl
from insight_de_smart_grid_spark.operators import text as tx
from insight_de_smart_grid_spark.operators.staging import scratch_dir
from insight_de_smart_grid_spark.plans.registry import register
from insight_de_smart_grid_spark.sources.tables import load_table


# --- generic sliding aggregation (pane-decomposable) ------------------------

_SLIDING_AGGS = (("sum_value", "sum", "value"), ("n_vals", "count", "value"),
                 ("min_value", "min", "value"), ("max_value", "max", "value"),
                 ("avg_value", "avg", "value"))


def _sliding_stream(spark: SparkSession, sf_dir: str, pre=lambda s: s,
                    **plan_kwargs) -> DataFrame:
    """The events replayed through the streaming 10m/2m pane plan with a
    2 s watermark and the flush sentinel. ``pre`` is an optional
    stateless projection after the ts normalization (the quantile
    family's bins)."""
    from insight_de_smart_grid_spark.sources.tables import normalize_event_ts
    from insight_de_smart_grid_spark.streaming.sliding_stream import (
        run_sliding_stream,
        sliding_agg_stream_plan,
    )

    return run_sliding_stream(
        spark, f"{sf_dir}/events.parquet", sliding_agg_stream_plan,
        lambda s: pre(normalize_event_ts(s)), panes=True,
        window="10 minutes", slide="2 minutes", watermark="2 seconds",
        **plan_kwargs)


def _sliding_stats(spark: SparkSession, sf_dir: str, panes) -> DataFrame:
    out = sl.sliding_agg(load_table(spark, sf_dir, "events"),
                         window="10 minutes", slide="2 minutes",
                         aggs=_SLIDING_AGGS, keys=("user_id",), panes=panes)
    # doubles rounded to 6 (repo convention): pane and explode forms fold
    # float sums in different orders; the rounded values are identical
    return out.select("time_end", "user_id",
                      F.round("sum_value", 6).alias("sum_value"), "n_vals",
                      F.round("min_value", 6).alias("min_value"),
                      F.round("max_value", 6).alias("max_value"),
                      F.round("avg_value", 6).alias("avg_value"))


@register("events_sliding_stats", sl.sliding_stats_oracle_sql())
def q_events_sliding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generic sliding-window stats (sum/count/min/max/avg per 10m/2m
    window x user) — the flagship's window shape over arbitrary algebraic
    aggregates, explode form."""
    return _sliding_stats(spark, sf_dir, panes=False)


@register("events_sliding_stats_panes", sl.sliding_stats_oracle_sql())
def q_events_sliding_stats_panes(spark: SparkSession, sf_dir: str
                                 ) -> DataFrame:
    """The SAME sliding stats through the generalized pane decomposition
    (operators/sliding.py): min-of-pane-mins, sum-of-pane-sums, avg as
    exact sum/count of pane partials — registered against the identical
    oracle SQL so both forms are value-checked row-identical."""
    return _sliding_stats(spark, sf_dir, panes=True)


@register("events_sliding_stats_auto", sl.sliding_stats_oracle_sql())
def q_events_sliding_stats_auto(spark: SparkSession, sf_dir: str
                                ) -> DataFrame:
    """The generic sliding stats with the density probe choosing the
    form (round-8, closing the probe-everywhere lever): explode below
    the measured crossover, pane decomposition above — same oracle SQL
    as both pinned twins, so whichever plan the probe picks is
    value-checked. The explicit panes=True/False registrations stay as
    the deliberate both-forms contract."""
    return _sliding_stats(spark, sf_dir, panes="auto")


@register("streaming_sliding_stats_panes", sl.sliding_stats_oracle_sql())
def q_streaming_sliding_stats_panes(spark: SparkSession, sf_dir: str
                                    ) -> DataFrame:
    """The generic sliding stats as a STREAMING chained-stateful pane
    plan (streaming/sliding_stream.py): tumbling pane aggregate ->
    sliding combine of pane partials, append mode, flush sentinel —
    value-checked against the SAME oracle as the batch twins, closing
    the batch≡stream contract for the generalized decomposition."""
    out = _sliding_stream(
        spark, sf_dir, aggs=_SLIDING_AGGS, keys=("user_id",))
    return (out.filter(F.col("user_id") != -1)
            .select("time_end", "user_id",
                    F.round("sum_value", 6).alias("sum_value"), "n_vals",
                    F.round("min_value", 6).alias("min_value"),
                    F.round("max_value", 6).alias("max_value"),
                    F.round("avg_value", 6).alias("avg_value")))


# --- sliding distinct-count / variance (round-8 pane algebra) ---------------

_SLIDING_DISTINCT_AGGS = (("approx_users", "kmv_distinct", "user_id"),
                          ("n_vals", "count", "user_id"))
_SLIDING_STDDEV_AGGS = (("var_value", "var_samp", "value"),
                        ("sd_value", "stddev_samp", "value"),
                        ("n_vals", "count", "value"))


def _sliding_distinct(spark: SparkSession, sf_dir: str, panes) -> DataFrame:
    out = sl.sliding_agg(load_table(spark, sf_dir, "events"),
                         window="10 minutes", slide="2 minutes",
                         aggs=_SLIDING_DISTINCT_AGGS, keys=("event_type",),
                         panes=panes)
    return out.select("time_end", "event_type",
                      F.round("approx_users", 6).alias("approx_users"),
                      "n_vals")


@register("events_sliding_distinct", sl.sliding_distinct_oracle_sql())
def q_events_sliding_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding COUNT(DISTINCT user) per (10m/2m window, event_type) via a
    K-minimum-values sketch (portable md5 hash family) — the ESTIMATE is
    value-checked against a DuckDB twin running the identical estimator,
    not just a tolerance band. Explode form."""
    return _sliding_distinct(spark, sf_dir, panes=False)


@register("events_sliding_distinct_panes", sl.sliding_distinct_oracle_sql())
def q_events_sliding_distinct_panes(spark: SparkSession, sf_dir: str
                                    ) -> DataFrame:
    """The SAME sliding distinct through the pane decomposition: a pane's
    k smallest distinct hashes merge by union->distinct->k-smallest, which
    is EXACT (panes partition the window), so this registers against the
    identical oracle SQL — the one aggregate class that was still
    explode-only before round 8, now bit-identical in both forms."""
    return _sliding_distinct(spark, sf_dir, panes=True)


@register("events_sliding_distinct_auto", sl.sliding_distinct_oracle_sql())
def q_events_sliding_distinct_auto(spark: SparkSession, sf_dir: str
                                   ) -> DataFrame:
    """Sliding KMV distinct with the probe picking the form — the two
    forms are bit-identical by construction, so the probe's choice can
    never change the rows; this registers the choice itself against the
    shared oracle."""
    return _sliding_distinct(spark, sf_dir, panes="auto")


@register("streaming_sliding_distinct_panes", sl.sliding_distinct_oracle_sql())
def q_streaming_sliding_distinct_panes(spark: SparkSession, sf_dir: str
                                       ) -> DataFrame:
    """Sliding distinct-count as a STREAMING chained-stateful pane plan:
    the tumbling pane aggregate folds each event's hash once into a
    bounded KMV sketch, the second stateful operator merges pane sketches
    — state input bounded by #keys x #panes, never event cardinality (the
    1 Hz sliding-distinct shape VERDICT r7 ranked the top miss)."""
    out = _sliding_stream(
        spark, sf_dir, aggs=_SLIDING_DISTINCT_AGGS, keys=("event_type",))
    # no marker filter needed: the sentinel's own windows end past the
    # final watermark and are never emitted (replay.py contract); keyed by
    # event_type there is no -1 marker column to filter anyway
    return out.select("time_end", "event_type",
                      F.round("approx_users", 6).alias("approx_users"),
                      "n_vals")


def _sliding_stddev(spark: SparkSession, sf_dir: str, panes) -> DataFrame:
    out = sl.sliding_agg(load_table(spark, sf_dir, "events"),
                         window="10 minutes", slide="2 minutes",
                         aggs=_SLIDING_STDDEV_AGGS, keys=("user_id",),
                         panes=panes)
    return out.select("time_end", "user_id",
                      F.round("var_value", 6).alias("var_value"),
                      F.round("sd_value", 6).alias("sd_value"), "n_vals")


@register("events_sliding_stddev", sl.sliding_stddev_oracle_sql())
def q_events_sliding_stddev(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding sample variance/stddev per (10m/2m window, user) — the
    sum-of-squares decomposition; the oracle states the identical
    (ss - s*s/n)/(n-1) combine rather than DuckDB's own var_samp (whose
    streaming update order differs). Explode form."""
    return _sliding_stddev(spark, sf_dir, panes=False)


@register("events_sliding_stddev_panes", sl.sliding_stddev_oracle_sql())
def q_events_sliding_stddev_panes(spark: SparkSession, sf_dir: str
                                  ) -> DataFrame:
    """The SAME sliding variance through the pane decomposition: sum,
    sum-of-squares and count partials per pane, summed per window — same
    oracle SQL, value-identical after the repo's round-6 convention."""
    return _sliding_stddev(spark, sf_dir, panes=True)


@register("streaming_sliding_stddev_panes", sl.sliding_stddev_oracle_sql())
def q_streaming_sliding_stddev_panes(spark: SparkSession, sf_dir: str
                                     ) -> DataFrame:
    """Sliding variance as the STREAMING chained-stateful pane plan —
    three algebraic pane partials (sum, sumsq, count) into the bounded
    second operator, value-checked against the same oracle as the batch
    twins."""
    out = _sliding_stream(
        spark, sf_dir, aggs=_SLIDING_STDDEV_AGGS, keys=("user_id",))
    return (out.filter(F.col("user_id") != -1)
            .select("time_end", "user_id",
                    F.round("var_value", 6).alias("var_value"),
                    F.round("sd_value", 6).alias("sd_value"), "n_vals"))


@register("events_sliding_stddev_auto", sl.sliding_stddev_oracle_sql())
def q_events_sliding_stddev_auto(spark: SparkSession, sf_dir: str
                                 ) -> DataFrame:
    """Sliding variance with the density probe picking the form — the
    two forms register identical rounded values, so the probe's choice
    can never change the rows; completes the probe-everywhere contract
    for the variance family."""
    return _sliding_stddev(spark, sf_dir, panes="auto")


@register("events_sliding_hll_panes", sl.sliding_hll_within_tol_oracle_sql())
def q_events_sliding_hll_panes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding distinct via DataSketches HLL in the pane form (build per
    pane, ``hll_union_agg`` per window) validated by the exact-twin-in-plan
    pattern (``rollup_hll_distinct``): the plan also computes the exact
    explode-form countDistinct and emits ``within_tol`` — the estimate of
    a UNIONED sketch can differ from a directly-built one (DataSketches
    switches estimators after merge), so HLL registers with the tolerance
    contract, unlike the bit-exact KMV twin."""
    ev = load_table(spark, sf_dir, "events")
    est = sl.sliding_agg(
        ev, window="10 minutes", slide="2 minutes",
        aggs=(("approx_users", "approx_distinct", "user_id"),),
        keys=("event_type",), panes=True)
    exact = (ev.groupBy(F.window("ts", "10 minutes", "2 minutes")
                        .alias("window"), "event_type")
             .agg(F.countDistinct("user_id").alias("exact_distinct"))
             .select(F.col("window.end").alias("time_end"), "event_type",
                     "exact_distinct"))
    return (est.join(exact, ["time_end", "event_type"])
            .select("time_end", "event_type", "exact_distinct",
                    (F.abs(F.col("approx_users") - F.col("exact_distinct"))
                     <= F.lit(0.05) * F.col("exact_distinct"))
                    .alias("within_tol")))


@register("streaming_sliding_hll_panes", sl.sliding_hll_within_tol_oracle_sql())
def q_streaming_sliding_hll_panes(spark: SparkSession, sf_dir: str
                                  ) -> DataFrame:
    """Sliding HLL distinct as the STREAMING chained-stateful pane plan —
    the last sketch family gets its streaming twin: the tumbling pane
    operator folds each value once into a DataSketches HLL register set,
    the second stateful operator merges pane sketches via
    ``hll_union_agg`` (binary sketch state through both operators), so
    the event-ingesting state is bounded by #keys x #panes sketches. The
    finalized estimates join the batch exact countDistinct output-side
    into the same ``within_tol`` contract as the batch pane form (a
    UNIONED sketch's estimate can legitimately differ from a direct
    build, so HLL never registers a raw-value oracle)."""
    est = _sliding_stream(
        spark, sf_dir, aggs=(("approx_users", "approx_distinct", "user_id"),),
        keys=("event_type",))
    ev = load_table(spark, sf_dir, "events")
    exact = (ev.groupBy(F.window("ts", "10 minutes", "2 minutes")
                        .alias("window"), "event_type")
             .agg(F.countDistinct("user_id").alias("exact_distinct"))
             .select(F.col("window.end").alias("time_end"), "event_type",
                     "exact_distinct"))
    return (est.join(exact, ["time_end", "event_type"])
            .select("time_end", "event_type", "exact_distinct",
                    (F.abs(F.col("approx_users") - F.col("exact_distinct"))
                     <= F.lit(0.05) * F.col("exact_distinct"))
                    .alias("within_tol")))


@register("events_sliding_topk", sl.sliding_topk_oracle_sql())
def q_events_sliding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding top-3 users by event count per (10m/2m window, event_type)
    — the pane algebra extended to a RANKED aggregate (the Druid
    topN-on-rollup shape). Explode form; integer counts, deterministic
    tie-break, so no rounding anywhere."""
    return sl.sliding_topk(load_table(spark, sf_dir, "events"),
                           keys=("event_type",), item="user_id", k=3,
                           panes=False)


@register("events_sliding_topk_panes", sl.sliding_topk_oracle_sql())
def q_events_sliding_topk_panes(spark: SparkSession, sf_dir: str
                                ) -> DataFrame:
    """The SAME sliding top-k through the pane decomposition: per-item
    counts are sliding sums of pane counts (exact integers), the rank
    runs over the combined counts — row-identical to the explode form,
    same oracle SQL."""
    return sl.sliding_topk(load_table(spark, sf_dir, "events"),
                           keys=("event_type",), item="user_id", k=3,
                           panes=True)


@register("events_sliding_topk_auto", sl.sliding_topk_oracle_sql())
def q_events_sliding_topk_auto(spark: SparkSession, sf_dir: str
                               ) -> DataFrame:
    """Sliding top-k with the density probe picking the count stage's
    form (density measured per (event_type, user, pane) — exactly the
    pane grouping the count runs); the rank is form-invariant over exact
    integers, so the probe's choice can never change the rows."""
    return sl.sliding_topk(load_table(spark, sf_dir, "events"),
                           keys=("event_type",), item="user_id", k=3,
                           panes="auto")


@register("streaming_sliding_topk_panes", sl.sliding_topk_oracle_sql())
def q_streaming_sliding_topk_panes(spark: SparkSession, sf_dir: str
                                   ) -> DataFrame:
    """Sliding top-k as the STREAMING chained-stateful pane plan: the two
    stateful operators maintain the per-(window, event_type, user) counts
    (state input bounded by #keys x #items x #panes — aggregated
    cardinality, never the event stream); the rank is an output-side
    batch pass over the watermark-finalized append rows, exactly how a
    Druid topN consumes its ingested rollup — ranking inside the stream
    would buffer whole windows for no benefit."""
    from pyspark.sql import Window

    out = _sliding_stream(
        spark, sf_dir, aggs=(("cnt", "count", "user_id"),),
        keys=("event_type", "user_id"))
    w = (Window.partitionBy("time_end", "event_type")
         .orderBy(F.desc("cnt"), F.asc("user_id")))
    return (out.filter(F.col("user_id") != -1)
            .withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= 3)
            .select("time_end", "event_type", "user_id", "cnt", "rk"))


@register("events_sliding_p95", sl.sliding_quantile_oracle_sql())
def q_events_sliding_p95(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding p95 of value per (10m/2m window, user) from a fixed-width
    binned histogram — the pane algebra extended to QUANTILES. The
    estimate derives only from integer bin counts plus the corpus
    min/max, so the ESTIMATE itself is value-checked in DuckDB (the KMV
    property, for quantiles), with error bounded by one bin width.
    Explode form."""
    return sl.sliding_quantile(load_table(spark, sf_dir, "events"),
                               keys=("user_id",), col="value", q=0.95,
                               panes=False)


@register("events_sliding_p95_panes", sl.sliding_quantile_oracle_sql())
def q_events_sliding_p95_panes(spark: SparkSession, sf_dir: str
                               ) -> DataFrame:
    """The SAME sliding p95 through the pane decomposition: bin counts
    are sliding sums of pane counts (the bin is just an extra grouping
    key), the interpolation runs over the combined exact integers —
    bit-identical to the explode form, same oracle SQL. This is the
    scale path: exact sliding percentile state is every raw value;
    histogram state is <= bins integers per (key, pane)."""
    return sl.sliding_quantile(load_table(spark, sf_dir, "events"),
                               keys=("user_id",), col="value", q=0.95,
                               panes=True)


@register("events_sliding_p95_auto", sl.sliding_quantile_oracle_sql())
def q_events_sliding_p95_auto(spark: SparkSession, sf_dir: str
                              ) -> DataFrame:
    """Sliding p95 with the density probe picking the histogram stage's
    form (density per (user, bin, pane) — the histogram's own pane
    grouping); the interpolation is bit-identical either way, so the
    probe's choice can never change the rows."""
    return sl.sliding_quantile(load_table(spark, sf_dir, "events"),
                               keys=("user_id",), col="value", q=0.95,
                               panes="auto")


@register("streaming_sliding_p95_panes", sl.sliding_quantile_oracle_sql())
def q_streaming_sliding_p95_panes(spark: SparkSession, sf_dir: str
                                  ) -> DataFrame:
    """Sliding p95 as the STREAMING chained-stateful pane plan: the bin
    projection is a stateless pre-transform (its (lo, width) literals
    come from static stats — a bounded-replay batch pass here, catalog
    column stats at cluster scale), the two stateful operators maintain
    per-(window, user, bin) counts, and the interpolation folds the
    watermark-finalized histogram rows output-side, like the top-k
    rank."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull())
    lo, hi = ev.agg(F.min("value").cast("double"),
                    F.max("value").cast("double")).head()
    bins = sl.SLIDING_QUANTILE_BINS
    width = (hi - lo) / float(bins)

    def pre(s):
        # keep the flush sentinel (user_id == -1) even if its value were
        # NULL: dropping it here would stall the watermark at the last
        # real ts and silently lose tail windows (round-8 ADVICE; the
        # sentinel writer also coalesces value now — this is the
        # defense-in-depth at the one pre that filters on value).
        # Sentinel rows never reach the output: quantile_fold below
        # filters user_id != -1.
        return (s.filter(F.col("value").isNotNull()
                         | (F.col("user_id") == -1))
                .withColumn("__lo", F.lit(lo))
                .withColumn("__width", F.lit(width))
                .withColumn(
                    "__bin",
                    F.lit(0) if width == 0 else
                    F.least(F.floor((F.col("value") - F.lit(lo))
                                    / F.lit(width)).cast("int"),
                            F.lit(bins - 1))))

    out = _sliding_stream(
        spark, sf_dir, pre=pre,
        aggs=(("cnt", "count", "value"),),
        keys=("user_id", "__bin", "__lo", "__width"))
    return sl.quantile_fold(out.filter(F.col("user_id") != -1),
                            ("user_id",), 0.95)


# --- text analysis ---------------------------------------------------------

@register("text_stats", tx.TEXT_STATS_SQL)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.with_text_stats(load_table(spark, sf_dir, "documents"))


@register("text_lang_id", tx.LANG_ID_SQL)
def q_text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", tx.lang_id("text").alias("lang_pred"))


@register("text_quality", tx.QUALITY_SQL)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", tx.quality_score("text").alias("quality"))


@register("text_fingerprint", tx.FINGERPRINT_SQL)
def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", tx.fingerprint("text").alias("fp"))


# --- dedup -----------------------------------------------------------------

@register("dedup_exact", dd.EXACT_DEDUP_SQL)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.exact_dedup_groups(load_table(spark, sf_dir, "documents"))


@register("dedup_ngram_jaccard", dd.ngram_jaccard_oracle_sql(3, 0.1))
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.ngram_jaccard_pairs(load_table(spark, sf_dir, "documents"),
                                  n=3, threshold=0.1)


@register("dedup_minhash_lsh", dd.minhash_lsh_oracle_sql(32, 8, 3, 0.5))
def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.minhash_lsh_near_dups(load_table(spark, sf_dir, "documents"),
                                    threshold=0.5)


@register("dedup_index_append", dd.minhash_lsh_oracle_sql(32, 8, 3, 0.5))
def q_dedup_index_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-8 persisted dedup index, value-checked end to end: build the
    MinHash band index from an 80% hash slice of the corpus, APPEND the
    remaining two 10% slices as deltas (the append path shingles only the
    delta — the index and historical corpus are never re-read), compact
    the accumulated file sets, then run the full verified near-dup pair
    query over the persisted tables. The result must equal the inline
    pipeline over the full corpus, so it registers against the SAME
    oracle as ``dedup_minhash_lsh`` (`operators/dedup_index.py`)."""
    from insight_de_smart_grid_spark.operators import dedup_index as di

    docs = load_table(spark, sf_dir, "documents")
    b = pl._hash_bucket(F.col("doc_id").cast("string"))
    path = scratch_dir("dedupidx_")
    di.build_dedup_index(docs.filter(b < 80), path)
    di.append_dedup_index(docs.filter((b >= 80) & (b < 90)), path)
    di.append_dedup_index(docs.filter(b >= 90), path)
    di.compact_dedup_index(spark, path)
    return di.index_near_dup_pairs(spark, path)


_IDX_BASE_PCT = 80  # hash-slice split shared by engine query and oracle


def _dedup_index_incremental_sql() -> str:
    """Oracle twin of the incremental-ingest query: the full-corpus mpairs
    CTE chain (identical hashes/banding/verify), filtered to pairs that
    SPAN the base/delta hash split — exactly the pairs a delta-vs-index
    probe can produce (base-base pairs are already in the index's history;
    delta-delta pairs belong to the in-batch dedup pass)."""
    span = " <> ".join(
        f"({pl._hash_bucket_sql(f'CAST({c} AS VARCHAR)')} "
        f"< {_IDX_BASE_PCT})" for c in ("doc_a", "doc_b"))
    return ("WITH " + dd._minhash_pairs_ctes(32, 8, 3, 0.5)
            + f"\nSELECT doc_a, doc_b, jaccard FROM mpairs\nWHERE {span}")


@register("dedup_index_incremental", _dedup_index_incremental_sql())
def q_dedup_index_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The incremental-ingest shape a continuously-curated corpus runs
    daily: near-dup-check a 20% delta against the persisted index of the
    other 80% — the delta's band buckets broadcast against the pruned
    index scan (no index-side shuffle), exact-Jaccard verify from the
    index's stored shingle sets (`operators/dedup_index.py`)."""
    from insight_de_smart_grid_spark.operators import dedup_index as di

    docs = load_table(spark, sf_dir, "documents")
    b = pl._hash_bucket(F.col("doc_id").cast("string"))
    path = scratch_dir("dedupidx_")
    di.build_dedup_index(docs.filter(b < _IDX_BASE_PCT), path)
    return di.dedup_new_against_index(spark, path,
                                      docs.filter(b >= _IDX_BASE_PCT))


@register("dedup_index_ingest_loop", dd.minhash_lsh_oracle_sql(32, 8, 3, 0.5))
def q_dedup_index_ingest_loop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted index's whole lifecycle as a scheduled-ingest loop
    (the reference's Airflow micro-batch mode recast as corpus curation):
    four hash-slice batches arrive in order, each near-dup-checked within
    itself AND against the index of everything before it, then appended.
    The union of every batch's committed pairs must be EXACTLY the
    full-corpus pair set — same oracle as the inline pipeline — proving
    incremental ingest neither loses nor duplicates a pair
    (`operators/dedup_index.py`)."""
    from insight_de_smart_grid_spark.operators import dedup_index as di

    return di.scheduled_ingest_dedup(
        spark, load_table(spark, sf_dir, "documents"),
        scratch_dir("dedupingest_"), n_batches=4)


@register("streaming_dedup_index_ingest",
          dd.minhash_lsh_oracle_sql(32, 8, 3, 0.5))
def q_streaming_dedup_index_ingest(spark: SparkSession, sf_dir: str
                                   ) -> DataFrame:
    """The ingest-dedup loop under REAL Structured Streaming: a
    file-source stream delivers one staged corpus file per micro-batch
    (availableNow + maxFilesPerTrigger=1) and foreachBatch runs the same
    shingle-once batch body against the standing index. Registers against
    the inline full-corpus oracle because the committed pair union is
    slicing-invariant — the contract that makes a file source's
    unspecified file->batch assignment safe
    (`operators/dedup_index.py::streaming_ingest_dedup`)."""
    from insight_de_smart_grid_spark.operators import dedup_index as di

    return di.streaming_ingest_dedup(
        spark, load_table(spark, sf_dir, "documents"),
        scratch_dir("dedupstream_"), n_files=4)


@register("dedup_simhash", dd.simhash_oracle_sql(3))
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.simhash_near_dups(load_table(spark, sf_dir, "documents"),
                                max_hamming=3)


@register("dedup_embedding_cosine", sim.cosine_pairs_oracle_sql(0.95))
def q_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sim.cosine_pairs_blocked(load_table(spark, sf_dir, "embeddings"),
                                    threshold=0.95)


@register("dedup_semantic", sim.semantic_dedup_oracle_sql(0.95))
def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style keep/drop over semantic (embedding-space) duplicates:
    LSH-blocked cosine pairs -> connected components -> min-id keeper,
    singletons kept (`operators/similarity.py::semantic_dedup`)."""
    return sim.semantic_dedup(load_table(spark, sf_dir, "embeddings"),
                              threshold=0.95)


# --- similarity search -----------------------------------------------------

@register("sim_cosine_topk", sim.cosine_topk_oracle_sql(0, 10))
def q_sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sim.cosine_topk(load_table(spark, sf_dir, "embeddings"),
                           query_vec_id=0, k=10)


@register("sim_ann_lsh_topk", sim.lsh_ann_topk_oracle_sql(0, 10, n_planes=8))
def q_sim_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate by construction, yet exactly oracle-checkable: the
    md5-derived plane matrix is identical in both engines, so DuckDB
    reproduces the same buckets, candidates, and re-ranked top-k."""
    return sim.lsh_ann_topk(load_table(spark, sf_dir, "embeddings"),
                            query_vec_id=0, k=10, n_planes=8)


@register("sim_ann_auto_depth",
          sim.lsh_ann_auto_topk_oracle_sql(0, 10, auto_occupancy=4))
def q_sim_ann_auto_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The occupancy-holding scale lever, oracle-checked end-to-end:
    ``n_planes="auto"`` resolves the plane depth from the corpus count
    (ceil-log2 rule, ``auto_n_planes``), and the DuckDB twin derives the
    SAME depth in a scalar CTE before building the identical plane
    family. occupancy=4 makes the sf0.01 corpus (500 vectors) resolve a
    non-clamped depth of 7 — the formula path — while the 20-vector edge
    corpus exercises the lo-clamp path."""
    return sim.lsh_ann_topk(load_table(spark, sf_dir, "embeddings"),
                            query_vec_id=0, k=10, n_planes="auto",
                            auto_occupancy=4)


@register("sim_ann_multiprobe_topk",
          sim.lsh_multiprobe_topk_oracle_sql(0, 10))
def q_sim_ann_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiprobe ANN: probe the query bucket plus its one-bit-flip
    neighbors per table — the recall of many tables at a fraction of the
    index footprint (the storage lever for a persisted 100 TB signature
    index). Same deterministic plane family, so DuckDB replays buckets,
    probes, and the re-ranked top-k exactly."""
    return sim.lsh_multiprobe_topk(load_table(spark, sf_dir, "embeddings"),
                                   query_vec_id=0, k=10)


@register("sim_ann_multiprobe_auto",
          sim.lsh_multiprobe_auto_oracle_sql(0, 10, target_recall=0.999))
def q_sim_ann_multiprobe_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Auto probe-radius multiprobe (round-7 lever): the Hamming probe
    radius is DERIVED from the recall target via the binomial collision
    model (``auto_probe_radius``) instead of hand-picked — target 0.999
    at the 4x8 geometry resolves radius 2 (37 probes/table), exercising
    the multi-bit path the fixed 1-bit form never takes. The DuckDB twin
    derives the identical radius in a scalar CTE, so the lever itself is
    value-checked end to end."""
    return sim.lsh_multiprobe_topk(load_table(spark, sf_dir, "embeddings"),
                                   query_vec_id=0, k=10,
                                   probe_radius="auto",
                                   target_recall=0.999)


@register("sim_ann_index_append", sim.lsh_ann_topk_oracle_sql(0, 10,
                                                              n_planes=8))
def q_sim_ann_index_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-8 incremental index maintenance, value-checked end to end:
    build the persisted signature index from an 80% hash slice of the
    corpus, APPEND the remaining two 10% slices as deltas (the append
    path signature-computes only the delta — the index and historical
    corpus are never read), compact the accumulated file sets, then
    query top-k through the pushed-down bucket probe. The result must
    equal a from-scratch index over the full corpus, so it registers
    against the SAME oracle as ``sim_ann_lsh_topk``
    (`operators/ann_index.py`)."""
    from insight_de_smart_grid_spark.operators import ann_index as ai

    emb = load_table(spark, sf_dir, "embeddings")
    b = pl._hash_bucket(F.col("vec_id").cast("string"))
    path = scratch_dir("annidx_")
    ai.build_signature_index(emb.filter(b < 80), path,
                             n_tables=16, n_planes=8)
    ai.append_signatures(emb.filter((b >= 80) & (b < 90)), path)
    ai.append_signatures(emb.filter(b >= 90), path)
    ai.compact_signature_index(spark, path)
    qv = emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    return ai.query_index_topk(spark, path, qv, k=10, exclude_id=0)


@register("sim_ann_index_multiprobe",
          sim.lsh_multiprobe_topk_oracle_sql(0, 10))
def q_sim_ann_index_multiprobe(spark: SparkSession, sf_dir: str
                               ) -> DataFrame:
    """Multiprobe through the PERSISTED index: the round-7 recall lever
    (Hamming-1 flip probes buy the recall extra tables would) running
    against the round-8 maintained signature table — the probe stays a
    pushed-down (table, bucket IN ...) filter over the pruned scan, so
    one stored 4-table index answers with 4x(8+1)-probe recall at 1/9 of
    the footprint. Registers against the SAME oracle as the inline
    ``sim_ann_multiprobe_topk`` (`operators/ann_index.py`)."""
    from insight_de_smart_grid_spark.operators import ann_index as ai

    emb = load_table(spark, sf_dir, "embeddings")
    path = scratch_dir("annidx_mp_")
    ai.build_signature_index(emb, path, n_tables=4, n_planes=8)
    qv = emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    return ai.query_index_topk(spark, path, qv, k=10, exclude_id=0,
                               probe_radius=1)


@register("sim_ann_index_batch_probe",
          sim.lsh_ann_batch_topk_oracle_sql([0, 7, 23], 10, n_tables=4,
                                            n_planes=8))
def q_sim_ann_index_batch_probe(spark: SparkSession, sf_dir: str
                                ) -> DataFrame:
    """Round-9 batched multi-query ANN probe (VERDICT r8 item 3): a
    delta of Q query vectors is answered in ONE job — the delta is
    signatured with the index's frozen geometry, its (table, bucket)
    probe set broadcast against the pruned bands scan, the matched
    candidates broadcast into the single-copy ``vectors/`` table for the
    exact cosine re-rank, ``row_number``-ranked per query. Per query id
    the rows equal the per-query ``query_index_topk`` loop (pinned in
    test_ann_index.py); the DuckDB twin generalizes
    ``lsh_ann_topk_oracle_sql`` to the id set
    (`operators/ann_index.py:query_index_batch_topk`)."""
    from insight_de_smart_grid_spark.operators import ann_index as ai

    emb = load_table(spark, sf_dir, "embeddings")
    path = scratch_dir("annidx_bp_")
    ai.build_signature_index(emb, path, n_tables=4, n_planes=8)
    queries = emb.filter(F.col("vec_id").isin([0, 7, 23]))
    return ai.query_index_batch_topk(spark, path, queries, k=10)


@register("sim_ann_index_ingest_loop",
          sim.ann_index_ingest_oracle_sql(4, 5, n_tables=4, n_planes=8))
def q_sim_ann_index_ingest_loop(spark: SparkSession, sf_dir: str
                                ) -> DataFrame:
    """Round-9 ANN ingest lifecycle (the ANN twin of
    ``dedup_index_ingest_loop``): the corpus arrives as four
    deterministic id-slices in order; slice 0 creates the persisted
    index, each later slice is ANN-checked against the index of
    everything ingested before it with ONE batched probe job, then
    appended — probe log and index segments committed per batch in one
    manifest bump. The DuckDB twin reproduces "the standing index at
    arrival" as the static earlier-slice predicate
    (`operators/ann_index.py:ingest_ann_index`)."""
    from insight_de_smart_grid_spark.operators import ann_index as ai

    emb = load_table(spark, sf_dir, "embeddings")
    path = scratch_dir("annidx_loop_")
    return ai.ingest_ann_index(spark, emb, path, n_batches=4, k=5,
                               n_tables=4, n_planes=8)


@register("streaming_ann_index_ingest",
          sim.ann_index_ingest_oracle_sql(4, 5, n_tables=4, n_planes=8))
def q_streaming_ann_index_ingest(spark: SparkSession, sf_dir: str
                                 ) -> DataFrame:
    """The same ANN ingest lifecycle driven by REAL Structured Streaming
    micro-batches (one slice file per availableNow trigger, mtime-pinned
    arrival order — the probe log is batching-dependent by design, so
    order is part of the contract). Same oracle as the scheduled loop
    (`operators/ann_index.py:streaming_ingest_ann`)."""
    from insight_de_smart_grid_spark.operators import ann_index as ai

    emb = load_table(spark, sf_dir, "embeddings")
    base = scratch_dir("annidx_sing_")
    return ai.streaming_ingest_ann(spark, emb, base, n_batches=4, k=5,
                                   n_tables=4, n_planes=8)


@register("sim_ivf_index_maintained",
          sim.ivf_portable_topk_oracle_sql(7))
def q_sim_ivf_index_maintained(spark: SparkSession, sf_dir: str
                               ) -> DataFrame:
    """Round-9 third persisted index family: the IVF inverted-file index
    with its quantizer FROZEN at creation. Build on the id-ordered first
    80% of the corpus (which contains every centroid id, so the frozen
    quantizer equals the full-corpus one), append the remaining 20%
    against the frozen centroid broadcast (the append reads the delta
    plus the k-row centroid table, never the lists), compact, then probe:
    nprobe cluster ids pushed into the cluster-partitioned lists scan as
    PartitionFilters. Result equals the inline ``ivf_portable_topk`` —
    same oracle SQL verbatim (`operators/ivf_index.py`)."""
    from insight_de_smart_grid_spark.operators import ivf_index as ii

    emb = load_table(spark, sf_dir, "embeddings")
    cut = int(emb.agg(F.floor(0.8 * (F.max("vec_id") + 1))).head()[0])
    path = scratch_dir("ivfidx_")
    ii.build_ivf_index(emb.filter(F.col("vec_id") < cut), path)
    ii.append_ivf_index(emb.filter(F.col("vec_id") >= cut), path)
    ii.compact_ivf_index(spark, path)
    qv = emb.filter(F.col("vec_id") == 7).select("embedding").head()[0]
    return ii.query_ivf_topk(spark, path, qv, k=10, nprobe=4,
                             exclude_id=7)


@register("sim_ivf_index_batch_probe",
          sim.ivf_portable_batch_topk_oracle_sql([0, 7, 23], 10))
def q_sim_ivf_index_batch_probe(spark: SparkSession, sf_dir: str
                                ) -> DataFrame:
    """Batched multi-query probe through the persisted IVF index — the
    IVF analog of ``sim_ann_index_batch_probe``: per-query nprobe lists
    from the frozen centroid broadcast, the bounded probed-cluster union
    pushed into the cluster-partitioned lists scan as PartitionFilters,
    exact re-rank ranked per query — one job for the whole delta
    (`operators/ivf_index.py:query_ivf_batch_topk`)."""
    from insight_de_smart_grid_spark.operators import ivf_index as ii

    emb = load_table(spark, sf_dir, "embeddings")
    path = scratch_dir("ivfidx_bp_")
    ii.build_ivf_index(emb, path)
    queries = emb.filter(F.col("vec_id").isin([0, 7, 23]))
    return ii.query_ivf_batch_topk(spark, path, queries, k=10, nprobe=4)


@register("sim_ann_index_cosine_pairs", sim.cosine_pairs_oracle_sql(0.95))
def q_sim_ann_index_cosine_pairs(spark: SparkSession, sf_dir: str
                                 ) -> DataFrame:
    """Full-index semantic near-dup pairs through the MAINTAINED ANN
    index — the vector twin of ``dedup_index_append``'s pair query:
    build on an 80% hash slice, append the remaining two deltas, compact,
    then run the bucket self-join + exact-verify pair query over the
    index's own bands/vectors tables. Bucket membership is static, so
    the maintained index answers row-identically to the inline
    ``cosine_pairs_blocked`` and shares its oracle verbatim
    (`operators/ann_index.py:index_cosine_pairs`)."""
    from insight_de_smart_grid_spark.operators import ann_index as ai

    emb = load_table(spark, sf_dir, "embeddings")
    b = pl._hash_bucket(F.col("vec_id").cast("string"))
    path = scratch_dir("annidx_cp_")
    ai.build_signature_index(emb.filter(b < 80), path,
                             n_tables=16, n_planes=10)
    ai.append_signatures(emb.filter((b >= 80) & (b < 90)), path)
    ai.append_signatures(emb.filter(b >= 90), path)
    ai.compact_signature_index(spark, path)
    return ai.index_cosine_pairs(spark, path, threshold=0.95)


@register("dedup_semantic_keep_best", sim.semantic_keep_best_oracle_sql())
def q_dedup_semantic_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal curation: semantic clusters from the embedding side,
    quality-ranked keeper from the text side; docs without embeddings pass
    through as singletons."""
    return sim.semantic_keep_best(load_table(spark, sf_dir, "documents"),
                                  load_table(spark, sf_dir, "embeddings"))


@register("sim_kmeans_portable", sim.kmeans_portable_oracle_sql())
def q_sim_kmeans_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fully distributed Lloyd k-means (no driver-side training sample):
    BIGINT micro-unit vectors, integer dot-product distances, integer-mean
    centroid updates, smallest-id seeding — bit-exact cross-engine."""
    return sim.kmeans_portable(load_table(spark, sf_dir, "embeddings"))


@register("sim_pagerank", sim.pagerank_knn_oracle_sql())
def q_sim_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the approximate kNN graph (three rounds,
    damping 0.85). Integer micro-unit arithmetic end to end, so both
    engines agree bit-for-bit with no float summation order in play."""
    return sim.pagerank_knn(load_table(spark, sf_dir, "embeddings"))


@register("sim_label_propagation", sim.label_propagation_oracle_sql())
def q_sim_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-supervised label spreading over the approximate kNN graph:
    20% clamped seeds (vec_id % 5 == 0), two majority-vote rounds.
    Integer votes + smallest-label tie-break keep both engines exact."""
    return sim.label_propagation(load_table(spark, sf_dir, "embeddings"))


# --- multimodal plumbing ---------------------------------------------------

@register("multimodal_binary_meta", mm.BINARY_METADATA_SQL)
def q_multimodal_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    return mm.binary_metadata(load_table(spark, sf_dir, "documents"))


@register("multimodal_decode_fake", mm.DECODE_FAKE_SQL)
def q_multimodal_decode_fake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic decode stub through the real mapInPandas plumbing; the
    sha256-arithmetic fake is reproduced exactly by the DuckDB oracle."""
    docs = load_table(spark, sf_dir, "documents")
    return mm.decode_media(mm.attach_binary_payload(docs), fake=True)


@register("multimodal_frame_sample", mm.FRAME_SAMPLE_SQL)
def q_multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame fan-out through mapInPandas; driver-facing shape hashes the
    frame bytes instead of carrying them (bytearray cells aren't hashable
    in the comparison harness)."""
    docs = load_table(spark, sf_dir, "documents")
    frames = mm.sample_frames(mm.attach_binary_payload(docs), fake=True)
    return frames.select(
        "doc_id", "frame_idx",
        F.octet_length("frame_bytes").alias("frame_len"),
        "frame_sha")


@register("multimodal_audio_decode", mm.AUDIO_DECODE_SQL)
def q_multimodal_audio_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio path (stdlib ``wave``, no external libs): synthesize a
    PCM16 WAV per doc executor-side, then decode it back — header fields
    and PCM acoustics — through the same Arrow mapInPandas plumbing as the
    image decoders. The square wave's closed form makes the decoded values
    exactly oracle-checkable without DuckDB parsing RIFF."""
    docs = load_table(spark, sf_dir, "documents")
    return mm.decode_audio(mm.attach_audio_payload(docs))


@register("streaming_media_decode", mm.AUDIO_DECODE_SQL)
def q_streaming_media_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal ingestion as a STREAM: the same stdlib-wave encode+decode
    stages run inside a Structured Streaming plan (stateless Arrow
    mapInPandas per micro-batch, append mode, availableNow) — the shape a
    media lake uses to decode/feature new arrivals incrementally. Stateless,
    so the streamed result equals the batch decode exactly and shares its
    closed-form oracle."""
    from insight_de_smart_grid_spark.streaming.replay import (
        replay_parquet_stream,
    )

    return replay_parquet_stream(
        spark, f"{sf_dir}/documents.parquet",
        lambda s: mm.decode_audio(mm.attach_audio_payload(s)))


@register("pipeline_model_score", tx.MODEL_QUALITY_SQL)
def q_pipeline_model_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering (the fastText-classifier stage of
    CCNet/DCLM-style pipelines): a linear model over engineered text
    features with an algebraic sigmoid — only IEEE-exact ops, so both
    engines agree bit-for-bit. Pure projection: no shuffle, scan speed."""
    return tx.model_quality_score(load_table(spark, sf_dir, "documents"))


@register("pipeline_train_quality_clf",
          tx.train_quality_classifier_oracle_sql())
def q_pipeline_train_quality_clf(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Distributed full-batch trainer for the linear quality model (the
    stage that produces pipeline_model_score's weights): integer-micro
    logistic-style descent, one map-side-combined 5-column aggregate per
    epoch, weights as a staged 1-row broadcast — zero driver-side data.
    The DuckDB twin unrolls the epochs as chained CTEs and matches
    bit-for-bit (all-BIGINT arithmetic)."""
    return tx.train_quality_classifier(
        load_table(spark, sf_dir, "documents"))


@register("curate_corpus", tx.CURATE_SQL)
def q_curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship composition: lang filter -> quality gate -> fingerprint
    dedup -> per-source summary in one plan (the end-to-end shape of a
    training-data curation run)."""
    docs = load_table(spark, sf_dir, "documents")
    return tx.curate_corpus(docs)


@register("multimodal_resize_fake", mm.RESIZE_FAKE_SQL)
def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize stub through the real mapInPandas plumbing (binary->binary);
    driver-facing shape hashes the resized payload instead of carrying it."""
    docs = load_table(spark, sf_dir, "documents")
    resized = mm.resize_media(mm.attach_binary_payload(docs), fake=True)
    # hash the lowercase-hex encoding of the sliced payload: the oracle's
    # sha256 only takes VARCHAR and a byte slice may not be valid UTF-8
    return resized.select(
        "doc_id", "width", "height", "n_bytes",
        F.sha2(F.lower(F.hex("payload")), 256).alias("payload_sha"))


@register("multimodal_feature_extract", mm.FEATURE_EXTRACT_SQL)
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-extraction stub, exploded to one scalar row per embedding
    component so the comparison harness can sort/hash it (array<float>
    cells crash pandas factorize)."""
    docs = load_table(spark, sf_dir, "documents")
    return mm.extract_features_exploded(mm.attach_binary_payload(docs),
                                        fake=True)


@register("text_winnow_fingerprint", tx.winnow_stats_oracle_sql())
def q_text_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash (winnowing) fingerprints per document — Arrow-vectorized
    pass (see ``winnow_stats_arrow``)."""
    docs = load_table(spark, sf_dir, "documents")
    return tx.winnow_stats_arrow(docs)


@register("dedup_winnow", dd.winnow_near_dups_oracle_sql())
def q_dedup_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS-style near-dup pairs: >= 5 shared rare winnowed fingerprints."""
    docs = load_table(spark, sf_dir, "documents")
    return dd.winnow_near_dups(docs)


@register("dedup_winnow_lsh", dd.winnow_lsh_oracle_sql())
def q_dedup_winnow_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked corpus-scale winnow tier (round-7): the exact MOSS scoring
    (same rare-fingerprint rule, same n_shared counts) computed only on
    MinHash+LSH band candidates — candidate volume bounded by band-bucket
    collisions, never by fingerprint document frequency."""
    docs = load_table(spark, sf_dir, "documents")
    return dd.winnow_near_dups_lsh(docs)


# --- training-pipeline utilities (operators/pipeline.py) -------------------

@register("pipeline_dataset_split", pl.dataset_split_oracle_sql())
def q_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based train/val/test assignment."""
    return pl.dataset_split(load_table(spark, sf_dir, "documents"))


@register("pipeline_stratified_sample", pl.stratified_sample_oracle_sql())
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~25% deterministic sample within each source stratum."""
    return pl.stratified_sample(load_table(spark, sf_dir, "documents"))


@register("pipeline_tfidf_top_terms", pl.tfidf_oracle_sql())
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF keywords per document."""
    return pl.tfidf_top_terms(load_table(spark, sf_dir, "documents"))


@register("pipeline_label_centroids", pl.label_centroids_oracle_sql())
def q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean embedding per label, exploded to (label, dim_idx, centroid)."""
    return pl.label_centroids(load_table(spark, sf_dir, "embeddings"))


@register("pipeline_latest_compaction", pl.latest_compaction_oracle_sql())
def q_latest_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC compaction: newest event per (user, event_type)."""
    return pl.latest_compaction(load_table(spark, sf_dir, "events"))


@register("pipeline_length_histogram", pl.length_histogram_oracle_sql())
def q_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width n_chars histogram (corpus profile view)."""
    return pl.length_histogram(load_table(spark, sf_dir, "documents"))


@register("dedup_clusters", dd.dup_clusters_oracle_sql())
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over n-gram-Jaccard near-dup pairs (the EXACT
    verify tier: pair generation is the full shingle inversion, which is
    quadratic in the document frequency of shared boilerplate shingles —
    measured collapse under planted stop-shingle skew in
    tests/test_scale_stress.py; `dedup_clusters_lsh` is the corpus-scale
    form)."""
    docs = load_table(spark, sf_dir, "documents")
    return dd.dup_clusters(dd.ngram_jaccard_pairs(docs))


@register("dedup_clusters_lsh", dd.dup_clusters_lsh_oracle_sql())
def q_dedup_clusters_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over MinHash+LSH near-dup pairs — the blocked
    100 TB clustering tier: candidate volume is bounded by band-bucket
    collisions (never by shared-shingle document frequency), so the
    boilerplate-heavy corpus that OOMs the exact tier streams through
    (tests/test_scale_stress.py sweeps it at 10x with a planted hot
    phrase)."""
    docs = load_table(spark, sf_dir, "documents")
    return dd.dup_clusters(dd.minhash_lsh_near_dups(docs, threshold=0.5))


@register("pipeline_decontaminate", pl.decontaminate_oracle_sql())
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train docs sharing a 5-gram with the hash-sliced holdout set."""
    return pl.decontaminate(load_table(spark, sf_dir, "documents"))


@register("pipeline_weighted_mix", pl.weighted_mix_oracle_sql())
def q_weighted_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language mixture downsampling via a broadcast weights dim."""
    return pl.weighted_mix(load_table(spark, sf_dir, "documents"))


@register("pipeline_pack_sequences", pl.pack_sequences_oracle_sql())
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sequence packing: (doc, shard, start seq_idx)."""
    return pl.pack_sequences(load_table(spark, sf_dir, "documents"))


@register("pipeline_quantile_filter", pl.quantile_filter_oracle_sql())
def q_quantile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source bottom-decile length cut (exact ntile)."""
    return pl.quantile_filter(load_table(spark, sf_dir, "documents"))


@register("pipeline_quantile_threshold",
          pl.quantile_filter_threshold_oracle_sql())
def q_quantile_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source percentile cut via broadcast thresholds (the scale path —
    no per-source full sort of the corpus)."""
    return pl.quantile_filter_threshold(load_table(spark, sf_dir,
                                                   "documents"))


@register("text_repetition", tx.repetition_oracle_sql())
def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-doc n-gram repetition ratios (looping/boilerplate signal)."""
    return tx.repetition_stats(load_table(spark, sf_dir, "documents"))


@register("dedup_prefix_suffix", dd.prefix_suffix_oracle_sql())
def q_dedup_prefix_suffix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boundary-overlap pairs: one doc's trailing k-gram is another's
    leading k-gram (re-chunked crawl seam)."""
    return dd.prefix_suffix_pairs(load_table(spark, sf_dir, "documents"))


@register("dedup_incremental", dd.incremental_dedup_oracle_sql())
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-refresh dedup: the incoming hash slice anti-joined on
    fingerprint against the existing corpus slice."""
    docs = load_table(spark, sf_dir, "documents")
    b = pl._hash_bucket(F.col("doc_id").cast("string"))
    return dd.incremental_dedup(docs.filter(b >= 80), docs.filter(b < 80))


@register("pipeline_corpus_diff", pl.corpus_diff_oracle_sql())
def q_corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff: added/removed/changed/unchanged between two
    deterministic snapshot views of the corpus."""
    old, new = pl.snapshot_views(load_table(spark, sf_dir, "documents"))
    return pl.corpus_diff(old, new)


@register("sim_hard_negatives", sim.lsh_hard_negatives_oracle_sql())
def q_sim_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-anchor top-3 different-label neighbors from LSH buckets
    (contrastive-training hard negatives) — exactly oracle-checked via the
    portable plane matrix."""
    return sim.lsh_hard_negatives(load_table(spark, sf_dir, "embeddings"))


@register("text_source_overlap", dd.source_overlap_oracle_sql(3))
def q_text_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source-level n-gram overlap matrix (mirror/contamination
    triage) — `operators/dedup.py::source_overlap`."""
    return dd.source_overlap(load_table(spark, sf_dir, "documents"))


@register("pipeline_balanced_shards", pl.balanced_shards_oracle_sql())
def q_pipeline_balanced_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-balanced shard assignment: decile-tiled round-robin deal so
    every shard gets near-equal total characters without a global sort —
    `operators/pipeline.py::balanced_shards`."""
    return pl.balanced_shards(load_table(spark, sf_dir, "documents"))


@register("dedup_incremental_bloom", dd.incremental_dedup_oracle_sql())
def q_dedup_incremental_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same contract as `dedup_incremental`, through the explicit
    bloom-prefilter path (`operators/dedup.py::incremental_dedup_bloom`) —
    bit-identical output (no false negatives), so it shares the exact
    oracle; the plan shuffles only the might_contain suspects."""
    docs = load_table(spark, sf_dir, "documents")
    b = pl._hash_bucket(F.col("doc_id").cast("string"))
    return dd.incremental_dedup_bloom(docs.filter(b >= 80),
                                      docs.filter(b < 80))


@register("dedup_jaccard_prefix", dd.ngram_jaccard_oracle_sql(3, 0.5))
def q_dedup_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-filtered exact Jaccard join (AllPairs/PPJoin) — identical
    final semantics to full shingle inversion (it shares the plain
    ngram-Jaccard oracle at the same threshold) with candidate volume
    bounded by rare-shingle prefixes —
    `operators/dedup.py::jaccard_pairs_prefix_filtered`."""
    return dd.jaccard_pairs_prefix_filtered(
        load_table(spark, sf_dir, "documents"), n=3, threshold=0.5)


@register("pipeline_weighted_sample", pl.weighted_sample_oracle_sql())
def q_pipeline_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis-Spirakis race keys
    over portable md5 uniforms): one TakeOrderedAndProject, no shuffle —
    `operators/pipeline.py::weighted_sample`."""
    return pl.weighted_sample(load_table(spark, sf_dir, "documents"))


@register("dedup_blast_radius", dd.blast_radius_oracle_sql())
def q_dedup_blast_radius(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-hop BFS over the near-dup graph (iterative
    deduplicated-frontier expansion; minimum hop count per reachable doc
    from the smallest paired id; DuckDB WITH RECURSIVE oracle twin) —
    `operators/dedup.py::near_dup_blast_radius`."""
    return dd.near_dup_blast_radius(load_table(spark, sf_dir, "documents"))


@register("events_winsorize", """
WITH caps AS (
  SELECT event_type,
         quantile_cont(value, 0.01) AS lo, quantile_cont(value, 0.99) AS hi
  FROM events GROUP BY 1
)
SELECT event_id, e.event_type,
       round(value, 6) AS value,
       round(least(greatest(value, lo), hi), 6) AS value_w
FROM events e JOIN caps USING (event_type)
""")
def q_events_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type percentile capping (1%/99% winsorization) via a
    broadcast caps table — `operators/cleanse.py::winsorize`."""
    from insight_de_smart_grid_spark.operators.cleanse import winsorize

    ev = load_table(spark, sf_dir, "events")
    return (winsorize(ev, "value", ["event_type"])
            .select("event_id", "event_type",
                    F.round("value", 6).alias("value"),
                    F.round("value_w", 6).alias("value_w")))


@register("pipeline_time_split", pl.time_split_oracle_sql())
def q_pipeline_time_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe temporal train/test split summary at the 0.8 time
    quantile — `operators/pipeline.py::time_split_summary`."""
    return pl.time_split_summary(load_table(spark, sf_dir, "events"))


@register("pipeline_group_kfold", pl.group_kfold_oracle_sql())
def q_pipeline_group_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-aware k-fold assignment (fold is a function of user_id, so no
    user straddles folds) — `operators/pipeline.py::group_kfold`."""
    return pl.group_kfold(load_table(spark, sf_dir, "events"))


@register("dedup_threshold_sweep", dd.threshold_sweep_oracle_sql())
def q_dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard-bucket pair histogram in one inversion pass (threshold
    tuning) — `operators/dedup.py::jaccard_threshold_sweep`."""
    return dd.jaccard_threshold_sweep(load_table(spark, sf_dir, "documents"))


@register("sim_knn_graph", sim.knn_graph_oracle_sql())
def q_sim_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate kNN graph over LSH-bucket candidates (top-3 neighbors
    per vector, exact-verified) — `operators/similarity.py::knn_graph`."""
    return sim.knn_graph(load_table(spark, sf_dir, "embeddings"))


@register("pipeline_token_budget", pl.token_budget_oracle_sql())
def q_pipeline_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token accounting with corpus share and cumulative share
    — `operators/pipeline.py::token_budget_report`."""
    return pl.token_budget_report(load_table(spark, sf_dir, "documents"))


# the oracle must TRAIN on the same corpus the index was built on (the
# id-ordered first 80%): on a corpus smaller than train_rows the build
# slice and the full corpus train different centroids (edge corpus)
_TRAIN_SLICE = ("(SELECT * FROM embeddings WHERE vec_id < "
                "(SELECT floor(0.8 * (max(vec_id) + 1)) FROM embeddings))")


@register("sim_ivf_trained_maintained",
          ivf.ivf_trained_topk_oracle_sql(7, k=10, n_centroids=8,
                                          nprobe=4,
                                          train_table=_TRAIN_SLICE))
def q_sim_ivf_trained_maintained(spark: SparkSession, sf_dir: str
                                 ) -> DataFrame:
    """Round-10 trained IVF quantizer (VERDICT r9 item 2): build with
    ``quantizer="kmeans"`` — deterministic bounded-sample spherical
    k-means on a 6-decimal grid — on the id-ordered first 80% of the
    corpus (which contains the whole training sample, so the frozen
    quantizer equals the full-corpus one), append the remaining 20%
    against the frozen centroids, compact, probe. The DuckDB twin
    replays the TRAINING itself in SQL CTEs
    (`operators/ivf_index.py::kmeans_centroids_cte_sql`), then the
    standard assignment/probe/re-rank — the trained family is
    value-checked cross-engine, training included."""
    from insight_de_smart_grid_spark.operators import ivf_index as ii

    emb = load_table(spark, sf_dir, "embeddings")
    cut = int(emb.agg(F.floor(0.8 * (F.max("vec_id") + 1))).head()[0])
    path = scratch_dir("ivfidx_km_")
    ii.build_ivf_index(emb.filter(F.col("vec_id") < cut), path,
                       n_centroids=8, quantizer="kmeans")
    ii.append_ivf_index(emb.filter(F.col("vec_id") >= cut), path)
    ii.compact_ivf_index(spark, path)
    qv = emb.filter(F.col("vec_id") == 7).select("embedding").head()[0]
    return ii.query_ivf_topk(spark, path, qv, k=10, nprobe=4,
                             exclude_id=7)


@register("sim_ivf_index_ingest_loop",
          ivf.ivf_index_ingest_oracle_sql(4, 5, n_centroids=4))
def q_sim_ivf_index_ingest_loop(spark: SparkSession, sf_dir: str
                                ) -> DataFrame:
    """The IVF index's whole lifecycle as one scheduled-ingest loop
    (VERDICT r9 item 7): slice 0 builds (frozen portable quantizer from
    slice 0's lowest ids), each later slice is probed against the
    standing index in ONE batched job and appended, probe + lists in one
    atomic bump (`operators/ivf_index.py::ingest_ivf_index`)."""
    from insight_de_smart_grid_spark.operators import ivf_index as ii

    emb = load_table(spark, sf_dir, "embeddings")
    path = scratch_dir("ivfidx_loop_")
    # n_centroids=4: slice 0 must hold at least n_centroids nonzero
    # vectors on EVERY oracle corpus (the edge fixture's slice 0 has 5)
    return ii.ingest_ivf_index(spark, emb, path, n_batches=4, k=5,
                               n_centroids=4)


@register("streaming_ivf_index_ingest",
          ivf.ivf_index_ingest_oracle_sql(4, 5, n_centroids=4))
def q_streaming_ivf_index_ingest(spark: SparkSession, sf_dir: str
                                 ) -> DataFrame:
    """The same IVF ingest lifecycle driven by REAL Structured Streaming
    micro-batches (mtime-pinned slice files, one per availableNow
    trigger) — same static-slice oracle as the scheduled loop
    (`operators/ivf_index.py::streaming_ingest_ivf`)."""
    from insight_de_smart_grid_spark.operators import ivf_index as ii

    emb = load_table(spark, sf_dir, "embeddings")
    base = scratch_dir("ivfidx_sing_")
    return ii.streaming_ingest_ivf(spark, emb, base, n_batches=4, k=5,
                                   n_centroids=4)


@register("dedup_index_incremental_bucketed", _dedup_index_incremental_sql())
def q_dedup_index_incremental_bucketed(spark: SparkSession, sf_dir: str
                                       ) -> DataFrame:
    """The same incremental-ingest probe through a ``layout="bucketed"``
    index in ``mode="shuffle"`` — the multi-GB-delta deployment path:
    bands and docs are bucket-written on the join keys, so the shuffled
    probe moves ONLY the delta; the corpus-sized index side is read
    bucket-aligned with zero Exchange (round-10, VERDICT r9 item 3).
    Same oracle as ``dedup_index_incremental``
    (`operators/dedup_index.py::_probe_with_sigs`,
    `operators/index_base.py::join_each_segment`)."""
    from insight_de_smart_grid_spark.operators import dedup_index as di

    docs = load_table(spark, sf_dir, "documents")
    b = pl._hash_bucket(F.col("doc_id").cast("string"))
    path = scratch_dir("dedupidx_bk_")
    di.build_dedup_index(docs.filter(b < _IDX_BASE_PCT), path,
                         layout="bucketed")
    return di.dedup_new_against_index(spark, path,
                                      docs.filter(b >= _IDX_BASE_PCT),
                                      mode="shuffle")


@register("sim_ann_index_batch_probe_bucketed",
          sim.lsh_ann_batch_topk_oracle_sql([0, 7, 23], 10, n_tables=4,
                                            n_planes=8))
def q_sim_ann_index_batch_probe_bucketed(spark: SparkSession, sf_dir: str
                                         ) -> DataFrame:
    """The batched ANN probe through a ``layout="bucketed"`` index in
    ``mode="shuffle"`` — the multi-GB-delta deployment path: bands
    bucket-written on (table, bucket) and vectors on the id, so the
    shuffled probe moves only the (query_id-slim, round-10) delta and
    candidate sets; the index side is read bucket-aligned with zero
    Exchange (VERDICT r9 items 3+4). Same oracle as
    ``sim_ann_index_batch_probe``
    (`operators/ann_index.py::query_index_batch_topk`,
    `operators/index_base.py::join_each_segment`)."""
    from insight_de_smart_grid_spark.operators import ann_index as ai

    emb = load_table(spark, sf_dir, "embeddings")
    path = scratch_dir("annidx_bpbk_")
    ai.build_signature_index(emb, path, n_tables=4, n_planes=8,
                             layout="bucketed")
    queries = emb.filter(F.col("vec_id").isin([0, 7, 23]))
    return ai.query_index_batch_topk(spark, path, queries, k=10,
                                     mode="shuffle")


@register("sim_ivf_trained_batch_probe",
          ivf.ivf_trained_batch_topk_oracle_sql([0, 7, 23], 10,
                                                n_centroids=8, nprobe=4))
def q_sim_ivf_trained_batch_probe(spark: SparkSession, sf_dir: str
                                  ) -> DataFrame:
    """Batched multi-query probe through the TRAINED (kmeans) IVF index:
    the round-10 quantizer and the one-job batch probe composed — the
    DuckDB twin replays the training CTEs and then the per-query
    nprobe/re-rank, so the deployment-shape path (train once, batch-probe
    every arriving delta) is value-checked end-to-end
    (`operators/ivf_index.py::query_ivf_batch_topk`,
    `ivf_trained_batch_topk_oracle_sql`)."""
    from insight_de_smart_grid_spark.operators import ivf_index as ii

    emb = load_table(spark, sf_dir, "embeddings")
    path = scratch_dir("ivfidx_kmbp_")
    ii.build_ivf_index(emb, path, n_centroids=8, quantizer="kmeans")
    queries = emb.filter(F.col("vec_id").isin([0, 7, 23]))
    return ii.query_ivf_batch_topk(spark, path, queries, k=10, nprobe=4)


@register("sim_ivf_index_retrained",
          ivf.ivf_trained_topk_oracle_sql(7, k=10, n_centroids=8,
                                          nprobe=4))
def q_sim_ivf_index_retrained(spark: SparkSession, sf_dir: str
                              ) -> DataFrame:
    """Quantizer retrain as a first-class maintenance op (round-10):
    build with the portable quantizer, then RETRAIN to an 8-centroid
    kmeans quantizer from the index's OWN single-copy vectors — the
    corpus is never re-read; centroids, lists, and the geometry meta
    swap in one atomic manifest bump. The probe equals a fresh kmeans
    build over the same corpus, so the query shares the trained oracle
    (training replayed in SQL) verbatim
    (`operators/ivf_index.py::retrain_ivf_index`)."""
    from insight_de_smart_grid_spark.operators import ivf_index as ii

    emb = load_table(spark, sf_dir, "embeddings")
    path = scratch_dir("ivfidx_rt_")
    ii.build_ivf_index(emb, path, n_centroids=16)
    ii.retrain_ivf_index(spark, path, n_centroids=8, quantizer="kmeans")
    qv = emb.filter(F.col("vec_id") == 7).select("embedding").head()[0]
    return ii.query_ivf_topk(spark, path, qv, k=10, nprobe=4,
                             exclude_id=7)


@register("sim_ann_index_rebuilt",
          sim.lsh_ann_auto_topk_oracle_sql(0, 10, n_tables=4,
                                           auto_occupancy=4))
def q_sim_ann_index_rebuilt(spark: SparkSession, sf_dir: str
                            ) -> DataFrame:
    """Depth rebuild as a first-class maintenance op (round-10): an
    auto-depth index created on 40% of the corpus freezes a depth the
    grown corpus outgrows; REBUILD re-signatures the index's own vectors
    at the re-derived depth — only bands/ rewritten, geometry + segment
    in one atomic bump — and then answers exactly like the inline
    auto-depth query over the full corpus, whose oracle derives the same
    depth in a scalar CTE
    (`operators/ann_index.py::rebuild_signature_index`)."""
    from insight_de_smart_grid_spark.operators import ann_index as ai

    emb = load_table(spark, sf_dir, "embeddings")
    path = scratch_dir("annidx_rb_")
    b = F.pmod(F.xxhash64(F.col("vec_id").cast("string")), 100)
    ai.build_signature_index(emb.filter(b < 40), path, n_tables=4,
                             n_planes="auto", auto_occupancy=4)
    ai.append_signatures(emb.filter(b >= 40), path)
    ai.rebuild_signature_index(spark, path, n_planes="auto",
                               auto_occupancy=4)
    qv = emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    return ai.query_index_topk(spark, path, qv, k=10, exclude_id=0)


# --- round-11: delete/tombstone lifecycle + derived nprobe -------------------

def _deleted_pairs_oracle(inner: str, a: str, b: str, pred: str) -> str:
    """Wrap a full-corpus pair oracle with a survivors-only filter on
    both endpoints. Valid because LSH candidacy and the pairwise verify
    are per-doc independent: removing documents removes exactly the
    pairs that touch them — recomputing on the reduced corpus and
    filtering the full-corpus pair set are the same set."""
    return (f"SELECT * FROM ({inner})\n"
            f"WHERE NOT ({pred.format(id=a)}) AND NOT ({pred.format(id=b)})")


_DEL_DOC = "{id} % 7 = 3"          # dedup family's deleted-doc predicate
_DEL_VEC = "{id} % 9 = 4 AND {id} >= 50"   # ANN/IVF deleted vectors
# (the >= 50 floor keeps every portable-quantizer centroid id — the 16
# lowest nonzero ids — out of the deleted set, so a clean rebuild of the
# survivor corpus freezes the identical geometry)


@register("dedup_index_deleted",
          _deleted_pairs_oracle(dd.minhash_lsh_oracle_sql(32, 8, 3, 0.5),
                                "doc_a", "doc_b", _DEL_DOC))
def q_dedup_index_deleted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-11 delete lifecycle, value-checked end to end: build the
    full-corpus dedup index, tombstone a doc slice (ONE manifest bump —
    pairs involving those docs vanish immediately), then COMPACT: the
    doc/band rows are physically dropped and the tombstones cleared in
    the same atomic replace. The pair query must equal a clean rebuild
    WITHOUT the deleted docs — the inverse of the append==rebuild
    contract — which the oracle expresses as the full-corpus pair set
    filtered to surviving endpoints
    (`operators/dedup_index.py::delete_from_dedup_index`,
    `operators/index_base.py::delete_ids`)."""
    from insight_de_smart_grid_spark.operators import dedup_index as di

    docs = load_table(spark, sf_dir, "documents")
    path = scratch_dir("dedupidx_del_")
    di.build_dedup_index(docs, path)
    di.delete_from_dedup_index(
        spark, path, docs.filter(F.col("doc_id") % 7 == 3)
        .select("doc_id"))
    di.compact_dedup_index(spark, path)
    return di.index_near_dup_pairs(spark, path)


@register("sim_ann_index_deleted",
          _deleted_pairs_oracle(sim.cosine_pairs_oracle_sql(0.95),
                                "vec_a", "vec_b", _DEL_VEC))
def q_sim_ann_index_deleted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN-family delete lifecycle: tombstone a vector slice on the
    maintained signature index, compact (band rows AND the single-copy
    vectors physically dropped, tombstones cleared, one atomic replace),
    then run the full pair query — must equal the inline blocked-cosine
    pair set filtered to surviving endpoints
    (`operators/ann_index.py::delete_from_signature_index`)."""
    from insight_de_smart_grid_spark.operators import ann_index as ai

    emb = load_table(spark, sf_dir, "embeddings")
    path = scratch_dir("annidx_del_")
    ai.build_signature_index(emb, path, n_tables=16, n_planes=10)
    ai.delete_from_signature_index(
        spark, path, emb.filter((F.col("vec_id") % 9 == 4)
                                & (F.col("vec_id") >= 50))
        .select("vec_id"))
    ai.compact_signature_index(spark, path)
    return ai.index_cosine_pairs(spark, path, threshold=0.95)


def _ivf_deleted_oracle_sql() -> str:
    """The portable-IVF top-k oracle over the SURVIVOR corpus: centroids
    (geometry) still come from the full build corpus — a delete never
    moves the frozen quantizer — but deleted vectors leave the ranked
    candidate set BEFORE the top-k cut (an outer filter would wrongly
    apply after LIMIT)."""
    inner = sim.ivf_portable_topk_oracle_sql(7, 10, 16, 4)
    old = "WHERE e.vec_id != 7"
    assert old in inner
    return inner.replace(
        old, f"WHERE e.vec_id != 7 AND NOT ({_DEL_VEC.format(id='e.vec_id')})")


@register("sim_ivf_index_deleted", _ivf_deleted_oracle_sql())
def q_sim_ivf_index_deleted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-family delete lifecycle: tombstone vectors (probes exclude
    them immediately — the freed top-k slots refill with the next
    survivors, which is why the oracle filters BEFORE its LIMIT), then
    compact: list rows dropped, tombstones cleared, centroids untouched
    (geometry, not corpus rows)
    (`operators/ivf_index.py::delete_from_ivf_index`)."""
    from insight_de_smart_grid_spark.operators import ivf_index as ii

    emb = load_table(spark, sf_dir, "embeddings")
    path = scratch_dir("ivfidx_del_")
    ii.build_ivf_index(emb, path, n_centroids=16)
    ii.delete_from_ivf_index(
        spark, path, emb.filter((F.col("vec_id") % 9 == 4)
                                & (F.col("vec_id") >= 50))
        .select("vec_id"))
    ii.compact_ivf_index(spark, path)
    qv = emb.filter(F.col("vec_id") == 7).select("embedding").head()[0]
    return ii.query_ivf_topk(spark, path, qv, k=10, nprobe=4,
                             exclude_id=7)


@register("sim_ivf_auto_nprobe",
          ivf.ivf_auto_nprobe_oracle_sql(7, 10, 16, 0.8))
def q_sim_ivf_auto_nprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-11 derived probe count (VERDICT r10 item 3): ``nprobe`` is
    no longer caller-pinned — the probe set is the smallest prefix of
    the similarity-ranked centroids holding 80% of the query's positive
    centroid-similarity mass, derived on the shared 6-decimal grid so
    the DuckDB twin replays the derivation itself in a windowed CTE
    (the IVF twin of the ANN family's auto depth / auto radius)
    (`operators/ivf_index.py::auto_probe_prefix`)."""
    from insight_de_smart_grid_spark.operators import ivf_index as ii

    emb = load_table(spark, sf_dir, "embeddings")
    path = scratch_dir("ivfidx_anp_")
    ii.build_ivf_index(emb, path, n_centroids=16)
    qv = emb.filter(F.col("vec_id") == 7).select("embedding").head()[0]
    return ii.query_ivf_topk(spark, path, qv, k=10, nprobe="auto",
                             exclude_id=7, target_mass=0.8)


@register("sim_ivf_auto_nprobe_batch",
          ivf.ivf_auto_nprobe_batch_oracle_sql([0, 7, 23], 10, 16, 0.8))
def q_sim_ivf_auto_nprobe_batch(spark: SparkSession, sf_dir: str
                                ) -> DataFrame:
    """The derived nprobe through the one-job BATCH probe — the scale
    path: the mass rule runs as window aggregates partitioned by query
    id (no driver loop, no per-query collect), so every query in an
    arriving delta gets its own probe count; the probed-cluster union
    pushed into the lists scan stays bounded by n_centroids
    (`operators/ivf_index.py::query_ivf_batch_topk`)."""
    from insight_de_smart_grid_spark.operators import ivf_index as ii

    emb = load_table(spark, sf_dir, "embeddings")
    path = scratch_dir("ivfidx_anpb_")
    ii.build_ivf_index(emb, path, n_centroids=16)
    queries = emb.filter(F.col("vec_id").isin([0, 7, 23]))
    return ii.query_ivf_batch_topk(spark, path, queries, k=10,
                                   nprobe="auto", target_mass=0.8)


@register("multimodal_image_decode", mm.PNG_DECODE_SQL)
def q_multimodal_image_decode(spark: SparkSession, sf_dir: str
                              ) -> DataFrame:
    """Round-11 REAL image decode with zero external libraries: the
    corpus gets genuine PNG payloads (grayscale 8-bit, scanline filter
    y%5 so all five PNG filters are exercised) and the decoder — stdlib
    zlib inflate + chunk parse + full un-filtering through Arrow
    ``mapInPandas`` — must reproduce the closed-form pixel statistics
    the DuckDB twin computes without ever touching a PNG byte. A wrong
    Paeth/Average un-filter cannot pass: the oracle checks decoded
    VALUES, not headers (`operators/multimodal.py::decode_image_png`,
    the audio family's pattern applied to images; the env-gate now
    covers only JPEG/video)."""
    docs = load_table(spark, sf_dir, "documents")
    return mm.decode_image_png(mm.attach_png_payload(docs))


# --- round-11: fourth index family (BM25 postings) ---------------------------

@register("text_bm25_index_topk", tx.bm25_oracle_sql(k=15))
def q_text_bm25_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FOURTH persisted index family — BM25 posting lists — built
    entirely on the shared lifecycle core (round-11, proving the
    round-10 claim that a new family is segment writers + registration
    only): build on an 80% hash slice, append the remaining two deltas
    (tokenize-the-delta-only appends), compact, then rank. Must equal
    the inline ``text_bm25_topk`` over the full corpus — same oracle
    verbatim — because per-(term, doc) tf rows are segment-local and
    the (N, avgdl, df) statistics are recomputed over the live doclens
    (`operators/bm25_index.py`)."""
    from insight_de_smart_grid_spark.operators import bm25_index as bi

    docs = load_table(spark, sf_dir, "documents")
    b = pl._hash_bucket(F.col("doc_id").cast("string"))
    path = scratch_dir("bm25idx_")
    bi.build_bm25_index(docs.filter(b < 80), path)
    bi.append_bm25_index(docs.filter((b >= 80) & (b < 90)), path)
    bi.append_bm25_index(docs.filter(b >= 90), path)
    bi.compact_bm25_index(spark, path)
    return bi.query_bm25_index(spark, path, ("spark", "window", "join"),
                               k=15)


@register("text_bm25_index_deleted",
          tx.bm25_oracle_sql(
              k=15,
              table="(SELECT * FROM documents WHERE doc_id % 7 <> 3)"))
def q_text_bm25_index_deleted(spark: SparkSession, sf_dir: str
                              ) -> DataFrame:
    """Delete lifecycle on the BM25 family — the family where a
    candidate-only tombstone mask would be WRONG: removing documents
    changes N, avgdl, and every term's df, so the post-delete ranking
    must
    equal the inline BM25 over the SURVIVOR corpus (the oracle's table
    is the filtered subquery), not the full-corpus ranking minus rows.
    Checked both masked (tombstones live) and physical (post-compact)
    by the shared oracle (`operators/bm25_index.py::query_bm25_index` —
    stats aggregate runs after the tombstone anti-join)."""
    from insight_de_smart_grid_spark.operators import bm25_index as bi

    docs = load_table(spark, sf_dir, "documents")
    path = scratch_dir("bm25idx_del_")
    bi.build_bm25_index(docs, path)
    bi.delete_from_bm25_index(
        spark, path,
        docs.filter(F.col("doc_id") % 7 == 3).select("doc_id"))
    bi.compact_bm25_index(spark, path)
    return bi.query_bm25_index(spark, path, ("spark", "window", "join"),
                               k=15)


@register("sim_ivf_index_split",
          ivf.ivf_split_topk_oracle_sql(7, 10, n_centroids=4, nprobe=3,
                                        max_share=0.2))
def q_sim_ivf_index_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-cluster splitting as a first-class maintenance op (round-11,
    VERDICT r10 item 4 — the bounded-imbalance lever): a 4-centroid
    index concentrates ~25% of the corpus per cluster, so a 0.2
    max-share bound forces real splits; each hot cluster is cut at the
    MEDIAN of its members' projections onto an md5-derived direction,
    the moved half gets a fresh cluster id, the two normalized-mean
    replacement centroids swap in with the lists and the n_centroids
    meta in ONE manifest bump (expect_version — a racing append retries
    the split). The DuckDB twin replays hot detection, the cut, the
    reassignment, and the replacement centroids — the rebalance
    decision itself is value-checked
    (`operators/ivf_index.py::split_hot_clusters`)."""
    from insight_de_smart_grid_spark.operators import ivf_index as ii

    emb = load_table(spark, sf_dir, "embeddings")
    path = scratch_dir("ivfidx_sp_")
    ii.build_ivf_index(emb, path, n_centroids=4)
    ii.split_hot_clusters(spark, path, max_share=0.2)
    qv = emb.filter(F.col("vec_id") == 7).select("embedding").head()[0]
    return ii.query_ivf_topk(spark, path, qv, k=10, nprobe=3,
                             exclude_id=7)
