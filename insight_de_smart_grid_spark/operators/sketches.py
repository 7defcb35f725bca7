"""Mergeable-sketch rollup: HyperLogLog count-distinct stored IN the rollup
table and re-aggregated at query time.

Reference parity: Druid's rollup ingestion stores approximate distinct-count
sketches (HLL / theta) alongside additive metrics so COUNT(DISTINCT dim) at
dashboard time is a sketch union, never a re-scan of raw data
(reference: batch_processing/druid_batch.py ingestion spec's metricsSpec —
the Druid-native analog of this module; SURVEY §2 S8/A4). Spark 3.5+ exposes
the same Apache DataSketches HLL family: ``hll_sketch_agg`` (build),
``hll_union_agg`` (merge), ``hll_sketch_estimate`` (read).

Scale notes (100 TB): this is THE pattern that makes count-distinct viable at
scale — the raw fact is touched once at ingest, each rollup cell stores a
few-KB binary sketch, and any coarser re-aggregation (hour→day→month,
per-appliance→per-house) unions sketches: associative, commutative, and
map-side combinable, so the shuffle carries sketches, not user-id sets.
Exact ``countDistinct`` at the same granularity forces an Expand + full
shuffle of every distinct key — linear in raw cardinality.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _portable_shard(col: Column, n_shards: int) -> Column:
    """Shard id from the first 15 hex chars of md5 — bit-identical in DuckDB
    (``CAST(concat('0x', substring(md5(x),1,15)) AS BIGINT) % n``)."""
    return F.pmod(
        F.conv(F.substring(F.md5(col.cast("string")), 1, 15), 16, 10)
        .cast("long"), F.lit(n_shards))


def topn_frequent(df: DataFrame, key: str, n: int = 20, m: int = 64,
                  n_shards: int = 32) -> DataFrame:
    """Distributed top-N with bounded per-shard candidate state — the
    Misra-Gries / SpaceSaving merge pattern, and the parity op for Druid's
    approximate topN engine (the reference's dashboard ranks appliances with
    Druid topN, which merges bounded per-historical candidate lists exactly
    like this; batch_processing/druid_batch.py ingestion feeds it).

    Keys are hash-sharded (portable md5, so the oracle replays it), each
    shard keeps only its top ``m`` keys by count plus its pruning threshold
    (the count of the best key it dropped). Because a key lives in exactly
    one shard, a surviving candidate's count is its EXACT total — the
    approximation only affects which keys survive. The merged report carries
    ``guaranteed``: true iff the candidate's count strictly exceeds every
    shard's dropped-key ceiling, i.e. no pruned key anywhere could rank at
    or above it. With
    ``m`` >= per-shard distinct count the threshold is 0 and the result is
    exact top-N, deterministically.

    Scale notes (100 TB): state is O(n_shards * m) rows after the first
    aggregation — the shuffle carries (shard, key, cnt) partials with
    map-side combine; the merge side is a few thousand rows regardless of
    raw cardinality. Exact top-N over a power-law key would instead shuffle
    every distinct key. ``n_shards`` spreads hot keys' *candidates*, not
    their rows: the count aggregation is keyed on the key itself, so AQE
    skew handling applies there as usual."""
    from pyspark.sql import Window

    counts = (df.groupBy(F.col(key).alias("k"))
              .agg(F.count(F.lit(1)).alias("cnt"))
              .withColumn("shard", _portable_shard(F.col("k"), n_shards)))
    w = Window.partitionBy("shard").orderBy(F.desc("cnt"), F.asc("k"))
    ranked = counts.withColumn("srnk", F.row_number().over(w))
    kept = ranked.where(F.col("srnk") <= m)
    # Ceiling of anything a shard dropped: its (m+1)-th count, else 0.
    thr = (ranked.where(F.col("srnk") == m + 1)
           .select("shard", F.col("cnt").alias("thr")))
    max_thr = thr.agg(F.coalesce(F.max("thr"), F.lit(0)).alias("max_thr"))
    wg = Window.orderBy(F.desc("cnt"), F.asc("k"))
    return (
        kept.join(F.broadcast(max_thr))
        .withColumn("rnk", F.row_number().over(wg).cast("int"))
        .where(F.col("rnk") <= n)
        .select(F.col("k").alias(key), "cnt", "rnk",
                (F.col("cnt") > F.col("max_thr")).alias("guaranteed"))
    )


def topn_frequent_oracle_sql(table: str, key: str, n: int = 20, m: int = 64,
                             n_shards: int = 32) -> str:
    """DuckDB twin: same md5 sharding, same per-shard pruning, same merge."""
    return f"""
WITH counts AS (
  SELECT {key} AS k, count(*) AS cnt,
         CAST(concat('0x', substring(md5(CAST({key} AS VARCHAR)), 1, 15))
              AS BIGINT) % {n_shards} AS shard
  FROM {table} GROUP BY 1
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY shard
                               ORDER BY cnt DESC, k) AS srnk
  FROM counts
),
thr AS (
  SELECT coalesce(max(cnt), 0) AS max_thr FROM ranked WHERE srnk = {m} + 1
)
SELECT k AS {key}, cnt,
       CAST(row_number() OVER (ORDER BY cnt DESC, k) AS INT) AS rnk,
       cnt > max_thr AS guaranteed
FROM ranked, thr
WHERE srnk <= {m}
QUALIFY rnk <= {n}
"""


_KMV_SCALE = float(2 ** 60)  # hashes are 60-bit; normalize to [0, 1)


def kmv_sketches(df: DataFrame, key: str, dim, k: int = 256) -> DataFrame:
    """Per-``dim`` KMV ("k minimum values") sketch of distinct ``key``s: the
    k smallest portable 60-bit md5 hashes, sorted. This is the theta-sketch
    family Druid ships for DISTINCT *intersections* — HLL (see hll_rollup)
    unions beautifully but cannot intersect; KMV supports union, intersect,
    and difference estimates, all mergeable.

    Scale notes: built WITHOUT collect_set-then-trim (whose per-group state
    is the full distinct set): distinct (dim, hash) pairs first, then a
    rank<=k filter that Catalyst plans as WindowGroupLimit — every map
    partition prunes to its local k before the shuffle — then a bounded
    k-element collect_list. Per-group state never exceeds k hashes at any
    stage, at any cardinality."""
    from pyspark.sql import Window

    d = dim if isinstance(dim, Column) else F.col(dim)
    h = (F.conv(F.substring(F.md5(F.col(key).cast("string")), 1, 15), 16, 10)
         .cast("long"))
    hashes = df.select(d.alias("dim"), h.alias("h")).distinct()
    w = Window.partitionBy("dim").orderBy("h")
    return (
        hashes.withColumn("r", F.row_number().over(w))
        .where(F.col("r") <= k)
        .groupBy("dim")
        .agg(F.sort_array(F.collect_list("h")).alias("kmv"),
             F.count(F.lit(1)).alias("sz"))
    )


def kmv_estimate(kmv: Column, sz: Column, k: int) -> Column:
    """Distinct-count estimate from one sketch: exact size when the sketch
    is complete (|set| < k), else (k-1)/theta with theta = the k-th smallest
    normalized hash."""
    return F.when(sz < k, sz.cast("double")) \
            .otherwise(F.lit(float(k - 1)) * F.lit(_KMV_SCALE)
                       / F.element_at(kmv, k).cast("double"))


def kmv_pair_estimates(a_kmv: Column, a_sz: Column, b_kmv: Column,
                       b_sz: Column, k: int) -> tuple[Column, Column]:
    """(union_estimate, intersection_estimate) from two sketches.

    Union: k smallest of the merged hash sets, same estimator. Intersection
    (theta style): common hashes strictly below the cut = min of the two
    k-th hashes (2^60, i.e. "everything", when a sketch is complete),
    scaled by 2^60/cut. The cut stays an INTEGER hash — never a normalized
    double, whose 53-bit mantissa can't hold a 60-bit hash exactly — so
    membership filtering is exact; doubles appear only in the final
    estimates, as one multiply+divide on identical operands cross-engine."""
    big = F.lit(int(_KMV_SCALE))  # sentinel: sketch complete, theta = 1
    u = F.slice(F.array_sort(F.array_union(a_kmv, b_kmv)), 1, k)
    est_union = kmv_estimate(u, F.size(u), k)
    cut_a = F.when(a_sz < k, big).otherwise(F.element_at(a_kmv, k))
    cut_b = F.when(b_sz < k, big).otherwise(F.element_at(b_kmv, k))
    cut = F.least(cut_a, cut_b)
    common = F.size(F.array_intersect(
        F.filter(a_kmv, lambda x: x < cut),
        F.filter(b_kmv, lambda x: x < cut)))
    est_inter = common.cast("double") * F.lit(_KMV_SCALE) \
        / cut.cast("double")
    return est_union, est_inter


def kmv_sketches_sql(table: str, key: str, dim_sql: str, k: int = 256) -> str:
    """DuckDB CTE body producing (dim, kmv, sz) identical to
    :func:`kmv_sketches` (same md5 hashes, same rank<=k cut)."""
    return f"""
hashes AS (
  SELECT DISTINCT {dim_sql} AS dim,
         CAST(concat('0x', substring(md5(CAST({key} AS VARCHAR)), 1, 15))
              AS BIGINT) AS h
  FROM {table}
),
sk AS (
  SELECT dim, list_sort(list(h)) AS kmv, count(*) AS sz
  FROM (SELECT dim, h,
               row_number() OVER (PARTITION BY dim ORDER BY h) AS r
        FROM hashes)
  WHERE r <= {k}
  GROUP BY 1
)
"""


def hll_rollup(events: DataFrame, key: Column | str, ts_col: str = "ts",
               bucket: str = "hour", lg_k: int = 12,
               dims: tuple[str, ...] = ()) -> DataFrame:
    """Ingest-time rollup: one row per (time bucket, *dims) holding a binary
    HLL sketch of distinct ``key`` values plus the additive row count.

    The sketch column is opaque binary — storable in parquet next to the
    additive metrics exactly like Druid's metricsSpec columns.
    """
    k = F.col(key) if isinstance(key, str) else key
    bucket_col = F.date_trunc(bucket, F.col(ts_col)).alias("bucket_ts")
    return (
        events.groupBy(bucket_col, *dims)
        .agg(F.hll_sketch_agg(k, F.lit(lg_k)).alias("key_hll"),
             F.count(F.lit(1)).alias("cnt"))
    )


def hll_reaggregate(rollup: DataFrame, bucket: str = "day",
                    dims: tuple[str, ...] = ()) -> DataFrame:
    """Query-time re-aggregation: union the stored sketches up to a coarser
    bucket and read the distinct-count estimate. Never touches raw data."""
    bucket_col = F.date_trunc(bucket, F.col("bucket_ts")).alias("bucket_ts")
    return (
        rollup.groupBy(bucket_col, *dims)
        .agg(F.hll_sketch_estimate(
                F.hll_union_agg(F.col("key_hll"))).alias("approx_distinct"),
             F.sum("cnt").alias("cnt"))
    )
