"""General relational surface (SURVEY §2.3-§2.6 extensions, §7.2 step 5).

The reference needed only one join (J1); the engine generalizes to the full
relational surface over the driver's star schema so any query a reference
user writes against the cube model has a home. Thin, well-named wrappers —
Catalyst/AQE do the physical work (broadcast-vs-sort-merge choice, shuffle
coalescing, skew splitting).

Scale notes per wrapper are in the docstrings; the shared principles:
- dimension joins broadcast (no fact shuffle);
- fact-fact joins sort-merge on the join key, AQE handles skew;
- top-K compiles to TakeOrderedAndProject (never a global sort);
- window functions shuffle once on partitionBy keys.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from insight_de_smart_grid_spark.operators.layout import spread
from insight_de_smart_grid_spark.operators.staging import stage


def top_k_per_group(df: DataFrame, partition_by: list[str],
                    order_by: list[Column], k: int,
                    rank_col: str = "rn") -> DataFrame:
    """row_number-based top-K within each group (generalizes the dashboard's
    global top-K, SURVEY §2.5). One shuffle on ``partition_by``; rows beyond
    K are dropped before any further stage."""
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    return (df.withColumn(rank_col, F.row_number().over(w))
            .filter(F.col(rank_col) <= k))


def running_total(df: DataFrame, partition_by: list[str],
                  order_by: list[Column], value: Column,
                  out: str) -> DataFrame:
    """Prefix sum per group (rows unbounded-preceding..current)."""
    w = (Window.partitionBy(*partition_by).orderBy(*order_by)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return df.withColumn(out, F.sum(value).over(w))


def with_lag(df: DataFrame, partition_by: list[str], order_by: list[Column],
             col: str, out: str, offset: int = 1) -> DataFrame:
    """lag() — previous row's value within the group ordering."""
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    return df.withColumn(out, F.lag(col, offset).over(w))


def salted_sum(df: DataFrame, keys: list[str], value_col: str,
               salt_from: str, n_salts: int = 8) -> DataFrame:
    """Skew-resistant grouped sum: two-stage aggregation through a salt.

    A single hot key (one chatty house, one viral document) makes one reducer
    the straggler at 100 TB. Salting splits each key's rows across
    ``n_salts`` partial groups (stage 1 shuffles on (key, salt) — uniform by
    construction), then the tiny partial table re-aggregates on the key
    alone. AQE's skew handling covers joins; this is the aggregation-side
    equivalent, worth it only for additive aggregates on known-skewed keys —
    for uniform keys Spark's map-side partial aggregation already does this.

    ``salt_from`` is a row-level column hashed into the salt, keeping the
    operator fully deterministic (no rand()). Output: keys + sum_<value_col>
    + n_rows.
    """
    salted = df.withColumn(
        "__salt", F.pmod(F.xxhash64(F.col(salt_from)), F.lit(n_salts)))
    partial = (salted.groupBy(*keys, "__salt")
               .agg(F.sum(F.col(value_col).cast("double")).alias("__psum"),
                    F.count(F.lit(1)).alias("__pcnt")))
    return (partial.groupBy(*keys)
            .agg(F.round(F.sum("__psum"), 6).alias(f"sum_{value_col}"),
                 F.sum("__pcnt").alias("n_rows")))


def band_self_join(df: DataFrame, value_col: str, eps: float,
                   id_col: str, group_cols: tuple[str, ...] = ()) -> DataFrame:
    """All row pairs whose ``value_col`` differ by less than ``eps``
    (optionally within ``group_cols``) — the pure inequality ("band" /
    theta) join Spark would otherwise plan as a nested-loop cross product.

    Blocking: bucket every row at ``floor(value/eps)``; a qualifying pair's
    buckets differ by at most 1, so probing each left row against buckets
    {b-1, b, b+1} (a 3x explode) and equi-joining on the bucket covers all
    candidates. Each pair meets exactly once (the right row has ONE bucket).
    The exact |a-b| < eps predicate then filters inside the hash join —
    O(n * band_density) work, one shuffle on (bucket, *group), no
    BroadcastNestedLoopJoin at any scale (plan-asserted).
    """
    b = F.floor(F.col(value_col) / F.lit(eps)).cast("long")
    left = df.select(
        *group_cols,
        F.col(id_col).alias("a_id"), F.col(value_col).alias("a_value"),
        F.explode(F.array(b - 1, b, b + 1)).alias("__b"))
    right = df.select(
        *[F.col(c).alias(f"__r_{c}") for c in group_cols],
        F.col(id_col).alias("b_id"), F.col(value_col).alias("b_value"),
        b.alias("__b"))
    cond = [left["__b"] == right["__b"]]
    cond += [left[c] == right[f"__r_{c}"] for c in group_cols]
    return (left.join(right, cond)
            .where((F.col("a_id") < F.col("b_id"))
                   & (F.abs(F.col("a_value") - F.col("b_value")) < eps))
            .select(*group_cols, "a_id", "b_id",
                    F.round(F.abs(F.col("a_value") - F.col("b_value")), 9)
                    .alias("value_gap")))


def fuzzy_match(dirty: DataFrame, clean: DataFrame,
                dirty_col: str = "dirty_name", clean_col: str = "clean_name",
                max_dist: int = 2) -> DataFrame:
    """Blocked fuzzy string matching (entity resolution of messy names):
    candidate pairs share a block key — (first char, length//4 band, with
    each dirty string probing its own band and both neighbors) — then an
    exact ``levenshtein`` verify keeps pairs within ``max_dist``. Ties
    resolve to the closest match (then lexicographic) per dirty name.

    Blocking recall: edit distance <= 2 implies a length difference <= 2
    (the band probe covers it) but CAN change the first character; this
    blocking is exact for corruptions beyond position 0 and is the
    documented tier-1. The lossless general scheme is PassJoin-style
    segment inversion (partition into max_dist+1 segments; pigeonhole
    guarantees one exact segment) — same bucket-join shape, more keys.
    At scale both are equi-joins on bounded blocks; nothing compares all
    pairs."""
    from pyspark.sql import Window

    def keyed(df: DataFrame, col: str, probe: bool) -> DataFrame:
        band = F.floor(F.length(F.col(col)) / 4)
        bands = [band + d for d in (-1, 0, 1)] if probe else [band]
        return df.select(
            F.col(col),
            F.substring(F.col(col), 1, 1).alias("blk_c"),
            F.explode(F.array(*bands)).alias("blk_b"))

    # threshold-bounded levenshtein: banded DP, O(max_dist * len) per pair
    # instead of O(len^2), returning -1 above the bound — the verify is the
    # hot loop when a uniform-prefix catalog degenerates the first-char
    # block into one big bucket, so the bounded form matters.
    # spread the probe side (round-11, guide §2.5/§2.2): the clean side
    # broadcasts, so the verify runs in the PROBE side's tasks — a
    # single-split dirty scan would evaluate every candidate pair's
    # levenshtein serially in one task (the uniform-prefix catalog makes
    # the block a single bucket: |dirty| x |clean| pairs). The spread key
    # is (name, band) — keying by the name alone would make the exchange
    # redundant with the distinct's own hash(name) exchange, Catalyst
    # would drop it, and AQE would coalesce the survivor back to one
    # partition (the bytes-vs-CPU blind spot again).
    cands = (spread(keyed(dirty.select(dirty_col).distinct(), dirty_col,
                          True), dirty_col, "blk_b", force=True)
             .join(keyed(clean.select(clean_col).distinct(),
                         clean_col, False),
                   ["blk_c", "blk_b"])
             .select(dirty_col, clean_col,
                     F.levenshtein(dirty_col, clean_col,
                                   max_dist).alias("distance"))
             .where(F.col("distance") >= 0)
             .distinct())
    w = Window.partitionBy(dirty_col).orderBy("distance", clean_col)
    return (cands.withColumn("rnk", F.row_number().over(w))
            .where(F.col("rnk") == 1)
            .select(dirty_col, clean_col, "distance"))


def passjoin_fuzzy_match(dirty: DataFrame, clean: DataFrame,
                         dirty_col: str = "dirty_name",
                         clean_col: str = "clean_name",
                         max_dist: int = 2) -> DataFrame:
    """LOSSLESS blocked fuzzy matching via PassJoin segment inversion
    (Li/Deng/Feng ICDE'11): the tier-2 scheme ``fuzzy_match`` documents.

    Pigeonhole: partition every indexed string of length l into
    ``max_dist + 1`` contiguous segments; any string within edit distance d
    of it must contain ONE segment exactly, starting within +-d of the
    segment's home position. So the clean side indexes (l, seg_idx,
    segment) rows and each dirty string of length m probes, for every
    candidate clean length l in [m-d, m+d] and every segment of that
    length's partition, the substrings at the O(d) shifted starts — a
    bounded constant (<= (2d+1)^2 (d+1) ~ 75 narrow rows for d=2) per
    string, never a cross join. Unlike the (first char, length band) tier-1
    this catches first-character corruption AND insertions/deletions; the
    exact verify is the same threshold-bounded levenshtein.

    At scale both sides are narrow (key, name) rows through an equi-join
    on (l, seg_idx, segment); the segment index is persistable and the
    probe fan-out is a map-side explode — same shape as the shingle
    inversion dedup family."""
    d = max_dist
    n_seg = d + 1

    def seg_bounds(l: Column, i: int) -> tuple[Column, Column]:
        """(start0, length) of segment i under even partitioning: the first
        ``l % n_seg`` segments get the extra char."""
        base = (l / n_seg).cast("int")
        extra = l % n_seg
        start = (F.lit(i) * base
                 + F.least(F.lit(i), extra)).cast("int")
        length = (base + F.when(F.lit(i) < extra, 1)
                  .otherwise(0)).cast("int")
        return start, length

    # both unions below re-read these distinct-projected sides once per
    # segment — materialize each once (at scale: the persisted segment
    # index build input). spread BEFORE the checkpoint (round-11, guide
    # §2.2): the checkpointed blocks inherit the partitioning, so a
    # single-split catalog scan would otherwise run every per-segment
    # substring explode AND the probe join serially in one task.
    cl = stage(spread(clean.select(clean_col).distinct(), clean_col,
                      force=True)
               .withColumn("l", F.length(clean_col).cast("int")))
    idx_parts = []
    for i in range(n_seg):
        s, ln = seg_bounds(F.col("l"), i)
        idx_parts.append(cl.select(
            F.col(clean_col), "l", F.lit(i).alias("seg_i"),
            F.substring(F.col(clean_col), s + 1, ln).alias("seg")))
    # Short-string fallback rows: for clean strings of length <= d some of
    # the d+1 segments are empty, and the pigeonhole's untouched segment
    # can be an empty one (e.g. 'ab' vs 'xy' at d=2) — pure segment
    # inversion would miss the pair. Edit distance <= d forces
    # |l - m| <= d, so such clean strings only pair with dirty strings of
    # length <= 2d; both slices are alphabet-bounded tiny sets, so routing
    # them through ONE dedicated block key ((-1,-1,'')) in the SAME
    # equi-join is a bounded bucket, not a blow-up — and costs no extra
    # join/broadcast stage.
    idx_parts.append(cl.filter(F.col("l") <= d).select(
        F.col(clean_col), F.lit(-1).alias("l"),
        F.lit(-1).alias("seg_i"), F.lit("").alias("seg")))
    idx = idx_parts[0]
    for p in idx_parts[1:]:
        idx = idx.unionByName(p)

    base_dirty = stage(spread(dirty.select(dirty_col).distinct(),
                              dirty_col, force=True))
    dr = base_dirty.withColumn("m", F.length(dirty_col).cast("int"))
    # candidate clean lengths l in [m-d, m+d]
    dr = dr.select(dirty_col, "m",
                   F.explode(F.sequence(F.col("m") - d, F.col("m") + d))
                   .alias("l")).filter(F.col("l") > 0)
    probe_parts = []
    for i in range(n_seg):
        s, ln = seg_bounds(F.col("l"), i)
        part = (dr
                .withColumn("p0", s).withColumn("ln", ln)
                .filter(F.col("ln") > 0)
                # shifted starts clamped to [0, m - ln]; empty windows
                # (lo > hi) must not explode a DESCENDING sequence
                .withColumn("lo", F.greatest(F.col("p0") - d, F.lit(0)))
                .withColumn("hi", F.least(F.col("p0") + d,
                                          F.col("m") - F.col("ln")))
                .filter(F.col("lo") <= F.col("hi"))
                .select(dirty_col, "l", "ln",
                        F.explode(F.sequence(F.col("lo"), F.col("hi")))
                        .alias("st"))
                .select(dirty_col, "l", F.lit(i).alias("seg_i"),
                        F.substring(F.col(dirty_col), F.col("st") + 1,
                                    F.col("ln")).alias("seg")))
        probe_parts.append(part)
    # probe twin of the short-string fallback key
    probe_parts.append(base_dirty.filter(F.length(dirty_col) <= 2 * d)
                       .select(F.col(dirty_col), F.lit(-1).alias("l"),
                               F.lit(-1).alias("seg_i"),
                               F.lit("").alias("seg")))
    probes = probe_parts[0]
    for p in probe_parts[1:]:
        probes = probes.unionByName(p)

    cands = (probes.join(idx, ["l", "seg_i", "seg"])
             .select(dirty_col, clean_col).distinct()
             .select(dirty_col, clean_col,
                     F.levenshtein(dirty_col, clean_col, d).alias("distance"))
             .where(F.col("distance") >= 0))
    w = Window.partitionBy(dirty_col).orderBy("distance", clean_col)
    return (cands.withColumn("rnk", F.row_number().over(w))
            .where(F.col("rnk") == 1)
            .select(dirty_col, clean_col, "distance"))


def integrity_report(lineitem: DataFrame, orders: DataFrame,
                     customer: DataFrame, events: DataFrame) -> DataFrame:
    """Data-contract audit in one pass: referential integrity (orphan
    facts), primary-key uniqueness, null keys, range and date-order sanity
    — one (check, n_violations) row per rule, the dbt-test shape as a
    single engine query.

    Every check is an anti-join or aggregate on its natural key; the
    orphan checks broadcast nothing blindly — Catalyst/AQE picks the
    strategy per side, and a violation-free table costs one scan per rule
    it appears in (the union evaluates subplans independently, so rules
    parallelize across the cluster)."""

    def count_row(name: str, df: DataFrame) -> DataFrame:
        return df.agg(F.count(F.lit(1)).cast("long").alias("n_violations")) \
                 .select(F.lit(name).alias("check"), "n_violations")

    dup_orders = (orders.groupBy("o_orderkey")
                  .agg(F.count(F.lit(1)).alias("c")).filter("c > 1"))
    dup_lineitem = (lineitem.groupBy("l_orderkey", "l_linenumber")
                    .agg(F.count(F.lit(1)).alias("c")).filter("c > 1"))
    checks = [
        ("lineitem_orphan_orderkey",
         lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey,
                       "left_anti")),
        ("orders_orphan_custkey",
         orders.join(customer, orders.o_custkey == customer.c_custkey,
                     "left_anti")),
        ("orders_duplicate_pk", dup_orders),
        ("lineitem_duplicate_pk", dup_lineitem),
        ("orders_null_key", orders.filter(F.col("o_orderkey").isNull())),
        ("lineitem_nonpositive_qty",
         lineitem.filter(F.col("l_quantity") <= 0)),
        ("lineitem_shipped_before_order",
         lineitem.join(orders,
                       lineitem.l_orderkey == orders.o_orderkey)
         .filter(F.col("l_shipdate") < F.col("o_orderdate"))),
        ("events_null_ts", events.filter(F.col("ts").isNull())),
    ]
    out = count_row(*checks[0])
    for name, df in checks[1:]:
        out = out.unionByName(count_row(name, df))
    return out


INTEGRITY_ORACLE_SQL = """
SELECT 'lineitem_orphan_orderkey' AS check, count(*) AS n_violations
FROM lineitem l WHERE NOT EXISTS
  (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
UNION ALL
SELECT 'orders_orphan_custkey', count(*)
FROM orders o WHERE NOT EXISTS
  (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
UNION ALL
SELECT 'orders_duplicate_pk', count(*)
FROM (SELECT o_orderkey FROM orders GROUP BY 1 HAVING count(*) > 1)
UNION ALL
SELECT 'lineitem_duplicate_pk', count(*)
FROM (SELECT l_orderkey, l_linenumber FROM lineitem
      GROUP BY 1, 2 HAVING count(*) > 1)
UNION ALL
SELECT 'orders_null_key', count(*) FROM orders WHERE o_orderkey IS NULL
UNION ALL
SELECT 'lineitem_nonpositive_qty', count(*)
FROM lineitem WHERE l_quantity <= 0
UNION ALL
SELECT 'lineitem_shipped_before_order', count(*)
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate < o_orderdate
UNION ALL
SELECT 'events_null_ts', count(*) FROM events WHERE ts IS NULL
"""
