"""Storage-layout management: size-targeted compaction and pruning-friendly
sorted writes.

At 100 TB the dominant cost of every query in this engine is the parquet
scan, and the scan cost is set by layout decisions made at write time:

- **File sizing.** Streaming micro-batches and fine-grained partitions leave
  thousands of KB-scale files; each costs a task + a footer read. Compaction
  rewrites a dataset into ~target-sized files (Druid analog: compaction
  tasks on historical segments; reference stores segments per
  `segmentGranularity` in its ingestion specs).
- **Sort-within-partition.** Parquet row-group min/max stats only prune when
  values are clustered. Writing each partition sorted by the hot filter keys
  turns point/range predicates into row-group skips — the single cheapest
  "index" a data lake has.
- **Range-partitioned write.** `repartitionByRange` assigns contiguous key
  ranges to files so a range predicate touches few *files*, composing with
  the row-group pruning inside each.

All three are expressed through the DataFrame writer — no custom file
management, fully parallel, and safe under speculative execution because
parquet task outputs commit atomically.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def spread(df: DataFrame, *key_cols: str, force: bool = False) -> DataFrame:
    """Raise a narrow input's parallelism to the session's level before
    CPU-heavy per-row expansion (shingle/bigram explode, signature
    hashing) — round-11 optimization, guide §2.2/§6.

    The test fixtures are single-row-group parquet files, so their scan
    is one task and everything up to the first exchange runs serially;
    the same happens on any cluster whose input has fewer splits than
    cores. Repartitioning the RAW rows is also the cheaper exchange at
    every scale: the expansion multiplies bytes ~10-20x, so moving rows
    before it beats letting the first groupBy move the exploded stream
    (guide §2.3 "shuffle fewer bytes", §3.3 "explode multiplies the
    shuffle").

    Mechanics: explicit numPartitions (REPARTITION_BY_NUM) because AQE
    happily coalesces a keyed repartition back to one partition on byte
    estimates — this exchange's purpose is CPU spread, not byte balance
    (measured: the keyed form without N lost the whole win). Keyed by a
    high-cardinality id when given — deterministic placement (no
    sort-before-repartition pass, no SPARK-38388 hazard) and a downstream
    groupBy whose keys are a superset reuses the partitioning, deleting
    that exchange. No-op when the input already has at least that many
    partitions (the 100 TB case: scans arrive with thousands of splits;
    never repartition DOWN)."""
    target = df.sparkSession.sparkContext.defaultParallelism
    # ``force``: a POST-SHUFFLE frame statically reports the full shuffle
    # width here, but AQE coalesces its exchange to ~1 partition at
    # runtime when it carries few bytes — the static count lies exactly
    # when the frame is tiny. Call sites whose downstream per-row cost
    # dwarfs the bytes (a fan-out join feeding a levenshtein verify)
    # force the AQE-exempt repartition instead of trusting the estimate;
    # the exchange they add is one narrow pass over rows that were about
    # to be shuffled anyway (round-11, guide §2.2 "AQE balances bytes,
    # not CPU").
    if not force and df.rdd.getNumPartitions() >= target:
        return df
    if key_cols:
        return df.repartition(target, *[F.col(c) for c in key_cols])
    return df.repartition(target)


def compact(df: DataFrame, target_rows_per_file: int,
            sort_cols: tuple[str, ...] = ()) -> DataFrame:
    """Return ``df`` re-arranged to land in ``ceil(n / target)`` files when
    written, optionally clustered by ``sort_cols`` for stats pruning.

    Uses a count to size the job — one cheap extra pass (count-star over
    parquet reads only footers/metadata) traded for deterministic output
    sizing. With sort columns the repartition is range-based, so file k holds
    a contiguous slice of the key space; without, round-robin for even sizes.
    """
    n = df.count()
    files = max(1, math.ceil(n / target_rows_per_file))
    if sort_cols:
        out = df.repartitionByRange(files, *[F.col(c) for c in sort_cols])
        return out.sortWithinPartitions(*sort_cols)
    return df.repartition(files)


def write_compacted(df: DataFrame, path: str, target_rows_per_file: int,
                    sort_cols: tuple[str, ...] = (),
                    partition_cols: tuple[str, ...] = (),
                    mode: str = "overwrite") -> None:
    """Compact + write in one step. ``partition_cols`` become hive-style
    directory partitions (pruned by Catalyst before any file is opened);
    ``sort_cols`` cluster rows inside each file for row-group pruning.

    ``maxRecordsPerFile`` caps stragglers so one skewed range partition
    cannot produce an oversized file.
    """
    out = df
    if partition_cols:
        # one directory partition per task partition, sorted inside
        cols = [F.col(c) for c in partition_cols + sort_cols]
        out = out.repartition(*[F.col(c) for c in partition_cols])
        out = out.sortWithinPartitions(*cols)
    elif sort_cols or target_rows_per_file:
        out = compact(out, target_rows_per_file, sort_cols)
    writer = (
        out.write.mode(mode)
        .option("maxRecordsPerFile", target_rows_per_file)
    )
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.parquet(path)


def zorder_key(col_a, col_b, bits: int = 16):
    """Morton (Z-order) interleaving of two rank columns into one sort key.

    Sorting by a single column clusters files for THAT column only; a
    predicate on the other column then scans everything. Interleaving the
    bit patterns gives every file a bounded range in BOTH dimensions, so
    min/max pruning works for either predicate (the Delta/Iceberg OPTIMIZE
    ZORDER recipe, built here from shiftleft/shiftright — pure codegen
    expressions).

    Inputs must already be non-negative ints < 2^bits (rank/bucket the raw
    values first — Z-order is defined on the rank space, which also
    neutralizes skew).
    """
    a = F.col(col_a) if isinstance(col_a, str) else col_a
    b = F.col(col_b) if isinstance(col_b, str) else col_b
    key = F.lit(0).cast("long")
    for i in range(bits):
        bit_a = F.shiftright(a.cast("long"), i).bitwiseAND(F.lit(1))
        bit_b = F.shiftright(b.cast("long"), i).bitwiseAND(F.lit(1))
        key = (key
               .bitwiseOR(F.shiftleft(bit_a, 2 * i))
               .bitwiseOR(F.shiftleft(bit_b, 2 * i + 1)))
    return key


def write_zordered(df: DataFrame, path: str, col_a: str, col_b: str,
                   target_rows_per_file: int, bits: int = 16,
                   mode: str = "overwrite") -> None:
    """Range-partition + sort by the Morton key of (col_a, col_b) and write:
    each output file covers a compact rectangle of the 2-D key space, so a
    selective predicate on EITHER column prunes most files (guarded by
    test_layout's two-sided range check).

    Both columns are min/max-scaled to the full ``bits`` range first — with
    mismatched domains the wider column's high bits would dominate the
    interleave and the narrow column would not cluster at all. Linear
    scaling assumes roughly uniform values; heavily skewed columns should be
    rank-bucketed by the caller instead (one extra window or ntile pass).
    """
    stats = df.agg(F.min(col_a), F.max(col_a),
                   F.min(col_b), F.max(col_b)).first()
    top = (1 << bits) - 1

    def scaled(col, lo, hi):
        span = max(int(hi) - int(lo), 1)
        return ((F.col(col).cast("long") - F.lit(int(lo)))
                * F.lit(top) / F.lit(span)).cast("long")

    z = zorder_key(scaled(col_a, stats[0], stats[1]),
                   scaled(col_b, stats[2], stats[3]), bits).alias("__z")
    n = df.count()
    files = max(1, -(-n // target_rows_per_file))
    (df.withColumn("__z", z)
       .repartitionByRange(files, F.col("__z"))
       .sortWithinPartitions("__z")
       .drop("__z")
       .write.mode(mode)
       .option("maxRecordsPerFile", target_rows_per_file)
       .parquet(path))
