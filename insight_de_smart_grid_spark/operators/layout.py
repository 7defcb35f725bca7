"""Input layout: spread a narrow input across the session's cores.

Queries read single-row-group parquet fixtures whose scan is one task, so
every narrow step up to the first exchange runs serially. ``spread``
repartitions such an input to the session's parallelism before CPU-heavy
per-row expansion.
"""

from __future__ import annotations

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

