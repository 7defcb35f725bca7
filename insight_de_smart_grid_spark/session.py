"""SparkSession factory and the one scoped shuffle width.

Defaults are chosen for correctness-vs-DuckDB (UTC session timezone, ANSI off
so divisions by zero yield NULL like the reference's tolerant pipeline) and for
scale (AQE on with skew-join handling, Arrow for any pandas exchange). On a real
cluster the same session config holds; only master/memory flow from the
environment. These are the only environment variables the package reads:

* ``SPARK_GRAFT_CPUS``: local parallelism (default: the host's core count);
* ``SPARK_GRAFT_DRIVER_MEM``: driver heap (default: ``default_driver_mem``);
* ``SPARK_MASTER_SET``: when set, ``get_spark`` leaves the master to the
  launcher instead of pinning ``local[cpus]``.

``shuffle_width`` is the one place that changes
``spark.sql.shuffle.partitions`` after the session is built.
"""

from __future__ import annotations

import os
import threading
from contextlib import contextmanager

from pyspark.sql import SparkSession

_SHUFFLE = "spark.sql.shuffle.partitions"
# the directory holding the package, for the Python workers' import path
_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_width_lock = threading.RLock()  # held by the thread inside a scope


def default_parallelism() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus:
        try:
            return max(1, int(cpus))
        except ValueError:
            pass
    return os.cpu_count() or 8


def default_driver_mem(avail_mb: "int | None" = None) -> str:
    """Driver-heap default for local mode: 16g, capped at ~70% of the
    host's currently-available memory so a smaller host gets a heap Spark
    can actually back (a 16g JVM on an 8 GiB box swaps or draws the OS
    OOM killer instead of a clean Spark memory error). Explicit override:
    ``SPARK_GRAFT_DRIVER_MEM``.

    Because the cap samples MemAvailable at get_spark time, a busy host
    can resolve a smaller heap than the one the frozen bench medians were
    measured under — bench.py therefore logs the RESOLVED heap in its
    JSON (``driver_mem``) so regression triage can see it (round-7
    advisory). ``avail_mb`` injects the sample for deterministic tests;
    None reads /proc/meminfo."""
    cap_mb = 16 * 1024
    if avail_mb is None:
        try:
            with open("/proc/meminfo") as f:
                for line in f:
                    if line.startswith("MemAvailable:"):
                        avail_mb = int(line.split()[1]) // 1024
                        break
        except OSError:
            pass  # non-Linux: keep the 16g default
    if avail_mb is not None:
        cap_mb = max(1024, min(cap_mb, avail_mb * 7 // 10))
    return f"{cap_mb}m"


def get_spark(app_name: str = "insight_de_smart_grid_spark",
              master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``getOrCreate`` semantics: if the driver harness already created a session
    we inherit it and only apply runtime-settable SQL confs.
    """
    n = shuffle_partitions or default_parallelism()
    builder = (
        SparkSession.builder
        .appName(app_name)
        .config(_SHUFFLE, str(n))
        # local mode runs driver+executors in ONE JVM: the 1g default heap
        # divided by 32 task slots starves sort/window buffers long before
        # the machine does (measured: UNABLE_TO_ACQUIRE_MEMORY on a 1M-row
        # skewed window with >100 GiB of RAM free). Default 16g, capped by
        # what the host can actually back (default_driver_mem). Pre-JVM
        # only — a no-op on an inherited session, where the harness owns
        # sizing.
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM",
                               default_driver_mem()))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
    )
    if master:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER_SET"):
        builder = builder.master(f"local[{default_parallelism()}]")
    spark = builder.getOrCreate()
    runtime_conf(spark)
    spark.sparkContext.setLogLevel("WARN")
    return spark


def runtime_conf(spark: SparkSession) -> None:
    """Set the engine's runtime-settable SQL confs on ``spark``. Both
    ``get_spark`` and the driver-contract wrapper call it, so an inherited
    or harness-made session gets the same confs, and oracle comparisons
    stay stable."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # FileOutputCommitter v2: task outputs promote at task commit instead
    # of a serial job-commit rename pass — measured ~20% off every staged
    # partitioned write (round-11 optimization; the index families stage
    # dozens of small segments per ingest lifecycle). Safe here because
    # atomic visibility comes from the manifest pointer commit (a staged
    # dir is invisible until its bump) and non-index sinks use overwrite
    # semantics; speculative execution is off (the v2 caveat).
    spark.conf.set(
        "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version",
        "2")
    # AQE coalescing floor (round-11 optimization, guide §2.2): with the
    # default 1m floor AQE folds every sub-core-count-MB shuffle to ONE
    # partition, serializing CPU-dense post-shuffle stages (window sorts,
    # pair verifies, re-ranks). 64k keeps those stages parallel. Scale-
    # neutral by construction: parallelismFirst (default on) sizes
    # partitions at bytes/parallelism bounded below by this floor, so it
    # only binds when a shuffle carries less than cores x 1 MB — a large
    # job's exchanges never feel it. Interleaved A/B on a 10-query mixed
    # batch subset: 25.6 -> 17.5 s (0.68x), no batch regressions,
    # streaming neutral.
    spark.conf.set(
        "spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
    # AQE sort-merge -> shuffled-hash rewrite (round-11, guide §3.1/§9):
    # a post-shuffle partition under this threshold builds a hash table
    # instead of paying the two sort passes. Runtime-only (AQE
    # re-planning), so static plans — PLANS.md, every explain-based plan
    # test, and the oracle results — are untouched. Honest local verdict
    # (plans/r11/*_shj_runtime.txt): at sf0.1 this never fires — AQE's
    # broadcast promotion converts every runtime SortMergeJoin to
    # BroadcastHashJoin first (final-plan SMJ count 0 across the SMJ
    # queries), and the interleaved A/B read neutral (0.94-1.00x totals,
    # consistent with an inert knob). Verified live on a synthetic
    # non-broadcastable join (SMJ -> SHJ at runtime with the threshold
    # set, SMJ kept at 0). It is adopted as the SCALE posture: on a
    # cluster, joins whose build side exceeds the broadcast cap but whose
    # post-shuffle partitions fit in task memory skip the sorts; the
    # rewrite only fires when EVERY build partition is under the
    # threshold, so large exchanges keep sort-merge.
    spark.conf.set(
        "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "128m")
    # tolerant arithmetic (NULL on div-by-zero / overflow), matching the
    # reference's coerce-don't-fail ingestion policy (producer_GREEND_avro.py:
    # 138-146); Spark 4 defaults ANSI on
    spark.conf.set("spark.sql.ansi.enabled", "false")
    # TIMESTAMP(NANOS) parquet surfaces as nanos-since-epoch longs, which
    # sources.tables.normalize_event_ts folds to timestamps; without it
    # Spark refuses to read such files at all
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Python workers unpickle a pandas UDF that refers to a package-level
    # helper by importing the package by name; put its root on their path
    # wherever the driver was started from
    env = spark.sparkContext.environment
    paths = [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    if _ROOT not in paths:
        env["PYTHONPATH"] = os.pathsep.join([_ROOT, *paths])


@contextmanager
def shuffle_width(spark: SparkSession, n: "int | None"):
    """Run the block with ``spark.sql.shuffle.partitions`` set to ``n`` and
    restore the previous value on exit. ``None`` leaves the conf alone.

    The width is session-global conf, so a query on another thread would
    inherit it. Same-thread nesting is fine (each scope restores what it
    found, innermost first); a second thread entering while another thread
    holds a scope raises ``RuntimeError`` instead of silently sharing the
    width."""
    if n is None:
        yield
        return
    if not _width_lock.acquire(blocking=False):
        raise RuntimeError(
            f"shuffle_width: another thread holds a scoped {_SHUFFLE}; "
            "concurrent queries would share its width")
    try:
        prev = spark.conf.get(_SHUFFLE)
        spark.conf.set(_SHUFFLE, str(n))
        try:
            yield
        finally:
            spark.conf.set(_SHUFFLE, prev)
    finally:
        _width_lock.release()
