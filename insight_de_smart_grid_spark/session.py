"""SparkSession factory and the per-query session.

Defaults are chosen for correctness-vs-DuckDB (UTC session timezone, ANSI off
so divisions by zero yield NULL like the reference's tolerant pipeline) and for
scale (AQE on with skew-join handling, Arrow for any pandas exchange). On a real
cluster the same session config holds; only master/memory flow from the
environment. These are the only environment variables the package reads:

* ``SPARK_GRAFT_CPUS``: local parallelism (default: the host's core count);
* ``SPARK_GRAFT_DRIVER_MEM``: driver heap (default: ``default_driver_mem``);
* ``SPARK_MASTER_SET``: when set, ``get_spark`` leaves the master to the
  launcher instead of pinning ``local[cpus]``.

A query that needs its own ``spark.sql.shuffle.partitions`` runs in a
``query_session``: a child of the caller's session with the caller's
current conf and its own width. The caller's conf never changes, so
queries on other threads of the same session never see another query's
width. A child shares the SparkContext, its cached data and its pinned
blocks, but not the session state: temp views, registered Python data
sources and ``StreamingQueryListener``s stay with the session that made
them. ``hand_over`` moves a frame's plan between the two sessions.

Everything the driver JVM writes to its temp dir goes under the process
scratch root (``operators/staging.py``), which is removed at exit, unless
the deployment picks the JVM's temp dir itself (``driver_java_options``).
"""

from __future__ import annotations

import os
import re
import threading
import uuid

import pyspark
from pyspark.sql import DataFrame, SparkSession

from insight_de_smart_grid_spark.operators.staging import process_root

_SHUFFLE = "spark.sql.shuffle.partitions"
# the directory holding the package, for the Python workers' import path
_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# query_session's children, by (caller session, width), each with the
# conf last written to it
_CHILDREN: "dict[tuple[SparkSession, int], tuple[SparkSession, dict]]" = {}
_CHILDREN_LOCK = threading.Lock()


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
              master: str | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``getOrCreate`` semantics: if the driver harness already created a session
    we inherit it and only apply runtime-settable SQL confs.
    """
    builder = (
        SparkSession.builder
        .appName(app_name)
        .config(_SHUFFLE, str(default_parallelism()))
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
    java_opts = driver_java_options()
    if java_opts is not None:
        builder = builder.config("spark.driver.extraJavaOptions", java_opts)
    if master:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER_SET"):
        builder = builder.master(f"local[{default_parallelism()}]")
    spark = builder.getOrCreate()
    runtime_conf(spark)
    spark.sparkContext.setLogLevel("WARN")
    return spark


def driver_java_options() -> "str | None":
    """The driver JVM options ``get_spark`` starts the JVM with: the
    deployment's ``spark.driver.extraJavaOptions`` from the launcher's
    ``spark-defaults.conf``, then ``-Djava.io.tmpdir`` set to the process
    scratch root, so the JVM's temp files (spark-*, artifacts-*, the
    native lz4/snappy libraries, and block managers without
    ``SPARK_LOCAL_DIRS``) are removed at exit. A builder option replaces
    the file's value, which is why the file's options are carried over.
    None, leaving the options to the deployment, when it already picks
    the JVM's temp dir there or in ``JAVA_TOOL_OPTIONS``. Options in
    ``PYSPARK_SUBMIT_ARGS`` come later on the launcher's command line and
    still win. Pre-JVM only, like the heap."""
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(
        os.environ.get("SPARK_HOME") or os.path.dirname(pyspark.__file__),
        "conf")
    defaults = os.path.join(conf_dir, "spark-defaults.conf")
    opts = ""
    if os.path.isfile(defaults):
        with open(defaults) as f:
            for m in re.finditer(r"^\s*spark\.driver\.extraJavaOptions"
                                 r"[=:\s]\s*(.*?)\s*$", f.read(), re.M):
                opts = m.group(1)  # the last one wins, as in the launcher
    if "-Djava.io.tmpdir=" in opts + os.environ.get("JAVA_TOOL_OPTIONS", ""):
        return None
    return f"{opts} -Djava.io.tmpdir={process_root()}".strip()


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


def query_session(spark: SparkSession, shuffle: int) -> SparkSession:
    """A child session on ``spark``'s context for a query: ``spark``'s
    current conf with ``shuffle`` as its ``spark.sql.shuffle.partitions``;
    ``spark`` itself is left as it was. This is the only code that sets a
    width after a session is built.

    The conf is copied on every call, so what the caller has set by then
    (a state store provider, say) reaches the query, and what it has
    unset is unset. One child per (caller, width) is made and then
    reused: a session that runs a stream registers a listener bus on the
    context that is never removed, so a child per query would pile them
    up, each holding its session. Queries at one width share the child,
    and with it its temp views and registered data sources."""
    want = {**spark.conf.getAll, _SHUFFLE: str(shuffle)}
    with _CHILDREN_LOCK:
        child, have = _CHILDREN.get((spark, shuffle), (None, None))
        if child is None:
            child = spark.newSession()
            have = child.conf.getAll
        # written as the session builder writes an inherited session's
        # options: ``conf.set`` refuses a core conf (spark.driver.memory)
        # that a builder wrote onto the caller
        jconf = child._jsparkSession.sessionState().conf()
        for key in have.keys() - want.keys():
            jconf.unsetConf(key)
        for key, value in want.items():
            if have.get(key) != value:
                jconf.setConfString(key, value)
        _CHILDREN[(spark, shuffle)] = (child, want)
        return child


def hand_over(df: DataFrame, to: SparkSession) -> DataFrame:
    """``df``'s plan as a frame of session ``to``. The plan passes through
    a global temp view of a unique name, which is dropped as soon as
    ``to`` has resolved it, so no view is left behind."""
    name = f"hand_over_{uuid.uuid4().hex}"
    df.createGlobalTempView(name)
    try:
        return to.table(
            f"{to.conf.get('spark.sql.globalTempDatabase')}.{name}")
    finally:
        to.catalog.dropGlobalTempView(name)
