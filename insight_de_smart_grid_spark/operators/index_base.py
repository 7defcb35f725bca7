"""The one lifecycle core of the persisted index families.

The MinHash dedup (``operators/dedup_index.py``), hyperplane ANN
(``operators/ann_index.py``), IVF (``operators/ivf_index.py``) and BM25
(``operators/bm25_index.py``) indexes all keep immutable segments named
by one manifest (``operators/index_manifest.py``) — the reference's
Druid segment + metadata-store design. A family is its ``Family`` record
plus its probes:

- its tables, each with ONE layout-aware segment writer
  ``write(df, seg, meta)`` — staging, compaction and the geometry
  changes (rebuild, retrain, split) all write through it, so each
  table's partitioning/sort/bucket layout exists once;
- ``frames(spark, delta, path, meta) -> {table: df}``, its one
  signature or assignment pass over a delta;
- ``create(corpus, params) -> (meta, frames)``, the hook that freezes
  the geometry from an ingest loop's first batch (the family's build
  does the same from its own arguments);
- for an ingest loop, its log table (``pairs``/``probes``) and the
  function that builds a batch's log frame against the standing index.

Everything else runs here, once for every family: ``stage`` (frames
through the writers, overlapped), ``build``, ``append`` (the
``expect_meta`` retry loop), ``compact`` (conflict-retrying rewrite
through the same writers, tombstones dropped), ``replace_retrying``
(the ``expect_version`` commit of compaction and geometry changes),
``delete_ids``,
and the ingest driver — ``ingest_batch`` (idempotence mark, log plan
built and written overlapped with staging, one commit) fed either by
the scheduled ``pmod(id, n)`` slices or by ONE ``foreachBatch`` stream
over ``stage_id_slices`` files (``ingest``).
"""

from __future__ import annotations

from contextlib import contextmanager
from dataclasses import dataclass
from functools import partial, reduce
from pathlib import Path
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType

from insight_de_smart_grid_spark.operators.index_manifest import (
    ManifestConflict,
    commit,
    data_bearing,
    gc_unreferenced,
    has_mark,
    live_segments,
    pinned_segments,
    read_manifest,
    read_pin,
    stage_segment,
)


def stage_concurrently(*thunks: "Callable[[], object]") -> list:
    """Run independent staging jobs from a small thread pool (round-11,
    guide §2.6 "overlap independent jobs"): a staged segment write at
    sf0.1 is dominated by fixed per-job cost (scheduling, parquet writer
    init, task commit), so N sequential writes pay the fixed cost N
    times while most cores idle. The families' per-batch writes (docs +
    bands, vectors + bands, postings + doclens, log + tables) share no
    lineage beyond an already-persisted upstream frame — Spark's FIFO
    scheduler back-fills the tail of one job with the next job's tasks.

    ``inheritable_thread_target`` propagates the JVM-thread-local job
    group/description into each worker thread (pinned-thread mode is the
    PySpark default). Exceptions propagate from ``result()``; overwrite
    staging semantics make a half-written sibling segment a replayable
    orphan, exactly as in the sequential order. Zero thunks is a no-op."""
    if len(thunks) <= 1:
        return [t() for t in thunks]
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.util import inheritable_thread_target

    session = SparkSession.getActiveSession()
    # session form propagates job group/description AND session tags into
    # the worker threads; the bare-callable form warns and copies only
    # the local properties
    wrap = (inheritable_thread_target(session) if session is not None
            else inheritable_thread_target)
    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [pool.submit(wrap(t)) for t in thunks]
        return [f.result() for f in futures]

# Shared tombstone table (round-11, VERDICT r10 item 2): the curation ops
# this engine exists for (keep-best, semantic dedup, decontamination)
# REMOVE documents, but until round 11 the persisted indexes could only
# grow — at 100 TB a takedown or dedup-driven removal forced a full
# rebuild. ``delete_ids`` stages a tiny id-list segment under this table
# riding ONE manifest bump; probes anti-join the live tombstones
# (broadcast — deletes are small relative to the corpus, so the index
# side's plan is unchanged); compaction physically drops tombstoned rows
# from every id-bearing table and clears the tombstone table in the same
# atomic replace.
TOMBSTONES = "tombstones"

# Catalyst size estimate above which an "auto" probe stops broadcasting
# the delta — the driver-OOM bound expressed in the unit that actually
# OOMs (bytes). The per-family ROW thresholds remain the fallback gate
# when no estimate is available.
BROADCAST_DELTA_MAX_BYTES = 512 * 1024 * 1024


def adaptive_n_buckets(corpus: DataFrame, target_bytes: int = 64 * 1024,
                       lo: int = 4, hi: int = 1024) -> int:
    """Bucket count for a ``layout="bucketed"`` index when the caller
    doesn't pin one: Catalyst's zero-job size estimate of the corpus
    frame divided by a per-bucket byte target, clamped (round-12,
    VERDICT r11 item 1 — width from BYTES, not cores).

    The old fixed default (32 = local core count) made every bucketed
    segment write and every shuffle-mode probe join schedule 32 tasks
    over KB-scale buckets — the tiny-task shape behind the bimodal
    32-core readings on the `_bucketed` queries — and was simultaneously
    far too SMALL for a real multi-TB corpus. ``target_bytes`` is
    deliberately low (64 KiB of compressed parquet ~ a few hundred KB in
    memory): buckets also bound the probe join's parallelism, and the
    per-row verify work (jaccard over shingle sets, cosine re-ranks) is
    CPU-dense relative to its bytes. ``hi`` caps metadata blowup; a
    cluster-sized corpus should pin ``n_buckets`` explicitly (it is a
    frozen layout property of the index)."""
    size = None
    try:
        stats = corpus._jdf.queryExecution().optimizedPlan().stats()
        size = int(str(stats.sizeInBytes()))
    except Exception:
        pass
    if size is None or not (0 < size < (1 << 62)):
        return 32  # no estimate: the old fixed default
    return max(lo, min(hi, -(-size // target_bytes)))


def layout_meta(corpus: DataFrame, layout: str,
                n_buckets: "int | None" = None) -> dict:
    """The layout keys a family freezes in its meta: ``layout``, plus
    the bucket count of a ``"bucketed"`` index — pinned by the caller,
    else sized from the corpus bytes (``adaptive_n_buckets``)."""
    if layout != "bucketed":
        return {"layout": layout}
    return {"layout": layout,
            "n_buckets": (n_buckets if n_buckets is not None
                          else adaptive_n_buckets(corpus))}


def pick_join_mode(delta: DataFrame,
                   row_threshold: "int | None" = None,
                   default_rows: int = 1_000_000) -> str:
    """Broadcast-vs-shuffle pick for an ``auto``-mode probe join.

    Round-10 (VERDICT r9 item 5): with no explicit ``row_threshold`` the
    pick is ZERO jobs — Catalyst's optimizedPlan statistics, the same
    gate the sampled pane probe uses (``duty_cycle._probe_input_bytes``).
    An exact rowCount estimate (in-memory relations, CBO) compares
    against ``default_rows``; otherwise the file-size-based sizeInBytes
    compares against ``BROADCAST_DELTA_MAX_BYTES`` — a coarse bound, but
    coarse in the SAFE direction (filters don't shrink the estimate, so
    an over-estimate flips to shuffle, never to an OOMing broadcast).
    ``count()`` remains only as the fallback when statistics are absent
    or nonsensical, and as the exact semantics when the caller passes an
    explicit ``row_threshold`` (the families' test lever)."""
    if row_threshold is not None:
        return ("broadcast" if delta.count() <= row_threshold
                else "shuffle")
    try:
        stats = delta._jdf.queryExecution().optimizedPlan().stats()
        rc = stats.rowCount()
        if rc.isDefined():
            return ("broadcast" if int(str(rc.get())) <= default_rows
                    else "shuffle")
        size = int(str(stats.sizeInBytes()))
        if 0 < size < (1 << 62):      # Long.Max sentinels = no estimate
            return ("broadcast" if size <= BROADCAST_DELTA_MAX_BYTES
                    else "shuffle")
    except Exception:
        pass
    return "broadcast" if delta.count() <= default_rows else "shuffle"


def read_meta(path: str, pin_id: "str | None" = None) -> dict:
    """The frozen creation-time geometry, read from the manifest that
    commits it atomically with the segments encoding it (rebuild/retrain
    change geometry and segments in one bump). Every maintenance entry
    point starts here: appends must signature/assign identically to the
    build or buckets/lists from different geometries silently never
    collide. ``pin_id`` reads the geometry AS OF the pinned snapshot — a
    rebuild/retrain landing after the pin must not make a pinned probe
    hash into the new bucket/cluster space over the old segments."""
    man = read_pin(path, pin_id) if pin_id else read_manifest(path)
    if man is None:
        raise FileNotFoundError(f"no committed index at {path}")
    return man["meta"]


def read_table(spark: SparkSession, path: str, table: str,
               pin_id: "str | None" = None) -> DataFrame:
    """Union of the manifest's live segments — each segment is its own
    (possibly partitioned) parquet root, and Catalyst pushes probe
    filters through the union into every segment's scan (PartitionFilters
    per segment, verified in the family plan tests).

    ``pin_id`` (round-11) resolves through a PINNED snapshot
    (``index_manifest.pin_snapshot``) instead of the live manifest: the
    lever for a long-lived reader whose lazy scan must survive a
    concurrent compact + zero-retention GC — the pinned segments stay
    referenced until the caller unpins."""
    from insight_de_smart_grid_spark.sources.pq import (
        parquet_schema,
        read_parquet,
    )

    raw = (pinned_segments(path, pin_id, table) if pin_id
           else live_segments(path, table))
    segs = data_bearing(raw)
    if not segs:
        raise FileNotFoundError(f"index table {table} has no live "
                                f"segments under {path}")
    # schema-by-example (round-12, guide §1/§6): every segment of one
    # index table shares the creation-time schema (the geometry — and
    # with it the column set — is frozen for the index's lifetime), so
    # ONE footer sniff per table covers all segments. An ingest loop
    # previously paid the ~80-100 ms driver-side sniff once per NEWLY
    # COMMITTED segment per batch (fresh paths can never hit the
    # (path, mtime) schema cache).
    schema = parquet_schema(spark, segs[0])
    return reduce(DataFrame.unionByName,
                  [read_parquet(spark, s, schema=schema) for s in segs])


@contextmanager
def pinned_index(path: str):
    """Context manager over ``index_manifest.pin_snapshot``: every read
    inside the block that passes the yielded pin id resolves the frozen
    snapshot, and its segments survive any concurrent compact + GC until
    the block exits (round-11). The family probe entry points accept
    ``pin_id`` and thread it to their table reads::

        with pinned_index(path) as pin:
            df = query_bm25_index(spark, path, terms, pin_id=pin)
            rows = df.collect()      # safe against compaction + GC
    """
    from insight_de_smart_grid_spark.operators.index_manifest import (
        pin_snapshot,
        unpin_snapshot,
    )

    pin = pin_snapshot(path)
    try:
        yield pin
    finally:
        unpin_snapshot(path, pin)


def delete_ids(spark: SparkSession, path: str, ids,
               tag: "str | None" = None) -> dict:
    """Stage a tombstone segment naming the deleted ids and make it
    visible with ONE atomic manifest bump — the delete path of all index
    families (round-11). ``ids`` is a DataFrame carrying the index's id
    column or a plain iterable of ids. Cost is the id list's size: no
    index table is read or rewritten here (probes anti-join the
    tombstones lazily; ``compact`` is the physical drop). A crash before
    the bump leaves the index unchanged — the staged orphan is invisible
    and GC-able.

    ``tag``: the same concurrent-writer lever as the append APIs —
    two deleters snapshotting the same version would stage into the
    same version-derived segment and one id set would silently
    overwrite the other (un-deleting documents); concurrent deleters
    pass distinct explicit tags, a single writer (and its crash-retry)
    keeps the deterministic default."""
    id_col = read_meta(path)["id_col"]
    if not isinstance(ids, DataFrame):
        from insight_de_smart_grid_spark.sources.local_rows import (
            local_rows_df,
        )

        # Arrow-batch local frame (round-11, guide §4): no Python-RDD
        # partitions under the tombstone segment's coalesce(1) write
        ids = local_rows_df(spark, [(int(i),) for i in ids],
                            f"{id_col} bigint")
    tag = tag or next_tag(path, "d")
    seg = stage_segment(f"{path}/{TOMBSTONES}", tag)
    (ids.select(id_col).distinct().coalesce(1)
     .write.mode("overwrite").parquet(seg))
    return commit(path, adds={TOMBSTONES: [seg]})


def live_tombstones(spark: SparkSession, path: str,
                    pin_id: "str | None" = None) -> "DataFrame | None":
    """The live deleted-id set, or None when nothing was ever deleted
    (or every delete was compacted away) — the None path keeps probe
    plans on an undeleted index literally unchanged. Under a pin the
    tombstone set is the PINNED one: the whole probe sees one
    consistent snapshot."""
    from insight_de_smart_grid_spark.sources.pq import read_parquet

    raw = (pinned_segments(path, pin_id, TOMBSTONES) if pin_id
           else live_segments(path, TOMBSTONES))
    segs = [s for s in raw if any(Path(s).rglob("*.parquet"))]
    if not segs:
        return None
    return reduce(DataFrame.unionByName,
                  [read_parquet(spark, s) for s in segs]).distinct()


def subtract_tombstoned(spark: SparkSession, path: str, df: DataFrame,
                        cols: "list[str]",
                        pin_id: "str | None" = None) -> DataFrame:
    """Anti-join out rows whose value in ANY of ``cols`` is a live
    tombstoned id. The tombstone side is broadcast (deletes are tiny
    next to the corpus), so the probe's index-side plan — pruned scans,
    bucketed exchange-free joins — is untouched; with no live tombstones
    the input plan comes back identical."""
    tombs = live_tombstones(spark, path, pin_id)
    if tombs is None:
        return df
    id_col = tombs.columns[0]
    for c in cols:
        df = df.join(
            F.broadcast(tombs.select(F.col(id_col).alias(c))),
            c, "left_anti")
    return df


def next_tag(path: str, prefix: str) -> str:
    """Deterministic per-version segment tag for a maintenance step. A
    retry of a crashed step recomputes the same tag (the version didn't
    bump) and overwrites its own orphan. CONCURRENT appenders must pass
    explicit distinct tags instead (two writers snapshotting the same
    version would stage into the same segment name before either
    commits) — the ingest loops' per-batch ``b{batch_id}`` tags are
    exactly that."""
    man = read_manifest(path)
    return f"{prefix}{(man['version'] if man else 0) + 1:06d}"


def live_file_count(path: str, tables: "tuple[str, ...]") -> int:
    return sum(1 for t in tables for seg in live_segments(path, t)
               for _ in Path(seg).rglob("*.parquet"))


def bucket_table_name(seg: str) -> str:
    """Deterministic catalog name for a bucketed segment — a pure
    function of the segment's absolute path, so any session can
    re-register and two segments can never collide."""
    import hashlib
    import os

    return ("idxseg_"
            + hashlib.md5(os.path.abspath(seg).encode()).hexdigest()[:16])


def write_bucketed_segment(df: DataFrame, seg: str, n_buckets: int,
                           keys: "list[str]",
                           sort_keys: "list[str] | None" = None) -> None:
    """Stage a segment as a Spark BUCKETED table (hive-style bucket file
    naming + catalog bucket spec): the scan of such a segment reports
    ``HashPartitioning(keys, n_buckets)``, so a shuffled hash join
    against it shuffles ONLY the other side — the storage-layout lever
    that keeps the corpus-sized index side of a big-delta probe
    shuffle-free (VERDICT r9 item 3; the public Spark bucketing design).
    Overwrite semantics match ``stage_segment``: a retried stage drops
    and rewrites its own orphan."""
    import os

    from pyspark.sql import functions as F

    name = bucket_table_name(seg)
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    # repartition on the bucket keys with numPartitions == n_buckets:
    # HashPartitioning and the bucket-id function are the same
    # pmod(murmur3(keys), n) — each task then holds exactly one bucket
    # and writes exactly one file, instead of tasks x buckets files
    (df.repartition(n_buckets, *[F.col(k) for k in keys])
     .write.mode("overwrite")
     .bucketBy(n_buckets, keys[0], *keys[1:])
     .sortBy(*(sort_keys or keys))
     .option("path", os.path.abspath(seg))
     .saveAsTable(name))


def read_bucketed_segment(spark: SparkSession, seg: str, n_buckets: int,
                          keys: "list[str]",
                          sort_keys: "list[str] | None" = None
                          ) -> DataFrame:
    """Read one bucketed segment THROUGH the catalog (a bare parquet
    read would lose the bucket spec and with it the shuffle-free join).
    Registers the external table on first touch in a session — the
    bucket spec lives in the index meta, the files carry the bucket-id
    naming the writer produced, so registration is pure metadata."""
    import os

    from insight_de_smart_grid_spark.sources.pq import parquet_schema

    name = bucket_table_name(seg)
    if not spark.catalog.tableExists(name):
        schema = parquet_schema(spark, seg)
        cols = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                         for f in schema.fields)
        sort = ", ".join(sort_keys or keys)
        spark.sql(
            f"CREATE TABLE {name} ({cols}) USING PARQUET "
            f"CLUSTERED BY ({', '.join(keys)}) SORTED BY ({sort}) "
            f"INTO {n_buckets} BUCKETS "
            f"LOCATION '{os.path.abspath(seg)}'")
    return spark.table(name)


def join_each_segment(spark: SparkSession, path: str, table: str,
                      other: DataFrame, on: "list[str]",
                      bucket_spec: "dict | None" = None,
                      prepare=None,
                      pin_id: "str | None" = None) -> DataFrame:
    """``read_table(...).join(other, on)`` refactored so a BUCKETED index
    side stays exchange-free: an inner join distributes over union, so
    joining ``other`` against each live segment separately and unioning
    the results is row-identical to joining the union — but each
    per-segment join sees the segment scan's bucketed output
    partitioning, which a union would erase. With no ``bucket_spec``
    (the default partitioned layout) the plain union-then-join shape is
    kept — per-segment joins of unbucketed scans would just shuffle the
    index side once per segment. ``prepare`` (a column-level transform,
    e.g. a renaming select) is applied to the index side before the
    join; projections preserve the bucketed output partitioning."""
    prepare = prepare or (lambda df: df)
    if not bucket_spec:
        return prepare(read_table(spark, path, table, pin_id)) \
            .join(other, on)
    segs = data_bearing(pinned_segments(path, pin_id, table) if pin_id
                        else live_segments(path, table))
    if not segs:
        raise FileNotFoundError(f"index table {table} has no live "
                                f"segments under {path}")
    return reduce(
        DataFrame.unionByName,
        [prepare(read_bucketed_segment(spark, s, bucket_spec["n_buckets"],
                                       bucket_spec["keys"],
                                       bucket_spec.get("sort")))
         .join(other, on) for s in segs])


def stage_id_slices(corpus: DataFrame, staging: str, n_batches: int,
                    id_col: str) -> None:
    """Stage ``id % n_batches`` slices as one parquet file each with
    strictly ascending mtimes, so a ``maxFilesPerTrigger=1`` file-source
    stream delivers one slice per micro-batch IN SLICE ORDER (the file
    source orders batches by modification time). Staged only once: a
    restart of the stream (crash recovery) must see the same file set so
    the checkpoint replays only the failed micro-batch — re-staging
    would mint new names and replay everything. Arrival order is part of
    the ANN/IVF contract (their probe logs are batching-dependent by
    design); the dedup pair set is slicing-invariant, so any slicing
    serves it. Zero batches is a no-op."""
    import os
    import shutil
    import tempfile

    if n_batches <= 0 or Path(staging, "_STAGED").exists():
        return
    Path(staging).mkdir(parents=True, exist_ok=True)

    def stage_slice(i: int) -> None:
        tmp = tempfile.mkdtemp(prefix="slice_")
        (corpus.filter(F.pmod(F.col(id_col), F.lit(n_batches)) == i)
         .coalesce(1).write.mode("overwrite").parquet(tmp))
        part = next(Path(tmp).glob("part-*.parquet"))
        shutil.move(str(part), Path(staging) / f"slice_{i}.parquet")
        shutil.rmtree(tmp, ignore_errors=True)

    # the N one-file slice writes share no lineage — overlap them
    # (round-12, guide §2.6; each is a fixed-overhead-dominated tiny job
    # that previously ran serially). Slice ORDER comes from the explicit
    # utime pass below, not write completion order, so concurrency cannot
    # reorder micro-batches; the _STAGED marker still lands only after
    # every slice and every mtime is in place.
    stage_concurrently(*[(lambda i=i: stage_slice(i))
                         for i in range(n_batches)])
    base_mtime = os.stat(Path(staging) / "slice_0.parquet").st_mtime
    for i in range(n_batches):
        dest = Path(staging) / f"slice_{i}.parquet"
        os.utime(dest, (base_mtime + 10 * i, base_mtime + 10 * i))
    Path(staging, "_STAGED").touch()


def replace_retrying(path: str, what: str, step, max_attempts: int = 5
                     ) -> dict:
    """Commit a table REPLACEMENT with ``expect_version`` and retry from
    a fresh snapshot on conflict — the one concurrency loop behind
    compaction and every geometry change (rebuild, retrain, split).
    ``step(manifest)`` stages the replacement from that snapshot and
    returns ``(replaces, meta)`` (meta None carries the live geometry
    forward), or None when there is nothing to commit. An append or
    delete landing between the snapshot and the commit conflicts the
    stale replacement (its segments become GC-able orphans) and the
    step re-runs against the fresh live set, absorbing the write instead
    of dropping it from a stale ``replaces`` list (VERDICT r9 item 8).
    Returns the committed (or unchanged) meta."""
    for _ in range(max_attempts):
        man = read_manifest(path)
        out = step(man)
        if out is None:
            return man["meta"]
        replaces, meta = out
        try:
            man = commit(path, replaces=replaces, meta=meta,
                         expect_version=man["version"])
        except ManifestConflict:
            continue
        gc_unreferenced(path, list(replaces))
        return man["meta"]
    raise ManifestConflict(
        f"{what} of {path} lost the commit race {max_attempts} times")


@dataclass(frozen=True)
class Family:
    """One index family's record (see the module docstring).
    ``tables`` maps each table to its segment writer; ``geometry`` names
    the tables only a geometry change rewrites (compaction leaves them
    alone); ``log``/``log_frame`` are the ingest loop's output table and
    its per-batch builder ``(spark, batch, path, meta, frames, params,
    first) -> DataFrame | None`` (None: nothing to log this batch)."""

    tables: "dict[str, Callable[[DataFrame, str, dict], None]]"
    frames: "Callable[[SparkSession, DataFrame, str, dict], dict]"
    create: "Callable[[DataFrame, dict], tuple[dict, dict]]"
    log: str = ""
    log_frame: "Callable[..., DataFrame | None] | None" = None
    geometry: "tuple[str, ...]" = ()


def _release(frames: dict) -> None:
    """Unpersist the frames a family cached for sharing (dedup's one
    shingle pass) once every consumer has been staged."""
    for df in frames.values():
        if df.is_cached:
            df.unpersist()


def stage(fam: Family, frames: dict, path: str, meta: dict, tag: str,
          *also: "Callable[[], object]") -> dict:
    """Write each of the family's tables present in ``frames`` to a
    fresh ``seg-{tag}`` through the table's writer, overlapped with any
    ``also`` thunks (an ingest batch's log write — submitted first: its
    plan-time jobs make it the longest chain); returns the staged
    ``{table: [segment]}`` for one later commit. Overwrite mode makes a
    retried stage replace its own orphan; nothing is visible yet."""
    segs = {t: stage_segment(f"{path}/{t}", tag)
            for t in fam.tables if t in frames}
    stage_concurrently(*also, *[partial(fam.tables[t], frames[t], seg, meta)
                                for t, seg in segs.items()])
    return {t: [seg] for t, seg in segs.items()}


def build(fam: Family, path: str, meta: dict, frames: dict,
          marks: "list[str] | None" = None) -> dict:
    """Create (or replace) an index from a corpus's frames: stage every
    table, then ONE bump carries the segments, the geometry meta and any
    idempotence marks; superseded segments are GC'd. Returns the meta."""
    try:
        staged = stage(fam, frames, path, meta, "base")
    finally:
        _release(frames)
    commit(path, replaces=staged, marks=marks, meta=meta)
    gc_unreferenced(path)
    return meta


def append(spark: SparkSession, fam: Family, delta: DataFrame, path: str,
           tag: "str | None" = None) -> dict:
    """Append a delta under the frozen geometry. The job reads ONLY the
    delta (plus a family's geometry table) — never the index's data
    tables — so append cost tracks delta size; the staged segments
    become visible in ONE manifest bump, and a crash before it leaves
    the index unchanged.

    The bump carries an ``expect_meta`` guard (round-11): a rebuild,
    retrain or split swapping the geometry between this append's
    signature/assignment pass and its commit would leave the delta keyed
    in a space probes no longer rank, so the commit conflicts and the
    append re-reads the geometry and re-stages.

    ``tag`` (ADVICE r10): CONCURRENT appenders must pass distinct
    explicit tags — the default ``next_tag`` derives from the snapshot
    version, so two writers appending from the same snapshot would stage
    into the same segment directory and one delta would silently
    overwrite the other. A single writer (and any crash-retry of it)
    keeps the deterministic default."""
    for _ in range(5):
        meta = read_meta(path)
        frames = fam.frames(spark, delta, path, meta)
        try:
            staged = stage(fam, frames, path, meta,
                           tag or next_tag(path, "a"))
        finally:
            _release(frames)
        try:
            commit(path, adds=staged, expect_meta=meta)
        except ManifestConflict:
            continue
        return meta
    raise ManifestConflict(
        f"append to {path} lost the geometry race 5 times")


def compact(spark: SparkSession, fam: Family, path: str,
            max_attempts: int = 5) -> int:
    """Rewrite every non-geometry table's accumulated segments to ONE
    segment through the table's own writer and swap them in with one
    ``expect_version`` bump (``replace_retrying``: an append committing
    mid-rewrite is absorbed on the retry, never dropped); returns the
    live parquet file count after.

    Tombstones (round-11): when live ones exist, every rewritten table
    is anti-joined against the deleted-id set before its rewrite — the
    PHYSICAL drop ``delete_ids`` defers — and the tombstone table is
    cleared in the SAME replace, so a reader sees either (tombstones
    live, rows present but masked) or (tombstones gone, rows gone),
    never a state that resurrects a deleted id."""
    meta = read_meta(path)
    id_col = meta["id_col"]

    def step(man: dict):
        tombs = live_tombstones(spark, path)
        tag = f"c{man['version'] + 1:06d}"
        staged = {}
        for table, write in fam.tables.items():
            if table in fam.geometry:
                continue
            seg = stage_segment(f"{path}/{table}", tag)
            df = read_table(spark, path, table)
            if tombs is not None:
                df = df.join(F.broadcast(tombs.select(
                    F.col(tombs.columns[0]).alias(id_col))),
                    id_col, "left_anti")
            write(df, seg, meta)
            staged[table] = [seg]
        if tombs is not None:
            staged[TOMBSTONES] = []     # cleared in the same atomic bump
        return staged, None

    replace_retrying(path, "compaction", step, max_attempts)
    return live_file_count(path, tuple(fam.tables))


def ingest_batch(spark: SparkSession, fam: Family, batch: DataFrame,
                 path: str, params: dict, tag: str) -> None:
    """One ingest step, committed atomically: the batch's log (built
    against the STANDING index — the staged segments are invisible
    until the commit) and its own index segments are staged
    concurrently and published by ONE manifest bump. The log plan is
    built inside its thunk, so plan-time jobs (the IVF probed-cluster
    collect) overlap the staging too. A crash anywhere before the bump
    leaves index and log unchanged; a replay re-stages the same
    ``seg-{tag}`` names with overwrite and commits once.

    "First" means no manifest committed yet — not "batch 0" — so a
    crash before the first commit replays down the build path again.
    The first batch freezes the geometry (``fam.create``) and its meta
    rides the same bump.

    The bump records an idempotence mark for the tag (ADVICE r9): a
    micro-batch replayed because the crash hit AFTER the bump but
    BEFORE the streaming checkpoint committed is skipped outright —
    without the mark the replay would probe an index that already
    contains the batch and rewrite a live, manifest-referenced segment
    in place."""
    mark = f"ingested-{tag}"
    if has_mark(path, mark):
        return
    man = read_manifest(path)
    first = man is None
    if first:
        meta, frames = fam.create(batch, params)
    else:
        meta = man["meta"]
        frames = fam.frames(spark, batch, path, meta)
    seg_log = stage_segment(f"{path}/{fam.log}", tag)
    logged = []

    def write_log() -> None:
        log = fam.log_frame(spark, batch, path, meta, frames, params, first)
        if log is not None:
            log.write.mode("overwrite").parquet(seg_log)
            logged.append(seg_log)

    try:
        staged = stage(fam, frames, path, meta, tag, write_log)
    finally:
        _release(frames)
    if logged:
        staged[fam.log] = logged
    commit(path, adds=staged, marks=[mark], meta=meta if first else None)


def ingest(spark: SparkSession, fam: Family, corpus: DataFrame, path: str,
           params: dict, n_batches: int, stream_dir: "str | None" = None,
           compact_every: "int | None" = None) -> DataFrame:
    """The index's whole lifecycle as one ingest loop over ``n_batches``
    slices of the corpus (slice = ``id % n_batches``; the id column must
    be integral, else a ``TypeError``), each run through
    ``ingest_batch``; returns the committed log.

    Scheduled (``stream_dir`` None): the slices are filters replayed in
    slice order — the reference's Airflow-triggered micro-batch mode
    (SURVEY ST5) recast as corpus curation — with ``compact_every=k``
    compacting after every k-th batch (result-invariant; only the live
    file count changes). Streaming: the slices are staged once as
    mtime-ordered files (``stage_id_slices``) and REAL Structured
    Streaming micro-batches (availableNow, one file per trigger,
    ``foreachBatch``) deliver them in the same order, checkpointed under
    ``stream_dir`` so a restart replays only the failed batch."""
    id_col = params["id_col"]
    if not isinstance(corpus.schema[id_col].dataType, IntegralType):
        # a non-integral id would make pmod null and silently drop rows
        raise TypeError(f"ingest slices by pmod({id_col}, n): the id "
                        f"column must be integral, got "
                        f"{corpus.schema[id_col].dataType.simpleString()}")
    if stream_dir is None:
        for i in range(n_batches):
            batch = corpus.filter(
                F.pmod(F.col(id_col), F.lit(n_batches)) == i)
            ingest_batch(spark, fam, batch, path, params, f"b{i}")
            if compact_every and (i + 1) % compact_every == 0:
                compact(spark, fam, path)
        return read_table(spark, path, fam.log)
    staging = f"{stream_dir}/staged"
    stage_id_slices(corpus, staging, n_batches, id_col)

    def on_batch(batch: DataFrame, batch_id: int) -> None:
        if not batch.isEmpty():
            ingest_batch(spark, fam, batch, path, params, f"b{batch_id}")

    schema = spark.read.parquet(f"{staging}/slice_0.parquet").schema
    (spark.readStream.schema(schema).format("parquet")
     .option("maxFilesPerTrigger", "1")
     .option("pathGlobFilter", "slice_*.parquet").load(staging)
     .writeStream.foreachBatch(on_batch)
     .option("checkpointLocation", f"{stream_dir}/ck")
     .trigger(availableNow=True).start().awaitTermination())
    return read_table(spark, path, fam.log)
