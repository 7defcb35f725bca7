"""Generic file-source stream replay: run any streaming plan over a parquet
table with ``availableNow`` and collect the finalized result.

In production the source is ``readStream.format("kafka")`` (SURVEY S1) and
the sink Kafka or partitioned Parquet (S4/S9); file-in/parquet-out runs the
identical logical plan without brokers, through the same checkpointed
parquet sink, which is what makes streaming operators driver-checkable and
batch≡stream testable.
"""

from __future__ import annotations

import math
import os
from functools import lru_cache
from pathlib import Path
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from insight_de_smart_grid_spark.operators.staging import scratch_dir
from insight_de_smart_grid_spark.session import (
    default_parallelism,
    query_session,
)

# Source rows one state store takes per micro-batch before the stateful
# shuffle widens by another partition. Each store pays a fixed open/commit
# cost every batch, so stores beyond the data's needs only add CPU. On
# 4 cores: 5k-row batches run best at width 1 (CPU 7.7 s vs 15.5 s at 8,
# wall no worse); 100k-row batches need width 4 to keep wall (28.2 s vs
# 27.9 s at 8, 38.1 s at 2). Any value in (5k, 33k] gives both widths.
ROWS_PER_STORE = 25_000


@lru_cache(maxsize=512)
def _footer_at(path: str, mtime_ns: int, size: int):
    import pyarrow.parquet as pq

    return pq.read_metadata(path)


def _footer(path):
    """Parquet footer metadata of ``path`` (symlinks resolved), read once
    per (file, mtime, size) per process: the width rule and the Arrow
    sentinel pass open the same footers."""
    real = os.path.realpath(path)
    st = os.stat(real)
    return _footer_at(real, st.st_mtime_ns, st.st_size)


def state_width(parquet_path: str,
                max_files_per_trigger: int | None = None) -> int:
    """Stateful shuffle width for a replay of ``parquet_path``:
    ``ceil(rows_per_batch / ROWS_PER_STORE)`` clamped to
    ``[1, default_parallelism()]``. ``rows_per_batch`` is the largest row
    sum over the files one trigger takes (``max_files_per_trigger`` files
    in mtime order, name breaking ties; all files when unset), read from
    the parquet footers only — no Spark job. The rule only decides a
    query's first start: a restart keeps the width stored in its
    checkpoint."""
    p = Path(parquet_path)
    files = [p] if p.is_file() else sorted(
        (f for f in p.rglob("*") if f.is_file() and not any(
            part.startswith(("_", ".")) for part in f.relative_to(p).parts)),
        key=lambda f: (os.stat(f).st_mtime_ns, f.name))
    rows = [_footer(f).num_rows for f in files]
    step = max_files_per_trigger or len(rows) or 1
    per_batch = max((sum(rows[i:i + step])
                     for i in range(0, len(rows), step)), default=0)
    return max(1, min(math.ceil(per_batch / ROWS_PER_STORE),
                      default_parallelism()))


def parquet_stream_source(spark: SparkSession, parquet_path: str,
                          flush_sentinel: bool = False,
                          sentinel_margin_s: int = 3600,
                          max_files_per_trigger: int | None = None,
                          sentinel_all_types: bool = False
                          ) -> DataFrame:
    """Schema-pinned streaming file source over a parquet table. The file
    source requires a directory, so a single parquet file is staged behind a
    symlink dir; nanos-precision timestamps surface as longs (same policy as
    ``sources.tables.load_table``) for the plan's projection to convert.

    ``flush_sentinel`` additionally stages a one-row file whose ``ts`` lies
    ``sentinel_margin_s`` past the real maximum and whose ``user_id`` is -1:
    once the stream drains, the final watermark sits past every real window
    end, so append mode emits the COMPLETE window set (identical to the batch
    aggregation) instead of holding back the tail windows. The sentinel's own
    windows end after the watermark and are never emitted — the marker key is
    only a belt-and-braces filter for callers. This is the standard
    end-of-replay flush for finite sources; a live deployment doesn't need it
    (the next real event plays the same role). One sentinel suffices: a
    watermark update takes effect in the NEXT batch, and availableNow
    finishes with a no-data micro-batch (``noDataMicroBatches``, on by
    default) where the advanced watermark evicts state and emits
    watermark-gated output (outer-join rows, closed windows) —
    regression-tested for both outer joins in tests/test_sketch_topn.py.

    The staging dir comes from ``staging.scratch_dir``, so an enclosing
    ``checkpoint_scope`` removes it."""
    from insight_de_smart_grid_spark.sources.pq import parquet_schema

    # resolve the schema from the ORIGINAL path (round-11 optimization):
    # the staged dir is symlinks to the same files plus sentinels built
    # from them, so the schema is identical — and the original path is
    # immutable, so the footer sniff is paid once per process instead of
    # once per replay invocation (fresh tmp dirs can never cache-hit)
    schema = parquet_schema(spark, parquet_path)
    p = Path(parquet_path)
    if p.is_file() or flush_sentinel:
        # always stage when adding a sentinel: the source dir may be
        # read-only and must never be mutated
        staged = Path(scratch_dir("stream_src_"))
        for src in ([p] if p.is_file() else sorted(p.iterdir())):
            (staged / src.name).symlink_to(src)
        parquet_path = str(staged)
    if flush_sentinel:
        _stage_flush_sentinel(parquet_path, sentinel_margin_s,
                              all_types=sentinel_all_types)
    reader = spark.readStream.schema(schema).format("parquet")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger",
                               str(max_files_per_trigger))
    return reader.load(parquet_path)


def _stage_flush_sentinel(staged_dir: str, margin_s: int,
                          all_types: bool = False) -> None:
    """Write the watermark-flush sentinel beside the staged source files:
    the max-``ts`` row copied, ``ts`` bumped by ``margin_s``, ``user_id``
    -1, a NULL ``value`` replaced by 0, and with ``all_types`` one row per
    distinct ``event_type``. It lands in a file with a later mtime than
    the real data, so mtime-ordered micro-batching processes it last.

    ``ts`` keeps the source's type and physical encoding: a timestamp gets
    a duration added, a nanos-since-epoch long gets integer nanos, and an
    INT96 source (Spark's default timestamp encoding) gets an INT96
    sentinel, so the sentinel reads back under the replay's pinned schema.

    All driver-side: the max-``ts`` row group is found from the footer
    statistics, or, for a row group without them (Spark writes INT96
    without statistics), from that row group's ``ts`` column; then that
    one row group is read. No Spark job, and the work is bounded by the
    row groups however large the table. Raises on input it cannot read
    (no flat ``ts`` or ``user_id`` column, no rows)."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    files = sorted(p for p in Path(staged_dir).iterdir()
                   if p.suffix == ".parquet" and p.stat().st_size > 0)
    if not files:
        raise ValueError("no parquet files staged")
    # 1. locate the row group holding the global max ts
    best = None  # (max ts, file, rg_index)
    int96 = False
    for f in files:
        md = _footer(f)
        for rg in range(md.num_row_groups):
            rgm = md.row_group(rg)
            col = next((rgm.column(ci) for ci in range(rgm.num_columns)
                        if rgm.column(ci).path_in_schema == "ts"), None)
            if col is None:
                raise ValueError("no flat ts column")
            int96 = int96 or col.physical_type == "INT96"
            st = col.statistics
            top = (st.max if st is not None and st.has_min_max
                   else pc.max(pq.ParquetFile(f).read_row_group(
                       rg, columns=["ts"]).column(0)).as_py())
            if top is not None and (best is None or top > best[0]):
                best = (top, f, rg)
    if best is None:
        raise ValueError("no ts values staged")
    _, src, rg = best
    tbl = pq.ParquetFile(src).read_row_group(rg)
    names = tbl.schema.names
    if "user_id" not in names:
        raise ValueError("no user_id column")
    # 2. one-row slice at the max ts (ties: any max row)
    i = pc.sort_indices(
        tbl.select(["ts"]), sort_keys=[("ts", "descending")])[0].as_py()
    one = tbl.slice(i, 1)

    def put(t: pa.Table, name: str, arr) -> pa.Table:
        idx = t.schema.get_field_index(name)
        return t.set_column(idx, t.schema.field(idx), arr)

    # 3. bump ts (duration add for timestamps, integer nanos for the
    #    legacy nanos-as-long long form), mark user_id, patch value
    ts_type = one.schema.field("ts").type
    if pa.types.is_timestamp(ts_type):
        mult = {"s": 1, "ms": 10**3, "us": 10**6, "ns": 10**9}[ts_type.unit]
        bump = pa.scalar(margin_s * mult, pa.duration(ts_type.unit))
    elif pa.types.is_integer(ts_type):
        bump = pa.scalar(margin_s * 1_000_000_000, ts_type)
    else:
        raise ValueError(f"unexpected ts type {ts_type}")
    one = put(one, "ts", pc.add(one.column("ts"), bump).cast(ts_type))
    one = put(one, "user_id",
              pa.array([-1], type=one.schema.field("user_id").type))
    if "value" in names:
        # a plan's pre-watermark `value IS NOT NULL` filter would drop a
        # sentinel copied from a NULL-value row, stall the watermark at
        # the real maximum and lose the tail windows
        vt = one.schema.field("value").type
        one = put(one, "value",
                  pc.coalesce(one.column("value"), pa.scalar(0).cast(vt)))
    if all_types and "event_type" in names:
        # queries that split the stream by type (stream-stream joins)
        # track event time per post-filter branch: each branch needs a
        # sentinel that passes its filter, or its watermark stalls and
        # its tail outer rows never flush
        et = one.schema.field("event_type").type
        vals = set()
        has_null = False
        for f in files:
            col = pq.read_table(f, columns=["event_type"]).column(0)
            vals.update(v for v in col.to_pylist() if v is not None)
            has_null = has_null or col.null_count > 0
        types = sorted(vals) + ([None] if has_null else [])
        one = pa.concat_tables(
            [put(one, "event_type", pa.array([v], type=et)) for v in types])
    # 4. land it after the real data
    dest = Path(staged_dir) / "zz_flush_sentinel.parquet"
    pq.write_table(one, dest, version="2.6",
                   use_deprecated_int96_timestamps=int96)
    now = os.stat(staged_dir).st_mtime + 10
    os.utime(dest, (now, now))


def replay_parquet_stream(spark: SparkSession, parquet_path: str,
                          plan_fn: Callable[[DataFrame], DataFrame],
                          query_name: str | None = None,
                          checkpoint_dir: str | None = None,
                          out_dir: str | None = None,
                          flush_sentinel: bool = False,
                          sentinel_margin_s: int = 3600,
                          max_files_per_trigger: int | None = None,
                          sentinel_all_types: bool = False,
                          output_mode: str = "append",
                          partition_by: tuple[str, ...] = (),
                          progress_out: "list | None" = None
                          ) -> DataFrame:
    """The one ``trigger(availableNow=True)`` replay: run
    ``plan_fn(stream)`` over a parquet file source (see
    ``parquet_stream_source`` for the sentinel and trigger options) to the
    end of its files, and return the parquet sink read back as a batch
    DataFrame.

    Append mode writes through the fault-tolerant file sink (optionally
    ``partition_by``). Complete mode overwrites the sink dir with each
    micro-batch, which holds the whole result. Without ``checkpoint_dir``
    and ``out_dir`` both go in one ``staging.scratch_dir``, so the
    enclosing ``checkpoint_scope`` removes them; pass both to run an
    incremental replay that resumes where the last one stopped. Passing
    only one raises ``ValueError``: a fresh checkpoint over a used sink
    would restart at batch 0, and the file sink would skip every batch id
    its log already holds and return the old rows.
    ``query_name`` only labels the query in its progress reports.

    The stateful shuffle (= state store instances and sink files per
    trigger) is ``state_width`` of the source: one store per
    ``ROWS_PER_STORE`` rows a micro-batch brings, at most one per core,
    because every store pays a fixed open/commit cost each batch. It only
    takes effect at first start; a restart keeps the width in its
    checkpoint. The source and the plan are built and run in a
    ``session.query_session`` at that width, so the caller's conf never
    changes and replays on other threads keep their own widths; the sink
    is read back through the caller's ``spark``. Static frames the plan
    joins may come from the caller's session. Listeners registered on the
    caller's session do not see the replay: read ``progress_out``.

    ``progress_out``: a caller-supplied list that receives the drained
    query's ``recentProgress`` dicts — the per-micro-batch state-operator
    metrics (numRowsUpdated, numRowsTotal, operator name) that let tests
    assert HOW MUCH the state store ingested, not just what came out
    (the pane-vs-explode state-input contract)."""
    if (checkpoint_dir is None) != (out_dir is None):
        raise ValueError("pass both checkpoint_dir and out_dir, or neither")
    if checkpoint_dir is None:
        base = scratch_dir("replay_")
        checkpoint_dir, out_dir = f"{base}/ck", f"{base}/sink"
    parts = list(partition_by) or None
    qs = query_session(spark, state_width(parquet_path,
                                          max_files_per_trigger))
    result = plan_fn(parquet_stream_source(
        qs, parquet_path, flush_sentinel=flush_sentinel,
        sentinel_margin_s=sentinel_margin_s,
        max_files_per_trigger=max_files_per_trigger,
        sentinel_all_types=sentinel_all_types))
    writer = (result.writeStream.trigger(availableNow=True)
              .option("checkpointLocation", checkpoint_dir))
    if output_mode == "complete":
        # the file sink only appends; a complete-mode batch holds the
        # whole result, so it replaces the sink's contents
        q = writer.foreachBatch(
            lambda batch, _: batch.write.parquet(
                out_dir, mode="overwrite", partitionBy=parts)
        ).start(outputMode=output_mode, queryName=query_name)
    else:
        q = writer.start(out_dir, format="parquet",
                         outputMode=output_mode, partitionBy=parts,
                         queryName=query_name)
    q.awaitTermination()
    if progress_out is not None:
        progress_out.extend(p for p in q.recentProgress if p)
    # the plan's schema: a sink that got no rows reads back empty instead
    # of failing schema inference
    return spark.read.schema(result.schema).parquet(out_dir)
