"""Shared index lifecycle core (operators/index_base.py): the zero-job
auto-mode pick, the conflict-retrying compaction, and the one ingest
driver — the contracts every family inherits, checked per family where
the family record is what varies."""

from __future__ import annotations

import ast
from pathlib import Path

import pytest
from pyspark.sql import DataFrame, functions as F

from insight_de_smart_grid_spark.operators import ann_index as ai
from insight_de_smart_grid_spark.operators import dedup_index as di
from insight_de_smart_grid_spark.operators import index_base as ib
from insight_de_smart_grid_spark.operators import ivf_index as ii
from insight_de_smart_grid_spark.operators.index_manifest import (
    read_manifest,
)
from tests.conftest import SF_ORACLE


def test_pick_join_mode_zero_job_on_statistics(spark, monkeypatch):
    """VERDICT r9 item 5: an ``auto`` probe on a statistics-bearing
    delta must launch NO job — proven by making count() explode. The
    explicit-threshold path keeps exact count semantics (the families'
    test lever)."""
    files = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    local = spark.range(5)   # Range relation: exact rowCount estimate

    def boom(self):
        raise AssertionError("count() ran in the zero-job path")

    monkeypatch.setattr(DataFrame, "count", boom)
    assert ib.pick_join_mode(files) == "broadcast"    # sizeInBytes gate
    assert ib.pick_join_mode(local) == "broadcast"    # rowCount gate
    monkeypatch.setattr(ib, "BROADCAST_DELTA_MAX_BYTES", 10)
    assert ib.pick_join_mode(files) == "shuffle"      # still zero jobs
    assert ib.pick_join_mode(local, default_rows=2) == "shuffle"
    monkeypatch.undo()
    # explicit threshold = the legacy exact row count
    assert ib.pick_join_mode(files, row_threshold=1) == "shuffle"
    assert ib.pick_join_mode(local, row_threshold=5) == "broadcast"


def test_compaction_racing_append_retries_and_absorbs(
        spark, tmp_path, monkeypatch):
    """VERDICT r9 item 8: an append that commits between a compaction's
    snapshot and its replace must NOT be dropped — the stale rewrite
    conflicts (ManifestConflict), retries from the fresh live set, and
    the final compacted index contains the racing append's docs."""
    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    base = docs.filter(F.col("doc_id") % 3 != 0)
    delta = docs.filter(F.col("doc_id") % 3 == 0)
    path = str(tmp_path / "idx")
    di.build_dedup_index(base, path)
    di.append_dedup_index(docs.limit(0), path)  # a second live segment
    n_base = di._read_table(spark, path, "docs").count()

    state = {"raced": False}
    real_read = ib.read_table

    def racing_read(sp, p, t):
        if not state["raced"]:
            state["raced"] = True
            di.append_dedup_index(delta, p)   # lands mid-compaction
        return real_read(sp, p, t)

    monkeypatch.setattr(ib, "read_table", racing_read)
    di.compact_dedup_index(spark, path)
    monkeypatch.undo()

    assert state["raced"]
    got = di._read_table(spark, path, "docs").count()
    assert got == n_base + delta.count()      # the append was absorbed
    # fully compacted: one live segment per table, orphans GC'd
    from insight_de_smart_grid_spark.operators.index_manifest import (
        live_segments,
    )
    assert len(live_segments(path, "docs")) == 1
    assert len(live_segments(path, "bands")) == 1
    # pairs equal a clean full rebuild — nothing lost, nothing doubled
    def pairs(p):
        return sorted((r.doc_a, r.doc_b, r.jaccard) for r in
                      di.index_near_dup_pairs(spark, p).collect())
    clean = str(tmp_path / "clean")
    di.build_dedup_index(docs, clean)
    assert pairs(path) == pairs(clean)


def test_compaction_gives_up_after_max_attempts(spark, tmp_path,
                                                monkeypatch):
    """A compaction that loses the race every time must fail loudly,
    not spin forever or silently drop writes."""
    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet").limit(50)
    path = str(tmp_path / "idx")
    di.build_dedup_index(docs, path)
    real_read = ib.read_table

    def always_racing(sp, p, t):
        di.append_dedup_index(docs.limit(1), p)
        return real_read(sp, p, t)

    monkeypatch.setattr(ib, "read_table", always_racing)
    with pytest.raises(ib.ManifestConflict, match="lost the commit race"):
        ib.compact(spark, di.FAMILY, path, max_attempts=2)


def test_adaptive_n_buckets_sizes_by_bytes_not_cores(spark):
    """Round-12 (VERDICT r11 item 1): the bucketed-layout default bucket
    count derives from the corpus size estimate — clamped — and is
    frozen in the built index's meta."""
    from insight_de_smart_grid_spark.sources.tables import load_table

    docs = load_table(spark, SF_ORACLE, "documents")
    n = ib.adaptive_n_buckets(docs)
    assert 4 <= n <= 1024
    # a tiny frame clamps to the floor, a huge target to the floor too
    assert ib.adaptive_n_buckets(docs, target_bytes=1 << 40) == 4


def test_degenerate_staging_inputs_are_noops(spark, tmp_path):
    """ADVICE r12: zero staging thunks and a zero-batch slice staging
    are no-ops, not a ThreadPoolExecutor(max_workers=0) ValueError or a
    stat of a slice file that was never written."""
    assert ib.stage_concurrently() == []
    staging = tmp_path / "staged"
    ib.stage_id_slices(spark.range(5).withColumnRenamed("id", "vec_id"),
                       str(staging), 0, "vec_id")
    assert not staging.exists()


def test_read_table_rejects_a_drifted_segment(spark, tmp_path):
    """ADVICE r12: schema-by-example reads every segment with the first
    segment's schema, which would null-fill a column a drifted segment
    lacks. The newest segment's footer names are checked against the
    example's, and a mismatch fails naming that segment."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from insight_de_smart_grid_spark.operators.index_manifest import commit

    def segment(name: str, **cols) -> str:
        seg = tmp_path / "idx" / "t" / name
        seg.mkdir(parents=True)
        pq.write_table(pa.table(cols), seg / "part-0.parquet")
        return str(seg)

    idx = str(tmp_path / "idx")
    commit(idx, adds={"t": [segment("seg-a", id=[1, 2], x=[1.0, 2.0]),
                            segment("seg-b", x=[3.0], id=[3])]})
    assert sorted(tuple(r) for r in ib.read_table(spark, idx, "t")
                  .select("id", "x").collect()) == [
        (1, 1.0), (2, 2.0), (3, 3.0)]
    drifted = segment("seg-c", id=[4], y=[4.0])
    commit(idx, adds={"t": [drifted]})
    with pytest.raises(ValueError, match="seg-c"):
        ib.read_table(spark, idx, "t")


def test_one_ingest_driver():
    """One ingest driver for the index families: no operator module but
    the core names the streaming driver, the idempotence-mark check or a
    meta snapshot — a family that needs them goes through
    ``index_base``, so a per-family copy of the loop cannot come back.
    (``index_manifest`` DEFINES ``has_mark``; only uses count here.)"""
    banned = {"foreachBatch", "has_mark", "snapshot_meta"}
    hits = []
    for f in sorted(Path(ib.__file__).parent.glob("*.py")):
        if f.name == "index_base.py":
            continue
        for node in ast.walk(ast.parse(f.read_text())):
            name = (node.id if isinstance(node, ast.Name)
                    else node.attr if isinstance(node, ast.Attribute)
                    else node.name if isinstance(node, ast.alias)
                    else None)
            if name in banned:
                hits.append(f"{f.name}:{node.lineno}:{name}")
    assert not hits


# --- the shared ingest driver, per family --------------------------------

FAMILIES = ("dedup", "ann", "ivf")


def _case(spark, family: str):
    """(family record, corpus, ingest params) as the family's public
    ingest entry points pass them."""
    if family == "dedup":
        docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
        return (di.FAMILY, docs,
                {"text_col": "text", "id_col": "doc_id", "threshold": 0.5})
    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    if family == "ann":
        return (ai.FAMILY, emb,
                {"n_tables": 4, "n_planes": 8, "dim": 64,
                 "vec_col": "embedding", "id_col": "vec_id", "k": 5,
                 "probe_radius": 0})
    return (ii.FAMILY, emb,
            {"n_centroids": 8, "vec_col": "embedding", "id_col": "vec_id",
             "k": 5, "nprobe": 2})


def _slice(corpus, params: dict, n: int, i: int):
    return corpus.filter(F.pmod(F.col(params["id_col"]), F.lit(n)) == i)


def _rows(df) -> list:
    return sorted(tuple(r) for r in df.collect())


def _state(spark, fam, path: str) -> dict:
    """Every committed row of every table, the log included (None for a
    table with no committed segment yet)."""
    def rows(t):
        try:
            return _rows(ib.read_table(spark, path, t))
        except FileNotFoundError:
            return None

    return {t: rows(t) for t in (*fam.tables, fam.log)}


def test_ingest_rejects_non_integral_ids(spark, tmp_path):
    """Slices are ``pmod(id, n)`` filters: a string id would cast to
    null and drop every row from every batch, so the driver refuses it
    before staging or committing anything."""
    fam, corpus, params = _case(spark, "dedup")
    corpus = corpus.withColumn("doc_id", F.col("doc_id").cast("string"))
    path = tmp_path / "idx"
    for stream_dir in (None, str(tmp_path / "stream")):
        with pytest.raises(TypeError, match="must be integral"):
            ib.ingest(spark, fam, corpus, str(path), params, 3, stream_dir)
    assert not path.exists()


@pytest.mark.parametrize("family", FAMILIES)
def test_ingest_replay_after_commit_is_skipped(spark, tmp_path, family):
    """ADVICE r9: a micro-batch whose manifest bump LANDED but whose
    streaming checkpoint didn't is replayed by the engine; its
    idempotence mark makes the replay a no-op — no probe against an
    index that already contains the batch, no rewrite of a live
    segment, identical log. Replaying the FIRST batch is equally inert
    (its mark rode the build's own commit)."""
    fam, corpus, params = _case(spark, family)
    path = str(tmp_path / "idx")
    log = _rows(ib.ingest(spark, fam, corpus, path, params, 3))
    assert log
    version = read_manifest(path)["version"]
    for i in (1, 0):
        ib.ingest_batch(spark, fam, _slice(corpus, params, 3, i), path,
                        params, f"b{i}")
        assert read_manifest(path)["version"] == version
    assert _rows(ib.read_table(spark, path, fam.log)) == log


@pytest.mark.parametrize("family", FAMILIES)
def test_ingest_crash_before_commit_restages_and_commits_once(
        spark, tmp_path, monkeypatch, family):
    """The manifest contract on the ingest step: a batch killed between
    staging (log + index segments) and its single bump leaves its
    orphans on disk but NOTHING visible; the replay overwrites its own
    orphans, commits exactly once, and converges to a clean run of the
    same batches — every table and the log row-identical."""
    fam, corpus, params = _case(spark, family)
    b0, b1 = (_slice(corpus, params, 3, i) for i in (0, 1))
    path = str(tmp_path / "idx")
    ib.ingest_batch(spark, fam, b0, path, params, "b0")
    before = _state(spark, fam, path)
    version = read_manifest(path)["version"]

    real_commit = ib.commit

    def dying(*args, **kw):
        raise RuntimeError("injected crash between stage and commit")

    monkeypatch.setattr(ib, "commit", dying)
    with pytest.raises(RuntimeError, match="injected crash"):
        ib.ingest_batch(spark, fam, b1, path, params, "b1")
    assert any(any(Path(path, t).glob("seg-b1*"))
               for t in (*fam.tables, fam.log))
    assert read_manifest(path)["version"] == version
    assert _state(spark, fam, path) == before

    monkeypatch.setattr(ib, "commit", real_commit)
    ib.ingest_batch(spark, fam, b1, path, params, "b1")
    assert read_manifest(path)["version"] == version + 1
    # the replayed batch logged against the index AS OF its arrival:
    # its log rows are exactly the family's log frame over a clean
    # index holding only the earlier batch
    clean = str(tmp_path / "clean")
    ib.ingest_batch(spark, fam, b0, clean, params, "b0")
    meta = ib.read_meta(clean)
    frames = fam.frames(spark, b1, clean, meta)
    want = _rows(fam.log_frame(spark, b1, clean, meta, frames, params,
                               False))
    for df in frames.values():
        df.unpersist()
    got = _state(spark, fam, path)
    assert want and got[fam.log] == sorted(
        (_state(spark, fam, clean)[fam.log] or []) + want)
    # and the whole index converged to a clean run of the same batches
    ib.ingest_batch(spark, fam, b1, clean, params, "b1")
    assert got == _state(spark, fam, clean)


@pytest.mark.parametrize("family", FAMILIES)
def test_scheduled_and_streaming_ingest_commit_the_same_log(
        spark, tmp_path, family):
    """The two slice sources of ``index_base.ingest`` — scheduled
    ``pmod(id, n)`` filters and the one ``foreachBatch`` stream over the
    staged slice files — commit identical logs and standing indexes."""
    fam, corpus, params = _case(spark, family)
    sched = str(tmp_path / "sched")
    stream = str(tmp_path / "stream")
    got_a = _rows(ib.ingest(spark, fam, corpus, sched, params, 3))
    got_b = _rows(ib.ingest(spark, fam, corpus, f"{stream}/index", params,
                            3, stream_dir=stream))
    assert got_a and got_a == got_b
    assert _state(spark, fam, sched) == _state(spark, fam, f"{stream}/index")
