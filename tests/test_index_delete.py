"""Round-11 delete/tombstone lifecycle across the persisted index
families (VERDICT r10 item 2), plus the ADVICE r10 concurrency fixes:
explicit append tags, retrain/rebuild expect_version, and the pinned
reader surviving a zero-retention GC.

The core contract everywhere: ``delete_ids`` stages one tiny tombstone
segment riding ONE manifest bump; probes anti-join live tombstones
(broadcast — index-side plan untouched); compaction physically drops
tombstoned rows AND clears the tombstones in the same atomic replace —
so delete + compact over a corpus equals a rebuild WITHOUT the deleted
rows, with neither path re-reading the raw corpus."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from insight_de_smart_grid_spark.operators import ann_index as ai
from insight_de_smart_grid_spark.operators import dedup_index as di
from insight_de_smart_grid_spark.operators import index_base as ib
from insight_de_smart_grid_spark.operators import index_manifest as im
from insight_de_smart_grid_spark.operators import ivf_index as iv
from tests.conftest import SF_ORACLE


def _docs(spark):
    return spark.read.parquet(f"{SF_ORACLE}/documents.parquet")


def _emb(spark):
    return spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")


def _pairs(spark, path):
    return sorted((r.doc_a, r.doc_b, round(r.jaccard, 6)) for r in
                  di.index_near_dup_pairs(spark, path).collect())


def test_dedup_delete_masks_then_compact_drops(spark, tmp_path):
    """Dedup family: pairs involving a tombstoned doc vanish IMMEDIATELY
    after the delete (masked), and after compaction the rows are
    physically gone, the tombstone table is cleared, and the pair set
    equals a clean rebuild WITHOUT the deleted docs — the inverse of the
    append==rebuild oracle."""
    docs = _docs(spark)
    deleted = docs.filter(F.col("doc_id") % 7 == 3)
    survivors = docs.filter(F.col("doc_id") % 7 != 3)
    path = str(tmp_path / "idx")
    di.build_dedup_index(docs, path)
    before = _pairs(spark, path)

    di.delete_from_dedup_index(spark, path, deleted.select("doc_id"))
    masked = _pairs(spark, path)
    gone = {r.doc_id for r in deleted.select("doc_id").collect()}
    assert all(a not in gone and b not in gone for a, b, _ in masked)
    assert masked != before          # the corpus genuinely had such pairs

    # physical drop: docs/bands rows gone, tombstones cleared, one bump
    n_docs_before = di._read_table(spark, path, "docs").count()
    di.compact_dedup_index(spark, path)
    assert ib.live_tombstones(spark, path) is None
    n_docs_after = di._read_table(spark, path, "docs").count()
    assert n_docs_after == n_docs_before - len(gone)
    assert _pairs(spark, path) == masked   # identical answer, now physical

    clean = str(tmp_path / "clean")
    di.build_dedup_index(survivors, clean)
    assert _pairs(spark, path) == _pairs(spark, clean)


def test_dedup_delete_masks_incremental_probe(spark, tmp_path):
    """The incremental-ingest probe must not pair a delta against a
    tombstoned index doc — before OR after compaction."""
    docs = _docs(spark)
    base = docs.filter(F.col("doc_id") % 5 != 0)
    delta = docs.filter(F.col("doc_id") % 5 == 0)
    path = str(tmp_path / "idx")
    di.build_dedup_index(base, path)
    tomb = base.filter(F.col("doc_id") % 3 == 0).select("doc_id")
    gone = {r.doc_id for r in tomb.collect()}
    di.delete_from_dedup_index(spark, path, tomb)

    got = di.dedup_new_against_index(spark, path, delta).collect()
    assert all(r.doc_a not in gone and r.doc_b not in gone for r in got)
    di.compact_dedup_index(spark, path)
    got2 = di.dedup_new_against_index(spark, path, delta).collect()
    assert sorted((r.doc_a, r.doc_b) for r in got) == \
        sorted((r.doc_a, r.doc_b) for r in got2)


def test_ann_delete_probe_pairs_and_compact(spark, tmp_path):
    """ANN family: single-query probe, batched probe, and the full pair
    query all exclude tombstoned vectors immediately; after compaction
    the single-copy vectors and band rows are physically gone and
    results equal a clean rebuild without the deleted ids."""
    emb = _emb(spark)
    path = str(tmp_path / "idx")
    ai.build_signature_index(emb, path, n_tables=4, n_planes=6)
    qv = [r.embedding for r in
          emb.filter(F.col("vec_id") == 0).collect()][0]
    base_topk = [r.vec_id for r in
                 ai.query_index_topk(spark, path, qv, k=5,
                                     exclude_id=0).collect()]
    # tombstone the probe's own current top hit plus a spread of ids
    # (all present in the 500-row sf0.01 corpus)
    tomb = sorted({base_topk[0]} | ({7, 77, 177} - {base_topk[0]}))
    ai.delete_from_signature_index(spark, path, tomb)

    got = [r.vec_id for r in
           ai.query_index_topk(spark, path, qv, k=5,
                               exclude_id=0).collect()]
    assert base_topk[0] not in got and got != base_topk

    bgot = ai.query_index_batch_topk(
        spark, path, emb.filter(F.col("vec_id") < 3), k=5).collect()
    assert all(r.vec_id not in set(tomb) for r in bgot)

    pairs = ai.index_cosine_pairs(spark, path, 0.9).collect()
    assert all(r.vec_a not in set(tomb) and r.vec_b not in set(tomb)
               for r in pairs)

    n_vecs = ai._read_table(spark, path, "vectors").count()
    ai.compact_signature_index(spark, path)
    assert ib.live_tombstones(spark, path) is None
    assert ai._read_table(spark, path, "vectors").count() \
        == n_vecs - len(tomb)
    got2 = [r.vec_id for r in
            ai.query_index_topk(spark, path, qv, k=5,
                                exclude_id=0).collect()]
    assert got2 == got

    clean = str(tmp_path / "clean")
    ai.build_signature_index(emb.filter(~F.col("vec_id").isin(tomb)),
                             clean, n_tables=4, n_planes=6)
    want = [r.vec_id for r in
            ai.query_index_topk(spark, clean, qv, k=5,
                                exclude_id=0).collect()]
    assert got2 == want


def test_ivf_delete_probe_and_compact(spark, tmp_path):
    """IVF family: probes exclude tombstoned vectors immediately;
    compaction drops the list rows and clears the tombstones; results
    equal a clean same-quantizer rebuild without the deleted ids (the
    deleted set avoids the portable quantizer's centroid ids so both
    builds freeze identical geometry)."""
    emb = _emb(spark)
    path = str(tmp_path / "idx")
    iv.build_ivf_index(emb, path, n_centroids=8)
    qv = [r.embedding for r in
          emb.filter(F.col("vec_id") == 0).collect()][0]
    base = [r.vec_id for r in
            iv.query_ivf_topk(spark, path, qv, k=5, nprobe=3,
                              exclude_id=0).collect()]
    # tombstone two of the current hits plus two arbitrary indexed rows —
    # all with id >= 100 so both builds freeze identical portable
    # centroids (the 8 lowest nonzero ids), all provably IN the lists
    in_lists = {r.vec_id for r in
                iv._read_table(spark, path, "lists")
                .select("vec_id").collect()}
    tomb = [i for i in base if i >= 100][:2] + \
        sorted(i for i in in_lists if i >= 100 and i not in base)[:2]
    assert len(set(tomb)) == 4
    iv.delete_from_ivf_index(spark, path, tomb)

    got = [r.vec_id for r in
           iv.query_ivf_topk(spark, path, qv, k=5, nprobe=3,
                             exclude_id=0).collect()]
    assert all(t not in got for t in tomb)
    bgot = iv.query_ivf_batch_topk(
        spark, path, emb.filter(F.col("vec_id") < 3), k=5,
        nprobe=3).collect()
    assert all(r.vec_id not in set(tomb) for r in bgot)

    n_rows = iv._read_table(spark, path, "lists").count()
    iv.compact_ivf_index(spark, path)
    assert ib.live_tombstones(spark, path) is None
    assert iv._read_table(spark, path, "lists").count() \
        == n_rows - len(tomb)

    clean = str(tmp_path / "clean")
    iv.build_ivf_index(emb.filter(~F.col("vec_id").isin(tomb)), clean,
                       n_centroids=8)
    want = [r.vec_id for r in
            iv.query_ivf_topk(spark, clean, qv, k=5, nprobe=3,
                              exclude_id=0).collect()]
    assert got == want


def test_bucketed_layout_delete_and_compact(spark, tmp_path):
    """Tombstones compose with the round-10 bucketed layout: the
    anti-join masks rows without touching the exchange-free bucketed
    probe plan, and compaction rewrites the bucketed segments without
    the deleted docs (probe answers equal the partitioned twin's)."""
    docs = _docs(spark)
    base = docs.filter(F.col("doc_id") % 5 != 0)
    delta = docs.filter(F.col("doc_id") % 5 == 0)
    tomb = base.filter(F.col("doc_id") % 3 == 0).select("doc_id")

    paths = {}
    for layout in ("partitioned", "bucketed"):
        p = str(tmp_path / layout)
        di.build_dedup_index(base, p, layout=layout)
        di.delete_from_dedup_index(spark, p, tomb)
        di.compact_dedup_index(spark, p)
        paths[layout] = p

    def probe(p):
        return sorted((r.doc_a, r.doc_b, round(r.jaccard, 6)) for r in
                      di.dedup_new_against_index(spark, p, delta,
                                                 mode="shuffle").collect())

    got_b = probe(paths["bucketed"])
    assert got_b == probe(paths["partitioned"])
    gone = {r.doc_id for r in tomb.collect()}
    assert all(a not in gone and b not in gone for a, b, _ in got_b)
    assert ib.live_tombstones(spark, paths["bucketed"]) is None


def test_delete_crash_before_bump_leaves_index_unchanged(
        spark, tmp_path, monkeypatch):
    """A delete that crashes before its manifest bump leaves the index
    fully consistent (no masked rows, no live tombstones); the staged
    orphan is invisible and GC-able."""
    import os

    docs = _docs(spark).limit(200)
    path = str(tmp_path / "idx")
    di.build_dedup_index(docs, path)
    before = _pairs(spark, path)
    v = im.read_manifest(path)["version"]

    real_replace = os.replace

    def dying_replace(src, dst):
        raise OSError("injected crash before the pointer bump")

    monkeypatch.setattr(os, "replace", dying_replace)
    with pytest.raises(OSError, match="injected"):
        di.delete_from_dedup_index(spark, path, [1, 2, 3])
    monkeypatch.setattr(os, "replace", real_replace)

    assert im.read_manifest(path)["version"] == v
    assert ib.live_tombstones(spark, path) is None
    assert _pairs(spark, path) == before
    assert im.gc_unreferenced(path, [ib.TOMBSTONES]) == 1   # the orphan


def test_concurrent_append_tags(spark, tmp_path, monkeypatch):
    """ADVICE r10 (medium): two appenders snapshotting the same version
    derive the same default tag and stage into the same segment — one
    delta silently lost. Explicit distinct tags (the new append
    parameter) keep both. The test pins the hazard first, then the
    fix."""
    docs = _docs(spark)
    base = docs.filter(F.col("doc_id") % 4 == 0)
    d1 = docs.filter(F.col("doc_id") % 4 == 1)
    d2 = docs.filter(F.col("doc_id") % 4 == 2)

    # hazard: force both appends to derive the SAME tag (same snapshot)
    lost = str(tmp_path / "lost")
    di.build_dedup_index(base, lost)
    monkeypatch.setattr(ib, "next_tag", lambda p, pre: f"{pre}same")
    di.append_dedup_index(d1, lost)
    di.append_dedup_index(d2, lost)     # same seg name: overwrites d1
    monkeypatch.undo()
    n_lost = di._read_table(spark, lost, "docs").count()
    assert n_lost == base.count() + d2.count()   # d1's docs are GONE

    # fix: explicit distinct tags from concurrent writers both survive
    ok = str(tmp_path / "ok")
    di.build_dedup_index(base, ok)
    di.append_dedup_index(d1, ok, tag="w1")
    di.append_dedup_index(d2, ok, tag="w2")
    assert di._read_table(spark, ok, "docs").count() \
        == base.count() + d1.count() + d2.count()


def _swap_and_gc(path: str) -> None:
    """Run in a SEPARATE PROCESS: replace the docs table with a copied
    segment (a compaction's effect) and GC at retention 0 — the
    maintenance side of the reader-vs-GC race."""
    import shutil
    from pathlib import Path

    from insight_de_smart_grid_spark.operators import index_manifest as im

    old = im.live_segments(path, "docs")
    new = im.stage_segment(f"{path}/docs", "swapped")
    shutil.copytree(old[0], new)
    im.commit(path, replaces={"docs": [new]})
    removed = im.gc_unreferenced(path, ["docs"], retention_seconds=0)
    # the pinned old segment must NOT have been collected
    assert removed == 0, f"GC removed {removed} pinned segment(s)"
    assert Path(old[0]).exists()


def test_pinned_reader_survives_cross_process_gc(spark, tmp_path):
    """Round-11 (VERDICT r10 item 6), two processes: a reader pins the
    snapshot, resolves its lazy scan, THEN another process swaps the
    table and GCs with retention 0. Without the pin the reader's files
    are unlinked before its tasks open them (Spark opens scan files
    lazily — POSIX open-file protection does not apply, and object
    stores never had it); with the pin the scan completes and the
    segments fall only after unpin + the next GC."""
    import multiprocessing as mp

    docs = _docs(spark).limit(300)
    path = str(tmp_path / "idx")
    di.build_dedup_index(docs, path)

    pin = im.pin_snapshot(path)
    pinned_df = ib.read_table(spark, path, "docs", pin_id=pin)

    proc = mp.Process(target=_swap_and_gc, args=(path,))
    proc.start()
    proc.join(120)
    assert proc.exitcode == 0

    # the lazy scan executes AFTER the swap + zero-retention GC ran
    assert pinned_df.count() == docs.count()
    old_seg = im.pinned_segments(path, pin, "docs")[0]
    assert im.live_segments(path, "docs") != [old_seg]   # view moved on

    im.unpin_snapshot(path, pin)
    assert im.gc_unreferenced(path, ["docs"]) == 1       # now released
    from pathlib import Path as P
    assert not P(old_seg).exists()


def test_concurrent_delete_tags(spark, tmp_path, monkeypatch):
    """The append-tag hazard applies to deletes too: two deleters from
    the same snapshot derive the same tombstone segment name and one id
    set silently overwrites the other — UN-deleting documents. Explicit
    distinct tags keep both sets."""
    docs = _docs(spark).limit(200)
    lost = str(tmp_path / "lost")
    di.build_dedup_index(docs, lost)
    monkeypatch.setattr(ib, "next_tag", lambda p, pre: f"{pre}same")
    di.delete_from_dedup_index(spark, lost, [1, 2])
    di.delete_from_dedup_index(spark, lost, [3, 4])   # overwrites {1,2}
    monkeypatch.undo()
    live = {r.doc_id for r in ib.live_tombstones(spark, lost).collect()}
    assert live == {3, 4}          # the hazard: 1 and 2 resurfaced

    ok = str(tmp_path / "ok")
    di.build_dedup_index(docs, ok)
    di.delete_from_dedup_index(spark, ok, [1, 2], tag="w1")
    di.delete_from_dedup_index(spark, ok, [3, 4], tag="w2")
    live = {r.doc_id for r in ib.live_tombstones(spark, ok).collect()}
    assert live == {1, 2, 3, 4}


def test_append_committing_after_geometry_swap_conflicts_and_retries(
        spark, tmp_path, monkeypatch):
    """The OTHER ordering of the geometry race (round-11 review): an
    append that assigned its delta under the OLD quantizer must not
    commit AFTER a retrain swapped the geometry — its rows would sit in
    obsolete cluster ids probes never rank, silently unfindable. The
    expect_meta commit guard conflicts the stale append, which re-reads
    the NEW centroids and re-assigns."""
    emb = _emb(spark)
    base = emb.filter(F.col("vec_id") % 3 != 0)
    delta = emb.filter(F.col("vec_id") % 3 == 0)
    path = str(tmp_path / "idx")
    iv.build_ivf_index(base, path, n_centroids=8)

    state = {"raced": False}
    real_write = iv.FAMILY.tables["lists"]

    def racing_write(df, seg, meta):
        real_write(df, seg, meta)
        if not state["raced"]:
            state["raced"] = True
            # geometry swaps AFTER the append staged, BEFORE it commits
            iv.retrain_ivf_index(spark, path, quantizer="kmeans")

    monkeypatch.setitem(iv.FAMILY.tables, "lists", racing_write)
    iv.append_ivf_index(delta, path)
    monkeypatch.undo()

    assert state["raced"]
    live_clusters = {r.cluster for r in
                     iv._read_table(spark, path, "lists")
                     .select("cluster").distinct().collect()}
    cents = {r.c_id for r in iv._read_table(spark, path, "centroids")
             .select("c_id").collect()}
    assert live_clusters <= cents   # no orphaned (unfindable) lists
    got = {r.vec_id for r in iv._read_table(spark, path, "lists")
           .select("vec_id").collect()}
    want = {r.vec_id for r in
            emb.filter(iv._norm(F.col("embedding").cast("array<double>"))
                       > 0).select("vec_id").collect()}
    assert got == want


def test_ann_append_after_rebuild_conflicts_and_retries(
        spark, tmp_path, monkeypatch):
    """ANN twin: an append signatured at the old depth committing after
    a rebuild would strand its bands at a depth probes no longer hash —
    the expect_meta guard forces a re-signature at the new depth."""
    emb = _emb(spark)
    base = emb.filter(F.col("vec_id") % 3 != 0)
    delta = emb.filter(F.col("vec_id") % 3 == 0)
    path = str(tmp_path / "idx")
    ai.build_signature_index(base, path, n_tables=4, n_planes=6)

    state = {"raced": False}
    real_write = ai.FAMILY.tables["vectors"]

    def racing_write(df, seg, meta):
        real_write(df, seg, meta)
        if not state["raced"]:
            state["raced"] = True
            ai.rebuild_signature_index(spark, path, n_planes=9)

    monkeypatch.setitem(ai.FAMILY.tables, "vectors", racing_write)
    ai.append_signatures(delta, path)
    monkeypatch.undo()

    assert state["raced"]
    meta = ai._read_meta(path)
    assert meta["n_planes"] == 9
    bands = ai._read_table(spark, path, "bands")
    # every vector's bands exist and live inside the NEW bucket space
    assert bands.select("vec_id").distinct().count() \
        == ai._read_table(spark, path, "vectors").count()
    assert bands.agg(F.max("bucket")).head()[0] < 2 ** 9


def test_retrain_racing_append_absorbed(spark, tmp_path, monkeypatch):
    """ADVICE r10 (medium): an append landing between the retrain's read
    of the live lists and its replace-commit must NOT be dropped — the
    stale retrain conflicts, retries from the fresh live set, and the
    final index contains the racing delta in the NEW cluster space."""
    emb = _emb(spark)
    base = emb.filter(F.col("vec_id") % 3 != 0)
    delta = emb.filter(F.col("vec_id") % 3 == 0)
    path = str(tmp_path / "idx")
    iv.build_ivf_index(base, path, n_centroids=8)

    state = {"raced": False}
    real_read = iv._read_table

    def racing_read(sp, p, t, **kw):
        if t == "lists" and not state["raced"]:
            state["raced"] = True
            iv.append_ivf_index(delta, p)     # lands mid-retrain
        return real_read(sp, p, t, **kw)

    monkeypatch.setattr(iv, "_read_table", racing_read)
    iv.retrain_ivf_index(spark, path, quantizer="kmeans")
    monkeypatch.undo()

    assert state["raced"]
    got = {r.vec_id for r in
           iv._read_table(spark, path, "lists")
           .select(iv._read_meta(path)["id_col"]).collect()}
    want = {r.vec_id for r in
            emb.filter(iv._norm(F.col("embedding").cast("array<double>"))
                       > 0).select("vec_id").collect()}
    assert got == want          # nothing dropped, nothing unfindable


def test_pinned_family_probe_is_a_consistent_snapshot(spark, tmp_path):
    """Round-11 pins threaded through the family probe APIs: a pair
    query built under ``pinned_index`` answers AS OF the pin — the
    pre-delete pair set, from the pre-compaction segments — even though
    a delete + compaction + GC ran in between (the live query shows the
    post-delete world, and the superseded files the pinned plan needs
    were protected from the GC). Geometry rides the pin too: the meta
    read under the pin is the pinned snapshot's."""
    docs = _docs(spark)
    path = str(tmp_path / "idx")
    di.build_dedup_index(docs, path)
    before = _pairs(spark, path)
    tomb = docs.filter(F.col("doc_id") % 7 == 3).select("doc_id")
    gone = {r.doc_id for r in tomb.collect()}
    assert any(a in gone or b in gone for a, b, _ in before)

    with ib.pinned_index(path) as pin:
        pinned_df = di.index_near_dup_pairs(spark, path, pin_id=pin)
        di.delete_from_dedup_index(spark, path, tomb)
        di.compact_dedup_index(spark, path)   # physical drop + GC
        # live view: post-delete; pinned view: the full pre-delete set
        live = _pairs(spark, path)
        assert all(a not in gone and b not in gone for a, b, _ in live)
        got = sorted((r.doc_a, r.doc_b, round(r.jaccard, 6))
                     for r in pinned_df.collect())
        assert got == before
    # released: next GC drops the pinned-only segments
    assert im.gc_unreferenced(path) > 0
    assert _pairs(spark, path) == live


def test_split_preserves_tombstone_masking(spark, tmp_path):
    """Geometry maintenance must not resurrect deleted ids: a split
    reads the live lists (tombstoned rows included — they are dropped
    at COMPACTION, not at geometry changes) and the tombstone table
    stays live through the split's replace, so probes keep excluding
    the deleted ids before AND after; the following compaction then
    drops them physically from the post-split lists."""
    emb = _emb(spark)
    path = str(tmp_path / "idx")
    iv.build_ivf_index(emb, path, n_centroids=4)
    qv = [r.embedding for r in
          emb.filter(F.col("vec_id") == 0).collect()][0]
    base = [r.vec_id for r in
            iv.query_ivf_topk(spark, path, qv, k=5, nprobe=2,
                              exclude_id=0).collect()]
    tomb = base[:2]
    iv.delete_from_ivf_index(spark, path, tomb)

    iv.split_hot_clusters(spark, path, max_share=0.2)
    got = [r.vec_id for r in
           iv.query_ivf_topk(spark, path, qv, k=5, nprobe=2,
                             exclude_id=0).collect()]
    assert all(t not in got for t in tomb)
    assert ib.live_tombstones(spark, path) is not None  # still masked

    n_before = iv._read_table(spark, path, "lists").count()
    iv.compact_ivf_index(spark, path)
    assert ib.live_tombstones(spark, path) is None
    assert iv._read_table(spark, path, "lists").count() \
        == n_before - len(tomb)
    got2 = [r.vec_id for r in
            iv.query_ivf_topk(spark, path, qv, k=5, nprobe=2,
                              exclude_id=0).collect()]
    assert got2 == got


def test_rebuild_racing_append_absorbed(spark, tmp_path, monkeypatch):
    """Same contract for the ANN geometry rebuild: a racing append's
    vectors must stay FINDABLE (its bands re-signatured at the new
    depth), not silently stranded."""
    emb = _emb(spark)
    base = emb.filter(F.col("vec_id") % 3 != 0)
    delta = emb.filter(F.col("vec_id") % 3 == 0)
    path = str(tmp_path / "idx")
    ai.build_signature_index(base, path, n_tables=4, n_planes=6)

    state = {"raced": False}
    real_read = ai._read_table

    def racing_read(sp, p, t, **kw):
        if t == "vectors" and not state["raced"]:
            state["raced"] = True
            ai.append_signatures(delta, p)     # lands mid-rebuild
        return real_read(sp, p, t, **kw)

    monkeypatch.setattr(ai, "_read_table", racing_read)
    ai.rebuild_signature_index(spark, path, n_planes=8)
    monkeypatch.undo()

    assert state["raced"]
    n_vecs = ai._read_table(spark, path, "vectors").count()
    n_band_ids = (ai._read_table(spark, path, "bands")
                  .select("vec_id").distinct().count())
    assert n_vecs == emb.count()
    assert n_band_ids == n_vecs    # every vector has rebuilt bands
