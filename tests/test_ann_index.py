"""Incremental ANN signature index (operators/ann_index.py): the
maintenance contracts the registered ``sim_ann_index_append`` oracle row
can't see — creation-time depth freeze, delta-only append plans,
compaction invariance, probe pushdown + broadcast shape, the round-9
store-vectors-once footprint, and the batched multi-query probe."""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql import functions as F

from insight_de_smart_grid_spark.operators import ann_index as ai
from insight_de_smart_grid_spark.operators import index_base as ib
from tests.conftest import SF_ORACLE, exchange_above_scan


@pytest.fixture()
def emb(spark):
    return spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")


def _topk(spark, path, emb, qid=0, k=10):
    qv = emb.filter(F.col("vec_id") == qid).select("embedding").head()[0]
    return sorted((r.vec_id, r.cos_sim) for r in
                  ai.query_index_topk(spark, path, qv, k=k,
                                      exclude_id=qid).collect())


def _live_files(path):
    from insight_de_smart_grid_spark.operators.index_manifest import (
        live_segments,
    )
    return sum(1 for t in ("bands", "vectors")
               for seg in live_segments(path, t)
               for _ in Path(seg).rglob("*.parquet"))


def test_append_equals_rebuild_and_compaction_invariant(
        spark, emb, tmp_path):
    """(index built on 80% + two appended deltas) answers queries
    identically to a from-scratch index over the full corpus, before AND
    after compaction; compaction reduces the live file count (each append
    adds a segment pair) back to one sorted segment per table."""
    inc, full = str(tmp_path / "inc"), str(tmp_path / "full")
    b = F.pmod(F.xxhash64(F.col("vec_id").cast("string")), 100)
    ai.build_signature_index(emb.filter(b < 80), inc,
                             n_tables=4, n_planes=6)
    ai.append_signatures(emb.filter((b >= 80) & (b < 90)), inc)
    ai.append_signatures(emb.filter(b >= 90), inc)
    ai.build_signature_index(emb, full, n_tables=4, n_planes=6)

    want = _topk(spark, full, emb)
    files_before = _live_files(inc)
    assert _topk(spark, inc, emb) == want
    files_after = ai.compact_signature_index(spark, inc)
    assert files_after < files_before
    assert _topk(spark, inc, emb) == want
    # row multisets survive compaction exactly, per table
    for t in ("bands", "vectors"):
        assert (ai._read_table(spark, inc, t).count()
                == ai._read_table(spark, full, t).count())
    # compaction GC'd the superseded segments: one live segment per table
    # and no unreferenced seg-* directories left on disk
    for t in ("bands", "vectors"):
        on_disk = {p.name for p in Path(inc, t).iterdir()
                   if p.name.startswith("seg-")}
        assert len(on_disk) == 1


def test_vectors_stored_once(spark, emb, tmp_path):
    """Round-9 footprint contract (VERDICT r8 item 2): the split layout
    stores each embedding ONCE, so the index is ~1/n_tables of the
    round-8 long format that persisted (id, v, table, bucket) verbatim.
    Measured: live index bytes <= long-format bytes / (n_tables/2), and
    the vectors table holds exactly one row per corpus vector while
    bands holds n_tables."""
    from insight_de_smart_grid_spark.operators.similarity import (
        hyperplane_signatures,
    )

    n_tables = 16
    path = str(tmp_path / "idx")
    # at sf0.01 the corpus is small enough that parquet per-file overhead
    # masks payload ratios — replicate it 32x with perturbed vectors so
    # vector bytes dominate, the regime the footprint claim is about
    big = (emb.crossJoin(spark.range(32).select(F.col("id").alias("rep")))
           .select((F.col("vec_id") * 32 + F.col("rep")).alias("vec_id"),
                   F.transform(
                       F.col("embedding"),
                       lambda x, i: x + (F.col("rep") * (i + 1)) / 1e6)
                   .alias("embedding")))
    ai.build_signature_index(big, path, n_tables=n_tables, n_planes=6)
    # the round-8 layout, materialized for comparison only — the exact
    # round-8 _write_sigs shape: partitionBy(table) puts each table's
    # full vector copy in its own file set (adjacent-row compression
    # can't merge copies across files, which is why the old layout
    # really paid ~n_tables x on disk)
    legacy = str(tmp_path / "legacy_long")
    (hyperplane_signatures(big, n_tables, 6, 64)
     .repartition("table").sortWithinPartitions("table", "bucket")
     .write.partitionBy("table").parquet(legacy))
    legacy_bytes = sum(f.stat().st_size
                       for f in Path(legacy).rglob("*.parquet"))
    assert ai.index_bytes(path) <= legacy_bytes / (n_tables / 2)

    n = big.count()
    assert ai._read_table(spark, path, "vectors").count() == n
    assert ai._read_table(spark, path, "bands").count() == n * n_tables
    # and the split layout still answers identically to the inline form
    from insight_de_smart_grid_spark.operators.similarity import (
        lsh_ann_topk,
    )
    want = sorted((r.vec_id, r.cos_sim) for r in
                  lsh_ann_topk(big, query_vec_id=0, k=10,
                               n_tables=n_tables, n_planes=6).collect())
    assert _topk(spark, path, big) == want


def test_auto_depth_freezes_at_creation(spark, emb, tmp_path):
    """An auto-depth index resolves n_planes from the CREATION corpus and
    never re-derives on append: the deltas here grow the corpus past the
    next power-of-two occupancy boundary (auto over the grown corpus
    WOULD pick a deeper geometry), but the meta — and therefore every
    appended signature's bucket space — stays at the creation depth.
    Mixing depths would make buckets incompatible; re-deriving is what
    rebuild is for."""
    from insight_de_smart_grid_spark.operators.similarity import (
        auto_n_planes,
    )

    path = str(tmp_path / "frozen")
    b = F.pmod(F.xxhash64(F.col("vec_id").cast("string")), 100)
    creation = emb.filter(b < 40)
    n_created, n_total = creation.count(), emb.count()
    occ = 4
    d_created = auto_n_planes(n_created, target_occupancy=occ)
    d_grown = auto_n_planes(n_total, target_occupancy=occ)
    assert d_grown > d_created  # the fixture really crosses a boundary

    meta = ai.build_signature_index(creation, path, n_tables=4,
                                    n_planes="auto", auto_occupancy=occ)
    assert meta["n_planes"] == d_created and meta["depth_mode"] == "auto"
    ai.append_signatures(emb.filter(b >= 40), path)
    assert ai._read_meta(path)["n_planes"] == d_created
    # appended buckets live in the creation-depth bucket space
    mx = (ai._read_table(spark, path, "bands")
          .agg(F.max("bucket")).head()[0])
    assert mx < 2 ** d_created


def test_append_plan_reads_only_the_delta(spark, emb, tmp_path):
    """The append job's input is the delta frame alone: its physical plan
    scans no file under the index path and runs no count() over history
    (the depth comes from the frozen meta). Asserted on the very plan
    append_signatures executes, reconstructed via the same builder."""
    from insight_de_smart_grid_spark.operators.similarity import (
        hyperplane_signatures,
    )

    path = str(tmp_path / "idx")
    b = F.pmod(F.xxhash64(F.col("vec_id").cast("string")), 100)
    meta = ai.build_signature_index(emb.filter(b < 80), path,
                                    n_tables=4, n_planes=6)
    delta = emb.filter(b >= 80)
    sig = hyperplane_signatures(delta, meta["n_tables"], meta["n_planes"],
                                meta["dim"])
    plan = sig._jdf.queryExecution().executedPlan().toString()
    assert path not in plan            # never reads the index
    assert plan.count("Scan parquet") == 1  # exactly the delta's scan
    assert "Exchange" not in plan      # signature compute is shuffle-free

    n_before = ai._read_table(spark, path, "bands").count()
    ai.append_signatures(delta, path)
    n_after = ai._read_table(spark, path, "bands").count()
    assert n_after == n_before + delta.count() * meta["n_tables"]


def test_multiprobe_through_persisted_index(spark, emb, tmp_path):
    """probe_radius=r against the persisted index == the inline
    ``lsh_multiprobe_topk`` at the same geometry (round-7 lever x round-8
    index); radius 1 candidates strictly contain radius 0's (mask-set
    inclusion), and the probe stays a pushed-down filter + broadcast
    candidate fetch — no shuffle touches an index-sized frame."""
    from insight_de_smart_grid_spark.operators.similarity import (
        lsh_multiprobe_topk,
    )

    path = str(tmp_path / "idx")
    ai.build_signature_index(emb, path, n_tables=4, n_planes=8)
    qv = emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]

    got = ai.query_index_topk(spark, path, qv, k=10, exclude_id=0,
                              probe_radius=1)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    want = lsh_multiprobe_topk(emb, query_vec_id=0, k=10, n_tables=4,
                               n_planes=8, probe_radius=1)
    assert (sorted((r.vec_id, r.cos_sim) for r in got.collect())
            == sorted((r.vec_id, r.cos_sim) for r in want.collect()))

    # candidate growth is monotone in the radius
    def n_cands(r):
        probes = ai.query_buckets(qv, 4, 8, 64, probe_radius=r)
        from functools import reduce
        pred = reduce(lambda a, b: a | b,
                      [(F.col("table") == t) & (F.col("bucket").isin(bs))
                       for t, bs in probes])
        return (ai._read_table(spark, path, "bands").filter(pred)
                .select("vec_id").distinct().count())

    assert n_cands(0) <= n_cands(1) <= n_cands(2)
    assert n_cands(1) > n_cands(0)  # the fixture really expands reach


def test_probe_is_pushed_down(spark, emb, tmp_path):
    """The query probe is a filter over the partitioned bands table —
    partition pruning on the LSH table dirs (PartitionFilters carries the
    table terms of the disjunction) — and the candidate fetch broadcasts
    the k-bounded id list into the vectors scan: exactly two parquet
    scans (bands + vectors), both shuffle-free (the only Exchanges sit
    over the candidate-bounded distinct)."""
    path = str(tmp_path / "idx")
    ai.build_signature_index(emb, path, n_tables=4, n_planes=6)
    qv = emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    out = ai.query_index_topk(spark, path, qv, k=5, exclude_id=0)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 2
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    # the BANDS scan carries the table terms of the disjunction as
    # partition filters (the vectors scan's list is legitimately empty)
    assert any("table" in part[:200]
               for part in plan.split("PartitionFilters:")[1:])
    assert out.count() > 0


def test_batch_probe_equals_per_query_loops(spark, emb, tmp_path):
    """VERDICT r8 item 3: the batched multi-query probe answers a delta
    of Q query vectors in ONE job with rows equal, per query id, to the
    per-query ``query_index_topk`` loop (and therefore to the inline
    forms those are pinned against) — at radius 0 AND at radius 1."""
    path = str(tmp_path / "idx")
    ai.build_signature_index(emb, path, n_tables=4, n_planes=8)
    qids = [0, 7, 23]
    queries = emb.filter(F.col("vec_id").isin(qids))

    for radius in (0, 1):
        got = ai.query_index_batch_topk(spark, path, queries, k=10,
                                        probe_radius=radius)
        got_rows = sorted((r.query_id, r.vec_id, r.cos_sim)
                          for r in got.collect())
        want = []
        for qid in qids:
            qv = (emb.filter(F.col("vec_id") == qid)
                  .select("embedding").head()[0])
            want += [(qid, r.vec_id, r.cos_sim) for r in
                     ai.query_index_topk(spark, path, qv, k=10,
                                         exclude_id=qid,
                                         probe_radius=radius).collect()]
        assert got_rows == sorted(want), f"radius={radius}"


def test_batch_probe_shuffle_mode_for_big_deltas(spark, emb, tmp_path):
    """The dedup probe's round-9 lever applied to the ANN batch probe: a
    query delta too big to broadcast takes SHUFFLE_HASH joins with
    IDENTICAL rows; auto picks it when the delta row count crosses the
    threshold and stays on broadcast below."""
    path = str(tmp_path / "idx")
    ai.build_signature_index(emb, path, n_tables=4, n_planes=8)
    queries = emb.filter(F.col("vec_id") < 8)

    want = sorted(
        (r.query_id, r.vec_id, r.cos_sim) for r in
        ai.query_index_batch_topk(spark, path, queries, k=10,
                                  mode="broadcast").collect())
    assert want
    shuffled = ai.query_index_batch_topk(spark, path, queries, k=10,
                                         mode="shuffle")
    assert sorted((r.query_id, r.vec_id, r.cos_sim)
                  for r in shuffled.collect()) == want
    plan = shuffled._jdf.queryExecution().executedPlan().toString()
    assert "ShuffledHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" not in plan

    auto_big = ai.query_index_batch_topk(spark, path, queries, k=10,
                                         mode="auto",
                                         broadcast_threshold=1)
    assert "ShuffledHashJoin" in (auto_big._jdf.queryExecution()
                                  .executedPlan().toString())
    auto_small = ai.query_index_batch_topk(spark, path, queries, k=10,
                                           mode="auto")
    assert "BroadcastHashJoin" in (auto_small._jdf.queryExecution()
                                   .executedPlan().toString())


def test_batch_probe_has_no_index_side_shuffle(spark, emb, tmp_path):
    """The batched probe's plan: the delta-bounded probe set and the
    candidate pairs are the BROADCAST sides; both index scans (bands,
    vectors) stream through BroadcastHashJoins — no SortMergeJoin or
    ShuffledHashJoin anywhere, so no index-sized frame is ever
    shuffled."""
    path = str(tmp_path / "idx")
    ai.build_signature_index(emb, path, n_tables=4, n_planes=8)
    queries = emb.filter(F.col("vec_id") < 5)
    out = ai.query_index_batch_topk(spark, path, queries, k=10)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert out.count() > 0


def test_bucketed_layout_shuffle_probe_keeps_index_unshuffled(
        spark, emb, tmp_path):
    """Round-10 (VERDICT r9 item 3), ANN family: a ``mode="shuffle"``
    batched probe against a ``layout="bucketed"`` index answers
    identically to the broadcast probe over the partitioned layout,
    reads bands and vectors through bucketed scans, and carries strictly
    fewer Exchanges than the partitioned shuffle plan."""
    b = F.pmod(F.xxhash64(F.col("vec_id").cast("string")), 100)
    base, delta = emb.filter(b < 70), emb.filter(b >= 70)

    plain = str(tmp_path / "plain")
    ai.build_signature_index(base, plain, n_tables=4, n_planes=6)
    want = sorted(
        (r.query_id, r.vec_id, r.cos_sim) for r in
        ai.query_index_batch_topk(spark, plain, delta, k=5,
                                  mode="broadcast").collect())
    assert want
    shuffled_plain = ai.query_index_batch_topk(spark, plain, delta, k=5,
                                               mode="shuffle")
    assert sorted((r.query_id, r.vec_id, r.cos_sim)
                  for r in shuffled_plain.collect()) == want
    assert exchange_above_scan(shuffled_plain, "/plain/")

    bk = str(tmp_path / "bucketed")
    ai.build_signature_index(base.filter(b < 40), bk, n_tables=4,
                             n_planes=6, layout="bucketed", n_buckets=8)
    ai.append_signatures(base.filter((b >= 40) & (b < 70)), bk)
    out = ai.query_index_batch_topk(spark, bk, delta, k=5,
                                    mode="shuffle")
    got = sorted((r.query_id, r.vec_id, r.cos_sim)
                 for r in out.collect())
    assert got == want
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Bucketed: true" in plan
    # the item-3 contract: ZERO Exchange above any index-side scan
    assert not exchange_above_scan(out, "/bucketed/")
    # compaction preserves the layout and the answers
    ai.compact_signature_index(spark, bk)
    assert ai._read_meta(bk)["layout"] == "bucketed"
    got2 = sorted((r.query_id, r.vec_id, r.cos_sim) for r in
                  ai.query_index_batch_topk(spark, bk, delta, k=5,
                                            mode="shuffle").collect())
    assert got2 == want


def test_rebuild_rederives_depth_atomically(spark, emb, tmp_path,
                                            monkeypatch):
    """Round-10 rebuild path: re-signature the index's own vectors at a
    re-derived auto depth — only bands/ rewritten, geometry + segment in
    ONE manifest bump; a crash before the bump leaves the old depth
    fully consistent (the geometry lives only in the manifest), and the
    rebuilt index answers like a fresh build at the new geometry."""
    from insight_de_smart_grid_spark.operators.similarity import (
        auto_n_planes,
        lsh_ann_topk,
    )

    path = str(tmp_path / "idx")
    b = F.pmod(F.xxhash64(F.col("vec_id").cast("string")), 100)
    creation = emb.filter(b < 40)
    occ = 4
    d0 = auto_n_planes(creation.count(), target_occupancy=occ)
    d1 = auto_n_planes(emb.count(), target_occupancy=occ)
    assert d1 > d0
    ai.build_signature_index(creation, path, n_tables=4, n_planes="auto",
                             auto_occupancy=occ)
    ai.append_signatures(emb.filter(b >= 40), path)
    before = _topk(spark, path, emb)

    real_commit = ib.commit

    def dying(p, **kw):
        raise RuntimeError("injected crash before the rebuild bump")

    monkeypatch.setattr(ib, "commit", dying)
    with pytest.raises(RuntimeError, match="injected crash"):
        ai.rebuild_signature_index(spark, path, n_planes="auto",
                                   auto_occupancy=occ)
    assert ai._read_meta(path)["n_planes"] == d0    # old geometry intact
    assert _topk(spark, path, emb) == before

    monkeypatch.setattr(ib, "commit", real_commit)
    meta = ai.rebuild_signature_index(spark, path, n_planes="auto",
                                      auto_occupancy=occ)
    assert meta["n_planes"] == d1
    want = sorted((r.vec_id, r.cos_sim) for r in
                  lsh_ann_topk(emb, query_vec_id=0, k=10, n_tables=4,
                               n_planes=d1).collect())
    assert _topk(spark, path, emb) == want
    # appended buckets after the rebuild live in the NEW bucket space
    extra = emb.withColumn("vec_id", F.col("vec_id") + 10 ** 9)
    ai.append_signatures(extra, path)
    mx = (ai._read_table(spark, path, "bands")
          .agg(F.max("bucket")).head()[0])
    assert mx < 2 ** d1
