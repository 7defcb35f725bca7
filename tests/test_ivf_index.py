"""Persisted IVF index (operators/ivf_index.py): frozen-quantizer
maintenance, delta-only append plans, cluster partition pruning on the
probe, compaction invariance — the third index family's versions of the
contracts test_dedup_index.py / test_ann_index.py pin."""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql import functions as F

from insight_de_smart_grid_spark.operators import index_base as ib
from insight_de_smart_grid_spark.operators import ivf_index as ii
from tests.conftest import SF_ORACLE


@pytest.fixture()
def emb(spark):
    return spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")


def _topk(spark, path, emb, qid=7, k=10, nprobe=4):
    qv = emb.filter(F.col("vec_id") == qid).select("embedding").head()[0]
    return sorted((r.vec_id, r.cos_sim) for r in
                  ii.query_ivf_topk(spark, path, qv, k=k, nprobe=nprobe,
                                    exclude_id=qid).collect())


def test_append_equals_rebuild_and_matches_inline(spark, emb, tmp_path):
    """(build on the id-ordered 80% + append 20%) answers identically to
    a from-scratch index AND to the inline ``ivf_portable_topk`` (the
    creation slice contains every centroid id, so the frozen quantizer
    equals the full-corpus one), before and after compaction."""
    from insight_de_smart_grid_spark.operators.similarity import (
        ivf_portable_topk,
    )

    cut = int(emb.agg(F.floor(0.8 * (F.max("vec_id") + 1))).head()[0])
    inc, full = str(tmp_path / "inc"), str(tmp_path / "full")
    ii.build_ivf_index(emb.filter(F.col("vec_id") < cut), inc)
    ii.append_ivf_index(emb.filter(F.col("vec_id") >= cut), inc)
    ii.build_ivf_index(emb, full)

    want = sorted((r.vec_id, r.cos_sim) for r in
                  ivf_portable_topk(emb, query_vec_id=7, k=10).collect())
    assert want
    assert _topk(spark, full, emb) == want
    assert _topk(spark, inc, emb) == want
    files_after = ii.compact_ivf_index(spark, inc)
    assert _topk(spark, inc, emb) == want
    # one live lists segment + the centroid segment after compaction
    from insight_de_smart_grid_spark.operators.index_manifest import (
        live_segments,
    )
    assert len(live_segments(inc, "lists")) == 1
    assert files_after >= 1
    assert (ii._read_table(spark, inc, "lists").count()
            == ii._read_table(spark, full, "lists").count())


def test_append_reads_delta_and_centroids_only(spark, emb, tmp_path):
    """The append job's inputs are the delta frame and the k-row frozen
    centroid table — the inverted lists are never scanned (the plan the
    append executes, reconstructed via the same builders)."""
    cut = int(emb.agg(F.floor(0.8 * (F.max("vec_id") + 1))).head()[0])
    path = str(tmp_path / "idx")
    meta = ii.build_ivf_index(emb.filter(F.col("vec_id") < cut), path)
    delta = emb.filter(F.col("vec_id") >= cut)
    cents = ii._read_table(spark, path, "centroids")
    assigned = ii._assign(ii._nonzero(delta, meta["vec_col"],
                                      meta["id_col"]),
                          cents, meta["id_col"])
    plan = assigned._jdf.queryExecution().executedPlan().toString()
    assert f"{path}/lists" not in plan          # lists never read
    assert plan.count("Scan parquet") == 2      # delta + centroids

    n_before = ii._read_table(spark, path, "lists").count()
    ii.append_ivf_index(delta, path)
    n_delta = ii._nonzero(delta, "embedding", "vec_id").count()
    assert (ii._read_table(spark, path, "lists").count()
            == n_before + n_delta)
    # appended vectors landed in the frozen centroid space
    mx = (ii._read_table(spark, path, "lists")
          .agg(F.max("cluster")).head()[0])
    assert mx < meta["n_centroids"]


def test_batch_probe_equals_per_query_loops(spark, emb, tmp_path):
    """The batched IVF probe answers a delta of Q query vectors in one
    job with rows equal, per query id, to per-query ``query_ivf_topk``
    loops — in broadcast AND shuffle probe-join modes — and its lists
    scan still carries the bounded probed-cluster union as
    PartitionFilters."""
    path = str(tmp_path / "idx")
    ii.build_ivf_index(emb, path, n_centroids=16)
    qids = [0, 7, 23]
    queries = emb.filter(F.col("vec_id").isin(qids))

    want = []
    for qid in qids:
        qv = (emb.filter(F.col("vec_id") == qid)
              .select("embedding").head()[0])
        want += [(qid, r.vec_id, r.cos_sim) for r in
                 ii.query_ivf_topk(spark, path, qv, k=10, nprobe=4,
                                   exclude_id=qid).collect()]
    want.sort()
    for mode in ("broadcast", "shuffle"):
        got = ii.query_ivf_batch_topk(spark, path, queries, k=10,
                                      nprobe=4, mode=mode)
        assert sorted((r.query_id, r.vec_id, r.cos_sim)
                      for r in got.collect()) == want, mode
    out = ii.query_ivf_batch_topk(spark, path, queries, k=10, nprobe=4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert any("cluster" in part[:200]
               for part in plan.split("PartitionFilters:")[1:])
    assert "SortMergeJoin" not in plan


def test_probe_prunes_to_nprobe_cluster_partitions(spark, emb, tmp_path):
    """The IVF scale contract in the physical plan: the lists scan
    carries the collected nprobe cluster ids as PartitionFilters —
    nprobe/n_centroids of the corpus is all a query touches."""
    path = str(tmp_path / "idx")
    ii.build_ivf_index(emb, path, n_centroids=16)
    qv = emb.filter(F.col("vec_id") == 7).select("embedding").head()[0]
    out = ii.query_ivf_topk(spark, path, qv, k=5, nprobe=4, exclude_id=7)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert any("cluster" in part[:200]
               for part in plan.split("PartitionFilters:")[1:])
    assert out.count() > 0
    # and the probed slice is a strict subset of the corpus: the 4
    # probed lists hold fewer vectors than the 16-cluster total
    from insight_de_smart_grid_spark.operators.similarity import (
        _dot,
        _norm,
    )
    qcol = F.array(*[F.lit(float(x)) for x in qv])
    cents = ii._read_table(spark, path, "centroids")
    probes = [r.c_id for r in
              (cents.withColumn(
                  "q_sim", F.round(_dot(qcol, F.col("cv"))
                                   / (_norm(qcol) * _norm(F.col("cv"))),
                                   6))
               .orderBy(F.desc("q_sim"), F.asc("c_id")).limit(4)
               .select("c_id").collect())]
    lists = ii._read_table(spark, path, "lists")
    assert 0 < lists.filter(F.col("cluster").isin(probes)).count() \
        < lists.count()


def test_trained_kmeans_quantizer_contracts(spark, emb, tmp_path):
    """Round-10 trained quantizer: (a) training is deterministic —
    identical centroid rows across two runs; (b) the build freezes the
    centroids and appends assign against them (append == rebuild at the
    same geometry); (c) a short sample raises instead of silently
    building a degenerate quantizer."""
    rows1 = ii.train_kmeans_centroids(emb, 8)
    rows2 = ii.train_kmeans_centroids(emb, 8)
    assert rows1 == rows2 and len(rows1) == 8

    cut = int(emb.agg(F.floor(0.8 * (F.max("vec_id") + 1))).head()[0])
    inc, full = str(tmp_path / "inc"), str(tmp_path / "full")
    ii.build_ivf_index(emb.filter(F.col("vec_id") < cut), inc,
                       n_centroids=8, quantizer="kmeans")
    ii.append_ivf_index(emb.filter(F.col("vec_id") >= cut), inc)
    ii.build_ivf_index(emb, full, n_centroids=8, quantizer="kmeans")
    want = _topk(spark, full, emb)
    assert want and _topk(spark, inc, emb) == want
    assert ii._read_meta(inc)["quantizer"] == "kmeans"

    with pytest.raises(ValueError, match="nonzero sample"):
        ii.train_kmeans_centroids(emb.limit(4), 8)


def test_portable_quantizer_rejects_short_corpus(spark, emb, tmp_path):
    """ADVICE r9: the old `id < n_centroids` pick built an EMPTY
    quantizer on a corpus whose ids don't start near 0 and silently
    dropped every vector. Now: lowest-n ids regardless of the id range,
    and a corpus smaller than the quantizer raises."""
    shifted = emb.withColumn("vec_id", F.col("vec_id") + 1_000_000)
    path = str(tmp_path / "shifted")
    ii.build_ivf_index(shifted, path, n_centroids=8)
    lists = ii._read_table(spark, path, "lists")
    assert lists.count() > 0           # nothing dropped
    cents = ii._read_table(spark, path, "centroids")
    assert cents.count() == 8
    with pytest.raises(ValueError, match="portable quantizer"):
        ii.build_ivf_index(emb.limit(4), str(tmp_path / "tiny"),
                           n_centroids=8)


def test_retrain_swaps_quantizer_atomically(spark, emb, tmp_path,
                                            monkeypatch):
    """Round-10 rebuild path: retraining re-derives the quantizer from
    the index's OWN vectors (the corpus is never re-read) and equals a
    fresh build of that quantizer; geometry + segments swap in ONE bump
    (manifest meta), so a crash between staging and commit leaves the
    OLD quantizer fully consistent."""
    path, fresh = str(tmp_path / "idx"), str(tmp_path / "fresh")
    cut = int(emb.agg(F.floor(0.8 * (F.max("vec_id") + 1))).head()[0])
    ii.build_ivf_index(emb.filter(F.col("vec_id") < cut), path,
                       n_centroids=16)
    ii.append_ivf_index(emb.filter(F.col("vec_id") >= cut), path)
    before = _topk(spark, path, emb, nprobe=4)

    real_commit = ib.commit

    def dying(p, **kw):
        raise RuntimeError("injected crash before the retrain bump")

    monkeypatch.setattr(ib, "commit", dying)
    with pytest.raises(RuntimeError, match="injected crash"):
        ii.retrain_ivf_index(spark, path, n_centroids=8,
                             quantizer="kmeans")
    # the crashed retrain staged its segments but never bumped the
    # manifest: readers still see the OLD geometry and the OLD lists —
    # answers unchanged
    assert ii._read_meta(path)["n_centroids"] == 16
    assert _topk(spark, path, emb, nprobe=4) == before

    monkeypatch.setattr(ib, "commit", real_commit)
    meta = ii.retrain_ivf_index(spark, path, n_centroids=8,
                                quantizer="kmeans")
    assert meta["quantizer"] == "kmeans" and meta["n_centroids"] == 8
    ii.build_ivf_index(emb, fresh, n_centroids=8, quantizer="kmeans")
    assert _topk(spark, path, emb, nprobe=4) == _topk(spark, fresh, emb,
                                                      nprobe=4)
    # appends after the retrain assign against the NEW quantizer
    extra = emb.withColumn("vec_id", F.col("vec_id") + 10 ** 9)
    ii.append_ivf_index(extra, path)
    mx = (ii._read_table(spark, path, "lists")
          .agg(F.max("cluster")).head()[0])
    assert mx < 8


def test_split_hot_clusters_contracts(spark, emb, tmp_path):
    """Round-11 splitting: (a) a balanced index is a NO-OP — no commit,
    no version bump; (b) with a low bound every hot cluster halves at
    its median cut, rows are preserved exactly, new cluster ids extend
    max(c_id), the n_centroids meta rides the same bump; (c) appends
    after a split assign against the POST-split centroid set (a delta
    vector near a split half lands in that half's cluster id space)."""
    from insight_de_smart_grid_spark.operators import index_manifest as im

    path = str(tmp_path / "idx")
    ii.build_ivf_index(emb, path, n_centroids=4)
    v0 = im.read_manifest(path)["version"]

    # (a) no hot cluster at a generous bound: nothing committed
    meta = ii.split_hot_clusters(spark, path, max_share=0.9)
    assert im.read_manifest(path)["version"] == v0
    assert meta["n_centroids"] == 4

    # (b) force splits
    before = {r.cluster: r.n for r in
              ii._read_table(spark, path, "lists").groupBy("cluster")
              .agg(F.count(F.lit(1)).alias("n")).collect()}
    total = sum(before.values())
    max_c = max(r.c_id for r in
                ii._read_table(spark, path, "centroids")
                .select("c_id").collect())
    meta = ii.split_hot_clusters(spark, path, max_share=0.2)
    after = {r.cluster: r.n for r in
             ii._read_table(spark, path, "lists").groupBy("cluster")
             .agg(F.count(F.lit(1)).alias("n")).collect()}
    assert sum(after.values()) == total
    assert max(after.values()) / total <= 0.2 + 0.05
    assert meta["n_centroids"] == len(after) \
        == ii._read_table(spark, path, "centroids").count()
    assert any(c > max_c for c in after)       # fresh ids minted
    assert im.read_manifest(path)["version"] == v0 + 1   # ONE bump

    # (c) append after split assigns in the new cluster space
    delta = emb.limit(20).withColumn(
        "vec_id", F.col("vec_id") + F.lit(10 ** 9))
    ii.append_ivf_index(delta, path)
    n_after = ii._read_table(spark, path, "lists").count()
    assert n_after > total          # delta landed
    live = {r.cluster for r in ii._read_table(spark, path, "lists")
            .select("cluster").distinct().collect()}
    cents = {r.c_id for r in ii._read_table(spark, path, "centroids")
             .select("c_id").collect()}
    assert live <= cents            # every list belongs to a live centroid
