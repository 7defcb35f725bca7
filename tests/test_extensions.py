"""Tests for the north-star extension operators (dedup, text, similarity,
multimodal): oracle parity where expressible, self-consistency otherwise."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from insight_de_smart_grid_spark.operators import dedup as dd
from insight_de_smart_grid_spark.operators import multimodal as mm
from insight_de_smart_grid_spark.operators import similarity as sim
from insight_de_smart_grid_spark.sources.tables import load_table
from tests.conftest import SF_ORACLE, SF_SMOKE
from tests.oracle import check_registered

ORACLE_CHECKED = [
    "pipeline_train_quality_clf",
    "sim_ann_multiprobe_topk",
    "text_stats",
    "text_lang_id",
    "text_quality",
    "text_fingerprint",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_embedding_cosine",
    "sim_cosine_topk",
    "multimodal_binary_meta",
    "multimodal_decode_fake",
    "multimodal_resize_fake",
    "multimodal_frame_sample",
    "multimodal_feature_extract",
    "curate_corpus",
    "text_winnow_fingerprint",
    "dedup_winnow",
    "pipeline_dataset_split",
    "pipeline_stratified_sample",
    "pipeline_tfidf_top_terms",
    "pipeline_label_centroids",
    "pipeline_latest_compaction",
    "pipeline_length_histogram",
    "dedup_clusters",
    "sim_ann_lsh_topk",
    "pipeline_decontaminate",
    "pipeline_weighted_mix",
    "pipeline_pack_sequences",
    "pipeline_quantile_filter",
    "pipeline_quantile_threshold",
    "text_repetition",
    "dedup_prefix_suffix",
    "dedup_incremental",
    "pipeline_corpus_diff",
    "sim_hard_negatives",
    "dedup_jaccard_prefix",
    "pipeline_weighted_sample",
    "events_winsorize",
    "pipeline_time_split",
    "pipeline_group_kfold",
    "dedup_threshold_sweep",
    "sim_knn_graph",
    "sim_label_propagation",
    "sim_pagerank",
    "multimodal_audio_decode",
    "dedup_semantic_keep_best",
    "pipeline_model_score",
    "sim_kmeans_portable",
]


@pytest.mark.parametrize("name", ORACLE_CHECKED)
def test_extension_matches_oracle(spark, duck, name):
    check_registered(spark, duck, name)


def test_winnow_arrow_matches_hof_formulation(spark):
    """The numpy strided winnower must emit the exact fingerprint multiset
    the HOF (slice/array_min) plan emits — including on non-ASCII text,
    which takes the per-doc char-sliced fallback, and on docs shorter than
    one k-gram/window."""
    from insight_de_smart_grid_spark.operators import text as tx
    corpus = load_table(spark, SF_ORACLE, "documents").limit(200)
    edge = spark.createDataFrame(
        [(9001, "café au lait, très bon café au lait du jour"),
         (9002, "short"), (9003, "exactly8!"),
         (9004, "naïve résumé " * 10)],
        "doc_id long, text string")
    docs = corpus.select("doc_id", "text").unionAll(edge)
    hof = docs.select(
        "doc_id",
        F.explode(tx.winnowed_of(tx.kgrams("text", 8), 4)).alias("fp"))
    arrow = tx.winnow_fps_arrow(docs, k=8, w=4)
    assert sorted(map(tuple, hof.collect())) == \
        sorted(map(tuple, arrow.collect()))


def test_minhash_lsh_agrees_with_exact_jaccard(spark):
    """LSH-found pairs at jaccard>=0.5 must be a subset of exact pairs, and
    should recall nearly all of them (planted near-dups are ~0.9 similar,
    where 8-band/4-row LSH has >0.99 detection probability)."""
    docs = load_table(spark, SF_ORACLE, "documents")
    exact = {(r.doc_a, r.doc_b)
             for r in dd.ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    lsh = {(r.doc_a, r.doc_b)
           for r in dd.minhash_lsh_near_dups(docs, threshold=0.5).collect()}
    assert lsh <= exact
    if exact:
        assert len(lsh) / len(exact) >= 0.8


def test_simhash_flags_near_identical_docs(spark):
    # simhash is weight-sensitive: near-dup detection needs the shared tokens
    # to dominate. An ODD number of distinct words, each repeated 5x, keeps
    # every bit-sum at magnitude >= 5, so a single extra token can never flip
    # a bit — the planted pair lands at Hamming 0 under ANY hash family
    # (an even count leaves balanced bit-sums that flip hash-dependently).
    words = ["alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf",
             "hotel", "india", "juliet", "kilo", "lima", "mike", "november",
             "oscar", "papa", "quebec", "romeo", "sierra", "tango", "uniform"]
    base = " ".join(w for w in words for _ in range(5))
    rows = [(1, base), (2, base + " extraword"),
            (3, "totally different words unrelated content entirely here")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {(r.doc_a, r.doc_b): r.hamming
             for r in dd.simhash_near_dups(docs, max_hamming=3).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_ann_lsh_topk_recall_vs_bruteforce(spark):
    emb = load_table(spark, SF_ORACLE, "embeddings")
    exact = [r.vec_id for r in sim.cosine_topk(emb, 0, k=10).collect()]
    approx = [r.vec_id for r in
              sim.lsh_ann_topk(emb, 0, k=10, n_tables=16, n_planes=4).collect()]
    # these embeddings are near-orthogonal (top cosine ~0.37 -> per-plane
    # agreement p~0.62): P(candidate) = 1-(1-p^4)^16 ~ 0.92, so expect most
    # of the exact top-10 to be recalled
    assert len(set(exact) & set(approx)) >= 6


def test_exact_dedup_drops_planted_duplicates(spark):
    docs = load_table(spark, SF_ORACLE, "documents")
    dup = docs.limit(5).withColumn("doc_id", F.col("doc_id") + 1_000_000)
    with_dups = docs.unionByName(dup)
    kept = dd.drop_exact_dups(with_dups)
    assert kept.count() == docs.count()
    # representatives are the min ids -> original rows survive
    assert kept.filter(F.col("doc_id") >= 1_000_000).count() == 0


def test_multimodal_decode_stub_is_deterministic(spark):
    docs = load_table(spark, SF_ORACLE, "documents").limit(20)
    binary = mm.attach_binary_payload(docs)
    out1 = sorted(mm.decode_media(binary, fake=True).collect())
    out2 = sorted(mm.decode_media(binary, fake=True).collect())
    assert out1 == out2
    r = out1[0]
    assert 64 <= r.width < 256 and 64 <= r.height < 256
    assert 1 <= r.n_channels <= 3


def test_multimodal_decode_real_path_raises(spark):
    if mm.HAS_PIL:
        pytest.skip("pillow installed: the real decode path is active")
    docs = load_table(spark, SF_ORACLE, "documents").limit(1)
    binary = mm.attach_binary_payload(docs)
    with pytest.raises(Exception, match="NotImplementedError|media decode"):
        mm.decode_media(binary, fake=False).collect()


def test_png_codec_round_trips_all_filters():
    """Round-11 stdlib PNG codec: the synth writes scanline filter y%5 —
    None/Sub/Up/Average/Paeth all exercised — and the decoder must
    reproduce every pixel exactly (CRCs verified chunk by chunk)."""
    for d in (0, 1, 7, 123, 4567):
        w, h, px = mm._decode_png(mm._synth_png(d))
        assert (w, h) == (8 + d % 17, 5 + d % 11)
        assert all(px[y][x] == (d + x + 3 * y) % 256
                   for y in range(h) for x in range(w))
    # corrupted chunk fails loudly, not with garbage pixels
    blob = bytearray(mm._synth_png(7))
    blob[40] ^= 0xFF
    with pytest.raises((ValueError, Exception)):
        mm._decode_png(bytes(blob))


def test_decode_media_png_ungated_without_pil(spark):
    """decode_media(fake=False) now decodes PNG payloads for REAL via
    the stdlib codec even with no PIL in the container — the env-gate
    covers only formats with no stdlib decoder (see
    test_multimodal_decode_real_path_raises for the non-PNG payload)."""
    docs = spark.range(5).select(F.col("id").alias("doc_id"))
    binary = mm.attach_png_payload(docs)
    got = {r.doc_id: r for r in
           mm.decode_media(binary, fake=False).collect()}
    for d in range(5):
        w, h = 8 + d % 17, 5 + d % 11
        mean = sum((d + x + 3 * y) % 256
                   for y in range(h) for x in range(w)) / (w * h * 255.0)
        r = got[d]
        assert (r.width, r.height, r.n_channels) == (w, h, 1)
        assert r.mean_intensity == round(mean, 6)


def test_multimodal_real_decode_and_resize_with_pillow(spark):
    """Env-gated real path: decode and resize actual PNGs through the same
    mapInPandas plumbing the fakes use. Skipped where pillow is absent."""
    pytest.importorskip("PIL")
    import io

    from PIL import Image

    def png_bytes(w, h, color):
        buf = io.BytesIO()
        Image.new("RGB", (w, h), color).save(buf, format="PNG")
        return buf.getvalue()

    rows = [(1, png_bytes(10, 4, (255, 255, 255))),
            (2, png_bytes(3, 7, (0, 0, 0)))]
    binary = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r.doc_id: r for r in mm.decode_media(binary, fake=False).collect()}
    assert (got[1].width, got[1].height, got[1].n_channels) == (10, 4, 3)
    assert (got[2].width, got[2].height) == (3, 7)
    assert got[1].mean_intensity == 1.0 and got[2].mean_intensity == 0.0
    rs = {r.doc_id: r for r in
          mm.resize_media(binary, 5, 6, fake=False).collect()}
    for r in rs.values():
        out = Image.open(io.BytesIO(bytes(r.payload)))
        assert (out.width, out.height) == (5, 6)


def test_frame_sample_fanout_counts(spark):
    """Each doc fans out to ceil(ceil(n_bytes/frame_size)/every_n) frame
    rows, and frame payloads are the expected chunks."""
    import math

    from insight_de_smart_grid_spark.sources.tables import load_table as lt
    from tests.conftest import SF_SMOKE as SF

    docs = lt(spark, SF, "documents")
    frames = mm.sample_frames(mm.attach_binary_payload(docs),
                              frame_size=256, every_n=4, fake=True)
    got = {r.doc_id: r.n for r in
           frames.groupBy("doc_id").count().withColumnRenamed("count", "n")
           .collect()}
    want = {r.doc_id: math.ceil(math.ceil(len(r.text.encode()) / 256) / 4)
            for r in docs.select("doc_id", "text").collect()}
    assert got == want


def test_frame_sample_real_path_raises(spark):
    import pytest as pt

    from insight_de_smart_grid_spark.sources.tables import load_table as lt
    from tests.conftest import SF_SMOKE as SF

    docs = lt(spark, SF, "documents")
    with pt.raises(Exception, match="NotImplementedError|ffmpeg"):
        mm.sample_frames(mm.attach_binary_payload(docs), fake=False).collect()


def test_embedding_cosine_pairs_never_touch_driver(spark, monkeypatch):
    """The all-pairs near-dup path must stay fully distributed: building AND
    executing dedup_embedding_cosine may not call DataFrame.toPandas (the
    round-1 implementation broadcast the whole corpus from the driver)."""
    from pyspark.sql import DataFrame as SparkDataFrame

    from insight_de_smart_grid_spark.plans.registry import QUERIES

    def boom(self, *a, **k):
        raise AssertionError("driver-side toPandas in cosine pairs path")

    monkeypatch.setattr(SparkDataFrame, "toPandas", boom)
    out = QUERIES["dedup_embedding_cosine"].fn(spark, SF_ORACLE)
    out.collect()  # execution must not materialize on the driver either


def test_embedding_cosine_pairs_find_planted_dups(spark):
    """LSH-blocked pairs must equal the exact >=threshold pair set on a
    corpus with planted near-duplicates (miss probability ~1e-12 at the
    planted similarity), with exact cosine values."""
    import numpy as np

    emb = (load_table(spark, SF_ORACLE, "embeddings")
           .select("vec_id", "embedding").limit(100))
    base = emb.collect()
    planted = []
    for r in base[:5]:
        v = np.asarray(r.embedding, dtype=np.float64)
        v[0] += 0.05 * np.linalg.norm(v)  # cosine vs original ~0.999
        planted.append((r.vec_id + 1_000_000, [float(x) for x in v]))
    corpus = emb.unionByName(spark.createDataFrame(
        planted, "vec_id long, embedding array<double>"))

    got = {(r.vec_a, r.vec_b): r.cos_sim
           for r in sim.cosine_pairs_blocked(corpus, threshold=0.9).collect()}

    ids = [r.vec_id for r in base] + [p[0] for p in planted]
    mat = np.array([np.asarray(r.embedding, dtype=np.float64) for r in base]
                   + [np.asarray(p[1]) for p in planted])
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    sims = mat @ mat.T
    want = {}
    for i in range(len(ids)):
        for j in range(len(ids)):
            a, b = ids[i], ids[j]
            if a < b and sims[i, j] >= 0.9:
                want[(a, b)] = round(sims[i, j], 6)
    assert set(got) == set(want)
    assert len(want) >= 5  # every planted pair qualifies
    for k in want:
        assert abs(got[k] - want[k]) < 2e-6


def test_dup_clusters_transitive_closure(spark):
    """A-B and B-C pairs (without A-C) must land in ONE cluster labeled by
    the min id — the property pairwise dedup alone lacks."""
    pairs = spark.createDataFrame(
        [(1, 5, 0.9), (5, 9, 0.9), (20, 21, 0.95)],
        "doc_a long, doc_b long, jaccard double")
    got = {(r.doc_id, r.cluster_id)
           for r in dd.dup_clusters(pairs).collect()}
    assert got == {(1, 1), (5, 1), (9, 1), (20, 20), (21, 20)}


def test_dup_clusters_converges_on_chain(spark):
    """A length-12 chain needs ~diameter rounds; the loop must actually
    converge (not stop at round 1) and label every node with the head."""
    chain = spark.createDataFrame(
        [(i, i + 1, 1.0) for i in range(100, 112)],
        "doc_a long, doc_b long, jaccard double")
    got = dd.dup_clusters(chain).collect()
    assert len(got) == 13
    assert {r.cluster_id for r in got} == {100}


def test_decontaminate_never_flags_holdout_docs(spark):
    """The holdout slice defines contamination; it must not appear in the
    flagged output itself."""
    from insight_de_smart_grid_spark.operators import pipeline as pl
    docs = load_table(spark, SF_ORACLE, "documents")
    flagged = pl.decontaminate(docs)
    holdout_ids = {
        r.doc_id for r in docs.select(
            "doc_id").filter(
            pl._hash_bucket(F.col("doc_id").cast("string")) < 5).collect()}
    assert holdout_ids, "hash slice should select some holdout docs"
    assert not ({r.doc_id for r in flagged.collect()} & holdout_ids)


def test_weighted_mix_respects_weights(spark):
    """Weight-100 languages keep every doc; lower weights keep fewer
    (statistically, but 30 vs 100 pct on ~100 docs cannot tie); languages
    absent from the weights dim drop entirely."""
    from insight_de_smart_grid_spark.operators import pipeline as pl
    docs = load_table(spark, SF_ORACLE, "documents")
    kept = pl.weighted_mix(docs).groupBy("lang").count()
    kept_by_lang = {r.lang: r["count"] for r in kept.collect()}
    total_en = docs.filter(F.col("lang") == "en").count()
    total_zh = docs.filter(F.col("lang") == "zh").count()
    assert kept_by_lang["en"] == total_en
    assert kept_by_lang.get("zh", 0) < total_zh
    none_kept = pl.weighted_mix(docs, weights={"xx": 50})
    assert none_kept.count() == 0


def test_pack_sequences_prefix_sums_per_shard(spark):
    """seq_idx must equal floor(prefix_tokens / capacity) within each shard
    in doc_id order — nondecreasing, starting at 0."""
    from insight_de_smart_grid_spark.operators import pipeline as pl
    docs = load_table(spark, SF_ORACLE, "documents")
    rows = pl.pack_sequences(docs, capacity=128).collect()
    by_shard: dict[int, list] = {}
    for r in sorted(rows, key=lambda r: (r.shard, r.doc_id)):
        by_shard.setdefault(r.shard, []).append(r)
    assert len(by_shard) > 1, "sharding should spread docs"
    for shard_rows in by_shard.values():
        cum = 0
        prev = -1
        for r in shard_rows:
            assert r.seq_idx == cum // 128
            assert r.seq_idx >= prev
            prev = r.seq_idx
            cum += r.n_tokens
        assert shard_rows[0].seq_idx == 0


def test_quantile_filter_drops_exactly_the_first_tile(spark):
    """ntile gives the first tile ceil(n/tiles) members, so per source the
    kept count is n - ceil(n/10) exactly — no off-by-one at the cut."""
    import math
    from insight_de_smart_grid_spark.operators import pipeline as pl
    docs = load_table(spark, SF_ORACLE, "documents")
    totals = {r.source: r["count"]
              for r in docs.groupBy("source").count().collect()}
    kept = {r.source: r["count"]
            for r in pl.quantile_filter(docs).groupBy("source")
            .count().collect()}
    for src, n in totals.items():
        assert kept.get(src, 0) == n - math.ceil(n / 10), src


def test_quantile_threshold_agrees_with_bruteforce(spark):
    """The broadcast-threshold cut must keep exactly the docs strictly
    above their source's interpolated 10th percentile (computed here in
    numpy as the independent reference)."""
    import numpy as np
    from insight_de_smart_grid_spark.operators import pipeline as pl
    docs = load_table(spark, SF_ORACLE, "documents")
    rows = docs.select("doc_id", "source", "n_chars").collect()
    by_src: dict[str, list] = {}
    for r in rows:
        by_src.setdefault(r.source, []).append(r)
    want = set()
    for src, rs in by_src.items():
        thr = np.percentile([r.n_chars for r in rs], 10,
                            method="linear")
        want |= {r.doc_id for r in rs if r.n_chars > thr}
    got = {r.doc_id
           for r in pl.quantile_filter_threshold(docs).collect()}
    assert got == want


def test_repetition_stats_on_planted_loop(spark):
    """'a b c' cycled 4x yields 10 trigrams but only the 3 cyclic shifts
    as distinct grams -> rep_ratio 0.7, top_gram_frac 0.4; a no-repeat doc
    scores 0."""
    from insight_de_smart_grid_spark.operators import text as tx
    docs = spark.createDataFrame(
        [(1, "a b c a b c a b c a b c"),      # abc abca bca cab repeat
         (2, "one two three four five six")],
        "doc_id long, text string")
    got = {r.doc_id: r for r in tx.repetition_stats(docs).collect()}
    # doc 1: 10 trigrams, distinct = {abc, bca, cab} cyclic = 3
    assert got[1].n_grams == 10 and got[1].n_distinct == 3
    assert abs(got[1].rep_ratio - 0.7) < 1e-9
    assert abs(got[1].top_gram_frac - 0.4) < 1e-9  # 'a b c' appears 4x
    assert got[2].rep_ratio == 0.0
    assert got[2].n_grams == got[2].n_distinct == 4


def test_prefix_suffix_finds_planted_seam(spark):
    """Doc 100 ends with the 3 tokens doc 200 starts with -> exactly the
    (100, 200) pair; no self-pairs; unrelated docs silent."""
    from insight_de_smart_grid_spark.operators import dedup as dd
    docs = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta"),
         (200, "delta epsilon zeta eta theta iota"),
         (300, "totally unrelated words here now")],
        "doc_id long, text string")
    got = [(r.doc_a, r.doc_b, r.boundary_gram)
           for r in dd.prefix_suffix_pairs(docs).collect()]
    assert got == [(100, 200, "delta epsilon zeta")]


def test_incremental_dedup_drops_known_fingerprints(spark):
    """An incoming batch whose texts already exist in the corpus (under
    different ids) must come back empty; genuinely new texts survive."""
    docs = load_table(spark, SF_ORACLE, "documents")
    corpus = docs.limit(100)
    redelivered = corpus.withColumn("doc_id", F.col("doc_id") + 5_000_000)
    assert dd.incremental_dedup(redelivered, corpus).count() == 0
    fresh = spark.createDataFrame(
        [(9_000_001, "brand new never seen text", "en", "srcX", 25)],
        "doc_id long, text string, lang string, source string, n_chars long")
    assert dd.incremental_dedup(fresh, corpus).count() == 1


def test_corpus_diff_statuses(spark):
    """Planted add/remove/change must each come back with its status, and
    an untouched doc as unchanged."""
    from insight_de_smart_grid_spark.operators import pipeline as pl
    old = spark.createDataFrame(
        [(1, "same text"), (2, "will change"), (3, "will be removed")],
        "doc_id long, text string")
    new = spark.createDataFrame(
        [(1, "same text"), (2, "has changed"), (4, "newly added")],
        "doc_id long, text string")
    got = {r.doc_id: r.status for r in pl.corpus_diff(old, new).collect()}
    assert got == {1: "unchanged", 2: "changed", 3: "removed", 4: "added"}


def test_hard_negatives_labels_differ_and_ranked(spark):
    """Every mined negative must carry a different label than its anchor,
    ranks must be 1..k dense per anchor, and within an anchor the rounded
    score must be nonincreasing with rank."""
    emb = load_table(spark, SF_ORACLE, "embeddings")
    labels = {r.vec_id: r.label
              for r in emb.select("vec_id", "label").collect()}
    rows = sim.lsh_hard_negatives(emb, k=3).collect()
    assert rows, "sf0.01 buckets must produce some negatives"
    by_anchor: dict[int, list] = {}
    for r in rows:
        assert labels[r.anchor_id] != labels[r.neg_id]
        by_anchor.setdefault(r.anchor_id, []).append(r)
    for rs in by_anchor.values():
        rs.sort(key=lambda r: r.rnk)
        assert [r.rnk for r in rs] == list(range(1, len(rs) + 1))
        sims = [r.cos_sim for r in rs]
        assert sims == sorted(sims, reverse=True)


def test_prefix_filtered_jaccard_equals_full_inversion(spark):
    """The prefix filter is lossless: at the same threshold the PPJoin-style
    operator must return the EXACT same pairs/scores as plain shingle
    inversion (its whole point is fewer candidates, not different answers)."""
    docs = load_table(spark, SF_ORACLE, "documents")
    full = {(r.doc_a, r.doc_b, round(r.jaccard, 9))
            for r in dd.ngram_jaccard_pairs(docs, 3, 0.5).collect()}
    pref = {(r.doc_a, r.doc_b, round(r.jaccard, 9))
            for r in dd.jaccard_pairs_prefix_filtered(docs, 3, 0.5).collect()}
    assert pref == full and len(full) > 0


def test_prefix_filter_inverts_fewer_rows(spark):
    """Candidate-volume claim: the prefix index holds strictly fewer
    (doc, shingle) rows than the full inversion — about 1-t of each set,
    concentrated on rare shingles."""
    from pyspark.sql import Window

    docs = load_table(spark, SF_ORACLE, "documents")
    sh = (dd.word_ngrams(docs, 3)
          .select("doc_id", F.xxhash64("g").alias("g")))
    full_rows = sh.count()
    dfreq = sh.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id").orderBy("df", "g")
    ranked = (sh.join(dfreq, "g")
              .withColumn("pos", F.row_number().over(w))
              .withColumn("sz", F.count(F.lit(1))
                          .over(Window.partitionBy("doc_id"))))
    prefix_rows = ranked.filter(
        F.col("pos") <= F.col("sz") - F.ceil(F.lit(0.5) * F.col("sz"))
        + F.lit(1)).count()
    assert prefix_rows < 0.6 * full_rows


def test_weighted_sample_prefers_heavy_docs(spark):
    """Sampling probability tracks weight: the mean length of a 100-doc
    weighted sample must exceed the corpus mean length (weights ARE
    lengths), and the draw must be deterministic per seed."""
    from insight_de_smart_grid_spark.operators import pipeline as pl

    docs = load_table(spark, SF_ORACLE, "documents")
    s1 = pl.weighted_sample(docs, k=100, seed="ws0")
    s2 = pl.weighted_sample(docs, k=100, seed="ws0")
    assert [r.doc_id for r in s1.collect()] == [r.doc_id
                                                for r in s2.collect()]
    mean_sample = s1.agg(F.avg("weight")).collect()[0][0]
    mean_corpus = docs.agg(F.avg("n_chars")).collect()[0][0]
    assert mean_sample > mean_corpus
    s3 = pl.weighted_sample(docs, k=100, seed="ws1")
    assert {r.doc_id for r in s3.collect()} != {r.doc_id
                                                for r in s1.collect()}


def test_blast_radius_matches_oracle(spark, duck):
    check_registered(spark, duck, "dedup_blast_radius")


def test_blast_radius_walks_a_planted_chain(spark):
    """Transitive reach with hop counts: 1~2 and 2~3 are near-dups but 1 and
    3 share nothing, so the seed (doc 1) must reach 3 only THROUGH 2, at
    min_hops 2."""
    docs = spark.createDataFrame(
        [(1, "a b c d e f g h i j"),
         (2, "e f g h i j k l m n"),
         (3, "k l m n o p q r s t"),
         (9, "completely unrelated text nothing shared here at all ok")],
        "doc_id long, text string")
    out = {r.doc_id: r.min_hops
           for r in dd.near_dup_blast_radius(docs).collect()}
    assert out == {1: 0, 2: 1, 3: 2}


def test_winsorize_clamps_to_group_caps(spark):
    """Winsorized values never exceed their own group's caps, interior
    values pass through unchanged, and something actually clamps at the
    1%/99% cuts."""
    from insight_de_smart_grid_spark.operators.cleanse import winsorize

    ev = load_table(spark, SF_ORACLE, "events")
    out = winsorize(ev, "value", ["event_type"])
    caps = (ev.groupBy("event_type")
            .agg(F.percentile("value", F.lit(0.01)).alias("lo"),
                 F.percentile("value", F.lit(0.99)).alias("hi")))
    joined = out.join(caps, "event_type")
    assert joined.filter((F.col("value_w") < F.col("lo"))
                         | (F.col("value_w") > F.col("hi"))).count() == 0
    assert joined.filter(F.col("value_w") != F.col("value")).count() > 0
    n_interior = joined.filter((F.col("value") >= F.col("lo"))
                               & (F.col("value") <= F.col("hi"))
                               & (F.col("value_w") == F.col("value"))).count()
    assert n_interior == joined.filter((F.col("value") >= F.col("lo"))
                                       & (F.col("value")
                                          <= F.col("hi"))).count()


def test_time_split_has_no_leakage(spark):
    """max(train time) must precede min(test time): the whole point of the
    temporal split."""
    from insight_de_smart_grid_spark.operators import pipeline as pl

    rows = {r.split: r for r in pl.time_split_summary(
        load_table(spark, SF_ORACLE, "events")).collect()}
    assert set(rows) == {"train", "test"}
    assert rows["train"].max_ep < rows["test"].min_ep
    total = rows["train"].n + rows["test"].n
    assert 0.7 <= rows["train"].n / total <= 0.9


def test_group_kfold_never_splits_a_group(spark):
    """Every user lands in exactly one fold: per-fold distinct-user counts
    must sum to the corpus distinct-user count (straddling would double
    count), and folds are reasonably balanced."""
    from insight_de_smart_grid_spark.operators import pipeline as pl

    ev = load_table(spark, SF_ORACLE, "events")
    folds = pl.group_kfold(ev, k=5).collect()
    assert sum(r.n_groups for r in folds) == \
        ev.select("user_id").distinct().count()
    assert sum(r.n_rows for r in folds) == ev.count()
    sizes = [r.n_groups for r in folds]
    assert max(sizes) <= 2 * min(sizes)


def test_knn_graph_recall_and_shape(spark):
    """Every anchor gets <= k dense-ranked neighbors starting at rank 1,
    and a probe anchor's graph neighbors overlap its exact brute-force
    top-10 (8-plane/16-table buckets on a near-orthogonal corpus recall
    the close neighborhood, not necessarily the single nearest)."""
    from insight_de_smart_grid_spark.operators.similarity import (
        cosine_topk,
        knn_graph,
    )

    emb = load_table(spark, SF_ORACLE, "embeddings")
    g = knn_graph(emb, k=3)
    per = g.groupBy("anchor_id").count()
    assert per.filter("count > 3").count() == 0
    ranks = {(r.anchor_id, r.rnk) for r in g.collect()}
    anchors = {a for a, _ in ranks}
    assert all((a, 1) in ranks for a in anchors)
    exact10 = {r.vec_id for r in cosine_topk(emb, 7, k=10).collect()}
    graph3 = {r.nbr_id for r in g.filter("anchor_id = 7").collect()}
    assert graph3 & exact10


def test_auto_n_planes_holds_occupancy():
    """The formula IS the scale contract: each corpus doubling adds one
    plane (occupancy stays ~target), clamped to the int64-safe range."""
    from insight_de_smart_grid_spark.operators.similarity import (
        auto_n_planes,
    )

    assert auto_n_planes(0) == 4
    assert auto_n_planes(-5) == 4
    assert auto_n_planes(10) == 4            # lo clamp on tiny corpora
    assert auto_n_planes(32 * 2 ** 8) == 8
    assert auto_n_planes(32 * 2 ** 8 + 1) == 9   # ceil: strictly-over bumps
    assert auto_n_planes(32 * 2 ** 9) == 9       # doubling -> +1 plane
    assert auto_n_planes(20_000) == 10       # the measured sf0.1 sweet spot
    assert auto_n_planes(10 ** 12) == 35     # 100 TB-ish corpus, still < hi
    assert auto_n_planes(10 ** 30) == 40     # hi clamp inside int64 buckets
    ns = [auto_n_planes(n) for n in (1, 10, 10 ** 3, 10 ** 6, 10 ** 9)]
    assert ns == sorted(ns)                  # monotone in corpus size


def test_hyperplane_signatures_auto_resolves_to_formula(spark):
    """n_planes="auto" must produce byte-identical signatures to passing
    the auto_n_planes(count) integer explicitly — the lever changes the
    depth, never the hash family."""
    from insight_de_smart_grid_spark.operators.similarity import (
        auto_n_planes,
        hyperplane_signatures,
    )

    emb = load_table(spark, SF_ORACLE, "embeddings")
    resolved = auto_n_planes(emb.count())
    a = hyperplane_signatures(emb, n_tables=4, n_planes="auto") \
        .select("vec_id", "table", "bucket")
    b = hyperplane_signatures(emb, n_tables=4, n_planes=resolved) \
        .select("vec_id", "table", "bucket")
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_knn_graph_auto_planes_recall(spark):
    """The auto-depth graph keeps the rank-shape contract and still
    recalls the probe anchor's exact close neighborhood."""
    from insight_de_smart_grid_spark.operators.similarity import (
        cosine_topk,
        knn_graph,
    )

    emb = load_table(spark, SF_ORACLE, "embeddings")
    g = knn_graph(emb, k=3, n_planes="auto")
    per = g.groupBy("anchor_id").count()
    assert per.filter("count > 3").count() == 0
    ranks = {(r.anchor_id, r.rnk) for r in g.collect()}
    anchors = {a for a, _ in ranks}
    assert all((a, 1) in ranks for a in anchors)
    exact10 = {r.vec_id for r in cosine_topk(emb, 7, k=10).collect()}
    graph3 = {r.nbr_id for r in g.filter("anchor_id = 7").collect()}
    assert graph3 & exact10


def test_multiprobe_recall_dominates_single_probe(spark):
    """At equal (tables, planes) the multiprobe candidate set is a strict
    superset of single-probe's, so overlap with the exact top-10 is
    provably monotone non-decreasing — and the extra probes must buy
    real candidates on this corpus (candidate count strictly grows)."""
    from insight_de_smart_grid_spark.operators.similarity import (
        cosine_topk,
        hyperplane_signatures,
        lsh_ann_topk,
        lsh_multiprobe_topk,
    )

    emb = load_table(spark, SF_ORACLE, "embeddings")
    exact = {r.vec_id for r in cosine_topk(emb, 0, k=10).collect()}
    single = {r.vec_id for r in
              lsh_ann_topk(emb, 0, k=10, n_tables=4, n_planes=8).collect()}
    multi = {r.vec_id for r in
             lsh_multiprobe_topk(emb, 0, k=10, n_tables=4,
                                 n_planes=8).collect()}
    assert len(multi & exact) >= len(single & exact)
    assert multi & exact  # 4 tables x 9 probes find the neighborhood

    # candidate growth, measured at the signature level: buckets within
    # Hamming distance 1 of the query hold more rows than the exact
    # bucket alone
    sig = hyperplane_signatures(emb, n_tables=4, n_planes=8)
    qb = {(r.table, r.bucket) for r in
          sig.filter("vec_id = 0").collect()}
    probes = {(t, b ^ (1 << p)) for t, b in qb for p in range(8)} | qb
    rows = [(r.table, r.bucket)
            for r in sig.select("table", "bucket").collect()]
    in_exact = sum(1 for tb in rows if tb in qb)
    in_probes = sum(1 for tb in rows if tb in probes)
    assert in_probes > in_exact


def test_trainer_moves_weights_and_is_deterministic(spark):
    """With both label classes present the gradient is non-zero, so one
    epoch must move some weight off the zero init; more epochs keep
    moving them; and two runs are bit-identical (the integer-micro
    contract)."""
    from insight_de_smart_grid_spark.operators.text import (
        train_quality_classifier,
    )

    docs = load_table(spark, SF_ORACLE, "documents")
    r1 = train_quality_classifier(docs, epochs=1).collect()[0]
    r3a = train_quality_classifier(docs, epochs=3).collect()[0]
    r3b = train_quality_classifier(docs, epochs=3).collect()[0]
    assert r3a == r3b
    weights1 = (r1.w_bias, r1.w_len, r1.w_stop, r1.w_punct, r1.w_wordlen)
    assert any(w != 0 for w in weights1)
    assert (r3a.w_bias, r3a.w_len, r3a.w_stop, r3a.w_punct,
            r3a.w_wordlen) != weights1
    assert 0 <= r3a.n_correct <= r3a.n_docs
    with pytest.raises(ValueError):
        train_quality_classifier(docs, epochs=0)


def test_trainer_matches_pure_python_integer_replica(spark):
    """Third engine: replay the exact integer recurrence in Python ints
    over the same micro-features and demand identical weights. Python
    ints are arbitrary-precision with true truncating //-toward-zero
    emulated explicitly, so this pins the micro-unit SEMANTICS (not just
    Spark-vs-DuckDB agreement on them)."""
    from insight_de_smart_grid_spark.operators.text import (
        _feature_micros,
        train_quality_classifier,
    )

    docs = load_table(spark, SF_SMOKE, "documents")
    rows = [(r.x1m, r.x2m, r.x3m, r.x4m, r.ym)
            for r in _feature_micros(docs, "text").collect()]

    def tdiv(a: int, b: int) -> int:  # Spark DIV / DuckDB //: trunc to 0
        q = abs(a) // abs(b)
        return q if (a >= 0) == (b >= 0) else -q

    lr, epochs = 500_000, 3
    w = [0, 0, 0, 0, 0]  # b, w1..w4
    n = len(rows)
    for _ in range(epochs):
        g = [0, 0, 0, 0, 0]
        for x1, x2, x3, x4, y in rows:
            s = w[0] + tdiv(w[1]*x1 + w[2]*x2 + w[3]*x3 + w[4]*x4,
                            1_000_000)
            r = 500_000 + tdiv(500_000 * s, 1_000_000 + abs(s)) - y
            g[0] += r
            for j, x in ((1, x1), (2, x2), (3, x3), (4, x4)):
                g[j] += tdiv(r * x, 1_000_000)
        w = [w[j] - tdiv(lr * tdiv(g[j], n), 1_000_000) for j in range(5)]

    got = train_quality_classifier(docs, epochs=epochs).collect()[0]
    assert [got.w_bias, got.w_len, got.w_stop, got.w_punct,
            got.w_wordlen] == w
    assert got.n_docs == n


def test_semantic_dedup_precollapse_is_output_invariant(spark):
    """The exact-duplicate pre-collapse must be invisible in the output:
    same rows as the un-collapsed formulation (LSH pairs over ALL
    vectors -> components) on a corpus with an identical-vector group, a
    near-duplicate of it, an orthogonal singleton, and two byte-identical
    ZERO vectors (which must stay singletons — 0/0 cosine never passes
    the threshold, so the collapse has to bypass them)."""
    from insight_de_smart_grid_spark.operators.dedup import dup_clusters
    from insight_de_smart_grid_spark.operators.similarity import (
        cosine_pairs_blocked,
        semantic_dedup,
    )

    dim = 64
    a = [1.0] + [0.0] * (dim - 1)
    near = [1.0, 1e-4] + [0.0] * (dim - 2)
    orth = ([0.0, 0.0, 1.0] + [0.0] * (dim - 3))
    zero = [0.0] * dim
    emb = spark.createDataFrame(
        [(0, a), (1, a), (2, a), (3, near), (4, orth), (5, zero),
         (6, zero)],
        "vec_id long, embedding array<float>")

    got = sorted(map(tuple, semantic_dedup(emb).collect()))

    pairs = cosine_pairs_blocked(emb, threshold=0.95)
    labels = dup_clusters(pairs.select(F.col("vec_a").alias("doc_a"),
                                       F.col("vec_b").alias("doc_b")))
    ref = sorted(map(tuple, (
        emb.select("vec_id")
        .join(labels.select(F.col("doc_id").alias("vec_id"), "cluster_id"),
              "vec_id", "left")
        .select("vec_id",
                F.coalesce("cluster_id", "vec_id").alias("cluster_id"))
        .withColumn("keep", F.col("vec_id") == F.col("cluster_id"))
    ).collect()))

    assert got == ref
    as_dict = {r[0]: r[1] for r in got}
    assert as_dict == {0: 0, 1: 0, 2: 0, 3: 0, 4: 4, 5: 5, 6: 6}


def test_semantic_dedup_boundary_threshold_uses_float_path(spark):
    """At threshold = 1.0 EXACTLY the collapse is disabled: the
    un-collapsed filter compares the unrounded float cosine, which can
    land 1 ulp below 1.0, and the oracle shares that float semantics —
    byte-equality clustering at the boundary would diverge. The output at
    1.0 must equal the plain float formulation row-for-row."""
    from insight_de_smart_grid_spark.operators.dedup import dup_clusters
    from insight_de_smart_grid_spark.operators.similarity import (
        cosine_pairs_blocked,
        semantic_dedup,
    )

    dim = 64
    # non-trivial magnitudes so dot(v,v)/(sqrt*sqrt) is NOT guaranteed an
    # exact 1.0 — the case the boundary semantics exist for
    a = [0.1 * ((i % 7) + 1) for i in range(dim)]
    orth = [0.0, 0.0, 1.0] + [0.0] * (dim - 3)
    emb = spark.createDataFrame(
        [(0, a), (1, a), (2, a), (3, orth)],
        "vec_id long, embedding array<float>")

    got = sorted(map(tuple, semantic_dedup(emb, threshold=1.0).collect()))
    pairs = cosine_pairs_blocked(emb, threshold=1.0)
    labels = dup_clusters(pairs.select(F.col("vec_a").alias("doc_a"),
                                       F.col("vec_b").alias("doc_b")))
    ref = sorted(map(tuple, (
        emb.select("vec_id")
        .join(labels.select(F.col("doc_id").alias("vec_id"), "cluster_id"),
              "vec_id", "left")
        .select("vec_id",
                F.coalesce("cluster_id", "vec_id").alias("cluster_id"))
        .withColumn("keep", F.col("vec_id") == F.col("cluster_id"))
    ).collect()))
    assert got == ref


def test_knn_graph_precollapse_invariant(spark):
    """The knn_graph exact-duplicate pre-collapse must be invisible in
    the output — identical (anchor, nbr, cos_sim, rnk) rows as the
    un-collapsed formulation — on a corpus stacking every hazard: a hot
    identical-vector group larger than k, a second identical pair, a
    near-duplicate, orthogonal singletons, and two byte-identical ZERO
    vectors (degenerate norm -> must bypass the collapse; their cosine
    is NULL under the float path, never 1.0)."""
    from insight_de_smart_grid_spark.operators.similarity import knn_graph

    dim = 64
    hot = [0.1 * ((i % 5) + 1) for i in range(dim)]
    pair = [1.0, -1.0] * (dim // 2)
    near = hot[:]
    near[0] += 1e-4
    zero = [0.0] * dim
    rows = [(i, hot) for i in range(6)]            # hot group of 6 > k
    rows += [(6, pair), (7, pair), (8, near)]
    rows += [(9, [0.0] * (dim - 1) + [1.0]), (10, zero), (11, zero)]
    emb = spark.createDataFrame(rows,
                                "vec_id long, embedding array<float>")

    def result(precollapse):
        return sorted(
            (r.anchor_id, r.nbr_id, r.cos_sim, r.rnk)
            for r in knn_graph(emb, k=3, precollapse=precollapse)
            .collect())

    got, ref = result(True), result(False)
    assert got == ref
    # the hot group's members rank their 3 smallest co-members first
    by_anchor = {}
    for a, n, c, rk in got:
        by_anchor.setdefault(a, []).append((rk, n, c))
    assert sorted(by_anchor[5])[:3] == [(1, 0, 1.0), (2, 1, 1.0),
                                        (3, 2, 1.0)]


def test_knn_graph_precollapse_invariant_on_edge_corpus(spark, tmp_path):
    """Same invariance over the adversarial edge corpus (zero vector,
    duplicate pair, near-axis vectors)."""
    from insight_de_smart_grid_spark.operators.similarity import knn_graph
    from tests.edge_fixture import build_edge_sf

    d = build_edge_sf(str(tmp_path / "edge"))
    emb = spark.read.parquet(f"{d}/embeddings.parquet")

    def result(precollapse):
        return sorted(
            (r.anchor_id, r.nbr_id, r.cos_sim, r.rnk)
            for r in knn_graph(emb, k=3, precollapse=precollapse)
            .collect())

    assert result(True) == result(False)


def test_auto_probe_radius_rule():
    """Round-7 multiprobe lever: the Hamming probe radius derives from
    the binomial collision model — smallest r whose modeled recall
    clears the target; monotone in the target; more tables need a
    smaller radius; capped at max_radius when no radius suffices."""
    from insight_de_smart_grid_spark.operators.similarity import (
        _probe_masks,
        auto_probe_radius,
    )

    assert auto_probe_radius(4, 8, 0.5, 0.9) == 0
    assert auto_probe_radius(4, 8, 0.95, 0.9) == 1
    assert auto_probe_radius(4, 8, 0.999, 0.9) == 2  # the registered shape
    assert auto_probe_radius(4, 8, 1.0, 0.9) == 3    # cap
    assert (auto_probe_radius(16, 10, 0.95, 0.9)
            <= auto_probe_radius(4, 10, 0.95, 0.9))
    # mask sets: radius-r count is the binomial partial sum, and each
    # radius's masks strictly include the previous (candidate monotonicity)
    import math
    for r in range(4):
        masks = _probe_masks(8, r)
        assert len(masks) == sum(math.comb(8, j) for j in range(r + 1))
        assert set(_probe_masks(8, max(r - 1, 0))) <= set(masks)


def test_knn_graph_precollapse_invariant_auto_depth(spark):
    """Round-7 advisory: with ``n_planes="auto"`` the depth must resolve
    ONCE from the FULL corpus count before the collapse branch. The
    corpus is sized so the full count (1100 -> depth 6) and the rep
    count (501 -> depth 4) straddle two log2 boundaries: resolving
    inside ``_bucket_scored_pairs`` (the pre-fix behavior) would build
    different-depth LSH families per branch and break invariance."""
    from insight_de_smart_grid_spark.operators.similarity import (
        auto_n_planes,
        knn_graph,
    )

    dim = 64
    hot = [0.1 * ((d % 5) + 1) for d in range(dim)]
    rows = [(i, hot) for i in range(600)]
    rows += [(600 + i, [((i * 31 + d * 7) % 97) / 97.0 - 0.5
                        for d in range(dim)]) for i in range(500)]
    emb = spark.createDataFrame(rows,
                                "vec_id long, embedding array<float>")
    assert auto_n_planes(1100) != auto_n_planes(501)  # the trap is armed

    def result(**kw):
        return sorted(
            (r.anchor_id, r.nbr_id, r.cos_sim, r.rnk)
            for r in knn_graph(emb, k=3, n_planes="auto", **kw).collect())

    got = result(precollapse=True)
    assert got == result(precollapse=False)
    # and "auto" means exactly the full-count rule on the collapsed branch
    concrete = sorted(
        (r.anchor_id, r.nbr_id, r.cos_sim, r.rnk)
        for r in knn_graph(emb, k=3, n_planes=auto_n_planes(1100),
                           precollapse=True).collect())
    assert got == concrete


def test_semantic_dedup_matches_oracle(spark, duck):
    check_registered(spark, duck, "dedup_semantic")


def test_semantic_dedup_transitive_keeper(spark):
    """A~B and B~C (without A~C necessarily candidate-paired) must land in
    ONE cluster with the min id as keeper; the far-away singleton keeps
    itself. Vectors are near-parallel so every LSH table buckets them
    together (cos ~ 1 >> 0.95)."""
    from insight_de_smart_grid_spark.operators.similarity import (
        semantic_dedup,
    )

    dim = 64
    base = [1.0] + [0.0] * (dim - 1)
    tilt = [1.0, 1e-4] + [0.0] * (dim - 2)
    tilt2 = [1.0, 2e-4] + [0.0] * (dim - 2)
    faraway = [0.0] * (dim - 1) + [1.0]
    emb = spark.createDataFrame(
        [(1, base), (2, tilt), (3, tilt2), (9, faraway)],
        "vec_id long, embedding array<float>")
    got = {r.vec_id: (r.cluster_id, r.keep)
           for r in semantic_dedup(emb, threshold=0.95).collect()}
    assert got[1] == (1, True)
    assert got[2] == (1, False)
    assert got[3] == (1, False)
    assert got[9] == (9, True)


def test_pagerank_integer_model_and_hub_dominance(spark):
    """Known-answer star graph: the iteration core must reproduce an
    independent integer model of the micro-unit recurrence exactly, and
    the hub must outrank every leaf."""
    hub, leaves = 1, [2, 3, 4, 5]
    edge_rows = [(lf, hub) for lf in leaves] + [(hub, lf) for lf in leaves]
    verts = spark.createDataFrame([(v,) for v in [hub] + leaves],
                                  "vec_id long")
    edges = spark.createDataFrame(edge_rows, "src long, dst long")
    got = {r["vec_id"]: r["rank_micro"]
           for r in sim.pagerank_iterations(verts, edges, 3).collect()}

    outdeg = {hub: len(leaves), **{lf: 1 for lf in leaves}}
    rank = {v: 1_000_000 for v in [hub] + leaves}
    for _ in range(3):
        s = {v: 0 for v in rank}
        for src, dst in edge_rows:
            s[dst] += rank[src] // outdeg[src]
        rank = {v: 150_000 + 85 * s[v] // 100 for v in rank}
    assert got == rank
    assert all(got[hub] > got[lf] for lf in leaves)


def test_iterative_ops_reject_zero_iters(spark):
    """Contract pin: engine and oracle both require iters >= 1 (iters=0
    previously returned seed labels / initial ranks engine-side while the
    SQL twin emitted invalid SQL — the guard keeps the two in lockstep)."""
    emb = spark.createDataFrame([(1, [1.0, 0.0]), (2, [0.0, 1.0])],
                                "vec_id long, embedding array<float>")
    for call in (lambda: sim.label_propagation(emb, iters=0),
                 lambda: sim.pagerank_knn(emb, iters=0),
                 lambda: sim.label_propagation_oracle_sql(iters=0),
                 lambda: sim.pagerank_knn_oracle_sql(iters=0)):
        with pytest.raises(ValueError, match="iters"):
            call()


def test_kmeans_portable_recovers_separated_groups(spark):
    """Two well-separated blobs, k=2, seeds one per blob (ids 0 and 1):
    Lloyd must put every point with its blob."""
    rows = []
    for i in range(10):
        base = [0.0] * 8
        base[0] = 1.0 + (i % 3) * 0.01          # blob A near e0
        rows.append((2 * i, [float(x) for x in base]))
        base2 = [0.0] * 8
        base2[7] = -1.0 - (i % 3) * 0.01        # blob B near -e7
        rows.append((2 * i + 1, [float(x) for x in base2]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {r.vec_id: r.cluster
           for r in sim.kmeans_portable(emb, k=2, dim=8).collect()}
    a = {got[v] for v in got if v % 2 == 0}
    b = {got[v] for v in got if v % 2 == 1}
    assert a == {0} and b == {1}


def test_dup_clusters_loop_width_is_data_sized_and_scoped(spark):
    """Round-12 (VERDICT r11 item 1): the convergence loop's shuffle width
    derives from edge count, not core count — a KB-scale pair graph must
    not schedule core-count tasks per round. The loop runs in its own
    query session, so the caller's ``spark.sql.shuffle.partitions`` never
    changes, the labels come back as a frame of the caller's session, and
    the global temp views that carry the frames across are gone —
    including on a chain-shaped graph that needs several propagation
    rounds."""
    # chain 0-1-2-...-9 (worst-case diameter) plus a dense triangle
    chain = [(i, i + 1) for i in range(9)]
    tri = [(20, 21), (21, 22), (20, 22)]
    pairs = spark.createDataFrame(chain + tri, "doc_a long, doc_b long")
    before = spark.conf.get("spark.sql.shuffle.partitions")
    out = dd.dup_clusters(pairs)
    assert out._jdf.sparkSession().equals(spark._jsparkSession)
    assert not spark.catalog.listTables(
        spark.conf.get("spark.sql.globalTempDatabase"))
    got = sorted(map(tuple, out.collect()))
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    assert got == [(i, 0) for i in range(10)] + [(i, 20) for i in
                                                 (20, 21, 22)]
