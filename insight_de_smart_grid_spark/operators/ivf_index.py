"""Persisted, incrementally-maintainable IVF index (round-9).

Third persisted index family, beside the MinHash dedup index
(``operators/dedup_index.py``) and the hyperplane ANN index
(``operators/ann_index.py``): the inverted-file layout every production
vector store ships (FAISS IVF — public design) expressed as parquet +
partition pruning.

- ``build_ivf_index``: freeze the coarse quantizer at creation, then
  write two tables under the manifest protocol
  (``operators/index_manifest.py``). Two quantizers (round-10):

  * ``quantizer="portable"`` — the deterministic ``ivf_portable_topk``
    quantizer (centroids = the ``n_centroids`` LOWEST-id corpus
    vectors; quantizer QUALITY is irrelevant to the maintenance/pruning
    contracts exercised here, and determinism is what lets the index
    share the inline query's DuckDB twin verbatim);
  * ``quantizer="kmeans"`` — the default for indexes that need RECALL:
    spherical k-means trained driver-side on a deterministic bounded
    sample (``train_kmeans_centroids``), with every intermediate
    centroid snapped to a 6-decimal grid so a DuckDB oracle replays the
    identical training in SQL CTEs (``kmeans_centroids_cte_sql``) —
    the portable-planes trick applied to Lloyd iterations. The IVF
    recall contract (``tests/test_scale_stress.py``) holds against this
    quantizer at the cos-0.9 design point.

  * ``centroids/`` — the ``n_centroids`` frozen (c_id, cv) rows. This
    IS the geometry (the manifest meta's analog, k rows of it): appends
    read it and nothing else.
  * ``lists/`` — the inverted lists ``(id, v)`` PARTITIONED BY
    ``cluster``: each vector stored once, in its one assigned list —
    IVF is naturally a single-copy index. (Deliberately NOT offered in
    the round-10 ``layout="bucketed"`` form the dedup/ANN bands have:
    the probe join key ``cluster`` takes at most ``n_centroids``
    distinct values, so bucketing on it cannot spread work — a shuffled
    hash join on a k-valued key is skew by construction — while the
    existing directory partitioning already gives the probe its scale
    lever, PartitionFilters pruning to nprobe/n_centroids of the
    corpus before any join. Batch probes bound the driver-side cluster
    union by n_centroids regardless of delta size.)

- The lifecycle — build, delta-only append (assigned against the frozen
  centroid broadcast; re-deriving centroids is what a retrain is for),
  compaction of ``lists/`` (centroids are geometry, never compacted),
  tombstone deletes, and the scheduled/streaming ingest loops — is
  ``operators/index_base.py``'s, driven by this module's ``FAMILY``
  record; retrain and hot-cluster splits stage through the same writers.
- ``query_ivf_topk``: rank the ``n_centroids`` frozen centroids against
  the query (one k-row job), collect the ``nprobe`` winning cluster ids
  (driver-bounded: nprobe ints — the ``query_buckets`` pattern), and
  push ``cluster IN (...)`` into the lists scan: PartitionFilters prune
  the directory tree to nprobe/n_centroids of the corpus — the IVF
  scale contract, visible in the physical plan (plan-asserted). Exact
  cosine re-rank inside the probed lists only. Built on the same
  corpus, rows equal the inline ``ivf_portable_topk`` — which is what
  lets the registered maintenance query share
  ``ivf_portable_topk_oracle_sql`` verbatim.

The reference has no vector surface at all; this extends the round-8/9
index story to the quantizer-based family (SURVEY's similarity-search
extension block).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from insight_de_smart_grid_spark.operators import index_base
from insight_de_smart_grid_spark.operators.similarity import _dot, _norm
from insight_de_smart_grid_spark.sources.local_rows import local_rows_df

_CENTS = "centroids"
_LISTS = "lists"
_PROBES = "probes"

# the private names are kept as the family's API surface (tests and
# plans read through them)
_read_meta = index_base.read_meta
_read_table = index_base.read_table


def _nonzero(embeddings: DataFrame, vec_col: str,
             id_col: str) -> DataFrame:
    """Zero-norm vectors have no cosine direction (0/0 scores differ per
    engine) — excluded outright, mirrored in the shared oracle."""
    return (embeddings.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("v"))
        .filter(_norm("v") > 0))


def _assign(emb: DataFrame, cents: DataFrame, id_col: str) -> DataFrame:
    """Nearest frozen centroid per vector: broadcast the k-row centroid
    table, rounded cosine + c_id tie-break (deterministic cross-engine —
    the exact ``ivf_portable_topk`` assignment). Round-10: the argmax is
    a single hash aggregation (``max(struct(c_sim, -c_id))`` — the
    ``max_by`` shape with the tie-break folded into the struct order)
    instead of a ``row_number`` window: partial map-side aggregation
    collapses the k candidate rows per vector before any shuffle, where
    the window shuffled AND sorted delta x k rows (VERDICT r9)."""
    scored = (emb.join(F.broadcast(cents))
              .withColumn("c_sim",
                          F.round(_dot("v", "cv")
                                  / (_norm("v")
                                     * _norm("cv")), 6)))
    best = (scored.groupBy(id_col)
            .agg(F.max(F.struct(F.col("c_sim"),
                                (-F.col("c_id")).alias("neg_c")))
                 .alias("best"),
                 # every candidate row of a vector carries the same v, so
                 # first() is deterministic here despite unordered input
                 F.first("v").alias("v")))
    return best.select((-F.col("best.neg_c")).alias("cluster"),
                       id_col, "v")


def _write_lists(df: DataFrame, seg: str, meta: dict) -> None:
    """The inverted lists, partitioned by ``cluster`` (PartitionFilters
    prune a probe to its nprobe lists), sorted by id within each."""
    (df.repartition("cluster")
     .sortWithinPartitions("cluster", meta["id_col"])
     .write.mode("overwrite").partitionBy("cluster").parquet(seg))


def _write_centroids(df: DataFrame, seg: str, meta: dict) -> None:
    df.coalesce(1).write.mode("overwrite").parquet(seg)


def _frames(spark: SparkSession, delta: DataFrame, path: str,
            meta: dict) -> dict:
    """The delta's assignment pass against the FROZEN centroids — the
    k-row geometry table is the only index table it reads."""
    return {_LISTS: _assign(_nonzero(delta, meta["vec_col"], meta["id_col"]),
                            _read_table(spark, path, _CENTS),
                            meta["id_col"])}


def train_kmeans_centroids(embeddings: DataFrame, n_centroids: int,
                           n_iter: int = 2, train_rows: int = 256,
                           vec_col: str = "embedding",
                           id_col: str = "vec_id") -> list:
    """Deterministic, SQL-replayable spherical k-means — the round-10
    trained quantizer (VERDICT r9 item 2). Driver-side NumPy over a
    BOUNDED sample (the lowest ``train_rows`` ids — the same
    deterministic sampling ``similarity.ivf_assignments`` uses), init =
    the first ``n_centroids`` sample vectors, a FIXED ``n_iter`` Lloyd
    iterations. Every vector is L2-normalized and every intermediate
    centroid re-normalized, with each coordinate snapped to a 6-decimal
    grid after every step: on that grid NumPy's and DuckDB's float
    arithmetic agree to ~1e-12 << the grid, so
    ``kmeans_centroids_cte_sql`` reproduces the exact centroid ROWS in
    SQL and the trained index shares a value-level oracle — the
    portable-planes determinism trick applied to training.

    At 100 TB the sample is still driver-bounded (train_rows) and the
    training is a few k x dim matmuls — quantizer cost is independent of
    corpus size. Returns [(c_id, [float, ...])], c_id = 0..k-1."""
    train = (_nonzero(embeddings, vec_col, id_col)
             .orderBy(id_col).limit(train_rows).select("v").collect())
    if len(train) < n_centroids:
        raise ValueError(
            f"kmeans quantizer needs >= n_centroids={n_centroids} "
            f"nonzero sample vectors, got {len(train)}")
    mat = np.array([r.v for r in train], dtype=np.float64)
    mat = np.round(mat / np.linalg.norm(mat, axis=1, keepdims=True), 6)
    cents = mat[:n_centroids].copy()
    for _ in range(n_iter):
        sims = np.round(
            (mat @ cents.T)
            / np.outer(np.linalg.norm(mat, axis=1),
                       np.linalg.norm(cents, axis=1)), 6)
        assign = sims.argmax(axis=1)    # first max = lowest c_id on ties
        for c in range(n_centroids):
            members = mat[assign == c]
            if len(members):            # empty cluster keeps its centroid
                m = members.mean(axis=0)
                cents[c] = np.round(m / np.linalg.norm(m), 6)
    return [(c, [float(x) for x in cents[c]])
            for c in range(n_centroids)]


def kmeans_centroids_cte_sql(n_centroids: int, n_iter: int = 2,
                             train_rows: int = 256, dim: int = 64,
                             table: str = "embeddings",
                             id_col: str = "vec_id",
                             vec_col: str = "embedding") -> str:
    """DuckDB CTE chain reproducing ``train_kmeans_centroids`` row for
    row: same bounded id-ordered sample, same init, same ``n_iter``
    unrolled Lloyd iterations on the same 6-decimal grid. Emits CTEs
    ending in ``cents(c_id, cv)`` — splice into a query's WITH list."""
    norm = (f"sqrt(list_aggregate(list_transform({vec_col}::DOUBLE[], "
            "x -> x * x), 'sum'))")
    cos = ("round(list_cosine_similarity(s.v, c.cv), 6)")
    ctes = [f"""samp AS (
  SELECT row_number() OVER (ORDER BY {id_col}) - 1 AS sid,
         list_transform({vec_col}::DOUBLE[],
                        x -> round(x / {norm}, 6)) AS v
  FROM (SELECT * FROM {table} WHERE {norm} > 0
        ORDER BY {id_col} LIMIT {train_rows}))""",
            f"""cents_0 AS (
  SELECT sid AS c_id, v AS cv FROM samp WHERE sid < {n_centroids})"""]
    for i in range(n_iter):
        prev, cur = f"cents_{i}", f"cents_{i + 1}"
        ctes.append(f"""assign_{i} AS (
  SELECT sid, c_id FROM (
    SELECT s.sid, c.c_id,
           row_number() OVER (PARTITION BY s.sid
                              ORDER BY {cos} DESC, c.c_id ASC) AS rn
    FROM samp s, {prev} c) WHERE rn = 1)""")
        ctes.append(f"""means_{i} AS (
  SELECT a.c_id, list(avg_x ORDER BY d) AS m
  FROM (SELECT a.c_id, d.d, avg(s.v[d.d]) AS avg_x
        FROM assign_{i} a
        JOIN samp s USING (sid)
        CROSS JOIN (SELECT unnest(generate_series(1, {dim})) AS d) d
        GROUP BY a.c_id, d.d) a
  GROUP BY a.c_id)""")
        mnorm = ("sqrt(list_aggregate(list_transform(m, x -> x * x), "
                 "'sum'))")
        ctes.append(f"""{cur} AS (
  SELECT c_id, list_transform(m, x -> round(x / {mnorm}, 6)) AS cv
  FROM means_{i}
  UNION ALL
  SELECT c_id, cv FROM {prev}
  WHERE c_id NOT IN (SELECT c_id FROM means_{i}))""")
    ctes.append(f"cents AS (SELECT c_id, cv FROM cents_{n_iter})")
    return ",\n".join(ctes)


def _quantize(embeddings: DataFrame, n_centroids: int, vec_col: str,
              id_col: str, quantizer: str, n_iter: int,
              train_rows: int) -> "tuple[dict, dict]":
    """Freeze a quantizer over ``embeddings``: the geometry meta and the
    frames of both tables (the centroids and every nonzero vector
    assigned against them). Shared by the build, an ingest loop's first
    batch, and the retrain (over the index's own vectors).

    ``quantizer="portable"``: centroids are the ``n_centroids``
    LOWEST-id nonzero vectors (round-10, ADVICE r9: formerly
    ``id < n_centroids``, which silently built an EMPTY quantizer on a
    corpus whose ids don't start near 0 — every vector then dropped);
    raises if there are fewer nonzero vectors than centroids.
    ``quantizer="kmeans"``: the trained, recall-bearing quantizer
    (``train_kmeans_centroids``)."""
    emb = _nonzero(embeddings, vec_col, id_col)
    if quantizer == "kmeans":
        rows = train_kmeans_centroids(embeddings, n_centroids, n_iter,
                                      train_rows, vec_col, id_col)
        # Arrow-batch local frame (round-11, guide §4): the plain
        # list-of-rows createDataFrame parallelizes into Python-RDD
        # partitions whose coalesce(1) staged write pays one SEQUENTIAL
        # Python-worker roundtrip per partition — measured 5.5-6.7 s
        # for this 8-row write vs ~0.2 s through one JVM-held batch
        cents = local_rows_df(embeddings.sparkSession, rows,
                              "c_id int, cv array<double>")
    else:
        cents = (emb.orderBy(id_col).limit(n_centroids)
                 .select(F.col(id_col).alias("c_id"),
                         F.col("v").alias("cv")))
        n_got = cents.count()
        if n_got < n_centroids:
            raise ValueError(
                f"portable quantizer needs >= n_centroids={n_centroids} "
                f"nonzero corpus vectors, got {n_got}")
    meta = {"n_centroids": n_centroids, "vec_col": vec_col,
            "id_col": id_col, "quantizer": quantizer,
            # bumped by every geometry change (retrain/split) so an
            # append's expect_meta guard conflicts even when the new
            # quantizer has identical PARAMETERS (same-k retrain: same
            # meta dict, different centroid rows)
            "geom_epoch": 0}
    if quantizer == "kmeans":
        meta.update({"n_iter": n_iter, "train_rows": train_rows})
    return meta, {_CENTS: cents, _LISTS: _assign(emb, cents, id_col)}


def _create(corpus: DataFrame, params: dict) -> "tuple[dict, dict]":
    return _quantize(corpus, params["n_centroids"], params["vec_col"],
                     params["id_col"], "portable", 2, 256)


def _probe_log(spark: SparkSession, batch: DataFrame, path: str,
               meta: dict, frames: dict, params: dict,
               first: bool) -> "DataFrame | None":
    """A batch's top-k within its probed lists of everything ingested
    before it (one batched probe job, whose probed-cluster collect runs
    at plan-build time — inside the staging overlap); the build-only
    first batch probes nothing."""
    if first:
        return None
    return query_ivf_batch_topk(spark, path, batch, k=params["k"],
                                nprobe=params["nprobe"])


FAMILY = index_base.Family(
    tables={_CENTS: _write_centroids, _LISTS: _write_lists},
    frames=_frames, create=_create, log=_PROBES, log_frame=_probe_log,
    geometry=(_CENTS,))


def build_ivf_index(embeddings: DataFrame, path: str,
                    n_centroids: int = 16, vec_col: str = "embedding",
                    id_col: str = "vec_id", quantizer: str = "portable",
                    n_iter: int = 2, train_rows: int = 256,
                    marks: "list[str] | None" = None) -> dict:
    """Create the index at ``path``; the centroid set is frozen for the
    index's lifetime (stored as the ``centroids/`` table — the geometry
    appends read, and the only thing they read). ``quantizer`` picks
    the portable or the trained k-means quantizer (``_quantize``), both
    value-oracled (``kmeans_centroids_cte_sql`` replays the training)."""
    meta, frames = _quantize(embeddings, n_centroids, vec_col, id_col,
                             quantizer, n_iter, train_rows)
    return index_base.build(FAMILY, path, meta, frames, marks)


def append_ivf_index(new_vectors: DataFrame, path: str,
                     tag: "str | None" = None) -> dict:
    """Assign a delta against the FROZEN centroids and commit its list
    segments in one bump (``index_base.append``). The job reads the
    delta plus the k-row centroid table — never the inverted lists
    (plan-asserted) — and its ``expect_meta`` guard re-assigns the delta
    if a retrain or split swaps the quantizer before it commits."""
    return index_base.append(new_vectors.sparkSession, FAMILY, new_vectors,
                             path, tag)


def compact_ivf_index(spark: SparkSession, path: str) -> int:
    """Rewrite the accumulated list segments to one sorted segment per
    cluster partition (``index_base.compact``). Centroids are immutable
    geometry (one k-row segment until a retrain or split)."""
    return index_base.compact(spark, FAMILY, path)


def delete_from_ivf_index(spark: SparkSession, path: str, ids,
                          tag: "str | None" = None) -> dict:
    """Tombstone vectors (round-11): one tiny id-list segment, one
    manifest bump. Probes anti-join the live tombstones immediately;
    ``compact_ivf_index`` physically drops the list rows and clears the
    tombstones in the same atomic replace. Centroids are geometry, not
    corpus rows — a deleted vector's centroid stays (retrain is the
    geometry lever)."""
    return index_base.delete_ids(spark, path, ids, tag)


def auto_nprobe(sims: "list[tuple[int, float]]",
                target_mass: float = 0.8) -> int:
    """Smallest nprobe whose probed centroids hold ``target_mass`` of
    the query's total positive centroid-similarity mass — the IVF twin
    of the ANN family's derived probe radius (round-11, VERDICT r10
    item 3: ANN derives depth from occupancy and radius from the
    binomial collision model; IVF's ``nprobe`` was caller-pinned).

    Model: under the soft-assignment view of a coarse quantizer, the
    chance that a query's true neighbor lives in cluster ``c`` grows
    with the query-centroid similarity q·c (clipped at 0 — an
    anti-aligned centroid holds no mass for this query), so the
    normalized cumulative similarity mass of the probed set is a
    recall-coverage proxy: probe the smallest prefix of the
    similarity-ranked centroids whose mass share clears the target. A
    concentrated query (one dominant centroid) probes 1 list; a query
    near a cluster boundary automatically probes more — nprobe adapts
    per query instead of being a global constant that must be sized for
    the worst query.

    Every sum is rounded to the shared 6-decimal grid before the ratio
    compare, so a DuckDB windowed-CTE replays the identical derivation
    (``ivf_auto_nprobe_oracle_sql``) — the portable-planes determinism
    trick applied to the probe-count decision. Input: (c_id, q_sim
    rounded to 6dp) for ALL centroids; driver cost is k ints — bounded
    by n_centroids regardless of corpus size."""
    return len(auto_probe_prefix(sims, target_mass))


def auto_probe_prefix(sims: "list[tuple[int, float]]",
                      target_mass: float = 0.8) -> "list[int]":
    """The derived probe SET: the (sim desc, c_id asc)-ranked centroid
    prefix ``auto_nprobe`` counts — single source of truth for both the
    ordering and the count, so a caller can never pair the derived
    count with a differently-ordered prefix."""
    order = sorted(sims, key=lambda t: (-t[1], t[0]))
    tot = round(sum(max(s, 0.0) for _, s in order), 6)
    if tot <= 0:
        return [c for c, _ in order[:1]]
    cum = 0.0
    for n, (_, s) in enumerate(order, start=1):
        cum += max(s, 0.0)
        if round(round(cum, 6) / tot, 6) >= target_mass:
            return [c for c, _ in order[:n]]
    return [c for c, _ in order]


def query_ivf_topk(spark: SparkSession, path: str, query_vec,
                   k: int = 10, nprobe: "int | str" = 4,
                   exclude_id: "int | None" = None,
                   target_mass: float = 0.8,
                   pin_id: "str | None" = None) -> DataFrame:
    """Top-k by exact cosine inside the ``nprobe`` nearest inverted
    lists. Probe selection runs over the k-row centroid table (same
    rounded-cosine + c_id ordering as the oracle) and collects nprobe
    ints to the driver — bounded, the ``query_buckets`` pattern — so the
    lists scan carries a static ``cluster IN (...)`` predicate and
    PartitionFilters prune the directory tree to nprobe/n_centroids of
    the corpus (plan-asserted). Rows equal ``ivf_portable_topk`` over
    the creation corpus at the same (n_centroids, nprobe).

    ``nprobe="auto"`` (round-11) derives the probe count per query from
    the measured centroid-similarity mass (``auto_nprobe`` — smallest
    prefix clearing ``target_mass``); the collect is still bounded by
    n_centroids rows and the pruning plan is unchanged."""
    qv = F.array(*[F.lit(float(x)) for x in query_vec])
    cents = _read_table(spark, path, _CENTS, pin_id)
    ranked = (cents.withColumn(
                  "q_sim", F.round(_dot(qv, F.col("cv"))
                                   / (_norm(qv) * _norm("cv")), 6))
              .orderBy(F.desc("q_sim"), F.asc("c_id")))
    if nprobe == "auto":
        sims = [(r.c_id, r.q_sim) for r in
                ranked.select("c_id", "q_sim").collect()]  # k rows, bounded
        probes = auto_probe_prefix(sims, target_mass)
    else:
        probes = [r.c_id for r in
                  ranked.limit(int(nprobe)).select("c_id").collect()]
    meta = _read_meta(path, pin_id)
    id_col = meta["id_col"]
    lists = (_read_table(spark, path, _LISTS, pin_id)
             .filter(F.col("cluster").isin(probes)))
    if exclude_id is not None:
        lists = lists.filter(F.col(id_col) != exclude_id)
    # tombstoned ids (round-11) leave the probed lists before the re-rank
    lists = index_base.subtract_tombstoned(spark, path, lists, [id_col],
                                           pin_id)
    return (lists.select(
        F.col(id_col),
        F.round(_dot(F.col("v"), qv) / (_norm("v") * _norm(qv)),
                6).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k))


# Same driver-OOM sizing as the other families' batched probes.
BROADCAST_QUERY_MAX_ROWS = 1_000_000


def query_ivf_batch_topk(spark: SparkSession, path: str,
                         queries: DataFrame, k: int = 10,
                         nprobe: "int | str" = 4,
                         exclude_self: bool = True,
                         mode: str = "auto",
                         broadcast_threshold: "int | None" = None,
                         target_mass: float = 0.8,
                         pin_id: "str | None" = None) -> DataFrame:
    """Top-k for a WHOLE DELTA of query vectors in one job — the IVF
    analog of ``ann_index.query_index_batch_topk``. Each query's nprobe
    probe list comes from the frozen k-row centroid broadcast (same
    rounded-cosine + c_id ordering as the single-query probe and the
    oracle); the UNION of probed cluster ids — bounded by n_centroids
    regardless of Q — is collected and pushed into the lists scan as a
    static ``cluster IN (...)`` (PartitionFilters prune the directory
    tree), and the per-query probe set joins the pruned lists for the
    exact cosine re-rank, ``row_number``-ranked per query. ``mode``
    picks broadcast vs SHUFFLE_HASH for the probe-set join by the delta
    row count (the dedup probe's lever). Per query id, rows equal
    ``query_ivf_topk`` at the same (n_centroids, nprobe) — pinned in
    tests and by the registered ``sim_ivf_index_batch_probe`` oracle.

    Output: (query_id, <id_col>, cos_sim), k rows per query."""
    meta = _read_meta(path, pin_id)
    id_col = meta["id_col"]
    if mode == "auto":
        # zero-job pick (round-10): Catalyst size estimate, count() only
        # as the no-statistics fallback or under an explicit threshold
        mode = index_base.pick_join_mode(queries, broadcast_threshold,
                                         BROADCAST_QUERY_MAX_ROWS)
    small = F.broadcast if mode == "broadcast" \
        else (lambda df: df.hint("SHUFFLE_HASH"))
    emb_q = (_nonzero(queries, meta["vec_col"], id_col)
             .select(F.col(id_col).alias("query_id"),
                     F.col("v").alias("qv")))
    cents = _read_table(spark, path, _CENTS, pin_id)
    wq = Window.partitionBy("query_id").orderBy(F.desc("q_sim"),
                                                F.asc("c_id"))
    # probe set carries (query_id, cluster) only — the query vector
    # would multiply the candidate join's bytes by the embedding width
    # (VERDICT r9 item 4); it joins back per query before the re-rank
    scored_c = (emb_q.join(F.broadcast(cents))
                .withColumn("q_sim",
                            F.round(_dot("qv", "cv")
                                    / (_norm("qv")
                                       * _norm("cv")), 6))
                .withColumn("rn", F.row_number().over(wq)))
    if nprobe == "auto":
        # per-query derived nprobe (round-11): the auto_nprobe mass rule
        # expressed as window aggregates — one window pass per query, no
        # driver loop, Q-independent of n_centroids collects. Columns
        # are materialized BEFORE the filter (window exprs re-evaluate
        # over filtered partitions otherwise).
        mass = F.greatest(F.col("q_sim"), F.lit(0.0))
        w_cum = wq.rowsBetween(Window.unboundedPreceding,
                               Window.currentRow)
        w_all = Window.partitionBy("query_id")
        probe = (scored_c
                 .withColumn("cum", F.round(F.sum(mass).over(w_cum), 6))
                 .withColumn("tot", F.round(F.sum(mass).over(w_all), 6))
                 .withColumn("np", F.when(
                     F.col("tot") <= 0, F.lit(1)).otherwise(F.coalesce(
                         F.min(F.when(
                             F.round(F.col("cum") / F.col("tot"), 6)
                             >= F.lit(target_mass),
                             F.col("rn"))).over(w_all),
                         F.max("rn").over(w_all))))
                 .filter(F.col("rn") <= F.col("np"))
                 .select("query_id", F.col("c_id").alias("cluster")))
    else:
        probe = (scored_c.filter(F.col("rn") <= nprobe)
                 .select("query_id", F.col("c_id").alias("cluster")))
    # the probed-cluster union is bounded by n_centroids however large
    # the delta is — a driver-safe collect that buys PartitionFilters
    clusters = [r.cluster for r in
                probe.select("cluster").distinct().collect()]
    lists = (_read_table(spark, path, _LISTS, pin_id)
             .filter(F.col("cluster").isin(clusters)))
    lists = index_base.subtract_tombstoned(spark, path, lists, [id_col],
                                           pin_id)
    cand = lists.join(small(probe), "cluster")
    if exclude_self:
        cand = cand.filter(F.col("query_id") != F.col(id_col))
    cand = cand.join(small(emb_q), "query_id")
    scored = cand.select(
        "query_id", id_col,
        F.round(_dot("v", "qv")
                / (_norm("v") * _norm("qv")),
                6).alias("cos_sim"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"),
                                               F.asc(id_col))
    return (scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= k).drop("rn"))


def ingest_ivf_index(spark: SparkSession, embeddings: DataFrame,
                     path: str, n_batches: int = 4, k: int = 5,
                     n_centroids: int = 8, nprobe: int = 2,
                     vec_col: str = "embedding",
                     id_col: str = "vec_id") -> DataFrame:
    """The IVF index's whole lifecycle as one scheduled-ingest loop
    (``index_base.ingest``; VERDICT r9 item 7): slice 0 (``id %
    n_batches``) creates the index (portable quantizer — the frozen
    geometry is the lowest-``n_centroids`` nonzero ids of slice 0),
    every later slice is IVF-probed against the index of everything
    ingested BEFORE it (one ``query_ivf_batch_topk`` job) and then
    appended, probe output and list segments committed in one manifest
    bump. The probe log is batching-DEPENDENT by design, so the static
    slices register against a DuckDB twin that reproduces "earlier
    slice" as ``cand % n < query % n`` (``ivf_index_ingest_oracle_sql``).
    Returns the committed probe log (query_id, <id_col>, cos_sim)."""
    return index_base.ingest(
        spark, FAMILY, embeddings, path,
        {"n_centroids": n_centroids, "vec_col": vec_col, "id_col": id_col,
         "k": k, "nprobe": nprobe}, n_batches)


def streaming_ingest_ivf(spark: SparkSession, embeddings: DataFrame,
                         base_dir: str, n_batches: int = 4, k: int = 5,
                         n_centroids: int = 8, nprobe: int = 2,
                         vec_col: str = "embedding",
                         id_col: str = "vec_id") -> DataFrame:
    """``ingest_ivf_index`` driven by REAL Structured Streaming
    micro-batches over mtime-ordered slice files — the same body, the
    same static-slice oracle."""
    return index_base.ingest(
        spark, FAMILY, embeddings, f"{base_dir}/index",
        {"n_centroids": n_centroids, "vec_col": vec_col, "id_col": id_col,
         "k": k, "nprobe": nprobe}, n_batches, stream_dir=base_dir)


def ivf_index_ingest_oracle_sql(n_batches: int = 4, k: int = 5,
                                n_centroids: int = 8,
                                nprobe: int = 2) -> str:
    """DuckDB twin of ``ingest_ivf_index`` (and its streaming drive):
    the frozen quantizer is slice 0's lowest-``n_centroids`` nonzero
    ids; every vector's cluster comes from that frozen geometry (same
    rounded-cosine + c_id argmax); a query in slice s ranks, within its
    ``nprobe`` probed clusters, only candidates from an earlier slice
    (``cand % n < query % n``) — exactly the standing index at the
    query's arrival. Slice-0 vectors probe nothing (build-only batch)."""
    cos = "round(list_cosine_similarity({a}, {b}), 6)"
    return f"""
WITH nz AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
  WHERE sqrt(list_aggregate(list_transform(embedding::DOUBLE[],
                                           x -> x * x), 'sum')) > 0
),
cents AS (
  SELECT vec_id AS c_id, v AS cv FROM nz
  WHERE vec_id % {n_batches} = 0
  ORDER BY vec_id LIMIT {n_centroids}
),
assigned AS (
  SELECT vec_id, cluster FROM (
    SELECT e.vec_id, c.c_id AS cluster,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY {cos.format(a='e.v', b='c.cv')} DESC,
                      c.c_id ASC) AS rn
    FROM nz e, cents c)
  WHERE rn = 1
),
probes AS (
  SELECT query_id, cluster FROM (
    SELECT q.vec_id AS query_id, c.c_id AS cluster,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY {cos.format(a='q.v', b='c.cv')} DESC,
                      c.c_id ASC) AS rn
    FROM nz q, cents c
    WHERE q.vec_id % {n_batches} > 0)
  WHERE rn <= {nprobe}
),
scored AS (
  SELECT p.query_id, a.vec_id,
         {cos.format(a='e.v', b='q.v')} AS cos_sim
  FROM probes p
  JOIN assigned a ON a.cluster = p.cluster
  JOIN nz e ON e.vec_id = a.vec_id
  JOIN nz q ON q.vec_id = p.query_id
  WHERE e.vec_id % {n_batches} < p.query_id % {n_batches}
)
SELECT query_id, vec_id, cos_sim FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, vec_id ASC) AS rn
  FROM scored
) WHERE rn <= {k}
"""


def ivf_trained_topk_oracle_sql(query_vec_id: int, k: int = 10,
                                n_centroids: int = 8, nprobe: int = 4,
                                n_iter: int = 2, train_rows: int = 256,
                                dim: int = 64,
                                train_table: str = "embeddings") -> str:
    """DuckDB twin of a ``quantizer="kmeans"`` IVF index probe: the
    ``kmeans_centroids_cte_sql`` chain replays the training to the
    identical centroid rows (6-decimal grid), then assignment, probe
    selection, and exact re-rank are the standard IVF oracle over those
    centroids — the whole trained family is value-checked cross-engine,
    training included. ``train_table`` may be a parenthesized subquery
    selecting exactly the corpus the index was BUILT on (training is
    slice-sensitive: on a corpus smaller than ``train_rows`` the build
    slice and the full corpus train different centroids)."""
    cos = "round(list_cosine_similarity({a}, {b}), 6)"
    return f"""
WITH {kmeans_centroids_cte_sql(n_centroids, n_iter, train_rows, dim,
                               table=train_table)},
nz AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
  WHERE sqrt(list_aggregate(list_transform(embedding::DOUBLE[],
                                           x -> x * x), 'sum'))> 0
),
assigned AS (
  SELECT vec_id, cluster FROM (
    SELECT e.vec_id, c.c_id AS cluster,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY {cos.format(a='e.v', b='c.cv')} DESC,
                      c.c_id ASC) AS rn
    FROM nz e, cents c)
  WHERE rn = 1
),
qv AS (SELECT v AS qv FROM nz WHERE vec_id = {query_vec_id}),
probes AS (
  SELECT c.c_id AS cluster
  FROM cents c, qv
  ORDER BY {cos.format(a='qv.qv', b='c.cv')} DESC, c.c_id ASC
  LIMIT {nprobe}
)
SELECT e.vec_id, {cos.format(a='e.v', b='qv.qv')} AS cos_sim
FROM assigned a
JOIN probes p ON a.cluster = p.cluster
JOIN nz e ON e.vec_id = a.vec_id
CROSS JOIN qv
WHERE e.vec_id != {query_vec_id}
ORDER BY cos_sim DESC, e.vec_id ASC
LIMIT {k}
"""


def ivf_trained_batch_topk_oracle_sql(query_vec_ids: "list[int]",
                                      k: int = 10, n_centroids: int = 8,
                                      nprobe: int = 4, n_iter: int = 2,
                                      train_rows: int = 256,
                                      dim: int = 64,
                                      train_table: str = "embeddings"
                                      ) -> str:
    """DuckDB twin of ``query_ivf_batch_topk`` through a
    ``quantizer="kmeans"`` index: the training CTE chain
    (``kmeans_centroids_cte_sql``) followed by the batch probe —
    per-query nprobe lists over the TRAINED centroids, exact re-rank
    inside the probed lists, top-k per query."""
    ids = ", ".join(str(int(q)) for q in query_vec_ids)
    cos = "round(list_cosine_similarity({a}, {b}), 6)"
    return f"""
WITH {kmeans_centroids_cte_sql(n_centroids, n_iter, train_rows, dim,
                               table=train_table)},
nz AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
  WHERE sqrt(list_aggregate(list_transform(embedding::DOUBLE[],
                                           x -> x * x), 'sum')) > 0
),
assigned AS (
  SELECT vec_id, cluster FROM (
    SELECT e.vec_id, c.c_id AS cluster,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY {cos.format(a='e.v', b='c.cv')} DESC,
                      c.c_id ASC) AS rn
    FROM nz e, cents c)
  WHERE rn = 1
),
qs AS (SELECT vec_id AS query_id, v AS qv FROM nz
       WHERE vec_id IN ({ids})),
probes AS (
  SELECT query_id, cluster FROM (
    SELECT q.query_id, c.c_id AS cluster,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY {cos.format(a='q.qv', b='c.cv')} DESC,
                      c.c_id ASC) AS rn
    FROM qs q, cents c)
  WHERE rn <= {nprobe}
),
scored AS (
  SELECT p.query_id, a.vec_id,
         {cos.format(a='e.v', b='q.qv')} AS cos_sim
  FROM assigned a
  JOIN probes p ON a.cluster = p.cluster
  JOIN nz e ON e.vec_id = a.vec_id
  JOIN qs q ON q.query_id = p.query_id
  WHERE a.vec_id != p.query_id
)
SELECT query_id, vec_id, cos_sim FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, vec_id ASC) AS rn
  FROM scored
) WHERE rn <= {k}
"""


def ivf_auto_nprobe_oracle_sql(query_vec_id: int, k: int = 10,
                               n_centroids: int = 16,
                               target_mass: float = 0.8) -> str:
    """DuckDB twin of a ``nprobe="auto"`` probe through a portable-
    quantizer IVF index: the ``m``/``np`` CTEs replay ``auto_nprobe``'s
    derivation — cumulative positive similarity mass over the ranked
    centroids on the shared 6-decimal grid, smallest prefix clearing
    ``target_mass`` (fallback: all centroids; zero total mass: 1) —
    then the standard IVF assignment + exact re-rank inside the derived
    probe set. The probe COUNT itself is value-checked cross-engine,
    not just the final ranking."""
    cos = "round(list_cosine_similarity({a}, {b}), 6)"
    return f"""
WITH nz AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
  WHERE sqrt(list_aggregate(list_transform(embedding::DOUBLE[],
                                           x -> x * x), 'sum')) > 0
),
cents AS (
  SELECT vec_id AS c_id, v AS cv FROM nz
  ORDER BY vec_id LIMIT {n_centroids}
),
qv AS (SELECT v AS qv FROM nz WHERE vec_id = {query_vec_id}),
m AS (
  SELECT c_id, s,
         row_number() OVER (ORDER BY s DESC, c_id ASC) AS rn,
         round(sum(greatest(s, 0)) OVER (ORDER BY s DESC, c_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
           AS cum,
         round(sum(greatest(s, 0)) OVER (), 6) AS tot
  FROM (SELECT c.c_id, {cos.format(a='qv.qv', b='c.cv')} AS s
        FROM cents c, qv)
),
np AS (
  SELECT CASE WHEN max(tot) <= 0 THEN 1
         ELSE coalesce(
           min(CASE WHEN round(cum / tot, 6) >= {target_mass}
               THEN rn END), max(rn)) END AS np
  FROM m
),
probes AS (SELECT c_id AS cluster FROM m, np WHERE m.rn <= np.np),
assigned AS (
  SELECT vec_id, cluster FROM (
    SELECT e.vec_id, c.c_id AS cluster,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY {cos.format(a='e.v', b='c.cv')} DESC,
                      c.c_id ASC) AS rn
    FROM nz e, cents c)
  WHERE rn = 1
)
SELECT e.vec_id, {cos.format(a='e.v', b='qv.qv')} AS cos_sim
FROM assigned a
JOIN probes p ON a.cluster = p.cluster
JOIN nz e ON e.vec_id = a.vec_id
CROSS JOIN qv
WHERE e.vec_id != {query_vec_id}
ORDER BY cos_sim DESC, e.vec_id ASC
LIMIT {k}
"""


def ivf_auto_nprobe_batch_oracle_sql(query_vec_ids: "list[int]",
                                     k: int = 10, n_centroids: int = 16,
                                     target_mass: float = 0.8) -> str:
    """DuckDB twin of ``query_ivf_batch_topk(nprobe="auto")``: the
    per-query mass derivation (``m``/``np`` partitioned by query id —
    exactly the Spark window shape) feeding the standard batch re-rank.
    Each query derives its OWN probe count: a concentrated query probes
    one list, a boundary query more."""
    ids = ", ".join(str(int(q)) for q in query_vec_ids)
    cos = "round(list_cosine_similarity({a}, {b}), 6)"
    return f"""
WITH nz AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
  WHERE sqrt(list_aggregate(list_transform(embedding::DOUBLE[],
                                           x -> x * x), 'sum')) > 0
),
cents AS (
  SELECT vec_id AS c_id, v AS cv FROM nz
  ORDER BY vec_id LIMIT {n_centroids}
),
qs AS (SELECT vec_id AS query_id, v AS qv FROM nz
       WHERE vec_id IN ({ids})),
m AS (
  SELECT query_id, c_id, s,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY s DESC, c_id ASC) AS rn,
         round(sum(greatest(s, 0)) OVER (PARTITION BY query_id
               ORDER BY s DESC, c_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
           AS cum,
         round(sum(greatest(s, 0)) OVER (PARTITION BY query_id), 6)
           AS tot
  FROM (SELECT q.query_id, c.c_id,
               {cos.format(a='q.qv', b='c.cv')} AS s
        FROM qs q, cents c)
),
np AS (
  SELECT query_id,
         CASE WHEN max(tot) <= 0 THEN 1
         ELSE coalesce(
           min(CASE WHEN round(cum / tot, 6) >= {target_mass}
               THEN rn END), max(rn)) END AS np
  FROM m GROUP BY query_id
),
probes AS (
  SELECT m.query_id, m.c_id AS cluster
  FROM m JOIN np ON np.query_id = m.query_id
  WHERE m.rn <= np.np
),
assigned AS (
  SELECT vec_id, cluster FROM (
    SELECT e.vec_id, c.c_id AS cluster,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY {cos.format(a='e.v', b='c.cv')} DESC,
                      c.c_id ASC) AS rn
    FROM nz e, cents c)
  WHERE rn = 1
),
scored AS (
  SELECT p.query_id, a.vec_id,
         {cos.format(a='e.v', b='q.qv')} AS cos_sim
  FROM assigned a
  JOIN probes p ON a.cluster = p.cluster
  JOIN nz e ON e.vec_id = a.vec_id
  JOIN qs q ON q.query_id = p.query_id
  WHERE a.vec_id != p.query_id
)
SELECT query_id, vec_id, cos_sim FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, vec_id ASC) AS rn
  FROM scored
) WHERE rn <= {k}
"""


def _split_plane(cluster: int, dim: int) -> list:
    """Deterministic md5-derived splitting hyperplane for one hot
    cluster — the ``_portable_planes`` recipe under a distinct seed
    family (``sp|{cluster}|{d}``): every component is a 48-bit integer
    over 2^48 affinely mapped to [-1, 1), each step exact in IEEE
    double, so DuckDB regenerates the identical plane from the same
    formula and the split is SQL-replayable."""
    import hashlib

    return [int(hashlib.md5(f"sp|{cluster}|{d}".encode())
                .hexdigest()[:12], 16) / 2.0 ** 48 * 2 - 1
            for d in range(dim)]


def split_hot_clusters(spark: SparkSession, path: str,
                       max_share: float = 0.5,
                       max_attempts: int = 5) -> dict:
    """Hot-cluster splitting — the bounded-imbalance lever (round-11,
    VERDICT r10 item 4). ``lists/`` is partitioned by a k-valued cluster
    key; a skewed corpus can put most vectors in few clusters, degrading
    the nprobe/n_centroids pruning guarantee toward a full scan — and a
    kmeans RETRAIN cannot always fix it: the deterministic lowest-id
    training init can land exactly one seed in the dense region, and
    plain Lloyd never splits a cluster its init under-seeded. Splitting
    attacks the symptom directly, per cluster:

    - every cluster holding more than ``max_share`` of the corpus is cut
      in two at the MEDIAN of its members' projections onto a
      deterministic md5-derived direction seeded by its own cluster id
      (``_split_plane``): members with ``round(v . w, 6) >`` the rounded
      median projection move to a fresh cluster id (max existing id +
      rank of the hot cluster), the rest stay. The median threshold is
      what makes the cut BALANCED by construction — a raw sign cut
      through a dense off-origin cloud lands almost everything on one
      side (the base direction's projection dominates the noise term),
      measured as a 0.899 -> 0.896 max-share no-op before this rule;
    - the two replacement centroids are the 6-decimal-grid normalized
      means of the two halves (the kmeans mean step), so probes rank
      them like any trained centroid; a one-sided cut (every member on
      one side) leaves that cluster untouched — no empty lists;
    - centroids, lists, and the n_centroids meta swap in ONE manifest
      bump carrying ``expect_version`` (a racing append retries the
      whole split from the fresh live set — the retrain contract).

    Cold clusters keep their members VERBATIM (no global reassignment —
    that is what retrain is for), which is what makes the operation
    SQL-replayable without replaying history: assignment under the
    frozen quantizer, then one plane test on the hot members
    (``ivf_split_topk_oracle_sql``). One pass splits every >max_share
    cluster once; run it again if a pathological half still exceeds the
    bound (each pass is one lists rewrite, the same cost class as
    compaction). Returns the new meta."""
    def step(man: dict):
        meta = dict(man["meta"])
        id_col = meta["id_col"]
        lists = _read_table(spark, path, _LISTS)
        counts = {r.cluster: r.n for r in
                  lists.groupBy("cluster")
                  .agg(F.count(F.lit(1)).alias("n")).collect()}
        total = sum(counts.values())
        hot = sorted(c for c, n in counts.items()
                     if n > max_share * total)
        if not hot:
            return None
        cents = _read_table(spark, path, _CENTS)
        c_ids = [r.c_id for r in cents.select("c_id").collect()]  # k rows
        max_id = max(c_ids)
        dim = len(lists.select("v").head().v)

        # side of each hot member: one narrow projection column — the
        # plane arrives as a per-cluster literal array (k rows at most).
        # The threshold is the cluster's exact median projection on the
        # shared 6-decimal grid (Spark `percentile` and DuckDB `median`
        # both average the two middle values), materialized via
        # withColumn BEFORE any filter (window-after-filter pitfall).
        # ``moved`` is consumed by the survivor check, the lists write,
        # and the centroid means — persisted so the broadcast-join +
        # windowed-percentile over the hot majority of the corpus runs
        # ONCE, not once per consumer.
        from pyspark.storagelevel import StorageLevel

        plane_rows = [(c, _split_plane(c, dim), max_id + 1 + i)
                      for i, c in enumerate(hot)]
        planes = local_rows_df(
            spark, plane_rows,
            "cluster bigint, w array<double>, new_id bigint")
        w_cl = Window.partitionBy("cluster")
        moved = (lists.join(F.broadcast(planes), "cluster")
                 .withColumn("proj", F.round(_dot("v", "w"), 6))
                 .withColumn("t", F.round(
                     F.expr("percentile(proj, 0.5)").over(w_cl), 6))
                 .withColumn("side", F.col("proj") > F.col("t"))
                 .persist(StorageLevel.MEMORY_AND_DISK))
        try:
            # a one-sided cut keeps the cluster intact (both halves must
            # be nonempty or the split is dropped for that cluster);
            # collected ONCE — bounded by the hot-cluster count
            survivor_hot = sorted(
                r.cluster for r in moved.groupBy("cluster")
                .agg(F.count_distinct("side").alias("ns"))
                .filter(F.col("ns") == 2).select("cluster").collect())
            if not survivor_hot:      # every cut was one-sided: no-op
                return None
            reassigned = (moved.filter(F.col("cluster")
                                       .isin(survivor_hot))
                          .select(F.when(F.col("side"), F.col("new_id"))
                                  .otherwise(F.col("cluster"))
                                  .alias("cluster"),
                                  F.col(id_col), F.col("v")))
            # static NOT-IN on the partition column: PartitionFilters
            # prune the survivors' directories out of the kept scan
            kept = (lists.filter(~F.col("cluster").isin(survivor_hot))
                    .select("cluster", id_col, "v"))
            new_lists = kept.unionByName(reassigned)

            # replacement centroids: normalized 6dp means of each half
            # (the kmeans mean step); cold centroids pass through
            comp = (reassigned.select("cluster",
                                      F.posexplode("v").alias("d", "x"))
                    .groupBy("cluster", "d").agg(F.avg("x").alias("m")))
            mean_vecs = (comp.groupBy("cluster")
                         .agg(F.array_sort(F.collect_list(
                             F.struct("d", "m"))).alias("dm"))
                         .select("cluster",
                                 F.transform("dm", lambda s: s["m"])
                                 .alias("m")))
            norm_m = _norm("m")
            new_cents = (mean_vecs
                         .select(F.col("cluster").alias("c_id"),
                                 F.transform(
                                     "m",
                                     lambda x: F.round(x / norm_m, 6))
                                 .alias("cv")))
            old_cents = cents.filter(
                ~F.col("c_id").isin(survivor_hot))
            cents_out = old_cents.unionByName(new_cents)

            # the k-row centroid write and the moved-lists write share
            # only the cents plan — overlapped by the core's stage
            staged = index_base.stage(
                FAMILY, {_CENTS: cents_out, _LISTS: new_lists}, path, meta,
                index_base.next_tag(path, "s"))
            # arithmetic, not a count() job: each surviving hot cluster
            # contributes exactly one extra centroid
            meta["n_centroids"] = len(c_ids) + len(survivor_hot)
            meta["geom_epoch"] = meta.get("geom_epoch", 0) + 1
        finally:
            moved.unpersist()
        return staged, meta

    return index_base.replace_retrying(path, "split", step, max_attempts)


def ivf_split_topk_oracle_sql(query_vec_id: int, k: int = 10,
                              n_centroids: int = 16, nprobe: int = 4,
                              max_share: float = 0.5,
                              dim: int = 64) -> str:
    """DuckDB twin of one ``split_hot_clusters`` pass followed by a
    probe: hot detection (share > max_share), the md5 split direction
    regenerated from the same ``sp|c|d`` formula, the median-projection
    threshold on the 6-decimal grid, half reassignment (new id =
    max c_id + hot rank), normalized-mean replacement centroids, and
    the standard nprobe probe over the FINAL centroid set. The whole
    rebalance decision — which clusters split, where the cut lands,
    where each member goes — is value-checked cross-engine, not just
    the final ranking."""
    cos = "round(list_cosine_similarity({a}, {b}), 6)"
    return f"""
WITH nz AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
  WHERE sqrt(list_aggregate(list_transform(embedding::DOUBLE[],
                                           x -> x * x), 'sum')) > 0
),
cents AS (
  SELECT vec_id AS c_id, v AS cv FROM nz
  ORDER BY vec_id LIMIT {n_centroids}
),
assigned AS (
  SELECT vec_id, cluster FROM (
    SELECT e.vec_id, c.c_id AS cluster,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY {cos.format(a='e.v', b='c.cv')} DESC,
                      c.c_id ASC) AS rn
    FROM nz e, cents c)
  WHERE rn = 1
),
counts AS (SELECT cluster, count(*) AS n FROM assigned GROUP BY cluster),
tot AS (SELECT sum(n) AS t FROM counts),
hot AS (
  SELECT cluster, row_number() OVER (ORDER BY cluster) AS hidx
  FROM counts, tot WHERE n > {max_share} * t
),
maxc AS (SELECT max(c_id) AS m FROM cents),
planes AS (
  SELECT h.cluster, h.hidx,
         list(CAST(concat('0x', substring(md5('sp|' || h.cluster || '|'
                                              || d), 1, 12)) AS BIGINT)
              / 281474976710656.0 * 2 - 1 ORDER BY d) AS w
  FROM hot h, generate_series(0, {dim - 1}) gd(d)
  GROUP BY h.cluster, h.hidx
),
proj AS (
  SELECT a.vec_id, a.cluster, p.hidx,
         round(list_dot_product(e.v, p.w), 6) AS pj
  FROM assigned a
  JOIN nz e USING (vec_id)
  JOIN planes p ON p.cluster = a.cluster
),
thr AS (SELECT cluster, round(median(pj), 6) AS t
        FROM proj GROUP BY cluster),
sides AS (
  SELECT proj.vec_id, proj.cluster, proj.hidx, proj.pj > thr.t AS side
  FROM proj JOIN thr USING (cluster)
),
two_sided AS (
  SELECT cluster FROM sides GROUP BY cluster
  HAVING count(DISTINCT side) = 2
),
final_assign AS (
  SELECT a.vec_id,
         CASE WHEN s.side
                   AND s.cluster IN (SELECT cluster FROM two_sided)
              THEN maxc.m + s.hidx
              ELSE a.cluster END AS cluster
  FROM assigned a
  LEFT JOIN sides s ON s.vec_id = a.vec_id
  CROSS JOIN maxc
),
split_members AS (
  SELECT f.cluster, f.vec_id FROM final_assign f, maxc
  WHERE f.cluster IN (SELECT cluster FROM two_sided)
     OR f.cluster > maxc.m
),
means AS (
  SELECT cluster, list(avg_x ORDER BY d) AS m
  FROM (SELECT sm.cluster, gd.d, avg(e.v[gd.d]) AS avg_x
        FROM split_members sm
        JOIN nz e USING (vec_id)
        CROSS JOIN generate_series(1, {dim}) gd(d)
        GROUP BY sm.cluster, gd.d) q
  GROUP BY cluster
),
final_cents AS (
  SELECT c_id, cv FROM cents
  WHERE c_id NOT IN (SELECT cluster FROM two_sided)
  UNION ALL
  SELECT cluster AS c_id,
         list_transform(m, x -> round(x / sqrt(list_aggregate(
             list_transform(m, y -> y * y), 'sum')), 6)) AS cv
  FROM means
),
qv AS (SELECT v AS qv FROM nz WHERE vec_id = {query_vec_id}),
probes AS (
  SELECT c_id AS cluster
  FROM final_cents, qv
  ORDER BY {cos.format(a='qv.qv', b='cv')} DESC, c_id ASC
  LIMIT {nprobe}
)
SELECT e.vec_id, {cos.format(a='e.v', b='qv.qv')} AS cos_sim
FROM final_assign a
JOIN probes p ON a.cluster = p.cluster
JOIN nz e USING (vec_id)
CROSS JOIN qv
WHERE e.vec_id != {query_vec_id}
ORDER BY cos_sim DESC, e.vec_id ASC
LIMIT {k}
"""


def rebalance_ivf_index(spark: SparkSession, path: str,
                        max_share: float = 0.5,
                        max_passes: int = 6) -> dict:
    """The monitor-facing rebalance loop: run ``split_hot_clusters``
    passes until no cluster exceeds ``max_share`` (each pass halves the
    hot clusters at their median cut, so convergence needs
    ~log2(share/max_share) passes) or ``max_passes`` is hit — the
    latter fails LOUDLY rather than leaving the operator believing the
    bound holds. Each pass is one atomic lists+centroids rewrite; the
    deployment cadence is 'when the share monitor trips', not per
    ingest. Convergence is detected from the geometry epoch — a pass
    that commits nothing (no cluster over the bound, or only
    unsplittable ones) leaves the epoch unchanged, and one counts scan
    then distinguishes 'converged' from 'stuck'. Returns the final
    meta."""
    def shares_ok() -> "tuple[bool, float]":
        counts = [r.n for r in
                  _read_table(spark, path, _LISTS).groupBy("cluster")
                  .agg(F.count(F.lit(1)).alias("n")).collect()]
        share = max(counts) / sum(counts)
        return share <= max_share, share

    meta = _read_meta(path)
    for _ in range(max_passes):
        before = meta.get("geom_epoch", 0)
        meta = split_hot_clusters(spark, path, max_share=max_share)
        if meta.get("geom_epoch", 0) == before:
            # nothing committed: either the bound already holds, or a
            # hot cluster's every projection is identical (one-sided cut)
            ok, share = shares_ok()
            if not ok:
                raise RuntimeError(
                    f"rebalance of {path} is stuck at max cluster share "
                    f"{share:.3f} > {max_share} — a cluster of "
                    "near-identical vectors cannot be median-split; "
                    "dedup it or raise the bound")
            return meta
    ok, share = shares_ok()
    if not ok:
        raise RuntimeError(
            f"rebalance of {path} still exceeds max_share={max_share} "
            f"after {max_passes} passes (max cluster share {share:.3f})")
    return meta


def retrain_ivf_index(spark: SparkSession, path: str,
                      n_centroids: "int | None" = None,
                      quantizer: str = "kmeans", n_iter: int = 2,
                      train_rows: int = 256,
                      max_attempts: int = 5) -> dict:
    """The REBUILD the append docstring defers to (round-10): re-derive
    the coarse quantizer from the index's OWN single-copy vectors — the
    original corpus is never re-read — and reassign every list, swapping
    centroids, lists, AND the geometry meta in ONE atomic manifest bump
    (the meta rides the manifest since round-10, so a crash anywhere
    leaves the old quantizer fully consistent with the old lists).
    Probes after a retrain answer exactly like a fresh build of the same
    quantizer over the ingested corpus (pinned in tests).

    The replace carries ``expect_version`` from the pre-read snapshot
    (round-11, ADVICE r10): an append landing between reading the live
    lists and this commit would otherwise be silently dropped from the
    replaced table and its files GC'd. On ``ManifestConflict`` the whole
    retrain retries from the fresh live set, absorbing the append
    (``index_base.replace_retrying``)."""
    def step(man: dict):
        meta = dict(man["meta"])
        id_col = meta["id_col"]
        want = n_centroids or meta["n_centroids"]
        vecs = (_read_table(spark, path, _LISTS)
                .select(F.col(id_col), F.col("v")))
        _, frames = _quantize(vecs, want, "v", id_col, quantizer, n_iter,
                              train_rows)
        staged = index_base.stage(FAMILY, frames, path, meta,
                                  index_base.next_tag(path, "r"))
        meta.update({"n_centroids": want, "quantizer": quantizer,
                     "geom_epoch": meta.get("geom_epoch", 0) + 1})
        if quantizer == "kmeans":
            meta.update({"n_iter": n_iter, "train_rows": train_rows})
        return staged, meta

    return index_base.replace_retrying(path, "retrain", step, max_attempts)
