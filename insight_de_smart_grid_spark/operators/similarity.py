"""Similarity search over an embedding column (north-star extension).

Two tiers, as a 100 TB design demands:
- ``cosine_topk``: brute-force exact top-K for one query vector. The dot
  product stays JVM-side (zip_with + aggregate higher-order functions — no
  Python). At cluster scale this is a broadcast of one vector and a single
  TakeOrderedAndProject — scan-bound, embarrassingly parallel.
- ``cosine_pairs_blocked`` / ``lsh_ann_topk``: all-pairs near-dup and
  bucketed ANN, both blocked by random-hyperplane LSH signatures so only
  same-bucket vectors ever pair (a shuffle equi-join on the bucket key) and
  no embedding matrix ever touches the driver.

Scores are rounded to 6 decimals on both engine and oracle sides: numpy/BLAS,
Spark fold, and DuckDB accumulate doubles in different orders, and rounding
absorbs the last-ulp jitter.
"""

from __future__ import annotations


import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from insight_de_smart_grid_spark.operators.staging import stage


def _dot(a: "Column | str", b: "Column | str") -> Column:
    """Vector dot product. String args take the single-parse SQL path —
    the lambda-Column form pays ~10 py4j roundtrips per call at plan
    build (round-11 optimization; the parsed Catalyst tree computes the
    identical float sum, same fold order)."""
    if isinstance(a, str) and isinstance(b, str):
        return F.expr(f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
                      "0.0D, (acc, x) -> acc + x)")
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def _norm(a: "Column | str") -> Column:
    if isinstance(a, str):
        return F.sqrt(F.expr(
            f"aggregate({a}, 0.0D, (acc, x) -> acc + x * x)"))
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine_topk(embeddings: DataFrame, query_vec_id: int, k: int = 10,
                vec_col: str = "embedding",
                id_col: str = "vec_id") -> DataFrame:
    """Exact top-K cosine neighbors of the vector with ``query_vec_id``.

    Declarative: the query vector is a one-row broadcast join, the score is a
    JVM higher-order fold over DOUBLE (float cast first — exact), the top-K is
    orderBy+limit on the rounded score with id tie-break.
    """
    emb = embeddings.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("v"))
    q = (emb.filter(F.col(id_col) == query_vec_id)
         .select(F.col("v").alias("qv")))
    return (
        emb.filter(F.col(id_col) != query_vec_id)
        .join(F.broadcast(q))
        .select(
            F.col(id_col),
            F.round(_dot("v", "qv")
                    / (_norm("v") * _norm("qv")), 6)
            .alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k)
    )


def cosine_topk_oracle_sql(query_vec_id: int, k: int = 10) -> str:
    return f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
           WHERE vec_id = {query_vec_id})
SELECT vec_id,
       round(list_cosine_similarity(embedding::DOUBLE[], q.qv), 6) AS cos_sim
FROM embeddings, q
WHERE vec_id != {query_vec_id}
ORDER BY cos_sim DESC, vec_id ASC
LIMIT {k}
"""


def cosine_pairs_blocked(embeddings: DataFrame, threshold: float = 0.9,
                         n_tables: int = 16, n_planes: "int | str" = 10,
                         dim: int = 64,
                         vec_col: str = "embedding",
                         id_col: str = "vec_id") -> DataFrame:
    """All-pairs cosine >= threshold via LSH-bucket blocking — the 100 TB
    shape: nothing ever passes through the driver.

    Candidate pairs are rows sharing a (table, bucket) in any of the
    ``n_tables`` random-hyperplane tables (a shuffle equi-join on the bucket
    key, never an all-pairs product); candidates are deduplicated across
    tables, then verified with the exact JVM cosine fold. Miss probability
    for a qualifying pair is (1 - p^n_planes)^n_tables with
    p = 1 - acos(threshold)/pi — at the default 16x10: ~1e-3 at threshold
    0.95 and ~1e-7 at 0.99 (near-dup pairs in practice sit near 1.0, where
    the miss vanishes). Table depth is the candidate-volume lever: on a
    near-orthogonal corpus bucket occupancy ~ n/2^n_planes, and the
    verify-join cost is sum over buckets of occupancy^2 — measured on the
    sf0.1 corpus, 10-plane tables produce 8x fewer candidates than 8-plane
    ones for the same table count, which matters more at scale than the
    last fraction of boundary recall."""
    sig = hyperplane_signatures(embeddings, n_tables, n_planes, dim,
                                vec_col=vec_col, id_col=id_col)
    # n_planes="auto" (resolved inside hyperplane_signatures) holds bucket
    # occupancy constant as the corpus grows — the registered query pins
    # the depth only because its DuckDB oracle twin is static SQL
    # candidate generation runs over NARROW rows (id, table, bucket) — the
    # per-bucket pair explosion must never carry the vectors (16 bytes/row
    # vs ~1 KB/row; at sf0.1 that is 200 MB vs 12 GB through the join)
    # materialize the narrow signature table once: both sides of the
    # bucket self-join (and nothing else) read it, and recomputing it
    # means running the Arrow matmul + corpus scan twice (at scale this
    # is the persisted index; locally localCheckpoint stands in for it)
    slim = stage(sig.select(F.col(id_col), "table", "bucket"))
    cands = (slim.alias("sa")
             .join(slim.alias("sb"), ["table", "bucket"])
             .filter(F.col(f"sa.{id_col}") < F.col(f"sb.{id_col}"))
             .select(F.col(f"sa.{id_col}").alias("vec_a"),
                     F.col(f"sb.{id_col}").alias("vec_b"))
             .dropDuplicates(["vec_a", "vec_b"]))
    # vectors join back only for the deduplicated candidates (the bounded
    # verify step), then the exact JVM cosine fold decides
    emb = embeddings.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("v"))
    ea = emb.select(F.col(id_col).alias("vec_a"), F.col("v").alias("va"))
    eb = emb.select(F.col(id_col).alias("vec_b"), F.col("v").alias("vb"))
    raw = _dot("va", "vb") / (_norm("va")
                                            * _norm("vb"))
    return (cands.join(ea, "vec_a").join(eb, "vec_b")
            .withColumn("raw_sim", raw)
            .filter(F.col("raw_sim") >= F.lit(threshold))
            .select("vec_a", "vec_b",
                    F.round(F.col("raw_sim"), 6).alias("cos_sim")))


def cosine_pairs_oracle_sql(threshold: float = 0.9, n_tables: int = 16,
                            n_planes: int = 10, dim: int = 64) -> str:
    """DuckDB twin of ``cosine_pairs_blocked`` INCLUDING the LSH candidacy
    (same ``_sigs_ctes`` plane matrix): a brute-force oracle would flag the
    engine for the ~1e-3 boundary pairs LSH is designed to trade away, so
    the bucketing is part of the checked contract — exactly like the
    lsh_ann_topk / hard-negative oracles."""
    return f"""
WITH {_sigs_ctes(n_tables, n_planes, dim)},
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM sigs a JOIN sigs b ON a.tbl = b.tbl AND a.bucket = b.bucket
  WHERE a.vec_id < b.vec_id
)
SELECT vec_a, vec_b,
       round(list_cosine_similarity(ea.embedding::DOUBLE[],
                                    eb.embedding::DOUBLE[]), 6) AS cos_sim
FROM cand
JOIN embeddings ea ON cand.vec_a = ea.vec_id
JOIN embeddings eb ON cand.vec_b = eb.vec_id
WHERE list_cosine_similarity(ea.embedding::DOUBLE[],
                             eb.embedding::DOUBLE[]) >= {threshold}
"""


def semantic_dedup(embeddings: DataFrame, threshold: float = 0.95,
                   n_tables: int = 16, n_planes: int = 10,
                   dim: int = 64) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023, arXiv
    2303.09540): collapse documents whose EMBEDDINGS are near-identical even
    when their text is not. Composition of two scale-safe stages:
    LSH-blocked cosine pairs (``cosine_pairs_blocked`` — equi-join on
    hyperplane buckets, never all-pairs) -> connected components
    (``dedup.dup_clusters`` iterative min-label propagation). Output is the
    keep/drop decision table: every vector with its semantic cluster id
    (its own id when unpaired) and ``keep`` = is-the-min-id-keeper.

    At 100 TB nothing leaves the executors: bucket keys are narrow
    (id, table, bucket) rows, the verify join carries only candidate
    vectors, and clustering is diameter-bounded iterations of an equi-join
    on uniformly distributed ids.

    EXACT-DUPLICATE PRE-COLLAPSE (output-invariant, measured 3.6x at the
    30x stress corpus): byte-identical non-zero vectors are a clique at
    any threshold < 1 — cos(u,u) = 1 and identical sign bits bucket them
    together in every table — so only the min-id representative of each
    identical group enters the LSH stage, and members rejoin as
    rep->member star edges (same connected components as the clique,
    linearly many edges instead of C(group,2) candidate pairs). Real
    corpora hit this constantly: exact-duplicate documents produce
    exact-duplicate embeddings, and a popular doc's group is the
    max-occupancy LSH bucket whose occupancy^2 verify cost the collapse
    removes. Zero-norm vectors never pair under the base semantics
    (0/0 cosine fails the threshold in both engines), so they bypass the
    collapse and stay singletons. The group key is a 256-bit hash of the
    exact double array — engine-internal (never oracle-compared), and it
    keeps the pre-collapse shuffle narrow (id + 64-char key, not the
    vector)."""
    from pyspark.sql import Window

    from insight_de_smart_grid_spark.operators.dedup import dup_clusters

    if threshold < 1.0:
        # Collapse is valid strictly below 1.0: identical vectors pass any
        # such threshold with margin, so the star edges are exactly the
        # clique the float path would emit. AT threshold = 1.0 the
        # un-collapsed filter compares the unrounded float cosine
        # dot(v,v)/(sqrt*sqrt), which can land 1 ulp below 1.0 — the
        # oracle leaves those identical vectors singletons, so the
        # boundary setting takes the plain float path below instead of
        # byte-equality semantics.
        v = embeddings.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("v"))
        keyed = (v.filter(_norm("v") > 0)
                 .select("vec_id",
                         F.sha2(F.to_json(F.struct("v")), 256)
                         .alias("vkey")))
        # one shuffle on the hash key resolves every member's
        # representative (min id over the identical group); staged because
        # both the rep filter and the star edges read it
        members = stage(
            keyed.select("vec_id", F.min("vec_id").over(
                Window.partitionBy("vkey")).alias("rep_id")))
        rep_vecs = embeddings.join(
            members.filter(F.col("vec_id") == F.col("rep_id"))
            .select("vec_id"), "vec_id")
        pairs = cosine_pairs_blocked(rep_vecs, threshold, n_tables,
                                     n_planes, dim)
        edges = pairs.select(F.col("vec_a").alias("doc_a"),
                             F.col("vec_b").alias("doc_b"))
        # identical vectors qualify: rejoin members as rep->member stars
        edges = edges.unionByName(
            members.filter(F.col("vec_id") != F.col("rep_id"))
            .select(F.col("rep_id").alias("doc_a"),
                    F.col("vec_id").alias("doc_b")))
    else:
        pairs = cosine_pairs_blocked(embeddings, threshold, n_tables,
                                     n_planes, dim)
        edges = pairs.select(F.col("vec_a").alias("doc_a"),
                             F.col("vec_b").alias("doc_b"))
    labels = dup_clusters(edges)
    ids = embeddings.select("vec_id")
    return (ids.join(labels.select(F.col("doc_id").alias("vec_id"),
                                   "cluster_id"), "vec_id", "left")
            .select("vec_id",
                    F.coalesce("cluster_id", "vec_id").alias("cluster_id"))
            .withColumn("keep", F.col("vec_id") == F.col("cluster_id")))


def semantic_dedup_oracle_sql(threshold: float = 0.95, n_tables: int = 16,
                              n_planes: int = 10, dim: int = 64) -> str:
    """DuckDB twin: the cosine_pairs_oracle_sql candidacy + threshold, then
    components via transitive closure (exact at oracle scale) and the same
    min-id keeper policy with singletons self-clustered."""
    return f"""
WITH RECURSIVE {_sigs_ctes(n_tables, n_planes, dim)},
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM sigs a JOIN sigs b ON a.tbl = b.tbl AND a.bucket = b.bucket
  WHERE a.vec_id < b.vec_id
),
jp AS (
  SELECT vec_a, vec_b
  FROM cand
  JOIN embeddings ea ON cand.vec_a = ea.vec_id
  JOIN embeddings eb ON cand.vec_b = eb.vec_id
  WHERE list_cosine_similarity(ea.embedding::DOUBLE[],
                               eb.embedding::DOUBLE[]) >= {threshold}
),
edges AS (
  SELECT vec_a AS src, vec_b AS dst FROM jp
  UNION
  SELECT vec_b AS src, vec_a AS dst FROM jp
),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
comp AS (
  SELECT src AS vec_id, least(src, min(dst)) AS cluster_id
  FROM reach GROUP BY src
)
SELECT e.vec_id,
       coalesce(c.cluster_id, e.vec_id) AS cluster_id,
       coalesce(c.cluster_id, e.vec_id) = e.vec_id AS keep
FROM embeddings e LEFT JOIN comp c USING (vec_id)
"""


def _portable_planes(n_tables: int, n_planes: int, dim: int) -> np.ndarray:
    """(n_tables*n_planes, dim) hyperplane matrix with every component an
    md5-derived double in [-1, 1): first 12 hex chars of md5("hp|t|p|d") as
    an integer over 2^48, affinely mapped. Every step (48-bit int, /2^48,
    *2, -1) is exact in IEEE double, so DuckDB reproduces the matrix
    bit-for-bit from the same formula — same portability recipe as the
    MinHash/SimHash hash families. Uniform-cube directions instead of
    gaussian ones shift per-plane collision probabilities slightly but
    keep them monotone in angle, which is all LSH blocking needs."""
    import hashlib

    w = np.empty((n_tables * n_planes, dim))
    for t in range(n_tables):
        for p in range(n_planes):
            for d in range(dim):
                h = int(hashlib.md5(f"hp|{t}|{p}|{d}".encode())
                        .hexdigest()[:12], 16)
                w[t * n_planes + p, d] = h / 2.0 ** 48 * 2 - 1
    return w


def auto_n_planes(n_rows: int, target_occupancy: int = 32,
                  lo: int = 4, hi: int = 40) -> int:
    """Plane depth that holds expected bucket occupancy constant as the
    corpus grows: ``ceil(log2(n_rows / target_occupancy))``, clamped to
    ``[lo, hi]``.

    On a near-orthogonal corpus a table's expected occupancy is
    n / 2^planes and the verify-join cost is sum over buckets of
    occupancy^2 ~= n * occupancy — linear in n ONLY while occupancy stays
    fixed. A fixed plane depth therefore degrades quadratically with
    corpus growth (SCALE.md's measured knn-graph 7.2x-at-10x ratio is
    exactly this term); each corpus doubling must add one plane. ``hi=40``
    keeps the packed bucket id far inside the int64 bucket key (62-bit
    capacity); recall lost to depth is bought back with ``n_tables``,
    which composes multiplicatively (P = 1 - (1 - p^planes)^tables).
    ``target_occupancy=32`` reproduces the measured sf0.1 sweet spot
    (20k vectors -> 10 planes, the 8x candidate reduction noted in
    ``cosine_pairs_blocked``).

    ON the registered-oracle surface since round 6: the
    ``sim_ann_auto_depth`` query is value-checked against
    ``lsh_ann_auto_topk_oracle_sql``, whose scalar CTE reproduces this
    exact clamp rule (greatest/least over ceil(log2(n/occupancy))) in
    static SQL. Engine callers opt in with ``n_planes="auto"``."""
    import math
    if n_rows <= 0:
        return lo
    return max(lo, min(hi, math.ceil(
        math.log2(max(2.0, n_rows / target_occupancy)))))


def hyperplane_signatures(embeddings: DataFrame, n_tables: int = 16,
                          n_planes: "int | str" = 4, dim: int = 64,
                          vec_col: str = "embedding",
                          id_col: str = "vec_id",
                          auto_occupancy: int = 32) -> DataFrame:
    """Multi-table random-hyperplane LSH: ``n_tables`` independent bucket ids,
    each packing ``n_planes`` sign bits. Long format (id, v, table, bucket).
    Planes are md5-derived (``_portable_planes``) -> deterministic across
    runs AND engines.

    Recall for cosine c: p = 1 - acos(c)/pi per plane;
    P(candidate) = 1 - (1 - p^n_planes)^n_tables — multiple small tables beat
    one deep table on near-orthogonal data.

    ``n_planes="auto"`` resolves the depth from the corpus row count via
    ``auto_n_planes`` (``auto_occupancy`` = its target occupancy) — the
    occupancy-holding scale lever. The one narrow count() it costs is
    noise next to the corpus scan that follows (at cluster scale, catalog
    row stats would stand in)."""
    if n_planes == "auto":
        n_planes = auto_n_planes(embeddings.count(),
                                 target_occupancy=auto_occupancy)
    # (n_tables*n_planes, dim) plane matrix; one vectorized matmul per Arrow
    # batch computes every signature bit — expression-tree dot products run
    # interpreted and measured ~10x slower than this Arrow path
    planes = _portable_planes(n_tables, n_planes, dim)
    weights = (1 << np.arange(n_planes)).astype(np.int64)

    @F.pandas_udf("array<long>")
    def buckets_udf(vs: pd.Series) -> pd.Series:
        mat = np.array([np.asarray(v, dtype=np.float64) for v in vs])
        bits = (mat @ planes.T) > 0                     # (rows, T*P)
        bits = bits.reshape(len(mat), n_tables, n_planes)
        ids = (bits * weights).sum(axis=2)              # (rows, T)
        return pd.Series(list(ids))

    emb = embeddings.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("v"))
    return (emb.withColumn("bks", buckets_udf("v"))
            .select(F.col(id_col), F.col("v"),
                    F.posexplode("bks").alias("table", "bucket")))


def lsh_ann_topk(embeddings: DataFrame, query_vec_id: int, k: int = 10,
                 n_tables: int = 16, n_planes: "int | str" = 4,
                 dim: int = 64,
                 vec_col: str = "embedding",
                 id_col: str = "vec_id",
                 auto_occupancy: int = 32) -> DataFrame:
    """Approximate top-K: candidates share the query's bucket in >= 1 of the
    LSH tables; exact cosine re-rank over the (deduplicated) candidates.
    At scale the signature table is the precomputed index (written bucketed
    by (table, bucket)), and a query touches n_tables buckets, not the
    corpus. ``n_planes="auto"`` resolves the occupancy-holding depth from
    the corpus count (``auto_n_planes``); the DuckDB twin for that mode is
    ``lsh_ann_auto_topk_oracle_sql``, which derives the same depth in a
    scalar CTE — the scale lever itself is oracle-checked."""
    sig = hyperplane_signatures(embeddings, n_tables, n_planes, dim,
                                vec_col=vec_col, id_col=id_col,
                                auto_occupancy=auto_occupancy)
    qb = (sig.filter(F.col(id_col) == query_vec_id)
          .select(F.col("table").alias("qtable"),
                  F.col("bucket").alias("qbucket"),
                  F.col("v").alias("qv")))
    cands = (
        sig.filter(F.col(id_col) != query_vec_id)
        .join(F.broadcast(qb), (F.col("table") == F.col("qtable"))
              & (F.col("bucket") == F.col("qbucket")))
        .select(id_col, "v", "qv")
        .dropDuplicates([id_col])
    )
    return (
        cands.select(
            F.col(id_col),
            F.round(_dot("v", "qv")
                    / (_norm("v") * _norm("qv")), 6)
            .alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k)
    )


def _sigs_ctes(n_tables: int, n_planes: int, dim: int) -> str:
    """CTE chain ``planes, sigs(vec_id, tbl, bucket)`` — the DuckDB twin of
    ``hyperplane_signatures`` over the identical md5-derived plane matrix
    (see ``_portable_planes`` — every arithmetic step is exact in double).
    The only cross-engine float risk is a dot product landing within ulps
    of 0 (different summation orders could then flip a sign bit); with 64
    O(1) terms that is ~1e-13 per bit — absorbed by the deterministic test
    data."""
    return f"""planes AS (
  SELECT t, p,
         list(CAST(concat('0x', substring(md5('hp|' || t || '|' || p || '|'
                                              || d), 1, 12)) AS BIGINT)
              / 281474976710656.0 * 2 - 1 ORDER BY d) AS wv
  FROM generate_series(0, {n_tables - 1}) AS gt(t),
       generate_series(0, {n_planes - 1}) AS gp(p),
       generate_series(0, {dim - 1}) AS gd(d)
  GROUP BY t, p
),
sigs AS (
  SELECT e.vec_id, pl.t AS tbl,
         sum(CASE WHEN list_dot_product(e.embedding::DOUBLE[], pl.wv) > 0
                  THEN (1 << pl.p) ELSE 0 END) AS bucket
  FROM embeddings e, planes pl
  GROUP BY 1, 2
)"""


def lsh_ann_topk_oracle_sql(query_vec_id: int, k: int = 10,
                            n_tables: int = 16, n_planes: int = 4,
                            dim: int = 64) -> str:
    """DuckDB twin of ``lsh_ann_topk``: identical buckets via
    ``_sigs_ctes``, probe the query's bucket per table, exact cosine
    re-rank."""
    return f"""
WITH {_sigs_ctes(n_tables, n_planes, dim)},
qsig AS (SELECT tbl, bucket FROM sigs WHERE vec_id = {query_vec_id}),
cands AS (
  SELECT DISTINCT s.vec_id
  FROM sigs s JOIN qsig q ON s.tbl = q.tbl AND s.bucket = q.bucket
  WHERE s.vec_id != {query_vec_id}
),
qv AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
       WHERE vec_id = {query_vec_id})
SELECT e.vec_id,
       round(list_cosine_similarity(e.embedding::DOUBLE[], qv.qv), 6)
       AS cos_sim
FROM cands JOIN embeddings e USING (vec_id), qv
ORDER BY cos_sim DESC, vec_id ASC
LIMIT {k}
"""


def lsh_ann_batch_topk_oracle_sql(query_vec_ids: "list[int]", k: int = 10,
                                  n_tables: int = 16, n_planes: int = 4,
                                  dim: int = 64) -> str:
    """DuckDB twin of ``ann_index.query_index_batch_topk`` (radius 0)
    over corpus-member query vectors: the single-query oracle
    generalized to a set — per-query candidates from shared buckets,
    exact cosine re-rank, ``row_number`` top-k per query id. Ties beyond
    (cos_sim, vec_id) cannot occur (vec_id is unique), so the ranking is
    deterministic cross-engine."""
    ids = ", ".join(str(int(q)) for q in query_vec_ids)
    return f"""
WITH {_sigs_ctes(n_tables, n_planes, dim)},
qsig AS (SELECT vec_id AS query_id, tbl, bucket FROM sigs
         WHERE vec_id IN ({ids})),
cands AS (
  SELECT DISTINCT q.query_id, s.vec_id
  FROM sigs s JOIN qsig q ON s.tbl = q.tbl AND s.bucket = q.bucket
  WHERE s.vec_id != q.query_id
),
qv AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qvec
       FROM embeddings WHERE vec_id IN ({ids})),
scored AS (
  SELECT c.query_id, e.vec_id,
         round(list_cosine_similarity(e.embedding::DOUBLE[], qv.qvec), 6)
         AS cos_sim
  FROM cands c JOIN embeddings e USING (vec_id)
  JOIN qv ON qv.query_id = c.query_id
)
SELECT query_id, vec_id, cos_sim FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, vec_id ASC) AS rn
  FROM scored
) WHERE rn <= {k}
"""


def ann_index_ingest_oracle_sql(n_batches: int = 4, k: int = 5,
                                n_tables: int = 16, n_planes: int = 4,
                                dim: int = 64) -> str:
    """DuckDB twin of ``ann_index.ingest_ann_index`` (and its streaming
    drive): the loop ingests slice ``vec_id % n_batches`` in slice
    order, ANN-checking each arriving vector against everything ingested
    BEFORE it — so "the standing index at arrival" is exactly the
    candidates from an earlier slice, a static predicate
    (``cand % n < query % n``). Candidates share a bucket in >= 1 LSH
    table (same md5 plane CTEs), exact cosine re-rank, row_number top-k
    per query. Slice-0 vectors probe nothing (empty index at creation),
    matching the loop's build-only first batch."""
    return f"""
WITH {_sigs_ctes(n_tables, n_planes, dim)},
cands AS (
  SELECT DISTINCT q.vec_id AS query_id, s.vec_id
  FROM sigs s JOIN sigs q ON s.tbl = q.tbl AND s.bucket = q.bucket
  WHERE s.vec_id % {n_batches} < q.vec_id % {n_batches}
),
scored AS (
  SELECT c.query_id, c.vec_id,
         round(list_cosine_similarity(e.embedding::DOUBLE[],
                                      eq.embedding::DOUBLE[]), 6)
         AS cos_sim
  FROM cands c
  JOIN embeddings e ON e.vec_id = c.vec_id
  JOIN embeddings eq ON eq.vec_id = c.query_id
)
SELECT query_id, vec_id, cos_sim FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, vec_id ASC) AS rn
  FROM scored
) WHERE rn <= {k}
"""


def lsh_ann_auto_topk_oracle_sql(query_vec_id: int, k: int = 10,
                                 n_tables: int = 16,
                                 auto_occupancy: int = 32,
                                 lo: int = 4, hi: int = 40,
                                 dim: int = 64) -> str:
    """DuckDB twin of ``lsh_ann_topk(n_planes="auto")``: the plane DEPTH
    itself is derived in a scalar CTE from the corpus row count with the
    exact ``auto_n_planes`` rule — greatest(lo, least(hi,
    ceil(log2(greatest(2.0, n/occupancy))))) — so the occupancy-holding
    scale lever is value-checked cross-engine, not just unit-tested. The
    plane CTE generates the full ``hi`` depth and keeps ``p < depth``
    (DuckDB's generate_series bounds must be constant); every kept plane's
    weights match ``_sigs_ctes`` exactly. Float risk is confined to
    log2() landing within ulps of an integer, which only happens when
    n/occupancy is an exact power of two — where log2 is exact in both
    engines."""
    return f"""
WITH depth AS (
  SELECT GREATEST({lo}, LEAST({hi},
           CAST(ceil(log2(GREATEST(2.0, count(*) / {auto_occupancy}.0)))
                AS INT))) AS np
  FROM embeddings
),
planes AS (
  SELECT t, p,
         list(CAST(concat('0x', substring(md5('hp|' || t || '|' || p || '|'
                                              || d), 1, 12)) AS BIGINT)
              / 281474976710656.0 * 2 - 1 ORDER BY d) AS wv
  FROM generate_series(0, {n_tables - 1}) AS gt(t),
       generate_series(0, {hi - 1}) AS gp(p),
       generate_series(0, {dim - 1}) AS gd(d)
  WHERE p < (SELECT np FROM depth)
  GROUP BY t, p
),
sigs AS (
  SELECT e.vec_id, pl.t AS tbl,
         sum(CASE WHEN list_dot_product(e.embedding::DOUBLE[], pl.wv) > 0
                  THEN (1 << pl.p) ELSE 0 END) AS bucket
  FROM embeddings e, planes pl
  GROUP BY 1, 2
),
qsig AS (SELECT tbl, bucket FROM sigs WHERE vec_id = {query_vec_id}),
cands AS (
  SELECT DISTINCT s.vec_id
  FROM sigs s JOIN qsig q ON s.tbl = q.tbl AND s.bucket = q.bucket
  WHERE s.vec_id != {query_vec_id}
),
qv AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
       WHERE vec_id = {query_vec_id})
SELECT e.vec_id,
       round(list_cosine_similarity(e.embedding::DOUBLE[], qv.qv), 6)
       AS cos_sim
FROM cands JOIN embeddings e USING (vec_id), qv
ORDER BY cos_sim DESC, vec_id ASC
LIMIT {k}
"""


def auto_probe_radius(n_tables: int, n_planes: int,
                      target_recall: float = 0.95,
                      at_cos: float = 0.9,
                      max_radius: int = 3) -> int:
    """Smallest Hamming probe radius meeting a recall target — the
    multiprobe twin of ``auto_n_planes`` (round-7): instead of hand-
    picking "probe 1-bit flips", derive the radius from the geometry.

    Model (Lv et al. multiprobe, exact under the random-hyperplane
    collision probability): a vector at cosine ``at_cos`` agrees with
    the query on one plane with p = 1 - acos(c)/pi; its bucket in one
    table lands within Hamming distance r of the query's with
    P_table(r) = sum_{j<=r} C(planes, j) p^(planes-j) (1-p)^j, and
    probing all those buckets in every table recalls it with
    1 - (1 - P_table(r))^tables. The radius is the smallest r clearing
    ``target_recall`` (capped at ``max_radius`` — probe count per table
    is sum_{j<=r} C(planes, j), so each extra unit multiplies probes,
    not index size). Pure geometry, no data dependence — which is what
    makes the DuckDB twin a scalar CTE
    (``lsh_multiprobe_auto_oracle_sql``)."""
    import math
    p = 1.0 - math.acos(max(-1.0, min(1.0, at_cos))) / math.pi
    for r in range(max_radius + 1):
        pt = sum(math.comb(n_planes, j)
                 * p ** (n_planes - j) * (1 - p) ** j
                 for j in range(r + 1))
        if 1.0 - (1.0 - pt) ** n_tables >= target_recall:
            return r
    return max_radius


def _probe_masks(n_planes: int, radius: int) -> list[int]:
    """All XOR masks with popcount <= radius over ``n_planes`` bits, the
    exact bucket set Hamming-<=radius probing visits (includes 0: the
    query's own bucket)."""
    import itertools
    return [sum(1 << p for p in combo)
            for j in range(radius + 1)
            for combo in itertools.combinations(range(n_planes), j)]


def lsh_multiprobe_topk(embeddings: DataFrame, query_vec_id: int,
                        k: int = 10, n_tables: int = 4,
                        n_planes: "int | str" = 8, dim: int = 64,
                        vec_col: str = "embedding",
                        id_col: str = "vec_id",
                        probe_radius: "int | str" = 1,
                        target_recall: float = 0.95,
                        at_cos: float = 0.9) -> DataFrame:
    """Multiprobe ANN (Lv et al., VLDB'07 shape): probe the query's bucket
    AND every Hamming-1 neighbor bucket (one sign bit flipped) in each
    table — n_tables*(n_planes+1) probes against an index only n_tables
    deep. A bucket one bit away holds the vectors the query barely missed
    on one hyperplane, so extra probes buy the recall extra TABLES would
    — at 1/(n_planes+1) of the index footprint, the storage lever that
    matters when the signature table is the persisted 100 TB index.

    Candidate set at equal (tables, planes) is a strict superset of
    ``lsh_ann_topk``'s, so exact-top-k overlap is provably monotone
    non-decreasing (pinned by the recall test). Index side is identical:
    the bucketed signature table; only the broadcast probe list grows —
    still an equi-join on (table, bucket), never a range scan.

    ``probe_radius`` generalizes the original 1-bit flips to Hamming
    <= r probing; ``probe_radius="auto"`` derives the radius from
    (``target_recall``, ``at_cos``) via ``auto_probe_radius`` — the
    round-7 lever, oracle-checked by ``lsh_multiprobe_auto_oracle_sql``
    whose scalar CTE derives the same radius. Candidates grow
    monotonically with the radius (mask-set inclusion), so recall is
    monotone too — asserted on the planted stress pairs."""
    if n_planes == "auto":  # resolve once; the probe flips need the depth
        n_planes = auto_n_planes(embeddings.count())
    if probe_radius == "auto":
        probe_radius = auto_probe_radius(n_tables, n_planes,
                                         target_recall, at_cos)
    masks = _probe_masks(n_planes, probe_radius)
    sig = hyperplane_signatures(embeddings, n_tables, n_planes, dim,
                                vec_col=vec_col, id_col=id_col)
    qb = (sig.filter(F.col(id_col) == query_vec_id)
          .select(F.col("table").alias("qtable"),
                  F.explode(F.array(
                      *[F.col("bucket").bitwiseXOR(F.lit(m))
                        for m in masks])).alias("qbucket"),
                  F.col("v").alias("qv")))
    cands = (
        sig.filter(F.col(id_col) != query_vec_id)
        .join(F.broadcast(qb), (F.col("table") == F.col("qtable"))
              & (F.col("bucket") == F.col("qbucket")))
        .select(id_col, "v", "qv")
        .dropDuplicates([id_col])
    )
    return (
        cands.select(
            F.col(id_col),
            F.round(_dot("v", "qv")
                    / (_norm("v") * _norm("qv")), 6)
            .alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k)
    )


def lsh_multiprobe_topk_oracle_sql(query_vec_id: int, k: int = 10,
                                   n_tables: int = 4, n_planes: int = 8,
                                   dim: int = 64) -> str:
    """DuckDB twin: the probe list is the query bucket unioned with its
    ``n_planes`` one-bit-flip neighbors (xor with each power of two)."""
    return f"""
WITH {_sigs_ctes(n_tables, n_planes, dim)},
qsig AS (SELECT tbl, bucket FROM sigs WHERE vec_id = {query_vec_id}),
probes AS (
  SELECT tbl, bucket FROM qsig
  UNION
  SELECT tbl, xor(bucket, (1::BIGINT << g.p)) AS bucket
  FROM qsig, generate_series(0, {n_planes - 1}) g(p)
),
cands AS (
  SELECT DISTINCT s.vec_id
  FROM sigs s JOIN probes q ON s.tbl = q.tbl AND s.bucket = q.bucket
  WHERE s.vec_id != {query_vec_id}
),
qv AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
       WHERE vec_id = {query_vec_id})
SELECT e.vec_id,
       round(list_cosine_similarity(e.embedding::DOUBLE[], qv.qv), 6)
       AS cos_sim
FROM cands JOIN embeddings e USING (vec_id), qv
ORDER BY cos_sim DESC, vec_id ASC
LIMIT {k}
"""


def lsh_multiprobe_auto_oracle_sql(query_vec_id: int, k: int = 10,
                                   n_tables: int = 4, n_planes: int = 8,
                                   dim: int = 64,
                                   target_recall: float = 0.95,
                                   at_cos: float = 0.9,
                                   max_radius: int = 3) -> str:
    """DuckDB twin of ``lsh_multiprobe_topk(probe_radius="auto")``.

    The radius is derived ONCE in Python (the engine's own
    ``auto_probe_radius``) and inlined as a literal — round-8 advisory:
    the previous in-SQL derivation (factorial-division doubles, a
    different summation order than ``math.comb``) could resolve a
    different radius when a recall target lands within a few ulps of a
    radius boundary. The ``radius_check`` CTE keeps the SQL derivation
    as an unreferenced cross-check a human can SELECT by hand; the query
    itself probes with the engine-identical literal."""
    r_lit = auto_probe_radius(n_tables, n_planes, target_recall, at_cos,
                              max_radius)
    return f"""
WITH {_sigs_ctes(n_tables, n_planes, dim)},
pp AS (SELECT 1.0 - acos({at_cos}) / pi() AS p),
ptab AS (
  SELECT r.r AS r,
         sum((factorial({n_planes}::INT)
              / (factorial(j.j::INT) * factorial(({n_planes} - j.j)::INT)))
             * power(pp.p, {n_planes} - j.j)
             * power(1.0 - pp.p, j.j)) AS pt
  FROM generate_series(0, {max_radius}) r(r)
  JOIN generate_series(0, {max_radius}) j(j) ON j.j <= r.r
  CROSS JOIN pp
  GROUP BY r.r
),
radius_check AS (
  SELECT coalesce(min(r), {max_radius}) AS r
  FROM ptab WHERE 1.0 - power(1.0 - pt, {n_tables}) >= {target_recall}
),
radius AS (
  SELECT {r_lit} AS r
),
masks AS (
  SELECT g.m AS m
  FROM generate_series(0, {2 ** n_planes - 1}) g(m), radius
  WHERE bit_count(g.m::BIGINT) <= radius.r
),
qsig AS (SELECT tbl, bucket FROM sigs WHERE vec_id = {query_vec_id}),
probes AS (
  SELECT DISTINCT q.tbl, xor(q.bucket, masks.m::BIGINT) AS bucket
  FROM qsig q, masks
),
cands AS (
  SELECT DISTINCT s.vec_id
  FROM sigs s JOIN probes q ON s.tbl = q.tbl AND s.bucket = q.bucket
  WHERE s.vec_id != {query_vec_id}
),
qv AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
       WHERE vec_id = {query_vec_id})
SELECT e.vec_id,
       round(list_cosine_similarity(e.embedding::DOUBLE[], qv.qv), 6)
       AS cos_sim
FROM cands JOIN embeddings e USING (vec_id), qv
ORDER BY cos_sim DESC, vec_id ASC
LIMIT {k}
"""


def lsh_hard_negatives(embeddings: DataFrame, k: int = 3,
                       n_tables: int = 16, n_planes: int = 8, dim: int = 64,
                       vec_col: str = "embedding", id_col: str = "vec_id",
                       label_col: str = "label") -> DataFrame:
    """Per anchor: the k most-similar vectors with a DIFFERENT label —
    hard-negative mining for contrastive/metric training, restricted to
    LSH-bucket candidates so it is never an all-pairs scan.

    Candidates share a (table, bucket) with the anchor in any table
    (narrow (id, table, bucket) rows through the equi-join, same contract
    as ``cosine_pairs_blocked``); labels broadcast back (2 ints/row),
    different-label filter, exact cosine verify, then one row_number
    window per anchor over (rounded score desc, id asc) — deterministic
    cross-engine. At scale the signature table is the persisted index and
    anchors stream against it; the window shuffle keys on the uniform
    anchor id."""
    from pyspark.sql import Window

    sig = hyperplane_signatures(embeddings, n_tables, n_planes, dim,
                                vec_col=vec_col, id_col=id_col)
    # materialize the narrow signature table once: both sides of the
    # bucket self-join (and nothing else) read it, and recomputing it
    # means running the Arrow matmul + corpus scan twice (at scale this
    # is the persisted index; locally localCheckpoint stands in for it)
    slim = stage(sig.select(F.col(id_col), "table", "bucket"))
    cands = (slim.alias("sa")
             .join(slim.alias("sb"), ["table", "bucket"])
             .filter(F.col(f"sa.{id_col}") != F.col(f"sb.{id_col}"))
             .select(F.col(f"sa.{id_col}").alias("anchor_id"),
                     F.col(f"sb.{id_col}").alias("neg_id"))
             .dropDuplicates(["anchor_id", "neg_id"]))
    lab = embeddings.select(F.col(id_col), F.col(label_col))
    la = lab.select(F.col(id_col).alias("anchor_id"),
                    F.col(label_col).alias("la"))
    lb = lab.select(F.col(id_col).alias("neg_id"),
                    F.col(label_col).alias("lb"))
    diff = (cands.join(F.broadcast(la), "anchor_id")
            .join(F.broadcast(lb), "neg_id")
            .filter(F.col("la") != F.col("lb"))
            .select("anchor_id", "neg_id"))
    emb = embeddings.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("v"))
    ea = emb.select(F.col(id_col).alias("anchor_id"), F.col("v").alias("va"))
    eb = emb.select(F.col(id_col).alias("neg_id"), F.col("v").alias("vb"))
    scored = (diff.join(ea, "anchor_id").join(eb, "neg_id")
              .select("anchor_id", "neg_id",
                      F.round(_dot("va", "vb")
                              / (_norm("va") * _norm("vb")),
                              6).alias("cos_sim")))
    w = Window.partitionBy("anchor_id").orderBy(F.desc("cos_sim"),
                                                F.asc("neg_id"))
    return (scored.withColumn("rnk", F.row_number().over(w).cast("int"))
            .filter(F.col("rnk") <= k)
            .select("anchor_id", "neg_id", "cos_sim", "rnk"))


def lsh_hard_negatives_oracle_sql(k: int = 3, n_tables: int = 16,
                                  n_planes: int = 8, dim: int = 64) -> str:
    return f"""
WITH {_sigs_ctes(n_tables, n_planes, dim)},
cand AS (
  SELECT DISTINCT a.vec_id AS anchor_id, b.vec_id AS neg_id
  FROM sigs a JOIN sigs b ON a.tbl = b.tbl AND a.bucket = b.bucket
  WHERE a.vec_id != b.vec_id
),
diff AS (
  SELECT anchor_id, neg_id
  FROM cand
  JOIN embeddings la ON cand.anchor_id = la.vec_id
  JOIN embeddings lb ON cand.neg_id = lb.vec_id
  WHERE la.label != lb.label
),
scored AS (
  SELECT anchor_id, neg_id,
         round(list_cosine_similarity(ea.embedding::DOUBLE[],
                                      eb.embedding::DOUBLE[]), 6) AS cos_sim
  FROM diff
  JOIN embeddings ea ON diff.anchor_id = ea.vec_id
  JOIN embeddings eb ON diff.neg_id = eb.vec_id
)
SELECT anchor_id, neg_id, cos_sim, rnk
FROM (SELECT *, CAST(row_number() OVER (PARTITION BY anchor_id
                     ORDER BY cos_sim DESC, neg_id) AS INT) AS rnk
      FROM scored)
WHERE rnk <= {k}
"""


def auto_n_centroids(n_rows: int, nprobe: int = 4,
                     lo: int = 16, hi: int = 65536) -> int:
    """Coarse-quantizer size that minimizes per-query IVF work at a given
    ``nprobe``: scoring the centroid table costs C comparisons and scanning
    the probed inverted lists costs ~nprobe * n / C, so the sum is
    minimized at C* = sqrt(nprobe * n) — the classic IVF sqrt rule, making
    per-query cost O(sqrt(n)) instead of O(n / const). Clamped to
    [lo, hi]: ``hi=65536`` bounds the broadcast centroid table to ~34 MB
    at dim 64 (beyond that the centroid scoring itself wants an index —
    a second IVF level, out of scope here). Recall at fixed nprobe is
    governed by the scanned fraction nprobe/C, so when C grows with the
    corpus, raise nprobe in step to hold a recall target.

    Like ``auto_n_planes``, off the registered-oracle surface: the DuckDB
    twins are static SQL. Engine callers opt in with
    ``n_centroids="auto"``."""
    import math
    if n_rows <= 0:
        return lo
    return max(lo, min(hi, math.ceil(math.sqrt(nprobe * n_rows))))


def ivf_portable_topk(embeddings: DataFrame, query_vec_id: int, k: int = 10,
                      n_centroids: "int | str" = 16, nprobe: int = 4,
                      vec_col: str = "embedding",
                      id_col: str = "vec_id") -> DataFrame:
    """IVF ANN with a *deterministic* coarse quantizer so a DuckDB oracle can
    replay it bit-for-bit: the centroids are simply the first ``n_centroids``
    corpus vectors by id (no k-means iterations — quantizer QUALITY is
    irrelevant to the contract being exercised, which is assign -> probe
    ``nprobe`` inverted lists -> exact re-rank inside them only).

    Everything is JVM expression code: the centroid table is a broadcast of
    ``n_centroids`` rows, assignment is a row_number over the cross-scored
    pairs (rounded score + id tie-break -> deterministic cross-engine), and
    the re-rank is the usual fold + TakeOrderedAndProject. At 100 TB the
    assigned table is written partitioned by ``cluster`` and a query scans
    nprobe/n_centroids of it — the persisted ``ivf_index`` family carries
    the trained-quantizer variant for recall quality.

    ``n_centroids="auto"`` sizes the quantizer by the sqrt rule
    (``auto_n_centroids``) — per-query cost O(sqrt(n)) as the corpus grows.
    """
    from pyspark.sql import Window

    if n_centroids == "auto":
        n_centroids = auto_n_centroids(embeddings.count(), nprobe)

    # zero-norm vectors have no cosine direction — their score is 0/0,
    # which engines disagree on (NULL vs NaN vs -1); exclude them outright
    # (mirrored in the oracle)
    emb = (embeddings.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("v"))
        .filter(_norm("v") > 0))
    # the n_centroids LOWEST-id nonzero vectors (round-10, ADVICE r9:
    # the old `id < n_centroids` predicate silently yielded few or zero
    # centroids on a corpus whose ids don't start near 0)
    cents = (emb.orderBy(id_col).limit(int(n_centroids))
             .select(F.col(id_col).alias("c_id"), F.col("v").alias("cv")))
    scored = (emb.join(F.broadcast(cents))
              .withColumn("c_sim",
                          F.round(_dot("v", "cv")
                                  / (_norm("v") * _norm("cv")),
                                  6)))
    w = Window.partitionBy(id_col).orderBy(F.desc("c_sim"), F.asc("c_id"))
    assigned = (scored.withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") == 1)
                .select(id_col, "v", F.col("c_id").alias("cluster"),
                        "c_sim"))
    q = (emb.filter(F.col(id_col) == query_vec_id)
         .select(F.col("v").alias("qv")))
    probe_set = (cents.join(F.broadcast(q))
                 .withColumn("q_sim",
                             F.round(_dot("qv", "cv")
                                     / (_norm("qv")
                                        * _norm("cv")), 6))
                 .orderBy(F.desc("q_sim"), F.asc("c_id")).limit(nprobe)
                 .select(F.col("c_id").alias("cluster")))
    return (assigned
            .join(F.broadcast(probe_set), "cluster")
            .filter(F.col(id_col) != query_vec_id)
            .join(F.broadcast(q))
            .select(F.col(id_col),
                    F.round(_dot("v", "qv")
                            / (_norm("v") * _norm("qv")), 6)
                    .alias("cos_sim"))
            .orderBy(F.desc("cos_sim"), F.asc(id_col))
            .limit(k))


def ivf_portable_topk_oracle_sql(query_vec_id: int, k: int = 10,
                                 n_centroids: int = 16,
                                 nprobe: int = 4) -> str:
    return f"""
WITH nz AS (
  SELECT vec_id, embedding FROM embeddings
  WHERE sqrt(list_aggregate(list_transform(embedding::DOUBLE[],
                                           x -> x * x), 'sum')) > 0
),
cents AS (
  SELECT vec_id AS c_id, embedding::DOUBLE[] AS cv FROM nz
  ORDER BY vec_id LIMIT {n_centroids}
),
assigned AS (
  SELECT vec_id, cluster FROM (
    SELECT e.vec_id, c.c_id AS cluster,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY round(list_cosine_similarity(e.embedding::DOUBLE[],
                                                   c.cv), 6) DESC,
                      c.c_id ASC) AS rn
    FROM nz e, cents c)
  WHERE rn = 1
),
qv AS (SELECT embedding::DOUBLE[] AS qv FROM nz
       WHERE vec_id = {query_vec_id}),
probes AS (
  SELECT c.c_id AS cluster
  FROM cents c, qv
  ORDER BY round(list_cosine_similarity(qv.qv, c.cv), 6) DESC, c.c_id ASC
  LIMIT {nprobe}
)
SELECT e.vec_id,
       round(list_cosine_similarity(e.embedding::DOUBLE[], qv.qv), 6)
       AS cos_sim
FROM assigned a
JOIN probes p ON a.cluster = p.cluster
JOIN nz e ON e.vec_id = a.vec_id
CROSS JOIN qv
WHERE e.vec_id != {query_vec_id}
ORDER BY cos_sim DESC, e.vec_id ASC
LIMIT {k}
"""


def ivf_portable_batch_topk_oracle_sql(query_vec_ids: "list[int]",
                                       k: int = 10, n_centroids: int = 16,
                                       nprobe: int = 4) -> str:
    """DuckDB twin of ``ivf_index.query_ivf_batch_topk`` over
    corpus-member query vectors: the single-query IVF oracle generalized
    to a set — per-query nprobe probe lists (same rounded-cosine + c_id
    ordering), exact re-rank inside the probed inverted lists only,
    ``row_number`` top-k per query id."""
    ids = ", ".join(str(int(q)) for q in query_vec_ids)
    return f"""
WITH nz AS (
  SELECT vec_id, embedding FROM embeddings
  WHERE sqrt(list_aggregate(list_transform(embedding::DOUBLE[],
                                           x -> x * x), 'sum')) > 0
),
cents AS (
  SELECT vec_id AS c_id, embedding::DOUBLE[] AS cv FROM nz
  ORDER BY vec_id LIMIT {n_centroids}
),
assigned AS (
  SELECT vec_id, cluster FROM (
    SELECT e.vec_id, c.c_id AS cluster,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY round(list_cosine_similarity(e.embedding::DOUBLE[],
                                                   c.cv), 6) DESC,
                      c.c_id ASC) AS rn
    FROM nz e, cents c)
  WHERE rn = 1
),
qs AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM nz
       WHERE vec_id IN ({ids})),
probes AS (
  SELECT query_id, cluster FROM (
    SELECT q.query_id, c.c_id AS cluster,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY round(list_cosine_similarity(q.qv, c.cv), 6) DESC,
                      c.c_id ASC) AS rn
    FROM qs q, cents c)
  WHERE rn <= {nprobe}
),
scored AS (
  SELECT p.query_id, a.vec_id,
         round(list_cosine_similarity(e.embedding::DOUBLE[], q.qv), 6)
         AS cos_sim
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


def quantized_topk(embeddings: DataFrame, query_vec_id: int, k: int = 10,
                   oversample: int = 4,
                   vec_col: str = "embedding",
                   id_col: str = "vec_id") -> DataFrame:
    """Two-stage ANN over an int8 scalar-quantized index: rank candidates by
    the cosine of per-vector-scaled int8 codes, then rescore the survivors at
    full precision — the standard memory lever for a 100 TB embedding store
    (4x smaller index than float32; the full-precision column is touched only
    for ``k * oversample`` rows per query).

    Quantization is per-vector symmetric max-abs: ``scale = max|v| / 127``,
    ``q_i = floor(v_i / scale + 0.5)`` (explicit half-up floor — identical
    semantics in Spark and DuckDB, unlike bankers'-rounding ``round``).
    Because cosine is scale-invariant the int codes rank WITHOUT
    dequantization: integer dot products <= 127^2 * dim are exact in doubles,
    so engine and oracle agree bit-for-bit before the final rounding.

    At cluster scale the quantized (id, int8[dim]) table is the persisted
    index — a broadcast of one query vector + TakeOrderedAndProject, no
    shuffle; rescoring is a semi-join of the candidate ids back to the
    full-precision table.
    """
    emb = embeddings.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("v"))
    maxabs = F.aggregate("v", F.lit(0.0),
                         lambda acc, x: F.greatest(acc, F.abs(x)))
    scale = (F.greatest(maxabs, F.lit(1e-30)) / F.lit(127.0)).alias("scale")
    quant = emb.select(
        F.col(id_col), "v", scale).select(
        F.col(id_col), "v",
        F.transform("v", lambda x: F.floor(x / F.col("scale") + F.lit(0.5))
                    .cast("double")).alias("qv"))
    q = (quant.filter(F.col(id_col) == query_vec_id)
         .select(F.col("qv").alias("qqv"), F.col("v").alias("qfull")))
    cand = (quant.filter(F.col(id_col) != query_vec_id)
            .join(F.broadcast(q))
            .select(F.col(id_col), "v", "qfull",
                    F.round(_dot("qv", "qqv")
                            / (_norm("qv") * _norm("qqv")), 6)
                    .alias("qcos"))
            .orderBy(F.desc("qcos"), F.asc(id_col))
            .limit(k * oversample))
    return (cand.select(
        F.col(id_col),
        F.round(_dot("v", "qfull")
                / (_norm("v") * _norm("qfull")), 6)
        .alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k))


def quantized_topk_oracle_sql(query_vec_id: int, k: int = 10,
                              oversample: int = 4) -> str:
    return f"""
WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
sc AS (
  SELECT vec_id, v,
         greatest(list_max(list_transform(v, x -> abs(x))), 1e-30) / 127.0
         AS scale
  FROM emb
),
qz AS (
  SELECT vec_id, v,
         list_transform(v, x -> floor(x / scale + 0.5)) AS qv
  FROM sc
),
q AS (SELECT qv AS qqv, v AS qfull FROM qz WHERE vec_id = {query_vec_id}),
cand AS (
  SELECT qz.vec_id, qz.v, q.qfull,
         round(list_cosine_similarity(qz.qv, q.qqv), 6) AS qcos
  FROM qz, q
  WHERE qz.vec_id != {query_vec_id}
  ORDER BY qcos DESC, qz.vec_id ASC
  LIMIT {k * oversample}
)
SELECT vec_id,
       round(list_cosine_similarity(v, qfull), 6) AS cos_sim
FROM cand
ORDER BY cos_sim DESC, vec_id ASC
LIMIT {k}
"""


def matryoshka_topk(embeddings: DataFrame, query_vec_id: int, k: int = 10,
                    prefix_dim: int = 16, oversample: int = 4,
                    vec_col: str = "embedding",
                    id_col: str = "vec_id") -> DataFrame:
    """Two-stage retrieval over prefix dimensions (Matryoshka-style): rank
    candidates by cosine over the FIRST ``prefix_dim`` components, rescore
    the ``k * oversample`` survivors over the full vector.

    With MRL-trained embeddings the information-dense prefix preserves
    neighborhood ordering, so stage 1 reads a 4x-narrower column (a separate
    physical column at scale — column pruning keeps the full vector out of
    the scan) and stage 2 touches full vectors for a bounded candidate set.
    Same broadcast + TakeOrderedAndProject shape as ``cosine_topk`` — no
    shuffle at any scale.
    """
    emb = embeddings.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("v"))
    pre = emb.select(F.col(id_col), "v",
                     F.slice("v", 1, prefix_dim).alias("pv"))
    q = (pre.filter(F.col(id_col) == query_vec_id)
         .select(F.col("pv").alias("qpv"), F.col("v").alias("qfull")))
    cand = (pre.filter(F.col(id_col) != query_vec_id)
            .join(F.broadcast(q))
            .select(F.col(id_col), "v", "qfull",
                    F.round(_dot("pv", "qpv")
                            / (_norm("pv") * _norm("qpv")), 6)
                    .alias("pcos"))
            .orderBy(F.desc("pcos"), F.asc(id_col))
            .limit(k * oversample))
    return (cand.select(
        F.col(id_col),
        F.round(_dot("v", "qfull")
                / (_norm("v") * _norm("qfull")), 6)
        .alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k))


def matryoshka_topk_oracle_sql(query_vec_id: int, k: int = 10,
                               prefix_dim: int = 16,
                               oversample: int = 4) -> str:
    return f"""
WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
pre AS (SELECT vec_id, v, v[1:{prefix_dim}] AS pv FROM emb),
q AS (SELECT pv AS qpv, v AS qfull FROM pre WHERE vec_id = {query_vec_id}),
cand AS (
  SELECT pre.vec_id, pre.v, q.qfull,
         round(list_cosine_similarity(pre.pv, q.qpv), 6) AS pcos
  FROM pre, q
  WHERE pre.vec_id != {query_vec_id}
  ORDER BY pcos DESC, pre.vec_id ASC
  LIMIT {k * oversample}
)
SELECT vec_id,
       round(list_cosine_similarity(v, qfull), 6) AS cos_sim
FROM cand
ORDER BY cos_sim DESC, vec_id ASC
LIMIT {k}
"""


def _bucket_scored_pairs(embeddings: DataFrame, n_tables: int,
                         n_planes: "int | str", dim: int, vec_col: str,
                         id_col: str) -> DataFrame:
    """All LSH-bucket candidate pairs with exact rounded cosine —
    (anchor_id, nbr_id, cos_sim), both directions, deduplicated. The
    narrow (id, table, bucket) signature table is staged once: both sides
    of the bucket self-join (and nothing else) read it, and recomputing
    it means running the Arrow matmul + corpus scan twice (at scale this
    is the persisted index; locally localCheckpoint stands in for it)."""
    sig = hyperplane_signatures(embeddings, n_tables, n_planes, dim,
                                vec_col=vec_col, id_col=id_col)
    slim = stage(sig.select(F.col(id_col), "table", "bucket"))
    cands = (slim.alias("sa")
             .join(slim.alias("sb"), ["table", "bucket"])
             .filter(F.col(f"sa.{id_col}") != F.col(f"sb.{id_col}"))
             .select(F.col(f"sa.{id_col}").alias("anchor_id"),
                     F.col(f"sb.{id_col}").alias("nbr_id"))
             .dropDuplicates(["anchor_id", "nbr_id"]))
    emb = embeddings.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("v"))
    ea = emb.select(F.col(id_col).alias("anchor_id"), F.col("v").alias("va"))
    eb = emb.select(F.col(id_col).alias("nbr_id"), F.col("v").alias("vb"))
    return (cands.join(ea, "anchor_id").join(eb, "nbr_id")
            .select("anchor_id", "nbr_id",
                    F.round(_dot("va", "vb")
                            / (_norm("va") * _norm("vb")),
                            6).alias("cos_sim")))


def knn_graph(embeddings: DataFrame, k: int = 3,
              n_tables: int = 16, n_planes: "int | str" = 8, dim: int = 64,
              vec_col: str = "embedding",
              id_col: str = "vec_id",
              precollapse: bool = True) -> DataFrame:
    """Approximate k-nearest-neighbor GRAPH: for every vector, its top-k
    most-cosine-similar LSH-bucket candidates — the substrate for graph
    clustering, label propagation, and near-dup verification at corpus
    scale. Identical machinery to ``lsh_hard_negatives`` minus the label
    filter: narrow (id, table, bucket) candidate join, exact cosine verify
    on the bounded candidate set, one row_number window per anchor
    (rounded score desc, id asc — deterministic cross-engine).

    At 100 TB the signature table is the persisted index
    (`test_persisted_ann_index_probes_without_index_shuffle` proves that
    layout) and the window shuffles on the uniform anchor id. Pass
    ``n_planes="auto"`` to hold bucket occupancy — and therefore the
    candidate volume per vector — constant as the corpus grows (the
    fixed-depth occupancy^2 term SCALE.md measures at 10x).

    EXACT-DUPLICATE PRE-COLLAPSE (``precollapse=True``, output-invariant
    — pinned row-identical by ``test_knn_graph_precollapse_invariant``):
    byte-identical finite non-zero vectors form an LSH clique whose
    occupancy^2 candidate volume dominates real corpora (exact-duplicate
    documents embed identically). They share one candidate set and one
    score function, so the graph is computed per min-id REPRESENTATIVE
    and fanned out:

    - rep-level pairs score once; the neighbor side expands to members
      and a per-rep top-k is shared by every member of the anchor group
      (identical vectors see identical buckets, hence identical outside
      candidates and scores);
    - in-group edges are exactly round(cos(u,u), 6) = 1.0 (the unrounded
      quotient sits within ulps of 1, rounding absorbs it), and only the
      k smallest co-member ids per anchor can reach the final top-k under
      the (score desc, id asc) order, so the group contributes k+1 head
      ids — |group|*k edges instead of |group|^2;
    - the final per-anchor window merges the two capped lists; each list
      preserves its own top-k under the same total order, so the merged
      top-k (and the rnk positions) equal the un-collapsed ranking
      exactly.

    Degenerate vectors (zero norm, non-finite) bypass the collapse as
    their own representatives: their cosine is NULL/NaN under the float
    path in BOTH engines, never the literal 1.0.

    The collapse is ADAPTIVE: one narrow pre-job (group the hash keys,
    any count >= 2?) decides at plan-build time whether duplicate groups
    exist at all. A duplicate-free corpus takes the original 2-shuffle
    plan untouched — the rep machinery (~10 extra narrow shuffles) is
    only worth paying when there is mass for it to collapse. The probe
    costs one aggregation over (id, 64-char hash) rows — the same
    count()-shaped plan-time job ``n_planes="auto"`` already runs.

    ``n_planes="auto"`` resolves ONCE from the FULL corpus count, before
    the collapse branch (round-7 advisory): resolving inside
    ``_bucket_scored_pairs`` would size the plane family from
    ``reps.count()`` on the collapsed branch and ``embeddings.count()``
    on the other, so a duplicate-heavy corpus would build
    different-depth LSH families per branch and break the documented
    output invariance. The full count is also the conservative choice —
    deeper-or-equal planes, fewer candidates — and the invariance is
    pinned by ``test_knn_graph_precollapse_invariant_auto_depth``."""
    from pyspark.sql import Window

    if n_planes == "auto":
        n_planes = auto_n_planes(embeddings.count())
    emb = embeddings.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("v"))
    # collapsible = finite positive norm (NaN fails n < inf in Spark's
    # NaN-greatest ordering); everything else is its own representative
    n = _norm("v")
    keyed = (emb.filter((n > 0) & (n < F.lit(float("inf"))))
             .select(F.col(id_col),
                     F.sha2(F.to_json(F.struct("v")), 256).alias("vkey")))
    if precollapse:
        precollapse = not (keyed.groupBy("vkey").count()
                           .filter(F.col("count") >= 2).isEmpty())
    if not precollapse:
        scored = _bucket_scored_pairs(embeddings, n_tables, n_planes, dim,
                                      vec_col, id_col)
        w = Window.partitionBy("anchor_id").orderBy(F.desc("cos_sim"),
                                                    F.asc("nbr_id"))
        return (scored.withColumn("rnk", F.row_number().over(w).cast("int"))
                .filter(F.col("rnk") <= k)
                .select("anchor_id", "nbr_id", "cos_sim", "rnk"))

    rep_map = stage(
        emb.select(F.col(id_col))
        .join(keyed.select(
            F.col(id_col),
            F.min(id_col).over(Window.partitionBy("vkey")).alias("rep")),
            id_col, "left")
        .select(F.col(id_col), F.coalesce("rep", F.col(id_col))
                .alias("rep_id")))
    reps = embeddings.join(
        rep_map.filter(F.col(id_col) == F.col("rep_id")).select(id_col),
        id_col)
    scored_rep = (_bucket_scored_pairs(reps, n_tables, n_planes, dim,
                                       vec_col, id_col)
                  .withColumnRenamed("anchor_id", "anchor_rep")
                  .withColumnRenamed("nbr_id", "nbr_rep"))
    # fan the NEIGHBOR side to members, rank once per anchor group
    exp = (scored_rep
           .join(rep_map.select(F.col("rep_id").alias("nbr_rep"),
                                F.col(id_col).alias("nbr_id")), "nbr_rep")
           .select("anchor_rep", "nbr_id", "cos_sim"))
    w_rep = Window.partitionBy("anchor_rep").orderBy(F.desc("cos_sim"),
                                                     F.asc("nbr_id"))
    rep_topk = (exp.withColumn("rn", F.row_number().over(w_rep))
                .filter(F.col("rn") <= k).drop("rn"))
    outside = (rep_topk
               .join(rep_map.select(F.col("rep_id").alias("anchor_rep"),
                                    F.col(id_col).alias("anchor_id")),
                     "anchor_rep")
               .select("anchor_id", "nbr_id", "cos_sim"))
    # in-group edges: per member, the k smallest OTHER member ids at the
    # exact rounded score 1.0 (k+1 head ids cover every member's k)
    grp_w = Window.partitionBy("rep_id").orderBy(F.asc(id_col))
    heads = (rep_map.withColumn("rn", F.row_number().over(grp_w))
             .filter(F.col("rn") <= k + 1)
             .groupBy("rep_id")
             .agg(F.sort_array(F.collect_list(F.col(id_col)))
                  .alias("head_ids")))
    me = F.col(id_col)
    ingroup = (rep_map.join(heads, "rep_id")
               .select(F.col(id_col).alias("anchor_id"),
                       F.explode(F.slice(
                           F.filter("head_ids", lambda x: x != me),
                           1, k)).alias("nbr_id"))
               .withColumn("cos_sim", F.lit(1.0)))
    edges = outside.unionByName(ingroup)
    w = Window.partitionBy("anchor_id").orderBy(F.desc("cos_sim"),
                                                F.asc("nbr_id"))
    return (edges.withColumn("rnk", F.row_number().over(w).cast("int"))
            .filter(F.col("rnk") <= k)
            .select("anchor_id", "nbr_id", "cos_sim", "rnk"))


def knn_graph_oracle_sql(k: int = 3, n_tables: int = 16,
                         n_planes: int = 8, dim: int = 64) -> str:
    return f"""
WITH {_sigs_ctes(n_tables, n_planes, dim)},
cand AS (
  SELECT DISTINCT a.vec_id AS anchor_id, b.vec_id AS nbr_id
  FROM sigs a JOIN sigs b ON a.tbl = b.tbl AND a.bucket = b.bucket
  WHERE a.vec_id != b.vec_id
),
scored AS (
  SELECT anchor_id, nbr_id,
         round(list_cosine_similarity(ea.embedding::DOUBLE[],
                                      eb.embedding::DOUBLE[]), 6) AS cos_sim
  FROM cand
  JOIN embeddings ea ON cand.anchor_id = ea.vec_id
  JOIN embeddings eb ON cand.nbr_id = eb.vec_id
)
SELECT anchor_id, nbr_id, cos_sim, CAST(rnk AS INT) AS rnk
FROM (SELECT *, row_number() OVER (PARTITION BY anchor_id
                                   ORDER BY cos_sim DESC, nbr_id ASC) AS rnk
      FROM scored)
WHERE rnk <= {k}
"""


def label_propagation(embeddings: DataFrame, k: int = 3, iters: int = 2,
                      seed_mod: int = 5,
                      n_tables: int = 16, n_planes: int = 8, dim: int = 64,
                      vec_col: str = "embedding",
                      id_col: str = "vec_id",
                      label_col: str = "label") -> DataFrame:
    """Semi-supervised label spreading over the approximate kNN graph:
    vectors with ``vec_id % seed_mod == 0`` keep their label (clamped
    seeds); every other vector takes the majority label of its kNN
    neighbors, iterated ``iters`` rounds — the standard recipe for
    expanding a small labeled set across a large embedding corpus before
    training (Zhu & Ghahramani label propagation, majority-vote variant).

    Determinism: votes are integer counts; ties break by smallest label,
    so both engines agree without float comparisons. The graph comes from
    ``knn_graph`` (already exactly reproduced by the oracle's CTEs).

    Scale: each round is one shuffle keyed on the uniform vec_id (vote
    groupBy) plus co-partitioned joins back to the vertex set; the edge
    list is the persisted kNN index. For many rounds, checkpoint the label
    frame per iteration to truncate lineage (the ``dup_clusters``
    pattern, dedup.py)."""
    if iters < 1:
        raise ValueError("iters must be >= 1")
    from pyspark.sql import Window

    # the edge list is read every round — materialize it once (at scale:
    # the persisted kNN index table)
    edges = stage(knn_graph(embeddings, k, n_tables, n_planes, dim,
                            vec_col=vec_col, id_col=id_col)
                  .select("anchor_id", "nbr_id"))
    verts = embeddings.select(F.col(id_col).alias("vec_id"))
    lab0 = embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.when(F.col(id_col) % seed_mod == 0, F.col(label_col))
         .cast("int").alias("label"))
    seeds = (lab0.filter(F.col("label").isNotNull())
             .withColumnRenamed("label", "seed_label"))
    # the seed-clamped vertex frame is loop-invariant — build it once
    # instead of re-joining verts with seeds inside every round
    clamped = stage(verts.join(seeds, "vec_id", "left"))
    lab = lab0
    for _ in range(iters):
        votes = (edges
                 .join(lab.select(F.col("vec_id").alias("nbr_id"),
                                  F.col("label").alias("nl")), "nbr_id")
                 .filter(F.col("nl").isNotNull())
                 .groupBy(F.col("anchor_id").alias("vec_id"),
                          F.col("nl").alias("maj_label"))
                 .agg(F.count("*").alias("cnt")))
        w = Window.partitionBy("vec_id").orderBy(F.desc("cnt"),
                                                 F.asc("maj_label"))
        maj = (votes.withColumn("rn", F.row_number().over(w))
               .filter(F.col("rn") == 1)
               .select("vec_id", "maj_label"))
        lab = (clamped
               .join(maj, "vec_id", "left")
               .select("vec_id",
                       F.coalesce(F.col("seed_label"), F.col("maj_label"))
                        .cast("int").alias("label")))
    return (lab
            .join(seeds, "vec_id", "left")
            .select("vec_id", "label",
                    F.when(F.col("seed_label").isNotNull(), F.lit("seed"))
                     .when(F.col("label").isNotNull(), F.lit("prop"))
                     .otherwise(F.lit("none")).alias("origin")))


def label_propagation_oracle_sql(k: int = 3, iters: int = 2,
                                 seed_mod: int = 5, n_tables: int = 16,
                                 n_planes: int = 8, dim: int = 64) -> str:
    """Chained-CTE twin: lab0 = clamped seeds, then per round a vote CTE
    (neighbor label counts over the kNN edges) and a majority CTE
    (row_number over cnt desc, label asc)."""
    if iters < 1:
        raise ValueError("iters must be >= 1")
    rounds = []
    for t in range(1, iters + 1):
        rounds.append(f"""
vote{t} AS (
  SELECT e.anchor_id AS vec_id, l.label AS maj_label, count(*) AS cnt
  FROM edges e JOIN lab{t - 1} l ON e.nbr_id = l.vec_id
  WHERE l.label IS NOT NULL
  GROUP BY 1, 2
),
maj{t} AS (
  SELECT vec_id, maj_label
  FROM (SELECT vec_id, maj_label,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY cnt DESC, maj_label ASC) AS rn
        FROM vote{t})
  WHERE rn = 1
),
lab{t} AS (
  SELECT v.vec_id,
         CAST(coalesce(s.seed_label, m.maj_label) AS INT) AS label
  FROM verts v
  LEFT JOIN seeds s ON v.vec_id = s.vec_id
  LEFT JOIN maj{t} m ON v.vec_id = m.vec_id
)""")
    return f"""
WITH {_sigs_ctes(n_tables, n_planes, dim)},
cand AS (
  SELECT DISTINCT a.vec_id AS anchor_id, b.vec_id AS nbr_id
  FROM sigs a JOIN sigs b ON a.tbl = b.tbl AND a.bucket = b.bucket
  WHERE a.vec_id != b.vec_id
),
scored AS (
  SELECT anchor_id, nbr_id,
         round(list_cosine_similarity(ea.embedding::DOUBLE[],
                                      eb.embedding::DOUBLE[]), 6) AS cos_sim
  FROM cand
  JOIN embeddings ea ON cand.anchor_id = ea.vec_id
  JOIN embeddings eb ON cand.nbr_id = eb.vec_id
),
edges AS (
  SELECT anchor_id, nbr_id
  FROM (SELECT anchor_id, nbr_id,
               row_number() OVER (PARTITION BY anchor_id
                                  ORDER BY cos_sim DESC, nbr_id ASC) AS rnk
        FROM scored)
  WHERE rnk <= {k}
),
verts AS (SELECT vec_id FROM embeddings),
lab0 AS (
  SELECT vec_id,
         CAST(CASE WHEN vec_id % {seed_mod} = 0 THEN label END AS INT)
           AS label
  FROM embeddings
),
seeds AS (SELECT vec_id, label AS seed_label FROM lab0
          WHERE label IS NOT NULL),{','.join(rounds)}
SELECT l.vec_id, l.label,
       CASE WHEN s.seed_label IS NOT NULL THEN 'seed'
            WHEN l.label IS NOT NULL THEN 'prop'
            ELSE 'none' END AS origin
FROM lab{iters} l LEFT JOIN seeds s ON l.vec_id = s.vec_id
"""


def pagerank_knn(embeddings: DataFrame, k: int = 3, iters: int = 3,
                 n_tables: int = 16, n_planes: int = 8, dim: int = 64,
                 vec_col: str = "embedding",
                 id_col: str = "vec_id") -> DataFrame:
    """PageRank centrality over the approximate kNN graph — "which
    documents sit at the center of their similarity neighborhood" (the
    representativeness signal curation pipelines use to pick canonical
    docs and down-weight isolated outliers).

    EXACT cross-engine determinism via integer micro-units: ranks live as
    BIGINT millionths, every per-edge contribution is an integer division
    (``rank DIV outdeg``), and the damping step is ``(85 * s) DIV 100`` —
    no float sums anywhere, so partial-aggregation order cannot flip a
    bit. Dangling vertices (no out-edges) simply leak their mass, the
    standard simplification; isolated vertices hold the teleport floor.

    Scale: each round is one shuffle keyed on the destination vertex (the
    contribution groupBy) plus a co-partitioned join back to the vertex
    set; the edge list is the persisted kNN index, reused every round.
    For deep iteration counts, checkpoint per round to truncate lineage
    (``dup_clusters`` pattern, dedup.py)."""
    if iters < 1:
        raise ValueError("iters must be >= 1")
    # the edge list is read every round — materialize it once (at scale:
    # the persisted kNN index table)
    edges = stage(knn_graph(embeddings, k, n_tables, n_planes, dim,
                            vec_col=vec_col, id_col=id_col)
                  .select(F.col("anchor_id").alias("src"),
                          F.col("nbr_id").alias("dst")))
    verts = embeddings.select(F.col(id_col).alias("vec_id"))
    return pagerank_iterations(verts, edges, iters)


def pagerank_iterations(verts: DataFrame, edges: DataFrame,
                        iters: int) -> DataFrame:
    """The iteration core of ``pagerank_knn`` over an explicit
    (src, dst) edge list — also the unit-testable surface for
    known-answer graphs."""
    # outdegree is per-edge loop-invariant — attach it to the edge list
    # once instead of re-joining inside every round
    outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    edges_deg = stage(edges.join(outdeg, "src"))
    rank = verts.select("vec_id", F.lit(1_000_000).cast("long")
                        .alias("rank_micro"))
    for _ in range(iters):
        contrib = (edges_deg
                   .join(rank.select(F.col("vec_id").alias("src"),
                                     "rank_micro"), "src")
                   .groupBy(F.col("dst").alias("vec_id"))
                   .agg(F.sum(F.expr("rank_micro DIV outdeg"))
                        .alias("s")))
        rank = (verts.join(contrib, "vec_id", "left")
                .select("vec_id",
                        (F.lit(150_000)
                         + F.expr("85 * coalesce(s, 0) DIV 100"))
                        .cast("long").alias("rank_micro")))
    return rank.select(
        "vec_id", "rank_micro",
        F.round(F.col("rank_micro") / F.lit(1e6), 6).alias("rank"))


def pagerank_knn_oracle_sql(k: int = 3, iters: int = 3, n_tables: int = 16,
                            n_planes: int = 8, dim: int = 64) -> str:
    """Chained-CTE twin: same integer micro-unit arithmetic (DuckDB's
    ``//`` floors like Spark's ``DIV`` truncates — identical on the
    non-negative ranks involved)."""
    if iters < 1:
        raise ValueError("iters must be >= 1")
    rounds = []
    for t in range(1, iters + 1):
        rounds.append(f"""
contrib{t} AS (
  SELECT e.dst AS vec_id, sum(r.rank_micro // o.outdeg) AS s
  FROM edges e
  JOIN outdeg o ON e.src = o.src
  JOIN rank{t - 1} r ON e.src = r.vec_id
  GROUP BY e.dst
),
rank{t} AS (
  SELECT v.vec_id,
         CAST(150000 + 85 * coalesce(c.s, 0) // 100 AS BIGINT)
           AS rank_micro
  FROM verts v LEFT JOIN contrib{t} c ON v.vec_id = c.vec_id
)""")
    return f"""
WITH {_sigs_ctes(n_tables, n_planes, dim)},
cand AS (
  SELECT DISTINCT a.vec_id AS anchor_id, b.vec_id AS nbr_id
  FROM sigs a JOIN sigs b ON a.tbl = b.tbl AND a.bucket = b.bucket
  WHERE a.vec_id != b.vec_id
),
scored AS (
  SELECT anchor_id, nbr_id,
         round(list_cosine_similarity(ea.embedding::DOUBLE[],
                                      eb.embedding::DOUBLE[]), 6) AS cos_sim
  FROM cand
  JOIN embeddings ea ON cand.anchor_id = ea.vec_id
  JOIN embeddings eb ON cand.nbr_id = eb.vec_id
),
edges AS (
  SELECT anchor_id AS src, nbr_id AS dst
  FROM (SELECT anchor_id, nbr_id,
               row_number() OVER (PARTITION BY anchor_id
                                  ORDER BY cos_sim DESC, nbr_id ASC) AS rnk
        FROM scored)
  WHERE rnk <= {k}
),
outdeg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
verts AS (SELECT vec_id FROM embeddings),
rank0 AS (SELECT vec_id, CAST(1000000 AS BIGINT) AS rank_micro
          FROM verts),{','.join(rounds)}
SELECT vec_id, rank_micro, round(rank_micro / 1000000.0, 6) AS rank
FROM rank{iters}
"""


def semantic_keep_best(docs: DataFrame, embeddings: DataFrame,
                       threshold: float = 0.95, n_tables: int = 16,
                       n_planes: int = 10, dim: int = 64) -> DataFrame:
    """Joint text+vector curation: semantic clusters from the embedding
    side (``semantic_dedup``), keeper from the TEXT side — per cluster the
    highest-``quality_score`` document survives (doc-id tie-break), not
    merely the min id. Documents without an embedding pass through as
    singletons. This is the cross-modal composition a curation run wants:
    SemDeDup decides *what is the same*, the quality heuristic decides
    *which copy to keep*.

    Scale shape: inherits the LSH-blocked pair generation and iterative
    components from ``semantic_dedup``; the quality score is a pure
    projection at scan speed; the keeper pick is one window shuffle on the
    cluster id. NULL quality (empty docs) sorts last identically in both
    engines (explicit NULLS LAST)."""
    from pyspark.sql import Window

    from insight_de_smart_grid_spark.operators.text import quality_score

    clusters = semantic_dedup(embeddings, threshold, n_tables, n_planes,
                              dim).select(F.col("vec_id").alias("doc_id"),
                                          "cluster_id")
    scored = docs.select("doc_id", quality_score("text").alias("quality"))
    joined = (scored.join(clusters, "doc_id", "left")
              .withColumn("cluster_id",
                          F.coalesce(F.col("cluster_id"), F.col("doc_id"))))
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc_nulls_last("quality"), F.asc("doc_id"))
    return (joined
            .withColumn("keep", F.row_number().over(w) == 1)
            .select("doc_id", "cluster_id", "quality", "keep"))


def semantic_keep_best_oracle_sql(threshold: float = 0.95,
                                  n_tables: int = 16, n_planes: int = 10,
                                  dim: int = 64) -> str:
    from insight_de_smart_grid_spark.operators.text import QUALITY_SQL

    return f"""
WITH RECURSIVE {_sigs_ctes(n_tables, n_planes, dim)},
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM sigs a JOIN sigs b ON a.tbl = b.tbl AND a.bucket = b.bucket
  WHERE a.vec_id < b.vec_id
),
jp AS (
  SELECT vec_a, vec_b
  FROM cand
  JOIN embeddings ea ON cand.vec_a = ea.vec_id
  JOIN embeddings eb ON cand.vec_b = eb.vec_id
  WHERE list_cosine_similarity(ea.embedding::DOUBLE[],
                               eb.embedding::DOUBLE[]) >= {threshold}
),
edges AS (
  SELECT vec_a AS src, vec_b AS dst FROM jp
  UNION
  SELECT vec_b AS src, vec_a AS dst FROM jp
),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
comp AS (
  SELECT src AS vec_id, least(src, min(dst)) AS cluster_id
  FROM reach GROUP BY src
),
q AS ({QUALITY_SQL}),
joined AS (
  SELECT d.doc_id,
         coalesce(c.cluster_id, d.doc_id) AS cluster_id,
         q.quality
  FROM documents d
  JOIN q USING (doc_id)
  LEFT JOIN comp c ON d.doc_id = c.vec_id
)
SELECT doc_id, cluster_id, quality,
       row_number() OVER (PARTITION BY cluster_id
                          ORDER BY quality DESC NULLS LAST, doc_id ASC) = 1
         AS keep
FROM joined
"""


def kmeans_portable(embeddings: DataFrame, k: int = 4, iters: int = 2,
                    dim: int = 64, vec_col: str = "embedding",
                    id_col: str = "vec_id") -> DataFrame:
    """Fully DISTRIBUTED Lloyd k-means — no driver-side training sample
    (contrast ``ivf_index.train_kmeans_centroids``, which fits on a
    bounded driver sample).
    Deterministic and bit-exact cross-engine by construction:

    - vectors quantize to BIGINT micro-units (round(x*1e6)) once;
    - distances use the integer dot-product identity
      ||x-c||^2 = x.x - 2 x.c + c.c, whose terms stay far below 2^53 so
      even a double-accumulating engine computes them exactly;
    - assignment ties break on the smaller centroid id;
    - centroid updates are per-dimension integer means (SUM DIV COUNT);
    - init = the k vectors with the smallest ids (deterministic seeding).

    Scale shape per round: one broadcast of k micro-vectors for the
    assignment projection, one explode + groupBy (cluster, dim) shuffle for
    the update — the canonical Spark k-means dataflow, with zero float
    summation anywhere.

    ``iters`` must be >= 1 (the result IS the last round's assignment).
    """
    if iters < 1:
        raise ValueError("iters must be >= 1")
    micro = embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.transform(F.col(vec_col).cast("array<double>"),
                    lambda x: F.round(x * F.lit(1e6), 0).cast("long"))
        .alias("v"))
    # deterministic centroid ids: rank of the seed vector's vec_id
    from pyspark.sql import Window

    cent = (micro.orderBy("vec_id").limit(k)
            .select("vec_id", F.col("v").alias("c")))
    cent = (cent.withColumn(
        "centroid_id",
        (F.row_number().over(Window.orderBy("vec_id")) - 1).cast("int"))
        .select("centroid_id", "c"))

    def dist(vcol, ccol):
        dot = lambda a, b: F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0).cast("long"), lambda acc, x: acc + x)
        return dot(vcol, vcol) - F.lit(2) * dot(vcol, ccol) + dot(ccol, ccol)

    assigned = None
    for _ in range(iters):
        scored = (micro.join(F.broadcast(cent))
                  .select("vec_id", "v", "centroid_id",
                          dist(F.col("v"), F.col("c")).alias("d2")))
        w = Window.partitionBy("vec_id").orderBy("d2", "centroid_id")
        assigned = (scored.withColumn("rn", F.row_number().over(w))
                    .filter(F.col("rn") == 1)
                    .select("vec_id", "v",
                            F.col("centroid_id").alias("cluster")))
        upd = (assigned
               .select("cluster", F.posexplode("v").alias("dim_i", "x"))
               .groupBy("cluster", "dim_i")
               .agg(F.expr("sum(x) DIV count(1)").alias("m")))
        cent = (upd.groupBy("cluster")
                .agg(F.transform(
                    F.array_sort(F.collect_list(F.struct("dim_i", "m"))),
                    lambda s: s.getField("m")).alias("c"))
                .select(F.col("cluster").alias("centroid_id"), "c"))
    return assigned.select("vec_id", "cluster")


def kmeans_portable_oracle_sql(k: int = 4, iters: int = 2,
                               dim: int = 64) -> str:
    """Chained-CTE Lloyd rounds over the same BIGINT micro-units; distances
    via the dot-product identity with terms < 2^53 (exact in DuckDB's
    double list_dot_product)."""
    if iters < 1:
        raise ValueError("iters must be >= 1")
    rounds = []
    prev = "cent0"
    for t in range(1, iters + 1):
        rounds.append(f"""
scored{t} AS (
  SELECT m.vec_id, m.v, c.centroid_id,
         list_dot_product(m.v::DOUBLE[], m.v::DOUBLE[])
         - 2 * list_dot_product(m.v::DOUBLE[], c.c::DOUBLE[])
         + list_dot_product(c.c::DOUBLE[], c.c::DOUBLE[]) AS d2
  FROM micro m, {prev} c
),
assigned{t} AS (
  SELECT vec_id, v, centroid_id AS cluster
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY d2, centroid_id) AS rn
        FROM scored{t})
  WHERE rn = 1
),
upd{t} AS (
  SELECT cluster, g.i AS dim_i,
         sum(v[g.i + 1]) // count(*) AS m
  FROM assigned{t}, generate_series(0, {dim} - 1) g(i)
  GROUP BY cluster, g.i
),
cent{t} AS (
  SELECT cluster AS centroid_id,
         list(m ORDER BY dim_i) AS c
  FROM upd{t} GROUP BY cluster
)""")
        prev = f"cent{t}"
    return f"""
WITH micro AS (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[],
                        x -> CAST(round(x * 1e6) AS BIGINT)) AS v
  FROM embeddings
),
cent0 AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT)
           AS centroid_id, v AS c
  FROM (SELECT vec_id, v FROM micro ORDER BY vec_id LIMIT {k})
),{','.join(rounds)}
SELECT vec_id, CAST(cluster AS INT) AS cluster FROM assigned{iters}
"""
