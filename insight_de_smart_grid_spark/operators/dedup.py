"""Deduplication operators for a training-data pipeline (north-star
extension, BASELINE.json): exact, n-gram Jaccard, MinHash+LSH, SimHash, and
embedding-cosine near-dup.

Design for 100 TB:
- exact dedup is a hash-groupBy on a fingerprint (shuffle on md5 — uniformly
  distributed, no skew by construction);
- n-gram Jaccard avoids the O(n^2) cross join by inverting on shingles
  (pairs only materialize for docs sharing a shingle);
- MinHash+LSH reduces the candidate space further: band signatures bucket
  near-dups with high probability, so the pair join touches only same-bucket
  docs — the standard web-dedup recipe (shingle -> minhash -> band -> bucket
  join -> verify);
- SimHash gives a 64-bit sketch with chunk-equality blocking (a Hamming-k
  neighbor shares at least one of 4 chunks for k<=3 by pigeonhole);
- all hashing is xxhash64 composition (no mod-arithmetic that could overflow
  under Spark 4's default ANSI mode), seeds fixed -> deterministic.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from insight_de_smart_grid_spark.operators.staging import stage
from insight_de_smart_grid_spark.operators.text import fingerprint, tokens
from insight_de_smart_grid_spark.session import hand_over, query_session


# ---------------------------------------------------------------------------
# Exact dedup (hash-groupBy)
# ---------------------------------------------------------------------------

def exact_dedup_groups(docs: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """One row per distinct normalized text: canonical (min) id + copy count.
    ``COUNT > 1`` rows are the duplicate clusters."""
    return (
        docs.select(fingerprint(text_col).alias("fp"), F.col(id_col))
        .groupBy("fp")
        .agg(F.min(id_col).alias("canonical_id"),
             F.count(F.lit(1)).alias("n_copies"))
    )


def drop_exact_dups(docs: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Keep the min-id representative of each duplicate cluster (the actual
    pipeline operator; `exact_dedup_groups` is its audit view)."""
    w_min = (docs.select(fingerprint(text_col).alias("fp"), F.col(id_col))
             .groupBy("fp").agg(F.min(id_col).alias(id_col)))
    return docs.join(w_min, on=id_col, how="left_semi")


# ---------------------------------------------------------------------------
# Word n-gram shingles + exact Jaccard via shingle inversion
# ---------------------------------------------------------------------------

def word_ngrams(docs: DataFrame, n: int = 3, text_col: str = "text",
                id_col: str = "doc_id", distinct: bool = True) -> DataFrame:
    """(doc_id, shingle) pairs — distinct by default (shingle-SET semantics
    for Jaccard/MinHash); ``distinct=False`` keeps every occurrence (the
    multiset view repetition scoring needs). Docs shorter than n tokens drop
    out (mirrored in the oracle SQL).

    Formulated as posexplode + lead() windows rather than
    ``transform(sequence(...), i -> element_at(...))``: nested higher-order
    functions run interpreted (outside whole-stage codegen) and measured ~7x
    slower; lead() stays codegen'd and its doc_id shuffle is the same one the
    downstream ``distinct`` needs anyway."""
    from pyspark.sql import Window

    from insight_de_smart_grid_spark.operators.layout import spread

    toks = tokens(text_col)
    w = Window.partitionBy(id_col).orderBy("pos")
    # spread raw docs BEFORE the posexplode (round-11, guide §2.2/§2.3):
    # tokenization parallelizes past a narrow scan, and the id_col
    # partitioning satisfies the lead() window's clustering so its
    # exchange of the ~10x-wider exploded token stream disappears —
    # the raw rows are the cheaper thing to move at every scale
    tok = spread(docs, id_col).select(
        F.col(id_col), F.posexplode(toks).alias("pos", "t0"))
    for j in range(1, n):
        tok = tok.withColumn(f"t{j}", F.lead("t0", j).over(w))
    out = (tok.filter(F.col(f"t{n - 1}").isNotNull())
           .select(F.col(id_col),
                   F.concat_ws(" ", *[f"t{j}" for j in range(n)]).alias("g")))
    return out.distinct() if distinct else out


def ngram_jaccard_pairs(docs: DataFrame, n: int = 3, threshold: float = 0.1,
                        text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """Exact Jaccard over word-n-gram shingle sets, inverted on shingles so
    only docs sharing >= 1 shingle ever pair. Output: (doc_a, doc_b, jaccard).

    Jaccard is a ratio of integers (|A ∩ B| / (|A| + |B| - |A ∩ B|)) — IEEE
    division of identical integers is bit-stable across engines.
    """
    # join on a 64-bit shingle hash, not the string: halves shuffle width and
    # makes the equi-join key fixed-size (collision odds ~(n_shingles^2)/2^64)
    # three consumers (both join sides + the size table) — tokenize once
    # (at scale: the staged shingle table; see SCALE.md)
    sh = stage(word_ngrams(docs, n, text_col, id_col)
               .select(F.col(id_col), F.xxhash64("g").alias("g")))
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.g") == F.col("b.g"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(F.col(f"a.{id_col}").alias("doc_a"),
                 F.col(f"b.{id_col}").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sa, "doc_a").join(sb, "doc_b")
        .withColumn("jaccard",
                    F.col("inter").cast("double")
                    / (F.col("sz_a") + F.col("sz_b") - F.col("inter")))
        .filter(F.col("jaccard") >= F.lit(threshold))
        .select("doc_a", "doc_b", "jaccard")
    )


def _jaccard_pairs_ctes(n: int = 3, threshold: float = 0.1) -> str:
    """CTE chain ending in ``jpairs(doc_a, doc_b, jaccard)`` — the DuckDB
    twin of ``ngram_jaccard_pairs``, shared by the pair query and the
    connected-components oracle."""
    gram = " || ' ' || ".join(f"t[i+{j}]" for j in range(n))
    return rf"""toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, {gram} AS g
  FROM toks, UNNEST(generate_series(1, len(t) - {n - 1})) AS u(i)
  WHERE len(t) >= {n}
),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
jpairs AS (
  SELECT doc_a, doc_b,
         CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) AS jaccard
  FROM pairs
  JOIN sizes sa ON pairs.doc_a = sa.doc_id
  JOIN sizes sb ON pairs.doc_b = sb.doc_id
  WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= {threshold}
)"""


def ngram_jaccard_oracle_sql(n: int = 3, threshold: float = 0.1) -> str:
    return (f"WITH {_jaccard_pairs_ctes(n, threshold)}\n"
            "SELECT doc_a, doc_b, jaccard FROM jpairs")


# ---------------------------------------------------------------------------
# Incremental dedup: new batch vs an existing corpus index
# ---------------------------------------------------------------------------

def incremental_dedup(incoming: DataFrame, corpus: DataFrame,
                      text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """Incoming docs that are NOT exact duplicates of anything already in
    the corpus — the corpus-refresh shape: every crawl batch dedups against
    the accumulated index, not just against itself.

    The index side is one distinct md5 fingerprint per corpus doc (the
    narrow artifact a refresh pipeline persists between runs); the check is
    a left-anti equi-join on the uniformly distributed fingerprint. At
    100 TB the stored index is still only ~32 bytes/doc, and the anti-join
    shuffles incoming (small) against index partitions; a bloom-filter
    pre-pass (`spark.sql.optimizer.runtime.bloomFilter.enabled`) drops the
    obvious non-dups before the shuffle."""
    idx = (corpus.select(fingerprint(text_col).alias("fp"))
           .distinct())
    # survivors keep EVERY incoming column (callers' schemas vary); the
    # fingerprint is internal plumbing and never leaks into the output
    return (incoming
            .withColumn("__fp", fingerprint(text_col))
            .join(idx.withColumnRenamed("fp", "__fp"), "__fp", "left_anti")
            .drop("__fp"))


def incremental_dedup_oracle_sql(split_pct: int = 80) -> str:
    """Oracle for the registered query: corpus = hash slice < split_pct,
    incoming = the rest. The bucket expression is the SHARED
    ``_hash_bucket_sql`` helper, so engine and oracle can never drift."""
    from insight_de_smart_grid_spark.operators.pipeline import (
        _hash_bucket_sql,
    )

    b = _hash_bucket_sql("CAST(doc_id AS VARCHAR)")
    return rf"""
WITH fps AS (
  SELECT *,
         md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
         {b} AS b
  FROM documents
),
idx AS (SELECT DISTINCT fp FROM fps WHERE b < {split_pct})
SELECT doc_id, text, lang, source, n_chars
FROM fps
WHERE b >= {split_pct} AND fp NOT IN (SELECT fp FROM idx)
"""


# ---------------------------------------------------------------------------
# Boundary-overlap dedup: doc A's suffix == doc B's prefix
# ---------------------------------------------------------------------------

def prefix_suffix_pairs(docs: DataFrame, k: int = 3,
                        text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """(doc_a, doc_b, boundary_gram) where doc_a's LAST k tokens equal
    doc_b's FIRST k tokens — the overlap signature of re-chunked or
    boundary-split crawl content, which whole-doc dedup never pairs
    (Jaccard over full shingle sets stays tiny when only the seam is
    shared).

    One equi-join on the 60-bit md5 of the k-token seam: suffix side vs
    prefix side, each one narrow row per doc. The hash bounds shuffle
    width; the carried gram string re-checks equality so a hash collision
    can't fabricate a pair (exactness the oracle would otherwise flag).
    Uniform hash key -> no skew; cost is corpus-linear."""
    toks = tokens(text_col)
    d = (docs.select(F.col(id_col), toks.alias("t"))
         .filter(F.size("t") >= k))
    tail = d.select(
        F.col(id_col).alias("doc_a"),
        F.concat_ws(" ", F.slice("t", -k, k)).alias("tail_g"),
        portable_hash60(F.concat_ws(" ", F.slice("t", -k, k))).alias("hk"))
    head = d.select(
        F.col(id_col).alias("doc_b"),
        F.concat_ws(" ", F.slice("t", 1, k)).alias("head_g"),
        portable_hash60(F.concat_ws(" ", F.slice("t", 1, k))).alias("hk"))
    return (tail.join(head, "hk")
            .filter((F.col("doc_a") != F.col("doc_b"))
                    & (F.col("tail_g") == F.col("head_g")))
            .select("doc_a", "doc_b", F.col("head_g").alias("boundary_gram")))


def prefix_suffix_oracle_sql(k: int = 3) -> str:
    return rf"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents
),
hs AS (
  SELECT doc_id,
         array_to_string(t[1:{k}], ' ') AS head_g,
         array_to_string(t[len(t)-{k}+1:len(t)], ' ') AS tail_g
  FROM toks WHERE len(t) >= {k}
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, b.head_g AS boundary_gram
FROM hs a JOIN hs b ON a.tail_g = b.head_g AND a.doc_id != b.doc_id
"""


# ---------------------------------------------------------------------------
# Duplicate clustering: connected components over near-dup pairs
# ---------------------------------------------------------------------------

def dup_clusters(pairs: DataFrame, max_rounds: int = 15) -> DataFrame:
    """Group near-dup PAIRS into clusters: (doc_id, cluster_id) where
    cluster_id is the min doc id reachable through the pair graph — the
    step that turns pairwise dedup output into a keep/drop decision
    (keep doc_id == cluster_id, drop the rest). Pairwise filtering alone
    over-keeps: A~B and B~C without A~C leaves two of three near-dups.

    Iterative min-label propagation: each round joins the (symmetric)
    edge list with the current labels and takes the min over self and
    neighbors, converging in graph-diameter rounds. Near-dup clusters are
    dense (diameter 2-4 in web corpora), so 3-5 rounds settle it; the
    alternating large-star/small-star formulation (Kiveris et al.,
    "Connected Components in MapReduce") is the same join shape with
    O(log d) rounds if adversarial chains ever matter. Every round is one
    shuffle keyed by uniformly distributed doc ids; ``localCheckpoint``
    truncates the growing lineage so round N's plan doesn't replay rounds
    1..N-1 (on a real cluster, use a checkpoint dir for fault tolerance).
    The per-round convergence check is a scalar ``count`` — driver control
    flow, not data collection.
    """
    spark = pairs.sparkSession
    edges = (pairs.select(F.col("doc_a").alias("src"),
                          F.col("doc_b").alias("dst"))
             .union(pairs.select(F.col("doc_b").alias("src"),
                                 F.col("doc_a").alias("dst")))
             # Materialize ONCE: every round re-joins edges, and without
             # this the (expensive) upstream pair computation replays per
             # round — measured 24 s -> ~4 s at sf0.1.
             .localCheckpoint(eager=True))
    # Loop width sized by DATA, not core count (round-12, VERDICT r11
    # item 1 / guide §2.2 "right-size partitions"): the checkpointed edge
    # blocks inherit the upstream pair pipeline's post-AQE widths (46
    # partitions for 520 rows at sf0.1), and every loop shuffle inherits
    # spark.sql.shuffle.partitions (= core count) — so each of the
    # rounds' join/agg/count stages schedules ~core-count tasks over
    # KB-scale frames, the exact tiny-task storm that read 2-3x over the
    # frozen medians at 32 cores while clean at 8. The count is
    # metadata-cheap (blocks are already materialized) and the width rule
    # is the cluster-correct one too: a billion-edge graph gets
    # ceil(rows/500k) partitions however many cores the host has.
    n_edges = edges.count()
    width_cap = max(spark.sparkContext.defaultParallelism,
                    int(spark.conf.get("spark.sql.shuffle.partitions")))
    w = max(1, min(width_cap, -(-n_edges // 500_000)))
    if w < edges.rdd.getNumPartitions():
        # narrow coalesce over the pinned blocks: every round's edge scan
        # becomes w tasks instead of the inherited post-AQE width
        edges = edges.coalesce(w)
    # the loop runs in its own session at width w (the caller's conf is
    # left alone); the labels come back to the caller's session, so the
    # joins a caller puts them in run at the caller's width. Explicit
    # repartition(w, key) calls in the caller's session do not hold the
    # width: a join re-shuffles a side narrower than the session's width
    # to that width (and measured slower)
    edges = hand_over(edges, query_session(spark, w))
    # lazy checkpoint: the first round's convergence count is the
    # materializing action, so init costs no job of its own (round-11
    # optimization — each eager checkpoint at this scale is a whole
    # scheduler round-trip; lineage truncation is identical either way)
    labels = (edges.select(F.col("src").alias("node")).distinct()
              .withColumn("lbl", F.col("node"))
              .localCheckpoint(eager=False))
    for _ in range(max_rounds):
        nbr = (edges.join(labels, edges.src == labels.node)
               .groupBy(F.col("dst").alias("nbr_node"))
               .agg(F.min("lbl").alias("nbr_lbl")))
        # Carry the pre-round label through the checkpoint so the
        # convergence check is a filter over already-materialized
        # partitions — not another join+shuffle per round. The
        # checkpoint is LAZY and the count below is its materializing
        # action: one job per round where eager+count paid two.
        new = (labels.join(nbr, labels.node == nbr.nbr_node, "left")
               .select(F.col("node"), F.col("lbl").alias("old_lbl"),
                       F.least(F.col("lbl"),
                               F.coalesce("nbr_lbl", "lbl"))
                       .alias("lbl"))
               .localCheckpoint(eager=False))
        changed = new.filter(F.col("lbl") < F.col("old_lbl")).count()
        labels = new.select("node", "lbl")
        if changed == 0:
            break
    else:
        # silent unconverged labels would split true clusters — fail
        # loud (near-dup components are dense; hitting this means a
        # chain-shaped graph that needs a larger max_rounds or the
        # large-star variant)
        raise RuntimeError(
            f"dup_clusters did not converge in {max_rounds} rounds "
            f"({changed} labels still moving)")
    return hand_over(labels.select(F.col("node").alias("doc_id"),
                                   F.col("lbl").alias("cluster_id")),
                     spark)


def dup_clusters_oracle_sql(n: int = 3, threshold: float = 0.1) -> str:
    """Components via transitive closure (recursive CTE) — exact for the
    oracle's scale; the Spark side uses label propagation instead."""
    return (f"WITH RECURSIVE {_jaccard_pairs_ctes(n, threshold)},\n"
            """edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM jpairs
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM jpairs
),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
)
SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
FROM reach GROUP BY src""")


# ---------------------------------------------------------------------------
# MinHash + LSH (the 100 TB near-dup path)
# ---------------------------------------------------------------------------

# Classic affine minhash family over the Mersenne prime 2^31-1:
# mh_i = (a_i * x + b_i) mod P with x = portable_hash60(shingle) mod P.
# Every product stays below 2^62, so the arithmetic is exact and overflow-free
# in both Spark's ANSI mode and DuckDB — which is what makes the whole
# pipeline oracle-checkable (xxhash64 composition was faster to write but
# exists only inside Spark). Constants are fixed at import from a seeded RNG.
_MINHASH_P = 2147483647
_MINHASH_AB: list[tuple[int, int]] = []


def _minhash_ab(n: int) -> list[tuple[int, int]]:
    import random
    while len(_MINHASH_AB) < n:
        rnd = random.Random(20240501 + len(_MINHASH_AB))
        _MINHASH_AB.append((rnd.randrange(1, _MINHASH_P),
                            rnd.randrange(0, _MINHASH_P)))
    return _MINHASH_AB[:n]


def portable_hash60(col: Column) -> Column:
    """First 60 bits of md5 as a non-negative bigint — identical in Spark
    (conv/substring over the hex digest) and DuckDB (hex-literal cast),
    verified byte-for-byte in tests. 60 bits keeps the value unsigned-safe
    in both engines' BIGINT."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def _min_hash_exprs(n_hashes: int, x_sql: str) -> list[Column]:
    """The n_hashes ``min((a*x + b) % P)`` aggregates as single-parse SQL
    expressions — the Column-operator form paid ~6 py4j roundtrips per
    hash per plan build (round-11 optimization; the parsed expression
    tree is identical, all literals < 2^31 so types match F.lit's)."""
    return [F.expr(f"min(({a} * {x_sql} + {b}) % {_MINHASH_P}) AS mh{i}")
            for i, (a, b) in enumerate(_minhash_ab(n_hashes))]


def minhash_signatures(docs: DataFrame, n_hashes: int = 32, ngram: int = 3,
                       text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """n_hashes minhash values per doc over word-ngram shingles."""
    sh = (word_ngrams(docs, ngram, text_col, id_col)
          .select(F.col(id_col), portable_hash60(F.col("g")).alias("gh")))
    return sh.groupBy(id_col).agg(
        *_min_hash_exprs(n_hashes, f"(gh % {_MINHASH_P})"))


def packed_band_width(n_hashes: int, bands: int) -> int:
    """Packed 62-bit key columns per band: pairs of 31-bit minhashes."""
    return (n_hashes // bands + 1) // 2


def banded_signatures(sig: DataFrame, n_hashes: int = 32, bands: int = 8,
                      id_col: str = "doc_id") -> DataFrame:
    """Long-format band buckets (id, band_idx, p0..p{w-1}): the signature
    banded (rows = n_hashes/bands) with pairs of 31-bit minhash values
    packed into single 62-bit longs (shift + add — exact, no re-hash), so
    candidacy stays bit-for-bit reproducible by an external oracle and the
    join keys remain fixed-width scalars, which an array or re-hashed key
    would either slow down or make collision-fuzzy. Shared by the inline
    candidate join (``lsh_candidate_pairs``) and the persisted dedup index
    (``operators/dedup_index.py``), so an index probe and an inline run
    band identically."""
    if n_hashes % bands:
        raise ValueError(
            f"n_hashes ({n_hashes}) must divide evenly into bands "
            f"({bands}) — a remainder would silently drop minhashes and "
            "change the band geometry the caller asked for")
    rows = n_hashes // bands

    def packed(b: int) -> list[str]:
        cols = [f"mh{b * rows + r}" for r in range(rows)]
        out = []
        for i in range(0, rows, 2):
            if i + 1 < rows:
                out.append(f"shiftleft({cols[i]}, 31) + {cols[i + 1]}")
            else:
                out.append(cols[i])
        return out
    n_packed = packed_band_width(n_hashes, bands)
    # long format: (doc_id, band_idx, packed band key) — built as ONE
    # parsed SQL expression (round-11: the Column-operator form paid a
    # py4j roundtrip per struct field per band, ~300 per plan build; the
    # parsed tree and output schema are identical)
    structs = ", ".join(
        "named_struct('band_idx', {b}, {fields})".format(
            b=b, fields=", ".join(f"'p{j}', {p}"
                                  for j, p in enumerate(packed(b))))
        for b in range(bands))
    return (sig.select(F.col(id_col),
                       F.expr(f"explode(array({structs})) AS e"))
            .select(F.col(id_col), F.col("e.band_idx"),
                    *[F.col(f"e.p{j}") for j in range(n_packed)]))


def lsh_candidate_pairs(sig: DataFrame, n_hashes: int = 32, bands: int = 8,
                        id_col: str = "doc_id") -> DataFrame:
    """Band the signature, bucket-join per band, dedupe candidate pairs
    across bands (banding/packing: ``banded_signatures``)."""
    n_packed = packed_band_width(n_hashes, bands)
    longf = banded_signatures(sig, n_hashes, bands, id_col)
    a = longf.alias("a")
    b2 = longf.alias("b")
    cond = F.expr(" AND ".join(
        ["a.band_idx = b.band_idx", f"a.{id_col} < b.{id_col}"]
        + [f"a.p{j} = b.p{j}" for j in range(n_packed)]))
    return (
        a.join(b2, cond)
        .select(F.col(f"a.{id_col}").alias("doc_a"),
                F.col(f"b.{id_col}").alias("doc_b"))
        .distinct()
    )


def signature_shingle_sets(docs: DataFrame, n_hashes: int = 32,
                           ngram: int = 3, text_col: str = "text",
                           id_col: str = "doc_id") -> DataFrame:
    """(id, shingles, mh0..mh{n-1}) in ONE aggregation pass: the doc's
    distinct 60-bit shingle hashes (the exact-Jaccard verify set) and its
    minhash signature over those same hashes — one shuffle, one scan of
    the shingle stream, two outputs. Shared by the inline near-dup
    pipeline and the persisted dedup index build/append
    (``operators/dedup_index.py``)."""
    sh = (word_ngrams(docs, ngram, text_col, id_col)
          .select(F.col(id_col), portable_hash60(F.col("g")).alias("gh")))
    return (sh.groupBy(id_col)
            .agg(F.collect_set("gh").alias("shingles"),
                 *_min_hash_exprs(n_hashes, f"(gh % {_MINHASH_P})")))


def minhash_lsh_near_dups(docs: DataFrame, n_hashes: int = 32, bands: int = 8,
                          ngram: int = 3, threshold: float = 0.5,
                          text_col: str = "text",
                          id_col: str = "doc_id") -> DataFrame:
    """Full pipeline: signatures -> LSH candidates -> exact-Jaccard verify.

    Verification joins each candidate pair to the two docs' shingle-hash sets
    and intersects them with `array_intersect` — cost proportional to the
    number of LSH candidates, never to the all-pairs shingle inversion. That
    candidate-bounded verify is the property that makes this the 100 TB path
    (the exact `ngram_jaccard_pairs` inversion would pair every doc sharing
    even one shingle).

    Signature and shingle set come out of ONE aggregation pass (minhashes
    computed over the 60-bit portable shingle hash, not the string): one
    shuffle, one scan of the shingle stream, two outputs."""
    sig_sets = signature_shingle_sets(docs, n_hashes, ngram, text_col,
                                      id_col)
    return minhash_pairs_from_sigs(sig_sets, n_hashes, bands, threshold,
                                   id_col)


def minhash_pairs_from_sigs(sig_sets: DataFrame, n_hashes: int = 32,
                            bands: int = 8, threshold: float = 0.5,
                            id_col: str = "doc_id") -> DataFrame:
    """Candidate + verify stage over a precomputed ``(id, shingles,
    mh0..)`` frame — lets a caller that already paid the shingle pass
    (the scheduled-ingest loop, ``operators/dedup_index.py``) reuse it."""
    cands = lsh_candidate_pairs(sig_sets, n_hashes, bands, id_col)
    sa = sig_sets.select(F.col(id_col).alias("doc_a"),
                         F.col("shingles").alias("sh_a"))
    sb = sig_sets.select(F.col(id_col).alias("doc_b"),
                         F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        cands.join(sa, "doc_a").join(sb, "doc_b")
        .withColumn("jaccard", inter.cast("double") / union)
        .filter(F.col("jaccard") >= F.lit(threshold))
        .select("doc_a", "doc_b", "jaccard")
    )


def _minhash_pairs_ctes(n_hashes: int = 32, bands: int = 8,
                        ngram: int = 3, threshold: float = 0.5) -> str:
    """CTE chain ending in ``mpairs(doc_a, doc_b, jaccard)`` — the DuckDB
    twin of ``minhash_lsh_near_dups``, shared by the pair query and the
    LSH-tier connected-components oracle."""
    p = _MINHASH_P
    rows = n_hashes // bands
    gram = " || ' ' || ".join(f"t[i+{j}]" for j in range(ngram))
    mh_exprs = ",\n         ".join(
        f"min(({a} * x + {b}) % {p}) AS mh{i}"
        for i, (a, b) in enumerate(_minhash_ab(n_hashes)))
    band_eq = "\n     OR ".join(
        "(" + " AND ".join(f"a.mh{b * rows + r} = b.mh{b * rows + r}"
                           for r in range(rows)) + ")"
        for b in range(bands))
    return rf"""toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, {gram} AS g
  FROM toks, UNNEST(generate_series(1, len(t) - {ngram - 1})) AS u(i)
  WHERE len(t) >= {ngram}
),
gh AS (
  SELECT DISTINCT doc_id,
         CAST(concat('0x', substring(md5(g), 1, 15)) AS BIGINT) AS ghv
  FROM sh
),
sig AS (
  SELECT doc_id,
         {mh_exprs}
  FROM (SELECT doc_id, ghv, ghv % {p} AS x FROM gh)
  GROUP BY doc_id
),
cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
  WHERE {band_eq}
),
sizes AS (SELECT doc_id, count(*) AS sz FROM gh GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS i
  FROM cand c
  JOIN gh x ON x.doc_id = c.doc_a
  JOIN gh y ON y.doc_id = c.doc_b AND y.ghv = x.ghv
  GROUP BY 1, 2
),
mpairs AS (
  SELECT doc_a, doc_b,
         CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) AS jaccard
  FROM inter
  JOIN sizes sa ON inter.doc_a = sa.doc_id
  JOIN sizes sb ON inter.doc_b = sb.doc_id
  WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= {threshold}
)"""


def minhash_lsh_oracle_sql(n_hashes: int = 32, bands: int = 8,
                           ngram: int = 3, threshold: float = 0.5) -> str:
    """DuckDB twin of ``minhash_lsh_near_dups``: same md5-derived shingle
    hash, same affine minhash family, band candidacy as an OR of per-band
    equalities (fine for the oracle's row counts; Spark's exploded equi-join
    is the scale formulation)."""
    return ("WITH " + _minhash_pairs_ctes(n_hashes, bands, ngram, threshold)
            + "\nSELECT doc_a, doc_b, jaccard FROM mpairs")


def dup_clusters_lsh_oracle_sql(n_hashes: int = 32, bands: int = 8,
                                ngram: int = 3,
                                threshold: float = 0.5) -> str:
    """Components over the MinHash+LSH pair graph via transitive closure
    (recursive CTE) — the oracle twin of ``dup_clusters`` fed by
    ``minhash_lsh_near_dups``."""
    return ("WITH RECURSIVE "
            + _minhash_pairs_ctes(n_hashes, bands, ngram, threshold)
            + """,
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM mpairs
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM mpairs
),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
)
SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
FROM reach GROUP BY src""")


# ---------------------------------------------------------------------------
# SimHash (64-bit sketch as 4 x 16-bit chunks; chunk blocking for Hamming<=3)
# ---------------------------------------------------------------------------

def simhash_chunks(docs: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """Per-doc 64-bit SimHash materialized as chunk0..chunk3 (16 bits each).
    Chunked storage sidesteps sign-bit arithmetic and doubles as the LSH
    blocking key (pigeonhole: Hamming <= 3 implies >= 1 equal chunk).

    Each chunk's 16 token-hash bits come from their own 4-hex-char slice of
    md5(token) — portable, so DuckDB reproduces the sketch bit-for-bit and
    the oracle can brute-force the exact Hamming pairs (which also proves
    the chunk blocking loses nothing)."""
    tok = docs.select(F.col(id_col),
                      F.explode(tokens(text_col)).alias("t"))
    tok = tok.select(
        F.col(id_col),
        *[F.conv(F.substring(F.md5("t"), 1 + 4 * c, 4), 16, 10)
          .cast("int").alias(f"h{c}") for c in range(4)])
    chunk_exprs = []
    for c in range(4):
        bit_sum = [
            F.sum(F.when(F.shiftright(F.col(f"h{c}"), b)
                         .bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1))
            .alias(f"s_{c}_{b}") for b in range(16)
        ]
        chunk_exprs.extend(bit_sum)
    agg = tok.groupBy(id_col).agg(*chunk_exprs)
    out_cols = [F.col(id_col)]
    for c in range(4):
        bits = [F.when(F.col(f"s_{c}_{b}") > 0,
                       F.lit(1 << b)).otherwise(F.lit(0))
                for b in range(16)]
        out_cols.append(reduce(lambda x, y: x + y, bits).alias(f"chunk{c}"))
    return agg.select(*out_cols)


def simhash_near_dups(docs: DataFrame, max_hamming: int = 3,
                      text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """Chunk-equality blocking + exact Hamming verify via bit_count(xor).

    The blocking is an *equi*-join on exploded (chunk_idx, chunk_val) rows —
    an OR-of-chunk-equalities predicate would force a nested-loop O(n^2)
    join; the exploded form hash-joins and only same-block docs ever pair."""
    sig = simhash_chunks(docs, text_col, id_col)
    # explode to one row per (doc, chunk_idx); each row carries the full
    # 4-chunk signature so the pair join verifies Hamming inline (no join-back)
    blocks = sig.select(
        F.col(id_col),
        F.explode(F.array(*[
            F.struct(F.lit(c).alias("ci"), F.col(f"chunk{c}").alias("cv"))
            for c in range(4)])).alias("e"),
        *[F.col(f"chunk{c}") for c in range(4)],
    ).select(F.col(id_col), F.col("e.ci"), F.col("e.cv"),
             *[F.col(f"chunk{c}") for c in range(4)])
    a = blocks.alias("a")
    b = blocks.alias("b")
    ham = reduce(
        lambda x, y: x + y,
        [F.bit_count(F.col(f"a.chunk{c}").bitwiseXOR(F.col(f"b.chunk{c}")))
         for c in range(4)])
    return (
        a.join(b, (F.col("a.ci") == F.col("b.ci"))
               & (F.col("a.cv") == F.col("b.cv"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .select(F.col(f"a.{id_col}").alias("doc_a"),
                F.col(f"b.{id_col}").alias("doc_b"),
                ham.cast("long").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def simhash_oracle_sql(max_hamming: int = 3) -> str:
    """DuckDB twin of ``simhash_near_dups``. Brute-force all-pairs Hamming
    (no blocking) — at oracle scale that's cheap, and matching the blocked
    Spark output exactly doubles as proof the pigeonhole blocking is
    lossless for Hamming <= 3."""
    hash_cols = ",\n         ".join(
        f"CAST(concat('0x', substring(md5(t), {1 + 4 * c}, 4)) AS INT) AS h{c}"
        for c in range(4))
    bit_sums = ",\n         ".join(
        f"sum(CASE WHEN (h{c} >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s_{c}_{b}"
        for c in range(4) for b in range(16))
    chunk_cols = ",\n         ".join(
        " + ".join(f"(CASE WHEN s_{c}_{b} > 0 THEN {1 << b} ELSE 0 END)"
                   for b in range(16)) + f" AS chunk{c}"
        for c in range(4))
    ham = " + ".join(f"bit_count(xor(a.chunk{c}, b.chunk{c}))"
                     for c in range(4))
    return rf"""
WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS t
  FROM documents
),
h AS (
  SELECT doc_id,
         {hash_cols}
  FROM tok
),
bits AS (
  SELECT doc_id,
         {bit_sums}
  FROM h GROUP BY doc_id
),
chunks AS (
  SELECT doc_id,
         {chunk_cols}
  FROM bits
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST({ham} AS BIGINT) AS hamming
FROM chunks a JOIN chunks b ON a.doc_id < b.doc_id
WHERE {ham} <= {max_hamming}
"""


EXACT_DEDUP_SQL = r"""
SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
       min(doc_id) AS canonical_id,
       count(*) AS n_copies
FROM documents
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Winnowing near-dup detection (MOSS): rare shared rolling-hash fingerprints
# ---------------------------------------------------------------------------

def winnow_near_dups(docs: DataFrame, k: int = 8, w: int = 4,
                     max_df: int = 5, min_shared: int = 5,
                     text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Near-dup pairs by shared winnowed fingerprints (MOSS-style).

    Stop-fingerprint pruning is the scale lever: a fingerprint occurring in
    more than max(``max_df``, 1% of the corpus) docs (a common phrase) is
    discarded *before* the pair join, which bounds each block and the join
    fanout to df^2 per fingerprint — without it, stopword-heavy grams pair
    every document with every other. Fingerprints are raw window-min k-grams
    (see ``text.kgrams``): winnowing's guarantee needs only deterministic
    selection, and skipping the per-position hash is ~3x cheaper at scan
    time. One aggregation for document frequency, one equi-join on the
    fingerprint, one pair aggregation; no UDFs anywhere.
    """
    from insight_de_smart_grid_spark.operators.text import winnow_fps_arrow

    # Arrow-vectorized winnowing (numpy strided rolling-min); byte-identical
    # to the HOF formulation but ~3x faster — see winnow_fps_arrow docstring
    fps = winnow_fps_arrow(docs, text_col=text_col, k=k, w=w, id_col=id_col)
    n_docs = docs.select(F.count(F.lit(1)).alias("__n"))
    rare = (fps.groupBy("fp")
            .agg(F.count(F.lit(1)).alias("df"))
            .crossJoin(F.broadcast(n_docs))
            .filter(F.col("df") <= F.greatest(F.lit(max_df),
                                              F.floor(F.col("__n") / 100)))
            .select("fp"))
    rare_fps = fps.join(rare, "fp")
    a, b = rare_fps.alias("wa"), rare_fps.alias("wb")
    return (
        a.join(b, (F.col("wa.fp") == F.col("wb.fp"))
               & (F.col(f"wa.{id_col}") < F.col(f"wb.{id_col}")))
        .groupBy(F.col(f"wa.{id_col}").alias("doc_a"),
                 F.col(f"wb.{id_col}").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def winnow_near_dups_oracle_sql(k: int = 8, w: int = 4, max_df: int = 5,
                                min_shared: int = 5) -> str:
    return f"""
WITH g AS (
  SELECT doc_id,
         list_transform(range(1, greatest(length(text) - {k} + 1, 1) + 1),
                        i -> substring(text, CAST(i AS INT), {k})) AS grams
  FROM documents
),
fp AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
           range(1, greatest(len(grams) - {w} + 1, 1) + 1),
           j -> list_min(grams[CAST(j AS INT):CAST(j AS INT)+{w - 1}])))) AS fp
  FROM g
),
rare AS (
  SELECT fp FROM fp GROUP BY fp
  HAVING count(*) <= greatest({max_df}, (SELECT count(*)//100 FROM documents))
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
WHERE a.fp IN (SELECT fp FROM rare)
GROUP BY 1, 2
HAVING count(*) >= {min_shared}
"""


def keep_best_per_cluster(docs: DataFrame, pairs: DataFrame,
                          text_col: str = "text",
                          id_col: str = "doc_id") -> DataFrame:
    """Turn near-dup clusters into a keep/drop decision by QUALITY, not by
    arbitrary id: within each connected component keep the highest-quality
    member (rounded score; id tie-break). This is the policy real curation
    pipelines want — min-id keep throws away the best-written copy whenever
    a lower id happens to be the worse one.

    One row per clustered doc: (doc_id, cluster_id, quality, keep). The
    quality join touches only clustered docs (a small fraction of the
    corpus), the rank is a per-cluster row_number — shuffle keyed on
    cluster_id, whose cardinality ~= cluster count, uniform after min-label
    propagation."""
    from insight_de_smart_grid_spark.operators.text import quality_score

    clusters = dup_clusters(pairs)
    qual = docs.select(F.col(id_col).alias("doc_id"),
                       quality_score(text_col).alias("quality"))
    from pyspark.sql import Window
    w = Window.partitionBy("cluster_id").orderBy(F.desc("quality"),
                                                 F.asc("doc_id"))
    return (clusters.join(qual, "doc_id")
            .withColumn("keep",
                        (F.row_number().over(w) == 1).cast("int"))
            .select("doc_id", "cluster_id", "quality", "keep"))


def keep_best_oracle_sql(n: int = 3, threshold: float = 0.1) -> str:
    """Recursive-closure clusters + the QUALITY_SQL heuristic inlined as a
    nested CTE; row_number over (quality DESC, doc_id) marks the keeper."""
    from insight_de_smart_grid_spark.operators.text import QUALITY_SQL

    return (f"WITH RECURSIVE {_jaccard_pairs_ctes(n, threshold)},\n"
            f"""edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM jpairs
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM jpairs
),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
clus AS (
  SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
  FROM reach GROUP BY src
),
qual AS ({QUALITY_SQL})
SELECT c.doc_id, c.cluster_id, q.quality,
       CAST(row_number() OVER (PARTITION BY c.cluster_id
                               ORDER BY q.quality DESC, c.doc_id)
            = 1 AS INT) AS keep
FROM clus c JOIN qual q ON c.doc_id = q.doc_id""")


def duplicate_spans(docs: DataFrame, k: int = 20,
                    text_col: str = "text",
                    id_col: str = "doc_id",
                    skew_safe: bool = False) -> DataFrame:
    """Exact duplicate-substring statistics per document (the
    exact-substring dedup of Lee et al., "Deduplicating Training Data
    Makes Language Models Better", reduced from suffix arrays to k-gram
    inversion): a character position is *duplicated* when its k-gram occurs
    more than once in the corpus; runs of duplicated positions merge into
    maximal spans.

    Per doc: number of maximal spans, duplicated char count, duplicated
    fraction. Pipeline: positions -> xxhash64 k-gram keys (the gram key
    never reaches the output, so it only needs determinism WITHIN the
    engine — the cheap native hash beats md5 here, and the oracle keeps
    md5 independently; both produce identical df decisions up to ~1e-10
    collision odds) -> occurrence count as a whole-partition window over
    the SAME exploded stream (one shuffle, no aggregate+join branch that
    would recompute the explode) -> positions with count>1 -> per-doc span
    merge via the classic gaps-and-islands window (lag + running sum of
    breaks). Never suffix-array construction; every shuffle keys on a
    uniform hash or doc id.

    Skew: the default window-by-gram shuffle has no map-side combine, so a
    power-law corpus with mega-hot boilerplate grams piles every
    occurrence of a hot gram into one window partition.
    ``skew_safe=True`` switches the df step to groupBy(g).count() + a
    semi-shaped join back: partial aggregation collapses hot keys
    map-side BEFORE the wire, and the remaining pos-by-g join is a plain
    equi-join AQE's skew-join splitting can rebalance (windows it
    cannot). The exploded stream feeds both the aggregate and the
    join-back, so it is staged once; identical
    output (same oracle row, `dedup_duplicate_spans_skew_safe`), and
    `tests/test_scale_stress.py` measures the crossover on a hot-gram
    corpus. On the benign bench corpus the window form measured 2.8x
    faster, so it stays the default."""
    from pyspark.sql import Window

    c = F.col(text_col)
    grams = F.transform(
        F.sequence(F.lit(1), F.length(c) - (k - 1)),
        lambda i: F.xxhash64(c.substr(i, F.lit(k))))
    pos = (docs.filter(F.length(c) >= k)
           .select(F.col(id_col), F.posexplode(grams)
                   .alias("pos0", "g")))
    if skew_safe:
        # two consumers of the scan-speed explode (the df aggregate and
        # the join-back left side) — stage it once
        pos = stage(pos)
        dfreq = (pos.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
                 .filter(F.col("df") > 1).select("g"))
        # SHUFFLE_HASH, never broadcast: dfreq is the corpus's distinct
        # duplicated-gram set — on a duplicate-heavy corpus that is
        # corpus-sized (at 30x every gram qualifies; measured: AQE's
        # post-agg size estimate converted it to a broadcast whose build
        # OOMed next to the staged explode). The equi-join keys on the
        # uniform hash g, each hash-side partition is dfreq/shuffle-n
        # rows, and AQE skew-split can still rebalance the probe side.
        dup_pos = (pos.join(dfreq.hint("SHUFFLE_HASH"), "g")
                   .select(id_col, (F.col("pos0") + 1).alias("p")))
    else:
        w_g = Window.partitionBy("g")
        dup_pos = (pos.withColumn("df", F.count(F.lit(1)).over(w_g))
                   .filter(F.col("df") > 1)
                   .select(id_col, (F.col("pos0") + 1).alias("p")))
    w = Window.partitionBy(id_col).orderBy("p")
    spans = (dup_pos
             .withColumn("brk", F.when(
                 F.col("p") - F.lag("p", 1).over(w) == 1, 0).otherwise(1))
             .withColumn("span_id", F.sum("brk").over(
                 w.rowsBetween(Window.unboundedPreceding, 0)))
             .groupBy(id_col, "span_id")
             .agg(F.min("p").alias("s"), F.max("p").alias("e")))
    lens = docs.select(F.col(id_col), F.length(c).alias("n_chars_doc"))
    return (spans.groupBy(id_col)
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_dup_spans"),
                 F.sum(F.col("e") - F.col("s") + k).cast("bigint")
                 .alias("dup_chars"))
            .join(lens, id_col)
            .select(id_col, "n_dup_spans", "dup_chars",
                    F.round(F.col("dup_chars")
                            / F.col("n_chars_doc"), 6).alias("dup_frac")))


def duplicate_spans_oracle_sql(k: int = 20) -> str:
    return f"""
WITH pos AS (
  SELECT doc_id, i AS p,
         substring(md5(substring(text, CAST(i AS INT), {k})), 1, 16) AS g
  FROM documents,
       UNNEST(generate_series(1, length(text) - {k - 1})) AS u(i)
  WHERE length(text) >= {k}
),
dfs AS (SELECT g, count(*) AS df FROM pos GROUP BY g),
dup AS (
  SELECT doc_id, p FROM pos JOIN dfs USING (g) WHERE df > 1
),
marked AS (
  SELECT doc_id, p,
         CASE WHEN p - lag(p) OVER (PARTITION BY doc_id ORDER BY p) = 1
              THEN 0 ELSE 1 END AS brk
  FROM dup
),
sp AS (
  SELECT doc_id, p,
         sum(brk) OVER (PARTITION BY doc_id ORDER BY p
                        ROWS UNBOUNDED PRECEDING) AS span_id
  FROM marked
),
spans AS (
  SELECT doc_id, span_id, min(p) AS s, max(p) AS e
  FROM sp GROUP BY 1, 2
)
SELECT spans.doc_id,
       count(*) AS n_dup_spans,
       CAST(sum(e - s + {k}) AS BIGINT) AS dup_chars,
       round(CAST(sum(e - s + {k}) AS DOUBLE) / any_value(length(d.text)), 6)
       AS dup_frac
FROM spans JOIN documents d ON spans.doc_id = d.doc_id
GROUP BY 1
"""


def containment_pairs(docs: DataFrame, n: int = 3, threshold: float = 0.25,
                      text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """Asymmetric near-dup: containment = |A ∩ B| / min(|A|, |B|) over word
    n-gram shingle sets — catches a document EMBEDDED in a larger one,
    which symmetric Jaccard dilutes toward 0 as the host grows (the
    quote/boilerplate-inclusion case every curation pipeline hits). Same
    shingle-inversion join as ``ngram_jaccard_pairs`` (64-bit hashed keys,
    only docs sharing a shingle ever pair); the ratio of integers is
    bit-stable cross-engine."""
    # three consumers (both join sides + the size table) — tokenize once
    # (at scale: the staged shingle table; see SCALE.md)
    sh = stage(word_ngrams(docs, n, text_col, id_col)
               .select(F.col(id_col), F.xxhash64("g").alias("g")))
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.g") == F.col("b.g"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(F.col(f"a.{id_col}").alias("doc_a"),
                 F.col(f"b.{id_col}").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("sz").alias("sz_b"))
    cont = (F.col("inter")
            / F.least(F.col("sz_a"), F.col("sz_b")))
    return (inter.join(sa, "doc_a").join(sb, "doc_b")
            .filter(cont >= threshold)
            .select("doc_a", "doc_b",
                    F.round(cont, 6).alias("containment")))


def containment_oracle_sql(n: int = 3, threshold: float = 0.25) -> str:
    gram = " || ' ' || ".join(f"t[i+{j}]" for j in range(n))
    return rf"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, {gram} AS g
  FROM toks, UNNEST(generate_series(1, len(t) - {n - 1})) AS u(i)
  WHERE len(t) >= {n}
),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(CAST(inter AS DOUBLE) / least(sa.sz, sb.sz), 6) AS containment
FROM pairs
JOIN sizes sa ON pairs.doc_a = sa.doc_id
JOIN sizes sb ON pairs.doc_b = sb.doc_id
WHERE CAST(inter AS DOUBLE) / least(sa.sz, sb.sz) >= {threshold}
"""


def containment_pairs_lsh(docs: DataFrame, n: int = 3,
                          threshold: float = 0.25,
                          n_hashes: int = 32, bands: int = 8,
                          max_df: int = 5,
                          text_col: str = "text",
                          id_col: str = "doc_id") -> DataFrame:
    """Corpus-scale BLOCKED tier for containment (round-7; the
    ``dedup_clusters_lsh`` pattern applied to the last two output-bound
    exact tiers): exact containment verified only on a bounded candidate
    set instead of the full shingle inversion.

    Candidates come from TWO bounded blocks, unioned:

    - MinHash band buckets (same geometry as ``minhash_lsh_near_dups``)
      — catch near-symmetric duplicates regardless of shingle document
      frequency: boilerplate-heavy corpora whose hot shingles explode
      the exact tier's inversion (df^2 per shingle) never pair here
      unless their WHOLE shingle sets collide;
    - rare-shingle co-occurrence (df <= ``max_df``, a FLAT cap) — catch
      the ASYMMETRIC case LSH bands miss by construction (a small doc
      embedded in a large host has high containment but low Jaccard, so
      no band collides); any embedded doc shares its rare shingles with
      its host, and the flat cap bounds this block's fanout to
      max_df^2 per shingle REGARDLESS of corpus composition. The cap is
      deliberately NOT scaled with corpus size (winnow's 1%-of-corpus
      rule): measured at 30x replication, a scaled cap re-admits every
      duplicate clique's shingles (df = mult <= 1% n) and the block
      degenerates into the exact tier's sum-of-df^2 inversion (560 s vs
      60 s at 30x); replicated/near-symmetric mass is exactly what the
      band block already owns.

    RECALL CONTRACT (documented, not hidden): a pair that is BOTH
    low-Jaccard AND shares only ubiquitous shingles is missed — that is
    boilerplate inclusion, which ``duplicate_spans`` owns. Everything
    the exact tier emits through a rare shingle or a band collision is
    emitted here with the identical rounded score (same hash, same
    ratio-of-integers), making this the registered first pass on
    corpora where the exact tier's pair mass is itself quadratic.

    One tokenize pass feeds signatures, shingle sets, and sizes (the
    staged shingle-hash table is the persisted index at 100 TB)."""
    gh_tbl = stage(
        word_ngrams(docs, n, text_col, id_col)
        .select(F.col(id_col), portable_hash60(F.col("g")).alias("gh")))
    sig_sets = stage(
        gh_tbl.groupBy(id_col)
        .agg(F.collect_set("gh").alias("shingles"),
             *_min_hash_exprs(n_hashes, f"(gh % {_MINHASH_P})")))
    band_cands = lsh_candidate_pairs(sig_sets, n_hashes, bands, id_col)
    rare = (gh_tbl.groupBy("gh").agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= F.lit(max_df))
            .select("gh"))
    rare_gh = gh_tbl.join(rare, "gh")
    ra, rb = rare_gh.alias("ra"), rare_gh.alias("rb")
    rare_cands = (ra.join(rb, (F.col("ra.gh") == F.col("rb.gh"))
                          & (F.col(f"ra.{id_col}") < F.col(f"rb.{id_col}")))
                  .select(F.col(f"ra.{id_col}").alias("doc_a"),
                          F.col(f"rb.{id_col}").alias("doc_b"))
                  .distinct())
    cands = band_cands.unionByName(rare_cands).distinct()
    sa = sig_sets.select(F.col(id_col).alias("doc_a"),
                         F.col("shingles").alias("sh_a"))
    sb = sig_sets.select(F.col(id_col).alias("doc_b"),
                         F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    cont = inter / F.least(F.size("sh_a"), F.size("sh_b"))
    return (cands.join(sa, "doc_a").join(sb, "doc_b")
            .filter(cont >= F.lit(threshold))
            .select("doc_a", "doc_b", F.round(cont, 6).alias("containment")))


def containment_lsh_oracle_sql(n: int = 3, threshold: float = 0.25,
                               n_hashes: int = 32, bands: int = 8,
                               max_df: int = 5) -> str:
    """DuckDB twin of ``containment_pairs_lsh``: band candidates from the
    shared minhash CTE chain, rare-shingle candidates from the hashed
    shingle table, exact containment on the union."""
    return ("WITH " + _minhash_pairs_ctes(n_hashes, bands, n, 0.5) + f""",
rare_gh AS (
  SELECT ghv FROM gh GROUP BY ghv
  HAVING count(*) <= {max_df}
),
rcand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM gh a JOIN gh b ON a.ghv = b.ghv AND a.doc_id < b.doc_id
  WHERE a.ghv IN (SELECT ghv FROM rare_gh)
),
allc AS (
  SELECT doc_a, doc_b FROM cand
  UNION
  SELECT doc_a, doc_b FROM rcand
),
cinter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS i
  FROM allc c
  JOIN gh x ON x.doc_id = c.doc_a
  JOIN gh y ON y.doc_id = c.doc_b AND y.ghv = x.ghv
  GROUP BY 1, 2
)
SELECT c.doc_a, c.doc_b,
       round(CAST(i AS DOUBLE) / least(sa.sz, sb.sz), 6) AS containment
FROM cinter c
JOIN sizes sa ON c.doc_a = sa.doc_id
JOIN sizes sb ON c.doc_b = sb.doc_id
WHERE CAST(i AS DOUBLE) / least(sa.sz, sb.sz) >= {threshold}
""")


def winnow_near_dups_lsh(docs: DataFrame, k: int = 8, w: int = 4,
                         max_df: int = 5, min_shared: int = 5,
                         n_hashes: int = 32, bands: int = 8,
                         ngram: int = 3,
                         text_col: str = "text",
                         id_col: str = "doc_id") -> DataFrame:
    """Corpus-scale blocked tier for winnow near-dups (round-7): the
    exact MOSS scoring (shared rare winnowed fingerprints, identical
    rare rule and counts) computed only on MinHash+LSH band candidates
    instead of the full fingerprint inversion.

    Why it scales where the exact tier is output-bound: the exact
    tier's pair mass comes from the fingerprint-block self-join —
    df^2 per fingerprint, which tracks true duplicate-clique mass
    C(mult, 2) on replicated corpora and explodes whenever ``max_df``
    must be raised to keep recall on boilerplate-heavy corpora. Here
    the candidate set is bounded by band-bucket collisions (never by
    fingerprint document frequency), and the verify cost is
    sum over pairs of |fps(A)| — one probe of B's fingerprint set per
    (pair, fp-of-A), keyed on (doc, fp) so no hot fingerprint ever
    concentrates a partition.

    Output = the exact tier's rows restricted to LSH candidates, same
    ``n_shared`` values (pinned by the shared scoring CTEs in the
    oracle twin)."""
    from insight_de_smart_grid_spark.operators.text import winnow_fps_arrow

    sh = (word_ngrams(docs, ngram, text_col, id_col)
          .select(F.col(id_col), portable_hash60(F.col("g")).alias("gh")))
    sig = sh.groupBy(id_col).agg(
        *_min_hash_exprs(n_hashes, f"(gh % {_MINHASH_P})"))
    cands = lsh_candidate_pairs(sig, n_hashes, bands, id_col)

    fps = winnow_fps_arrow(docs, text_col=text_col, k=k, w=w, id_col=id_col)
    n_docs = docs.select(F.count(F.lit(1)).alias("__n"))
    rare = (fps.groupBy("fp").agg(F.count(F.lit(1)).alias("df"))
            .crossJoin(F.broadcast(n_docs))
            .filter(F.col("df") <= F.greatest(F.lit(max_df),
                                              F.floor(F.col("__n") / 100)))
            .select("fp"))
    rare_fps = stage(fps.join(rare, "fp"))
    fa = rare_fps.select(F.col(id_col).alias("doc_a"), "fp")
    fb = rare_fps.select(F.col(id_col).alias("doc_b"), "fp")
    return (cands
            .join(fa, "doc_a")
            .join(fb, ["doc_b", "fp"])
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("n_shared"))
            .filter(F.col("n_shared") >= min_shared))


def winnow_lsh_oracle_sql(k: int = 8, w: int = 4, max_df: int = 5,
                          min_shared: int = 5, n_hashes: int = 32,
                          bands: int = 8, ngram: int = 3) -> str:
    """DuckDB twin of ``winnow_near_dups_lsh``: the exact tier's
    fingerprint/rare CTEs, scored only over the minhash band candidate
    pairs (shared ``cand`` CTE)."""
    return ("WITH " + _minhash_pairs_ctes(n_hashes, bands, ngram, 0.5)
            + f""",
wg AS (
  SELECT doc_id,
         list_transform(range(1, greatest(length(text) - {k} + 1, 1) + 1),
                        i -> substring(text, CAST(i AS INT), {k})) AS grams
  FROM documents
),
wfp AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
           range(1, greatest(len(grams) - {w} + 1, 1) + 1),
           j -> list_min(grams[CAST(j AS INT):CAST(j AS INT)+{w - 1}])))) AS fp
  FROM wg
),
wrare AS (
  SELECT fp FROM wfp GROUP BY fp
  HAVING count(*) <= greatest({max_df},
                              (SELECT count(*)//100 FROM documents))
)
SELECT c.doc_a, c.doc_b, count(*) AS n_shared
FROM cand c
JOIN wfp a ON a.doc_id = c.doc_a
JOIN wfp b ON b.doc_id = c.doc_b AND b.fp = a.fp
WHERE a.fp IN (SELECT fp FROM wrare)
GROUP BY 1, 2
HAVING count(*) >= {min_shared}
""")


# ---------------------------------------------------------------------------
# Cross-source shingle overlap: the contamination/provenance matrix
# ---------------------------------------------------------------------------

def source_overlap(docs: DataFrame, n: int = 3, text_col: str = "text",
                   id_col: str = "doc_id",
                   source_col: str = "source") -> DataFrame:
    """Pairwise n-gram overlap between SOURCES — the corpus-provenance
    report behind "how much of source B is already in source A"
    (mirror-site detection, licensing audits, contamination triage before
    `decontaminate` runs doc-level).

    Shingles invert per document (same `word_ngrams` as the Jaccard tier),
    lift to distinct (source, shingle-hash) rows, and self-join on the hash
    with source_a < source_b. The join fan-out per shingle is bounded by
    the number of sources carrying it — at most |sources|^2 pairs total,
    independent of corpus size; the only corpus-sized shuffles are the two
    distinct aggregations on uniform hash keys. Overlap coefficient
    |A∩B| / min(|A|,|B|) is a ratio of integers: bit-stable cross-engine."""
    sh = word_ngrams(docs, n, text_col, id_col)
    src = docs.select(F.col(id_col), F.col(source_col).alias("src"))
    sg = stage(sh.join(src, id_col)
               .select("src", F.xxhash64("g").alias("h"))
               .distinct())
    sizes = sg.groupBy("src").agg(F.count(F.lit(1)).alias("sz"))
    a, b = sg.alias("a"), sg.alias("b")
    inter = (a.join(b, (F.col("a.h") == F.col("b.h"))
                    & (F.col("a.src") < F.col("b.src")))
             .groupBy(F.col("a.src").alias("source_a"),
                      F.col("b.src").alias("source_b"))
             .agg(F.count(F.lit(1)).alias("n_shared")))
    sa = sizes.select(F.col("src").alias("source_a"),
                      F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("src").alias("source_b"),
                      F.col("sz").alias("sz_b"))
    return (inter.join(F.broadcast(sa), "source_a")
            .join(F.broadcast(sb), "source_b")
            .select("source_a", "source_b", "n_shared", "sz_a", "sz_b",
                    (F.col("n_shared").cast("double")
                     / F.least("sz_a", "sz_b").cast("double"))
                    .alias("overlap")))


def source_overlap_oracle_sql(n: int = 3) -> str:
    gram = " || ' ' || ".join(f"t[i+{j}]" for j in range(n))
    return rf"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, {gram} AS g
  FROM toks, UNNEST(generate_series(1, len(t) - {n - 1})) AS u(i)
  WHERE len(t) >= {n}
),
sg AS (
  SELECT DISTINCT d.source AS src, s.g
  FROM sh s JOIN documents d USING (doc_id)
),
sizes AS (SELECT src, count(*) AS sz FROM sg GROUP BY 1),
inter AS (
  SELECT a.src AS source_a, b.src AS source_b, count(*) AS n_shared
  FROM sg a JOIN sg b ON a.g = b.g AND a.src < b.src
  GROUP BY 1, 2
)
SELECT source_a, source_b, n_shared, sa.sz AS sz_a, sb.sz AS sz_b,
       CAST(n_shared AS DOUBLE) / CAST(least(sa.sz, sb.sz) AS DOUBLE)
           AS overlap
FROM inter
JOIN sizes sa ON inter.source_a = sa.src
JOIN sizes sb ON inter.source_b = sb.src
"""


def build_bloom(keys: DataFrame, key_col: str = "fp",
                m_bits: int = 1 << 20, k_hashes: int = 7) -> DataFrame:
    """Distributed bloom-filter build with PURE DataFrame expressions (no
    UDF, and no reliance on the JVM-internal ``bloom_filter_agg``, which
    PySpark does not expose): Kirsch-Mitzenmacher double hashing
    (pos_i = h1 + i*h2 mod m) sets k bits per key; bits pack into 64-bit
    words via ``bit_or`` aggregation; the set words collect into ONE
    map<word_idx, bits> row. State is bounded by m/64 words at every
    stage — the aggregation is map-side combinable, so the shuffle carries
    at most m/64 rows per partition regardless of key count."""
    # reduce both hashes mod m BEFORE combining: raw xxhash64 values span
    # the full int64 range and h1 + i*h2 would overflow under ANSI mode
    h1 = F.pmod(F.xxhash64(F.col(key_col)), F.lit(m_bits))
    h2 = F.pmod(F.xxhash64(F.col(key_col), F.lit(0x5bd1)), F.lit(m_bits))
    positions = F.array(*[
        F.pmod(h1 + F.lit(i) * h2, F.lit(m_bits)) for i in range(k_hashes)])
    bits = (keys.select(F.explode(positions).alias("pos"))
            .select((F.col("pos") / 64).cast("long").alias("word"),
                    (F.col("pos") % 64).cast("int").alias("bit"))
            .groupBy("word")
            # python-API shiftleft needs a literal count; the SQL form
            # accepts a column
            .agg(F.bit_or(F.expr("shiftleft(CAST(1 AS BIGINT), bit)"))
                 .alias("bits")))
    return bits.agg(F.map_from_entries(
        F.collect_list(F.struct("word", "bits"))).alias("bloom"))


def bloom_might_contain_sql(bloom_name: str, key_name: str,
                            m_bits: int = 1 << 20,
                            k_hashes: int = 7) -> str:
    """SQL boolean expression matching :func:`build_bloom`: true iff ALL k
    bit positions are set. No false negatives by construction. (SQL text
    because the python-API ``shiftleft`` only takes a literal count.)"""
    checks = []
    for i in range(k_hashes):
        pos = (f"pmod(pmod(xxhash64({key_name}), {m_bits}) + {i} * "
               f"pmod(xxhash64({key_name}, 23505), {m_bits}), {m_bits})")
        checks.append(
            f"(coalesce(element_at({bloom_name}, "
            f"CAST({pos} / 64 AS BIGINT)), CAST(0 AS BIGINT)) & "
            f"shiftleft(CAST(1 AS BIGINT), CAST({pos} % 64 AS INT))) != 0")
    return " AND ".join(checks)


def incremental_dedup_bloom(incoming: DataFrame, corpus: DataFrame,
                            text_col: str = "text",
                            id_col: str = "doc_id",
                            m_bits: int = 1 << 20,
                            k_hashes: int = 7) -> DataFrame:
    """:func:`incremental_dedup` with an EXPLICIT bloom pre-filter: the
    corpus fingerprint index folds into a ~m_bits/8-byte bloom
    (:func:`build_bloom`), broadcast to the incoming side, and
    :func:`bloom_might_contain` discards the bulk of fresh docs BEFORE the
    anti-join shuffle. Bloom filters have no false negatives, so every
    true duplicate still reaches the exact anti-join and the result is
    bit-identical to the exact path — only the false-positive tail pays
    the shuffle. This is the hand-rolled form of the optimizer's runtime
    bloom (proven injected in test_plans); an incremental pipeline wants
    it explicit because the index side is a PERSISTED artifact the
    optimizer never sees.

    At 100 TB: the daily refresh ships a megabytes-scale bloom instead of
    shuffling the full incoming batch against the fingerprint index; the
    anti-join then touches only the fp tail plus true duplicates."""
    idx = corpus.select(fingerprint(text_col).alias("fp")).distinct()
    bloom = build_bloom(idx, "fp", m_bits, k_hashes)
    marked = (incoming
              .withColumn("__fp", fingerprint(text_col))
              .join(F.broadcast(bloom))
              .withColumn("__maybe",
                          F.expr(bloom_might_contain_sql(
                              "bloom", "__fp", m_bits, k_hashes))))
    drop = ("__fp", "__maybe", "bloom")
    survivors_fast = marked.where(~F.col("__maybe"))  # definitely fresh
    suspects = marked.where(F.col("__maybe"))         # fp tail + true dups
    fresh_suspects = suspects.join(
        idx.withColumnRenamed("fp", "__fp"), "__fp", "left_anti")
    return survivors_fast.drop(*drop).unionByName(fresh_suspects.drop(*drop))


# ---------------------------------------------------------------------------
# Prefix-filtered exact Jaccard join (AllPairs/PPJoin family)
# ---------------------------------------------------------------------------

def jaccard_pairs_prefix_filtered(docs: DataFrame, n: int = 3,
                                  threshold: float = 0.5,
                                  text_col: str = "text",
                                  id_col: str = "doc_id") -> DataFrame:
    """Exact Jaccard >= threshold via PREFIX FILTERING (the AllPairs/PPJoin
    recipe, Bayardo et al. WWW'07 / Xiao et al. WWW'08): invert only each
    document's prefix tokens instead of its whole shingle set.

    Order every doc's shingles by a global total order (ascending document
    frequency, shingle-hash tiebreak — rarest first). Jaccard >= t implies
    |A ∩ B| >= t * |A ∪ B| >= ceil(t * |A|) (and symmetrically for B), so if
    A shares NO token within its first ``sz - ceil(t*sz) + 1`` sorted tokens
    with B's prefix, the at most ``ceil(t*sz) - 1`` remaining tokens cannot
    reach the required overlap: the filter is LOSSLESS under any common
    total order. Candidate volume falls twice over plain shingle
    inversion: only prefixes join (1-t fraction of each set), and prefixes
    concentrate on RARE shingles, so the quadratic per-key blowup lands on
    document frequencies near 1 instead of on stop-shingles.

    Cost shape: df counts are one shuffle on the shingle hash; the df
    join-back rides the same key; the per-doc prefix ranking is one window
    on the (uniform) doc id; the candidate join carries NARROW
    (id, hash) rows. The exact verify joins full shingle sets back for the
    candidate pairs only — identical final semantics to
    ``ngram_jaccard_pairs`` (same oracle), at a fraction of the candidate
    pairs (asserted in tests).
    """
    from pyspark.sql import Window

    # Materialize the hashed shingle table ONCE: five downstream consumers
    # (df counts, the size/rank join, and both sides of the verify join)
    # would otherwise each re-scan and re-tokenize the corpus (measured: 6
    # parquet scans, 0 reused exchanges). At cluster scale this is the
    # "write the shingle table, then join against it" step every AllPairs
    # implementation stages; locally localCheckpoint keeps it in block
    # storage without lineage.
    sh = stage(word_ngrams(docs, n, text_col, id_col)
               .select(F.col(id_col), F.xxhash64("g").alias("g")))
    dfreq = sh.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    sized = sh.join(dfreq, "g")
    w = Window.partitionBy(id_col).orderBy("df", "g")
    ranked = (sized
              .withColumn("pos", F.row_number().over(w))
              .withColumn("sz", F.count(F.lit(1))
                          .over(Window.partitionBy(id_col))))
    prefix = ranked.filter(
        F.col("pos") <= F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz"))
        + F.lit(1)).select(F.col(id_col), "g", "sz")
    a = prefix.alias("a")
    b = prefix.alias("b")
    cands = (
        a.join(b, (F.col("a.g") == F.col("b.g"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
               # size filter: t*sa <= sb <= sa/t is necessary for Jaccard>=t
               & (F.col("b.sz") * F.lit(threshold) <= F.col("a.sz"))
               & (F.col("a.sz") * F.lit(threshold) <= F.col("b.sz")))
        .select(F.col(f"a.{id_col}").alias("doc_a"),
                F.col(f"b.{id_col}").alias("doc_b"),
                F.col("a.sz").alias("sz_a"), F.col("b.sz").alias("sz_b"))
        .dropDuplicates(["doc_a", "doc_b"]))
    sa = sh.select(F.col(id_col).alias("doc_a"), "g")
    sb = sh.select(F.col(id_col).alias("db"), F.col("g").alias("gb"))
    inter = (cands.join(sa, "doc_a")
             .join(sb, (F.col("doc_b") == F.col("db"))
                   & (F.col("g") == F.col("gb")))
             .groupBy("doc_a", "doc_b", "sz_a", "sz_b")
             .agg(F.count(F.lit(1)).alias("inter")))
    return (inter
            .withColumn("jaccard",
                        F.col("inter").cast("double")
                        / (F.col("sz_a") + F.col("sz_b") - F.col("inter")))
            .filter(F.col("jaccard") >= F.lit(threshold))
            .select("doc_a", "doc_b", "jaccard"))


# ---------------------------------------------------------------------------
# Bounded-hop reachability over the near-dup graph (recursive CTE surface)
# ---------------------------------------------------------------------------

def near_dup_blast_radius(docs: DataFrame, n: int = 3,
                          threshold: float = 0.1,
                          max_hops: int = 3) -> DataFrame:
    """Contamination blast radius: every document within ``max_hops``
    near-dup edges of a seed (the smallest doc id that appears in any
    pair), with its minimum hop count — "if this doc is tainted, what else
    do I have to re-audit".

    Iterative level-synchronous BFS with a per-hop DEDUPLICATED frontier
    (the ``dup_clusters`` iteration pattern): each hop joins the frontier
    with the symmetric edge list, dedups the reached vertices, and
    anti-joins away everything already visited — so every vertex is
    expanded at most once regardless of how many paths reach it. A
    UNION ALL recursive CTE enumerates PATHS instead and grows as
    degree^hops on clique-shaped near-dup graphs; the oracle keeps the
    recursive-CTE form (exact at oracle scale), the engine keeps the
    shape that survives 100 TB.
    """
    # materialize the pair graph ONCE: the shingle-inversion pipeline is
    # the expensive part, and every hop re-joins the edge list —
    # localCheckpoint truncates it to a cached table (same technique as
    # dup_clusters' iteration)
    pairs = ngram_jaccard_pairs(docs, n, threshold).localCheckpoint(eager=True)
    edges = (pairs.select(F.col("doc_a").alias("src"),
                          F.col("doc_b").alias("dst"))
             .union(pairs.select(F.col("doc_b").alias("src"),
                                 F.col("doc_a").alias("dst")))
             .distinct()
             .localCheckpoint(eager=True))
    # seed = smallest doc id in any pair; stays distributed (1-row agg),
    # NULL row on an empty graph to match the CTE oracle's seed select
    visited = (pairs.agg(F.min("doc_a").cast("long").alias("doc_id"))
               .withColumn("min_hops", F.lit(0).cast("int"))
               .localCheckpoint(eager=True))
    frontier = visited.select("doc_id")
    for h in range(1, max_hops + 1):
        reached = (edges.join(frontier, edges.src == frontier.doc_id)
                   .select(F.col("dst").cast("long").alias("doc_id"))
                   .distinct()
                   .join(visited, "doc_id", "left_anti")
                   .localCheckpoint(eager=True))
        if reached.isEmpty():
            break
        visited = (visited.unionByName(
            reached.withColumn("min_hops", F.lit(h).cast("int")))
            .localCheckpoint(eager=True))
        frontier = reached
    return visited.select("doc_id", "min_hops")


def blast_radius_oracle_sql(n: int = 3, threshold: float = 0.1,
                            max_hops: int = 3) -> str:
    return f"""
WITH RECURSIVE {_jaccard_pairs_ctes(n, threshold)},
hops(doc_id, h) AS (
  SELECT CAST((SELECT min(doc_a) FROM jpairs) AS BIGINT) AS doc_id, 0 AS h
  UNION ALL
  SELECT e.dst, h.h + 1
  FROM hops h
  JOIN (SELECT doc_a AS src, doc_b AS dst FROM jpairs
        UNION ALL
        SELECT doc_b AS src, doc_a AS dst FROM jpairs) e
    ON e.src = h.doc_id
  WHERE h.h < {max_hops}
)
SELECT doc_id, CAST(min(h) AS INT) AS min_hops
FROM hops
GROUP BY doc_id
"""


def jaccard_threshold_sweep(docs: DataFrame, n: int = 3,
                            min_jaccard: float = 0.02, buckets: int = 20,
                            text_col: str = "text",
                            id_col: str = "doc_id") -> DataFrame:
    """Pair-count histogram over Jaccard buckets in ONE inversion pass —
    the threshold-tuning view: before committing a dedup threshold to a
    100 TB run, see how many pairs each candidate threshold would sweep
    in. Bucket = floor(jaccard * buckets) / buckets; Jaccard is a ratio of
    identical integers in both engines, so bucket edges cannot drift."""
    pairs = ngram_jaccard_pairs(docs, n, min_jaccard, text_col, id_col)
    bucket = F.round(F.floor(F.col("jaccard") * buckets)
                     / F.lit(float(buckets)), 6)
    return (pairs.select(bucket.alias("bucket"))
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("n_pairs")))


def threshold_sweep_oracle_sql(n: int = 3, min_jaccard: float = 0.02,
                               buckets: int = 20) -> str:
    return f"""
WITH {_jaccard_pairs_ctes(n, min_jaccard)}
SELECT round(floor(jaccard * {buckets}) / {buckets}.0, 6) AS bucket,
       count(*) AS n_pairs
FROM jpairs
GROUP BY 1
"""
