"""Persisted BM25 posting-list index — the FOURTH index family (round-11,
VERDICT r10 item 7). Like every family it is its ``FAMILY`` record (two
segment writers and one tokenize pass) plus its probe; everything
lifecycle-shaped — manifest commits, idempotent staging,
conflict-retrying compaction, tombstone deletes, GC, snapshot pins —
runs in ``operators/index_base.py`` / ``index_manifest.py``.

The repo's inline ``text.bm25_topk`` tokenizes the whole corpus per
query; at 100 TB ranked retrieval runs off a PERSISTED inverted index
(the Lucene/ES posting-list design — public): one tokenize pass at
ingest, then every query reads only its terms' postings.

- ``postings/`` — ``(term, doc_id, tf)`` for EVERY term, repartitioned
  by term (all of one term's postings co-locate in one file) and sorted
  by ``(term, doc_id)`` within files, so a query's ``term IN (...)``
  predicate prunes via parquet row-group min/max stats: the probe reads
  the query terms' row groups, not the corpus.
- ``doclens/`` — ``(doc_id, dl)``: the length-normalization table. The
  corpus stats BM25 needs (N, avgdl) are a one-row aggregate over this
  narrow table computed at query time — recomputing keeps them exact
  under appends AND deletes (a takedown changes N/avgdl/df, and frozen
  stats would silently mis-score every query; the tombstone anti-join
  runs BEFORE the stats aggregate for exactly that reason).

``query_bm25_index`` over a maintained index is row-identical to the
inline ``bm25_topk`` over the same corpus, so the registered query
shares ``text.bm25_oracle_sql`` verbatim — and the delete twin shares
it over the survivor corpus, value-checking that deletes reshape the
global statistics, not just the candidate set.

The reference has no IR surface at all (SURVEY text-analysis extension
block); this extends the round-8/9/10 index story to term postings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from insight_de_smart_grid_spark.operators import index_base
from insight_de_smart_grid_spark.operators.text import (
    BM25_B,
    BM25_K1,
    tokens,
)

_POSTINGS = "postings"
_DOCLENS = "doclens"

_read_meta = index_base.read_meta
_read_table = index_base.read_table


def _write_postings(df: DataFrame, seg: str, meta: dict) -> None:
    """Term-repartitioned (all of a term's postings in one file) and
    (term, id)-sorted for row-group pruning on the probe's term filter."""
    (df.repartition("term").sortWithinPartitions("term", meta["id_col"])
     .write.mode("overwrite").parquet(seg))


def _write_doclens(df: DataFrame, seg: str, meta: dict) -> None:
    (df.sortWithinPartitions(meta["id_col"])
     .write.mode("overwrite").parquet(seg))


def _frames(spark: "SparkSession | None", docs: DataFrame,
            path: "str | None", meta: dict) -> dict:
    """One tokenize pass -> (id, tokens) — the only text-touching step;
    both tables derive from it (the dedup family's shingle-once shape)."""
    id_col = meta["id_col"]
    toks = F.filter(tokens(meta["text_col"]), lambda t: t != "")
    base = docs.select(F.col(id_col), toks.alias("t"))
    return {_POSTINGS: (base.select(F.col(id_col),
                                    F.explode("t").alias("term"))
                        .groupBy("term", id_col)
                        .agg(F.count(F.lit(1)).alias("tf"))),
            _DOCLENS: base.select(id_col, F.size("t").alias("dl"))}


def _create(corpus: DataFrame, params: dict) -> "tuple[dict, dict]":
    meta = {"text_col": params["text_col"], "id_col": params["id_col"],
            "k1": BM25_K1, "b": BM25_B}
    return meta, _frames(None, corpus, None, meta)


FAMILY = index_base.Family(
    tables={_POSTINGS: _write_postings, _DOCLENS: _write_doclens},
    frames=_frames, create=_create)


def build_bm25_index(docs: DataFrame, path: str, text_col: str = "text",
                     id_col: str = "doc_id") -> dict:
    """Create the index: one corpus tokenize pass -> postings + doclens,
    visible in one atomic manifest bump."""
    return index_base.build(FAMILY, path, *_create(
        docs, {"text_col": text_col, "id_col": id_col}))


def append_bm25_index(new_docs: DataFrame, path: str,
                      tag: "str | None" = None) -> dict:
    """Tokenize ONLY the delta and commit its postings/doclens segments
    in one bump (``index_base.append``) — append cost tracks delta size.
    Per-(term, doc) tf rows from different segments never collide
    because a doc lives in exactly one delta."""
    return index_base.append(new_docs.sparkSession, FAMILY, new_docs, path,
                             tag)


def compact_bm25_index(spark: SparkSession, path: str) -> int:
    """Rewrite both tables to one sorted segment each, physically
    dropping tombstoned docs and clearing the tombstones in the same
    atomic replace (``index_base.compact``)."""
    return index_base.compact(spark, FAMILY, path)


def delete_from_bm25_index(spark: SparkSession, path: str, ids,
                           tag: "str | None" = None) -> dict:
    """Tombstone documents: one tiny id segment, one bump. Queries
    exclude the docs immediately AND recompute N/avgdl/df without them —
    BM25's global statistics must shrink with the corpus, which is the
    part a candidate-only mask would get wrong."""
    return index_base.delete_ids(spark, path, ids, tag)


def query_bm25_index(spark: SparkSession, path: str,
                     query_terms: tuple = ("spark", "window", "join"),
                     k: int = 15,
                     pin_id: "str | None" = None) -> DataFrame:
    """Okapi BM25 top-k off the persisted postings — row-identical to
    the inline ``text.bm25_topk`` over the same corpus (shares its
    oracle verbatim), but the per-query work is the TERMS' row groups:
    the ``term IN (...)`` filter pushes into the sorted postings scan
    (row-group min/max pruning), doclens is a narrow id->dl scan, and
    the one-row (N, avgdl) aggregate broadcasts. No corpus re-tokenize,
    no index-side shuffle beyond the candidate-bounded df window."""
    meta = _read_meta(path, pin_id)
    id_col = meta["id_col"]
    dl = index_base.subtract_tombstoned(
        spark, path, _read_table(spark, path, _DOCLENS, pin_id),
        [id_col], pin_id)
    # stats AFTER the tombstone subtraction: deletes shrink N and move
    # avgdl — frozen or pre-delete stats would mis-score every query
    stats = dl.agg(F.count(F.lit(1)).alias("n_docs"),
                   F.avg("dl").alias("avgdl"))
    cand = index_base.subtract_tombstoned(
        spark, path,
        _read_table(spark, path, _POSTINGS, pin_id)
        .filter(F.col("term").isin(list(query_terms))),
        [id_col], pin_id)
    w_term = Window.partitionBy("term")
    scored = (cand.withColumn("df", F.count(F.lit(1)).over(w_term))
              .join(dl, id_col).join(F.broadcast(stats))
              .withColumn("idf", F.log(
                  1 + (F.col("n_docs") - F.col("df") + 0.5)
                  / (F.col("df") + 0.5)))
              .withColumn("s", F.col("idf") * F.col("tf")
                          * (meta["k1"] + 1)
                          / (F.col("tf") + meta["k1"]
                             * (1 - meta["b"]
                                + meta["b"] * F.col("dl")
                                / F.col("avgdl")))))
    return (scored.groupBy(id_col)
            .agg(F.round(F.sum("s"), 6).alias("bm25"),
                 F.count(F.lit(1)).cast("int").alias("n_terms_hit"))
            .orderBy(F.desc("bm25"), F.asc(id_col))
            .limit(k))
