"""Text-analysis operators over a documents table (north-star extension,
BASELINE.json: "text analysis" for LLM-data pipelines).

All operators are pure Column expressions (JVM-side, whole-stage codegen) —
no Python in the row path. Tokenization is whitespace-based with a regex
split; every expression has an exact DuckDB twin for the oracle.

Scale notes: these are embarrassingly parallel projections — no shuffle at
all; at 100 TB they run at scan speed and pair naturally with the dedup
operators that consume their outputs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Small English stopword core — enough for a ratio-based language heuristic.
STOPWORDS = ("the", "a", "of", "to", "and", "in", "is", "on", "for", "with")


def tokens(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.trim(c), r"\s+")


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col))


def stopword_ratio(col: Column | str,
                   stopwords: tuple[str, ...] = STOPWORDS) -> Column:
    """Fraction of tokens that are stopwords — the language-ID signal."""
    toks = tokens(col)
    sw = F.array(*[F.lit(s) for s in stopwords])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    return n_stop.cast("double") / F.size(toks)


def lang_id(col: Column | str, threshold: float = 0.02) -> Column:
    """N-gram/stopword heuristic language ID: 'en' when the stopword ratio
    clears the threshold, else 'unknown'. (Both engines compute the ratio as
    the same integer division, so the comparison is bit-stable.)"""
    return F.when(stopword_ratio(col) >= F.lit(threshold), F.lit("en")) \
            .otherwise(F.lit("unknown"))


def punct_ratio(col: Column | str) -> Column:
    """Punctuation chars / total chars (ASCII class, identical in Java regex
    and RE2)."""
    c = F.col(col) if isinstance(col, str) else col
    stripped = F.regexp_replace(c, r"[!-/:-@\[-`{-~]", "")
    return (F.length(c) - F.length(stripped)).cast("double") / F.length(c)


def quality_score(col: Column | str) -> Column:
    """Composite [0,1] quality heuristic: length saturation + stopword
    presence + low punctuation. Deterministic, oracle-expressible."""
    c = F.col(col) if isinstance(col, str) else col
    length_part = F.least(token_count(c).cast("double") / F.lit(100.0),
                          F.lit(1.0)) * F.lit(0.5)
    stop_part = F.least(stopword_ratio(c) * F.lit(5.0), F.lit(1.0)) * F.lit(0.3)
    punct_part = (F.lit(1.0) - punct_ratio(c)) * F.lit(0.2)
    return F.round(length_part + stop_part + punct_part, 6)


def fingerprint(col: Column | str) -> Column:
    """Document fingerprint: md5 of casefolded, whitespace-collapsed text —
    the exact-dedup key that survives formatting noise."""
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(F.regexp_replace(F.lower(F.trim(c)), r"\s+", " "))


# GPT-2-style pre-tokenizer pattern, restricted to syntax shared by Java
# regex (Spark) and RE2 (DuckDB): contractions, letter runs, digit runs,
# symbol runs, each optionally preceded by one space.
BPE_PATTERN = r"'s|'t|'re|'ve|'m|'ll|'d| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+"


def bpe_tokens(col: Column | str) -> Column:
    """BPE-ish pre-tokenization (the split every byte-pair tokenizer applies
    before merges) — the token-count estimator a training-data pipeline uses
    when the real tokenizer is too expensive for a full-corpus pass."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(c, F.lit(BPE_PATTERN), 0)


def with_bpe_token_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    toks = bpe_tokens(text_col)
    ws = tokens(text_col)
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_bpe_tokens"),
        F.size(ws).alias("n_ws_tokens"),
        F.round(F.size(toks).cast("double") / F.size(ws), 6)
        .alias("bpe_per_word"),
    )


# PII patterns kept dialect-portable: the same source text compiles under
# Java regex (Spark) and RE2 (DuckDB) with identical semantics — no
# backrefs, no lookaround, bounded repetition only.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"[0-9]{3}-[0-9]{3}-[0-9]{4}",
    "ipv4": r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}",
}


def pii_counts(col: Column | str,
               patterns: dict[str, str] = PII_PATTERNS) -> list[Column]:
    """One count column per PII class. Counted as regex-split segments minus
    one — ``regexp_extract_all`` needs a capture group and DuckDB's twin
    (``string_split_regex``) has identical split semantics, so the split form
    is the portable one."""
    c = F.col(col) if isinstance(col, str) else col
    return [
        (F.size(F.split(c, pat)) - F.lit(1)).alias(f"n_{name}")
        for name, pat in patterns.items()
    ]


def redact_pii(col: Column | str,
               patterns: dict[str, str] = PII_PATTERNS) -> Column:
    """Replace every PII match with a typed placeholder token.

    Pure chained ``regexp_replace`` — JVM codegen, no UDF, runs at scan
    speed. Classes are applied in dict order; the shipped patterns are
    disjoint (emails keep their '@', phones are dash-separated, IPs
    dot-separated) so order does not change the result.
    """
    c = F.col(col) if isinstance(col, str) else col
    for name, pat in patterns.items():
        c = F.regexp_replace(c, pat, f"<{name.upper()}>")
    return c


def normalize_text(col: Column | str) -> Column:
    """Canonical text cleanup before fingerprinting/dedup: collapse runs of
    whitespace to single spaces, trim, lowercase.

    The whitespace class is written explicitly (``[ \\t\\r\\n]``) rather than
    ``\\s`` because Java regex and RE2 disagree on vertical tab — explicit
    classes keep Spark and the DuckDB oracle byte-identical. Pure JVM
    expressions, scan-speed.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.lower(F.trim(F.regexp_replace(c, "[ \t\r\n]+", " ")))


NORMALIZE_SQL = ("lower(trim(regexp_replace({expr}, '[ \t\r\n]+', ' ', 'g')))")


def with_text_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Stats projection used by quality filtering in a training-data pipeline."""
    toks = tokens(text_col)
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.length(F.col(text_col)).alias("n_chars_raw"),
        F.array_max(F.transform(toks, lambda t: F.length(t))).alias("max_token_len"),
        F.round(stopword_ratio(text_col), 6).alias("stop_ratio"),
    )


def repetition_stats(docs: DataFrame, n: int = 3,
                     text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Within-doc repetition signals — the quality cut that catches looping
    generations and boilerplate (Gopher/C4-style repetition filters):
    rep_ratio = 1 - distinct_grams/total_grams (0 = no n-gram repeats),
    top_gram_frac = occurrences of the most frequent n-gram / total.

    Multiset n-grams (``word_ngrams(distinct=False)``) -> per-(doc, gram)
    counts -> per-doc rollup. Both shuffles key on doc_id (uniform); the
    first agg map-side combines, so the wide gram stream collapses before
    it moves. Ratios are integer/integer IEEE divisions — bit-stable
    cross-engine."""
    from insight_de_smart_grid_spark.operators.dedup import word_ngrams

    per_gram = (word_ngrams(docs, n, text_col, id_col, distinct=False)
                .groupBy(id_col, "g")
                .agg(F.count(F.lit(1)).alias("cnt")))
    return (per_gram.groupBy(id_col)
            .agg(F.sum("cnt").alias("n_grams"),
                 F.count(F.lit(1)).alias("n_distinct"),
                 F.max("cnt").alias("top_count"))
            .select(F.col(id_col),
                    F.col("n_grams").cast("long").alias("n_grams"),
                    F.col("n_distinct").cast("long").alias("n_distinct"),
                    F.round(F.lit(1.0) - F.col("n_distinct")
                            / F.col("n_grams"), 6).alias("rep_ratio"),
                    F.round(F.col("top_count")
                            / F.col("n_grams"), 6).alias("top_gram_frac")))


def repetition_oracle_sql(n: int = 3) -> str:
    gram = " || ' ' || ".join(f"t[i+{j}]" for j in range(n))
    return rf"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents
),
g AS (
  SELECT doc_id, {gram} AS g
  FROM toks, UNNEST(generate_series(1, len(t) - {n - 1})) AS u(i)
  WHERE len(t) >= {n}
),
c AS (SELECT doc_id, g, count(*) AS cnt FROM g GROUP BY 1, 2)
SELECT doc_id,
       CAST(sum(cnt) AS BIGINT) AS n_grams,
       count(*) AS n_distinct,
       round(1.0 - CAST(count(*) AS DOUBLE) / sum(cnt), 6) AS rep_ratio,
       round(CAST(max(cnt) AS DOUBLE) / sum(cnt), 6) AS top_gram_frac
FROM c GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# DuckDB oracle twins
# ---------------------------------------------------------------------------

_SW_SQL = "[" + ", ".join(f"'{s}'" for s in STOPWORDS) + "]"

TEXT_STATS_SQL = r"""
SELECT doc_id,
       len(string_split_regex(trim(text), '\s+')) AS n_tokens,
       length(text) AS n_chars_raw,
       list_max(list_transform(string_split_regex(trim(text), '\s+'),
                t -> length(t))) AS max_token_len,
       round(CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
                  t -> list_contains(""" + _SW_SQL + r""", t))) AS DOUBLE)
             / len(string_split_regex(trim(text), '\s+')), 6) AS stop_ratio
FROM documents
"""

LANG_ID_SQL = r"""
SELECT doc_id,
       CASE WHEN CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
                      t -> list_contains(""" + _SW_SQL + r""", t))) AS DOUBLE)
                 / len(string_split_regex(trim(text), '\s+')) >= 0.02
            THEN 'en' ELSE 'unknown' END AS lang_pred
FROM documents
"""

QUALITY_SQL = r"""
WITH t AS (
  SELECT doc_id,
         string_split_regex(trim(text), '\s+') AS toks,
         length(text) AS n,
         length(regexp_replace(text, '[!-/:-@\[-`{-~]', '', 'g')) AS n_nopunct,
         CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
              t -> list_contains(""" + _SW_SQL + r""", t))) AS DOUBLE) AS n_stop
  FROM documents
)
SELECT doc_id,
       round(least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0) * 0.5
             + least((n_stop / len(toks)) * 5.0, 1.0) * 0.3
             + (1.0 - CAST(n - n_nopunct AS DOUBLE) / n) * 0.2, 6) AS quality
FROM t
"""

FINGERPRINT_SQL = r"""
SELECT doc_id,
       md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
FROM documents
"""

BPE_TOKENS_SQL = r"""
SELECT doc_id,
       len(regexp_extract_all(text,
           '''s|''t|''re|''ve|''m|''ll|''d| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+'))
         AS n_bpe_tokens,
       len(string_split_regex(trim(text), '\s+')) AS n_ws_tokens,
       round(CAST(len(regexp_extract_all(text,
           '''s|''t|''re|''ve|''m|''ll|''d| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+'))
         AS DOUBLE) / len(string_split_regex(trim(text), '\s+')), 6)
         AS bpe_per_word
FROM documents
"""


# ---------------------------------------------------------------------------
# Composed curation pipeline: the end-to-end shape a training-data run takes
# ---------------------------------------------------------------------------

def curate_corpus(docs: DataFrame, text_col: str = "text",
                  min_quality: float = 0.5) -> DataFrame:
    """Language filter -> quality gate -> fingerprint dedup (min doc_id per
    fingerprint wins) -> per-source corpus summary, all in one declarative
    plan so Catalyst fuses the projections into the scan and the only
    shuffles are the dedup window and the final group-by.

    This is the composition every curation run performs; at 100 TB the
    scoring stage runs at scan speed (pure Column expressions, no Python)
    and the dedup window shuffles once on the fingerprint.
    """
    from pyspark.sql import Window

    scored = docs.select(
        "doc_id", "source",
        quality_score(text_col).alias("quality"),
        lang_id(text_col).alias("lang_pred"),
        fingerprint(text_col).alias("fp"),
        F.size(bpe_tokens(text_col)).alias("n_bpe"),
    )
    kept = scored.filter((F.col("lang_pred") == "en")
                         & (F.col("quality") >= F.lit(min_quality)))
    w = Window.partitionBy("fp").orderBy("doc_id")
    canonical = (kept.withColumn("rn", F.row_number().over(w))
                 .filter(F.col("rn") == 1))
    # quality is already 6-decimal; averaging via an exact integer sum of
    # micro-units keeps the result identical across engines regardless of
    # partial-aggregation order (a float sum can flip the last rounded digit)
    micro = F.round(F.col("quality") * F.lit(1e6), 0).cast("long")
    return (canonical.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_bpe").alias("n_bpe_tokens"),
                 F.round(F.sum(micro) / (F.count(F.lit(1)) * F.lit(1e6)), 6)
                 .alias("avg_quality")))


_BPE_SQL = ("'''s|''t|''re|''ve|''m|''ll|''d| ?[A-Za-z]+| ?[0-9]+"
            r"| ?[^A-Za-z0-9\s]+'")

CURATE_SQL = r"""
WITH scored AS (
  SELECT doc_id, source,
         string_split_regex(trim(text), '\s+') AS toks,
         length(text) AS n,
         length(regexp_replace(text, '[!-/:-@\[-`{-~]', '', 'g')) AS n_nopunct,
         CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
              t -> list_contains(""" + _SW_SQL + r""", t))) AS DOUBLE) AS n_stop,
         md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
         len(regexp_extract_all(text, """ + _BPE_SQL + r""")) AS n_bpe
  FROM documents
),
q AS (
  SELECT doc_id, source, fp, n_bpe,
         round(least(CAST(len(toks) AS DOUBLE)/100.0, 1.0)*0.5
             + least((n_stop/len(toks))*5.0, 1.0)*0.3
             + (1.0 - CAST(n - n_nopunct AS DOUBLE)/n)*0.2, 6) AS quality,
         CASE WHEN n_stop/len(toks) >= 0.02
              THEN 'en' ELSE 'unknown' END AS lang_pred
  FROM scored
),
kept AS (
  SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
  FROM q
  WHERE lang_pred = 'en' AND quality >= 0.5
)
SELECT source,
       count(*) AS n_docs,
       CAST(sum(n_bpe) AS BIGINT) AS n_bpe_tokens,
       round(CAST(sum(CAST(round(quality * 1e6, 0) AS BIGINT)) AS DOUBLE)
             / (count(*) * 1e6), 6) AS avg_quality
FROM kept
WHERE rn = 1
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Winnowing fingerprints (rolling-hash document fingerprinting, MOSS-style):
# keep the minimum k-gram of each w-wide sliding window, dedupe — any shared
# substring of length >= k+w-1 yields a shared fingerprint (Schleimer et al.)
# ---------------------------------------------------------------------------

def kgrams(text_col: str, k: int = 8) -> Column:
    """Raw rolling k-gram array (no hash). Winnowing's shared-substring
    guarantee needs only a *deterministic* window selection, so selecting
    minima over raw grams is valid — and skips one hash per position, the
    dominant cost at scan time. The lexicographic bias (space-leading grams
    win more often) surfaces as common fingerprints, which the detector's
    document-frequency pruning removes anyway."""
    c = F.col(text_col)
    return F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(c) - (k - 1), F.lit(1))),
        lambda i: c.substr(i, F.lit(k)))


def winnowed_of(grams: Column, w: int = 4) -> Column:
    """Distinct per-w-window minima of a gram-hash array (the winnowed
    fingerprint set)."""
    return F.array_distinct(F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(grams) - (w - 1), F.lit(1))),
        lambda j: F.array_min(F.slice(grams, j, w))))


def winnow_fps_arrow(docs: DataFrame, text_col: str = "text",
                     k: int = 8, w: int = 4,
                     id_col: str = "doc_id") -> DataFrame:
    """Exploded winnowed fingerprint set (doc_id, fp) — Arrow-vectorized
    twin of ``explode(winnowed_of(kgrams(text)))``.

    The per-position slice/array_min higher-order functions run interpreted
    (outside whole-stage codegen) and dominate ``dedup_winnow``'s cost; this
    variant computes the same window minima as one strided numpy pass: text
    bytes -> sliding (n-k+1, k) byte view -> reinterpret each k=8-byte gram
    as a big-endian uint64 (order-isomorphic to Spark's byte-wise UTF8String
    comparison for equal-length ASCII grams) -> w-wide rolling minimum ->
    unique. Non-ASCII docs (absent in this corpus, legal in general) take a
    per-doc fallback that slices by character exactly like ``substr``.
    Output is identical byte-for-byte, so the DuckDB oracle is unchanged."""
    import numpy as np

    from typing import Iterator

    import pandas as pd

    if k != 8:  # the u64 reinterpretation trick is k=8-specific
        return docs.select(
            F.col(id_col),
            F.explode(winnowed_of(kgrams(text_col, k), w)).alias("fp"))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pb in batches:
            ids_out: list = []
            fps_out: list = []
            for doc_id, text in zip(pb[id_col], pb[text_col]):
                if text.isascii() and len(text) >= k:
                    bs = text.encode()
                    arr = np.frombuffer(bs, dtype=np.uint8)
                    sw = np.ascontiguousarray(
                        np.lib.stride_tricks.sliding_window_view(arr, k))
                    g64 = sw.view(">u8").ravel()
                    m = len(g64)
                    # rolling minimum via w-1 pairwise minima; never a numpy
                    # reduction (.min() silently converts >u8 to native
                    # endianness, reversing the recovered gram bytes)
                    n_win = max(m - w + 1, 1)
                    mins = g64[:n_win].copy()
                    for j in range(1, min(w, m)):
                        np.minimum(mins, g64[j:n_win + j], out=mins)
                    raw = np.unique(mins).tobytes()
                    fps = [raw[i:i + 8].decode() for i in range(0, len(raw), 8)]
                else:
                    # char-sliced fallback, byte-wise comparison like Spark
                    grams = [text[i:i + k].encode()
                             for i in range(max(len(text) - k + 1, 1))]
                    n_win = max(len(grams) - w + 1, 1)
                    fps = [g.decode() for g in
                           {min(grams[j:j + w]) for j in range(n_win)}]
                ids_out.extend([doc_id] * len(fps))
                fps_out.extend(fps)
            yield pd.DataFrame({id_col: ids_out, "fp": fps_out})

    # spread before the opaque Python map (round-11, guide §2.2/§4): a
    # single-split scan would run the whole numpy fingerprint pass in one
    # task; the projection stays ahead of the map so only (id, text)
    # cross the Arrow boundary
    from insight_de_smart_grid_spark.operators.layout import spread

    return (spread(docs.select(id_col, text_col), id_col)
            .mapInPandas(gen, f"{id_col} long, fp string"))


def winnow_stats_arrow(docs: DataFrame, text_col: str = "text",
                       k: int = 8, w: int = 4) -> DataFrame:
    """Per-doc winnow summary (n_fp, min_fp) over the Arrow-vectorized
    fingerprint pass — measured 2.7x faster than a pure higher-order-
    function form at sf0.1 (1.2s vs 3.3s; the per-position slice/array_min
    HOFs run interpreted). Costs one extra uniform shuffle
    for the per-doc aggregate, which the numpy compute savings dwarf.

    ``min_fp`` is the raw minimum k-gram: the global-min gram is the min of
    every window containing it, so it always survives winnowing —
    min(winnowed set) == min(all grams), which is what the oracle computes.
    """
    fps = winnow_fps_arrow(docs, text_col=text_col, k=k, w=w)
    return fps.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_fp"),   # fps are pre-uniqued per doc
        F.min("fp").alias("min_fp"))


def winnow_stats_oracle_sql(k: int = 8, w: int = 4) -> str:
    return f"""
WITH g AS (
  SELECT doc_id,
         list_transform(range(1, greatest(length(text) - {k} + 1, 1) + 1),
                        i -> substring(text, CAST(i AS INT), {k})) AS grams
  FROM documents
)
SELECT doc_id,
       CAST(len(list_distinct(list_transform(
           range(1, greatest(len(grams) - {w} + 1, 1) + 1),
           j -> list_min(grams[CAST(j AS INT):CAST(j AS INT)+{w - 1}]))))
         AS BIGINT) AS n_fp,
       list_min(grams) AS min_fp
FROM g
"""


def pmi_bigrams(docs: DataFrame, text_col: str = "text", min_count: int = 20,
                top_n: int = 30) -> DataFrame:
    """Corpus-level top-N bigrams by pointwise mutual information.

    The collocation detector every corpus-analysis pipeline carries: token
    and bigram frequencies from two shuffle-free explodes + two grouped
    counts, PMI = ln((c_ab/N_b) / ((c_a/N_u)(c_b/N_u))), keep bigrams seen
    >= ``min_count`` times. All JVM expressions (zip_with on shifted
    slices builds the bigram list without a per-position UDF). At scale the
    unigram table is tiny (vocabulary-sized) and broadcast back onto the
    bigram counts; the only wide shuffles key on uniformly-distributed
    token strings.
    """
    toks = (docs
            .select(F.filter(tokens(text_col), lambda t: t != "").alias("t"))
            .filter(F.size("t") >= 2))
    uni = (toks.select(F.explode("t").alias("tok"))
           .groupBy("tok").agg(F.count("*").alias("c_tok")))
    # tokens cannot contain spaces (split on \s+), so ' ' is a
    # collision-free bigram separator — '_' was not (underscore-bearing
    # tokens would mis-split on recovery)
    big = (toks.select(F.explode(
               F.zip_with(F.slice("t", 1, F.size("t") - 1),
                          F.slice("t", 2, F.size("t") - 1),
                          lambda a, b: F.concat_ws(" ", a, b))).alias("bg"))
           .groupBy("bg").agg(F.count("*").alias("c_bg")))
    n_uni = uni.agg(F.sum("c_tok").alias("n_uni"))
    n_big = big.agg(F.sum("c_bg").alias("n_big"))
    ua = uni.select(F.col("tok").alias("tok_a"), F.col("c_tok").alias("c_a"))
    ub = uni.select(F.col("tok").alias("tok_b"), F.col("c_tok").alias("c_b"))
    scored = (big.filter(F.col("c_bg") >= min_count)
              .withColumn("tok_a", F.split("bg", " ").getItem(0))
              .withColumn("tok_b", F.split("bg", " ").getItem(1))
              .join(F.broadcast(ua), "tok_a")
              .join(F.broadcast(ub), "tok_b")
              .join(F.broadcast(n_uni)).join(F.broadcast(n_big))
              .select(
                  F.col("bg").alias("bigram"), "c_bg",
                  F.round(F.log((F.col("c_bg") / F.col("n_big"))
                                / ((F.col("c_a") / F.col("n_uni"))
                                   * (F.col("c_b") / F.col("n_uni")))), 6)
                  .alias("pmi")))
    return (scored.orderBy(F.desc("pmi"), F.asc("bigram")).limit(top_n))


def pmi_bigrams_oracle_sql(min_count: int = 20, top_n: int = 30) -> str:
    return rf"""
WITH toks AS (
  SELECT list_filter(string_split_regex(trim(text), '\s+'),
                     t -> t != '') AS t
  FROM documents
), toks2 AS (
  SELECT t FROM toks WHERE len(t) >= 2
), uni AS (
  SELECT unnest(t) AS tok FROM toks2
), unic AS (
  SELECT tok, count(*) AS c_tok FROM uni GROUP BY 1
), big AS (
  SELECT unnest(list_transform(range(1, len(t)),
                i -> t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT) + 1]))
         AS bg
  FROM toks2
), bigc AS (
  SELECT bg, count(*) AS c_bg FROM big GROUP BY 1
), n_uni AS (SELECT sum(c_tok) AS n_uni FROM unic),
n_big AS (SELECT sum(c_bg) AS n_big FROM bigc)
SELECT bg AS bigram, c_bg,
       round(ln((c_bg / n_big.n_big)
                / ((ua.c_tok / n_uni.n_uni) * (ub.c_tok / n_uni.n_uni))), 6)
       AS pmi
FROM bigc, n_uni, n_big
JOIN unic ua ON ua.tok = string_split(bg, ' ')[1]
JOIN unic ub ON ub.tok = string_split(bg, ' ')[2]
WHERE c_bg >= {min_count}
ORDER BY pmi DESC, bigram ASC
LIMIT {top_n}
"""


def zipf_fit(docs: DataFrame, text_col: str = "text",
             top_ranks: int = 500) -> DataFrame:
    """Zipf's-law fit over the corpus unigram distribution: OLS slope of
    ln(freq) on ln(rank) across the ``top_ranks`` most frequent tokens
    (rank ties broken by token so the rank assignment is total). A healthy
    natural corpus sits near slope -1; synthetic or boilerplate-heavy data
    drifts — a one-row corpus-health probe. Token counting is one shuffle
    on the token string; the regression runs over <= ``top_ranks`` rows."""
    from pyspark.sql import Window

    toks = (docs.select(F.explode(
        F.filter(tokens(text_col), lambda t: t != "")).alias("tok")))
    freq = toks.groupBy("tok").agg(F.count("*").alias("c"))
    w = Window.orderBy(F.desc("c"), F.asc("tok"))
    ranked = (freq.withColumn("rnk", F.row_number().over(w))
              .filter(F.col("rnk") <= top_ranks))
    return ranked.agg(
        F.round(F.regr_slope(F.log("c"), F.log("rnk")), 6)
        .alias("zipf_slope"),
        F.round(F.regr_intercept(F.log("c"), F.log("rnk")), 6)
        .alias("zipf_intercept"),
        F.count("*").cast("bigint").alias("n_ranks"),
        F.sum("c").cast("bigint").alias("n_tokens"))


def zipf_fit_oracle_sql(top_ranks: int = 500) -> str:
    return rf"""
WITH toks AS (
  SELECT unnest(list_filter(string_split_regex(trim(text), '\s+'),
                            t -> t != '')) AS tok
  FROM documents
), freq AS (
  SELECT tok, count(*) AS c FROM toks GROUP BY 1
), ranked AS (
  SELECT c, row_number() OVER (ORDER BY c DESC, tok) AS rnk FROM freq
)
SELECT round(regr_slope(ln(c), ln(rnk)), 6) AS zipf_slope,
       round(regr_intercept(ln(c), ln(rnk)), 6) AS zipf_intercept,
       count(*) AS n_ranks,
       sum(c) AS n_tokens
FROM ranked WHERE rnk <= {top_ranks}
"""


def char_lm_cross_entropy(docs: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id") -> DataFrame:
    """Per-doc cross-entropy under a corpus-trained character-bigram MLE
    model — the cheap language-model quality proxy (the shape CCNet uses
    with KenLM, collapsed to bigrams so both engines can train it in-query):
    xent(d) = -avg over positions ln p(next char | char), p from corpus
    bigram / prefix counts.

    Model training and scoring share ONE per-doc bigram aggregation: the
    corpus counts come from whole-partition windows over it (sum over
    partition-by-bigram, then partition-by-prefix) rather than separate
    aggregate+join branches — Spark would otherwise recompute the explode
    subtree per branch (no exchange reuse across alias scopes, measured 3x).
    Every stage is a shuffle of the narrow (doc, bigram, cnt) stream keyed
    by uniform strings; the fact never joins the fact, and nothing touches
    the driver."""
    from pyspark.sql import Window

    from insight_de_smart_grid_spark.operators.layout import spread

    c = F.col(text_col)
    bigrams = F.transform(F.sequence(F.lit(1), F.length(c) - 1),
                          lambda i: c.substr(i, F.lit(2)))
    # spread the raw docs BEFORE the explode: parallelizes the bigram
    # expansion when the scan has fewer splits than cores, and the
    # doc_id partitioning makes the (doc_id, bg) groupBy exchange-free
    # (subset clustering) — the raw rows are ~17x fewer bytes than the
    # exploded pair stream this replaces on the wire (round-11)
    per_doc = (spread(docs.filter(F.length(c) >= 2), id_col)
               .select(F.col(id_col), F.explode(bigrams).alias("bg"))
               .groupBy(id_col, "bg").agg(F.count(F.lit(1)).alias("cnt")))
    # The two corpus windows share one exchange (round-11, guide §2.4):
    # the prefix window is planned below, and the bigram window partitions
    # by (pfx, bg) — identical sums, since pfx is a function of bg — so
    # HashPartitioning(pfx) satisfies its ClusteredDistribution and only
    # a sub-sort is added (4 Exchanges + 2 full-stream Sorts -> 3 + 1).
    # Worst-case skew is unchanged: the coarse prefix partitioning was
    # already the stage's distribution; the bg sums now run inside it.
    w_pfx = Window.partitionBy("pfx")
    w_bg = Window.partitionBy("pfx", "bg")
    scored = (per_doc
              .withColumn("pfx", F.substring("bg", 1, 1))
              .withColumn("c_pfx", F.sum("cnt").over(w_pfx))
              .withColumn("ln_p", F.log(F.sum("cnt").over(w_bg)
                                        / F.col("c_pfx"))))
    return (scored.groupBy(id_col)
            .agg(F.sum("cnt").cast("bigint").alias("n_bigrams"),
                 F.round(-F.sum(F.col("cnt") * F.col("ln_p"))
                         / F.sum("cnt"), 6).alias("xent")))


def char_lm_cross_entropy_oracle_sql() -> str:
    return """
WITH per_doc AS (
  SELECT doc_id, bg, count(*) AS cnt FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, length(text)),
                  i -> substring(text, CAST(i AS INT), 2))) AS bg
    FROM documents WHERE length(text) >= 2)
  GROUP BY 1, 2
), corpus AS (
  SELECT bg, sum(cnt) AS c_bg FROM per_doc GROUP BY 1
), pfx AS (
  SELECT substring(bg, 1, 1) AS pfx, sum(c_bg) AS c_pfx
  FROM corpus GROUP BY 1
), model AS (
  SELECT bg, ln(c_bg / c_pfx) AS ln_p
  FROM corpus JOIN pfx ON substring(bg, 1, 1) = pfx.pfx
)
SELECT doc_id,
       CAST(sum(cnt) AS BIGINT) AS n_bigrams,
       round(-sum(cnt * ln_p) / sum(cnt), 6) AS xent
FROM per_doc JOIN model USING (bg)
GROUP BY doc_id
"""


BM25_K1 = 1.2
BM25_B = 0.75


def bm25_topk(docs: DataFrame, query_terms: tuple[str, ...] = (
        "spark", "window", "join"), k: int = 15,
        text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Okapi BM25 ranked retrieval for a fixed term query — the IR scoring
    a corpus-search layer needs. idf = ln(1 + (N - df + .5)/(df + .5)),
    tf saturation k1=1.2, length normalization b=0.75.

    Shape: doc lengths at scan speed; candidate (doc, term, tf) rows from
    an explode FILTERED to the query terms (the stream is per-query tiny —
    at scale this is the posting-list scan, and a precomputed inverted
    index bucketed by term serves it without the scan); df via a window
    over the candidate stream; the one-row (N, avgdl) corpus stats
    broadcast. Top-k is TakeOrderedAndProject on (rounded score, id)."""
    from pyspark.sql import Window

    toks = F.filter(tokens(text_col), lambda t: t != "")
    base = docs.select(F.col(id_col), toks.alias("t"))
    dl = base.select(id_col, F.size("t").alias("dl"))
    stats = dl.agg(F.count(F.lit(1)).alias("n_docs"),
                   F.avg("dl").alias("avgdl"))
    terms = F.array(*[F.lit(t) for t in query_terms])
    cand = (base.select(F.col(id_col), F.explode(
                F.filter(F.col("t"),
                         lambda t: F.array_contains(terms, t))).alias("term"))
            .groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf")))
    w_term = Window.partitionBy("term")
    scored = (cand.withColumn("df", F.count(F.lit(1)).over(w_term))
              .join(dl, id_col).join(F.broadcast(stats))
              .withColumn("idf", F.log(
                  1 + (F.col("n_docs") - F.col("df") + 0.5)
                  / (F.col("df") + 0.5)))
              .withColumn("s", F.col("idf") * F.col("tf") * (BM25_K1 + 1)
                          / (F.col("tf") + BM25_K1
                             * (1 - BM25_B
                                + BM25_B * F.col("dl") / F.col("avgdl")))))
    return (scored.groupBy(id_col)
            .agg(F.round(F.sum("s"), 6).alias("bm25"),
                 F.count(F.lit(1)).cast("int").alias("n_terms_hit"))
            .orderBy(F.desc("bm25"), F.asc(id_col))
            .limit(k))


def bm25_oracle_sql(query_terms: tuple[str, ...] = (
        "spark", "window", "join"), k: int = 15,
        table: str = "documents") -> str:
    """``table`` may be a parenthesized subquery selecting exactly the
    scored corpus — the persisted index's delete twin scores survivors
    only, and BM25's global stats (N, avgdl, df) must shrink with it."""
    terms = ", ".join(f"'{t}'" for t in query_terms)
    return rf"""
WITH base AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\s+'),
                     t -> t != '') AS t
  FROM {table}
),
dl AS (SELECT doc_id, len(t) AS dl FROM base),
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
cand AS (
  SELECT doc_id, term, count(*) AS tf
  FROM (SELECT doc_id, unnest(list_filter(t, x -> x IN ({terms}))) AS term
        FROM base)
  GROUP BY 1, 2
),
scored AS (
  SELECT doc_id,
         ln(1 + (n_docs - df + 0.5) / (df + 0.5)) * tf * ({BM25_K1} + 1)
         / (tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl / avgdl)) AS s
  FROM (SELECT *, count(*) OVER (PARTITION BY term) AS df FROM cand)
  JOIN dl USING (doc_id), stats
)
SELECT doc_id, round(sum(s), 6) AS bm25,
       CAST(count(*) AS INT) AS n_terms_hit
FROM scored GROUP BY doc_id
ORDER BY bm25 DESC, doc_id ASC
LIMIT {k}
"""


# ---------------------------------------------------------------------------
# Markup / boilerplate stripping (web-crawl text cleaning)
# ---------------------------------------------------------------------------

# Patterns restricted to syntax Java regex and RE2 (DuckDB) treat identically.
MARKUP_PATTERNS = {
    "tag": r"<[^>]+>",
    "entity": r"&[A-Za-z]+;|&#[0-9]+;",
    "url": r"https?://[^ ]+",
}


def markup_counts(col: Column | str) -> list[Column]:
    """One count column per markup class (split-segments-minus-one, same
    portable form as ``pii_counts``)."""
    c = F.col(col) if isinstance(col, str) else col
    return [
        (F.size(F.split(c, pat)) - F.lit(1)).alias(f"n_{name}")
        for name, pat in MARKUP_PATTERNS.items()
    ]


def strip_markup(col: Column | str) -> Column:
    """Remove tags/entities/URLs and collapse the leftover whitespace — the
    first cleaning pass over crawled HTML-ish text. Pure chained
    ``regexp_replace`` (JVM codegen, scan speed, shuffle-free); class order
    matters (tags first, so attribute URLs inside tags vanish with the tag)
    and is fixed for both engines."""
    c = F.col(col) if isinstance(col, str) else col
    for pat in MARKUP_PATTERNS.values():
        c = F.regexp_replace(c, pat, " ")
    return F.trim(F.regexp_replace(c, "[ \t\r\n]+", " "))


def strip_markup_sql(expr: str) -> str:
    """DuckDB twin of :func:`strip_markup` over ``expr``."""
    c = expr
    for pat in MARKUP_PATTERNS.values():
        c = f"regexp_replace({c}, '{pat}', ' ', 'g')"
    return rf"trim(regexp_replace({c}, '[ \t\r\n]+', ' ', 'g'))"


# ---------------------------------------------------------------------------
# Model-based quality filtering (the fastText-classifier stage of pipelines
# like CCNet/DCLM, reduced to its Spark-native essentials): a LINEAR model
# over engineered text features, scored at scan speed with broadcast-free
# literal weights. The sigmoid is the ALGEBRAIC form 0.5 + 0.5*s/(1+|s|)
# (only +,*,/,abs — each IEEE-correctly-rounded, so Spark and DuckDB agree
# bit-for-bit; exp() carries no such guarantee), and both engines evaluate
# the dot product in the same literal association order.
# ---------------------------------------------------------------------------

MODEL_W = (1.2, 3.0, -2.5, 0.4)   # length, stopword, punct, word-len weights
MODEL_B = -0.8


def model_quality_score(docs: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """Score every doc with the linear quality model: features are the
    length saturation, stopword ratio, punctuation ratio, and mean word
    length (chars/token / 10); output is (doc_id, score, prob, keep).

    At 100 TB this is a pure projection — no shuffle, no Python, weights
    folded as literals into codegen. Swapping in real trained weights is a
    constant change; the plan is identical."""
    c = F.col(text_col)
    x1 = F.least(token_count(c).cast("double") / F.lit(100.0), F.lit(1.0))
    x2 = stopword_ratio(c)
    x3 = punct_ratio(c)
    x4 = (F.length(c).cast("double") / token_count(c)) / F.lit(10.0)
    w1, w2, w3, w4 = MODEL_W
    s = (((F.lit(float(MODEL_B)) + F.lit(w1) * x1) + F.lit(w2) * x2)
         + F.lit(w3) * x3) + F.lit(w4) * x4
    prob = F.lit(0.5) + F.lit(0.5) * (s / (F.lit(1.0) + F.abs(s)))
    return docs.select(
        F.col(id_col),
        F.round(s, 6).alias("score"),
        F.round(prob, 6).alias("prob"),
        (prob >= F.lit(0.5)).alias("keep"))


MODEL_QUALITY_SQL = r"""
WITH t AS (
  SELECT doc_id,
         string_split_regex(trim(text), '\s+') AS toks,
         length(text) AS n,
         length(regexp_replace(text, '[!-/:-@\[-`{-~]', '', 'g'))
           AS n_nopunct,
         CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
              x -> list_contains(""" + _SW_SQL + r""", x))) AS DOUBLE)
           AS n_stop
  FROM documents
),
f AS (
  SELECT doc_id,
         least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0) AS x1,
         n_stop / len(toks) AS x2,
         CAST(n - n_nopunct AS DOUBLE) / n AS x3,
         (CAST(n AS DOUBLE) / len(toks)) / 10.0 AS x4
  FROM t
),
s AS (
  SELECT doc_id,
         (((-0.8 + 1.2 * x1) + 3.0 * x2) + -2.5 * x3) + 0.4 * x4 AS s
  FROM f
)
SELECT doc_id,
       round(s, 6) AS score,
       round(0.5 + 0.5 * (s / (1.0 + abs(s))), 6) AS prob,
       0.5 + 0.5 * (s / (1.0 + abs(s))) >= 0.5 AS keep
FROM s
"""


def _feature_micros(docs: DataFrame, text_col: str) -> DataFrame:
    """The model_quality_score features quantized to BIGINT micro-units
    (floor(x*1e6 + 0.5) — explicit half-up, round() half-cases differ
    cross-engine) plus the deterministic training label ym: "reads like
    prose" = stopword ratio >= 0.25 AND punctuation ratio <= 0.10.
    All upstream doubles are IEEE quotients of identical integer counts,
    so both engines quantize to the same micro-unit."""
    c = F.col(text_col)
    x1 = F.least(token_count(c).cast("double") / F.lit(100.0), F.lit(1.0))
    x2 = stopword_ratio(c)
    x3 = punct_ratio(c)
    x4 = (F.length(c).cast("double") / token_count(c)) / F.lit(10.0)

    def m(x: Column) -> Column:
        return F.floor(x * F.lit(1e6) + F.lit(0.5)).cast("long")

    return (docs.filter(F.length(c) > 0)
            .select(m(x1).alias("x1m"), m(x2).alias("x2m"),
                    m(x3).alias("x3m"), m(x4).alias("x4m"))
            .withColumn("ym", F.when((F.col("x2m") >= 250_000)
                                     & (F.col("x3m") <= 100_000),
                                     F.lit(1_000_000).cast("long"))
                        .otherwise(F.lit(0).cast("long"))))


_SIG = "(500000 * {s}) DIV (1000000 + abs({s}))"


def train_quality_classifier(docs: DataFrame, epochs: int = 3,
                             lr_micro: int = 500_000,
                             text_col: str = "text") -> DataFrame:
    """Distributed batch-gradient trainer for the linear quality model —
    the stage that PRODUCES weights like ``MODEL_W`` (closing the loop
    with ``model_quality_score``, which consumes them at scan speed).

    Full-batch logistic-style descent with the algebraic sigmoid, EXACT
    cross-engine via BIGINT micro-units (the ``pagerank_knn`` /
    ``kmeans_portable`` recipe): features, weights, probabilities, and
    gradients all live as integer millionths, every division is integer
    ``DIV`` (truncating toward zero in BOTH engines — verified for
    negative operands), so partial-aggregation order cannot flip a bit.

    Scale shape per epoch: one full scan of the staged feature table
    (narrow, 5 BIGINTs/row) feeding a single 5-column global aggregate —
    the map-side-combined all-reduce every distributed GD does; the
    weight row is a broadcast. No driver-side data at any point; epochs
    chain declaratively with the 1-row weight relation staged between
    rounds. Returns ONE row: final weights in micro-units
    (w_bias/w_len/w_stop/w_punct/w_wordlen), n_docs, and n_correct
    (training accuracy of the final weights at the p >= 0.5 threshold).

    The label is the deterministic prose heuristic in
    ``_feature_micros`` — at 100 TB you swap in a labeled sample (e.g.
    curated-vs-crawl sources) without touching the epoch dataflow."""
    if epochs < 1:
        raise ValueError("epochs must be >= 1")
    from insight_de_smart_grid_spark.operators.staging import stage

    spark = docs.sparkSession
    feats = stage(_feature_micros(docs, text_col))
    w = spark.range(1).select(
        *[F.lit(0).cast("long").alias(n)
          for n in ("b", "w1", "w2", "w3", "w4")])
    score = ("b + (w1*x1m + w2*x2m + w3*x3m + w4*x4m) DIV 1000000")
    for _ in range(epochs):
        resid = (feats.join(F.broadcast(w))
                 .withColumn("s", F.expr(score))
                 .withColumn("r", F.lit(500_000)
                             + F.expr(_SIG.format(s="s")) - F.col("ym")))
        # Gradient sums accumulate as DECIMAL(38,0) (exact to ~1e38), not
        # BIGINT: the per-row summands reach ~1e6-1e11 micro-units, so a
        # BIGINT sum would wrap silently (non-ANSI) somewhere past ~1e7
        # rows while the DuckDB twin sums into HUGEINT — the decimal
        # accumulator keeps the cross-engine bit-exactness contract at
        # corpus scale. Per-row products/DIVs stay as before (identical
        # truncation order); only the accumulator type widens, and DIV on
        # decimal operands truncates toward zero into BIGINT exactly like
        # integer DIV (verified incl. negative operands).
        grads = resid.agg(
            F.expr("sum(cast(r as decimal(38,0))) DIV count(1)")
            .alias("g0"),
            *[F.expr(f"sum(cast((cast(r as decimal(38,0)) * x{j}m)"
                     f" DIV 1000000 as decimal(38,0))) DIV count(1)")
              .alias(f"g{j}") for j in (1, 2, 3, 4)])
        w = stage(
            w.join(F.broadcast(grads)).select(
                (F.col("b") - F.expr(f"({lr_micro} * g0) DIV 1000000"))
                .alias("b"),
                *[(F.col(f"w{j}")
                   - F.expr(f"({lr_micro} * g{j}) DIV 1000000"))
                  .alias(f"w{j}") for j in (1, 2, 3, 4)]))
    ev = (feats.join(F.broadcast(w))
          .withColumn("s", F.expr(score))
          .withColumn("p", F.lit(500_000) + F.expr(_SIG.format(s="s")))
          .agg(F.count(F.lit(1)).alias("n_docs"),
               F.sum(F.when((F.col("p") >= 500_000)
                            == (F.col("ym") == 1_000_000), 1)
                     .otherwise(0)).cast("long").alias("n_correct")))
    return (w.join(F.broadcast(ev))
            .select(F.col("b").alias("w_bias"), F.col("w1").alias("w_len"),
                    F.col("w2").alias("w_stop"),
                    F.col("w3").alias("w_punct"),
                    F.col("w4").alias("w_wordlen"),
                    "n_docs", "n_correct"))


def train_quality_classifier_oracle_sql(epochs: int = 3,
                                        lr_micro: int = 500_000) -> str:
    """Epochs unrolled as chained CTEs over the same BIGINT micro-units
    (`//` truncates toward zero like Spark's DIV, negative operands
    included). Aggregates CAST to BIGINT: DuckDB sums integers into
    HUGEINT, which would mismatch the driver's schema compare."""
    if epochs < 1:
        raise ValueError("epochs must be >= 1")
    sig = "(500000 * {s}) // (1000000 + abs({s}))"
    rounds = []
    prev = "w0"
    for t in range(1, epochs + 1):
        rounds.append(f"""
resid{t} AS (
  SELECT f.*,
         500000 + {sig.format(s=f'(w.b + (w.w1*f.x1m + w.w2*f.x2m + w.w3*f.x3m + w.w4*f.x4m) // 1000000)')} - f.ym AS r
  FROM feats f, {prev} w
),
grads{t} AS (
  SELECT CAST(sum(r) // count(*) AS BIGINT) AS g0,
         CAST(sum((r * x1m) // 1000000) // count(*) AS BIGINT) AS g1,
         CAST(sum((r * x2m) // 1000000) // count(*) AS BIGINT) AS g2,
         CAST(sum((r * x3m) // 1000000) // count(*) AS BIGINT) AS g3,
         CAST(sum((r * x4m) // 1000000) // count(*) AS BIGINT) AS g4
  FROM resid{t}
),
w{t} AS (
  SELECT CAST(w.b  - ({lr_micro} * g.g0) // 1000000 AS BIGINT) AS b,
         CAST(w.w1 - ({lr_micro} * g.g1) // 1000000 AS BIGINT) AS w1,
         CAST(w.w2 - ({lr_micro} * g.g2) // 1000000 AS BIGINT) AS w2,
         CAST(w.w3 - ({lr_micro} * g.g3) // 1000000 AS BIGINT) AS w3,
         CAST(w.w4 - ({lr_micro} * g.g4) // 1000000 AS BIGINT) AS w4
  FROM {prev} w, grads{t} g
)""")
        prev = f"w{t}"
    return f"""
WITH t AS (
  SELECT string_split_regex(trim(text), '\\s+') AS toks,
         length(text) AS n,
         length(regexp_replace(text, '[!-/:-@\\[-`{{-~]', '', 'g'))
           AS n_nopunct,
         CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
              x -> list_contains({_SW_SQL}, x))) AS DOUBLE)
           AS n_stop
  FROM documents WHERE length(text) > 0
),
fx AS (
  SELECT least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0) AS x1,
         n_stop / len(toks) AS x2,
         CAST(n - n_nopunct AS DOUBLE) / n AS x3,
         (CAST(n AS DOUBLE) / len(toks)) / 10.0 AS x4
  FROM t
),
feats AS (
  SELECT CAST(floor(x1 * 1e6 + 0.5) AS BIGINT) AS x1m,
         CAST(floor(x2 * 1e6 + 0.5) AS BIGINT) AS x2m,
         CAST(floor(x3 * 1e6 + 0.5) AS BIGINT) AS x3m,
         CAST(floor(x4 * 1e6 + 0.5) AS BIGINT) AS x4m,
         CASE WHEN CAST(floor(x2 * 1e6 + 0.5) AS BIGINT) >= 250000
                   AND CAST(floor(x3 * 1e6 + 0.5) AS BIGINT) <= 100000
              THEN CAST(1000000 AS BIGINT) ELSE CAST(0 AS BIGINT)
         END AS ym
  FROM fx
),
w0 AS (
  SELECT CAST(0 AS BIGINT) AS b, CAST(0 AS BIGINT) AS w1,
         CAST(0 AS BIGINT) AS w2, CAST(0 AS BIGINT) AS w3,
         CAST(0 AS BIGINT) AS w4
),{','.join(rounds)},
ev AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(CASE WHEN (500000 + {sig.format(s=f'(w.b + (w.w1*f.x1m + w.w2*f.x2m + w.w3*f.x3m + w.w4*f.x4m) // 1000000)')} >= 500000)
                            = (f.ym = 1000000)
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
  FROM feats f, {prev} w
)
SELECT w.b AS w_bias, w.w1 AS w_len, w.w2 AS w_stop, w.w3 AS w_punct,
       w.w4 AS w_wordlen, ev.n_docs, ev.n_correct
FROM {prev} w, ev
"""
