"""One lifecycle for what a query leaves behind: ``checkpoint_scope``.

A query leaves two kinds of leftovers. Staging operators pin RDD blocks:
the hashed shingle table (``dedup.ngram_jaccard_pairs``), the LSH
signature table (``similarity.cosine_pairs_blocked`` / ``knn_graph``),
the kNN edge list (``label_propagation`` / ``pagerank_knn``), the segment
index sides (``relational.passjoin_fuzzy_match``) go through ``stage``,
a ``localCheckpoint`` that truncates lineage so several consumers read
one copy from block storage. Streaming replays, index roots and staged
sources take scratch dirs from ``scratch_dir``.

The contract: run the query inside ``checkpoint_scope(spark)`` and fully
consume its result (collect / write) before the scope closes. On exit
the scope unpersists every RDD pinned inside it, then removes every
scratch dir created inside it. Lineage was truncated and the dirs hold
the sinks a result may be read back from, so a frame used after the
scope cannot be recomputed. Scopes nest: each releases only its own pins
and dirs.

Every scratch file still has an owner outside a scope: a dir made
outside any scope goes under the process scratch root
(``process_root``), which also holds the driver JVM's temp dir
(``session.get_spark``) and is removed when the process exits. A caller
without a scope (the driver contract's ``queries()``) can read a result
lazily for as long as the process lives, and leaves nothing behind.

Scopes are process-wide, not per thread: ``scratch_dir`` registers with
the innermost open scope whatever thread asks, and a scope unpersists
every RDD pinned on the context since it opened. Two scopes open at once
on two threads can therefore remove each other's dirs and pins; run
concurrent queries inside one enclosing scope.

``tests/test_staging.py`` pins both halves (bounded
``getPersistentRDDs`` growth under repeated invocation; no dir left
behind by a replay, an index root or an ingest stream).
"""
from __future__ import annotations

import atexit
import shutil
import tempfile
import threading
from contextlib import contextmanager
from typing import Iterator, List, Set

from pyspark.sql import DataFrame, SparkSession

# Open scopes' dir lists, innermost last. Process-wide rather than
# thread-local: slice staging runs on worker threads and ``foreachBatch``
# on the py4j callback thread, both inside the caller's scope.
_LOCK = threading.RLock()
_SCOPES: List[List[str]] = []
_ROOT: List[str] = []  # the process scratch root, once made


def stage(df: DataFrame, eager: bool = False) -> DataFrame:
    """Stage a shared subplan with ``localCheckpoint``: lineage truncated,
    blocks pinned until the enclosing ``checkpoint_scope`` exits.

    ``eager=False`` (default) defers the materializing job to the first
    action — the extra job is only paid if a consumer actually runs.
    Iterative operators that re-read the frame every round want
    ``eager=True`` so the cut happens before the loop fans out.
    """
    return df.localCheckpoint(eager=eager)


def process_root() -> str:
    """The process scratch root: made in the temp dir on first use,
    removed with everything under it when the process exits."""
    with _LOCK:
        if not _ROOT:
            _ROOT.append(tempfile.mkdtemp(prefix="igrid_"))
            atexit.register(shutil.rmtree, _ROOT[0], True)
        return _ROOT[0]


def scratch_dir(prefix: str) -> str:
    """A fresh temp dir, owned by the innermost open ``checkpoint_scope``
    (removed when it exits), or outside any scope made under
    ``process_root`` (removed at exit)."""
    with _LOCK:
        if not _SCOPES:
            return tempfile.mkdtemp(prefix=prefix, dir=process_root())
        d = tempfile.mkdtemp(prefix=prefix)
        _SCOPES[-1].append(d)
        return d


def pinned_rdd_ids(spark: SparkSession) -> Set[int]:
    """Ids of every RDD currently registered persistent on the context —
    localCheckpoint pins land here. Synchronous with persist/unpersist
    (unlike ``getRDDStorageInfo``, whose block counts update async)."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {e.getKey() for e in jmap.entrySet().toArray()}


@contextmanager
def checkpoint_scope(spark: SparkSession) -> Iterator[None]:
    """Release every RDD pinned and every scratch dir created inside the
    scope on exit.

    Usage::

        with checkpoint_scope(spark):
            rows = jaccard_threshold_sweep(docs).collect()  # consume HERE
        # all shingle-table / pair-graph blocks released

    Non-blocking unpersist: the persistent-RDD registry drops the entries
    synchronously (what ``pinned_rdd_ids`` reads); block eviction proceeds
    in the background. The dirs go after the unpersist.
    """
    before = pinned_rdd_ids(spark)
    owned: List[str] = []
    with _LOCK:
        _SCOPES.append(owned)
    try:
        yield
    finally:
        try:
            jmap = spark.sparkContext._jsc.getPersistentRDDs()
            for e in jmap.entrySet().toArray():
                if e.getKey() not in before:
                    e.getValue().unpersist(False)
        finally:
            with _LOCK:
                _SCOPES[:] = [s for s in _SCOPES if s is not owned]
            for d in owned:
                shutil.rmtree(d, ignore_errors=True)
