"""The query-leftovers contract of ``operators/staging.py``.

``checkpoint_scope`` owns what a query leaves behind:

- every RDD block a staging operator (shingle inversion, LSH blocking,
  kNN edge lists, PassJoin segment index) pins via ``localCheckpoint``
  inside it is released, so a long-lived session invoking a staging
  operator N times shows BOUNDED persistent-RDD growth;
- every scratch dir (replay checkpoints and sinks, staged sources, index
  roots, ingest slices) created inside it is removed, so a query leaves
  nothing in the temp dir.

Outside any scope the process scratch root owns the dirs, and the driver
JVM's temp files, until the process exits.
"""
from __future__ import annotations

import os
import subprocess
import sys
import tempfile
import textwrap
from concurrent.futures import ThreadPoolExecutor

import pytest

from insight_de_smart_grid_spark.operators import dedup, similarity
from insight_de_smart_grid_spark.operators.staging import (
    checkpoint_scope, pinned_rdd_ids)
from insight_de_smart_grid_spark.plans.registry import QUERIES
from tests.conftest import REPO, SF_SMOKE


def _docs(spark):
    return spark.read.parquet(f"{SF_SMOKE}/documents.parquet")


def _emb(spark):
    return spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")


def test_checkpoint_scope_releases_sweep_pins(spark):
    """The verdict's leak scenario: repeated `jaccard_threshold_sweep`
    calls in one session. Inside the scope blocks pin (staging works);
    after N scoped invocations the persistent-RDD registry is back to its
    baseline — growth is bounded at zero, not linear in N."""
    docs = _docs(spark)
    baseline = pinned_rdd_ids(spark)
    for _ in range(3):
        with checkpoint_scope(spark):
            rows = dedup.jaccard_threshold_sweep(docs).collect()
            assert len(rows) >= 1
    assert pinned_rdd_ids(spark) <= baseline


def test_checkpoint_scope_releases_eager_iteration_pins(spark):
    """Eager-checkpoint iterators (blast radius BFS) release too."""
    docs = _docs(spark).limit(200)
    baseline = pinned_rdd_ids(spark)
    with checkpoint_scope(spark):
        dedup.near_dup_blast_radius(docs, max_hops=2).collect()
        assert len(pinned_rdd_ids(spark)) >= len(baseline)
    assert pinned_rdd_ids(spark) <= baseline


def test_pagerank_scope_bounded(spark):
    emb = _emb(spark).limit(200)
    baseline = pinned_rdd_ids(spark)
    for _ in range(2):
        with checkpoint_scope(spark):
            similarity.pagerank_knn(emb, iters=2).collect()
    assert pinned_rdd_ids(spark) <= baseline


def test_nested_scopes_release_only_inner(spark):
    docs = _docs(spark).limit(100)
    baseline = pinned_rdd_ids(spark)
    with checkpoint_scope(spark):
        outer = dedup.ngram_jaccard_pairs(docs)
        outer_n = outer.count()          # pins outer's shingle table
        outer_pinned = pinned_rdd_ids(spark)
        with checkpoint_scope(spark):
            dedup.containment_pairs(docs).collect()
        # inner's pins gone, outer's survive — and stay readable
        assert pinned_rdd_ids(spark) <= outer_pinned
        assert outer.count() == outer_n
    assert pinned_rdd_ids(spark) <= baseline


def test_scope_removes_scratch_dirs(spark, tmp_path, monkeypatch):
    """One registered query of each scratch shape, fully consumed inside
    one scope, leaves the temp dir empty and the session catalog as it
    found it: a sentinel replay, a complete-mode replay and a
    stream-stream join replay (each with its parquet sink and
    checkpoint), an index root, and an ingest stream (slice staging on
    worker threads, commits from ``foreachBatch`` on the callback
    thread)."""
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp))
    names = ("streaming_duty_cycle", "streaming_topk",
             "streaming_interval_join", "dedup_index_incremental",
             "streaming_dedup_index_ingest")
    tables = spark.catalog.listTables()
    with checkpoint_scope(spark):
        for name in names:
            assert QUERIES[name].fn(spark, SF_SMOKE).collect() is not None
        assert os.listdir(tmp)  # the queries did stage into it
    assert os.listdir(tmp) == []
    assert spark.catalog.listTables() == tables


@pytest.mark.no_query_scope
def test_nested_scopes_remove_only_their_own_dirs(spark, tmp_path,
                                                  monkeypatch):
    """An inner scope removes only the dirs made inside it; a dir made
    outside any scope goes under the process scratch root and survives
    both scopes."""
    from insight_de_smart_grid_spark.operators import staging
    from insight_de_smart_grid_spark.operators.staging import scratch_dir

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    assert staging._SCOPES == []  # no scope owns what comes next
    loose = scratch_dir("loose_")
    assert os.path.dirname(loose) == staging.process_root()
    with checkpoint_scope(spark):
        outer = scratch_dir("outer_")
        with checkpoint_scope(spark):
            inner = scratch_dir("inner_")
        assert os.path.isdir(outer)
        assert not os.path.exists(inner)
    assert not os.path.exists(outer)
    assert os.path.isdir(loose)


def test_scope_owns_dirs_from_contending_threads(spark, tmp_path,
                                                 monkeypatch):
    """Dirs made on worker threads belong to the open scope: 16 threads
    registering at once under a shortened switch interval, and a lost
    registration would leave its dir behind after the scope."""
    from insight_de_smart_grid_spark.operators.staging import scratch_dir

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with checkpoint_scope(spark):
            with ThreadPoolExecutor(16) as pool:
                made = list(pool.map(lambda i: scratch_dir(f"t{i}_"),
                                     range(400)))
            assert len(set(made)) == len(os.listdir(tmp_path)) == 400
    finally:
        sys.setswitchinterval(interval)
    assert os.listdir(tmp_path) == []


def test_queries_without_a_scope_leave_an_empty_temp_dir(tmp_path):
    """A process that collects two replays through the driver contract's
    ``queries()``, with no ``checkpoint_scope``, and exits leaves its temp
    dir empty: the replay dirs, the staged sources and the driver JVM's
    temp files all went under the process scratch root. The driver JVM
    also keeps the deployment's options from ``spark-defaults.conf``."""
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text(
        "spark.driver.extraJavaOptions -Digrid.defaults=kept\n")
    script = tmp_path / "collect.py"
    script.write_text(textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {str(REPO)!r})
        import __spark_entry__ as entry
        from insight_de_smart_grid_spark.session import get_spark
        spark = get_spark(app_name="scratch_root_probe", master="local[1]")
        print("JVM_TMP", spark.sparkContext._jvm.System.getProperty(
            "java.io.tmpdir"))
        print("DEFAULTS", spark.sparkContext._jvm.System.getProperty(
            "igrid.defaults"))
        for name in ("streaming_topk", "streaming_interval_join"):
            print(name, len(entry.queries()[name](spark, {SF_SMOKE!r})
                            .collect()))
    """))
    env = {k: v for k, v in os.environ.items()
           if k not in ("JAVA_TOOL_OPTIONS", "SPARK_LOCAL_DIRS")}
    env.update(SPARK_GRAFT_DRIVER_MEM="1g", TMPDIR=str(tmp),
               SPARK_CONF_DIR=str(conf))
    out = subprocess.run([sys.executable, str(script)], cwd=tmp_path,
                         env=env, capture_output=True, text=True,
                         timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    assert f"JVM_TMP {tmp}/" in out.stdout
    assert "DEFAULTS kept" in out.stdout
    assert "streaming_topk" in out.stdout
    assert os.listdir(tmp) == []
