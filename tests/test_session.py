"""The session module is the one owner of environment reads and of
session conf: a query that needs its own shuffle width runs in a
``query_session``, so two replays on two threads keep their own widths
and the caller's conf never changes. Structural guards keep env knobs,
conf writes, child sessions and global temp views in ``session.py``. A
further guard keeps temp-dir creation in ``operators/staging.py``, the
owner of a query's leftovers, and another keeps streaming writes in the
modules that own them. ``runtime_conf`` also gives the Python workers
the package's import path."""

from __future__ import annotations

import ast
import os
import re
import subprocess
import sys
import textwrap
import time
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import duckdb
import pytest
from pyspark.sql import functions as F

from insight_de_smart_grid_spark import session
from insight_de_smart_grid_spark.operators.staging import process_root
from insight_de_smart_grid_spark.plans.registry import QUERIES
from insight_de_smart_grid_spark.sources.tables import events_to_readings
from insight_de_smart_grid_spark.streaming.duty_cycle_stream import (
    duty_cycle_stream_plan,
)
from insight_de_smart_grid_spark.streaming.replay import state_width
from insight_de_smart_grid_spark.streaming.sliding_stream import (
    run_sliding_stream,
)
from tests.conftest import REPO, SF_ORACLE, SF_SMOKE
from tests.oracle import compare

SHUFFLE = "spark.sql.shuffle.partitions"


def test_query_session_leaves_the_caller_alone(spark):
    """A query session has the caller's current conf and its own width;
    the caller's width stays as it was. A conf the caller sets or unsets
    after the child was made reaches the child on the next call. Queries
    at one width reuse one child, so the listener bus each streaming
    session leaves on the context does not pile up."""
    before = spark.conf.get(SHUFFLE)
    qs = session.query_session(spark, 3)
    assert qs is not spark
    assert qs.sparkContext is spark.sparkContext
    assert qs.conf.get(SHUFFLE) == "3"
    for key in ("spark.sql.ansi.enabled",
                "spark.sql.legacy.parquet.nanosAsLong",
                "spark.sql.adaptive.coalescePartitions.minPartitionSize"):
        assert qs.conf.get(key) == spark.conf.get(key)
    key = "spark.sql.streaming.stateStore.providerClass"
    assert spark.conf.get(key, None) is None
    spark.conf.set(key, "org.apache.spark.sql.execution.streaming."
                        "state.RocksDBStateStoreProvider")
    try:
        assert session.query_session(spark, 3) is qs
        assert qs.conf.get(key) == spark.conf.get(key)
    finally:
        spark.conf.unset(key)
    assert session.query_session(spark, 3) is qs
    assert qs.conf.get(key, None) is None
    assert spark.conf.get(SHUFFLE) == before


def test_driver_java_options_keep_the_deployments(tmp_path, monkeypatch):
    """``get_spark`` starts the driver JVM with the deployment's
    ``spark.driver.extraJavaOptions`` from ``spark-defaults.conf`` and the
    scratch tmpdir after them; a deployment that picks the JVM's temp dir
    itself keeps its options as they are."""
    defaults = tmp_path / "spark-defaults.conf"
    defaults.write_text("# deployment\nspark.driver.extraJavaOptions  "
                        "-XX:+UseG1GC -Dlog4j.configurationFile=l.xml\n")
    monkeypatch.setenv("SPARK_CONF_DIR", str(tmp_path))
    monkeypatch.delenv("JAVA_TOOL_OPTIONS", raising=False)
    assert session.driver_java_options() == (
        "-XX:+UseG1GC -Dlog4j.configurationFile=l.xml "
        f"-Djava.io.tmpdir={process_root()}")
    monkeypatch.setenv("JAVA_TOOL_OPTIONS", "-Djava.io.tmpdir=/elsewhere")
    assert session.driver_java_options() is None
    monkeypatch.delenv("JAVA_TOOL_OPTIONS")
    defaults.write_text(
        "spark.driver.extraJavaOptions=-Djava.io.tmpdir=/elsewhere\n")
    assert session.driver_java_options() is None


def test_two_replays_run_at_their_own_widths_at_once(spark):
    """Two replays of ``streaming_duty_cycle`` on two threads at once,
    inside the one enclosing ``checkpoint_scope`` of the test: inputs
    whose state widths differ on this host each run their state at their
    own width, both equal the oracle, and the caller's width holds during
    and after."""
    paths = [f"{sf}/events.parquet"
             for sf in (SF_ORACLE, Path(SF_ORACLE).with_name("sf0.1"))]
    widths = [state_width(p) for p in paths]
    if widths[0] == widths[1]:
        pytest.skip(f"both inputs take width {widths[0]} on this host")
    before = spark.conf.get(SHUFFLE)
    seen = set()

    def replay(path):
        progress = []
        out = run_sliding_stream(
            spark, path, duty_cycle_stream_plan, events_to_readings,
            flush_sentinel=True,
            window="10 minutes", slide="2 minutes", watermark="2 seconds",
            progress_out=progress)
        return out.filter(F.col("house_id") != "-1"), progress

    with ThreadPoolExecutor(2) as pool:
        futures = [pool.submit(replay, p) for p in paths]
        while not all(f.done() for f in futures):
            seen.add(spark.conf.get(SHUFFLE))
            time.sleep(0.05)
        results = [f.result() for f in futures]
    assert seen == {before} and spark.conf.get(SHUFFLE) == before
    for path, width, (out, progress) in zip(paths, widths, results):
        ops = [op for p in progress for op in p["stateOperators"]]
        assert ops and {op["numShufflePartitions"] for op in ops} == {width}
        con = duckdb.connect()
        con.execute("SET TimeZone='UTC'")
        con.execute(f"CREATE VIEW events AS SELECT * FROM '{path}'")
        compare(out, con, QUERIES["streaming_duty_cycle"].sql)
        con.close()


def _package_hits(visit) -> list:
    """``visit(node, rel)`` over every AST node of every package module,
    ``rel`` its path inside the package; the non-empty results."""
    package = Path(session.__file__).parent
    hits = []
    for f in sorted(package.rglob("*.py")):
        rel = f.relative_to(package).as_posix()
        for node in ast.walk(ast.parse(f.read_text())):
            hit = visit(node, rel)
            if hit:
                hits.append(f"{rel}:{getattr(node, 'lineno', '?')}:{hit}")
    return hits


def test_env_knobs_and_session_conf_live_in_session():
    """Only ``session.py`` reads the environment, names a
    ``SPARK_GRAFT_*`` variable (just ``CPUS`` and ``DRIVER_MEM``), sets
    session conf, makes a child session or touches a global temp view;
    everything else goes through ``get_spark``, ``query_session`` and
    ``hand_over``. No module names a ``shuffle_width``: a scope that sets
    the shared session's width is gone for good."""
    allowed = {"SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM"}
    owned = {"environ", "getenv", "newSession", "createGlobalTempView",
             "dropGlobalTempView"}

    def visit(node, rel):
        if "shuffle_width" in (getattr(node, "id", None),
                               getattr(node, "attr", None),
                               getattr(node, "name", None)):
            return "shuffle_width"
        if rel == "session.py":
            return None
        if isinstance(node, ast.Constant) and isinstance(node.value, str):
            return ",".join(re.findall(r"SPARK_GRAFT_\w*", node.value))
        if isinstance(node, ast.Attribute) and node.attr in owned:
            return node.attr
        if (isinstance(node, ast.Attribute) and node.attr == "set"
                and isinstance(node.value, ast.Attribute)
                and node.value.attr == "conf"):
            return "conf.set"
        return None

    assert _package_hits(visit) == []
    own = ast.parse(Path(session.__file__).read_text())
    names = {n for node in ast.walk(own) if isinstance(node, ast.Constant)
             and isinstance(node.value, str)
             for n in re.findall(r"SPARK_GRAFT_\w*", node.value)}
    assert names <= allowed


TEMP_DIR_CALLS = {"mkdtemp", "gettempdir"}


def scratch_and_pin_knob_sites(package: Path) -> list:
    """``mkdtemp`` and ``gettempdir`` references outside
    ``operators/staging.py`` and ``materialize`` parameters anywhere in
    ``package``."""
    hits = []
    for f in sorted(package.rglob("*.py")):
        own = f == package / "operators" / "staging.py"
        for node in ast.walk(ast.parse(f.read_text())):
            where = f"{f.name}:{getattr(node, 'lineno', '?')}"
            name = (node.attr if isinstance(node, ast.Attribute)
                    else node.name if isinstance(node, ast.alias) else None)
            if not own and name in TEMP_DIR_CALLS:
                hits.append(f"{where}:{name}")
            elif isinstance(node, ast.arg) and node.arg == "materialize":
                hits.append(f"{where}:materialize")
    return hits


def test_scratch_dirs_and_pins_have_one_owner():
    """Only ``operators/staging.py`` makes temp dirs or names the system
    temp dir: everything else asks ``scratch_dir``, which hands the dir to
    the open ``checkpoint_scope``. No function takes a ``materialize``
    switch: staging always pins, and the scope releases."""
    assert scratch_and_pin_knob_sites(Path(session.__file__).parent) == []


def test_python_sources_stream_through_partitions():
    """No package source subclasses ``SimpleDataSourceStreamReader``,
    which builds every micro-batch on the driver and hands Spark one
    partition: a Python stream reader plans partitions like its batch
    reader and reads them in tasks."""
    def visit(node, rel):
        if "SimpleDataSourceStreamReader" in (getattr(node, "id", None),
                                              getattr(node, "attr", None),
                                              getattr(node, "name", None)):
            return "SimpleDataSourceStreamReader"
        return None

    assert _package_hits(visit) == []


# the modules that start a streaming write, and what each one starts
WRITE_STREAM_OWNERS = {
    "streaming/replay.py": "the one replay and its parquet sink",
    "streaming/stream_ops.py": "the foreachBatch upsert snapshot",
    "operators/index_base.py": "the index ingest stream",
    "plans/sketch_queries.py": "the mock-Kafka pipeline",
    "sources/files.py": "the Kafka sink",
}


def test_streams_write_through_their_owners():
    """No module names Spark's ``memory`` sink, which leaves a named table
    in the session catalog; ``.writeStream`` appears only in the modules
    of ``WRITE_STREAM_OWNERS``. Every other streaming query runs through
    ``replay.replay_parquet_stream``."""
    def visit(node, rel):
        if isinstance(node, ast.Constant) and node.value == "memory":
            return "memory"
        if (isinstance(node, ast.Attribute) and node.attr == "writeStream"
                and rel not in WRITE_STREAM_OWNERS):
            return "writeStream"
        return None

    assert _package_hits(visit) == []


# the one pane engine: the only modules that build a slid or paned window
PANE_ENGINE = {"operators/sliding.py", "streaming/sliding_stream.py"}


def _is_window(node) -> bool:
    return (isinstance(node, ast.Call)
            and getattr(node.func, "attr", None) == "window")


def _names_pane(node) -> bool:
    """``"pane"`` or ``F.col("pane")``."""
    if isinstance(node, ast.Call) and node.args:
        node = node.args[0]
    return isinstance(node, ast.Constant) and node.value == "pane"


def pane_engine_sites(package: Path) -> list:
    """Windows with a slide, windows over or aliased as a ``pane``, and
    ``make_interval`` pane-end arithmetic under ``operators/`` and
    ``streaming/`` outside ``PANE_ENGINE``; and any import of the duty
    cycle into ``operators/sliding.py``."""
    hits = []
    for f in sorted([*(package / "operators").rglob("*.py"),
                     *(package / "streaming").rglob("*.py")]):
        rel = f.relative_to(package).as_posix()
        for node in ast.walk(ast.parse(f.read_text())):
            where = f"{rel}:{getattr(node, 'lineno', '?')}"
            if (rel == "operators/sliding.py"
                    and isinstance(node, ast.ImportFrom)
                    and "duty_cycle" in (node.module or "")):
                hits.append(f"{where}:imports duty_cycle")
            if rel in PANE_ENGINE:
                continue
            if _is_window(node) and (
                    len(node.args) > 2 or _names_pane(node.args[0])
                    or any(k.arg == "slideDuration"
                           for k in node.keywords)):
                hits.append(f"{where}:window")
            elif (isinstance(node, ast.Call)
                  and getattr(node.func, "attr", None) == "alias"
                  and _is_window(node.func.value)
                  and _names_pane(node)):
                hits.append(f"{where}:pane")
            elif (isinstance(node, ast.Constant)
                  and isinstance(node.value, str)
                  and "make_interval" in node.value):
                hits.append(f"{where}:make_interval")
    return hits


def test_one_pane_engine():
    """Slid and paned windows are built in one place, the pane engine
    (``operators/sliding.py`` and ``streaming/sliding_stream.py``); the
    duty cycle and every other sliding query aggregate over it, and the
    engine depends on no query module."""
    assert pane_engine_sites(Path(session.__file__).parent) == []


def test_python_workers_import_the_package_from_any_cwd(tmp_path):
    """A driver started outside the repo root, with the package on its own
    ``sys.path`` only, still runs a package pandas UDF: the workers
    unpickle its module-level helpers by importing the package, and
    ``runtime_conf`` puts the package root on their ``PYTHONPATH``."""
    script = tmp_path / "decode.py"
    script.write_text(textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {str(REPO)!r})
        from insight_de_smart_grid_spark.plans.registry import QUERIES
        from insight_de_smart_grid_spark.session import get_spark
        spark = get_spark(app_name="cwd_probe", master="local[1]")
        rows = QUERIES["multimodal_audio_decode"].fn(
            spark, {SF_SMOKE!r}).collect()
        print("ROWS", len(rows))
    """))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    # a small heap, and the child's temp files under tmp_path
    env.update(SPARK_GRAFT_DRIVER_MEM="1g", TMPDIR=str(tmp_path),
               JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp_path}")
    out = subprocess.run([sys.executable, str(script)], cwd=tmp_path,
                         env=env, capture_output=True, text=True,
                         timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    assert "ROWS" in out.stdout
