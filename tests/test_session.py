"""The session module is the one owner of environment reads and of the
runtime shuffle width: ``shuffle_width`` scopes
``spark.sql.shuffle.partitions`` (LIFO on one thread, loud on a second),
and a structural guard keeps env knobs and hand-rolled width set/restore
copies from coming back anywhere else in the package. A second guard
keeps temp-dir creation in ``operators/staging.py``, the owner of a
query's leftovers, and a third keeps streaming writes in the modules
that own them. ``runtime_conf`` also gives the Python workers the
package's import path."""

from __future__ import annotations

import ast
import os
import re
import subprocess
import sys
import textwrap
import threading
from pathlib import Path

import pytest

from insight_de_smart_grid_spark import session
from insight_de_smart_grid_spark.session import shuffle_width
from tests.conftest import REPO, SF_SMOKE

SHUFFLE = "spark.sql.shuffle.partitions"


def _in_thread(fn):
    """Run ``fn`` on a second thread; return what it raised (or None)."""
    out = {}

    def run():
        try:
            fn()
        except Exception as exc:  # reported to the caller
            out["exc"] = exc

    t = threading.Thread(target=run)
    t.start()
    t.join(timeout=60)
    assert not t.is_alive()
    return out.get("exc")


def _enter(spark, n):
    with shuffle_width(spark, n):
        pass


def test_second_thread_cannot_enter_a_held_scope(spark):
    before = spark.conf.get(SHUFFLE)
    with shuffle_width(spark, 3):
        exc = _in_thread(lambda: _enter(spark, 5))
        assert isinstance(exc, RuntimeError)
        assert spark.conf.get(SHUFFLE) == "3"  # the holder's width stands
    assert spark.conf.get(SHUFFLE) == before
    # released: the other thread may scope the width now
    assert _in_thread(lambda: _enter(spark, 5)) is None
    assert spark.conf.get(SHUFFLE) == before


def test_contending_threads_never_see_a_foreign_width(spark):
    """More threads than cores race for the scope: each one that gets in
    sees only its own width for the whole scope, every other entry fails
    loudly, and the session width is restored at the end."""
    before = spark.conf.get(SHUFFLE)
    held, refused, foreign = [], [], []

    def worker(n):
        for _ in range(20):
            try:
                with shuffle_width(spark, n):
                    held.append(n)
                    for _ in range(3):
                        if spark.conf.get(SHUFFLE) != str(n):
                            foreign.append(n)
            except RuntimeError:
                refused.append(n)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=worker, args=(n,))
                   for n in range(2, 18)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert not foreign
    assert len(held) + len(refused) == 16 * 20 and held
    assert spark.conf.get(SHUFFLE) == before


def test_nested_scopes_restore_lifo_and_none_is_a_noop(spark):
    before = spark.conf.get(SHUFFLE)
    with shuffle_width(spark, 3):
        with shuffle_width(spark, 5):
            assert spark.conf.get(SHUFFLE) == "5"
            with shuffle_width(spark, None):
                assert spark.conf.get(SHUFFLE) == "5"
        assert spark.conf.get(SHUFFLE) == "3"
    assert spark.conf.get(SHUFFLE) == before
    with shuffle_width(spark, None):
        # a no-op scope claims nothing another thread could trip on
        assert _in_thread(lambda: _enter(spark, 5)) is None


def test_scope_restores_on_error(spark):
    before = spark.conf.get(SHUFFLE)
    with pytest.raises(ValueError):
        with shuffle_width(spark, 3):
            raise ValueError("boom")
    assert spark.conf.get(SHUFFLE) == before
    assert _in_thread(lambda: _enter(spark, 5)) is None


def test_env_knobs_and_shuffle_width_live_in_session():
    """Only ``session.py`` reads the environment, names a
    ``SPARK_GRAFT_*`` variable (just ``CPUS`` and ``DRIVER_MEM``) or sets
    ``spark.sql.shuffle.partitions`` at runtime; everything else goes
    through ``get_spark`` and ``shuffle_width``."""
    allowed = {"SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM"}
    hits = []
    for f in sorted(Path(session.__file__).parent.rglob("*.py")):
        own = f == Path(session.__file__)
        for node in ast.walk(ast.parse(f.read_text())):
            where = f"{f.name}:{getattr(node, 'lineno', '?')}"
            if isinstance(node, ast.Constant) and isinstance(node.value,
                                                             str):
                for name in re.findall(r"SPARK_GRAFT_\w*", node.value):
                    if not (own and name in allowed):
                        hits.append(f"{where}:{name}")
            elif (isinstance(node, ast.Attribute)
                  and node.attr in ("environ", "getenv") and not own):
                hits.append(f"{where}:os.{node.attr}")
            elif (isinstance(node, ast.Call) and not own
                  and isinstance(node.func, ast.Attribute)
                  and node.func.attr == "set" and node.args
                  and isinstance(node.args[0], ast.Constant)
                  and node.args[0].value == SHUFFLE):
                hits.append(f"{where}:conf.set({SHUFFLE})")
    assert not hits


def scratch_and_pin_knob_sites(package: Path) -> list:
    """``mkdtemp`` references outside ``operators/staging.py`` and
    ``materialize`` parameters anywhere in ``package``."""
    hits = []
    for f in sorted(package.rglob("*.py")):
        own = f == package / "operators" / "staging.py"
        for node in ast.walk(ast.parse(f.read_text())):
            where = f"{f.name}:{getattr(node, 'lineno', '?')}"
            if not own and (
                    isinstance(node, ast.Attribute) and node.attr == "mkdtemp"
                    or isinstance(node, ast.alias) and node.name == "mkdtemp"):
                hits.append(f"{where}:mkdtemp")
            elif isinstance(node, ast.arg) and node.arg == "materialize":
                hits.append(f"{where}:materialize")
    return hits


def test_scratch_dirs_and_pins_have_one_owner():
    """Only ``operators/staging.py`` makes temp dirs: everything else asks
    ``scratch_dir``, which hands the dir to the open ``checkpoint_scope``.
    No function takes a ``materialize`` switch: staging always pins, and
    the scope releases."""
    assert scratch_and_pin_knob_sites(Path(session.__file__).parent) == []


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
    package = Path(session.__file__).parent
    hits = []
    for f in sorted(package.rglob("*.py")):
        rel = f.relative_to(package).as_posix()
        for node in ast.walk(ast.parse(f.read_text())):
            where = f"{rel}:{getattr(node, 'lineno', '?')}"
            if isinstance(node, ast.Constant) and node.value == "memory":
                hits.append(f"{where}:memory")
            elif (isinstance(node, ast.Attribute)
                  and node.attr == "writeStream"
                  and rel not in WRITE_STREAM_OWNERS):
                hits.append(f"{where}:writeStream")
    assert not hits


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
