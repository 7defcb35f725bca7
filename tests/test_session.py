"""The session module is the one owner of environment reads and of the
runtime shuffle width: ``shuffle_width`` scopes
``spark.sql.shuffle.partitions`` (LIFO on one thread, loud on a second),
and a structural guard keeps env knobs and hand-rolled width set/restore
copies from coming back anywhere else in the package. A second guard
keeps temp-dir creation in ``operators/staging.py``, the owner of a
query's leftovers."""

from __future__ import annotations

import ast
import re
import sys
import threading
from pathlib import Path

import pytest

from insight_de_smart_grid_spark import session
from insight_de_smart_grid_spark.session import shuffle_width

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
    through ``get_spark`` and ``shuffle_width``. No module passes a
    literal ``state_partitions=`` (a number or ``None``): the state width
    has one source, ``streaming.replay.state_width``."""
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
            elif isinstance(node, ast.Call):
                hits.extend(f"{where}:state_partitions=literal"
                            for kw in node.keywords
                            if kw.arg == "state_partitions"
                            and isinstance(kw.value, ast.Constant))
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
