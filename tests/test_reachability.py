"""Reachability guard: every top-level def in the package must be reached
from something that runs, or be named in ``ALLOWED`` with its reason.

The roots are the bodies of ``@register`` queries, the package's
module-level code, ``examples/``, ``bench.py``, ``__spark_entry__.py`` and
the non-test ``perfbench/`` files. Tests are not roots: a def that only a
test calls is dead surface. A reached def's body reaches every name it
mentions, to a fixed point.

Names resolve by bare name (an ``ast.Name`` id or an ``ast.Attribute``
attr), not by module. Two defs that share a name are both reached when one
is, so a collision can only hide a dead def; it never flags a live one.

Module-level constants get the same guard: a name a package module
assigns at top level must be read by some package code or some root, by
the same bare-name rule.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PACKAGE = "insight_de_smart_grid_spark"

# Entry points kept although no root reaches them: name -> reason.
ALLOWED = {
    # PARITY §2 reference entry points (the row id leads each reason)
    "kafka_reader": "S1/ST8: Kafka source with the late-data options; "
                    "connector-gated, no broker in the test env",
    "kafka_sink": "S4/S5: streaming and batch Kafka sink; connector-gated",
    "duty_cycle_kafka_pipeline": "S1/S2/S4: the reference's Kafka -> Avro "
                                 "-> duty cycle -> Kafka deployment, "
                                 "composed from the gated S1/S2/S4 builders",
    "decode_avro_stream": "S2: from_avro decode; spark-avro jar-gated",
    "avro_available": "S2: the spark-avro jar gate",
    "read_redd_channels": "S6: space-delimited REDD channel scan",
    "read_greend_csv": "S6: ragged GREEND CSV scan with embedded headers",
    "ReddDataSource": "S6: pluggable format('redd') Python DataSource",
    "read_labels_json": "S7: labels.json lookup dim",
    "write_rollup": "S8: (date, hour)-partitioned rollup cube write",
    # batch side of a batch == stream contract test
    "ewma_batch": "batch twin of ewma_stream",
    "purchase_click_batch": "batch twin of the purchase/click stream join",
    "dedup_batch": "batch twin of the streaming dedup",
    # a twin a test cross-checks the registered form against
    "session_agg_builtin": "session_window twin of the sessionize operator",
    # reader/GC synchronisation for persisted indexes
    "pin_snapshot": "pins a manifest snapshot against GC",
    "unpin_snapshot": "releases a snapshot pin",
    "expire_pins": "expires pins abandoned by crashed readers",
    "pinned_index": "scoped pin_snapshot/unpin_snapshot for a reader",
    # plans/sql_surface.py: the spark.sql entry point
    "create_views": "sql_surface: registers the tables as SQL views",
    "run_sql": "sql_surface: runs a registered query's SQL text",
    # streaming/monitor.py: the progress and metrics capture a per-query
    # trace builds on
    "ProgressCapture": "monitor: StreamingQueryListener progress capture",
    "observe_load": "monitor: in-plan Observation metrics",
}


def _names(node: ast.AST) -> set:
    return {n.id if isinstance(n, ast.Name) else n.attr
            for n in ast.walk(node)
            if isinstance(n, (ast.Name, ast.Attribute))}


def _is_registered(node: ast.AST) -> bool:
    for dec in getattr(node, "decorator_list", ()):
        f = dec.func if isinstance(dec, ast.Call) else dec
        if getattr(f, "id", getattr(f, "attr", None)) == "register":
            return True
    return False


def _defs_and_roots(repo: Path) -> "tuple[dict, set]":
    """Top-level package defs as ``"module.py:name" -> names its body
    mentions``, and the names the roots mention."""
    defs, roots = {}, set()
    for f in sorted((repo / PACKAGE).rglob("*.py")):
        where = f.relative_to(repo / PACKAGE).as_posix()
        for st in ast.parse(f.read_text()).body:
            if (isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef,
                                ast.ClassDef))
                    and not _is_registered(st)):
                defs[f"{where}:{st.name}"] = _names(st)
            else:
                roots |= _names(st)
    for f in _root_files(repo):
        roots |= _names(ast.parse(f.read_text()))
    return defs, roots


def _root_files(repo: Path) -> list:
    return [repo / "bench.py", repo / "__spark_entry__.py",
            *sorted((repo / "examples").rglob("*.py")),
            *[f for f in sorted((repo / "perfbench").rglob("*.py"))
              if not f.name.startswith("test_")]]


def _closure(defs: dict, roots: set) -> set:
    reached, frontier = set(roots), set(roots)
    while frontier:
        new = set()
        for key, refs in defs.items():
            if key.rsplit(":", 1)[1] in frontier:
                new |= refs
        frontier = new - reached
        reached |= frontier
    return reached


def unreachable(repo: Path) -> list:
    """``"module.py:name"`` of every top-level package def that neither the
    roots nor the allowed names reach."""
    defs, roots = _defs_and_roots(repo)
    reached = _closure(defs, roots | set(ALLOWED))
    return sorted(k for k in defs if k.rsplit(":", 1)[1] not in reached)


def unread_constants(repo: Path) -> list:
    """``"module.py:NAME"`` of every top-level package assignment whose
    name no package code and no root reads (dunders aside)."""
    consts, reads = [], set()
    for f in sorted((repo / PACKAGE).rglob("*.py")):
        where = f.relative_to(repo / PACKAGE).as_posix()
        tree = ast.parse(f.read_text())
        for st in tree.body:
            if isinstance(st, (ast.Assign, ast.AnnAssign)):
                consts += [f"{where}:{n.id}" for n in ast.walk(st)
                           if isinstance(n, ast.Name)
                           and isinstance(n.ctx, ast.Store)]
        reads |= _reads(tree)
    for f in _root_files(repo):
        reads |= _reads(ast.parse(f.read_text()))
    return sorted(k for k in consts
                  if k.rsplit(":", 1)[1] not in reads
                  and not k.rsplit(":", 1)[1].startswith("__"))


def _reads(tree: ast.AST) -> set:
    return {n.id if isinstance(n, ast.Name) else n.attr
            for n in ast.walk(tree)
            if isinstance(n, ast.Attribute)
            or (isinstance(n, ast.Name) and not isinstance(n.ctx, ast.Store))}


def test_every_package_def_is_reachable():
    dead = unreachable(REPO)
    assert not dead, ("no root reaches these defs; delete them or allow "
                      "them with a reason: " + ", ".join(dead))


def test_allow_list_names_only_unreached_defs():
    """An allowed name must be a package def that no root reaches; once a
    query or an example calls it, its entry goes."""
    defs, roots = _defs_and_roots(REPO)
    reached = _closure(defs, roots)
    names = {k.rsplit(":", 1)[1] for k in defs}
    assert sorted(n for n in ALLOWED if n not in names) == []
    assert sorted(n for n in ALLOWED if n in reached) == []


def test_every_module_constant_is_read():
    unread = unread_constants(REPO)
    assert not unread, ("no package code or root reads these module-level "
                        "names; delete them: " + ", ".join(unread))
