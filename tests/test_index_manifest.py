"""Manifest-pointer commit protocol (operators/index_manifest.py) — the
pure-filesystem contracts both index families build on: atomic pointer
bumps, idempotent re-commits, uncommitted-layout rules, and GC scope.
No Spark needed."""

from __future__ import annotations

import json
from pathlib import Path

from insight_de_smart_grid_spark.operators import index_manifest as im


def _mk_seg(path, table, name):
    seg = Path(im.stage_segment(str(Path(path, table)), name))
    seg.mkdir(parents=True, exist_ok=True)
    (seg / "part-0.parquet").write_bytes(b"x")
    return str(seg)


def test_commit_adds_replaces_and_is_idempotent(tmp_path):
    p = str(tmp_path)
    a = _mk_seg(p, "bands", "base")
    man = im.commit(p, replaces={"bands": [a]})
    assert man["version"] == 1
    assert im.live_segments(p, "bands") == [a]

    b = _mk_seg(p, "bands", "a1")
    im.commit(p, adds={"bands": [b]})
    assert im.live_segments(p, "bands") == [a, b]
    # re-committing the same segment (a replayed batch's bump) is a no-op
    # on the list but still bumps the version (the manifest is the WAL)
    man = im.commit(p, adds={"bands": [b]})
    assert im.live_segments(p, "bands") == [a, b]
    assert man["version"] == 3

    c = _mk_seg(p, "bands", "c1")
    im.commit(p, replaces={"bands": [c]})
    assert im.live_segments(p, "bands") == [c]


def test_manifest_paths_are_relative_and_relocatable(tmp_path):
    src = tmp_path / "idx"
    a = _mk_seg(str(src), "docs", "base")
    im.commit(str(src), replaces={"docs": [a]})
    raw = json.loads((src / im.MANIFEST).read_text())
    assert raw["tables"]["docs"] == ["docs/seg-base"]  # no absolute paths
    # move the whole index directory: the manifest still resolves
    dst = tmp_path / "moved"
    src.rename(dst)
    assert im.live_segments(str(dst), "docs") == [
        str(dst / "docs" / "seg-base")]


def test_uncommitted_segments_are_invisible_and_gcd(tmp_path):
    p = str(tmp_path)
    a = _mk_seg(p, "bands", "base")
    im.commit(p, replaces={"bands": [a]})
    orphan = _mk_seg(p, "bands", "crashed")  # staged, never committed
    assert im.live_segments(p, "bands") == [a]
    assert im.gc_unreferenced(p) == 1
    assert not Path(orphan).exists() and Path(a).exists()
    # gc is a no-op when everything on disk is referenced
    assert im.gc_unreferenced(p) == 0


def test_legacy_layout_fallback_rules(tmp_path):
    # a staged-never-committed dir (seg-* children, no manifest) is NOT
    # live — nothing was ever committed
    staged = tmp_path / "new"
    _mk_seg(str(staged), "bands", "base")
    assert im.live_segments(str(staged), "bands") == []
    # and a missing table is simply empty
    assert im.live_segments(str(staged), "docs") == []


def test_commit_is_a_single_pointer_replace(tmp_path, monkeypatch):
    """The only mutation a reader can ever observe is the os.replace of
    MANIFEST.json: a crash in the middle of commit() (before the replace)
    leaves the old manifest byte-identical."""
    import os

    p = str(tmp_path)
    a = _mk_seg(p, "bands", "base")
    im.commit(p, replaces={"bands": [a]})
    before = Path(p, im.MANIFEST).read_bytes()

    real_replace = os.replace

    def dying_replace(src, dst):
        raise OSError("injected crash before the pointer bump")

    b = _mk_seg(p, "bands", "a1")
    monkeypatch.setattr(os, "replace", dying_replace)
    try:
        im.commit(p, adds={"bands": [b]})
    except OSError:
        pass
    monkeypatch.setattr(os, "replace", real_replace)
    assert Path(p, im.MANIFEST).read_bytes() == before
    assert im.live_segments(p, "bands") == [a]


def test_relative_index_path_round_trip(tmp_path, monkeypatch):
    """ADVICE r9 (medium): a RELATIVE index path must behave exactly like
    an absolute one. Before the fix, rel() stored the prefix-embedding
    relative segment path unchanged, live_segments resolved it as
    'idx/idx/...', and the post-commit gc_unreferenced deleted the
    just-committed live segment."""
    monkeypatch.chdir(tmp_path)
    a = _mk_seg("idx", "bands", "base")           # 'idx/bands/seg-base'
    im.commit("idx", replaces={"bands": [a]})
    raw = json.loads(Path("idx", im.MANIFEST).read_text())
    assert raw["tables"]["bands"] == ["bands/seg-base"]  # prefix stripped
    live = im.live_segments("idx", "bands")
    assert [Path(s).resolve() for s in live] == [
        (tmp_path / "idx" / "bands" / "seg-base").resolve()]
    # the automatic post-commit GC must NOT touch the live segment
    assert im.gc_unreferenced("idx") == 0
    assert (tmp_path / "idx" / "bands" / "seg-base"
            / "part-0.parquet").exists()
    # mixed absolute + relative segs in one commit normalize identically
    b = _mk_seg(str(tmp_path / "idx"), "bands", "a1")
    im.commit("idx", adds={"bands": [b]})
    raw = json.loads(Path("idx", im.MANIFEST).read_text())
    assert raw["tables"]["bands"] == ["bands/seg-base", "bands/seg-a1"]
    assert im.gc_unreferenced("idx") == 0


def test_marks_and_expect_version(tmp_path):
    """Round-10: idempotence marks ride the same atomic bump (ingest
    replay detection), and expect_version is the optimistic-concurrency
    check — a stale writer raises ManifestConflict and nothing changes."""
    p = str(tmp_path)
    a = _mk_seg(p, "bands", "b0")
    im.commit(p, adds={"bands": [a]}, marks=["ingested-b0"])
    assert im.has_mark(p, "ingested-b0")
    assert not im.has_mark(p, "ingested-b1")
    # marks accumulate and dedupe across commits
    b = _mk_seg(p, "bands", "b1")
    im.commit(p, adds={"bands": [b]}, marks=["ingested-b1", "ingested-b0"])
    raw = json.loads(Path(p, im.MANIFEST).read_text())
    assert raw["marks"] == ["ingested-b0", "ingested-b1"]

    v = im.read_manifest(p)["version"]
    c = _mk_seg(p, "bands", "c0")
    try:
        im.commit(p, replaces={"bands": [c]}, expect_version=v - 1)
        raise AssertionError("stale commit must raise")
    except im.ManifestConflict:
        pass
    assert im.live_segments(p, "bands") == [a, b]   # unchanged
    im.commit(p, replaces={"bands": [c]}, expect_version=v)
    assert im.live_segments(p, "bands") == [c]


def test_marks_capped_newest_retained(tmp_path):
    """Round-11 (ADVICE r10): idempotence marks must not grow the
    manifest without bound — a long-lived streaming index records one
    mark per micro-batch forever. Retention keeps the NEWEST MAX_MARKS
    in insertion order; the forgotten marks are all older than any
    replay horizon."""
    p = str(tmp_path)
    a = _mk_seg(p, "bands", "base")
    im.commit(p, replaces={"bands": [a]})
    n = im.MAX_MARKS + 40
    for i in range(0, n, 8):
        im.commit(p, marks=[f"ingested-b{j}" for j in range(i, i + 8)])
    raw = json.loads(Path(p, im.MANIFEST).read_text())
    assert len(raw["marks"]) == im.MAX_MARKS
    # newest retained, oldest forgotten, insertion order kept
    assert raw["marks"][-1] == f"ingested-b{n - 1}"
    assert raw["marks"][0] == f"ingested-b{n - im.MAX_MARKS}"
    assert raw["marks"] == [f"ingested-b{j}"
                            for j in range(n - im.MAX_MARKS, n)]
    assert im.has_mark(p, f"ingested-b{n - 1}")
    assert not im.has_mark(p, "ingested-b0")


def test_pinned_snapshot_survives_gc(tmp_path):
    """Round-11 (VERDICT r10 item 6): a pinned snapshot's segments stay
    on disk through a replace + zero-retention GC; unpinning releases
    them on the next GC. The deterministic reader-protection lever —
    the retention window remains only as belt-and-suspenders."""
    p = str(tmp_path)
    a = _mk_seg(p, "bands", "base")
    im.commit(p, replaces={"bands": [a]})
    pin = im.pin_snapshot(p)
    assert im.pinned_segments(p, pin, "bands") == [a]

    b = _mk_seg(p, "bands", "c1")
    im.commit(p, replaces={"bands": [b]})   # a is now superseded
    assert im.gc_unreferenced(p) == 0       # ...but pinned: not removed
    assert Path(a).exists()
    # the pinned view still names the OLD segment; the live view the new
    assert im.pinned_segments(p, pin, "bands") == [a]
    assert im.live_segments(p, "bands") == [b]

    im.unpin_snapshot(p, pin)
    assert im.gc_unreferenced(p) == 1
    assert not Path(a).exists() and Path(b).exists()
    im.unpin_snapshot(p, pin)               # idempotent


def test_expire_pins_unblocks_gc(tmp_path):
    """Round-11 review: a reader that crashes between pin and unpin
    leaves its pin file forever, silently blocking GC of its segments
    unboundedly. ``expire_pins(max_age)`` is the maintenance lever —
    age 0 expires everything now; a fresh pin under a generous age
    survives."""
    p = str(tmp_path)
    a = _mk_seg(p, "bands", "base")
    im.commit(p, replaces={"bands": [a]})
    pin = im.pin_snapshot(p)        # then the reader 'crashes'
    b = _mk_seg(p, "bands", "c1")
    im.commit(p, replaces={"bands": [b]})
    assert im.gc_unreferenced(p) == 0       # dead pin blocks GC
    assert im.expire_pins(p, max_age_seconds=3600) == 0   # young: kept
    assert im.expire_pins(p, max_age_seconds=0) == 1      # expired
    assert im.gc_unreferenced(p) == 1       # unblocked
    assert not Path(a).exists() and Path(b).exists()
    im.unpin_snapshot(p, pin)               # idempotent on expired pin


def test_commit_expect_meta_guard(tmp_path):
    """Round-11: an ADD commit carrying ``expect_meta`` applies only
    while the live geometry meta is unchanged — the append-vs-geometry-
    swap ordering ``expect_version`` deliberately does not cover
    (concurrent appends must not conflict with each other)."""
    p = str(tmp_path)
    a = _mk_seg(p, "bands", "base")
    im.commit(p, replaces={"bands": [a]}, meta={"depth": 4, "epoch": 0})
    b = _mk_seg(p, "bands", "a1")
    # two appends under the same geometry: both pass (no version check)
    im.commit(p, adds={"bands": [b]}, expect_meta={"depth": 4, "epoch": 0})
    c = _mk_seg(p, "bands", "a2")
    im.commit(p, adds={"bands": [c]}, expect_meta={"depth": 4, "epoch": 0})
    # geometry swap, then a stale append: conflicts
    im.commit(p, replaces={"bands": [a]}, meta={"depth": 9, "epoch": 1})
    d = _mk_seg(p, "bands", "a3")
    try:
        im.commit(p, adds={"bands": [d]},
                  expect_meta={"depth": 4, "epoch": 0})
        raise AssertionError("stale-geometry append must conflict")
    except im.ManifestConflict:
        pass
    assert im.live_segments(p, "bands") == [a]   # unchanged
    im.commit(p, adds={"bands": [d]},
              expect_meta={"depth": 9, "epoch": 1})   # fresh guard: ok
    assert im.live_segments(p, "bands") == [a, d]


def test_gc_retention_window(tmp_path):
    """Round-10: ``retention_seconds`` keeps just-superseded segments on
    disk until in-flight readers whose plans predate the swap have
    drained (the expire-snapshots grace-period design); age 0 removes
    immediately."""
    p = str(tmp_path)
    a = _mk_seg(p, "bands", "base")
    im.commit(p, replaces={"bands": [a]})
    b = _mk_seg(p, "bands", "c1")
    im.commit(p, replaces={"bands": [b]})     # a is now unreferenced
    assert im.gc_unreferenced(p, retention_seconds=3600) == 0
    assert Path(a).exists()                   # young orphan retained
    assert im.gc_unreferenced(p) == 1         # age 0: removed now
    assert not Path(a).exists() and Path(b).exists()


def test_concurrent_add_commits_across_processes(tmp_path):
    """Round-10: the advisory manifest lock serializes the read-merge-
    write inside commit() ACROSS PROCESSES — two writers racing add
    commits must both survive (without the lock, interleaved
    read-modify-writes of MANIFEST.json silently drop the loser's
    segments). Every segment from both writers must be live and the
    version must count every commit."""
    import multiprocessing as mp

    p = str(tmp_path)
    n = 20

    def writer(prefix: str) -> None:
        for i in range(n):
            seg = _mk_seg(p, "bands", f"{prefix}{i}")
            im.commit(p, adds={"bands": [seg]})

    procs = [mp.Process(target=writer, args=(w,)) for w in ("a", "b")]
    for pr in procs:
        pr.start()
    for pr in procs:
        pr.join(120)
        assert pr.exitcode == 0
    live = im.live_segments(p, "bands")
    names = {Path(s).name for s in live}
    assert names == {f"seg-{w}{i}" for w in ("a", "b") for i in range(n)}
    assert im.read_manifest(p)["version"] == 2 * n
