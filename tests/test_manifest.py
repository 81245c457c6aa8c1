"""Manifest-backed sstable discovery (VERDICT r7 #6): one GET replaces
the per-plan recursive directory walk. Pins: walk-parity of the listed
set, ZERO glob/listdir syscalls when planning from a manifest,
maintenance consistency through transactional OPTIMIZE (including both
crash windows, drilled with kill points), the missing-file fallback
(degrade to the walk, never wrong results), and no-manifest dirs being
byte-for-byte unaffected."""

from __future__ import annotations

import glob
import os
from unittest import mock

import pytest

from cassandra_sstable_to_protocolbuf_spark import commit_backend
from cassandra_sstable_to_protocolbuf_spark import compaction as CP
from cassandra_sstable_to_protocolbuf_spark import manifest, txnlog
from cassandra_sstable_to_protocolbuf_spark.sources import sstable_native as N
from cassandra_sstable_to_protocolbuf_spark.sources.sstable_native import (
    read_native_cells)
from tests.memory_commit_backend import InMemoryCommitBackend
from tests.test_optimize_txn import _lww, _maintenance_backend, _mk


def test_init_matches_walk_and_discovery_is_globless(tmp_path,
                                                     monkeypatch):
    d = str(tmp_path)
    a = _mk(d, "aa", 5, 4, ts=1)
    nested = tmp_path / "ks" / "t"
    nested.mkdir(parents=True)
    b = _mk(str(nested), "bb", 5, 4, ts=2)
    entries = manifest.init(d)
    assert entries == sorted([os.path.relpath(a, d),
                              os.path.relpath(b, d)])
    assert manifest.data_files(d) == sorted([a, b])

    # planning consults the manifest: ZERO walk syscalls
    calls = []
    monkeypatch.setattr(glob, "glob",
                        lambda *a_, **k: calls.append(a_) or [])
    rdr = N.SSTableNativeReader(d, 4096)
    files = rdr._data_files()
    assert files == sorted([a, b]) and calls == []
    assert CP.input_data_files(d) == sorted([a, b]) and calls == []


def test_no_manifest_keeps_walking(tmp_path):
    d = str(tmp_path)
    a = _mk(d, "aa", 5, 4, ts=1)
    assert manifest.data_files(d) is None
    assert CP.input_data_files(d) == [a]
    rdr = N.SSTableNativeReader(d, 4096)
    assert rdr._data_files() == [a]


def test_missing_file_falls_back_to_walk(tmp_path):
    """A manifest referencing a vanished file (external tampering) must
    degrade to the walk -- correct results at walk cost, never a plan
    over ghosts and never dropped rows."""
    d = str(tmp_path)
    a = _mk(d, "aa", 5, 4, ts=1)
    b = _mk(d, "bb", 5, 4, ts=2)
    manifest.init(d)
    txnlog.unlink_components(b)  # tamper: delete outside maintenance
    assert manifest.data_files(d) is None  # refuses the stale listing
    rdr = N.SSTableNativeReader(d, 4096)
    assert rdr._data_files() == [a]
    # malformed manifest body: same fallback
    with open(manifest.manifest_path(d), "w", encoding="utf-8") as f:
        f.write("not json{")
    assert manifest.data_files(d) is None
    assert rdr._data_files() == [a]


def test_optimize_maintains_manifest(spark, tmp_path):
    """A full transactional OPTIMIZE over a manifested directory: the
    manifest tracks the swap (outputs in, inputs out), stays equal to
    the directory's real contents, and the LWW result is unchanged."""
    d = str(tmp_path)
    for i in range(4):
        _mk(d, f"s{i}", 30, 30, ts=i + 1)
    manifest.init(d)
    pre = _lww(spark, d)
    results = CP.optimize(spark, d, target_output_bytes=1 << 20)
    assert results and all("error" not in r for r in results)
    walked = sorted(os.path.relpath(p, d) for p in glob.glob(
        os.path.join(d, "**", f"*{N.DATA_SUFFIX}"), recursive=True))
    assert manifest.read_entries(d) == walked
    assert _lww(spark, d) == pre
    # and discovery through the refreshed manifest serves the rows
    assert {bytes(r.key) for r in
            read_native_cells(spark, d).select("key").collect()} \
        == {k for k, _n, _v, _t in pre}


@pytest.mark.parametrize("kill_point", ["pre_commit", "post_commit"])
def test_crash_windows_repair_manifest(spark, tmp_path, monkeypatch,
                                       kill_point):
    """Both manifest crash windows, drilled with monkeypatched kill
    points exactly like test_optimize_txn: (a) crash AFTER the
    manifest recorded outputs but BEFORE the commit flip -- rollback
    must drop them; (b) crash after commit BEFORE inputs left the
    manifest -- rollforward must finish both sides. After recover()
    the manifest equals the directory and the data is consistent."""
    d = str(tmp_path)
    for i in range(3):
        _mk(d, f"s{i}", 30, 30, ts=i + 1)
    manifest.init(d)
    pre = _lww(spark, d)

    class Boom(RuntimeError):
        pass

    if kill_point == "pre_commit":
        def die(*a, **k):
            raise Boom("crash before commit")
        monkeypatch.setattr(txnlog, "commit", die)
    else:
        real_remove = manifest.remove

        def die(*a, **k):
            raise Boom("crash before manifest input removal")
        monkeypatch.setattr(manifest, "remove", die)

    with pytest.raises((Boom, RuntimeError)):
        CP.optimize(spark, d, target_output_bytes=1 << 20,
                    continue_on_error=False)
    monkeypatch.undo()

    # the torn state is still CONSISTENT for readers right now
    # (filter_live hides the in-flight side) and recover() converges it
    assert _lww(spark, d) == pre
    txnlog.recover(d)
    walked = sorted(os.path.relpath(p, d) for p in glob.glob(
        os.path.join(d, "**", f"*{N.DATA_SUFFIX}"), recursive=True))
    assert manifest.read_entries(d) == walked
    assert _lww(spark, d) == pre


def test_manifest_scan_gate_matches_native_scan(spark):
    """The catalog gate: sst_manifest_scan returns the identical cells
    as sst_native_scan, through manifest-only planning."""
    from cassandra_sstable_to_protocolbuf_spark.plans.cells_queries import (
        sst_manifest_scan, sst_native_scan)
    from tests.conftest import SF_SMOKE

    a = sorted(map(tuple, sst_manifest_scan(spark, SF_SMOKE).collect()))
    b = sorted(map(tuple, sst_native_scan(spark, SF_SMOKE).collect()))
    assert a == b


@pytest.mark.parametrize("which", ["posix", "memory"])
def test_two_writer_add_interleaved_keeps_both(tmp_path, which,
                                               monkeypatch):
    """VERDICT r8 #2, deterministic worst case: writer A reads the
    manifest, writer B's ENTIRE add lands, then A publishes. The old
    read-modify-put_atomic silently dropped B's entry; the CAS loop
    must keep both."""
    d = str(tmp_path)
    a = _mk(d, "aa", 3, 3, ts=1)
    backend = _maintenance_backend(which)
    with mock.patch.object(commit_backend, "_BACKEND", backend):
        manifest.init(d)
        b_new = _mk(d, "bb", 3, 3, ts=2)
        c_new = _mk(d, "cc", 3, 3, ts=3)
        # interleave: the first time A's CAS publish runs, B's whole
        # add executes against the same backend first, so A MUST lose
        # its first attempt and retry on B's snapshot
        real = backend.put_if_match
        state = {"interleaved": False}

        def interleave(path, text, expected):
            if not state["interleaved"]:
                state["interleaved"] = True
                manifest.add(d, [c_new])  # writer B, complete update
            return real(path, text, expected)

        monkeypatch.setattr(backend, "put_if_match", interleave)
        manifest.add(d, [b_new])  # writer A
        monkeypatch.undo()
        entries = manifest.read_entries(d)
        assert entries is not None
        assert os.path.relpath(b_new, d) in entries, "A's add lost"
        assert os.path.relpath(c_new, d) in entries, "B's add lost"
        assert os.path.relpath(a, d) in entries
        assert state["interleaved"]


@pytest.mark.parametrize("which", ["posix", "memory"])
def test_add_racing_remove_keeps_both_effects(tmp_path, which,
                                              monkeypatch):
    """An add racing a remove on the same manifest: after both settle,
    the added entry is present and the removed entry is gone --
    neither side's effect is lost."""
    d = str(tmp_path)
    _mk(d, "aa", 3, 3, ts=1)
    victim = _mk(d, "bb", 3, 3, ts=2)
    backend = _maintenance_backend(which)
    with mock.patch.object(commit_backend, "_BACKEND", backend):
        manifest.init(d)
        new = _mk(d, "cc", 3, 3, ts=3)
        real = backend.put_if_match
        state = {"interleaved": False}

        def interleave(path, text, expected):
            if not state["interleaved"]:
                state["interleaved"] = True
                manifest.remove(d, [victim])  # the racing remover
            return real(path, text, expected)

        monkeypatch.setattr(backend, "put_if_match", interleave)
        manifest.add(d, [new])
        monkeypatch.undo()
        entries = manifest.read_entries(d)
        assert os.path.relpath(new, d) in entries, "add lost to remove"
        assert os.path.relpath(victim, d) not in entries, \
            "remove lost to add"


@pytest.mark.parametrize("which", ["posix", "memory"])
def test_concurrent_adders_thread_stress(tmp_path, which):
    """16 genuinely concurrent adders: every entry survives (the
    probabilistic twin of the deterministic interleaving drills)."""
    import threading

    d = str(tmp_path)
    _mk(d, "aa", 2, 2, ts=1)
    paths = [_mk(d, f"n{i:02d}", 2, 2, ts=i + 2) for i in range(16)]
    backend = _maintenance_backend(which)
    with mock.patch.object(commit_backend, "_BACKEND", backend):
        manifest.init(d)
        # reset to just the base entry so every add below is a delta
        barrier = threading.Barrier(16)
        errors: list = []

        def add_one(i):
            try:
                barrier.wait(timeout=30)
                manifest.add(d, [paths[i]])
            except BaseException as e:  # noqa: BLE001
                errors.append(e)

        threads = [threading.Thread(target=add_one, args=(i,))
                   for i in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
        assert not errors, errors
        entries = manifest.read_entries(d)
        for p in paths:
            assert os.path.relpath(p, d) in entries, f"lost {p}"


def test_writer_publish_records_additions(tmp_path):
    """Advisor r8: sstables added to a manifest-enabled directory
    outside OPTIMIZE must stay visible -- the fixture/export writer's
    publish step records them, so discovery never silently misses an
    addition."""
    d = str(tmp_path)
    _mk(d, "aa", 3, 3, ts=1)
    manifest.init(d)
    late = _mk(d, "late", 3, 3, ts=2)  # _mk drives write_sstable
    entries = manifest.read_entries(d)
    assert os.path.relpath(late, d) in entries, \
        "post-init export invisible to manifest discovery"
    assert manifest.data_files(d) is not None  # no fallback needed


def test_reconcile_repairs_out_of_band_additions(tmp_path):
    """A raw file copy that bypassed every publish API: reconcile()
    unions the walk back in and reports exactly what was missing."""
    import shutil

    d = str(tmp_path)
    a = _mk(d, "aa", 3, 3, ts=1)
    manifest.init(d)
    # bypass: copy components under a new generation name
    base = a[:-len(N.DATA_SUFFIX)]
    for sfx in N.ALL_SUFFIXES:
        if os.path.exists(base + sfx):
            shutil.copyfile(base + sfx,
                            base.replace("-ka-", "-ka-9") + sfx)
    rogue = base.replace("-ka-", "-ka-9") + N.DATA_SUFFIX
    assert os.path.relpath(rogue, d) not in manifest.read_entries(d)
    missing = manifest.reconcile(d)
    assert missing == [os.path.relpath(rogue, d)]
    assert os.path.relpath(rogue, d) in manifest.read_entries(d)
    assert manifest.reconcile(d) == []  # idempotent


class _CountingBackend:
    """Wraps a CommitBackend, counting protocol-plane bytes moved --
    the instrument for the metadata-scale pin."""

    def __init__(self, inner):
        self._inner = inner
        self.bytes_read = 0
        self.bytes_written = 0

    def reset(self):
        self.bytes_read = self.bytes_written = 0

    def read_text(self, path):
        text = self._inner.read_text(path)
        self.bytes_read += len(text)
        return text

    def put_atomic(self, path, text):
        self.bytes_written += len(text)
        self._inner.put_atomic(path, text)

    def put_atomic_fenced(self, path, text):
        self.bytes_written += len(text)
        self._inner.put_atomic_fenced(path, text)

    def put_if_match(self, path, text, expected):
        self.bytes_written += len(text)
        return self._inner.put_if_match(path, text, expected)

    def __getattr__(self, name):
        return getattr(self._inner, name)


def test_manifest_metadata_scales_sublinear_past_100k_entries(tmp_path):
    """VERDICT r9 #1, the metadata-scale pin: with >=100k entries, one
    add/remove moves KILOBYTES of protocol bytes (a delta segment plus
    the O(log)-sized root and binary-counter merges), not the
    O(corpus) ~megabytes the flat body re-shipped per mutation. Also
    pins: the root body stays small (segment count O(log)), the
    materialized listing is exactly right after hundreds of mixed
    deltas, and reconcile over the 100k-entry manifest is wall-time
    bounded."""
    import time as _time

    d = str(tmp_path)
    counting = _CountingBackend(InMemoryCommitBackend())
    with mock.patch.object(commit_backend, "_BACKEND", counting):
        manifest.init(d)  # empty dir: zero entries
        corpus = [f"ks-shard{i:06d}-ka-1-Data.db" for i in range(100_000)]
        manifest.add(d, [os.path.join(d, e) for e in corpus])
        entries = manifest.read_entries(d)
        assert entries == sorted(corpus)
        expected = set(corpus)

        # per-mutation cost at the 100k shape: each op must move far
        # less than the corpus (flat body: ~2.7 MB per op; bound: 64 KB
        # average, 256 KB max -- room for the occasional O(log) merge)
        counting.reset()
        per_op: list[int] = []
        for i in range(200):
            before = counting.bytes_read + counting.bytes_written
            if i % 4 == 3:
                victim = f"ks-shard{i:06d}-ka-1-Data.db"
                manifest.remove(d, [os.path.join(d, victim)])
                expected.discard(victim)
            else:
                new = f"ks-new{i:06d}-ka-1-Data.db"
                manifest.add(d, [os.path.join(d, new)])
                expected.add(new)
            per_op.append(counting.bytes_read + counting.bytes_written
                          - before)
        avg = sum(per_op) / len(per_op)
        assert avg < 64_000, \
            f"avg {avg:.0f} B/op: mutation cost is not sub-linear"
        assert max(per_op) < 256_000, \
            f"max {max(per_op)} B/op: a mutation re-shipped the corpus"
        # the root stays small: segment count is O(log), not O(ops)
        root = len(counting.read_text(manifest.manifest_path(d)))
        assert root < 8_000, f"root body {root} B: segments unbounded"
        assert manifest.segment_count(d) <= 20

        # correctness after all that maintenance
        assert manifest.read_entries(d) == sorted(expected)

        # reconcile over the 100k-entry manifest: bounded wall time
        t0 = _time.monotonic()
        assert manifest.reconcile(d) == []
        assert _time.monotonic() - t0 < 10.0


def test_manifest_v1_flat_body_upgrades_on_first_mutation(tmp_path):
    """Back-compat: a version-1 flat-body manifest (prior rounds) is
    readable as-is and its first mutation upgrades it to the segmented
    root with the mutation applied."""
    import json

    from cassandra_sstable_to_protocolbuf_spark.commit_backend import (
        get_commit_backend)

    d = str(tmp_path)
    a = _mk(d, "aa", 3, 3, ts=1)
    get_commit_backend().put_atomic(manifest.manifest_path(d), json.dumps(
        {"version": 1, "rev": "r0",
         "entries": [os.path.relpath(a, d)]}))
    assert manifest.read_entries(d) == [os.path.relpath(a, d)]
    b = _mk(d, "bb", 3, 3, ts=2)  # publish path calls manifest.add
    entries = manifest.read_entries(d)
    assert entries == sorted([os.path.relpath(a, d),
                              os.path.relpath(b, d)])
    rec = json.loads(get_commit_backend().read_text(
        manifest.manifest_path(d)))
    assert rec["version"] == 2 and rec["segments"] == []


def test_manifest_vacuum_sweeps_only_aged_unreferenced_side_files(
        tmp_path):
    """Folded-away bases and merged-away segments accumulate; vacuum
    deletes exactly the unreferenced ones past the grace age -- never
    anything the live root references -- and reads stay intact."""
    d = str(tmp_path)
    files = [_mk(d, f"s{i}", 2, 2, ts=i + 1) for i in range(3)]
    manifest.init(d)
    for i, p in enumerate(files):
        manifest.remove(d, [p])
        manifest.add(d, [p])
    side_dir = os.path.join(d, manifest.SIDE_DIR_NAME)
    all_names = set(os.listdir(side_dir))
    assert len(all_names) > 1  # superseded side files exist
    # grace age protects everything young...
    assert manifest.vacuum(d, min_age_s=3600.0) == []
    # ...and with age zero, exactly the unreferenced ones go
    deleted = manifest.vacuum(d, min_age_s=0.0)
    assert deleted
    assert manifest.read_entries(d) == sorted(
        os.path.relpath(p, d) for p in files)
    remaining = set(os.listdir(side_dir))
    assert remaining == all_names - set(deleted)
    assert manifest.vacuum(d, min_age_s=0.0) == []  # idempotent


def test_optimize_with_manifest_on_memory_backend(spark, tmp_path):
    """The COMPLETE maintenance lifecycle with the protocol plane on
    the rename-free in-memory fake: manifest discovery, txnlog
    claims/commits, and the manifest updates all route through the
    fake while the data plane stays on the filesystem. Results and
    manifest consistency must match the POSIX run."""
    d = str(tmp_path)
    for i in range(4):
        _mk(d, f"s{i}", 30, 30, ts=i + 1)
    with mock.patch.object(commit_backend, "_BACKEND",
                           InMemoryCommitBackend()):
        manifest.init(d)
        pre = _lww(spark, d)
        results = CP.optimize(spark, d, target_output_bytes=1 << 20)
        assert results and all("error" not in r for r in results)
        walked = sorted(os.path.relpath(p, d) for p in glob.glob(
            os.path.join(d, "**", f"*{N.DATA_SUFFIX}"), recursive=True))
        assert manifest.read_entries(d) == walked
        assert _lww(spark, d) == pre
        assert txnlog.read_logs(d) == []  # every transaction finished
    # nothing from the protocol plane leaked onto the filesystem
    assert not os.path.exists(manifest.manifest_path(d))
    assert not os.path.exists(txnlog.txn_dir(d))
