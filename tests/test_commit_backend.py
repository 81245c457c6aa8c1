"""Commit contract battery: the storage primitives the versioned
table's OCC protocol, the sstable manifest and the maintenance
transaction log rely on must be linearizable. Runs against the POSIX
backend and the rename-free in-memory fake (tests/memory_commit_backend.py)
-- so the protocol provably never leans on a POSIX-only primitive
(rename, O_EXCL, directories) through get_commit_backend().

The second half runs the REAL versioned-table protocol (init, two
genuinely concurrent OCC writers, time travel, vacuum) with the
in-memory fake installed: the full commit path with zero renames
anywhere in the protocol plane.
"""

from __future__ import annotations

import json
import os
import threading
from unittest import mock

import pytest

from cassandra_sstable_to_protocolbuf_spark import commit_backend
from cassandra_sstable_to_protocolbuf_spark.commit_backend import (
    PosixCommitBackend)
from tests.memory_commit_backend import InMemoryCommitBackend

N_THREADS = 16


@pytest.fixture(params=["posix", "memory"])
def backend(request, tmp_path):
    if request.param == "posix":
        yield PosixCommitBackend(), str(tmp_path / "root")
    else:
        yield InMemoryCommitBackend(), str(tmp_path / "root")


def _race(n: int, fn) -> list:
    """Run fn(i) from n threads through a barrier; return results."""
    barrier = threading.Barrier(n)
    results: list = [None] * n
    errors: list = []

    def run(i):
        try:
            barrier.wait(timeout=30)
            results[i] = fn(i)
        except BaseException as e:  # noqa: BLE001 -- surfaced below
            errors.append(e)

    threads = [threading.Thread(target=run, args=(i,)) for i in range(n)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=60)
    assert not errors, errors
    return results


def test_put_if_absent_is_exclusive(backend):
    b, root = backend
    path = os.path.join(root, "m", "v1.json")
    wins = _race(N_THREADS, lambda i: b.put_if_absent(path, f"writer-{i}"))
    assert sum(wins) == 1, "CAS create must have exactly one winner"
    winner = wins.index(True)
    assert b.read_text(path) == f"writer-{winner}"
    # and it never overwrites afterwards either
    assert b.put_if_absent(path, "late") is False
    assert b.read_text(path) == f"writer-{winner}"


def test_steal_is_at_most_once(backend):
    b, root = backend
    path = os.path.join(root, "m", "v9.json")
    assert b.put_if_absent(path, "crashed-writer")
    wins = _race(N_THREADS, lambda i: b.steal(path))
    assert sum(wins) == 1, "of N stealers exactly one may win"
    # postcondition: absent, hence claimable
    assert not b.exists(path)
    assert b.claim(path, "next-writer") is True
    assert b.read_text(path) == "next-writer"
    # stealing a LIVE claim still works (that is steal's whole job)...
    assert b.steal(path) is True
    # ...and a second steal of the reclaimed key loses cleanly
    assert b.steal(path) is False
    b.delete(path)
    assert b.steal(path) is False  # stealing the absent is a clean loss


def test_claim_races_single_winner_on_tombstoned_key(backend):
    """After a retirement (the CAS to a reclaim tombstone txnlog and
    versioned vacuum use instead of a delete), N writers race claim()
    with caller-unique bodies: the tombstone CAS must arbitrate exactly
    one winner."""
    from cassandra_sstable_to_protocolbuf_spark.commit_backend import (
        make_reclaim_tombstone)

    b, root = backend
    path = os.path.join(root, "m", "v11.json")
    assert b.put_if_absent(path, "crashed-writer")
    assert b.put_if_match(path, make_reclaim_tombstone(), "crashed-writer")
    assert b.put_if_absent(path, "bare-create") is False
    wins = _race(N_THREADS, lambda i: b.claim(path, f"claimer-{i}"))
    assert sum(wins) == 1, "of N claimers exactly one may win"
    winner = wins.index(True)
    assert b.read_text(path) == f"claimer-{winner}"


def test_put_if_match_is_single_winner_per_snapshot(backend):
    b, root = backend
    path = os.path.join(root, "m", "manifest.json")
    assert b.put_if_match(path, "x", "anything") is False  # absent
    b.put_atomic(path, "base")
    wins = _race(N_THREADS,
                 lambda i: b.put_if_match(path, f"writer-{i}", "base"))
    assert sum(wins) == 1, "CAS replace must have exactly one winner"
    winner = wins.index(True)
    assert b.read_text(path) == f"writer-{winner}"
    # stale-expected always loses; current-expected wins again
    assert b.put_if_match(path, "late", "base") is False
    assert b.put_if_match(path, "next", f"writer-{winner}") is True
    assert b.read_text(path) == "next"


def test_put_atomic_last_writer_wins_never_partial(backend):
    b, root = backend
    path = os.path.join(root, "_current")
    payloads = [str(i) * 64 for i in range(N_THREADS)]
    _race(N_THREADS, lambda i: b.put_atomic(path, payloads[i]))
    assert b.read_text(path) in payloads, "torn write observed"


def test_read_list_exists_delete_age(backend):
    b, root = backend
    mdir = os.path.join(root, "_manifests")
    with pytest.raises(FileNotFoundError):
        b.read_text(os.path.join(mdir, "v0.json"))
    with pytest.raises(FileNotFoundError):
        b.listdir(mdir)
    for v in (0, 1, 2):
        assert b.put_if_absent(os.path.join(mdir, f"v{v}.json"), f"m{v}")
    assert b.listdir(mdir) == ["v0.json", "v1.json", "v2.json"]
    age = b.age_s(os.path.join(mdir, "v0.json"))
    assert age is not None and 0 <= age < 30
    assert b.age_s(os.path.join(mdir, "missing")) is None
    b.delete(os.path.join(mdir, "v1.json"))
    b.delete(os.path.join(mdir, "v1.json"))  # idempotent
    assert b.listdir(mdir) == ["v0.json", "v2.json"]
    assert not b.exists(os.path.join(mdir, "v1.json"))


def test_versioned_occ_runs_rename_free_on_object_store_backend(
        spark, tmp_path):
    """The full protocol -- init, two concurrent OCC writers with the
    recompute-and-retry loop, linear history, time travel, vacuum --
    against the rename-free in-memory fake; only parquet data files
    touch the local filesystem (Spark's own IO layer)."""
    from cassandra_sstable_to_protocolbuf_spark.versioned import (
        CommitConflict, current_version, init_versioned, list_versions,
        merge_versioned, read_version, vacuum)
    from tests.test_versioned import _cells

    table = str(tmp_path / "vt")
    with mock.patch.object(commit_backend, "_BACKEND",
                           InMemoryCommitBackend()):
        rows = [(f"k{i}", "c", f"base{i}", 100, "sst-base", "LIVE")
                for i in range(12)]
        init_versioned(spark, _cells(spark, rows), table)
        # the protocol plane must be entirely in the backend: no
        # manifest/_current files may exist on disk
        assert not os.path.exists(os.path.join(table, "_current"))
        assert not os.path.exists(os.path.join(table, "_manifests"))

        barrier = threading.Barrier(2)
        errors: list[BaseException] = []

        def writer(tag: str, keys: list[str]) -> None:
            delta = _cells(spark, [(k, "c", f"from-{tag}", 200, f"sst-{tag}",
                                    "LIVE") for k in keys])
            try:
                barrier.wait(timeout=60)
                for _ in range(10):
                    try:
                        merge_versioned(spark, table, delta)
                        return
                    except CommitConflict:
                        continue
                raise AssertionError(f"writer {tag} starved")
            except BaseException as e:  # noqa: BLE001
                errors.append(e)

        ta = threading.Thread(target=writer, args=("a", ["k1", "new-a"]))
        tb = threading.Thread(target=writer, args=("b", ["k2", "new-b"]))
        ta.start(); tb.start()
        ta.join(timeout=300); tb.join(timeout=300)
        assert not errors, errors
        assert current_version(table) == 2
        assert list_versions(table) == [0, 1, 2]

        final = {bytes(r["key"]).decode(): bytes(r["value"]).decode()
                 for r in read_version(spark, table)
                 .select("key", "value").collect()}
        assert final["k1"] == "from-a" and final["k2"] == "from-b"
        assert final["new-a"] == "from-a" and final["new-b"] == "from-b"
        assert final["k3"] == "base3"
        # time travel still pins v0
        v0 = {bytes(r["key"]).decode(): bytes(r["value"]).decode()
              for r in read_version(spark, table, version=0)
              .select("key", "value").collect()}
        assert v0["k1"] == "base1" and "new-a" not in v0
        # vacuum's manifest plane works without listdir-on-disk
        deleted = vacuum(table, retain=2, min_file_age_s=0.0)
        assert any("v0.json" in d for d in deleted)


def test_posix_cas_lock_sidecar_is_cleaned_up(tmp_path):
    """put_if_match's flock sidecar must not accumulate as litter
    (advisor r9): the holder unlinks it under the lock, and the
    inode-recheck on acquisition keeps concurrent CAS single-winner
    through unlink/reopen cycles."""
    b = PosixCommitBackend()
    path = str(tmp_path / "m" / "manifest.json")
    b.put_atomic(path, "base")
    assert b.put_if_match(path, "v2", "base") is True
    assert not os.path.exists(path + ".cas-lock"), "sidecar litter"
    cur = "v2"
    for round_no in range(4):
        expected = cur
        wins = _race(8, lambda i: b.put_if_match(
            path, f"r{round_no}-w{i}", expected))
        assert sum(wins) == 1, "unlink/reopen broke CAS exclusivity"
        cur = f"r{round_no}-w{wins.index(True)}"
        assert b.read_text(path) == cur
        assert not os.path.exists(path + ".cas-lock")


def test_posix_fenced_reseed_survives_inflight_cas(tmp_path):
    """The advisor r9 init-vs-CAS race: a CAS that passed its compare
    against the PRE-reseed snapshot is held just before its rename;
    a concurrent reseed through put_atomic_fenced must block on the
    same lock, so the rename order is CAS-then-reseed and the reseed
    is never silently overwritten. (A plain put_atomic reseed would
    interleave and lose.)"""
    cas_inside = threading.Event()
    release_cas = threading.Event()

    class HoldFirstRename(PosixCommitBackend):
        def __init__(self):
            self.held_once = False

        def put_atomic(self, path, text):
            if not self.held_once:
                self.held_once = True
                cas_inside.set()
                assert release_cas.wait(timeout=30)
            super().put_atomic(path, text)

    path = str(tmp_path / "m" / "manifest.json")
    casser, reseeder = HoldFirstRename(), PosixCommitBackend()
    reseeder.put_atomic(path, "base")

    cas_result: list = []
    t_cas = threading.Thread(target=lambda: cas_result.append(
        casser.put_if_match(path, "cas-on-stale-snapshot", "base")))
    t_cas.start()
    assert cas_inside.wait(timeout=30)  # compare passed, rename held
    t_seed = threading.Thread(
        target=lambda: reseeder.put_atomic_fenced(path, "reseed"))
    t_seed.start()
    t_seed.join(timeout=0.5)
    assert t_seed.is_alive(), \
        "fenced reseed did not serialize with the in-flight CAS"
    release_cas.set()
    t_cas.join(timeout=30)
    t_seed.join(timeout=30)
    assert cas_result == [True]
    assert reseeder.read_text(path) == "reseed", \
        "in-flight CAS overwrote the reseed"
    assert not os.path.exists(path + ".cas-lock")


def test_txnlog_claim_bodies_are_caller_unique(tmp_path):
    """Dual-bin-ownership pin (advisor r8): every txnlog claim and log
    field except the `owner` nonce is a deterministic function of the
    bin. Without the nonce two maintainers' bodies for one bin would be
    byte-identical, and a stalled maintainer's commit -- a CAS against
    the BEGIN bytes it wrote -- would match a rival's log re-created
    after a reclaim, granting both of them the bin. So two begin()
    calls over the same files write different claim and log bodies,
    differing in `owner` alone."""
    from cassandra_sstable_to_protocolbuf_spark import txnlog

    d = str(tmp_path)
    files = [os.path.join(d, "a-Data.db"), os.path.join(d, "b-Data.db")]
    backend = commit_backend.get_commit_backend()

    def bodies() -> dict[str, str]:
        tdir = txnlog.txn_dir(d)
        return {f: backend.read_text(os.path.join(tdir, f))
                for f in backend.listdir(tdir) if f.endswith(".json")}

    key = txnlog.begin(d, "opt-1-10-0", "opt-1-10-0", files)
    first = bodies()
    txnlog.finish(d, "opt-1-10-0", key=key)  # retires claims and log
    assert txnlog.begin(d, "opt-1-10-0", "opt-1-10-0", files) == key
    second = bodies()
    assert sorted(first) == sorted(second) and len(first) == 3
    for name, text in first.items():
        a, b = json.loads(text), json.loads(second[name])
        assert a.pop("owner") != b.pop("owner"), f"{name}: same owner"
        assert a == b


def test_versioned_manifest_bodies_are_caller_unique(tmp_path):
    """The same pin for versioned manifests: two commits of the same
    files write manifests that differ in their `writer` uuid alone --
    the identity _verify_claim reads back around the `_current`
    repoint, so a stalled writer whose claim was reclaimed can never
    take the reclaimer's manifest for its own."""
    from cassandra_sstable_to_protocolbuf_spark import versioned as V

    files = {"s0": ["data/c0-x/pshard=s0/part-0.parquet"]}
    manifests = []
    for name in ("t1", "t2"):
        table = str(tmp_path / name)
        assert V._commit(table, files, 0) == 0
        manifests.append(V.read_manifest(table, 0))
    a, b = manifests
    assert a.pop("writer") != b.pop("writer")
    assert a == b
