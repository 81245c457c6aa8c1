"""Transactional OPTIMIZE (VERDICT r6 #1/#2/#5 + advisor r6 high):
every bin's publish-then-remove swap runs under the maintenance
transaction log (txnlog.py on the commit backend), output names are
generation-unique so reruns can never merge onto their own input names,
bins execute concurrently with per-bin failure isolation, crashes at
any point recover to exactly one consistent generation with readers
never seeing a torn state, and until_stable loops to convergence."""

from __future__ import annotations

import glob
import os
import threading
from unittest import mock

import pytest

from cassandra_sstable_to_protocolbuf_spark import commit_backend
from cassandra_sstable_to_protocolbuf_spark import compaction as CP
from cassandra_sstable_to_protocolbuf_spark import txnlog
from cassandra_sstable_to_protocolbuf_spark.landed import lww_live_cells
from cassandra_sstable_to_protocolbuf_spark.sources import sstable_native as N
from cassandra_sstable_to_protocolbuf_spark.sources.sstable_native import (
    read_native_cells)
from tests.memory_commit_backend import InMemoryCommitBackend


def _mk(dirname, cf, n_keys, vlen, ts, overlap_from=0):
    parts = [{"key": b"key-%05d" % (overlap_from + i),
              "cells": [{"name": b"c", "kind": "LIVE", "timestamp": ts,
                         "value": b"%s-%04d" % (cf.encode(), i) + b"x" * vlen}]}
             for i in range(n_keys)]
    return N.write_sstable(dirname, 1, parts, cf=cf)


def _lww(spark, path):
    return {(bytes(r.key), bytes(r.name), bytes(r.value), r.writeTime)
            for r in lww_live_cells(read_native_cells(spark, path)).collect()}


def _data_files(d):
    return sorted(os.path.basename(p)
                  for p in glob.glob(os.path.join(d, "*-Data.db")))


def test_rerun_merges_under_new_generation(spark, tmp_path):
    """Advisor r6 high: a second optimize pass whose bin consists of the
    first pass's own outputs must write NEW (generation-bumped) names --
    under the old deterministic opt-<tier>-<bin> naming the rerun merged
    them onto exactly its input names and the post-publish unlink then
    destroyed the just-published outputs."""
    d = str(tmp_path)
    _mk(d, "aa", 120, 120, ts=10)
    _mk(d, "bb", 120, 120, ts=20)
    _mk(d, "cc", 120, 120, ts=30)  # same keys, newest -> wins
    pre = _lww(spark, d)

    # pass 1: target chosen so the 3-file bin derives 2 output shards
    # (executable: 2 < 3, and the LWW'd shards land in a lower tier)
    total = CP.logical_data_bytes(CP.input_data_files(d))
    r1 = CP.optimize(spark, d, target_output_bytes=total * 2 // 3)
    assert r1 and all(e["generation"] == 1 and "error" not in e for e in r1)
    gen1 = {m.sstable_id for e in r1 for m in e["outputs"]}
    assert len(gen1) >= 2 and all(s.startswith("opt-1-") for s in gen1)
    assert _lww(spark, d) == pre

    # pass 2: big target -> the gen-1 shards themselves form the bin
    r2 = CP.optimize(spark, d, target_output_bytes=1 << 20)
    assert r2 and all(e["generation"] == 2 and "error" not in e for e in r2)
    gen2 = {m.sstable_id for e in r2 for m in e["outputs"]}
    assert all(s.startswith("opt-2-") for s in gen2)
    assert not (gen1 & gen2), "rerun must never reuse its input names"
    assert _lww(spark, d) == pre, "LWW state must survive the rerun"
    assert not txnlog.read_logs(d), "clean run leaves no transaction log"


def test_no_gain_bin_is_left_alone(spark, tmp_path):
    """The advisor's exact scenario -- a bin of equal target-sized files
    whose size-derived shard count equals its file count -- is skipped
    outright (no rewrite churn, and what makes until_stable terminate)."""
    d = str(tmp_path)
    a = _mk(d, "aa", 120, 120, ts=10)
    b = _mk(d, "bb", 120, 120, ts=20)
    total = CP.logical_data_bytes([a, b])
    target = total // 2  # derived n == 2 == n_files: no gain
    assert CP.derive_n_outputs(total, target) == 2
    pre_files = _data_files(d)
    pre = _lww(spark, d)
    assert CP.optimize(spark, d, target_output_bytes=target) == []
    assert _data_files(d) == pre_files and _lww(spark, d) == pre


def test_oversized_bin_reshards_and_stabilizes(spark, tmp_path):
    """The r7 sf0.1 regression, pinned at unit scale: a bin of 2
    overlapping generations each far ABOVE the target derives MORE
    output shards than inputs -- the old shrink-only filter skipped it
    and optimize() returned [] -- but it must merge (LWW dedup,
    token-disjoint right-sized shards), and the resulting target-sized
    outputs must NOT re-qualify (until_stable terminates)."""
    d = str(tmp_path)
    a = _mk(d, "aa", 300, 40, ts=10)
    b = _mk(d, "bb", 300, 40, ts=20)  # same keys: newest wins
    total = CP.logical_data_bytes([a, b])
    target = total // 10  # each input ~5x the target
    assert CP.derive_n_outputs(total, target) > 2  # old filter: skipped
    task = CP.plan_merge_tasks(d)[0]
    assert CP.bin_is_executable(task, target)
    pre = _lww(spark, d)
    results = CP.optimize(spark, d, target_output_bytes=target,
                          until_stable=True)
    assert results and all("error" not in e for e in results)
    assert _lww(spark, d) == pre, "LWW state must survive the re-shard"
    files = _data_files(d)
    assert len(files) > 2 and all(f.startswith("ks-opt-") for f in files)
    # converged: nothing left to do, and a rerun is a no-op
    assert [t for t in CP.plan_merge_tasks(d)
            if CP.bin_is_executable(t, target)] == []
    assert CP.optimize(spark, d, target_output_bytes=target) == []


def test_crash_before_commit_rolls_back(spark, tmp_path, monkeypatch):
    """Outputs published but the COMMIT flip never happens: readers keep
    seeing ONLY the old generation; recover() removes the partial
    outputs and the claim; a rerun then completes the merge."""
    d = str(tmp_path)
    _mk(d, "aa", 60, 30, ts=10)
    _mk(d, "bb", 60, 30, ts=20)
    pre = _lww(spark, d)
    pre_files = _data_files(d)

    real_commit = txnlog.commit
    crashed = {"n": 0}

    def dying_commit(*a, **k):
        crashed["n"] += 1
        raise RuntimeError("simulated crash before commit point")

    monkeypatch.setattr(txnlog, "commit", dying_commit)
    results = CP.optimize(spark, d, target_output_bytes=1 << 20)
    monkeypatch.setattr(txnlog, "commit", real_commit)
    assert crashed["n"] == 1
    assert len(results) == 1 and "error" in results[0]

    # torn state on disk: outputs + BEGIN log coexist with the inputs...
    assert any(f.startswith("ks-opt-1-") for f in _data_files(d))
    (rec,) = txnlog.read_logs(d)
    assert rec["state"] == "BEGIN"
    # ...but a reader sees ONLY the old generation, values untouched
    assert _lww(spark, d) == pre
    raw = read_native_cells(spark, d).select("sstable_id").distinct()
    assert not any(r.sstable_id.startswith("ks-opt-")
                   for r in raw.collect())

    actions = txnlog.recover(d)
    assert actions == [{"name": rec["name"], "action": "rollback"}]
    assert _data_files(d) == pre_files, "rollback restores the input set"
    assert not txnlog.read_logs(d)

    # rerun self-heals (optimize recovers at startup too) and completes
    results = CP.optimize(spark, d, target_output_bytes=1 << 20)
    assert results and "error" not in results[0]
    assert _lww(spark, d) == pre


def test_crash_after_commit_rolls_forward(spark, tmp_path, monkeypatch):
    """COMMIT flipped but the input unlink crashed mid-way: readers see
    ONLY the new generation (no duplicates, nothing lost); recover()
    removes the leftover inputs, leaving exactly one generation."""
    d = str(tmp_path)
    _mk(d, "aa", 60, 30, ts=10)
    _mk(d, "bb", 60, 30, ts=20)
    pre = _lww(spark, d)

    real_unlink = txnlog.unlink_components
    calls = {"n": 0}

    def dying_unlink(path):
        calls["n"] += 1
        if calls["n"] == 1:
            real_unlink(path)  # first input gone, second survives
        else:
            raise RuntimeError("simulated crash mid input removal")

    monkeypatch.setattr(txnlog, "unlink_components", dying_unlink)
    results = CP.optimize(spark, d, target_output_bytes=1 << 20)
    monkeypatch.setattr(txnlog, "unlink_components", real_unlink)
    assert len(results) == 1 and "error" in results[0]

    # torn state: committed outputs + one leftover input + COMMIT log...
    files = _data_files(d)
    assert any(f.startswith("ks-opt-1-") for f in files)
    assert "ks-bb-ka-1-Data.db" in files
    (rec,) = txnlog.read_logs(d)
    assert rec["state"] == "COMMIT"
    # ...but a reader sees ONLY the new generation: full LWW state, no
    # duplicate cells from the leftover input
    assert _lww(spark, d) == pre
    raw = read_native_cells(spark, d)
    ids = {r.sstable_id for r in raw.select("sstable_id").distinct().collect()}
    assert all(i.startswith("ks-opt-1-") for i in ids)
    n_live = raw.filter("cell_kind = 'LIVE'").count()
    assert n_live == len(pre), "leftover input must not duplicate cells"

    actions = txnlog.recover(d)
    assert actions == [{"name": rec["name"], "action": "rollforward"}]
    files = _data_files(d)
    assert all(f.startswith("ks-opt-1-") for f in files)
    assert not txnlog.read_logs(d)
    assert _lww(spark, d) == pre


def test_bins_execute_concurrently(spark, tmp_path, monkeypatch):
    """Two planned bins must be in flight AT THE SAME TIME (VERDICT r6
    #2): both compact calls reach a shared barrier before either
    proceeds -- a sequential loop would deadlock-timeout the barrier."""
    d = str(tmp_path)
    _mk(d, "aa", 60, 30, ts=1)
    _mk(d, "bb", 60, 30, ts=2)          # tier X: bin 1
    _mk(d, "cc", 400, 120, ts=3, overlap_from=5000)
    _mk(d, "dd", 400, 120, ts=4, overlap_from=5000)  # tier Y: bin 2
    tasks = CP.plan_merge_tasks(d)
    assert len(tasks) == 2, "fixture must plan exactly two bins"
    pre = _lww(spark, d)

    barrier = threading.Barrier(2, timeout=90)
    real_compact = CP.compact

    def rendezvous_compact(*args, **kwargs):
        barrier.wait()  # raises BrokenBarrierError if run sequentially
        return real_compact(*args, **kwargs)

    monkeypatch.setattr(CP, "compact", rendezvous_compact)
    results = CP.optimize(spark, d, target_output_bytes=1 << 20,
                          max_concurrent_bins=2)
    assert len(results) == 2 and all("error" not in r for r in results)
    assert not barrier.broken
    assert _lww(spark, d) == pre


def test_bin_failure_is_isolated(spark, tmp_path, monkeypatch):
    """One bin's failure rolls back that bin only: the other bin
    completes, the failed bin's inputs stay byte-identical, its entry
    carries the error, and no transaction log survives."""
    d = str(tmp_path)
    a = _mk(d, "aa", 60, 30, ts=1)
    _mk(d, "bb", 60, 30, ts=2)
    _mk(d, "cc", 400, 120, ts=3, overlap_from=5000)
    _mk(d, "dd", 400, 120, ts=4, overlap_from=5000)
    assert len(CP.plan_merge_tasks(d)) == 2
    pre = _lww(spark, d)

    real_compact = CP.compact

    def failing_compact(spark_, input_path, *args, **kwargs):
        if any("ks-aa-" in p for p in input_path):
            raise RuntimeError("simulated bin failure")
        return real_compact(spark_, input_path, *args, **kwargs)

    monkeypatch.setattr(CP, "compact", failing_compact)
    results = CP.optimize(spark, d, target_output_bytes=1 << 20)
    monkeypatch.setattr(CP, "compact", real_compact)

    failed = [r for r in results if "error" in r]
    ok = [r for r in results if "error" not in r]
    assert len(failed) == 1 and "simulated bin failure" in failed[0]["error"]
    assert len(ok) == 1 and ok[0]["outputs"]
    files = _data_files(d)
    assert "ks-aa-ka-1-Data.db" in files and "ks-bb-ka-1-Data.db" in files
    assert not any(f.startswith("ks-cc-") or f.startswith("ks-dd-")
                   for f in files)
    assert not txnlog.read_logs(d), "failed bin must leave no claim"
    assert _lww(spark, d) == pre

    # continue_on_error=False re-raises after the round settles
    monkeypatch.setattr(CP, "compact", failing_compact)
    with pytest.raises(RuntimeError, match="simulated bin failure"):
        CP.optimize(spark, d, target_output_bytes=1 << 20,
                    continue_on_error=False)


def test_until_stable_converges_across_tiers(spark, tmp_path):
    """VERDICT r6 #5: a multi-tier fixture converges -- each pass merges
    what it can, outputs re-tier, the next pass picks them up, and the
    loop stops when no executable bin remains, with the LWW state
    hash-stable after every round."""
    d = str(tmp_path)
    for i in range(4):  # four small files, one tier
        _mk(d, f"s{i}", 30, 30, ts=i + 1)
    _mk(d, "big", 220, 60, ts=9, overlap_from=2000)  # a higher tier
    sizes = [CP.logical_data_bytes([p]) for p in CP.input_data_files(d)]
    assert len({s.bit_length() for s in sizes}) >= 2, "needs >= 2 tiers"
    pre = _lww(spark, d)

    # manual per-round drill: state is stable after EVERY round
    rounds = 0
    while True:
        step = CP.optimize(spark, d, target_output_bytes=1 << 20)
        if not step:
            break
        rounds += 1
        assert rounds <= 6, "must converge quickly on 5 files"
        assert _lww(spark, d) == pre, f"state drifted in round {rounds}"
    assert rounds >= 2, "fixture should take >= 2 passes to converge"
    assert CP.plan_merge_tasks(d) == [] or all(
        CP.derive_n_outputs(t["bytes"], 1 << 20) >= len(t["files"])
        for t in CP.plan_merge_tasks(d))

    # and the one-call form does the same loop end-to-end
    d2 = str(tmp_path / "d2")
    for i in range(4):
        _mk(d2, f"s{i}", 30, 30, ts=i + 1)
    _mk(d2, "big", 220, 60, ts=9, overlap_from=2000)
    pre2 = _lww(spark, d2)
    results = CP.optimize(spark, d2, target_output_bytes=1 << 20,
                          until_stable=True)
    gens = {r["generation"] for r in results}
    assert len(gens) >= 2 and all("error" not in r for r in results)
    assert _lww(spark, d2) == pre2
    assert [t for t in CP.plan_merge_tasks(d2)
            if CP.derive_n_outputs(t["bytes"], 1 << 20) < len(t["files"])] == []


def test_txn_protocol_on_memory_backend(tmp_path):
    """The log's protocol plane runs unchanged on the rename-free
    in-memory fake (no rename, conditional puts only): begin claims at
    most once, filter_live hides by state, recover replays both
    branches."""
    d = str(tmp_path)
    a = _mk(d, "aa", 5, 4, ts=1)
    b = _mk(d, "bb", 5, 4, ts=2)
    out = _mk(d, "opt-1-13-0-0", 5, 4, ts=3)  # pretend published output
    all_files = sorted(glob.glob(os.path.join(d, "*-Data.db")))

    with mock.patch.object(commit_backend, "_BACKEND",
                           InMemoryCommitBackend()):
        txnlog.begin(d, "opt-1-13-0", "opt-1-13-0", [a, b])
        with pytest.raises(RuntimeError, match="already claimed"):
            txnlog.begin(d, "opt-1-13-0", "opt-1-13-0", [a, b])
        # BEGIN: outputs hidden, inputs visible
        live = txnlog.filter_live(d, all_files)
        assert out not in live and a in live and b in live

        txnlog.commit(d, "opt-1-13-0", [out])
        # COMMIT: inputs hidden, outputs visible
        live = txnlog.filter_live(d, all_files)
        assert out in live and a not in live and b not in live

        (action,) = txnlog.recover(d)
        assert action == {"name": "opt-1-13-0", "action": "rollforward"}
        assert not os.path.exists(a) and not os.path.exists(b)
        assert os.path.exists(out)
        assert txnlog.read_logs(d) == []
        assert txnlog.filter_live(d, [out]) == [out]


def test_next_generation_scans_names(tmp_path):
    d = str(tmp_path)
    assert CP.next_generation(d) == 1
    _mk(d, "aa", 3, 4, ts=1)
    assert CP.next_generation(d) == 1
    _mk(d, "opt-3-13-0-1", 3, 4, ts=1)
    assert CP.next_generation(d) == 4


def _maintenance_backend(which):
    return commit_backend.PosixCommitBackend() if which == "posix" \
        else InMemoryCommitBackend()


@pytest.mark.parametrize("which", ["posix", "memory"])
def test_two_concurrent_optimize_loops_bins_execute_once(
        spark, tmp_path, which, monkeypatch):
    """VERDICT r9 #4: two COMPLETE optimize(until_stable=True) loops
    racing on one directory -- claims, the CAS manifest, and planning
    exclusion all interacting. Every input set commits at most once
    (the commit spy sees no duplicate transaction key), bins lost to
    the rival surface as 'skipped' -- never as errors -- the manifest
    ends equal to the directory, the LWW state is invariant, and no
    transaction log survives. Runs on POSIX and the rename-free
    in-memory fake."""
    from cassandra_sstable_to_protocolbuf_spark import manifest

    d = str(tmp_path)
    # two tiers -> multiple bins, so the maintainers can interleave
    _mk(d, "aa", 60, 30, ts=1)
    _mk(d, "bb", 60, 30, ts=2)
    _mk(d, "cc", 400, 120, ts=3, overlap_from=5000)
    _mk(d, "dd", 400, 120, ts=4, overlap_from=5000)
    assert len(CP.plan_merge_tasks(d)) == 2
    pre = _lww(spark, d)

    real_commit = txnlog.commit
    committed: list[str] = []
    commit_lock = threading.Lock()

    def spying_commit(input_dir, name, outputs, key=None):
        with commit_lock:
            committed.append(key)
        return real_commit(input_dir, name, outputs, key=key)

    monkeypatch.setattr(txnlog, "commit", spying_commit)
    with mock.patch.object(commit_backend, "_BACKEND",
                           _maintenance_backend(which)):
        manifest.init(d)
        barrier = threading.Barrier(2, timeout=120)
        outcomes: list = [None, None]
        errors: list = []

        def maintainer(i):
            try:
                barrier.wait()
                outcomes[i] = CP.optimize(
                    spark, d, target_output_bytes=1 << 20,
                    until_stable=True, max_rounds=64,
                    stale_claim_grace_s=30.0)
            except BaseException as e:  # noqa: BLE001
                errors.append(e)

        threads = [threading.Thread(target=maintainer, args=(i,))
                   for i in range(2)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=600)
        assert not errors, errors

        all_entries = outcomes[0] + outcomes[1]
        assert not any("error" in r for r in all_entries), all_entries
        executed = [r for r in all_entries if r.get("outputs")]
        assert executed, "neither maintainer executed anything"
        # exactly-once: no transaction key committed twice
        assert len(committed) == len(set(committed)), \
            f"a bin committed twice: {committed}"
        # converged: no executable bin remains, no log survives
        assert [t for t in CP.plan_merge_tasks(d)
                if CP.bin_is_executable(t, 1 << 20)] == []
        assert txnlog.read_logs(d) == []
        assert _lww(spark, d) == pre, "LWW state drifted under the race"
        walked = sorted(os.path.relpath(p, d) for p in glob.glob(
            os.path.join(d, "**", "*-Data.db"), recursive=True))
        assert manifest.read_entries(d) == walked


@pytest.mark.parametrize("which", ["posix", "memory"])
def test_crashed_concurrent_maintainer_is_reclaimed_after_grace(
        spark, tmp_path, which, monkeypatch):
    """The forced mid-loop crash: maintainer A dies between publish and
    commit, leaving a BEGIN claim and partial outputs. Within the
    grace window a rival's recovery must NOT touch the claim (it looks
    live); planning excludes the claimed files, so the rival merges
    nothing it doesn't own. After the grace, the rival's recovery
    CAS-claims the rollback (of two racing recoverers exactly one
    sweeps), A's late commit attempt fails LOUDLY, and the rival
    completes the merge -- exactly one commit for the bin across the
    whole story."""
    import time

    from cassandra_sstable_to_protocolbuf_spark import manifest

    d = str(tmp_path)
    _mk(d, "aa", 60, 30, ts=10)
    _mk(d, "bb", 60, 30, ts=20)
    pre = _lww(spark, d)

    with mock.patch.object(commit_backend, "_BACKEND",
                           _maintenance_backend(which)):
        manifest.init(d)
        # maintainer A: crash between publish and commit
        real_commit = txnlog.commit
        held: dict = {}

        def dying_commit(input_dir, name, outputs, key=None):
            held["args"] = (input_dir, name, outputs, key)
            raise RuntimeError("maintainer A crashed before commit")

        monkeypatch.setattr(txnlog, "commit", dying_commit)
        ra = CP.optimize(spark, d, target_output_bytes=1 << 20)
        monkeypatch.setattr(txnlog, "commit", real_commit)
        assert len(ra) == 1 and "error" in ra[0]
        (rec,) = txnlog.read_logs(d)
        assert rec["state"] == "BEGIN"

        # within the grace: recovery refuses to reclaim the young
        # claim, and a rival's plan excludes the claimed files
        assert CP.optimize(spark, d, target_output_bytes=1 << 20,
                           stale_claim_grace_s=30.0) == []
        (rec2,) = txnlog.read_logs(d)
        assert rec2["state"] == "BEGIN", "live-looking claim was stolen"

        # after the grace: two recoverers race the reclaim -- the CAS
        # rollback claim admits exactly one sweeper
        time.sleep(1.1)
        actions = []
        t1 = threading.Thread(target=lambda: actions.extend(
            txnlog.recover(d, stale_grace_s=1.0)))
        t2 = threading.Thread(target=lambda: actions.extend(
            txnlog.recover(d, stale_grace_s=1.0)))
        t1.start(); t2.start(); t1.join(60); t2.join(60)
        assert [a["action"] for a in actions] == ["rollback"], actions

        # A wakes up and tries its commit: refused loudly (its outputs
        # were swept; re-publishing them would tear the directory)
        with pytest.raises((RuntimeError, FileNotFoundError)):
            real_commit(*held["args"][:3], key=held["args"][3])

        # the survivor completes the merge; exactly one generation
        rb = CP.optimize(spark, d, target_output_bytes=1 << 20,
                         stale_claim_grace_s=1.0)
        assert len(rb) == 1 and "error" not in rb[0] and rb[0]["outputs"]
        assert _lww(spark, d) == pre
        assert txnlog.read_logs(d) == []
        walked = sorted(os.path.relpath(p, d) for p in glob.glob(
            os.path.join(d, "**", "*-Data.db"), recursive=True))
        assert manifest.read_entries(d) == walked
        assert all(os.path.basename(w).startswith("ks-opt-")
                   for w in walked)


def test_maintenance_vacuum_sweeps_debris_and_recovery_survives(
        spark, tmp_path, monkeypatch):
    """VERDICT r9 #6: retired txn tombstones, superseded manifest side
    objects, and CAS-lock sidecars accumulate by design (the protocol
    never unconditionally deletes a claimable path); the
    maintenance-vacuum CLI sweeps exactly the provably-unreachable
    subset -- tombstones whose guarded files are gone, side objects no
    live root references -- and everything still works afterwards:
    discovery, a crash recovery, and a follow-up optimize."""
    from cassandra_sstable_to_protocolbuf_spark import manifest
    from cassandra_sstable_to_protocolbuf_spark.__main__ import main
    from cassandra_sstable_to_protocolbuf_spark.commit_backend import (
        get_commit_backend, is_reclaim_tombstone)

    d = str(tmp_path)
    _mk(d, "aa", 60, 30, ts=10)
    _mk(d, "bb", 60, 30, ts=20)
    manifest.init(d)
    pre = _lww(spark, d)

    # clean lifecycle: the finished transaction leaves tombstones whose
    # guarded inputs were unlinked -> vacuum-able
    r1 = CP.optimize(spark, d, target_output_bytes=1 << 20)
    assert r1 and "error" not in r1[0]
    tdir = txnlog.txn_dir(d)
    backend = get_commit_backend()
    tombs = [f for f in os.listdir(tdir)
             if is_reclaim_tombstone(
                 backend.read_text(os.path.join(tdir, f)))]
    assert tombs, "retirement must leave tombstones"

    # a crash leaving a BEGIN txn, rolled back -> its tombstones guard
    # inputs that STILL EXIST (the rollback kept them): must survive
    _mk(d, "cc", 60, 30, ts=30)
    _mk(d, "dd", 60, 30, ts=40)
    pre = _lww(spark, d)  # cc/dd shadow the same keys: new LWW state

    def dying_commit(*a, **k):
        raise RuntimeError("crash before commit")

    real_commit = txnlog.commit
    monkeypatch.setattr(txnlog, "commit", dying_commit)
    r2 = CP.optimize(spark, d, target_output_bytes=1 << 25)
    monkeypatch.setattr(txnlog, "commit", real_commit)
    assert r2 and any("error" in e for e in r2)
    actions = txnlog.recover(d)
    assert actions and actions[0]["action"] == "rollback"

    import json as _json

    def _guards(fname):
        return _json.loads(backend.read_text(
            os.path.join(tdir, fname))).get("guards") or []

    guarded_live = [
        f for f in os.listdir(tdir)
        if is_reclaim_tombstone(backend.read_text(os.path.join(tdir, f)))
        and any(os.path.exists(os.path.join(d, rel))
                for rel in _guards(f))]
    assert guarded_live, "rollback tombstones must guard live inputs"

    assert main(["maintenance-vacuum", d, "0"]) == 0
    after = set(os.listdir(tdir))
    # unclaimable tombstones gone, live-guarded ones kept
    for f in guarded_live:
        assert f in after, "vacuum deleted a re-claimable tombstone"
    assert set(tombs) - after, "vacuum swept nothing unclaimable"
    assert not glob.glob(os.path.join(d, "**", "*.cas-lock"),
                         recursive=True)

    # everything still works: discovery, LWW reads, a follow-up
    # optimize over the rolled-back inputs (claim paths re-claimed
    # through the surviving tombstones), manifest consistency
    assert _lww(spark, d) == pre
    r3 = CP.optimize(spark, d, target_output_bytes=1 << 25,
                     stale_claim_grace_s=0.0)
    assert r3 and "error" not in r3[0] and r3[0]["outputs"]
    assert _lww(spark, d) == pre
    assert txnlog.read_logs(d) == []
    walked = sorted(os.path.relpath(p, d) for p in glob.glob(
        os.path.join(d, "**", "*-Data.db"), recursive=True))
    assert manifest.read_entries(d) == walked
    # and now the merged inputs are gone: a second vacuum can take the
    # previously-guarded tombstones too
    assert main(["maintenance-vacuum", d, "0"]) == 0
    remaining = [f for f in os.listdir(tdir)
                 if is_reclaim_tombstone(
                     backend.read_text(os.path.join(tdir, f)))]
    for f in remaining:
        assert any(os.path.exists(os.path.join(d, rel))
                   for rel in _guards(f)), \
            "an unclaimable tombstone survived the second vacuum"


def test_split_phase_converges_giant_bin(spark, tmp_path, monkeypatch):
    """VERDICT r8 #1 done-bar: a bin past the old suppression ceiling
    (2 * target * MAX_OUTPUT_SHARDS -- the bin r8 left waiting forever)
    reaches token-disjoint <= 2x-target shards under
    optimize(until_stable=True) without raising. MAX_OUTPUT_SHARDS is
    lowered so the drill exercises the REAL split-phase executor (K
    interval jobs under one transaction) at test scale; the arithmetic
    is scale-free."""
    monkeypatch.setattr(CP, "MAX_OUTPUT_SHARDS", 16)
    d = str(tmp_path)
    _mk(d, "aa", 1500, 100, ts=1)
    _mk(d, "bb", 1500, 100, ts=2)  # same keys, newer wins
    target = 4096
    files = CP.input_data_files(d)
    total = CP.logical_data_bytes(files)
    assert total > 2 * target * CP.MAX_OUTPUT_SHARDS, \
        "fixture too small: not past the r8 ceiling"
    k = CP.derive_n_intervals(total, target)
    assert k > 1, "fixture too small: split-phase would not engage"
    n_total = k * CP.derive_n_outputs(-(-total // k), target)
    pre = _lww(spark, d)

    # phase 1: one pass -- the giant bin executes as K interval jobs
    r1 = CP.optimize(spark, d, target_output_bytes=target)
    assert r1 and all("error" not in e for e in r1)
    giant = max(r1, key=lambda e: e["input_bytes"])
    assert giant["n_inputs"] == 2
    outputs = giant["outputs"]
    assert len(outputs) > CP.MAX_OUTPUT_SHARDS, \
        "split-phase did not engage (one job's fan-out was enough?)"
    # every output: correct global shard id for every key it holds,
    # and <= 2x target logical bytes
    import hashlib
    import re

    rows = read_native_cells(spark, d).select("sstable_id", "key").collect()
    by_sid: dict = {}
    for r in rows:
        by_sid.setdefault(r.sstable_id, []).append(bytes(r.key))
    shard_pat = re.compile(r"^opt-1-\d+-\d+-(\d+)$")
    seen_shards = set()
    for m in outputs:
        shard = int(shard_pat.match(m.sstable_id).group(1))
        assert 0 <= shard < n_total
        seen_shards.add(shard)
        assert CP.logical_data_bytes([m.path]) <= 2 * target, \
            f"{m.sstable_id} exceeds 2x target"
        for key in by_sid[f"ks-{m.sstable_id}-ka-1"]:
            idx8 = int(hashlib.md5(key).hexdigest()[:8], 16)
            assert idx8 // (CP.TOKEN_SHARD_SPACE // n_total) == shard, \
                f"key {key!r} outside {m.sstable_id}'s token interval"
    assert len(seen_shards) == len(outputs)  # token-DISJOINT outputs
    assert _lww(spark, d) == pre
    assert txnlog.read_logs(d) == []  # single transaction, finished

    # phase 2: until_stable converges with no executable bin left and
    # every surviving file at <= 2x target
    CP.optimize(spark, d, target_output_bytes=target, until_stable=True)
    assert [t for t in CP.plan_merge_tasks(d)
            if CP.bin_is_executable(t, target)] == []
    for f in CP.input_data_files(d):
        assert CP.logical_data_bytes([f]) <= 2 * target
    assert _lww(spark, d) == pre


def test_split_phase_crash_mid_interval_recovers(spark, tmp_path,
                                                 monkeypatch):
    """A crash BETWEEN split-phase interval jobs (still BEGIN state --
    some interval outputs published, the commit never reached): readers
    keep seeing exactly the old generation, recover() sweeps every
    interval's partial outputs by the shared name prefix, and a re-run
    converges to the same result an uninterrupted run produces."""
    monkeypatch.setattr(CP, "MAX_OUTPUT_SHARDS", 16)
    d = str(tmp_path)
    _mk(d, "aa", 1500, 100, ts=1)
    _mk(d, "bb", 1500, 100, ts=2)
    target = 4096
    assert CP.derive_n_intervals(
        CP.logical_data_bytes(CP.input_data_files(d)), target) > 1
    pre = _lww(spark, d)

    class Boom(RuntimeError):
        pass

    real_compact = CP.compact
    calls = {"n": 0}

    def dying_compact(*a, **k):
        calls["n"] += 1
        if calls["n"] == 3:  # two interval jobs publish, then crash
            raise Boom("crash mid split-phase")
        return real_compact(*a, **k)

    monkeypatch.setattr(CP, "compact", dying_compact)
    results = CP.optimize(spark, d, target_output_bytes=target)
    assert any("Boom" in r.get("error", "") for r in results)
    monkeypatch.undo()
    monkeypatch.setattr(CP, "MAX_OUTPUT_SHARDS", 16)

    # the per-bin rollback already swept this bin (BEGIN state, crash
    # isolated); whatever state remains, readers see the OLD generation
    assert _lww(spark, d) == pre
    txnlog.recover(d)
    assert _lww(spark, d) == pre
    assert txnlog.read_logs(d) == []

    # re-run to convergence: identical content, right-sized shards
    CP.optimize(spark, d, target_output_bytes=target, until_stable=True)
    assert _lww(spark, d) == pre
    assert [t for t in CP.plan_merge_tasks(d)
            if CP.bin_is_executable(t, target)] == []
