"""Maintenance transaction log: crash-safe in-place sstable rewrites.

The round-6 audit's #1 gap: optimize() published a bin's outputs and
then unlinked its inputs with nothing in between -- a crash in the
window left two generations on disk and a concurrent reader enumerating
the directory mid-swap could see both (or a half-removed input set).
This module is the fix: every in-place rewrite (today: the OPTIMIZE
executor's per-bin merge) runs under a tiny transaction log, the same
design Cassandra grew for exactly this problem (the sstable lifecycle
transaction log, CASSANDRA-7066) and the crash-safe outgrowth of the
reference's close-on-success-or-error discipline (Runner.java:76-82).

Protocol, per transaction (one OPTIMIZE bin):

  1. BEGIN   -- claim each INPUT FILE (one small `claim-<h>.json` CAS
               object per file), then CAS-create the log
               `<dir>/_txn/txn-<key>.json`, where `key` is a hash of
               the sorted input set. The per-file claims make
               overlapping bins mutually exclusive even when two
               maintainers plan DIFFERENT bins sharing a file (their
               directory views can diverge mid-flight); the input-set
               log key makes the same bin collide regardless of the
               generation number each maintainer computed.
  2. publish -- the data plane writes output components (each file is
               individually atomic via temp+rename, as before).
  3. COMMIT  -- a put_if_match CAS flips the log BEGIN -> COMMIT (now
               also recording the published outputs) against the exact
               BEGIN bytes this writer created: a transaction that was
               reclaimed by a concurrent maintainer mid-flight fails
               its commit LOUDLY instead of re-hiding a swap someone
               else already rolled back. THIS is the atomic commit
               point of the whole swap.
  4. clean   -- input components unlink, then claims and log RETIRE.

RETIREMENT, not deletion: every protocol-object removal is a CAS
replace of the object's exact current bytes with a reclaim tombstone
(commit_backend.make_reclaim_tombstone) -- never an unconditional
DELETE, whose delayed arrival could destroy an object another writer
legitimately re-created at the same key (the advisor-r9 steal lesson,
applied uniformly). Tombstoned paths are re-claimable through the
backend's tombstone-aware claim(); aged tombstones are the vacuum
plane's job.

Reader visibility (`filter_live`) makes every intermediate state
consistent: a BEGIN (or in-flight ROLLBACK) log hides the
transaction's outputs (readers see only the old generation), a COMMIT
log hides its inputs (readers see only the new generation). Discovery
without any log sees exactly the published files -- the zero-cost fast
path.

CONCURRENT MAINTAINERS (VERDICT r9 #4): the single-maintainer
assumption is gone. Any number of optimize() loops may race on one
directory because

  * planning excludes every file any live transaction claims
    (claimed_input_relpaths), so maintainers partition the work;
  * a bin both maintainers plan anyway (TOCTOU) collides on the claim
    CAS -- the loser skips, never errors;
  * recover() only rolls back a BEGIN transaction older than
    `stale_grace_s` (a live maintainer mid-publish is NOT a crash),
    and claims the rollback by CAS-flipping the log BEGIN -> ROLLBACK
    with a caller-unique nonce -- of N concurrent recoverers exactly
    one sweeps, and a stalled owner's later commit fails its CAS;
  * COMMIT rollforward is unconditional: it is idempotent and safe to
    run concurrently with the owner's own cleanup.

Recovery (`recover`) replays the log: BEGIN past the grace rolls back
(partial outputs deleted, inputs untouched), COMMIT rolls forward
(leftover inputs deleted), orphaned file claims (a crash between claim
acquisition and log creation) retire after the grace. After recovery
exactly one generation remains per transaction -- idempotent, so
optimize() runs it unconditionally at startup. The default
stale_grace_s=0.0 keeps the historical sole-maintainer semantics for
the operational CLI ("nothing else is running: clean everything");
optimize() passes its own grace so racing loops never reclaim each
other's live work.

Only the PROTOCOL plane (log + claim objects) routes through the
commit backend (commit_backend.py) -- claim / put_if_match /
read_text / listdir / age_s, the primitives the versioned table's OCC
protocol uses; the drills also run the log on a rename-free in-memory
fake, so it leans on no rename or directory. The data plane (sstable
components) stays on the filesystem Spark writes through.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import uuid

from cassandra_sstable_to_protocolbuf_spark.commit_backend import (
    get_commit_backend, is_reclaim_tombstone, make_reclaim_tombstone)

TXN_DIR_NAME = "_txn"

# A BEGIN/ROLLBACK log (or orphan claim) younger than this is a LIVE
# concurrent maintainer's work; older, a crashed writer's leftover that
# recover() may reclaim. optimize() passes this; bare recover() calls
# default to 0.0 (sole-maintainer semantics).
TXN_STALE_GRACE_S = 60.0


class AlreadyClaimed(RuntimeError):
    """The bin (or one of its input files) is already claimed by a live
    transaction -- a concurrent maintainer owns it; skip, don't fail."""


def txn_dir(input_dir: str) -> str:
    return os.path.join(input_dir, TXN_DIR_NAME)


def _txn_key(input_dir: str, input_paths: list[str]) -> str:
    rels = sorted(os.path.relpath(p, input_dir) for p in input_paths)
    return hashlib.sha1("\n".join(rels).encode()).hexdigest()[:24]


def _log_path(input_dir: str, key: str) -> str:
    return os.path.join(txn_dir(input_dir), f"txn-{key}.json")


def _claim_path(input_dir: str, rel: str) -> str:
    h = hashlib.sha1(rel.encode()).hexdigest()[:24]
    return os.path.join(txn_dir(input_dir), f"claim-{h}.json")


def _retire(backend, path: str, expected_text: str,
            guards: list[str]) -> bool:
    """CAS the object's exact bytes to a reclaim tombstone -- the only
    removal primitive in this protocol. False when the object changed
    (someone else retired or re-claimed it): the caller's work is
    already done or no longer theirs to do. `guards` names the input
    files the object referred to, so vacuum can later prove the
    tombstone unclaimable before hard-deleting it."""
    return backend.put_if_match(path, make_reclaim_tombstone(guards),
                                expected_text)


def begin(input_dir: str, name: str, output_prefix: str,
          input_paths: list[str]) -> str:
    """Claim the transaction: one CAS claim per input file (sorted
    order), then the CAS-created log. Returns the transaction key
    (pass it to commit/finish). Raises AlreadyClaimed when any input
    or the bin itself is held by a live transaction.

    Both the claims and the log carry a caller-unique `owner` nonce:
    every other field is a deterministic function of the bin, so two
    concurrent maintainers would otherwise write byte-identical
    bodies -- and a stalled owner's commit, a CAS against the BEGIN
    bytes it wrote, would then match a rival's log re-created after a
    reclaim, letting BOTH believe they own the bin. Creation goes
    through the backend's tombstone-aware claim(): a retired
    transaction's tombstones are re-claimable."""
    backend = get_commit_backend()
    key = _txn_key(input_dir, input_paths)
    owner = uuid.uuid4().hex
    rels = sorted(os.path.relpath(p, input_dir) for p in input_paths)
    acquired: list[tuple[str, str, str]] = []  # (path, body, rel)
    for rel in rels:
        body = json.dumps({"kind": "claim", "owner": owner,
                           "txn": key, "file": rel})
        if not backend.claim(_claim_path(input_dir, rel), body):
            _release(backend, acquired)
            raise AlreadyClaimed(
                f"input {rel!r} of transaction {name!r} is already "
                f"claimed in {input_dir} (concurrent optimize, or a "
                f"crashed run inside its reclaim grace)")
        acquired.append((_claim_path(input_dir, rel), body, rel))
    rec = {"state": "BEGIN", "name": name, "key": key, "owner": owner,
           "output_prefix": output_prefix, "inputs": rels}
    if not backend.claim(_log_path(input_dir, key), json.dumps(rec)):
        _release(backend, acquired)
        raise AlreadyClaimed(
            f"maintenance transaction {name!r} is already claimed in "
            f"{input_dir} (concurrent optimize, or a crashed run that "
            f"was not recovered)")
    return key


def _release(backend, acquired: list[tuple[str, str, str]]) -> None:
    for path, body, rel in acquired:
        _retire(backend, path, body, guards=[rel])


def _find(input_dir: str, name: str,
          key: str | None) -> tuple[str, str, dict]:
    """Locate a live log by key (exact) or by unique name (legacy
    call sites); returns (path, text, record)."""
    backend = get_commit_backend()
    if key is not None:
        path = _log_path(input_dir, key)
        text = backend.read_text(path)
        if is_reclaim_tombstone(text):
            raise FileNotFoundError(path)
        return path, text, json.loads(text)
    matches = [(p, t, r) for p, t, r in _live_logs(input_dir)
               if r.get("name") == name]
    if not matches:
        raise FileNotFoundError(
            f"no live transaction named {name!r} in {input_dir}")
    if len(matches) > 1:
        raise RuntimeError(
            f"transaction name {name!r} is ambiguous in {input_dir}; "
            f"pass the key begin() returned")
    return matches[0]


def commit(input_dir: str, name: str, output_paths: list[str],
           key: str | None = None) -> None:
    """The atomic commit point: CAS the log BEGIN -> COMMIT against the
    exact BEGIN bytes, recording the published outputs. After this,
    readers see the new generation. A transaction reclaimed by a
    concurrent maintainer fails here loudly -- its outputs were already
    swept and must not be re-published."""
    backend = get_commit_backend()
    path, text, rec = _find(input_dir, name, key)
    if rec.get("state") != "BEGIN":
        raise RuntimeError(
            f"maintenance transaction {name!r} in state "
            f"{rec.get('state')!r}, expected BEGIN")
    rec["state"] = "COMMIT"
    rec["outputs"] = sorted(os.path.relpath(p, input_dir)
                            for p in output_paths)
    if not backend.put_if_match(path, json.dumps(rec), text):
        raise RuntimeError(
            f"maintenance transaction {name!r} was reclaimed by a "
            f"concurrent maintainer before its commit; its outputs "
            f"have been rolled back -- re-plan and retry")


def finish(input_dir: str, name: str, key: str | None = None) -> None:
    """Checkpoint: the transaction's effects are fully applied; retire
    its claims and log (idempotent)."""
    backend = get_commit_backend()
    try:
        path, text, rec = _find(input_dir, name, key)
    except FileNotFoundError:
        return  # already retired (a recoverer finished the cleanup)
    _retire_claims(backend, input_dir, rec)
    _retire(backend, path, text, guards=rec.get("inputs", []))


def _retire_claims(backend, input_dir: str, rec: dict) -> None:
    """Retire exactly THIS transaction's file claims: CAS-guarded on
    the claim body naming our key, so a claim re-acquired by a newer
    transaction on the same file is never touched."""
    for rel in rec.get("inputs", ()):
        cpath = _claim_path(input_dir, rel)
        try:
            body = backend.read_text(cpath)
        except FileNotFoundError:
            continue
        if is_reclaim_tombstone(body):
            continue
        try:
            crec = json.loads(body)
        except ValueError:
            continue
        if crec.get("txn") == rec.get("key"):
            _retire(backend, cpath, body, guards=[rel])


def _live_logs(input_dir: str) -> list[tuple[str, str, dict]]:
    """(path, text, record) for every live transaction log under
    `<dir>/_txn`, name-sorted; tombstones and claim objects skipped.
    A directory that never ran a transaction returns []."""
    backend = get_commit_backend()
    try:
        names = backend.listdir(txn_dir(input_dir))
    except FileNotFoundError:
        return []
    out = []
    for fname in sorted(names):
        if not (fname.startswith("txn-") and fname.endswith(".json")):
            continue
        path = os.path.join(txn_dir(input_dir), fname)
        try:
            text = backend.read_text(path)
        except FileNotFoundError:
            continue  # finished between listdir and read: already clean
        if is_reclaim_tombstone(text):
            continue
        rec = json.loads(text)
        if rec.get("state") not in ("BEGIN", "COMMIT", "ROLLBACK") \
                or "output_prefix" not in rec or "inputs" not in rec:
            raise ValueError(
                f"corrupt maintenance transaction log {fname} in "
                f"{input_dir}: {text[:200]!r}")
        out.append((path, text, rec))
    return out


def read_logs(input_dir: str) -> list[dict]:
    """All live transaction records under `<dir>/_txn`, name-sorted."""
    return [rec for _p, _t, rec in _live_logs(input_dir)]


def _live_claims(input_dir: str) -> list[tuple[str, str, dict]]:
    """(path, text, record) for every live per-file claim object."""
    backend = get_commit_backend()
    try:
        names = backend.listdir(txn_dir(input_dir))
    except FileNotFoundError:
        return []
    out = []
    for fname in sorted(names):
        if not (fname.startswith("claim-") and fname.endswith(".json")):
            continue
        path = os.path.join(txn_dir(input_dir), fname)
        try:
            text = backend.read_text(path)
        except FileNotFoundError:
            continue
        if is_reclaim_tombstone(text):
            continue
        try:
            rec = json.loads(text)
        except ValueError:
            continue
        if rec.get("kind") == "claim" and isinstance(
                rec.get("file"), str):
            out.append((path, text, rec))
    return out


def claimed_input_relpaths(input_dir: str) -> set[str]:
    """Every relative Data.db path a live transaction (or orphan file
    claim) holds -- the planner excludes these so concurrent
    maintainers partition the work instead of racing on it."""
    claimed: set[str] = set()
    for _p, _t, rec in _live_logs(input_dir):
        claimed.update(rec["inputs"])
    for _p, _t, crec in _live_claims(input_dir):
        claimed.add(crec["file"])
    return claimed


def _output_basename_prefix(output_prefix: str) -> str:
    # outputs are written flat into input_dir by the sstable writer as
    # ks-<sstable_id>-ka-<gen> components where sstable_id starts with
    # "<output_prefix>-" (token shard appended); temp files share the
    # prefix too, so a rollback sweep catches them as well
    return f"ks-{output_prefix}-"


def filter_live(input_dir: str, data_paths: list[str]) -> list[str]:
    """The reader-visible subset of `data_paths` under the transaction
    log: BEGIN (and in-flight ROLLBACK) hides that transaction's
    outputs (old generation wins), COMMIT hides its inputs (new
    generation wins). With no log this is the identity -- one listdir
    miss, zero data IO."""
    recs = read_logs(input_dir)
    if not recs:
        return data_paths
    hidden_inputs: set[str] = set()
    hidden_prefixes: list[str] = []
    for rec in recs:
        if rec["state"] == "COMMIT":
            hidden_inputs.update(rec["inputs"])
        else:
            hidden_prefixes.append(_output_basename_prefix(
                rec["output_prefix"]))
    out = []
    for p in data_paths:
        rel = os.path.relpath(p, input_dir)
        base = os.path.basename(p)
        if rel in hidden_inputs:
            continue
        if any(base.startswith(pref) for pref in hidden_prefixes):
            continue
        out.append(p)
    return out


def unlink_components(data_path: str) -> None:
    """Remove every component of one sstable (idempotent)."""
    from cassandra_sstable_to_protocolbuf_spark.sources.sstable_native import (
        ALL_SUFFIXES, DATA_SUFFIX)

    base = data_path[:-len(DATA_SUFFIX)]
    for suffix in ALL_SUFFIXES:
        try:
            os.unlink(base + suffix)
        except FileNotFoundError:
            pass


def _rollback(backend, input_dir: str, path: str, text: str,
              rec: dict) -> None:
    """Sweep a claimed-for-rollback transaction: partial outputs and
    temps removed (published components AND in-flight writer temps),
    the sweep mirrored in the manifest (outputs may have been recorded
    just before a crash pre-commit), then claims and log retire.
    Idempotent -- a crash mid-sweep leaves the ROLLBACK log, which
    keeps the partial outputs hidden until the next recoverer redoes
    the sweep."""
    from cassandra_sstable_to_protocolbuf_spark import manifest

    pref = _output_basename_prefix(rec["output_prefix"])
    manifest.remove_by_basename_prefix(input_dir, pref)
    for p in glob.glob(glob.escape(os.path.join(input_dir, pref)) + "*"):
        try:
            os.unlink(p)
        except FileNotFoundError:
            pass
    _retire_claims(backend, input_dir, rec)
    _retire(backend, path, text, guards=rec.get("inputs", []))


def _rollforward(backend, input_dir: str, path: str, text: str,
                 rec: dict) -> None:
    """Finish a committed transaction's cleanup: outputs into the
    manifest (the crash may have landed between commit and the
    manifest add), inputs out of it BEFORE their files unlink, then
    claims and log retire. Idempotent and safe concurrently with the
    owner's own post-commit cleanup."""
    from cassandra_sstable_to_protocolbuf_spark import manifest

    manifest.add(input_dir, [os.path.join(input_dir, rel)
                             for rel in rec.get("outputs", [])])
    manifest.remove(input_dir, [os.path.join(input_dir, rel)
                                for rel in rec["inputs"]])
    for rel in rec["inputs"]:
        unlink_components(os.path.join(input_dir, rel))
    _retire_claims(backend, input_dir, rec)
    _retire(backend, path, text, guards=rec.get("inputs", []))


def recover(input_dir: str,
            stale_grace_s: float = 0.0) -> list[dict]:
    """Replay the log to exactly one consistent generation per
    transaction: BEGIN/ROLLBACK older than `stale_grace_s` rolls back
    (the rollback is CLAIMED by a CAS flip to a nonce'd ROLLBACK
    state, so of N concurrent recoverers exactly one sweeps and a
    stalled owner's commit CAS fails), COMMIT rolls forward
    (idempotent, unconditional), and orphaned file claims past the
    grace retire. Idempotent; returns the actions taken,
    [{"name", "action"}]. The 0.0 default is the historical
    sole-maintainer CLI semantics; optimize() passes its own grace so
    racing maintainers never reclaim each other's live work."""
    backend = get_commit_backend()
    actions = []
    for path, text, rec in _live_logs(input_dir):
        if rec["state"] == "COMMIT":
            _rollforward(backend, input_dir, path, text, rec)
            actions.append({"name": rec["name"], "action": "rollforward"})
            continue
        age = backend.age_s(path)
        if age is None:
            continue  # retired between listing and here
        if age < stale_grace_s:
            continue  # a LIVE maintainer mid-publish: not ours to touch
        claimed = dict(rec)
        claimed["state"] = "ROLLBACK"
        claimed["rollback_owner"] = uuid.uuid4().hex
        claimed_text = json.dumps(claimed)
        if not backend.put_if_match(path, claimed_text, text):
            continue  # the owner committed, or another recoverer won
        _rollback(backend, input_dir, path, claimed_text, claimed)
        actions.append({"name": rec["name"], "action": "rollback"})
    # orphaned file claims: a crash between claim acquisition and log
    # creation leaves claims no log references -- retire after grace
    live_keys = {rec.get("key") for _p, _t, rec in _live_logs(input_dir)}
    for cpath, ctext, crec in _live_claims(input_dir):
        if crec.get("txn") in live_keys:
            continue
        age = backend.age_s(cpath)
        if age is not None and age >= stale_grace_s:
            _retire(backend, cpath, ctext, guards=[crec["file"]])
    return actions


def vacuum(input_dir: str, min_age_s: float = 3600.0) -> list[str]:
    """Sweep reclaim tombstones under `<dir>/_txn` -- retired logs and
    claims accumulate as tombstone bodies by design (no unconditional
    deletes in the live protocol). Hard deletion is the one place an
    unconditional DELETE exists, so it only fires on tombstones
    PROVABLY unclaimable: every data file the retired object guarded
    (the tombstone's `guards` list) must be gone from the directory.
    Claim and log paths are deterministic functions of input-file
    relpaths, so a path whose guarded files no longer exist can only
    be claimed again if a deleted component name is re-created -- which
    the engine's naming discipline never does (OPTIMIZE generations
    are monotonic via next_generation; the fixture/export writer
    allocates fresh per-cf generations). `min_age_s` additionally
    keeps any tombstone young enough to be a live transaction's
    just-retired state (the files may unlink a beat after the log
    retires). Tombstones without guards, or with a guarded file still
    present, stay -- bounded by the live file count because such paths
    get REUSED by the next transaction on the same files rather than
    accumulating. Returns deleted names."""
    backend = get_commit_backend()
    try:
        names = backend.listdir(txn_dir(input_dir))
    except FileNotFoundError:
        return []
    from cassandra_sstable_to_protocolbuf_spark.commit_backend import (
        tombstone_guards)

    deleted = []
    for fname in sorted(names):
        if not fname.endswith(".json"):
            continue
        path = os.path.join(txn_dir(input_dir), fname)
        try:
            text = backend.read_text(path)
        except FileNotFoundError:
            continue
        guards = tombstone_guards(text)
        if guards is None:
            continue  # live object, or a guard-less tombstone: keep
        if any(os.path.exists(os.path.join(input_dir, rel))
               for rel in guards):
            continue  # path may be claimed again: must not delete
        age = backend.age_s(path)
        if age is not None and age >= min_age_s:
            backend.delete(path)
            deleted.append(fname)
    return deleted
