"""Storage primitives for the commit protocols: the versioned table's
OCC commits, the sstable manifest's CAS root and the maintenance
transaction log.

The PROTOCOLS (claim version N exclusively -> publish the current
pointer -> reclaim crashed claims after a grace window; CAS a manifest
root; claim, commit and retire a transaction) live in `versioned.py`,
`manifest.py` and `txnlog.py`. The storage primitives they need live on
`PosixCommitBackend`, for local/NFS filesystems where O_EXCL and rename
are atomic:

  read_text / exists / listdir  -- snapshot reads
  put_if_absent                 -- the CAS claim (O_EXCL create)
  put_atomic                    -- last-writer-wins pointer publish
                                   (temp+fsync+rename)
  put_if_match                  -- CAS replace (compare under a
                                   sidecar flock, then put_atomic)
  put_atomic_fenced             -- overwrite under the same flock
  steal                         -- at-most-once reclaim of a crashed
                                   claim (rename-then-unlink)
  claim                         -- tombstone-aware CAS create (the
                                   post-steal claim path)
  age_s / delete                -- grace-window reclaim + vacuum

Protocol layers reach the backend through get_commit_backend(), the one
place tests substitute a fake: tests/memory_commit_backend.py holds a
rename-free in-memory fake (flat keys, conditional puts under a lock)
that the contract battery and the concurrency drills also run against,
so the protocols are shown not to lean on rename or directories.

Only the PROTOCOL plane routes through the backend. The data plane
(sstable components, parquet files under data/c{N}) is written and read
by Spark's own filesystem layer.
"""

from __future__ import annotations

import contextlib
import json
import os
import tempfile
import threading
import time
import uuid

# -- reclaim tombstones ---------------------------------------------------
# Protocol objects are RETIRED, never unconditionally deleted: a delete
# decided on an earlier read can land after another writer re-created
# the key and destroy that writer's claim (advisor r9, high).
# Retirement CAS-replaces the object's exact bytes with a recognized,
# caller-unique TOMBSTONE body that is left in place; the only
# transition out of a tombstone is the CAS replace inside claim(), which
# arbitrates racers exactly once.
_TOMBSTONE_FIELD = "reclaimed-by"


def make_reclaim_tombstone(guards: list[str] | None = None) -> str:
    """A caller-unique tombstone body (the uuid rules out ABA: a
    claimer CAS-ing against a tombstone it read earlier can never match
    a later, re-written one, like every other claim body).
    `guards` optionally records which data files the retired object
    referred to: a vacuum may hard-DELETE a tombstone only when it can
    prove the path can never be claimed again (every guarded file
    gone), because an unconditional delete in flight destroys whatever
    a concurrent claimer just created at the path."""
    rec: dict = {_TOMBSTONE_FIELD: uuid.uuid4().hex}
    if guards is not None:
        rec["guards"] = sorted(guards)
    return json.dumps(rec)


def is_reclaim_tombstone(text: str) -> bool:
    """True iff `text` is a reclaim tombstone. Protocol claim bodies
    (versioned manifests, txnlog records, manifest roots) all carry
    other mandatory fields, so the shape cannot collide."""
    try:
        rec = json.loads(text)
    except ValueError:
        return False
    return (isinstance(rec, dict) and _TOMBSTONE_FIELD in rec
            and set(rec) <= {_TOMBSTONE_FIELD, "guards"})


def tombstone_guards(text: str) -> list[str] | None:
    """The `guards` list of a reclaim tombstone (None when absent or
    not a tombstone)."""
    if not is_reclaim_tombstone(text):
        return None
    return json.loads(text).get("guards")


class PosixCommitBackend:
    """Storage primitives for the commit protocols on local/NFS
    filesystems, where O_EXCL and rename are atomic. Paths are plain
    POSIX paths. put_if_absent and steal are linearizable -- the
    protocols' correctness reduces to those two being at-most-once."""

    def read_text(self, path: str) -> str:
        """Full contents; raises FileNotFoundError when absent."""
        with open(path, encoding="utf-8") as f:
            return f.read()

    def exists(self, path: str) -> bool:
        return os.path.exists(path)

    def listdir(self, dirpath: str) -> list[str]:
        """Immediate child names of a directory; raises
        FileNotFoundError for one that was never written."""
        return os.listdir(dirpath)

    def put_if_absent(self, path: str, text: str) -> bool:
        """CAS create: True if this call created the object, False if it
        already existed (the loser of a race). Never overwrites.

        Contract: `text` must be CALLER-UNIQUE (the protocol layers
        embed a uuid -- versioned manifests a `writer`, txnlog claims an
        `owner`, manifest roots a `rev`). Callers identify their own
        claim by reading it back (versioned._verify_claim) and CAS
        against bytes they read earlier (put_if_match); identical bodies
        from different callers would let a stalled writer take a rival's
        re-created claim for its own."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        try:
            fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY, 0o644)
        except FileExistsError:
            return False
        with os.fdopen(fd, "w", encoding="utf-8") as f:
            f.write(text)
            f.flush()
            os.fsync(f.fileno())
        return True

    def put_atomic(self, path: str, text: str) -> None:
        """Atomic last-writer-wins publish: readers see the old or the
        new contents, never a prefix."""
        # same-directory temp + fsync + rename: POSIX's only atomic
        # publish primitive
        d = os.path.dirname(path)
        os.makedirs(d, exist_ok=True)
        fd, tmp = tempfile.mkstemp(dir=d, prefix=".commit_")
        try:
            with os.fdopen(fd, "w", encoding="utf-8") as f:
                f.write(text)
                f.flush()
                os.fsync(f.fileno())
            os.rename(tmp, path)
        except BaseException:
            try:
                os.unlink(tmp)
            except OSError:
                pass
            raise

    @contextlib.contextmanager
    def _cas_lock(self, path: str):
        """Sidecar flock serializing CAS/fenced writes on `path`, with
        unlink-safe acquisition: the holder unlinks the sidecar on
        release (no litter), so an acquirer must verify -- after the
        flock lands -- that the path still names the inode it locked;
        a stale inode means the prior holder unlinked it while we
        blocked, and a fresh open may race a third party, so re-open
        and re-verify until path and fd agree. Crash-safe: flocks die
        with the process and a leftover sidecar is just re-used."""
        import fcntl

        lock_path = path + ".cas-lock"
        os.makedirs(os.path.dirname(path), exist_ok=True)
        while True:
            lock = open(lock_path, "a+", encoding="utf-8")
            fcntl.flock(lock.fileno(), fcntl.LOCK_EX)
            try:
                cur = os.stat(lock_path)
            except FileNotFoundError:
                cur = None
            mine = os.fstat(lock.fileno())
            if cur is not None and (cur.st_ino, cur.st_dev) == \
                    (mine.st_ino, mine.st_dev):
                break
            fcntl.flock(lock.fileno(), fcntl.LOCK_UN)
            lock.close()
        try:
            yield
        finally:
            # unlink BEFORE unlock: anyone blocked on our inode sees
            # the stale-inode condition and re-opens -- never two
            # holders on different inodes
            try:
                os.unlink(lock_path)
            except OSError:
                pass
            fcntl.flock(lock.fileno(), fcntl.LOCK_UN)
            lock.close()

    def put_if_match(self, path: str, text: str, expected: str) -> bool:
        """CAS replace: write `text` iff the object currently holds
        exactly `expected`. True when this call's write landed; False
        when the contents differ or the object is absent (the caller
        re-reads and retries -- the optimistic-concurrency loop).
        Same caller-unique contract as put_if_absent: `text` must embed
        a nonce (manifest updates carry a `rev` uuid), or a later
        writer's identical bytes would satisfy a stale `expected`."""
        # POSIX has no native compare-and-swap on file contents: take a
        # sidecar flock (auto-released on crash -- no deadlock), compare
        # under it, publish via the same temp+fsync+rename primitive.
        # Readers never lock: they see old or new atomically via rename.
        with self._cas_lock(path):
            try:
                with open(path, encoding="utf-8") as f:
                    if f.read() != expected:
                        return False
            except FileNotFoundError:
                return False
            self.put_atomic(path, text)
            return True

    def put_atomic_fenced(self, path: str, text: str) -> None:
        """Last-writer-wins overwrite that SERIALIZES with concurrent
        put_if_match CAS attempts on the same path: it takes the same
        lock, so a reseed cannot be silently overwritten by an
        in-flight CAS holding a pre-reseed snapshot (that CAS's compare
        re-runs after we release and fails; advisor r9). Use for
        manifest init/reseed."""
        with self._cas_lock(path):
            self.put_atomic(path, text)

    def steal(self, path: str) -> bool:
        """At-most-once reclaim of an existing object: of N concurrent
        stealers exactly one returns True, and afterwards the object is
        ABSENT, so the key is claimable via claim(). A stealer never
        issues an unconditional delete of the claim path, which could
        land after another writer re-created the key."""
        # rename wins at most once: two concurrent stealers cannot both
        # unlink-and-recreate -- the loser's rename raises and it goes
        # back to the CAS create, losing cleanly to the winner's fresh
        # (hence young) claim; the unlink only ever hits the private
        # renamed-away name
        tomb = f"{path}.reclaimed.{os.getpid()}.{threading.get_ident()}"
        try:
            os.rename(path, tomb)
        except OSError:
            return False
        try:
            os.unlink(tomb)
        except OSError:
            pass
        return True

    def claim(self, path: str, text: str) -> bool:
        """Tombstone-aware CAS create: the claim primitive protocol
        layers use after a steal(). put_if_absent, falling back to a
        CAS replace when the key holds a reclaim tombstone (a retired
        txnlog object or vacuumed manifest slot). Of N racers on one
        tombstone the put_if_match arbitrates exactly one winner.
        `text` must be caller-unique like every claim body."""
        for _ in range(2):
            if self.put_if_absent(path, text):
                return True
            try:
                cur = self.read_text(path)
            except FileNotFoundError:
                continue  # removed between the create and the read: retry
            if is_reclaim_tombstone(cur):
                return self.put_if_match(path, text, cur)
            return False
        return False

    def delete(self, path: str) -> None:
        """Idempotent removal (vacuum plane)."""
        try:
            os.unlink(path)
        except FileNotFoundError:
            pass

    def age_s(self, path: str) -> float | None:
        """Seconds since the object was written, or None if absent --
        the liveness signal for the stale-claim grace window."""
        try:
            return time.time() - os.path.getmtime(path)
        except OSError:
            return None


def sweep_cas_locks(root_dir: str) -> list[str]:
    """Remove crash-leftover `.cas-lock` sidecars under `root_dir`
    (recursive). Live CAS holders release-and-unlink their own sidecar,
    so any file present is either actively held or a crash leftover --
    and mtime cannot distinguish them (a reused leftover keeps its old
    mtime while held). The safe discriminator is the flock itself: try
    a NON-BLOCKING exclusive lock; success proves no holder, and
    unlinking under the lock is exactly the release path's discipline
    (the inode-recheck in _cas_lock keeps any concurrent acquirer
    correct). Held locks are skipped. Returns the removed paths."""
    import fcntl
    import glob as _glob

    removed = []
    for path in _glob.glob(os.path.join(root_dir, "**", "*.cas-lock"),
                           recursive=True):
        try:
            f = open(path, "a+", encoding="utf-8")
        except OSError:
            continue
        try:
            try:
                fcntl.flock(f.fileno(), fcntl.LOCK_EX | fcntl.LOCK_NB)
            except OSError:
                continue  # actively held: not ours to sweep
            try:
                cur = os.stat(path)
            except FileNotFoundError:
                continue  # the holder just released and unlinked it
            mine = os.fstat(f.fileno())
            if (cur.st_ino, cur.st_dev) != (mine.st_ino, mine.st_dev):
                continue  # recreated underneath us: leave the new one
            os.unlink(path)
            removed.append(path)
        finally:
            f.close()
    return removed


_BACKEND = PosixCommitBackend()


def get_commit_backend() -> PosixCommitBackend:
    return _BACKEND
