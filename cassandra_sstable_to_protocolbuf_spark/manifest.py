"""Manifest-backed sstable discovery (VERDICT r7 #6, segmented r10).

Native-source planning walked the directory with a recursive glob per
plan -- O(files) driver syscalls, which dominates planning at 100k+
sstables. This module gives a plain native directory an OPT-IN
manifest listing every live Data.db, consulted by reader and planner
discovery before any directory walk. Directories without a manifest
keep the walk -- the manifest is an accelerator a deployment turns on,
never a requirement.

STRUCTURE (VERDICT r9 #1 -- the flat single body made every mutation
an O(total entries) GET+PUT, ~100 MB per add at the 100 TB shape of
~1.6M shards). The manifest is now a small CAS'd ROOT plus immutable
side files, the same manifest discipline the versioned table uses:

  <dir>/_sstables-manifest.json      the ROOT (compare-and-swapped):
      {"version": 2, "rev": <uuid>,
       "base": {"name": "base-<uuid>.json", "count": N},
       "segments": [{"name": "seg-<uuid>.json", "weight": w}, ...]}
  <dir>/_sstables-manifest.d/...     immutable side objects:
      base-*.json  {"entries": [...]}           the folded listing
      seg-*.json   {"add": [...], "remove": [...]}  one delta

A mutation writes ONE small delta segment (unique name -- never
contended), then CASes the root to append it: per-add cost is
O(delta + log corpus), not O(corpus). Two maintenance disciplines keep
reads bounded without making writes linear:

* BINARY-COUNTER SEGMENT MERGE (Bentley-Saxe): after appending, the
  newest segment merges into its left neighbor while it has grown at
  least as heavy -- segment count stays O(log corpus) and every delta
  entry is rewritten O(log corpus) times amortized, never O(corpus).
* RATIO-TRIGGERED FOLD: when accumulated delta weight reaches
  base_count/4 + 1024, everything folds into a fresh base -- amortized
  O(1) extra entry-writes per add, and reads touch at most ~1.25x the
  corpus.

Superseded side files are never deleted inline (a reader holding the
old root may still need them); `vacuum()` sweeps unreferenced side
objects older than a grace age. Version-1 roots (the old flat body)
stay readable and upgrade to the segmented form on their first
mutation.

Consistency model (unchanged from r7/r8; the crash windows are closed
by ORDERING, with the maintenance transaction log as the arbiter):

* The manifest lists every sstable the directory OWNS, including
  in-flight OPTIMIZE outputs; per-transaction visibility stays
  txnlog.filter_live's job. Discovery = manifest read + filter_live.
* OPTIMIZE ordering: outputs are ADDED before txnlog.commit and inputs
  are REMOVED from the manifest before their files are unlinked.
  txnlog.recover repairs both crash windows from the log record.
* A manifest entry whose file is MISSING means external tampering:
  discovery falls back to the directory walk for that plan -- degraded
  to O(files), never wrong results.
* Every publish path records its outputs: OPTIMIZE does, and a caller
  of the lazy write_cells_as_sstables calls add() on the collected
  paths; reconcile() repairs raw-copy bypasses.

Updates are COMPARE-AND-SWAP on the root only (VERDICT r8 #2): two
concurrent updaters both keep their entries because the loser re-reads
and retries. Every written root embeds a `rev` uuid so it is
caller-unique (the commit backend's put_if_match contract: a stale
snapshot can never match a later root's bytes). Readers only ever
read.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from cassandra_sstable_to_protocolbuf_spark.commit_backend import (
    get_commit_backend)

MANIFEST_NAME = "_sstables-manifest.json"
SIDE_DIR_NAME = "_sstables-manifest.d"
_V1 = 1
_V2 = 2
_CAS_MAX_TRIES = 64
# fold all segments into a new base once their accumulated weight
# reaches base/_FOLD_RATIO + _FOLD_MIN: amortized O(1) per added entry
_FOLD_RATIO = 4
_FOLD_MIN = 1024
# hard ceiling on segment count (binary-counter merging keeps it at
# O(log corpus) anyway; this bounds pathological cancellation shapes)
_MAX_SEGMENTS = 48


def manifest_path(input_dir: str) -> str:
    return os.path.join(input_dir, MANIFEST_NAME)


def _side_path(input_dir: str, name: str) -> str:
    return os.path.join(input_dir, SIDE_DIR_NAME, name)


# -- root/side body shapes --------------------------------------------------

def _valid_v1(rec) -> bool:
    return (isinstance(rec, dict) and rec.get("version") == _V1
            and isinstance(rec.get("entries"), list)
            and all(isinstance(e, str) for e in rec["entries"]))


def _valid_v2(rec) -> bool:
    if not (isinstance(rec, dict) and rec.get("version") == _V2):
        return False
    base = rec.get("base")
    if not (isinstance(base, dict) and isinstance(base.get("name"), str)
            and isinstance(base.get("count"), int)):
        return False
    segs = rec.get("segments")
    return isinstance(segs, list) and all(
        isinstance(s, dict) and isinstance(s.get("name"), str)
        and isinstance(s.get("weight"), int) for s in segs)


def _load_entry_list(backend, input_dir: str, name: str,
                     field: str) -> set[str]:
    rec = json.loads(backend.read_text(_side_path(input_dir, name)))
    vals = rec.get(field)
    if not (isinstance(vals, list)
            and all(isinstance(e, str) for e in vals)):
        raise ValueError(f"malformed manifest side object {name}")
    return set(vals)


def _materialize(backend, input_dir: str, rec) -> set[str]:
    """The full entry set a root describes: base, then each delta
    segment applied in order. Raises on any malformed or missing
    piece -- callers degrade exactly like a malformed flat body."""
    if _valid_v1(rec):
        return set(rec["entries"])
    if not _valid_v2(rec):
        raise ValueError("malformed manifest root")
    entries = _load_entry_list(backend, input_dir,
                               rec["base"]["name"], "entries")
    for seg in rec["segments"]:
        entries |= _load_entry_list(backend, input_dir,
                                    seg["name"], "add")
        entries -= _load_entry_list(backend, input_dir,
                                    seg["name"], "remove")
    return entries


def _put_segment(backend, input_dir: str, adds: set[str],
                 removes: set[str]) -> dict:
    name = f"seg-{uuid.uuid4().hex}.json"
    backend.put_atomic(_side_path(input_dir, name), json.dumps(
        {"add": sorted(adds), "remove": sorted(removes)}))
    return {"name": name, "weight": len(adds) + len(removes)}


def _root_body(base: dict, segments: list[dict]) -> str:
    # `rev` makes every written root caller-unique -- required by the
    # backends' lost-response CAS disambiguation, and incidentally an
    # ABA guard
    return json.dumps({"version": _V2, "rev": uuid.uuid4().hex,
                       "base": base, "segments": segments})


def _fold_body(backend, input_dir: str, entries: set[str]) -> str:
    """Write a fresh base side object holding `entries`; return the
    root body pointing at it with no segments."""
    name = f"base-{uuid.uuid4().hex}.json"
    backend.put_atomic(_side_path(input_dir, name),
                       json.dumps({"entries": sorted(entries)}))
    return _root_body({"name": name, "count": len(entries)}, [])


def _merge_tail(backend, input_dir: str,
                segments: list[dict]) -> list[dict]:
    """Binary-counter maintenance: merge the newest segment leftwards
    while it has grown at least as heavy as its neighbor (Bentley-
    Saxe), so segment count and per-entry rewrite amplification are
    both O(log corpus). A merged pair preserves apply-order semantics:
    for older A then newer B, add = (A.add - B.remove) | B.add and
    remove = (A.remove - B.add) | B.remove."""
    segments = list(segments)
    while len(segments) >= 2 and (
            segments[-1]["weight"] >= segments[-2]["weight"]
            or len(segments) > _MAX_SEGMENTS):
        a_add = _load_entry_list(backend, input_dir,
                                 segments[-2]["name"], "add")
        a_rem = _load_entry_list(backend, input_dir,
                                 segments[-2]["name"], "remove")
        b_add = _load_entry_list(backend, input_dir,
                                 segments[-1]["name"], "add")
        b_rem = _load_entry_list(backend, input_dir,
                                 segments[-1]["name"], "remove")
        segments[-2:] = [_put_segment(backend, input_dir,
                                      (a_add - b_rem) | b_add,
                                      (a_rem - b_add) | b_rem)]
    return segments


# -- public read path -------------------------------------------------------

def read_entries(input_dir: str) -> list[str] | None:
    """Relative Data.db paths from the manifest, or None when the
    directory has no (or a malformed / partially vacuumed) manifest --
    callers walk."""
    backend = get_commit_backend()
    try:
        rec = json.loads(backend.read_text(manifest_path(input_dir)))
        return sorted(_materialize(backend, input_dir, rec))
    except (FileNotFoundError, ValueError):
        return None


def exists(input_dir: str) -> bool:
    return get_commit_backend().exists(manifest_path(input_dir))


def segment_count(input_dir: str) -> int | None:
    """Operational introspection: number of live delta segments (0 for
    a freshly folded or v1 manifest), None without a manifest."""
    backend = get_commit_backend()
    try:
        rec = json.loads(backend.read_text(manifest_path(input_dir)))
    except (FileNotFoundError, ValueError):
        return None
    if _valid_v1(rec):
        return 0
    if _valid_v2(rec):
        return len(rec["segments"])
    return None


# -- CAS mutation engine ----------------------------------------------------

def _cas_delta(input_dir: str, compute_delta,
               needs_state: bool = False) -> None:
    """Apply `compute_delta(entries: set|None) -> (adds, removes)`
    under optimistic CAS on the ROOT only: no-op without a well-formed
    manifest; on a lost race, re-read and retry -- concurrent updaters
    never lose each other's deltas. `entries` is materialized (full
    read) only when needs_state -- plain add/remove never reads the
    base. Side files written by losing attempts are vacuum's job."""
    backend = get_commit_backend()
    path = manifest_path(input_dir)
    for attempt in range(_CAS_MAX_TRIES):
        try:
            cur = backend.read_text(path)
        except FileNotFoundError:
            return
        try:
            rec = json.loads(cur)
        except ValueError:
            return
        if _valid_v1(rec):
            # upgrade: fold the flat body into the segmented form with
            # this mutation applied
            entries = set(rec["entries"])
            adds, removes = compute_delta(set(entries))
            new_body = _fold_body(backend, input_dir,
                                  (entries | set(adds)) - set(removes))
        elif _valid_v2(rec):
            state = None
            if needs_state:
                try:
                    state = _materialize(backend, input_dir, rec)
                except (FileNotFoundError, ValueError):
                    return  # unreadable manifest: discovery walks too
            adds, removes = compute_delta(state)
            adds, removes = set(adds), set(removes)
            if not adds and not removes:
                return
            base = rec["base"]
            segments = rec["segments"] \
                + [_put_segment(backend, input_dir, adds, removes)]
            delta_weight = sum(s["weight"] for s in segments)
            try:
                if delta_weight >= base["count"] // _FOLD_RATIO \
                        + _FOLD_MIN:
                    if state is None:
                        state = _materialize(backend, input_dir, rec)
                    new_body = _fold_body(
                        backend, input_dir,
                        (state | adds) - removes)
                else:
                    new_body = _root_body(
                        base, _merge_tail(backend, input_dir, segments))
            except (FileNotFoundError, ValueError):
                return  # side object vanished: manifest is broken
        else:
            return
        if backend.put_if_match(path, new_body, cur):
            return
        time.sleep(min(0.001 * (1 << min(attempt, 6)), 0.1))
    raise RuntimeError(
        f"manifest update for {input_dir} lost {_CAS_MAX_TRIES} CAS "
        f"races; a writer is livelocking the manifest")


# -- public mutation surface ------------------------------------------------

def init(input_dir: str) -> list[str]:
    """Turn the manifest ON for a directory: seed it from one (final)
    recursive walk. Returns the seeded relative paths. Fenced: a
    reseed serializes with in-flight CAS updates so a CAS holding the
    pre-reseed snapshot cannot overwrite it."""
    import glob

    from cassandra_sstable_to_protocolbuf_spark.sources.sstable_native import (
        DATA_SUFFIX)

    backend = get_commit_backend()
    entries = {os.path.relpath(p, input_dir)
               for p in glob.glob(os.path.join(
                   input_dir, "**", f"*{DATA_SUFFIX}"), recursive=True)}
    backend.put_atomic_fenced(manifest_path(input_dir),
                              _fold_body(backend, input_dir, entries))
    return sorted(entries)


def add(input_dir: str, data_paths: list[str]) -> None:
    """Record new sstables (no-op without a manifest). Idempotent;
    CAS-safe against any concurrent add/remove; cost O(delta), never
    O(corpus)."""
    rel = {os.path.relpath(p, input_dir) for p in data_paths}
    if rel:
        _cas_delta(input_dir, lambda _s: (rel, set()))


def remove(input_dir: str, data_paths: list[str]) -> None:
    """Drop sstables from the manifest (no-op without one; call BEFORE
    unlinking the files so the manifest never points at ghosts).
    Idempotent; CAS-safe; cost O(delta)."""
    rel = {os.path.relpath(p, input_dir) for p in data_paths}
    if rel:
        _cas_delta(input_dir, lambda _s: (set(), rel))


def remove_by_basename_prefix(input_dir: str, prefix: str) -> None:
    """Drop every entry whose basename starts with `prefix` -- the
    rollback sweep's manifest mirror (a BEGIN-state transaction log
    knows its outputs only by name prefix). CAS-safe; reads the full
    listing (rollback is rare)."""
    _cas_delta(
        input_dir,
        lambda entries: (set(), {
            e for e in entries
            if os.path.basename(e).startswith(prefix)}),
        needs_state=True)


def reconcile(input_dir: str) -> list[str]:
    """Operational repair for out-of-band additions (raw file copies
    that bypassed every publish API): union a fresh recursive walk into
    the manifest (no-op without one). Returns the entries that were
    missing. Removals need no repair -- discovery's existence probe
    already falls back on them."""
    import glob

    from cassandra_sstable_to_protocolbuf_spark.sources.sstable_native import (
        DATA_SUFFIX)

    walked = {os.path.relpath(p, input_dir)
              for p in glob.glob(os.path.join(
                  input_dir, "**", f"*{DATA_SUFFIX}"), recursive=True)}
    missing: list[str] = []

    def delta(entries):
        missing[:] = sorted(walked - entries)
        return set(missing), set()

    before = read_entries(input_dir)
    if before is None:
        return []
    if not walked - set(before):
        return []
    _cas_delta(input_dir, delta, needs_state=True)
    return missing


def data_files(input_dir: str,
               verify_exists: bool = True) -> list[str] | None:
    """Manifest-driven discovery: absolute Data.db paths, or None when
    the directory has no manifest OR the manifest references a missing
    file (external tampering: fall back to the walk -- degraded cost,
    never wrong results). The probe is a filesystem existence check,
    the same filesystem read tasks open components from."""
    entries = read_entries(input_dir)
    if entries is None:
        return None
    paths = [os.path.join(input_dir, e) for e in entries]
    if verify_exists and not all(os.path.exists(p) for p in paths):
        return None
    return paths


def vacuum(input_dir: str, min_age_s: float = 3600.0) -> list[str]:
    """Sweep side objects no live root references -- losers of CAS
    races, folded-away bases, merged-away segments -- once older than
    `min_age_s`. The grace age protects (a) readers that GET'd the
    root just before a fold and are still reading its side files and
    (b) a writer's freshly PUT side object whose root CAS has not
    landed yet. Returns the deleted names; no-op without a manifest."""
    backend = get_commit_backend()
    try:
        rec = json.loads(backend.read_text(manifest_path(input_dir)))
    except (FileNotFoundError, ValueError):
        return []
    live: set[str] = set()
    if _valid_v2(rec):
        live.add(rec["base"]["name"])
        live.update(s["name"] for s in rec["segments"])
    elif not _valid_v1(rec):
        return []
    try:
        names = backend.listdir(os.path.join(input_dir, SIDE_DIR_NAME))
    except FileNotFoundError:
        return []
    deleted = []
    for name in names:
        if name in live:
            continue
        age = backend.age_s(_side_path(input_dir, name))
        if age is not None and age >= min_age_s:
            backend.delete(_side_path(input_dir, name))
            deleted.append(name)
    return deleted
