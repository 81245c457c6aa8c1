"""Manifest-versioned landed table: snapshot isolation + time travel.

`landed.merge_delta_lww` commits by swapping partition directories in
place -- correct for a single writer, but a reader listing the table
mid-swap can observe a missing shard, and history is gone the moment the
swap lands. At 100 TB the lakehouse answer (Iceberg/Delta) is to make
data files IMMUTABLE and commit by publishing a new manifest: readers
pin a version's file list and are never affected by concurrent commits,
old versions stay queryable (time travel), a bad ingest is undone by
restoring a prior version, and storage is reclaimed explicitly
(vacuum). This module is that seam implemented directly over parquet:

    table_dir/
      _manifests/v{N}.json   # {"version": N, "files": {shard: [relpath...]}}
      _current               # text: the committed version number
      data/c{N}/pshard=S/    # commit N's immutable parquet files

Commit protocol: write data files into a fresh `data/c{N}` directory
(never touching prior commits), CLAIM the version by creating its
manifest with O_EXCL (the CAS of the protocol -- two writers racing to
the same version number lose exactly one of the two creates, and the
loser gets `CommitConflict` to recompute-and-retry on the winner's
snapshot: optimistic concurrency, Delta/Iceberg's model), then
atomically repoint `_current` (temp+fsync+rename). A crash before the
`_current` rename leaves an unclaimed manifest that the next committer
reclaims after a liveness grace window; a crash after is a completed
commit. Readers racing a commit see either the old or the new version,
never a blend -- the snapshot-isolation property the in-place swap
cannot give.

Scale notes: a manifest holds one file list per touched shard -- O(live
files), the same driver-side footprint Spark's own file index pays to
plan a scan, and at real scale the maps would page per shard exactly as
Iceberg splits manifests. Merge cost stays proportional to the delta:
only manifest entries for the delta's shards are read and replaced;
untouched shards' entries (and files) carry over by reference.

The gate (`sst_time_travel` in cells_queries.py) certifies both
versions of a merged table against from-scratch DuckDB reconstructions;
tests/test_versioned.py pins snapshot isolation, rollback-as-new-
version, vacuum, and stale-manifest crash recovery.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cassandra_sstable_to_protocolbuf_spark.commit_backend import (
    get_commit_backend)
from cassandra_sstable_to_protocolbuf_spark.landed import (
    key_shard, lww_live_cells, lww_winners)

_MANIFESTS = "_manifests"
_CURRENT = "_current"
_DATA = "data"


def _manifest_path(table_dir: str, version: int) -> str:
    return os.path.join(table_dir, _MANIFESTS, f"v{version}.json")


def current_version(table_dir: str) -> int:
    return int(get_commit_backend()
               .read_text(os.path.join(table_dir, _CURRENT)).strip())


def list_versions(table_dir: str) -> list[int]:
    """COMMITTED snapshot versions, ascending. Manifest files above the
    `_current` pointer are crash leftovers whose commit never completed,
    not snapshots -- they are excluded here and unreadable via
    read_manifest, so restore/time-travel can never resurrect one."""
    cur = current_version(table_dir)
    mdir = os.path.join(table_dir, _MANIFESTS)
    return sorted(int(f[1:-5]) for f in get_commit_backend().listdir(mdir)
                  if f.startswith("v") and f.endswith(".json")
                  and f[1:-5].isdigit() and int(f[1:-5]) <= cur)


def read_manifest(table_dir: str, version: int | None = None) -> dict:
    """The committed manifest for `version` (default: current). Raises
    FileNotFoundError for a vacuumed/never-committed version."""
    cur = current_version(table_dir)
    if version is None:
        version = cur
    path = _manifest_path(table_dir, version)
    # a manifest above _current is an uncommitted crash leftover whose
    # data files vacuum may already have reclaimed -- serving it (or
    # letting restore_version re-commit it) would publish a snapshot of
    # dangling paths
    backend = get_commit_backend()
    if version > cur or not backend.exists(path):
        raise FileNotFoundError(
            f"version {version} of {table_dir} does not exist "
            f"(never committed, or reclaimed by vacuum)")
    m = json.loads(backend.read_text(path))
    if m.get("version") != version:
        raise ValueError(f"manifest {path} claims version {m.get('version')}")
    return m




class CommitConflict(RuntimeError):
    """Another writer committed this version first. The caller should
    re-read the current version, recompute against the new base, and
    retry -- the standard optimistic-concurrency loop."""


# A manifest file for an uncommitted version younger than this is
# treated as a LIVE concurrent writer (conflict); older, as a crashed
# writer's leftover that the next committer may reclaim.
STALE_MANIFEST_GRACE_S = 60.0


def _create_exclusive(path: str, text: str, table_dir: str,
                      version: int) -> None:
    """CAS primitive of the commit protocol: O_EXCL manifest creation.
    Two writers racing to commit the same version number both pass the
    read phase, but exactly one wins the create; the loser gets
    CommitConflict and must recompute on the winner's snapshot. A
    leftover manifest whose version never became current is reclaimed
    only after a grace age, so a LIVE writer between its manifest write
    and `_current` repoint is never clobbered."""
    backend = get_commit_backend()
    for attempt in (0, 1):
        # claim() is tombstone-aware: a slot vacuum retired to a
        # reclaim tombstone (never a delete) is CAS-replaced, so
        # racers arbitrate exactly once
        if backend.claim(path, text):
            return
        try:
            cur = current_version(table_dir)
        except FileNotFoundError:
            cur = -1  # table mid-creation: no version committed yet
        if cur >= version:
            raise CommitConflict(
                f"version {version} of {table_dir} was committed by "
                f"another writer; recompute against the new current "
                f"version and retry")
        age = backend.age_s(path)
        if age is None:
            continue  # a concurrent reclaimer removed it: retry create
        if age < STALE_MANIFEST_GRACE_S:
            raise CommitConflict(
                f"another writer appears to be mid-commit of version "
                f"{version} (manifest age {age:.1f}s); retry later")
        if attempt == 0:
            # at-most-once reclaim of the crashed leftover: of N
            # concurrent stealers exactly one wins; the losers retry
            # the CAS create and lose to the winner's fresh -- hence
            # young -- manifest with a clean CommitConflict
            backend.steal(path)
    raise CommitConflict(f"could not claim version {version} after retry")


def _schema_json(df: DataFrame) -> str:
    return df.schema.json()


def _check_schema(manifest: dict, df: DataFrame, op: str) -> None:
    """Refuse commits whose schema differs from the table's recorded
    one: the LWW reconciler works over the canonical landed columns, so
    a silently widened/narrowed commit would drop or null data. Schema
    evolution is a deliberate seam (the manifest carries the schema; an
    evolved table needs an evolution-aware reconciler), not an accident
    this check allows."""
    recorded = manifest.get("schema")
    if recorded is not None and recorded != _schema_json(df):
        raise ValueError(
            f"{op}: commit schema differs from the table schema; "
            f"recorded={recorded} got={_schema_json(df)}")


def _check_input_columns(cells: DataFrame, op: str) -> None:
    """Refuse raw cell inputs carrying columns the LWW reconciler does
    not know: lww_live_cells projects to the canonical landed columns,
    so an unexpected input column would vanish silently -- the caller
    must either drop it deliberately or extend the reconciler."""
    from cassandra_sstable_to_protocolbuf_spark.schemas import FLAT_CELL_SCHEMA
    # everything the flat cell model and the native source legitimately
    # carry; the LWW projection dropping THESE is the operator's
    # documented contract, not silent loss
    allowed = (set(FLAT_CELL_SCHEMA.fieldNames())
               | {"shard", "ttl", "local_expiration"})
    extra = sorted(set(cells.columns) - allowed)
    if extra:
        raise ValueError(
            f"{op}: input columns {extra} are unknown to the LWW "
            f"reconciler and would be silently dropped; remove them or "
            f"extend the reconciliation schema deliberately")


def _verify_claim(table_dir: str, version: int, writer_uuid: str,
                  stage: str) -> None:
    """Confirm the manifest at `version` is still THIS writer's claim.
    The mtime-grace reclaim in _create_exclusive means a writer stalled
    longer than the grace window between its O_EXCL claim and its
    `_current` repoint can be judged dead and have its claim reclaimed
    by a peer; without this check both writers would report success for
    the same version (one commit silently lost). Identity lives in the
    manifest's `writer` uuid -- a reclaimer's manifest carries its own."""
    try:
        m = json.loads(get_commit_backend()
                       .read_text(_manifest_path(table_dir, version)))
    except (OSError, ValueError):
        m = None
    if m is None or m.get("writer") != writer_uuid:
        raise CommitConflict(
            f"version {version} of {table_dir} was reclaimed by another "
            f"writer while this commit stalled ({stage}); recompute "
            f"against the current version and retry")


def _commit(table_dir: str, files_by_shard: dict[str, list[str]],
            version: int, schema_json: str | None = None,
            spec: dict | None = None) -> int:
    import uuid

    writer_uuid = uuid.uuid4().hex
    manifest = {"version": version, "writer": writer_uuid,
                "files": {s: sorted(fl) for s, fl in
                          sorted(files_by_shard.items()) if fl}}
    if schema_json is not None:
        manifest["schema"] = schema_json
    if spec is not None:
        manifest["spec"] = spec
    if version == 0:
        # table creation has no concurrent-writer protocol to honor
        # (init_versioned refuses pre-existing tables, so nothing can
        # race a v0 write except a duplicate init, which O_EXCL rejects)
        _create_exclusive(_manifest_path(table_dir, version),
                          json.dumps(manifest), table_dir, version)
        get_commit_backend().put_atomic(
            os.path.join(table_dir, _CURRENT), str(version))
        return version
    _create_exclusive(_manifest_path(table_dir, version),
                      json.dumps(manifest), table_dir, version)
    _publish(table_dir, version, writer_uuid)
    return version


def _publish(table_dir: str, version: int, writer_uuid: str) -> None:
    """Repoint `_current` to a claimed version, verifying the claim is
    still ours both BEFORE (so a zombie writer that stalled past the
    reclaim grace neither regresses `_current` below a newer committed
    version nor double-reports success) and AFTER the write (so the
    residual microsecond race between check and rename is detected
    loudly instead of surfacing as two successful commits). A detected
    reclaim raises CommitConflict -- the standard recompute-and-retry
    signal -- and leaves `_current` untouched/consistent: in the
    post-write detection case the reclaimer holds the same version
    number, so the value this writer published is the one the reclaimer
    publishes too."""
    _verify_claim(table_dir, version, writer_uuid, "pre-publish")
    if current_version(table_dir) >= version:
        # a reclaimer has already published this (or a later) version:
        # writing would regress _current below committed history
        raise CommitConflict(
            f"version {version} of {table_dir} was committed by another "
            f"writer while this commit stalled; recompute and retry")
    get_commit_backend().put_atomic(
        os.path.join(table_dir, _CURRENT), str(version))
    _verify_claim(table_dir, version, writer_uuid, "post-publish")


def _commit_data_files(merged: DataFrame, table_dir: str,
                       version: int) -> dict[str, list[str]]:
    """Write a commit's rows into its own immutable `data/c{N}` dir,
    partitioned by shard for directory locality; returns the produced
    parquet files keyed by shard (paths relative to the table root).

    The partition column is a DUPLICATE (`pshard`) of the plain `shard`
    column: partitionBy strips its column from the file bytes, and
    versioned reads hand Spark explicit file lists (no partition
    discovery), so the shard value must live IN the files.

    The directory name carries a per-attempt random suffix: two writers
    racing to the same version number must stage into DIFFERENT
    directories, or the conflict loser's overwrite-mode write would
    delete the winner's already-committed files before the manifest CAS
    even runs (the reason Delta/Iceberg writers use unique file names).
    The loser's orphaned directory is unreferenced by any manifest and
    falls to vacuum."""
    import uuid

    commit_rel = os.path.join(_DATA, f"c{version}-{uuid.uuid4().hex[:8]}")
    commit_dir = os.path.join(table_dir, commit_rel)
    # cluster rows by shard BEFORE the partitioned write: without it,
    # every write task emits a file into every shard directory (tasks x
    # shards tiny files per commit -- measured 512 at bench scale, paid
    # again by every subsequent read and carried forever by manifests).
    # Hash-repartitioning on the partition column gives one file per
    # shard per commit; at real scale the shard count (thousands) also
    # restores write parallelism.
    (merged.withColumn("pshard", F.col("shard"))
     .repartition(F.col("pshard"))
     .write.mode("overwrite").partitionBy("pshard").parquet(commit_dir))
    files: dict[str, list[str]] = {}
    for entry in os.scandir(commit_dir):
        if entry.is_dir() and entry.name.startswith("pshard="):
            shard = entry.name.split("=", 1)[1]
            files[shard] = [
                os.path.join(commit_rel, entry.name, f)
                for f in os.listdir(entry.path) if f.endswith(".parquet")]
    return files


def init_versioned(spark: SparkSession, cells: DataFrame,
                   table_dir: str, force: bool = False) -> int:
    """Create version 0 of a versioned landed table from raw native
    cells (live LWW reconciliation + key sharding, exactly
    `landed.land_by_shard`'s dataflow).

    Refuses a table that already exists: re-initializing would rewrite
    the v0 manifest and repoint `_current` back to 0, turning every
    prior version into an above-`_current` crash leftover that the next
    vacuum deletes -- one mistaken invocation silently truncating
    history. `force=True` (CLI: --force) performs exactly that,
    deliberately, after removing the old manifests."""
    _check_input_columns(cells, "init_versioned")
    backend = get_commit_backend()
    existing = [p for p in (os.path.join(table_dir, _CURRENT),
                            _manifest_path(table_dir, 0))
                if backend.exists(p)]
    if existing:
        if not force:
            raise FileExistsError(
                f"{table_dir} is already a versioned table ({existing[0]} "
                f"exists); re-initializing would silently truncate its "
                f"history. Pass force=True (--force) to rebuild from "
                f"scratch deliberately.")
        mdir = os.path.join(table_dir, _MANIFESTS)
        try:
            for f in backend.listdir(mdir):
                backend.delete(os.path.join(mdir, f))
        except FileNotFoundError:
            pass
        backend.delete(os.path.join(table_dir, _CURRENT))
    merged = lww_live_cells(cells).withColumn("shard", key_shard(F.col("key")))
    return _commit(table_dir, _commit_data_files(merged, table_dir, 0), 0,
                   schema_json=_schema_json(merged))


def _manifest_schema(manifest: dict):
    """The snapshot's recorded StructType, or None for manifests written
    before schemas were recorded."""
    s = manifest.get("schema")
    if s is None:
        return None
    from pyspark.sql.types import StructType
    return StructType.fromJson(json.loads(s))


def _read_files(spark: SparkSession, manifest: dict,
                paths: list[str]) -> DataFrame:
    """Read data files under the manifest's RECORDED schema: no footer
    schema inference (one less full-fleet metadata pass at scale), and
    every reader -- including of an empty shard set -- sees the same
    schema the commit wrote."""
    schema = _manifest_schema(manifest)
    reader = spark.read.schema(schema) if schema is not None else spark.read
    return reader.parquet(*paths)


def read_version(spark: SparkSession, table_dir: str,
                 version: int | None = None) -> DataFrame:
    """The table exactly as of `version` (default: current): reads the
    manifest's pinned file list, so concurrent commits and vacuums of
    OTHER versions never change the result."""
    m = read_manifest(table_dir, version)
    paths = [os.path.join(table_dir, p)
             for fl in m["files"].values() for p in fl]
    schema = _manifest_schema(m)
    if not paths:
        from cassandra_sstable_to_protocolbuf_spark.schemas import LANDED_SCHEMA
        return spark.createDataFrame([], schema or LANDED_SCHEMA)
    reader = spark.read.schema(schema) if schema is not None else spark.read
    return reader.parquet(*paths)


def diff_versions(spark: SparkSession, table_dir: str,
                  v_old: int, v_new: int) -> DataFrame:
    """Change-data feed between two committed snapshots (Delta
    `table_changes` / Iceberg incremental-read analog): every (key,
    name) cell inserted, deleted, or updated going v_old -> v_new, with
    old/new value and writeTime sides.

    The manifests make this O(touched shards), not O(table): a shard
    whose pinned file list is IDENTICAL in both manifests carried over
    by reference -- its bytes are immutable, so it cannot contribute a
    change and is never read. Keys shard deterministically
    (landed.key_shard), so a changed key's cells live in a touched
    shard on BOTH sides. Only the symmetric-difference shards are
    scanned, then one co-keyed full-outer join on (key, name) -- at
    100 TB a small commit diffs in time proportional to the commit, a
    property a naive snapshot-minus-snapshot EXCEPT cannot have."""
    mo, mn = read_manifest(table_dir, v_old), read_manifest(table_dir, v_new)
    shards = set(mo["files"]) | set(mn["files"])
    touched = sorted(s for s in shards
                     if mo["files"].get(s) != mn["files"].get(s))

    def side(m: dict) -> DataFrame:
        paths = [os.path.join(table_dir, p)
                 for s in touched for p in m["files"].get(s, [])]
        if not paths:
            from cassandra_sstable_to_protocolbuf_spark.schemas import (
                LANDED_SCHEMA)
            return spark.createDataFrame([], _manifest_schema(m)
                                         or LANDED_SCHEMA)
        return _read_files(spark, m, paths)

    old = side(mo).select("key", "name", F.col("value").alias("old_value"),
                          F.col("writeTime").alias("old_write_time"),
                          F.col("sstable_id").alias("old_sstable_id"))
    new = side(mn).select("key", "name", F.col("value").alias("new_value"),
                          F.col("writeTime").alias("new_write_time"),
                          F.col("sstable_id").alias("new_sstable_id"))
    j = old.join(new, ["key", "name"], "full_outer")
    # provenance counts as change: an LWW tie-break win (same value AND
    # writeTime, different winning sstable) is still a new cell version
    change = (F.when(F.col("old_write_time").isNull(), "insert")
              .when(F.col("new_write_time").isNull(), "delete")
              .when(~F.col("old_value").eqNullSafe(F.col("new_value"))
                    | (F.col("old_write_time") != F.col("new_write_time"))
                    | (F.col("old_sstable_id") != F.col("new_sstable_id")),
                    "update"))
    return (j.withColumn("change_type", change)
            .filter(F.col("change_type").isNotNull())
            .select("change_type", "key", "name", "old_value", "new_value",
                    "old_write_time", "new_write_time",
                    "old_sstable_id", "new_sstable_id"))


def _spec_n(manifest: dict) -> int:
    """The snapshot's partition-spec shard count (landed.N_SHARDS for
    tables that never evolved)."""
    from cassandra_sstable_to_protocolbuf_spark.landed import N_SHARDS
    return (manifest.get("spec") or {}).get("n_shards", N_SHARDS)


def _require_coherent(manifest: dict, op: str) -> None:
    """Shard-LABEL-based operations (CoW touched-shard merges, per-label
    compaction, shard-grouped reads) are only correct when every data
    file was written under ONE spec. A reshard leaves the table MIXED
    (old files under old labels) until compact_respec_versioned rewrites
    them; until then only spec-agnostic paths (append_versioned,
    read_respec) may run -- exactly Iceberg's multi-spec read rule."""
    if (manifest.get("spec") or {}).get("mixed"):
        raise ValueError(
            f"{op} requires a single-spec table, but this snapshot is "
            f"spec-MIXED after a reshard; run compact_respec_versioned "
            f"first (reads: use read_respec)")


def reshard_versioned(table_dir: str, n_shards: int) -> int:
    """Evolve the table's partition spec (shard count) WITHOUT rewriting
    any data -- a metadata-only commit carrying the same file lists and
    the new spec, marked MIXED because existing files keep their old
    labels. Subsequent merge-on-read appends shard their deltas under
    the new spec immediately; `read_respec` reconciles across specs at
    read time; `compact_respec_versioned` relabels the data files and
    clears the mixed flag. This is Iceberg partition-spec evolution:
    changing the layout constant costs one metadata commit now and a
    deferrable background rewrite, never a synchronous table rewrite."""
    cur = current_version(table_dir)
    manifest = read_manifest(table_dir, cur)
    if n_shards < 1:
        raise ValueError(f"n_shards must be positive, got {n_shards}")
    if n_shards == _spec_n(manifest) and not (
            manifest.get("spec") or {}).get("mixed"):
        return cur
    spec = {"n_shards": n_shards, "mixed": True}
    return _commit(table_dir, manifest["files"], cur + 1,
                   schema_json=manifest.get("schema"), spec=spec)


def read_respec(spark: SparkSession, table_dir: str,
                version: int | None = None) -> DataFrame:
    """Snapshot read that reconciles across partition specs: LWW by
    (key, name) ONLY -- shard labels from different specs cannot split a
    key's group -- then the shard column is recomputed under the
    snapshot's CURRENT spec, so consumers see the evolved layout.
    On a single-spec table this equals read_merged exactly."""
    from cassandra_sstable_to_protocolbuf_spark.landed import (
        key_shard, lww_winners)

    m = read_manifest(table_dir, version)
    rows = read_version(spark, table_dir, version).drop("shard")
    return (lww_winners(rows)
            .withColumn("shard", key_shard(F.col("key"), _spec_n(m))))


def compact_respec_versioned(spark: SparkSession, table_dir: str) -> int:
    """Rewrite every data file under the snapshot's current spec and
    clear the MIXED flag -- the deferred background rewrite that follows
    a reshard (Iceberg's rewrite-data-files maintenance job). Content
    under reconciliation is invariant; prior versions stay readable."""
    cur = current_version(table_dir)
    manifest = read_manifest(table_dir, cur)
    winners = read_respec(spark, table_dir, cur)
    new_files = _commit_data_files(winners, table_dir, cur + 1)
    spec = {"n_shards": _spec_n(manifest)}
    return _commit(table_dir, new_files, cur + 1,
                   schema_json=manifest.get("schema")
                   or _schema_json(winners), spec=spec)


def merge_versioned(spark: SparkSession, table_dir: str,
                    delta_cells: DataFrame) -> int:
    """Commit a new version holding the LWW merge of the current version
    with a delta cell batch. Only the delta's shards are read and
    rewritten; every other shard's files carry into the new manifest by
    reference (zero I/O). Returns the new version number."""
    _check_input_columns(delta_cells, "merge_versioned")
    cur = current_version(table_dir)
    manifest = read_manifest(table_dir, cur)
    _require_coherent(manifest, "merge_versioned")
    delta = (lww_live_cells(delta_cells)
             .withColumn("shard", key_shard(F.col("key"),
                                            _spec_n(manifest)))
             .localCheckpoint())
    shards = sorted(str(r["shard"]) for r in
                    delta.select("shard").distinct().collect())
    if not shards:
        return cur
    _check_schema(manifest, delta, "merge_versioned")
    base_paths = [os.path.join(table_dir, p)
                  for s in shards for p in manifest["files"].get(s, [])]
    merged = delta if not base_paths else lww_winners(
        _read_files(spark, manifest, base_paths).unionByName(delta),
        extra_group_cols=("shard",))
    new_files = _commit_data_files(merged, table_dir, cur + 1)
    files = {s: fl for s, fl in manifest["files"].items() if s not in shards}
    files.update(new_files)
    return _commit(table_dir, files, cur + 1,
                   schema_json=manifest.get("schema") or _schema_json(merged),
                   spec=manifest.get("spec"))


def merge_into_versioned(spark: SparkSession, table_dir: str,
                         upserts: DataFrame, delete_keys: DataFrame) -> int:
    """MERGE INTO: upserts and partition deletes applied in ONE atomic
    commit (the Delta MERGE WHEN MATCHED DELETE / WHEN MATCHED UPDATE /
    WHEN NOT MATCHED INSERT shape) -- a reader time-traveling around
    the commit sees either none or all of the mixed batch, which two
    sequential commits cannot guarantee. Semantics, deterministically:
    deletes apply to the CURRENT snapshot first, then the upsert batch
    LWW-merges into the remainder -- so a key in both sides is replaced
    wholesale by its upsert cells.

    Touched shards = union of both sides' shards; each is read ONCE
    (delete anti-join + delta union + one LWW reconcile in the same
    pass); untouched shards carry over by reference. Returns the new
    version."""
    _check_input_columns(upserts, "merge_into_versioned")
    cur = current_version(table_dir)
    manifest = read_manifest(table_dir, cur)
    _require_coherent(manifest, "merge_into_versioned")
    n_spec = _spec_n(manifest)
    delta = (lww_live_cells(upserts)
             .withColumn("shard", key_shard(F.col("key"), n_spec))
             .localCheckpoint())
    dk = (delete_keys.select("key").distinct()
          .withColumn("shard", key_shard(F.col("key"), n_spec))
          .localCheckpoint())
    shards = sorted({str(r["shard"]) for r in
                     delta.select("shard").distinct().collect()}
                    | {str(r["shard"]) for r in
                       dk.select("shard").distinct().collect()})
    if not shards:
        return cur
    _check_schema(manifest, delta, "merge_into_versioned")
    base_paths = [os.path.join(table_dir, p)
                  for s in shards for p in manifest["files"].get(s, [])]
    if base_paths:
        kept = (_read_files(spark, manifest, base_paths)
                .join(dk.select("key"), ["key"], "left_anti"))
        merged = lww_winners(kept.unionByName(delta),
                             extra_group_cols=("shard",))
    else:
        merged = delta
    new_files = _commit_data_files(merged, table_dir, cur + 1)
    files = {s: fl for s, fl in manifest["files"].items() if s not in shards}
    files.update(new_files)
    return _commit(table_dir, files, cur + 1,
                   schema_json=manifest.get("schema") or _schema_json(merged),
                   spec=manifest.get("spec"))


def delete_keys_versioned(spark: SparkSession, table_dir: str,
                          keys: DataFrame) -> int:
    """Commit a new version with every cell of the given partition keys
    removed (right-to-be-forgotten, versioned: the PRIOR version still
    holds the data until vacuum reclaims it -- retention policy is the
    vacuum horizon, exactly Delta/Iceberg's model). Returns the new
    version number."""
    cur = current_version(table_dir)
    manifest = read_manifest(table_dir, cur)
    _require_coherent(manifest, "delete_keys_versioned")
    keyed = (keys.select("key")
             .withColumn("shard", key_shard(F.col("key"),
                                            _spec_n(manifest)))
             .localCheckpoint())
    shards = sorted(str(r["shard"]) for r in
                    keyed.select("shard").distinct().collect())
    base_paths = [os.path.join(table_dir, p)
                  for s in shards for p in manifest["files"].get(s, [])]
    if not shards or not base_paths:
        return cur
    kept = (_read_files(spark, manifest, base_paths)
            .join(keyed.select("key").distinct(), ["key"], "left_anti"))
    new_files = _commit_data_files(kept, table_dir, cur + 1)
    files = {s: fl for s, fl in manifest["files"].items() if s not in shards}
    files.update(new_files)
    return _commit(table_dir, files, cur + 1,
                   schema_json=manifest.get("schema") or _schema_json(kept),
                   spec=manifest.get("spec"))


def restore_version(table_dir: str, to_version: int) -> int:
    """Roll the table back to a prior version's CONTENT by committing it
    as a NEW version (Delta's RESTORE semantics): history stays linear
    and append-only, the bad versions remain inspectable until vacuum,
    and the restored manifest shares the old version's files by
    reference -- zero data I/O."""
    old = read_manifest(table_dir, to_version)
    new_version = current_version(table_dir) + 1
    return _commit(table_dir, old["files"], new_version,
                   schema_json=old.get("schema"), spec=old.get("spec"))


def vacuum(table_dir: str, retain: int = 2,
           min_file_age_s: float = STALE_MANIFEST_GRACE_S) -> list[str]:
    """Reclaim storage: keep the newest `retain` manifests (always
    including current), delete older manifests and every data file no
    retained manifest references. Returns the deleted paths. Time
    travel reaches exactly the retained horizon afterwards.

    Unreferenced files younger than `min_file_age_s` survive: a writer
    between its data write and its manifest CAS has files no manifest
    references yet, and an ungraced vacuum would delete them right
    before the commit succeeds (Delta's retention-window rationale).
    Crash-leftover manifests above `_current` are reclaimed under the
    same grace."""
    import time

    if retain < 1:
        raise ValueError("vacuum must retain at least the current version")
    backend = get_commit_backend()

    def aged(path: str) -> bool:
        # data files: always POSIX (Spark's filesystem layer wrote them)
        try:
            return time.time() - os.path.getmtime(path) >= min_file_age_s
        except OSError:
            return False  # vanished underneath us: nothing to delete

    cur = current_version(table_dir)
    mdir = os.path.join(table_dir, _MANIFESTS)
    versions = list_versions(table_dir)
    keep = set(versions[-retain:]) | {cur}
    live: set[str] = set()
    for v in keep:
        for fl in read_manifest(table_dir, v)["files"].values():
            live.update(fl)
    deleted: list[str] = []
    for v in versions:
        if v not in keep:
            backend.delete(_manifest_path(table_dir, v))
            deleted.append(_manifest_path(table_dir, v))
    # aged crash leftovers above _current (their commit never
    # completed): RETIRE them -- CAS the exact bytes to a reclaim
    # tombstone -- never an unconditional delete, whose delayed
    # arrival could destroy the manifest a revived or new writer just
    # created at the same version slot (the claim path claims exactly
    # current+1, which may be this very path). The tombstone keeps the
    # slot occupied: a revived stalled writer's _verify_claim sees
    # foreign bytes and aborts loudly, and the next committer's
    # tombstone-aware claim() re-uses the slot. A tombstone at a
    # version that has fallen to <= current can never be claimed again
    # (claims target strictly increasing versions), so THAT is the one
    # place a hard delete is provably safe.
    from cassandra_sstable_to_protocolbuf_spark.commit_backend import (
        is_reclaim_tombstone, make_reclaim_tombstone)

    for f in backend.listdir(mdir):
        if not (f.startswith("v") and f.endswith(".json")
                and f[1:-5].isdigit()):
            continue
        v = int(f[1:-5])
        full = os.path.join(mdir, f)
        if v <= cur:
            continue  # committed history: handled by the retain sweep
        try:
            text = backend.read_text(full)
        except FileNotFoundError:
            continue
        if is_reclaim_tombstone(text):
            # fenced delete: re-read current -- the slot is dead only
            # once the version number is at or below the committed line
            if v <= current_version(table_dir):
                backend.delete(full)
                deleted.append(full)
            continue
        if (backend.age_s(full) or 0) >= min_file_age_s:
            if backend.put_if_match(full, make_reclaim_tombstone(),
                                    text):
                deleted.append(full)
    data_root = os.path.join(table_dir, _DATA)
    for dirpath, _dirnames, filenames in os.walk(data_root, topdown=False):
        for f in filenames:
            full = os.path.join(dirpath, f)
            rel = os.path.relpath(full, table_dir)
            if f.endswith(".parquet") and rel not in live and aged(full):
                os.unlink(full)
                deleted.append(full)
        if not os.listdir(dirpath):
            os.rmdir(dirpath)
    return deleted


# --- merge-on-read commits + compaction ---------------------------------


def append_versioned(spark: SparkSession, table_dir: str,
                     delta_cells: DataFrame) -> int:
    """Merge-on-read commit: land the (internally LWW-reconciled,
    sharded) delta as NEW files APPENDED to the affected shards' file
    lists -- the base data is never read or rewritten, so ingest cost
    is O(delta) regardless of how much base data the delta's shards
    hold. The price moves to reads: a shard now holds overlapping
    generations, and consumers must reconcile through `read_merged`
    until `compact_versioned` folds the shard back to one generation.
    This is Iceberg/Delta's merge-on-read vs copy-on-write trade
    (`merge_versioned` is the CoW side), and at 100 TB it is what keeps
    a minutely ingest cadence affordable.
    """
    _check_input_columns(delta_cells, "append_versioned")
    cur = current_version(table_dir)
    manifest = read_manifest(table_dir, cur)
    # MoR appends are spec-SAFE on a mixed table: the delta shards under
    # the new spec, and read_respec reconciles by key across specs
    delta = (lww_live_cells(delta_cells)
             .withColumn("shard", key_shard(F.col("key"),
                                            _spec_n(manifest)))
             .localCheckpoint())
    shards = sorted(str(r["shard"]) for r in
                    delta.select("shard").distinct().collect())
    if not shards:
        return cur
    _check_schema(manifest, delta, "append_versioned")
    new_files = _commit_data_files(delta, table_dir, cur + 1)
    files = dict(manifest["files"])
    for s, fl in new_files.items():
        files[s] = files.get(s, []) + fl
    return _commit(table_dir, files, cur + 1,
                   schema_json=manifest.get("schema") or _schema_json(delta),
                   spec=manifest.get("spec"))


def read_merged(spark: SparkSession, table_dir: str,
                version: int | None = None) -> DataFrame:
    """Snapshot read with read-time LWW reconciliation across the
    overlapping generations merge-on-read commits leave in a shard.
    Exact no-op on fully compacted (or pure CoW) snapshots -- winners
    of winners are themselves."""
    m = read_manifest(table_dir, version)
    _require_coherent(m, "read_merged")
    return lww_winners(read_version(spark, table_dir, version),
                       extra_group_cols=("shard",))


def compact_versioned(spark: SparkSession, table_dir: str) -> int:
    """OPTIMIZE-style compaction: commit a new version whose shards each
    hold ONE file of reconciled winners, folding merge-on-read debt
    back to zero. Content (under reconciliation) is invariant; prior
    versions stay readable; reclaimed bytes wait for vacuum. Only
    shards carrying more than one file are rewritten -- already-compact
    shards carry over by reference."""
    cur = current_version(table_dir)
    manifest = read_manifest(table_dir, cur)
    _require_coherent(manifest, "compact_versioned")
    debt = {s: fl for s, fl in manifest["files"].items() if len(fl) > 1}
    if not debt:
        return cur
    paths = [os.path.join(table_dir, p) for fl in debt.values() for p in fl]
    winners = lww_winners(_read_files(spark, manifest, paths),
                          extra_group_cols=("shard",))
    new_files = _commit_data_files(winners, table_dir, cur + 1)
    files = {s: fl for s, fl in manifest["files"].items() if s not in debt}
    files.update(new_files)
    return _commit(table_dir, files, cur + 1,
                   schema_json=manifest.get("schema") or _schema_json(winners),
                   spec=manifest.get("spec"))
