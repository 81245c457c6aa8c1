"""Landed analytics layout: binary SSTables -> columnar parquet.

The reference's one job re-parses sstable bytes on every read
(Runner.java:71-96); at 100 TB the analytics-grade posture is to land
the live, LWW-reconciled cells ONCE as parquet partitioned by origin
sstable, then run every downstream query columnar -- predicate pushdown,
column pruning, and partition pruning all come for free, and the
Python-parse cost is paid exactly once at the ingest boundary.

Exposed as the `to-parquet` CLI subcommand and gated through the
catalog query `sst_landed_parquet` (cells_queries.py), whose plan audit
pins that a partition predicate on the landed table prunes directories
at planning time (PartitionFilters), not row-by-row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def lww_live_cells(cells: DataFrame) -> DataFrame:
    """Live-only last-write-wins reconciliation of native cells.

    Input: the native source's flat cell frame (live_only=True: dead
    partitions and non-live cells already dropped in the reader, leaving
    PARTITION markers + LIVE cells). Output: one winner per (key, name)
    across all sstables: highest writeTime wins (Cassandra's rule), with
    DETERMINISTIC tie-breaks on (sstable_id, value). Note the deliberate
    divergence on exact-timestamp ties: Cassandra reconciliation breaks
    them on value alone; this engine inserts sstable_id first so the
    winner is stable under any file arrival order -- every oracle gates
    the same order, so the choice is pinned, not accidental.

    Scale shape: a single hash aggregation -- lexicographic struct-max
    over (writeTime, sstable_id, value) ships one candidate per group
    per task via map-side partial agg; no window, no sort (the same plan
    as sst_lww_dedup, the 100 TB-right formulation).
    """
    return lww_winners(cells.filter(F.col("cell_kind") == "LIVE"))


def lww_winners(df, extra_group_cols: tuple = ()) -> "DataFrame":
    """THE engine's single LWW winner selection: lexicographic struct-max
    over (writeTime, sstable_id, value) per (key, name [, extras]) as a
    hash aggregation -- map-side partial agg ships one candidate per
    group per task; no window, no sort. Every oracle's
    ORDER BY writeTime DESC, sstable_id DESC, value DESC mirrors exactly
    this comparator; change it here and NOWHERE else."""
    group = ["key", "name", *extra_group_cols]
    winner = F.max(F.struct("writeTime", "sstable_id", "value")).alias("w")
    return (df.groupBy(*group).agg(winner)
            .select(*group[:2], F.col("w.value").alias("value"),
                    F.col("w.writeTime").alias("writeTime"),
                    F.col("w.sstable_id").alias("sstable_id"),
                    *extra_group_cols))


def land_to_parquet(spark: SparkSession, input_path: str,
                    out_dir: str) -> None:
    """Scan -> live filter -> LWW -> parquet partitioned by the winning
    cell's origin sstable. Overwrites `out_dir`."""
    from cassandra_sstable_to_protocolbuf_spark.sources.sstable_native import (
        read_native_cells)

    cells = read_native_cells(spark, input_path, live_only=True)
    (lww_live_cells(cells)
     .repartition(F.col("sstable_id"))
     .write.mode("overwrite").partitionBy("sstable_id").parquet(out_dir))


# --- incremental copy-on-write merge ------------------------------------

N_SHARDS = 16


def key_shard(col, n_shards: int = N_SHARDS):
    """Deterministic key shard for the incremental-merge layout. The
    shard count is a layout constant: at 100 TB you pick it once (e.g.
    4096) so a delta batch touches a bounded, localizable set of
    directories. Versioned tables may later EVOLVE it
    (versioned.reshard_versioned), which threads the manifest's spec
    through this parameter."""
    return F.pmod(F.xxhash64(col), F.lit(n_shards))


def land_by_shard(cells: DataFrame, out_dir: str) -> None:
    """Land live LWW-reconciled cells partitioned by key shard -- the
    layout `merge_delta_lww` merges into. Shard-partitioning (vs the
    origin-sstable partitioning of `land_to_parquet`) is what makes an
    incremental upsert local: all versions of a key live in exactly one
    directory."""
    (lww_live_cells(cells)
     .withColumn("shard", key_shard(F.col("key")))
     # cluster by shard before the partitioned write: otherwise every
     # task writes into every shard dir (tasks x shards small files,
     # paid by every later merge/delete/scan of the layout)
     .repartition(F.col("shard"))
     .write.mode("overwrite").partitionBy("shard").parquet(out_dir))


def merge_delta_lww(spark: SparkSession, landed_dir: str,
                    delta_cells: DataFrame) -> list[int]:
    """Copy-on-write LWW upsert of a delta cell batch into a sharded
    landed table. Returns the list of rewritten shards.

    Scale shape: the delta's shard set is computed first (bounded by the
    shard count, a driver-safe collect), the base table is read with a
    partition filter over exactly those shards (directory pruning -- the
    untouched 99% of a 100 TB table is never opened), and the merged
    winners are written to a staging directory then swapped in per
    shard. The staging+swap is the commit protocol seam: a table format
    (Iceberg/Delta) would replace the swap with a manifest commit, but
    the dataflow -- read affected shards, re-reconcile, write new files,
    atomically repoint -- is the same.
    """
    # the reconciled delta feeds BOTH the shard-list collect and the
    # merge union; without materialization the delta source (a Python
    # sstable parse in the ingest case) runs twice. A delta batch is
    # bounded by definition -- that is the premise of incremental
    # merge -- so one checkpoint of it is always safe.
    delta = (lww_live_cells(delta_cells)
             .withColumn("shard", key_shard(F.col("key")))
             .localCheckpoint())
    shards = sorted(r["shard"] for r in
                    delta.select("shard").distinct().collect())
    if not shards:
        return []
    base = (spark.read.parquet(landed_dir)
            .filter(F.col("shard").isin([int(s) for s in shards])))
    merged = lww_winners(base.unionByName(delta),
                         extra_group_cols=("shard",))
    _rewrite_shards(spark, landed_dir, merged, shards)
    return [int(s) for s in shards]


def _swap_partition_dirs(landed_dir: str, staging: str, shards: list,
                         part_col: str) -> None:
    """Commit step shared by every partition-directory rewrite: swap each
    affected `part_col=<shard>` directory of the table for its staged
    replacement. A shard absent from staging (all of its rows removed)
    is dropped from the table -- required for delete propagation."""
    import os
    import shutil

    for s in shards:
        src = os.path.join(staging, f"{part_col}={s}")
        dst = os.path.join(landed_dir, f"{part_col}={s}")
        tomb = dst + ".old"
        # a tomb left by a crash between a previous swap's rename and
        # cleanup would make os.rename(dst, tomb) fail forever
        # (ENOTEMPTY) -- clear it first
        shutil.rmtree(tomb, ignore_errors=True)
        if os.path.isdir(dst):
            os.rename(dst, tomb)
        if os.path.isdir(src):
            os.rename(src, dst)
        shutil.rmtree(tomb, ignore_errors=True)


def _staging_dir(landed_dir: str) -> str:
    """Same-filesystem staging for a partition swap: the commit is
    os.rename, which raises EXDEV across mounts -- and a failed
    cross-device rename after the dst->tomb step would leave the table
    missing a shard. Same-parent staging makes the rename
    guaranteed-atomic."""
    import os
    import tempfile

    parent = os.path.dirname(os.path.abspath(landed_dir)) or "."
    return tempfile.mkdtemp(prefix="ctps_merge_staging_", dir=parent)


def _rewrite_shards(spark: SparkSession, landed_dir: str,
                    rewritten: DataFrame, shards: list,
                    part_col: str = "shard") -> None:
    """Write `rewritten` (carrying partition column `part_col` restricted
    to `shards`) to staging, then swap each affected partition directory
    in place (see _swap_partition_dirs). The same commit seam serves the
    key-sharded landed table and the day-partitioned rollup table."""
    import shutil

    staging = _staging_dir(landed_dir)
    try:
        (rewritten.repartition(F.col(part_col))
         .write.mode("overwrite").partitionBy(part_col).parquet(staging))
        _swap_partition_dirs(landed_dir, staging, shards, part_col)
    finally:
        shutil.rmtree(staging, ignore_errors=True)


def delete_keys_lww(spark: SparkSession, landed_dir: str,
                    keys: DataFrame) -> list[int]:
    """Copy-on-write deletion of a key set from a sharded landed table
    (the right-to-be-forgotten pass of a training-data pipeline).
    Returns the list of rewritten shards.

    Same scale shape as `merge_delta_lww`: the key set's shard list
    bounds which directories are read and rewritten; unaffected shards
    are never opened. The anti join broadcasts nothing by hint -- the
    key side is typically small but unbounded, so AQE decides."""
    import os
    import shutil
    import tempfile

    # same reasoning as merge_delta_lww: the key set feeds both the
    # shard collect and the anti join, and a non-deterministic source
    # re-evaluated between them could hash keys into a shard the base
    # was never filtered to -- a silently missed deletion
    keyed = (keys.select(F.col("key"))
             .withColumn("shard", key_shard(F.col("key")))
             .localCheckpoint())
    shards = sorted(r["shard"] for r in
                    keyed.select("shard").distinct().collect())
    if not shards:
        return []
    base = (spark.read.parquet(landed_dir)
            .filter(F.col("shard").isin([int(s) for s in shards])))
    kept = base.join(keyed.select("key").distinct(), ["key"], "left_anti")
    _rewrite_shards(spark, landed_dir, kept, shards)
    return [int(s) for s in shards]
