"""Token-range scans over the native source: Cassandra's parallel-export
sharding (each reader owns a contiguous [start, end) interval of the md5
token ring). File order is token order, so planning prunes whole splits
outside the interval; a residual per-partition check keeps boundary
exactness."""

from __future__ import annotations

import hashlib
import os

import pytest

from cassandra_sstable_to_protocolbuf_spark.sources import sstable_native as N
from tests.sstable_oracle import read_rows, write_sstable


def _mk(dir_path, n_parts):
    parts = [{"key": b"key-%05d" % i, "cells": [
        {"name": b"c", "kind": "LIVE", "timestamp": 1, "value": b"v"}]}
        for i in range(n_parts)]
    return write_sstable(str(dir_path), 1, parts)


def _scan_keys(reader):
    return [row[1] for row in read_rows(reader) if row[5] == "PARTITION"]


def test_shards_partition_the_ring_exactly(tmp_path):
    """Three contiguous shards are disjoint and union to the full scan
    ('g' sorts after every hex digest: the +inf sentinel)."""
    _mk(tmp_path, 500)
    whole = set(_scan_keys(N.SSTableNativeReader(str(tmp_path), 64)))
    assert len(whole) == 500
    shard_keys = []
    for lo, hi in (("", "40"), ("40", "c0"), ("c0", "g")):
        r = N.SSTableNativeReader(str(tmp_path), 64, token_range=(lo, hi))
        shard_keys.append(set(_scan_keys(r)))
    assert set().union(*shard_keys) == whole
    assert sum(len(s) for s in shard_keys) == len(whole)  # disjoint
    for keys, (lo, hi) in zip(shard_keys, (("", "40"), ("40", "c0"), ("c0", "g"))):
        for k in keys:
            assert lo <= hashlib.md5(k).hexdigest() < hi


def test_narrow_range_prunes_splits_at_plan_time(tmp_path):
    """A 1/16th-ring shard must plan far fewer splits than the full
    scan (summary-boundary pruning), while returning exactly the keys
    whose token lands in the interval."""
    _mk(tmp_path, 2000)
    full = N.SSTableNativeReader(str(tmp_path), 128)
    n_full = len(full.partitions())
    assert n_full >= 15
    shard = N.SSTableNativeReader(str(tmp_path), 128,
                                  token_range=("0", "1"))
    n_shard = len(shard.partitions())
    assert n_shard < n_full / 2, (n_shard, n_full)
    keys = _scan_keys(shard)
    expect = [b"key-%05d" % i for i in range(2000)
              if "0" <= hashlib.md5(b"key-%05d" % i).hexdigest() < "1"]
    assert sorted(keys) == sorted(expect)
    assert len(expect) > 50  # ~1/16 of 2000


def test_token_range_rejected_for_murmur3_files(tmp_path):
    parts = [{"key": b"k%d" % i, "cells": [
        {"name": b"c", "kind": "LIVE", "timestamp": 1, "value": b"v"}]}
        for i in range(10)]
    write_sstable(str(tmp_path), 1, parts,
                  partitioner=N.MURMUR3_PARTITIONER)
    r = N.SSTableNativeReader(str(tmp_path), 64, token_range=("", "g"))
    with pytest.raises(ValueError, match="md5 token space"):
        r.partitions()


def test_token_range_through_spark_source(spark, tmp_path):
    data = _mk(tmp_path, 200)
    d = os.path.dirname(data)
    whole = N.read_native_cells(spark, d).count()
    halves = [
        N.read_native_cells(spark, d, token_range=(lo, hi)).count()
        for lo, hi in (("", "8"), ("8", "g"))]
    assert sum(halves) == whole
    assert all(h > 0 for h in halves)


def test_compact_respect_tombstones_stops_resurrection(spark, tmp_path):
    """A newer generation's partition tombstone must shadow an older
    generation's cells with writeTime <= markedForDeleteAt (Cassandra's
    reconciliation) under respect_tombstones=True; the default policy
    documents that it does NOT cross files."""
    from cassandra_sstable_to_protocolbuf_spark.compaction import compact
    from cassandra_sstable_to_protocolbuf_spark.sources.sstable_native import (
        read_native_cells)

    d = str(tmp_path / "in")
    write_sstable(d, 1, [
        {"key": b"K", "cells": [
            {"name": b"old", "kind": "LIVE", "timestamp": 5, "value": b"x"},
            {"name": b"new", "kind": "LIVE", "timestamp": 15, "value": b"y"},
        ]}])
    # gen-2: partition tombstone for K at markedForDeleteAt=10, no cells
    write_sstable(d, 2, [{"key": b"K", "deletion": (1, 10), "cells": []}])

    out = str(tmp_path / "out")
    compact(spark, d, out, respect_tombstones=True).collect()
    back = read_native_cells(spark, out).filter("cell_kind = 'LIVE'").collect()
    names = {bytes(r["name"]) for r in back}
    assert names == {b"new"}, f"shadowing failed: {names}"

    out2 = str(tmp_path / "out2")
    compact(spark, d, out2).collect()  # default: per-file quirk, no shadowing
    back2 = read_native_cells(spark, out2).filter("cell_kind = 'LIVE'").collect()
    assert {bytes(r["name"]) for r in back2} == {b"old", b"new"}


def test_compact_cell_tombstone_stops_resurrection(spark, tmp_path):
    """A newer generation's CELL delete must shadow an older generation's
    LIVE cell of the same (key, name) -- the round-3 advisory found the
    cell_kind='LIVE' prefilter dropped DELETED atoms before
    reconciliation, so the delete was silently ignored. Tie timestamps
    go to the tombstone (Cassandra's rule); other names are untouched."""
    from cassandra_sstable_to_protocolbuf_spark.compaction import compact
    from cassandra_sstable_to_protocolbuf_spark.sources.sstable_native import (
        read_native_cells)

    d = str(tmp_path / "in")
    write_sstable(d, 1, [
        {"key": b"K", "cells": [
            {"name": b"a", "kind": "LIVE", "timestamp": 5, "value": b"x"},
            {"name": b"b", "kind": "LIVE", "timestamp": 5, "value": b"y"},
            {"name": b"c", "kind": "LIVE", "timestamp": 5, "value": b"z"},
        ]}])
    write_sstable(d, 2, [
        {"key": b"K", "cells": [
            {"name": b"a", "kind": "DELETED", "timestamp": 10},  # newer: shadows
            {"name": b"b", "kind": "DELETED", "timestamp": 5},   # tie: shadows
            {"name": b"c", "kind": "DELETED", "timestamp": 3},   # older: no-op
        ]}])

    out = str(tmp_path / "out")
    compact(spark, d, out, respect_tombstones=True).collect()
    back = read_native_cells(spark, out).filter("cell_kind = 'LIVE'").collect()
    assert {bytes(r["name"]) for r in back} == {b"c"}


def test_compact_range_tombstone_stops_resurrection(spark, tmp_path):
    """A newer generation's RANGE tombstone must shadow older LIVE cells
    whose names fall in [start, end] (bounds inclusive) with
    writeTime <= markedForDeleteAt; names outside the range and cells
    written after the deletion survive."""
    from cassandra_sstable_to_protocolbuf_spark.compaction import compact
    from cassandra_sstable_to_protocolbuf_spark.sources.sstable_native import (
        read_native_cells)

    d = str(tmp_path / "in")
    write_sstable(d, 1, [
        {"key": b"K", "cells": [
            {"name": b"col-a", "kind": "LIVE", "timestamp": 5, "value": b"1"},
            {"name": b"col-b", "kind": "LIVE", "timestamp": 5, "value": b"2"},
            {"name": b"col-c", "kind": "LIVE", "timestamp": 20, "value": b"3"},
            {"name": b"col-z", "kind": "LIVE", "timestamp": 5, "value": b"4"},
        ]}])
    # gen-2: range tombstone [col-a, col-c] at markedForDeleteAt=10
    write_sstable(d, 2, [
        {"key": b"K", "range_tombstones": [(b"col-a", b"col-c", 1, 10)],
         "cells": []}])

    out = str(tmp_path / "out")
    compact(spark, d, out, respect_tombstones=True).collect()
    back = read_native_cells(spark, out).filter("cell_kind = 'LIVE'").collect()
    # col-a, col-b in range & older -> dropped; col-c newer than the
    # deletion -> survives; col-z outside the range -> survives
    assert {bytes(r["name"]) for r in back} == {b"col-c", b"col-z"}
