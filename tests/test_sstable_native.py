"""Native SSTable binary source: ka-layout round-trip, tombstone/TTL/
counter/range-tombstone semantics, byte-range splits, token order, and
the full binary-sstable -> protobuf+zstd reference pipeline."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from cassandra_sstable_to_protocolbuf_spark.sources import sstable_native as N
from tests.sstable_oracle import (read_rows, scan_partitions,
                                  scan_partitions_eager, write_sstable)


@pytest.fixture(scope="module")
def fixture_sstables(tmp_path_factory):
    """Two sstables with every atom kind + duplicate keys across files."""
    d = str(tmp_path_factory.mktemp("native_sst"))
    parts1 = [
        {"key": b"alpha", "cells": [
            {"name": b"c1", "kind": "LIVE", "timestamp": 100, "value": b"v1"},
            {"name": b"c2", "kind": "DELETED", "timestamp": 101, "local_deletion": 50},
            {"name": b"c3", "kind": "EXPIRING", "timestamp": 102, "value": b"v3",
             "ttl": 60, "local_expiration": 1000},
            {"name": b"c4", "kind": "COUNTER", "timestamp": 103, "value": b"\x00" * 8},
        ]},
        {"key": b"beta",
         "deletion": (500, 99),  # partition tombstone -> not live
         "cells": [{"name": b"c1", "kind": "LIVE", "timestamp": 104, "value": b"zombie"}]},
        {"key": b"gamma",
         "range_tombstones": [(b"a", b"m", 600, 105)],
         "cells": [{"name": b"g1", "kind": "LIVE", "timestamp": 106, "value": b"kept"}]},
        {"key": b"empty-part", "cells": []},
    ]
    parts2 = [
        {"key": b"alpha", "cells": [
            {"name": b"c1", "kind": "LIVE", "timestamp": 200, "value": b"v1-newer"},
        ]},
        {"key": b"delta", "cells": [
            {"name": b"d1", "kind": "LIVE", "timestamp": 107, "value": b""},
        ]},
    ]
    write_sstable(d, 1, parts1)
    write_sstable(d, 2, parts2)
    return d


def test_scan_partitions_pure(fixture_sstables):
    import glob
    import os

    data = sorted(glob.glob(os.path.join(fixture_sstables, "*-1-Data.db")))[0]
    parts = list(scan_partitions_eager(data, 0, os.path.getsize(data)))
    assert len(parts) == 4
    by_key = {p["key"]: p for p in parts}
    assert by_key[b"beta"]["deletion_live"] is False
    assert by_key[b"alpha"]["deletion_live"] is True
    kinds = [c["kind"] for c in by_key[b"alpha"]["cells"]]
    assert kinds == ["LIVE", "DELETED", "EXPIRING", "COUNTER"]
    # range tombstone surfaces as its own atom, before the live cell
    gamma = [c["kind"] for c in by_key[b"gamma"]["cells"]]
    assert gamma == ["RANGE_TOMBSTONE", "LIVE"]
    # token order: file order equals md5-token order of keys
    keys = [p["key"] for p in parts]
    assert keys == sorted(keys, key=N.md5_token)


def test_murmur3_token_matches_guava_canonical(spark):
    """Where Cassandra's hash3_x64_128 agrees with the canonical
    murmur3_128 (full 16-byte blocks: any bytes; tails: bytes < 0x80,
    where Java sign extension is immaterial), our port must match
    Guava's canonical implementation bit-for-bit."""
    import random

    hf = spark._jvm.com.google.common.hash.Hashing.murmur3_128(0)
    rng = random.Random(7)
    keys = [bytes(rng.randrange(256) for _ in range(16 * rng.randint(1, 4)))
            for _ in range(50)]
    keys += [bytes(rng.randrange(128) for _ in range(rng.randint(1, 47)))
             for _ in range(100)]
    for key in keys:
        want = hf.hashBytes(bytearray(key)).asLong()
        if want == -(1 << 63):
            want = (1 << 63) - 1  # Murmur3Partitioner normalize
        assert N.murmur3_token(key) == want, key.hex()


def test_murmur3_token_pinned_values():
    """Self-golden pins: the Cassandra signed-tail quirk (bytes >= 0x80
    in the tail diverge from canonical murmur3) and the MINIMUM token
    for empty keys."""
    assert N.murmur3_token(b"") == -(1 << 63)
    # canonical murmur3_128 of b'\xff'*3 is 1377468198530594967; the
    # Cassandra sign-extension variant must differ:
    assert N.murmur3_token(b"\xff" * 3) == -9154616442117352147


def test_write_scan_murmur3_partitioner(spark, tmp_path):
    """Fixtures written under Murmur3Partitioner order by murmur3 token,
    carry the partitioner in Statistics.db, and pass/fail the S2
    partitioner check accordingly."""
    d = str(tmp_path)
    parts = [{"key": b"key-%03d" % i, "cells": [
        {"name": b"c", "kind": "LIVE", "timestamp": 1, "value": b"v"}]}
        for i in range(40)]
    data = write_sstable(d, 1, parts, partitioner=N.MURMUR3_PARTITIONER)
    import os
    scanned = [p["key"] for p in
               scan_partitions_eager(data, 0, os.path.getsize(data))]
    assert scanned == sorted(scanned, key=lambda k: (N.murmur3_token(k), k))
    assert scanned != sorted(scanned, key=lambda k: (N.md5_token(k), k))
    reader = N.SSTableNativeReader(d, 4096,
                                   expected_partitioner=N.MURMUR3_PARTITIONER)
    assert len(reader.partitions()) >= 1
    bad = N.SSTableNativeReader(d, 4096,
                                expected_partitioner=N.DEFAULT_PARTITIONER)
    with pytest.raises(ValueError, match="partitioner mismatch"):
        bad.partitions()


def test_validate_first_key_after_last_rejected(tmp_path):
    """validate() analog: a corrupt index whose first decorated key sorts
    after its last fails at plan time (SSTableReaderPatched.java:213)."""
    import os
    import struct

    d = str(tmp_path)
    parts = [{"key": b"k%d" % i, "cells": [
        {"name": b"c", "kind": "LIVE", "timestamp": 1, "value": b"v"}]}
        for i in range(4)]
    data = write_sstable(d, 1, parts)
    index = data[:-len(N.DATA_SUFFIX)] + N.INDEX_SUFFIX
    entries = N.read_index(index)
    with open(index, "wb") as f:  # rewrite reversed -> first > last
        for key, off in reversed(entries):
            f.write(struct.pack(">H", len(key)) + key)
            f.write(struct.pack(">Q", off) + struct.pack(">I", 0))
    # drop the summary: when one loads, planning trusts its first/last
    # without touching the index (loadSummary parity) and the corruption
    # is invisible at plan time -- exactly the reference's behavior
    os.unlink(data[:-len(N.DATA_SUFFIX)] + N.SUMMARY_SUFFIX)
    reader = N.SSTableNativeReader(d, 4096)
    with pytest.raises(ValueError, match="first key"):
        reader.partitions()


def _one_wide_partition(dir_path: str, n_cells: int, val: bytes) -> None:
    w = N.SSTableStreamWriter(dir_path, 1)
    w.start_partition(b"wide")
    for lo in range(0, n_cells, 10_000):
        ts = np.arange(lo, min(lo + 10_000, n_cells), dtype=np.int64)
        w.add_cells_batch([b"c%08d" % i for i in ts.tolist()],
                          np.zeros(len(ts), np.int8), ts, [val] * len(ts))
    w.end_partition()
    w.close()


def test_wide_partition_streams_per_cell(tmp_path):
    """One wide partition must read in O(read window) memory, never
    O(partition): read() flushes the decoded prefix of a partition cut
    by its buffer and resumes it after the next read (S7's lazy column
    iterator, vectorized). Doubling the partition from 40 to 80 MiB
    must not grow the traced peak, and the peak stays under 8x the
    16 MiB first read."""
    import tracemalloc

    val = b"x" * 8000  # large atoms: tracing costs per atom, not per byte

    def peak(name: str, n_cells: int) -> int:
        d = str(tmp_path / name)
        _one_wide_partition(d, n_cells, val)
        rdr = N.SSTableNativeReader(d, None)
        splits = rdr.partitions()
        tracemalloc.start()
        seen = 0
        for s in splits:
            for b in rdr.read(s):
                seen += b.num_rows
        _, pk = tracemalloc.get_traced_memory()
        tracemalloc.stop()
        assert seen == n_cells + 1  # the PARTITION marker + every cell
        return pk

    # warm call: imports and first-use caches stay out of the pin
    _one_wide_partition(str(tmp_path / "warm"), 100, val)
    read_rows(N.SSTableNativeReader(str(tmp_path / "warm"), None))

    peak_40 = peak("p40", 5_000)  # ~40 MiB partition
    peak_80 = peak("p80", 10_000)  # ~80 MiB partition
    assert peak_40 < 128 << 20, f"peak {peak_40} bytes: partition buffered?"
    assert peak_80 <= peak_40 + (4 << 20), \
        f"peak grew with the partition ({peak_40} -> {peak_80})"


def test_recursive_discovery_nested_dirs(spark, fixture_sstables, tmp_path):
    """Discovery must walk keyspace/table/ nestings like the reference's
    Files.walk (Runner.java:54-60), and nested results must equal the
    flat-directory read of the same sstables."""
    import shutil

    nested = tmp_path / "ks" / "table"
    nested.mkdir(parents=True)
    import glob as g
    import os
    for f in g.glob(os.path.join(fixture_sstables, "*.db")):
        shutil.copy(f, nested / os.path.basename(f))
    # a top-level decoy dir level with no Data.db of its own
    flat = N.read_native_cells(spark, fixture_sstables).orderBy(
        "sstable_id", "key", "name").collect()
    deep = N.read_native_cells(spark, str(tmp_path)).orderBy(
        "sstable_id", "key", "name").collect()
    assert flat == deep
    assert len(deep) > 0


def test_spark_read_all_kinds(spark, fixture_sstables):
    df = N.read_native_cells(spark, fixture_sstables)
    rows = df.collect()
    assert {r.cell_kind for r in rows} == {
        "LIVE", "DELETED", "EXPIRING", "COUNTER", "RANGE_TOMBSTONE", "PARTITION"}
    markers = [r for r in rows if r.cell_kind == "PARTITION"]
    assert len(markers) == 6  # one per partition across both sstables
    dead = [r for r in rows if not r.partition_deletion_live]
    assert {bytes(r.key) for r in dead} == {b"beta"}
    exp = [r for r in rows if r.cell_kind == "EXPIRING"][0]
    assert exp.ttl == 60 and exp.local_expiration == 1000
    # duplicate key across generations both surface (no cross-file merge,
    # matching the reference)
    alphas = [r for r in rows if bytes(r.key) == b"alpha" and bytes(r.name) == b"c1"]
    assert sorted(r.writeTime for r in alphas) == [100, 200]


def test_split_parallelism_equals_whole(spark, fixture_sstables):
    whole = N.read_native_cells(spark, fixture_sstables, partitions_per_split=4096)
    split = N.read_native_cells(spark, fixture_sstables, partitions_per_split=1)
    # planned splits, not Spark partitions: the DataSource packs splits
    # into at most defaultParallelism tasks, so task counts tie on few cores
    assert len(N.SSTableNativeReader(fixture_sstables, 1).partitions()) > \
        len(N.SSTableNativeReader(fixture_sstables, 4096).partitions())
    assert whole.exceptAll(split).count() == 0
    assert split.exceptAll(whole).count() == 0


def test_packed_tasks_keep_split_rows_in_order(spark, fixture_sstables,
                                               tmp_path):
    """The DataSource packs runs of consecutive splits into Spark tasks;
    that must not change what a scan yields. With one split per
    partition, the frame's rows are reader.read(split) over
    reader.partitions(), in that exact order: in FAILFAST, and in
    PERMISSIVE with one corrupt file, where the bad split still gives
    its own ERROR row and the good splits packed with it still stand.
    Once there are more splits than defaultParallelism, fewer tasks run
    than splits were planned."""
    import os
    import shutil
    import struct

    bad = str(tmp_path / "bad")
    shutil.copytree(fixture_sstables, bad)
    data = os.path.join(bad, "ks-cf-ka-1-Data.db")
    raw = bytearray(open(data, "rb").read())
    at = raw.find(b"zombie") - 4  # beta's value length runs off the file
    raw[at:at + 4] = struct.pack(">i", len(raw))
    with open(data, "wb") as f:
        f.write(raw)

    cores = spark.sparkContext.defaultParallelism
    for path, mode in ((fixture_sstables, "FAILFAST"), (bad, "PERMISSIVE")):
        reader = N.SSTableNativeReader(path, 1,
                                       permissive=(mode == "PERMISSIVE"))
        splits = reader.partitions()
        assert len(splits) == 6  # one per partition
        want = read_rows(reader, splits)
        if mode == "PERMISSIVE":
            kinds = [r[5] for r in want]
            assert kinds.count("ERROR") == 1 and kinds.count("LIVE") >= 3
        df = N.read_native_cells(spark, path, partitions_per_split=1,
                                 mode=mode)
        assert df.rdd.getNumPartitions() == min(len(splits), cores)
        assert [tuple(r) for r in df.collect()] == want
        # packing whatever the host's core count: two tasks, six splits
        two = (spark.read.format("sstable_cassandra")
               .option("partitionsPerSplit", "1")
               .option("scanParallelism", "2")
               .option("mode", mode).load(path))
        assert two.rdd.getNumPartitions() == 2
        assert [tuple(r) for r in two.collect()] == want

def test_pack_rule_follows_cores_and_bytes():
    """pack_splits plans min(splits, max(scan_parallelism,
    ceil(bytes / SPLIT_TARGET_MAX_BYTES))) tasks, each a non-empty run
    of consecutive (split index, split) pairs, balanced by logical
    bytes."""
    mb = 1 << 20

    def plan(sizes, cores):
        offs = np.cumsum([0] + sizes).tolist()
        splits = [N._SSTableSplit("s", "p", a, b)
                  for a, b in zip(offs, offs[1:])]
        packs = N.pack_splits(splits, cores)
        assert [pair for p in packs for pair in p] == list(enumerate(splits))
        return [[s.end - s.start for _, s in p] for p in packs]

    assert plan([], 4) == []
    assert len(plan([mb] * 3, 4)) == 3  # never more tasks than splits
    assert len(plan([mb] * 37, 4)) == 4  # small input: one per core
    big = plan([100 * mb] * 40, 4)  # 4000 MiB: bytes set the count
    assert len(big) == -(-4000 // 128)
    assert {len(p) for p in big} == {1, 2}
    # a heavy split runs alone; the light ones share the other task
    assert plan([10 * mb] + [mb] * 9, 2) == [[10 * mb], [mb] * 9]

def test_lz4_compressed_roundtrip(spark, tmp_path):
    """S6: lz4-block-compressed Data.db (CompressionInfo.db chunk map,
    Adler32 checksums) reads identically to the uncompressed form,
    including multi-chunk files and index-based splits."""
    import os

    parts = [{"key": f"key-{i:04d}".encode(),
              "cells": [{"name": b"c%d" % j, "kind": "LIVE",
                         "timestamp": i * 10 + j, "value": os.urandom(200)}
                        for j in range(5)]}
             for i in range(50)]
    plain_dir, comp_dir = str(tmp_path / "plain"), str(tmp_path / "comp")
    write_sstable(plain_dir, 1, parts)
    write_sstable(comp_dir, 1, parts, compression="lz4", chunk_length=4096)
    # multi-chunk: compressed file must really be chunked
    info = N.CompressionInfo.parse(
        os.path.join(comp_dir, "ks-cf-ka-1-CompressionInfo.db"))
    assert len(info.offsets) > 5
    assert info.chunk_length == 4096
    plain = N.read_native_cells(spark, plain_dir).drop("sstable_id")
    comp = N.read_native_cells(spark, comp_dir).drop("sstable_id")
    assert plain.exceptAll(comp).count() == 0
    assert comp.exceptAll(plain).count() == 0
    # split parallelism works in logical coordinates
    split = N.read_native_cells(spark, comp_dir, partitions_per_split=7)
    assert split.count() == plain.count()


def test_lz4_corruption_detected(tmp_path):
    parts = [{"key": b"k", "cells": [
        {"name": b"n", "kind": "LIVE", "timestamp": 1, "value": b"v" * 100}]}]
    d = str(tmp_path)
    data = write_sstable(d, 1, parts, compression="lz4")
    raw = bytearray(open(data, "rb").read())
    raw[10] ^= 0xFF  # flip a byte inside the compressed chunk
    open(data, "wb").write(bytes(raw))
    with pytest.raises(ValueError, match="checksum mismatch"):
        list(scan_partitions(data, 0, 10 ** 9))


def test_live_only_pushdown(spark, fixture_sstables):
    """liveOnly pushes F1/F2 into the source: result equals filtering the
    full read on the Spark side."""
    from pyspark.sql import functions as F

    full = N.read_native_cells(spark, fixture_sstables)
    expected = full.filter(
        F.col("partition_deletion_live")
        & F.col("cell_kind").isin("LIVE", "PARTITION")).select(
        "sstable_id", "key", "name", "value", "writeTime", "cell_kind")
    pushed = N.read_native_cells(spark, fixture_sstables, live_only=True).select(
        "sstable_id", "key", "name", "value", "writeTime", "cell_kind")
    assert pushed.exceptAll(expected).count() == 0
    assert expected.exceptAll(pushed).count() == 0
    assert pushed.count() > 0


def test_missing_index_component_fails(spark, tmp_path):
    import os

    d = str(tmp_path / "broken")
    write_sstable(d, 9, [{"key": b"k", "cells": [
        {"name": b"n", "kind": "LIVE", "timestamp": 1, "value": b"v"}]}])
    os.remove(os.path.join(d, "ks-cf-ka-9-Index.db"))
    with pytest.raises(Exception, match="missing index component|FileNotFound"):
        N.read_native_cells(spark, d).collect()


def test_partitioner_check(spark, tmp_path):
    """S2: Statistics.db VALIDATION metadata round-trips; the partitioner
    check passes on match and refuses the scan on mismatch."""
    d = str(tmp_path / "stats")
    write_sstable(d, 1, [{"key": b"k", "cells": [
        {"name": b"n", "kind": "LIVE", "timestamp": 1, "value": b"v"}]}])
    import os

    stats = os.path.join(d, "ks-cf-ka-1-Statistics.db")
    meta = N.read_statistics(stats)
    assert meta["partitioner"] == N.DEFAULT_PARTITIONER
    # the writer published a Filter.db, so Statistics must record the
    # REAL fp chance (1.0 is the no-filter sentinel -- and the bloom
    # provenance key, load_trusted_bloom)
    assert meta["bloom_fp_chance"] == 0.01

    ok = (spark.read.format("sstable_cassandra")
          .option("expectedPartitioner", N.DEFAULT_PARTITIONER).load(d))
    assert ok.count() == 2  # marker + cell
    bad = (spark.read.format("sstable_cassandra")
           .option("expectedPartitioner",
                   "org.apache.cassandra.dht.Murmur3Partitioner").load(d))
    with pytest.raises(Exception, match="partitioner mismatch"):
        bad.count()


def test_empty_cell_name_rejected(tmp_path):
    with pytest.raises(ValueError, match="non-empty"):
        write_sstable(str(tmp_path), 1, [{"key": b"k", "cells": [
            {"name": b"", "kind": "LIVE", "timestamp": 1, "value": b"v"}]}])


def test_full_reference_pipeline_from_binary(spark, fixture_sstables, tmp_path):
    """Binary SSTable -> filters (F1/F2, incl. range-tombstone skip and
    drop-unexpired-TTL quirk) -> Row grouping -> protobuf+zstd -> decode:
    the reference's entire job, end to end, from real component files."""
    from cassandra_sstable_to_protocolbuf_spark.sources.sstable_pb import (
        read_rows_pb, write_cells_pb)

    cells = N.read_native_cells(spark, fixture_sstables).select(
        "sstable_id", "key", "name", "value", "writeTime", "cell_kind",
        F.lit(None).cast("boolean").alias("ttl_expired"),
        "partition_deletion_live",
    )
    out = str(tmp_path / "native_pb")
    write_cells_pb(cells, out).collect()
    back = read_rows_pb(spark, out)
    rows = {(r.sstable_id, bytes(r.key)):
            [(bytes(c.name), bytes(c.value), c.writeTime) for c in r.columns]
            for r in back.collect()}
    # dead partition gone; live partitions present incl. empty-columns ones
    assert ("ks-cf-ka-1", b"beta") not in rows
    assert rows[("ks-cf-ka-1", b"alpha")] == [(b"c1", b"v1", 100)]  # only the LIVE cell
    assert rows[("ks-cf-ka-1", b"gamma")] == [(b"g1", b"kept", 106)]  # RT skipped, cell kept
    assert rows[("ks-cf-ka-1", b"empty-part")] == []  # empty Row still emitted
    assert rows[("ks-cf-ka-2", b"alpha")] == [(b"c1", b"v1-newer", 200)]  # no merge
    assert rows[("ks-cf-ka-2", b"delta")] == [(b"d1", b"", 107)]  # empty value


def test_key_filter_pushdown_indexed_seek(spark, fixture_sstables):
    """S5: a key-equality predicate becomes an Index.db seek -- the
    planned splits cover only the matching partitions, and results equal
    the post-scan filter."""
    full = (N.read_native_cells(spark, fixture_sstables)
            .filter(F.col("key") == F.lit(b"alpha"))
            .orderBy("sstable_id", "cell_kind", "name").collect())
    # alpha exists in BOTH sstables: marker+4 cells and marker+1 cell
    assert len(full) == 7
    assert {r.key for r in full} == {b"alpha"}

    # planner-level check: pushFilters narrows partitions() to one split
    # per file containing the key
    reader = N.SSTableNativeReader(fixture_sstables, 4096)
    from pyspark.sql.datasource import EqualTo
    leftover = list(reader.pushFilters([EqualTo(("key",), b"alpha")]))
    assert leftover == []
    splits = reader.partitions()
    assert len(splits) == 2  # one indexed seek per sstable
    rows = [r for s in splits for b in reader.read(s)
            for r in b.to_pylist()]
    assert {r["key"] for r in rows} == {b"alpha"}


def test_key_in_filter_pushdown(spark, fixture_sstables):
    got = (N.read_native_cells(spark, fixture_sstables)
           .filter(F.col("key").isin([b"alpha", b"delta"]))
           .select("key").distinct().collect())
    assert {r.key for r in got} == {b"alpha", b"delta"}


def test_key_pushdown_no_match_returns_empty(spark, fixture_sstables):
    got = (N.read_native_cells(spark, fixture_sstables)
           .filter(F.col("key") == F.lit(b"nonexistent")).collect())
    assert got == []


def test_permissive_covers_plan_time_component_errors(spark, tmp_path):
    """mode=PERMISSIVE must survive a file whose COMPONENTS are broken
    at plan time (missing Index.db), not just mid-scan corruption: the
    bad file surfaces as one cell_kind='ERROR' row, the good file scans
    normally, and the default FAILFAST still refuses the scan."""
    import os

    from cassandra_sstable_to_protocolbuf_spark.sources.sstable_native import (
        read_native_cells)

    d = str(tmp_path / "ssts")
    write_sstable(d, 1, [
        {"key": b"good", "cells": [
            {"name": b"c", "kind": "LIVE", "timestamp": 1, "value": b"v"}]}])
    write_sstable(d, 2, [
        {"key": b"bad", "cells": [
            {"name": b"c", "kind": "LIVE", "timestamp": 2, "value": b"w"}]}])
    os.unlink(os.path.join(d, "ks-cf-ka-2-Index.db"))

    rows = read_native_cells(spark, d, mode="PERMISSIVE").collect()
    kinds = {(r["sstable_id"], r["cell_kind"]) for r in rows}
    assert ("ks-cf-ka-2", "ERROR") in kinds
    assert ("ks-cf-ka-1", "LIVE") in kinds
    err = [r for r in rows if r["cell_kind"] == "ERROR"]
    assert len(err) == 1 and b"Index" in err[0]["value"] or b"index" in err[0]["value"]

    import pytest as _pytest
    with _pytest.raises(Exception, match="[Ii]ndex"):
        read_native_cells(spark, d).collect()


def test_truncated_value_raises_not_silently_truncates(tmp_path):
    """A corrupt value-length field (or truncated file) must raise, not
    yield a cell with silently shortened bytes -- under PERMISSIVE mode
    a truncated cell would otherwise persist as real data."""
    import os
    import struct

    import pytest as _pytest


    d = str(tmp_path / "ssts")
    write_sstable(d, 1, [
        {"key": b"k", "cells": [
            {"name": b"c", "kind": "LIVE", "timestamp": 1,
             "value": b"0123456789"}]}], compression=None)
    data = os.path.join(d, "ks-cf-ka-1-Data.db")
    size = os.path.getsize(data)
    with open(data, "r+b") as f:
        f.truncate(size - 4)  # chop mid-value
    with _pytest.raises((ValueError, struct.error)):
        list(scan_partitions_eager(data, 0, size))


def _corrupt_fixture(d: str, case: str) -> dict:
    """Write the case's sstable, corrupt it, return {(key, name): value}
    as written."""
    import os
    import struct

    if case == "eof_in_value":
        parts = [{"key": b"k", "cells": [
            {"name": b"c", "kind": "LIVE", "timestamp": 1,
             "value": b"0123456789"}]}]
    elif case == "overshoot_mid_file":
        parts = [{"key": b"p%d" % i, "cells": [
            {"name": b"n-%d-%d" % (i, j), "kind": "LIVE", "timestamp": j,
             "value": b"v" * (10 + j)} for j in range(3)]}
            for i in range(5)]
    else:  # eof_in_wide_partition
        parts = [{"key": b"p%d" % i, "cells": [
            {"name": b"c%04d" % j, "kind": "LIVE", "timestamp": j,
             "value": b"%d-" % i + b"v" * 40} for j in range(n)]}
            for i, n in enumerate((3, 300, 3))]
    data = write_sstable(d, 1, parts)
    size = os.path.getsize(data)
    raw = bytearray(open(data, "rb").read())
    if case == "eof_in_value":
        raw = raw[:size - 4]
    elif case == "overshoot_mid_file":
        # the middle partition in file (token) order: its first value
        # length now runs past the end of the file
        keys = [k for k, _o in N.read_index(
            data[:-len(N.DATA_SUFFIX)] + N.INDEX_SUFFIX)]
        name = b"n-%s-0" % keys[len(keys) // 2][1:]
        at = raw.find(name) + len(name) + 1 + 8
        raw[at:at + 4] = struct.pack(">i", size)
    else:
        offs = {k: o for k, o in N.read_index(
            data[:-len(N.DATA_SUFFIX)] + N.INDEX_SUFFIX)}
        ends = sorted(offs.values()) + [size]
        start = offs[b"p1"]
        raw = raw[:(start + ends[ends.index(start) + 1]) // 2]
    with open(data, "wb") as f:
        f.write(raw)
    return {(p["key"], c["name"]): c["value"] for p in parts
            for c in p["cells"]}


@pytest.mark.parametrize("case", ["eof_in_value", "overshoot_mid_file",
                                  "eof_in_wide_partition"])
def test_read_refuses_truncated_atoms(tmp_path, case):
    """The production decoder on corrupt files: FAILFAST raises
    ValueError; PERMISSIVE yields exactly one ERROR row and never a
    LIVE row whose value differs from the one written (a cut value
    must not surface as data). The wide case reads through a window
    of a few hundred bytes, so the partition's good prefix flushes
    before the end of the file is found."""
    written = _corrupt_fixture(str(tmp_path), case)
    for permissive in (False, True):
        rdr = N.SSTableNativeReader(str(tmp_path), 4096,
                                    permissive=permissive)
        rdr.FAST_SCAN_GROW = 512
        if not permissive:
            with pytest.raises(ValueError):
                read_rows(rdr)
            continue
        rows = read_rows(rdr)
        assert [r[5] for r in rows].count("ERROR") == 1, rows
        live = [r for r in rows if r[5] == "LIVE"]
        assert all(r[3] == written[(r[1], r[2])] for r in live)
        if case == "eof_in_wide_partition":
            assert live, "the good prefix should stand"
