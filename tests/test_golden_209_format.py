"""Byte-golden fixtures hand-assembled to the cassandra-all 2.0.x
serializer layout the reference reads -- independently re-derived here
from the 2.0 on-disk format, NOT produced by this repo's writer, so any
drift between the repo layout and the real one fails loudly.

Layout being pinned (reference file:line):
  Data.db row ('jb', the 2.0.x current version):
    short keyLen + key                    (SSTableScannerPatched.java:178)
    DeletionTime: int localDeletionTime + long markedForDeleteAt
                                          (SSTableIdentityIteratorPatched.java:69)
    atoms until a zero short name length  (ColumnSerializer layout)
  Data.db row (pre-'ja', e.g. 'ic'):
    ... + long rowSize after the key, and an int columnCount after the
    DeletionTime instead of the end-of-row marker
                                          (SSTableIdentityIteratorPatched.java:70)
  atom: short nameLen + name + byte flags, then per kind:
    LIVE:      long ts + int vlen + value
    DELETED  (0x01): long ts + int 4 + int localDeletionTime
    EXPIRING (0x02): int ttl + int localExpiration + long ts + int vlen + value
    COUNTER  (0x04): long timestampOfLastDelete + long ts + int vlen + value
    RANGE_TOMBSTONE (0x10): short endLen + end + int ldt + long markedAt
  Index.db entry: short keyLen + key + long position + int promotedSize
                                          (SSTableReaderPatched.java:155-157)
  Filename: <ks>-<cf>-<version>-<gen>-<Component>.db
                                          (Descriptor.fromFilename, service/SSTableReader.java:54)
"""

from __future__ import annotations

import os
import struct

import pytest

from cassandra_sstable_to_protocolbuf_spark.sources import sstable_native as N
from tests.sstable_oracle import scan_partitions_eager, write_sstable


def _atom_live(name: bytes, ts: int, value: bytes) -> bytes:
    return (struct.pack(">H", len(name)) + name + b"\x00"
            + struct.pack(">qi", ts, len(value)) + value)


def _atom_deleted(name: bytes, ts: int, local_deletion: int) -> bytes:
    return (struct.pack(">H", len(name)) + name + b"\x01"
            + struct.pack(">qi", ts, 4) + struct.pack(">i", local_deletion))


def _atom_expiring(name: bytes, ttl: int, lexp: int, ts: int, value: bytes) -> bytes:
    return (struct.pack(">H", len(name)) + name + b"\x02"
            + struct.pack(">ii", ttl, lexp)
            + struct.pack(">qi", ts, len(value)) + value)


def _atom_counter(name: bytes, ts_last_delete: int, ts: int, value: bytes) -> bytes:
    return (struct.pack(">H", len(name)) + name + b"\x04"
            + struct.pack(">qqi", ts_last_delete, ts, len(value)) + value)


def _atom_range_tombstone(start: bytes, end: bytes, ldt: int, marked: int) -> bytes:
    return (struct.pack(">H", len(start)) + start + b"\x10"
            + struct.pack(">H", len(end)) + end
            + struct.pack(">iq", ldt, marked))


LIVE_DELETION = struct.pack(">iq", 0x7FFFFFFF, -(1 << 63))

# two partitions, keys chosen already in RandomPartitioner (md5) token
# order so the file is legal without reordering
KEY_A, KEY_B = b"apple", b"orange"
assert N.md5_token(KEY_A) < N.md5_token(KEY_B)

ROW_A_ATOMS = (
    _atom_range_tombstone(b"a", b"czz", 600, 105)
    + _atom_live(b"col1", 1000, b"hello")
    + _atom_deleted(b"col2", 1001, 77)
    + _atom_expiring(b"col3", 60, 2000, 1002, b"soon")
    + _atom_counter(b"col4", 0, 1003, b"\x00" * 8)
)
ROW_A = (struct.pack(">H", len(KEY_A)) + KEY_A + LIVE_DELETION
         + ROW_A_ATOMS + struct.pack(">H", 0))
# partition-tombstoned row: deletion time (500, 99), one shadowed cell
ROW_B = (struct.pack(">H", len(KEY_B)) + KEY_B + struct.pack(">iq", 500, 99)
         + _atom_live(b"zcol", 104, b"zombie") + struct.pack(">H", 0))

GOLDEN_JB_DATA = ROW_A + ROW_B
GOLDEN_JB_INDEX = (
    struct.pack(">H", len(KEY_A)) + KEY_A + struct.pack(">QI", 0, 0)
    + struct.pack(">H", len(KEY_B)) + KEY_B + struct.pack(">QI", len(ROW_A), 0)
)


@pytest.fixture()
def golden_jb(tmp_path):
    prefix = str(tmp_path / "Keyspace1-Standard1-jb-3")
    with open(prefix + "-Data.db", "wb") as f:
        f.write(GOLDEN_JB_DATA)
    with open(prefix + "-Index.db", "wb") as f:
        f.write(GOLDEN_JB_INDEX)
    return prefix + "-Data.db"


def test_descriptor_from_filename():
    d = N.Descriptor.from_filename("/x/Keyspace1-Standard1-jb-3-Data.db")
    assert (d.ks, d.cf, d.version, d.generation) == (
        "Keyspace1", "Standard1", "jb", 3)
    assert not d.has_row_size_and_column_count
    assert N.Descriptor.from_filename(
        "My-Table-Name-ic-12-Index.db").has_row_size_and_column_count
    with pytest.raises(ValueError, match="unsupported sstable version"):
        N.Descriptor.from_filename("ks-cf-zz-1-Data.db")


def test_golden_jb_parses_exactly(golden_jb):
    parts = list(scan_partitions_eager(golden_jb, 0, len(GOLDEN_JB_DATA)))
    assert [p["key"] for p in parts] == [KEY_A, KEY_B]
    a, b = parts
    assert a["deletion_live"] is True
    assert b["deletion_live"] is False
    kinds = [(c["name"], c["kind"]) for c in a["cells"]]
    assert kinds == [(b"a", "RANGE_TOMBSTONE"), (b"col1", "LIVE"),
                     (b"col2", "DELETED"), (b"col3", "EXPIRING"),
                     (b"col4", "COUNTER")]
    by_name = {c["name"]: c for c in a["cells"]}
    assert by_name[b"col1"]["value"] == b"hello"
    assert by_name[b"col1"]["timestamp"] == 1000
    assert by_name[b"col2"]["local_expiration"] == 77
    assert by_name[b"col3"]["ttl"] == 60
    assert by_name[b"col3"]["local_expiration"] == 2000
    assert by_name[b"a"]["value"] == b"czz"  # RT end bound
    assert by_name[b"a"]["timestamp"] == 105
    assert b["cells"][0]["value"] == b"zombie"


def test_writer_layout_matches_golden_bytes(tmp_path):
    """The repo's fixture writer must serialize these partitions to the
    EXACT bytes of the hand-assembled 2.0.x layout -- on-disk parity,
    not just self-consistency."""
    parts = [
        {"key": KEY_A,
         "range_tombstones": [(b"a", b"czz", 600, 105)],
         "cells": [
             {"name": b"col1", "kind": "LIVE", "timestamp": 1000, "value": b"hello"},
             {"name": b"col2", "kind": "DELETED", "timestamp": 1001, "local_deletion": 77},
             {"name": b"col3", "kind": "EXPIRING", "timestamp": 1002, "value": b"soon",
              "ttl": 60, "local_expiration": 2000},
             {"name": b"col4", "kind": "COUNTER", "timestamp": 1003, "value": b"\x00" * 8},
         ]},
        {"key": KEY_B, "deletion": (500, 99), "cells": [
            {"name": b"zcol", "kind": "LIVE", "timestamp": 104, "value": b"zombie"}]},
    ]
    data = write_sstable(str(tmp_path), 3, parts, ks="Keyspace1",
                         cf="Standard1")
    with open(data, "rb") as f:
        assert f.read() == GOLDEN_JB_DATA
    index = data[:-len(N.DATA_SUFFIX)] + N.INDEX_SUFFIX
    with open(index, "rb") as f:
        assert f.read() == GOLDEN_JB_INDEX


def test_writer_summary_matches_golden_bytes(tmp_path):
    """-Summary.db layout pin (engine-own serialization, documented in
    sstable_native.py; the reference's IndexSummary is an off-heap image,
    so this is stability-pinning, not cross-format parity). Two index
    entries, interval 128 -> only entry 0 sampled; first/last trailer."""
    parts = [
        {"key": KEY_A, "cells": [
            {"name": b"c", "kind": "LIVE", "timestamp": 1, "value": b"v"}]},
        {"key": KEY_B, "cells": [
            {"name": b"c", "kind": "LIVE", "timestamp": 1, "value": b"v"}]},
    ]
    data = write_sstable(str(tmp_path), 3, parts, ks="Keyspace1",
                         cf="Standard1")
    golden = (
        b"SGSUM1" + struct.pack(">iq", 128, 1)
        + struct.pack(">H", len(KEY_A)) + KEY_A + struct.pack(">QQ", 0, 0)
        + struct.pack(">i", len(KEY_A)) + KEY_A
        + struct.pack(">i", len(KEY_B)) + KEY_B
    )
    with open(data[:-len(N.DATA_SUFFIX)] + N.SUMMARY_SUFFIX, "rb") as f:
        assert f.read() == golden


def test_golden_ic_row_size_and_column_count(tmp_path):
    """Pre-'ja' framing: long rowSize + int columnCount, no end-of-row
    marker (the 'optional column count' the reference's iterator
    handles via hasRowSizeAndColumnCount)."""
    atoms = _atom_live(b"c1", 10, b"v1") + _atom_live(b"c2", 11, b"v2")
    row_payload = LIVE_DELETION + struct.pack(">i", 2) + atoms
    # rowSize counts everything after itself (deletion time onwards)
    row = (struct.pack(">H", 3) + b"key"
           + struct.pack(">q", len(row_payload)) + row_payload)
    path = str(tmp_path / "Keyspace1-Standard1-ic-1-Data.db")
    with open(path, "wb") as f:
        f.write(row)
    parts = list(scan_partitions_eager(path, 0, os.path.getsize(path)))
    assert len(parts) == 1
    assert parts[0]["key"] == b"key"
    assert [(c["name"], c["value"], c["timestamp"]) for c in parts[0]["cells"]] \
        == [(b"c1", b"v1", 10), (b"c2", b"v2", 11)]


def test_golden_jb_through_spark_source(spark, golden_jb, tmp_path):
    """The golden file reads through the full Spark DataSource path and
    survives the reference pipeline filters (tombstoned partition B
    dropped, only LIVE cells of A kept)."""
    df = N.read_native_cells(spark, os.path.dirname(golden_jb), live_only=True)
    rows = df.collect()
    keys = {bytes(r.key) for r in rows}
    assert keys == {KEY_A}
    live = [r for r in rows if r.cell_kind == "LIVE"]
    assert [(bytes(r.name), bytes(r.value)) for r in live] == [(b"col1", b"hello")]


# --------------------------------------------------------------------------
# Promoted-index-bearing Index.db (VERDICT r5 #5): real Cassandra 2.0
# files carry a non-zero promoted (row-level) index blob after each
# entry's position field -- this repo's writer always emits
# promoted_len=0, so these fixtures hand-assemble the blob to exercise
# the reader's skip on the real-interop path: streaming iteration,
# summary-directed seeks, split planning, and full scans through Spark.
# --------------------------------------------------------------------------

def _inject_promoted_index(data_path: str) -> int:
    """Rewrite the sstable's Index.db with a deterministic junk promoted
    blob after every entry (varied lengths incl. 0), and rebuild
    Summary.db so its index_pos samples point at the REWRITTEN entry
    offsets. Returns the number of entries."""
    base = data_path[:-len(N.DATA_SUFFIX)]
    entries = list(N.iter_index(base + N.INDEX_SUFFIX))
    blob_parts = []
    sampled = []
    pos = 0
    for j, (key, offset, _old_pos) in enumerate(entries):
        plen = (j * 7) % 64  # varied, some zero
        promoted = bytes((j + k) % 256 for k in range(plen))
        entry = (struct.pack(">H", len(key)) + key
                 + struct.pack(">QI", offset, plen) + promoted)
        if j % N.DEFAULT_INDEX_INTERVAL == 0:
            sampled.append((key, pos, offset))
        blob_parts.append(entry)
        pos += len(entry)
    with open(base + N.INDEX_SUFFIX, "wb") as f:
        f.write(b"".join(blob_parts))
    N.write_summary(base + N.SUMMARY_SUFFIX, N.DEFAULT_INDEX_INTERVAL,
                    sampled, entries[0][0], entries[-1][0])
    return len(entries)


def _promoted_fixture(tmp_path, n=300):
    d = str(tmp_path / "promoted")
    parts = [{"key": b"pk%04d" % i,
              "cells": [{"name": b"c%d" % (i % 3), "kind": "LIVE",
                         "timestamp": i, "value": b"v%04d" % i}]}
             for i in range(n)]
    data = write_sstable(d, 1, parts)
    n_entries = _inject_promoted_index(data)
    assert n_entries == n
    return d, data


def test_promoted_index_streaming_iteration(tmp_path):
    d, data = _promoted_fixture(tmp_path)
    base = data[:-len(N.DATA_SUFFIX)]
    entries = list(N.iter_index(base + N.INDEX_SUFFIX))
    assert len(entries) == 300
    assert [k for k, _o, _p in entries] == sorted(
        (b"pk%04d" % i for i in range(300)),
        key=lambda k: (N.md5_token(k), k))
    # offsets still strictly ascending (promoted blob skipped, not read)
    offs = [o for _k, o, _p in entries]
    assert offs == sorted(offs) and len(set(offs)) == 300


def test_promoted_index_full_scan_through_spark(spark, tmp_path):
    d, _data = _promoted_fixture(tmp_path)
    rows = N.read_native_cells(spark, d, partitions_per_split=128).collect()
    live = [(bytes(r.key), bytes(r.value)) for r in rows
            if r.cell_kind == "LIVE"]
    assert sorted(live) == [(b"pk%04d" % i, b"v%04d" % i)
                            for i in range(300)]


def test_promoted_index_seek_paths(spark, tmp_path):
    """Point lookups must seek THROUGH promoted blobs on both planning
    paths: summary-directed (binary search + bounded index walk) and
    the summary-less streaming fallback."""
    d, data = _promoted_fixture(tmp_path)
    base = data[:-len(N.DATA_SUFFIX)]

    def lookup():
        reader = N.SSTableNativeReader(d, 4096)
        reader.pushed_keys = {b"pk0042", b"pk0257"}
        got = set()
        for split in reader.partitions():
            for item in reader.read(split):
                got.update(bytes(k) for k in item.column(1).to_pylist())
        return got

    assert lookup() == {b"pk0042", b"pk0257"}  # summary-directed
    os.unlink(base + N.SUMMARY_SUFFIX)
    assert lookup() == {b"pk0042", b"pk0257"}  # streaming fallback


def test_promoted_index_corrupt_length_still_refused(tmp_path):
    """The bounds check survives the rewrite: a promoted length running
    past EOF raises instead of masquerading as clean EOF."""
    d, data = _promoted_fixture(tmp_path, n=5)
    base = data[:-len(N.DATA_SUFFIX)]
    raw = bytearray(open(base + N.INDEX_SUFFIX, "rb").read())
    # last entry: key pk0004 -- set its plen field to a huge value
    # (the final 4 bytes before its promoted blob); easier: truncate the
    # file mid-blob of the last entry that has plen > 0
    raw = raw[:-1]
    with open(base + N.INDEX_SUFFIX, "wb") as f:
        f.write(bytes(raw))
    with pytest.raises(ValueError, match="promoted index|truncated"):
        list(N.iter_index(base + N.INDEX_SUFFIX))
