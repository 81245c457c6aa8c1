"""Per-cell scalar SSTable walk: the identity oracle for
SSTableNativeReader.read().

The reader decodes every split through the vectorized codec
(sources/cellcodec.py). This module keeps the plain struct-by-struct
walk of the same framing -- the shape of the reference's lazy column
iterator (SSTableIdentityIteratorPatched.computeNext) -- so tests state
what read() must produce without sharing a line of decode code with it.
O(one cell) memory: a partition's cells are a lazy generator."""

from __future__ import annotations

import os
import struct
from collections.abc import Iterator

from cassandra_sstable_to_protocolbuf_spark.sources import sstable_native as N


def read_cell_atoms(f, count: int | None = None) -> Iterator[dict]:
    """One atom dict at a time until the partition's end-of-row marker
    (nlen == 0), or -- for pre-'ja' versions, which carry an explicit
    column count instead of a terminator -- until `count` atoms have
    been read. Short reads raise (N._read_exact): a truncated value
    never surfaces as a shortened cell."""
    remaining = count
    while True:
        if remaining is not None:
            if remaining == 0:
                return
            remaining -= 1
        (nlen,) = struct.unpack(">H", f.read(2))
        if nlen == 0:
            if count is not None:
                raise ValueError(
                    "zero-length cell name inside a column-counted row")
            return
        name = N._read_exact(f, nlen)
        (flags,) = struct.unpack(">B", f.read(1))
        if flags & N.FLAG_RANGE_TOMBSTONE:
            (elen,) = struct.unpack(">H", f.read(2))
            end_name = N._read_exact(f, elen)
            rt_ldt, rt_marked = struct.unpack(">iq", f.read(12))
            yield {"name": name, "kind": "RANGE_TOMBSTONE",
                   "value": end_name, "timestamp": rt_marked,
                   "ttl": None, "local_expiration": rt_ldt}
        elif flags & N.FLAG_EXPIRATION:
            ttl, lexp = struct.unpack(">ii", f.read(8))
            ts, vlen = struct.unpack(">qi", f.read(12))
            yield {"name": name, "kind": "EXPIRING",
                   "value": N._read_exact(f, vlen), "timestamp": ts,
                   "ttl": ttl, "local_expiration": lexp}
        elif flags & N.FLAG_COUNTER:
            _tsd, ts, vlen = struct.unpack(">qqi", f.read(20))
            yield {"name": name, "kind": "COUNTER",
                   "value": N._read_exact(f, vlen), "timestamp": ts,
                   "ttl": None, "local_expiration": None}
        elif flags & N.FLAG_DELETION:
            ts, vlen = struct.unpack(">qi", f.read(12))
            body = N._read_exact(f, vlen)
            (cell_ldt,) = struct.unpack(">i", body) if vlen == 4 else (0,)
            yield {"name": name, "kind": "DELETED",
                   "value": b"", "timestamp": ts,
                   "ttl": None, "local_expiration": cell_ldt}
        else:
            ts, vlen = struct.unpack(">qi", f.read(12))
            yield {"name": name, "kind": "LIVE",
                   "value": N._read_exact(f, vlen), "timestamp": ts,
                   "ttl": None, "local_expiration": None}


def scan_partitions(data_path: str, start: int, end: int) -> Iterator[dict]:
    """Partitions whose start offset is in [start, end), in LOGICAL
    (uncompressed) coordinates; lz4 tables decompress transparently.
    Yields {key, deletion_live, deletion_marked_at, cells: LAZY
    per-cell generator}; range tombstones surface as RANGE_TOMBSTONE
    atoms. `cells` reads from the file stream, so consume it before
    advancing; an unconsumed tail is drained on advance."""
    old_format = N.SSTableNativeReader._old_format(data_path)
    f, _logical_size = N.open_data_file(data_path)
    with f:
        f.seek(start)
        while f.tell() < end:
            hdr = f.read(2)
            if len(hdr) < 2:
                return
            (klen,) = struct.unpack(">H", hdr)
            key = N._read_exact(f, klen)
            if old_format:
                # pre-'ja' row framing: long row-size precedes the
                # deletion time, and an int column count replaces the
                # zero-short end-of-row marker
                (_row_size,) = struct.unpack(">q", f.read(8))
                ldt, marked = struct.unpack(">iq", f.read(12))
                (column_count,) = struct.unpack(">i", f.read(4))
                cells = read_cell_atoms(f, count=column_count)
            else:
                ldt, marked = struct.unpack(">iq", f.read(12))
                cells = read_cell_atoms(f)
            yield {"key": key,
                   "deletion_live": (ldt == N.LIVE_LOCAL_DELETION
                                     and marked == N.LIVE_MARKED_AT),
                   "deletion_marked_at": marked, "cells": cells}
            for _ in cells:  # drain unconsumed tail to the next partition
                pass


def scan_partitions_eager(data_path: str, start: int,
                          end: int) -> Iterator[dict]:
    """scan_partitions with each partition's cells as a list."""
    for part in scan_partitions(data_path, start, end):
        yield {**part, "cells": list(part["cells"])}


def partition_rows(reader, sstable_id: str, part: dict) -> Iterator[tuple]:
    """One partition's rows in the native cell schema under the reader's
    pushed keys, token range and live_only: a PARTITION marker row
    (key + deletion state, even for a partition with no atoms), then
    its atoms -- LIVE ones only under live_only."""
    key, live = part["key"], part["deletion_live"]
    if reader.pushed_keys is not None and key not in reader.pushed_keys:
        return
    if reader.token_range is not None and not reader._in_token_range(key):
        return
    if reader.live_only and not live:
        return
    yield (sstable_id, key, b"", None, part["deletion_marked_at"],
           "PARTITION", None, None, live)
    for c in part["cells"]:
        if reader.live_only and c["kind"] != "LIVE":
            continue
        yield (sstable_id, key, c["name"], c["value"], c["timestamp"],
               c["kind"], c["ttl"], c["local_expiration"], live)


def iter_rows(reader, split) -> Iterator[tuple]:
    """The rows of one plain byte-range split, in file order."""
    for part in scan_partitions(split.data_path, split.start, split.end):
        yield from partition_rows(reader, split.sstable_id, part)


def expected_rows(reader) -> list[tuple]:
    """Every row read() must yield over all of the reader's splits: a
    full scan of each discovered data file under the reader's filters,
    plus -- with a name_range -- the slice residual (cell atoms whose
    name is in the slice in the reader's comparator order, no PARTITION
    markers). Plain reads equal it in order, sliced reads as a
    multiset."""
    rows = []
    for data_path in N.discover_data_files(reader.path):
        sid = os.path.basename(data_path)[:-len(N.DATA_SUFFIX)]
        size = N.SSTableNativeReader._logical_size(data_path)
        for part in scan_partitions(data_path, 0, size):
            for r in partition_rows(reader, sid, part):
                if reader.name_range is None or (
                        r[5] != "PARTITION" and reader._cell_in_range(r[2])):
                    rows.append(r)
    return rows


def read_rows(reader, splits=None) -> list[tuple]:
    """What read() yields over `splits` (default: a fresh plan), as row
    tuples in yield order."""
    if splits is None:
        splits = reader.partitions()
    return [r for s in splits for b in reader.read(s)
            for r in zip(*(c.to_pylist() for c in b.columns))]
