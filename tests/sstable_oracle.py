"""Per-cell scalar SSTable walk: the identity oracle for
SSTableNativeReader.read().

The reader decodes every split through the vectorized codec
(sources/cellcodec.py). This module keeps the plain struct-by-struct
walk of the same framing -- the shape of the reference's lazy column
iterator (SSTableIdentityIteratorPatched.computeNext) -- so tests state
what read() must produce without sharing a line of decode code with it.
O(one cell) memory: a partition's cells are a lazy generator.

PerCellWriter is the write side's oracle: SSTableStreamWriter with one
struct write and one promoted-index block step per atom (add_cell, and
a per-atom add_range_tombstone), independent of the block encoder and
of cellcodec.fold_blocks, which tests pin byte-identical to it.
write_sstable, the tests' list-of-dicts fixture writer, drives it.
bloom_add sets one key's bloom bits at a time, the oracle for
cellcodec.bloom_add_batch.

The per-row protobuf codec below is the golden oracle for the
engine's `.proto.zst` format (sstable.proto's Row/Column, framed by
writeDelimitedTo): encode_row + frame_row state one message at a time
what protowire's block encoder must emit, decode_row what its span
decoder must read back, and iter_delimited splits a varint-delimited
stream into the message bodies frame_row framed."""

from __future__ import annotations

import os
import struct
from collections.abc import Iterable, Iterator

from cassandra_sstable_to_protocolbuf_spark.protowire import encode_varint
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


def bloom_add(bloom: N.BloomFilter, key: bytes) -> None:
    """Set one key's bits, one bit at a time: the scalar oracle that
    cellcodec.bloom_add_batch, the writer's bloom build, is pinned
    against."""
    words = bloom.words
    for b in bloom._bits(key):
        words[b >> 6] |= 1 << (b & 63)


class PerCellWriter(N.SSTableStreamWriter):
    """SSTableStreamWriter plus the per-cell write: each atom is one
    fused struct write, and its promoted-index block accounting runs
    atom by atom on the writer's shared block state (_open_block,
    _blocks), so per-cell, range-tombstone and batch appends mix within
    one partition."""

    def _note_atom(self, name: bytes) -> None:
        """Open a block at the incoming atom's offset, or fold the name
        into the open block's [min, max]."""
        if self._open_block is None:
            self._open_block = (name, name,
                                self._logical_pos - self._part_pos)
        else:
            lo, hi, start = self._open_block
            self._open_block = (min(lo, name), max(hi, name), start)

    def _maybe_close_block(self) -> None:
        """Close the open block once the atom just written puts its
        width at or past column_index_bytes."""
        lo, hi, start = self._open_block
        width = self._logical_pos - self._part_pos - start
        if width >= self._cib:
            self._blocks.append((lo, hi, start, width))
            self._open_block = None

    def _atom(self, name: bytes, body: bytes) -> None:
        if self._cib:
            self._note_atom(name)
        self._write(body)
        if self._cib:
            self._maybe_close_block()

    def add_range_tombstone(self, start: bytes, end: bytes,
                            local_deletion: int, marked_at: int) -> None:
        if not self._in_partition:
            raise ValueError("range tombstone outside a partition")
        self._atom(start, struct.pack(
            f">H{len(start)}sBH{len(end)}siq", len(start), start,
            N.FLAG_RANGE_TOMBSTONE, len(end), end, local_deletion,
            marked_at))

    def add_cell(self, name: bytes, kind: str = "LIVE", timestamp: int = 0,
                 value: bytes = b"", ttl: int = 0, local_expiration: int = 0,
                 local_deletion: int = 0,
                 timestamp_of_last_delete: int = 0) -> None:
        if not self._in_partition:
            raise ValueError("cell outside a partition")
        if not name:
            # a zero-length name is the end-of-partition marker
            raise ValueError("cell name must be non-empty")
        head = struct.pack(">H", len(name)) + name
        if kind == "LIVE":
            body = struct.pack(">Bqi", 0, timestamp, len(value)) + value
        elif kind == "DELETED":
            body = struct.pack(">Bqii", N.FLAG_DELETION, timestamp, 4,
                               local_deletion)
        elif kind == "EXPIRING":
            body = struct.pack(">Biiqi", N.FLAG_EXPIRATION, ttl,
                               local_expiration, timestamp,
                               len(value)) + value
        elif kind == "COUNTER":
            body = struct.pack(">Bqqi", N.FLAG_COUNTER,
                               timestamp_of_last_delete, timestamp,
                               len(value)) + value
        else:
            raise ValueError(f"unknown cell kind {kind}")
        self._atom(name, head + body)
        self.n_cells += 1


def write_sstable(dir_path: str, generation: int,
                  partitions: list[dict], ks: str = "ks", cf: str = "cf",
                  compression: str | None = None,
                  chunk_length: int = 65536,
                  partitioner: str = N.DEFAULT_PARTITIONER,
                  column_index_bytes: int | None
                  = N.DEFAULT_COLUMN_INDEX_BYTES) -> str:
    """Write `<ks>-<cf>-ka-<gen>-Data.db` and its components from
    in-memory dicts through PerCellWriter, then record the file in a
    manifest-enabled directory (manifest.add; a no-op otherwise).

    Each partition dict:
      key: bytes
      deletion: (localDeletionTime, markedForDeleteAt) -- omit for live
      cells: list of dicts with name, kind, timestamp, value, and for
             EXPIRING: ttl, local_expiration; plus optional
             range_tombstones: [(start, end, local_deletion, marked_at)]
    """
    from cassandra_sstable_to_protocolbuf_spark import manifest

    token = N.token_function(partitioner)
    # decorated-key order: (token, key-bytes) like Cassandra's
    # DecoratedKey.compareTo (token first, key bytes break ties)
    ordered = sorted(partitions, key=lambda p: (token(p["key"]), p["key"]))
    w = PerCellWriter(dir_path, generation, ks=ks, cf=cf,
                      compression=compression, chunk_length=chunk_length,
                      partitioner=partitioner,
                      column_index_bytes=column_index_bytes)
    try:
        for part in ordered:
            w.start_partition(part["key"], part.get("deletion"))
            for rt in part.get("range_tombstones", ()):
                w.add_range_tombstone(*rt)
            for cell in part.get("cells", ()):
                w.add_cell(cell["name"], cell.get("kind", "LIVE"),
                           cell["timestamp"], cell.get("value", b""),
                           ttl=cell.get("ttl", 0),
                           local_expiration=cell.get("local_expiration", 0),
                           local_deletion=cell.get("local_deletion", 0),
                           timestamp_of_last_delete=cell.get(
                               "timestamp_of_last_delete", 0))
            w.end_partition()
        data_path = w.close()
    except BaseException:
        w.abort()
        raise
    manifest.add(dir_path, [data_path])
    return data_path


def iter_delimited(stream) -> Iterator[bytes]:
    """Yield message bodies from a length-delimited stream (file-like)."""
    while True:
        # read one varint byte-at-a-time off the stream
        shift = 0
        length = 0
        first = stream.read(1)
        if not first:
            return
        b = first[0]
        while True:
            length |= (b & 0x7F) << shift
            if not b & 0x80:
                break
            shift += 7
            if shift > 63:
                raise ValueError("varint too long")
            nxt = stream.read(1)
            if not nxt:
                raise ValueError("truncated varint at EOF")
            b = nxt[0]
        body = stream.read(length)
        if len(body) != length:
            raise ValueError("truncated message body")
        yield body


# per-row protobuf codec. Wire tags: field_number << 3 | wire_type
# (LEN=2, I64=1), stated here apart from protowire's own constants.
_COLUMN_NAME_TAG = 0x0A
_COLUMN_VALUE_TAG = 0x12
_COLUMN_WRITETIME_TAG = 0x19
_ROW_KEY_TAG = 0x0A
_ROW_COLUMNS_TAG = 0x12


def decode_varint(buf: bytes, pos: int) -> tuple[int, int]:
    """Returns (value, new_pos)."""
    result = 0
    shift = 0
    while True:
        if pos >= len(buf):
            raise ValueError("truncated varint")
        b = buf[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return result, pos
        shift += 7
        if shift > 63:
            raise ValueError("varint too long")


def encode_column(name: bytes, value: bytes | None, write_time: int) -> bytes:
    """Proto3 semantics: default-valued fields (empty bytes, writeTime 0)
    are OMITTED, matching what the reference's writeDelimitedTo emits --
    output is byte-identical, not merely decode-compatible."""
    out = bytearray()
    if name:
        out.append(_COLUMN_NAME_TAG)
        out += encode_varint(len(name))
        out += name
    if value:
        out.append(_COLUMN_VALUE_TAG)
        out += encode_varint(len(value))
        out += value
    if write_time != 0:
        out.append(_COLUMN_WRITETIME_TAG)
        out += struct.pack("<Q", write_time & 0xFFFFFFFFFFFFFFFF)
    return bytes(out)


def encode_row(key: bytes, columns: Iterable[tuple[bytes, bytes | None, int]]) -> bytes:
    """Row message body (unframed). Proto3: an empty key is omitted;
    repeated message elements are always emitted (an empty Column still
    frames as tag + zero length)."""
    out = bytearray()
    if key:
        out.append(_ROW_KEY_TAG)
        out += encode_varint(len(key))
        out += key
    for name, value, wt in columns:
        col = encode_column(name, value, wt)
        out.append(_ROW_COLUMNS_TAG)
        out += encode_varint(len(col))
        out += col
    return bytes(out)


def frame_row(row_body: bytes) -> bytes:
    """Length-delimited frame: varint(len) + body (writeDelimitedTo)."""
    return encode_varint(len(row_body)) + row_body


def decode_column(buf: bytes) -> tuple[bytes, bytes, int]:
    name = b""
    value = b""
    write_time = 0
    pos = 0
    while pos < len(buf):
        tag, pos = decode_varint(buf, pos)
        if tag == _COLUMN_NAME_TAG:
            ln, pos = decode_varint(buf, pos)
            name = buf[pos:pos + ln]
            pos += ln
        elif tag == _COLUMN_VALUE_TAG:
            ln, pos = decode_varint(buf, pos)
            value = buf[pos:pos + ln]
            pos += ln
        elif tag == _COLUMN_WRITETIME_TAG:
            # signed: Java writes fixed64 from a long, so a negative
            # timestamp must round-trip as two's complement, not >= 2^63
            write_time = struct.unpack_from("<q", buf, pos)[0]
            pos += 8
        else:
            raise ValueError(f"unknown Column tag 0x{tag:02x}")
    return name, value, write_time


def decode_row(buf: bytes) -> tuple[bytes, list[tuple[bytes, bytes, int]]]:
    key = b""
    columns: list[tuple[bytes, bytes, int]] = []
    pos = 0
    while pos < len(buf):
        tag, pos = decode_varint(buf, pos)
        if tag == _ROW_KEY_TAG:
            ln, pos = decode_varint(buf, pos)
            key = buf[pos:pos + ln]
            pos += ln
        elif tag == _ROW_COLUMNS_TAG:
            ln, pos = decode_varint(buf, pos)
            columns.append(decode_column(buf[pos:pos + ln]))
            pos += ln
        else:
            raise ValueError(f"unknown Row tag 0x{tag:02x}")
    return key, columns
