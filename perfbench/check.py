"""Independent reader and checker for the converter's `.proto.zst` outputs.

Deliberately shares no code with the engine's own wire codec: it parses
the delimited protobuf stream field by field from the public wire format

    message Column { bytes name = 1; bytes value = 2; fixed64 writeTime = 3; }
    message Row    { bytes key = 1; repeated Column columns = 2; }

and reduces every file to (rows, cells, digest).  The digest hashes each
Row as (key, its columns in stream order) and combines the rows in key
order, so a writer that emits rows in token order instead of key order
still matches while any change to a key, name, value or writeTime -- or a
cell moved between rows -- does not.
"""

from __future__ import annotations

import hashlib
import os
import struct

import pyarrow as pa

OUTPUT_SUFFIX = "-Data.db.proto.zst"

_CELL_HEAD = struct.Struct(">HIq")


class CheckError(Exception):
    """An output file failed to decode or did not match the model."""


class RowSetDigest:
    """Order-independent digest of one file's rows (see module doc)."""

    def __init__(self) -> None:
        self.rows = 0
        self.cells = 0
        self._items: list[tuple[bytes, bytes]] = []

    def add(self, key: bytes, cells: list[tuple[bytes, bytes, int]]) -> None:
        parts = [len(key).to_bytes(4, "big"), key]
        for name, value, wt in cells:
            parts.append(_CELL_HEAD.pack(len(name), len(value), wt))
            parts.append(name)
            parts.append(value)
        self._items.append((key, hashlib.sha256(b"".join(parts)).digest()))
        self.rows += 1
        self.cells += len(cells)

    def hexdigest(self) -> str:
        h = hashlib.sha256()
        for key, row_hash in sorted(self._items):
            h.update(len(key).to_bytes(4, "big"))
            h.update(key)
            h.update(row_hash)
        return h.hexdigest()

    def summary(self) -> dict:
        return {"rows": self.rows, "cells": self.cells,
                "digest": self.hexdigest()}


def _varint(buf: bytes, pos: int) -> tuple[int, int]:
    result = shift = 0
    while True:
        if pos >= len(buf):
            raise CheckError("truncated varint")
        b = buf[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if b < 0x80:
            return result, pos
        shift += 7
        if shift > 63:
            raise CheckError("varint longer than 10 bytes")


def _field_len(buf: bytes, pos: int, end: int) -> tuple[int, int]:
    n, pos = _varint(buf, pos)
    if pos + n > end:
        raise CheckError("length-delimited field overruns its message")
    return pos, pos + n


def _column(buf: bytes, pos: int, end: int) -> tuple[bytes, bytes, int]:
    name = value = b""
    wt = 0
    while pos < end:
        tag = buf[pos]
        pos += 1
        if tag == 0x0A:
            s, pos = _field_len(buf, pos, end)
            name = buf[s:pos]
        elif tag == 0x12:
            s, pos = _field_len(buf, pos, end)
            value = buf[s:pos]
        elif tag == 0x19:
            if pos + 8 > end:
                raise CheckError("truncated fixed64 writeTime")
            wt = int.from_bytes(buf[pos:pos + 8], "little", signed=True)
            pos += 8
        else:
            raise CheckError(f"unexpected Column field tag 0x{tag:02x}")
    return name, value, wt


def iter_rows(buf: bytes):
    """Yield (key, [(name, value, writeTime), ...]) per delimited Row."""
    pos, n = 0, len(buf)
    while pos < n:
        pos, end = _field_len(buf, pos, n)
        key = b""
        cells = []
        while pos < end:
            tag = buf[pos]
            pos += 1
            if tag == 0x0A:
                s, pos = _field_len(buf, pos, end)
                key = buf[s:pos]
            elif tag == 0x12:
                s, pos = _field_len(buf, pos, end)
                cells.append(_column(buf, s, pos))
            else:
                raise CheckError(f"unexpected Row field tag 0x{tag:02x}")
        yield key, cells


def read_stream(path: str) -> bytes:
    """The decompressed bytes of one `.proto.zst` (all zstd frames)."""
    try:
        with pa.input_stream(path, compression="zstd") as f:
            return f.read()
    except (OSError, pa.ArrowException) as e:
        raise CheckError(f"{os.path.basename(path)}: zstd: {e}") from None


def summarize(buf: bytes) -> dict:
    d = RowSetDigest()
    for key, cells in iter_rows(buf):
        d.add(key, cells)
    return d.summary()


class OutputChecker:
    """Checks one conversion's output directory against the model.

    The first directory is decoded in full.  Conversions of the same
    input are deterministic, so later directories are compared by the
    sha256 of each decompressed stream against the streams already
    proven correct, and decoded again only when those differ."""

    def __init__(self, model_files: dict):
        self.expected = model_files
        self._proven: dict[str, str] = {}

    def check_file(self, out_dir: str, sid: str) -> str | None:
        """None when the file is correct, else the reason it is not."""
        path = os.path.join(out_dir, sid + OUTPUT_SUFFIX)
        if not os.path.exists(path):
            return f"{sid}: output file missing"
        try:
            buf = read_stream(path)
            stream_hash = hashlib.sha256(buf).hexdigest()
            if self._proven.get(sid) == stream_hash:
                return None
            got = summarize(buf)
        except CheckError as e:
            return f"{sid}: {e}"
        want = self.expected[sid]
        for field in ("rows", "cells", "digest"):
            if got[field] != want[field]:
                return (f"{sid}: {field} {got[field]} != expected "
                        f"{want[field]}")
        self._proven[sid] = stream_hash
        return None

    def check_dir(self, out_dir: str) -> list[str]:
        """Reasons for every failed file (empty list: all correct)."""
        errors = [e for sid in sorted(self.expected)
                  if (e := self.check_file(out_dir, sid)) is not None]
        extra = sorted(
            f for f in os.listdir(out_dir) if f.endswith(OUTPUT_SUFFIX)
            and f[:-len(OUTPUT_SUFFIX)] not in self.expected)
        errors += [f"{f}: output for an input that does not exist"
                   for f in extra]
        return errors
