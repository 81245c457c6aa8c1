"""Protocol Buffers wire-format codec for the engine's two messages,
mirroring the reference's IDL (reference: src/main/proto/sstable.proto:1-16):

    message Column { bytes name = 1; bytes value = 2; fixed64 writeTime = 3; }
    message Row    { bytes key = 1; repeated Column columns = 2; }

Rows are framed length-delimited -- a base-128 varint byte length followed
by the message body -- matching writeDelimitedTo (reference:
Runner.java:118). Hand-rolled from the public protobuf wire-format spec
(no protobuf runtime in this environment); round-trip and golden-bytes
tests pin the encoding.

Wire tags: field_number << 3 | wire_type. LEN=2, I64=1.
    Column.name      tag 0x0A   Column.value  tag 0x12
    Column.writeTime tag 0x19 (fixed64, little-endian)
    Row.key          tag 0x0A   Row.columns   tag 0x12 (repeated LEN)
"""

from __future__ import annotations

import struct
from collections.abc import Iterable, Iterator

_COLUMN_NAME_TAG = 0x0A
_COLUMN_VALUE_TAG = 0x12
_COLUMN_WRITETIME_TAG = 0x19
_ROW_KEY_TAG = 0x0A
_ROW_COLUMNS_TAG = 0x12


def encode_varint(n: int) -> bytes:
    if n < 0:
        raise ValueError("varint must be non-negative")
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


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


def frame_row_parts(key: bytes, columns_bytes: bytes) -> bytes:
    """Frame one Row whose repeated-columns portion is ALREADY encoded
    (encode_columns_bufs output): varint frame + optional key field +
    the column bytes, byte-identical to frame_row(encode_row(...)).
    Used by streaming writers that accumulate a wide row's columns in
    encoded form and only learn the row's total size at its end."""
    head = bytearray()
    if key:
        head.append(_ROW_KEY_TAG)
        head += encode_varint(len(key))
        head += key
    return (encode_varint(len(head) + len(columns_bytes))
            + bytes(head) + columns_bytes)


# --------------------------------------------------------------------------
# vectorized block encoder (the K1 sink's hot path): many framed Rows laid
# out as one numpy scatter block over Arrow-shaped buffers. encode_row +
# frame_row above are its golden oracle: a block equals the per-row
# frames joined (pinned in tests/test_protowire_props, and on whole
# decompressed sink files in tests/test_protobuf_sink).
# --------------------------------------------------------------------------

_VSZ_THRESH = None  # lazily built numpy varint size thresholds


def _np():
    import numpy as np
    global _VSZ_THRESH
    if _VSZ_THRESH is None:
        _VSZ_THRESH = np.array([1 << (7 * k) for k in range(1, 8)],
                               dtype=np.int64)
    return np


def _vsz(np, n):
    """Vectorized varint byte size (n >= 0, int64)."""
    return (np.searchsorted(_VSZ_THRESH, n, side="right") + 1).astype(
        np.int64)


def _scatter_varints(np, out, pos, vals, sizes) -> None:
    """Scatter base-128 varints of known per-element size at `pos`."""
    if not len(vals):
        return
    for j in range(int(sizes.max())):
        m = sizes > j
        b = (vals[m] >> (7 * j)) & 0x7F
        more = (sizes[m] > (j + 1)).astype(np.int64) << 7
        out[pos[m] + j] = (b | more).astype(np.uint8)


def _columns_layout(np, nlen, vlen, wts):
    """Shared wire-layout arithmetic for a flat run of columns: which
    fields each column carries (proto3 default omission) and the byte
    size of each column's body and its length-delimited wrapping."""
    has_n = nlen > 0
    has_v = vlen > 0
    has_t = wts != 0
    nlen_vsz = _vsz(np, nlen)
    vlen_vsz = _vsz(np, vlen)
    col_body = (has_n * (1 + nlen_vsz + nlen)
                + has_v * (1 + vlen_vsz + vlen)
                + has_t * 9)
    col_vsz = _vsz(np, col_body)
    wrapped = 1 + col_vsz + col_body
    return (has_n, has_v, has_t, nlen_vsz, vlen_vsz,
            col_body, col_vsz, wrapped)


def _scatter_columns(np, out, col_pos, lay, nlen, vlen, wts,
                     name_data, value_data) -> None:
    """Scatter a flat run of wrapped Column messages at `col_pos`.
    `name_data`/`value_data` are the concatenated payload bytes as
    uint8 arrays (zero-length/omitted fields contribute no bytes)."""
    from cassandra_sstable_to_protocolbuf_spark.sources.cellcodec import (
        _ragged_idx)

    (has_n, has_v, has_t, nlen_vsz, vlen_vsz,
     col_body, col_vsz, wrapped) = lay
    out[col_pos] = _ROW_COLUMNS_TAG
    _scatter_varints(np, out, col_pos + 1, col_body, col_vsz)
    p = col_pos + 1 + col_vsz
    # name field
    np_pos = p[has_n]
    out[np_pos] = _COLUMN_NAME_TAG
    _scatter_varints(np, out, np_pos + 1, nlen[has_n], nlen_vsz[has_n])
    idx = _ragged_idx(np_pos + 1 + nlen_vsz[has_n], nlen[has_n])
    if len(idx):
        out[idx] = name_data
    p = p + has_n * (1 + nlen_vsz + nlen)
    # value field
    vp = p[has_v]
    out[vp] = _COLUMN_VALUE_TAG
    _scatter_varints(np, out, vp + 1, vlen[has_v], vlen_vsz[has_v])
    idx = _ragged_idx(vp + 1 + vlen_vsz[has_v], vlen[has_v])
    if len(idx):
        out[idx] = value_data
    p = p + has_v * (1 + vlen_vsz + vlen)
    # writeTime field: tag + fixed64 little-endian two's complement
    tp = p[has_t]
    out[tp] = _COLUMN_WRITETIME_TAG
    wt_bytes = wts[has_t].astype("<i8").view(np.uint8).reshape(-1, 8)
    out[tp[:, None] + np.arange(1, 9)] = wt_bytes


def encode_columns_bufs(name_data, nlen, value_data, vlen,
                        write_times) -> bytes:
    """Encode a flat run of wrapped Column messages ONLY (no Row frame,
    no key field): the bytes a Row message carries after its key. Lets
    a streaming writer accumulate a very wide row's columns in encoded
    form across input batches and emit the Row frame once the row's
    total size is known -- byte-identical to the columns portion of
    encode_row."""
    np = _np()
    wts = np.asarray(write_times, dtype=np.int64)
    nlen = np.asarray(nlen, dtype=np.int64)
    vlen = np.asarray(vlen, dtype=np.int64)
    lay = _columns_layout(np, nlen, vlen, wts)
    wrapped = lay[-1]
    out = np.zeros(int(wrapped.sum()), dtype=np.uint8)
    col_pos = np.cumsum(wrapped) - wrapped  # exclusive prefix
    if len(nlen):
        _scatter_columns(np, out, col_pos, lay, nlen, vlen, wts,
                         name_data, value_data)
    return out.tobytes()


def encode_rows_block_bufs(key_data, klen, counts, name_data, nlen,
                           value_data, vlen, write_times) -> bytes:
    """Frame + encode a RUN of Rows as one contiguous block, equal to
    b"".join(frame_row(encode_row(key, cols))) over the rows. Payloads
    arrive as concatenated byte buffers (uint8 arrays) + per-entry
    length arrays: `key_data`/`klen`/`counts` per row, the name, value
    and writeTime columns flattened in row order. An Arrow Binary column
    IS this shape (one data buffer + offsets), so a columnar caller
    encodes with zero per-cell Python objects. NULL values must arrive
    as zero-length spans (Arrow offsets already do this); all layout
    arithmetic (varint sizes, proto3 default omission) runs vectorized."""
    np = _np()
    from cassandra_sstable_to_protocolbuf_spark.sources.cellcodec import (
        _ragged_idx)

    n_rows = len(klen)
    n_cols = len(nlen)
    counts = np.asarray(counts, dtype=np.int64)
    wts = np.asarray(write_times, dtype=np.int64)
    klen = np.asarray(klen, dtype=np.int64)
    nlen = np.asarray(nlen, dtype=np.int64)
    vlen = np.asarray(vlen, dtype=np.int64)

    # per-column body: name/value fields omitted when empty, writeTime
    # omitted when 0 (proto3 default omission -- reference byte parity)
    lay = _columns_layout(np, nlen, vlen, wts)
    (has_n, has_v, has_t, nlen_vsz, vlen_vsz,
     col_body, col_vsz, wrapped) = lay

    # per-row body: optional key field + the row's wrapped columns
    row_idx = np.zeros(n_cols, dtype=np.int64)
    cols_before = np.zeros(n_rows, dtype=np.int64)
    if n_rows > 1:
        np.cumsum(counts[:-1], out=cols_before[1:])
    if n_cols:
        marks = np.zeros(n_cols, dtype=np.int64)
        # rows with zero columns must still advance row_idx: add.at
        # accumulates coinciding boundaries; boundaries AT n_cols
        # (trailing zero-column rows) own no column and drop out
        if n_rows > 1:
            b = cols_before[1:]
            np.add.at(marks, b[b < n_cols], 1)
        np.cumsum(marks, out=row_idx)
    klen_vsz = _vsz(np, klen)
    has_k = klen > 0
    wrapped_per_row = np.zeros(n_rows, dtype=np.int64)
    if n_cols:
        np.add.at(wrapped_per_row, row_idx, wrapped)
    row_body = has_k * (1 + klen_vsz + klen) + wrapped_per_row
    row_vsz = _vsz(np, row_body)
    framed = row_vsz + row_body

    offs = np.zeros(n_rows + 1, dtype=np.int64)
    np.cumsum(framed, out=offs[1:])
    out = np.zeros(int(offs[-1]), dtype=np.uint8)

    # frame varints + key field
    frame_pos = offs[:-1]
    _scatter_varints(np, out, frame_pos, row_body, row_vsz)
    body_pos = frame_pos + row_vsz
    kp = body_pos[has_k]
    out[kp] = _ROW_KEY_TAG
    _scatter_varints(np, out, kp + 1, klen[has_k], klen_vsz[has_k])
    key_data_pos = kp + 1 + klen_vsz[has_k]
    idx = _ragged_idx(key_data_pos, klen[has_k])
    if len(idx):
        out[idx] = key_data

    if n_cols:
        # wrapped-column start offsets: key end of the owning row plus
        # the cumsum of earlier wrapped columns within the row
        key_end = body_pos + has_k * (1 + klen_vsz + klen)
        wcum = np.cumsum(wrapped) - wrapped  # exclusive prefix
        group_base = wcum[cols_before.clip(max=max(n_cols - 1, 0))]
        col_pos = key_end[row_idx] + (wcum - group_base[row_idx])
        _scatter_columns(np, out, col_pos, lay, nlen, vlen, wts,
                         name_data, value_data)
    return out.tobytes()


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


# --------------------------------------------------------------------------
# vectorized block decoder: the read-side twin of encode_rows_block_bufs.
# One offset-only Python walk per buffered region collects field SPANS
# (any field order, last-wins, unknown tags raise -- the same semantics
# as decode_row); all byte movement happens as numpy gathers straight
# into Arrow buffers. Rows never materialize as Python dicts.
# --------------------------------------------------------------------------


class PbOverrun(Exception):
    """Decoder ran past the buffered bytes mid-row: the caller extends
    the buffer and retries from `row_start` (registers rolled back)."""

    def __init__(self, row_start: int):
        super().__init__(f"pb row overran buffer at {row_start}")
        self.row_start = row_start


class _PbRegisters:
    __slots__ = ("rows", "counts", "cols")

    def __init__(self):
        from array import array

        self.rows = array("q")    # 2 per row: key_off, key_len
        self.counts = array("q")  # columns per row
        # 5 per column: name_off, name_len, val_off, val_len,
        # wt_off (-1 = absent -> 0)
        self.cols = array("q")

    def __len__(self) -> int:
        return len(self.rows) // 2


def decode_rows_spans(buf, regs: _PbRegisters, start_at: int = 0,
                      max_rows: int | None = None) -> int:
    """Walk framed Rows from buf[start_at:], appending spans into
    `regs`. Returns the offset after the last complete row (clean EOF
    at a frame boundary, or the max_rows flush point); raises PbOverrun
    with registers rolled back when the buffer ends mid-row. Field
    semantics match decode_row exactly: any order, last-wins for
    scalars, unknown tags raise ValueError."""
    n = len(buf)
    o = start_at
    rows_extend = regs.rows.extend
    counts_append = regs.counts.append
    cols_extend = regs.cols.extend
    done = 0
    while True:
        row_start = o
        if o == n:
            return o
        if max_rows is not None and done >= max_rows:
            return o
        snap_rows = len(regs.rows)
        snap_counts = len(regs.counts)
        snap_cols = len(regs.cols)
        try:
            # frame varint
            b = buf[o]
            o += 1
            if b < 0x80:
                ln = b
            else:
                ln = b & 0x7F
                shift = 7
                while True:
                    b = buf[o]
                    o += 1
                    ln |= (b & 0x7F) << shift
                    if not b & 0x80:
                        break
                    shift += 7
                    if shift > 63:
                        raise ValueError("varint too long")
            row_end = o + ln
            if row_end > n:
                raise IndexError
            key_off = key_len = 0
            ncols = 0
            while o < row_end:
                tag = buf[o]
                o += 1
                b = buf[o]
                o += 1
                if b < 0x80:
                    fl = b
                else:
                    fl = b & 0x7F
                    shift = 7
                    while True:
                        b = buf[o]
                        o += 1
                        fl |= (b & 0x7F) << shift
                        if not b & 0x80:
                            break
                        shift += 7
                        if shift > 63:
                            raise ValueError("varint too long")
                if tag == _ROW_KEY_TAG:
                    key_off, key_len = o, fl
                    o += fl
                elif tag == _ROW_COLUMNS_TAG:
                    col_end = o + fl
                    if col_end > row_end:
                        raise ValueError("column overruns row")
                    n_off = n_len = v_off = v_len = 0
                    wt_off = -1
                    while o < col_end:
                        ctag = buf[o]
                        o += 1
                        if ctag == _COLUMN_WRITETIME_TAG:
                            wt_off = o
                            o += 8
                            continue
                        cb = buf[o]
                        o += 1
                        if cb < 0x80:
                            cl = cb
                        else:
                            cl = cb & 0x7F
                            shift = 7
                            while True:
                                cb = buf[o]
                                o += 1
                                cl |= (cb & 0x7F) << shift
                                if not cb & 0x80:
                                    break
                                shift += 7
                                if shift > 63:
                                    raise ValueError("varint too long")
                        if ctag == _COLUMN_NAME_TAG:
                            n_off, n_len = o, cl
                        elif ctag == _COLUMN_VALUE_TAG:
                            v_off, v_len = o, cl
                        else:
                            raise ValueError(
                                f"unknown Column tag 0x{ctag:02x}")
                        o += cl
                    if o != col_end:
                        raise ValueError("column field overruns")
                    cols_extend((n_off, n_len, v_off, v_len, wt_off))
                    ncols += 1
                else:
                    raise ValueError(f"unknown Row tag 0x{tag:02x}")
            if o != row_end:
                raise ValueError("row field overruns frame")
            rows_extend((key_off, key_len))
            counts_append(ncols)
            done += 1
        except IndexError:
            del regs.rows[snap_rows:], regs.counts[snap_counts:], \
                regs.cols[snap_cols:]
            raise PbOverrun(row_start) from None


def pb_registers_to_arrow(buf, regs: _PbRegisters, sstable_id: str):
    """Spans -> one Arrow RecordBatch (sstable_id, key,
    columns: list<struct<name, value, writeTime>>), all columns built
    via numpy gathers / Arrow buffers."""
    import numpy as np
    import pyarrow as pa

    from cassandra_sstable_to_protocolbuf_spark.sources.cellcodec import (
        _arrow_offsets, _ragged_idx)

    buf_np = np.frombuffer(buf, dtype=np.uint8)
    rows = np.frombuffer(regs.rows, dtype=np.int64).reshape(-1, 2)
    counts = np.frombuffer(regs.counts, dtype=np.int64)
    cols = np.frombuffer(regs.cols, dtype=np.int64).reshape(-1, 5)
    n_rows = len(rows)
    n_cols = len(cols)

    keys = pa.Array.from_buffers(
        pa.binary(), n_rows,
        [None, pa.py_buffer(_arrow_offsets(rows[:, 1]).tobytes()),
         pa.py_buffer(buf_np[_ragged_idx(rows[:, 0],
                                         rows[:, 1])].tobytes())])
    names = pa.Array.from_buffers(
        pa.binary(), n_cols,
        [None, pa.py_buffer(_arrow_offsets(cols[:, 1]).tobytes()),
         pa.py_buffer(buf_np[_ragged_idx(cols[:, 0],
                                         cols[:, 1])].tobytes())])
    values = pa.Array.from_buffers(
        pa.binary(), n_cols,
        [None, pa.py_buffer(_arrow_offsets(cols[:, 3]).tobytes()),
         pa.py_buffer(buf_np[_ragged_idx(cols[:, 2],
                                         cols[:, 3])].tobytes())])
    wt = np.zeros(n_cols, dtype=np.int64)
    present = cols[:, 4] >= 0
    if present.any():
        off = cols[:, 4][present]
        wt[present] = buf_np[off[:, None] + np.arange(8)].view(
            "<i8").ravel()
    struct = pa.StructArray.from_arrays(
        [names, values, pa.array(wt)], ["name", "value", "writeTime"])
    columns = pa.ListArray.from_arrays(pa.array(_arrow_offsets(counts)),
                                       struct)
    sid = pa.array([sstable_id], type=pa.string()).take(
        pa.array(np.zeros(n_rows, dtype=np.int32)))
    schema = pa.schema([
        ("sstable_id", pa.string()), ("key", pa.binary()),
        ("columns", pa.list_(pa.struct([
            ("name", pa.binary()), ("value", pa.binary()),
            ("writeTime", pa.int64())])))])
    return pa.RecordBatch.from_arrays([sid, keys, columns],
                                      schema=schema)


# a single framed Row buffered past this falls back to the scalar
# decode_row path: the vectorized walk's numpy gathers index with int32,
# so unbounded buffer growth on a multi-GB Row would otherwise wrap
# offsets silently (the native reader needs no such cap: it resumes a
# partition cut by its read window, cellcodec.decode_partitions)
PB_ROW_CAP = 64 << 20
# flush a batch once its buffered payload passes this even before
# batch_rows accumulate, so buffer size stays O(cap), not O(rows x row)
PB_BATCH_BYTE_CAP = 64 << 20


def _scalar_row_batch(buf, start: int, stream, chunk_bytes: int,
                      sstable_id: str):
    """Decode ONE framed row the scalar way (decode_row) and build a
    single-row RecordBatch -- the over-cap fallback. Memory is O(row):
    the row must materialize regardless (it is one record), but the
    int32-indexed batch gathers never see it. Returns
    (batch, remainder_buf): the unconsumed tail after the row with the
    consumed prefix dropped."""
    import pyarrow as pa

    # frame varint, scalar, extending the buffer on demand
    pos = start
    ln = 0
    shift = 0
    while True:
        while pos >= len(buf):
            more = stream.read(chunk_bytes)
            if not more:
                raise ValueError("truncated message body")
            buf += more
        b = buf[pos]
        pos += 1
        ln |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
        if shift > 63:
            raise ValueError("varint too long")
    end = pos + ln
    while len(buf) < end:
        more = stream.read(chunk_bytes)
        if not more:
            raise ValueError("truncated message body")
        buf += more
    key, columns = decode_row(bytes(buf[pos:end]))
    struct_type = pa.struct([("name", pa.binary()),
                             ("value", pa.binary()),
                             ("writeTime", pa.int64())])
    schema = pa.schema([
        ("sstable_id", pa.string()), ("key", pa.binary()),
        ("columns", pa.list_(struct_type))])
    batch = pa.RecordBatch.from_arrays(
        [pa.array([sstable_id], type=pa.string()),
         pa.array([key], type=pa.binary()),
         pa.array([[{"name": n, "value": v, "writeTime": wt}
                    for n, v, wt in columns]],
                  type=pa.list_(struct_type))],
        schema=schema)
    return batch, bytearray(buf[end:])


def iter_decoded_batches(stream, sstable_id: str,
                         batch_rows: int = 1024,
                         chunk_bytes: int = 4 << 20,
                         row_cap: int = PB_ROW_CAP,
                         batch_byte_cap: int = PB_BATCH_BYTE_CAP) -> Iterator:
    """Arrow RecordBatches straight from a length-delimited protobuf
    stream: bounded buffering (consumed-prefix trimming + grow on
    demand, flush at `batch_byte_cap`), the vectorized span walk, zero
    per-row Python objects. A single Row buffered past `row_cap` is
    decoded by the scalar decode_row path instead (memory O(row), and
    the int32 gather index space of the vectorized builder is never
    exceeded -- the cellcodec guards would raise rather than wrap, but
    the fallback keeps giant rows WORKING)."""
    buf = bytearray(stream.read(chunk_bytes))
    o = 0
    while True:
        regs = _PbRegisters()
        batch_start = o
        done = False
        giant = -1
        while True:
            try:
                o = decode_rows_spans(buf, regs, start_at=o,
                                      max_rows=batch_rows)
            except PbOverrun as ov:
                if ov.row_start - batch_start >= batch_byte_cap \
                        and len(regs):
                    o = ov.row_start
                    break  # bounded batch: flush before growing more
                if len(buf) - ov.row_start > row_cap:
                    giant = ov.row_start
                    o = ov.row_start
                    break
                more = stream.read(chunk_bytes)
                if not more:
                    raise ValueError(
                        "truncated message body") from None
                buf += more
                o = ov.row_start
                continue
            if o == len(buf):
                if o - batch_start >= batch_byte_cap and len(regs):
                    break  # bounded batch: flush before growing more
                more = stream.read(chunk_bytes)
                if not more:
                    done = True
                    break
                buf += more
                continue
            break  # flush point
        if len(regs):
            yield pb_registers_to_arrow(buf, regs, sstable_id)
        if giant >= 0:
            batch, buf = _scalar_row_batch(buf, giant, stream,
                                           chunk_bytes, sstable_id)
            yield batch
            o = 0
            continue
        if done:
            return
        if o >= chunk_bytes:
            # amortized trim: only once the consumed prefix is at least
            # a chunk (a per-flush buf[o:] copy is O(buffer) and turned
            # the first cut of this decoder into 3+ GB of memcpy)
            buf = buf[o:]
            o = 0
