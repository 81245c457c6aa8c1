"""Protocol Buffers wire-format codec for the engine's two messages,
mirroring the reference's IDL (reference: src/main/proto/sstable.proto:1-16):

    message Column { bytes name = 1; bytes value = 2; fixed64 writeTime = 3; }
    message Row    { bytes key = 1; repeated Column columns = 2; }

Rows are framed length-delimited -- a base-128 varint byte length followed
by the message body -- matching writeDelimitedTo (reference:
Runner.java:118). Hand-rolled from the public protobuf wire-format spec
(no protobuf runtime in this environment). The per-row codec that states
the format one message at a time (encode_row, frame_row, decode_row)
lives under tests/ as the golden oracle (tests/sstable_oracle.py);
round-trip and golden-bytes tests pin this module's block encoder and
stream decoder against it.

Wire tags: field_number << 3 | wire_type. LEN=2, I64=1.
    Column.name      tag 0x0A   Column.value  tag 0x12
    Column.writeTime tag 0x19 (fixed64, little-endian)
    Row.key          tag 0x0A   Row.columns   tag 0x12 (repeated LEN)
"""

from __future__ import annotations

from collections.abc import Iterator

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


def frame_row_parts(key: bytes, columns_bytes: bytes) -> bytes:
    """Frame one Row whose repeated-columns portion is ALREADY encoded
    (encode_columns_bufs output): varint frame + optional key field +
    the column bytes, byte-identical to the oracle's
    frame_row(encode_row(...)).
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
# out as one numpy scatter block over Arrow-shaped buffers. The per-row
# encode_row + frame_row in tests/sstable_oracle.py are its golden
# oracle: a block equals the per-row frames joined (pinned in
# tests/test_protowire_props, and on whole decompressed sink files in
# tests/test_protobuf_sink).
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
    the oracle's encode_row."""
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
    the oracle's b"".join(frame_row(encode_row(key, cols))) over the
    rows. Payloads arrive as concatenated byte buffers (uint8 arrays) +
    per-entry length arrays: `key_data`/`klen`/`counts` per row, the
    name, value and writeTime columns flattened in row order. An Arrow
    Binary column IS this shape (one data buffer + offsets), so a
    columnar caller encodes with zero per-cell Python objects. NULL
    values must arrive as zero-length spans (Arrow offsets already do
    this); all layout arithmetic (varint sizes, proto3 default
    omission) runs vectorized."""
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


# --------------------------------------------------------------------------
# vectorized block decoder: the read-side twin of encode_rows_block_bufs.
# One offset-only Python walk per buffered region collects the field SPANS
# of whole buffered Rows (any field order, last-wins, unknown tags raise
# -- the same semantics as the oracle's decode_row); all byte movement is
# Arrow span gathers (cellcodec.spans_to_binary). Rows never materialize
# as Python dicts, and a Row of any size takes this one path.
# --------------------------------------------------------------------------


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
                      max_rows: int | None = None,
                      max_bytes: int | None = None) -> tuple[int, int]:
    """Walk framed Rows from buf[start_at:], appending into `regs` the
    spans of each Row whose whole frame is buffered. Stops before the
    first Row not fully buffered; after the first Row, also once
    `max_rows` Rows are appended or before a Row starting `max_bytes`
    or more past `start_at`. Returns (offset, need): where the walk
    stopped, and the buffer length the Row there needs (len(buf) + 1
    while even its frame length is cut) -- need <= len(buf) means that
    Row is ready for the next call. Field semantics match the oracle's
    decode_row exactly: any order, last-wins for scalars; unknown tags
    and fields overrunning a buffered frame raise ValueError."""
    n = len(buf)
    o = start_at
    stop = n + 1 if max_bytes is None else start_at + max_bytes
    rows_extend = regs.rows.extend
    counts_append = regs.counts.append
    cols_extend = regs.cols.extend
    done = 0
    while True:
        row_start = o
        try:  # frame varint
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
        except IndexError:
            return row_start, n + 1
        row_end = o + ln
        if row_end > n or (done and (done == max_rows
                                     or row_start >= stop)):
            return row_start, row_end
        key_off = key_len = 0
        ncols = 0
        try:
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
        except IndexError:
            raise ValueError("row field overruns frame") from None
        if o != row_end:
            raise ValueError("row field overruns frame")
        rows_extend((key_off, key_len))
        counts_append(ncols)
        done += 1


def pb_registers_to_arrow(buf, regs: _PbRegisters, sstable_id: str):
    """Spans -> one Arrow RecordBatch (sstable_id, key,
    columns: list<struct<name, value, writeTime>>): keys, names and
    values gather through cellcodec.spans_to_binary, writeTimes
    through one strided numpy view."""
    import numpy as np
    import pyarrow as pa

    from cassandra_sstable_to_protocolbuf_spark.sources.cellcodec import (
        _arrow_offsets, spans_to_binary)

    rows = np.frombuffer(regs.rows, dtype=np.int64).reshape(-1, 2)
    counts = np.frombuffer(regs.counts, dtype=np.int64)
    cols = np.frombuffer(regs.cols, dtype=np.int64).reshape(-1, 5)
    n_rows = len(rows)

    keys = spans_to_binary(buf, rows[:, 0], rows[:, 1])
    names = spans_to_binary(buf, cols[:, 0], cols[:, 1])
    values = spans_to_binary(buf, cols[:, 2], cols[:, 3])
    wt = np.zeros(len(cols), dtype=np.int64)
    present = cols[:, 4] >= 0
    if present.any():
        off = cols[:, 4][present]
        wt[present] = np.frombuffer(buf, dtype=np.uint8)[
            off[:, None] + np.arange(8)].view("<i8").ravel()
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


# a batch starts no Row this many bytes or more past its first, even
# before batch_rows accumulate
PB_BATCH_BYTE_CAP = 64 << 20


def iter_decoded_batches(stream, sstable_id: str,
                         batch_rows: int = 1024,
                         chunk_bytes: int = 4 << 20,
                         batch_byte_cap: int = PB_BATCH_BYTE_CAP) -> Iterator:
    """Arrow RecordBatches straight from a length-delimited protobuf
    stream through the span walk, zero per-row Python objects. A batch
    holds at most `batch_rows` Rows and starts no Row `batch_byte_cap`
    or more past its first. When the buffer ends inside a Row, the
    decoded Rows are already flushed: the consumed prefix is dropped
    and ONE read of at least `chunk_bytes` fetches what that Row
    needs. A Row of any size therefore decodes on this one path in
    O(row + chunk_bytes) buffer memory, reading the stream O(1) times
    for it."""
    buf = bytearray()
    o = 0
    need = 1  # the buffer length the Row at `o` needs
    while True:
        while need <= len(buf):
            regs = _PbRegisters()
            o, need = decode_rows_spans(buf, regs, start_at=o,
                                        max_rows=batch_rows,
                                        max_bytes=batch_byte_cap)
            yield pb_registers_to_arrow(buf, regs, sstable_id)
        del buf[:o]
        need -= o
        o = 0
        have = len(buf)
        buf += stream.read(max(chunk_bytes, need - have))
        if len(buf) == have:
            if buf:
                raise ValueError("truncated message body")
            return
