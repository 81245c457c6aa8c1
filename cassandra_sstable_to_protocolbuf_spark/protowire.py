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
# out as one byte block by one Arrow take (cellcodec.interleave_block):
# the varint/tag headers are built in numpy, one row per Row or Column,
# and interleaved with the Arrow key, name and value arrays. The per-row
# encode_row + frame_row in tests/sstable_oracle.py are its golden
# oracle: a block equals the per-row frames joined (pinned in
# tests/test_protowire_props, and on whole decompressed sink files in
# tests/test_protobuf_sink).
# --------------------------------------------------------------------------


def _vsz(np, n):
    """Vectorized varint byte size (0 <= n < 2**53, int64): 7 bits per
    byte of n's bit length, which frexp gives as its exponent."""
    return np.maximum((np.frexp(n)[1] + 6) // 7, 1).astype(np.int64)


def _field_head(np, tag, vals, size, present):
    """Protobuf field heads as an interleave_block (rows, lens) piece:
    head i is the tag byte (none when tag is None) and the base-128
    varint of vals[i], `size` = _vsz(vals) bytes, or nothing where not
    present[i] -- proto3 omits an absent field whole."""
    at = tag is not None
    rows = np.zeros((len(vals), at + int(size.max(initial=1))),
                    dtype=np.uint8)
    if at:
        rows[:, 0] = tag
    for j in range(rows.shape[1] - at):
        rows[:, at + j] = ((vals >> (7 * j)) & 0x7F) | (size > j + 1) * 0x80
    return rows, (at + size) * present


def _column_pieces(np, names, values, write_times):
    """interleave_block pieces of a flat run of wrapped Column messages
    (Row.columns head | name head | name | value head | value |
    writeTime) and each wrapped Column's byte size. Empty names and
    values and zero writeTimes are omitted (proto3 default omission --
    reference byte parity); NULL values are empty."""
    from cassandra_sstable_to_protocolbuf_spark.sources.cellcodec import (
        _binary_lens)

    nlen = _binary_lens(names)
    vlen = _binary_lens(values)
    wts = np.asarray(write_times, dtype=np.int64)
    has_n, has_v, has_t = nlen > 0, vlen > 0, wts != 0
    nsz, vsz = _vsz(np, nlen), _vsz(np, vlen)
    body = has_n * (1 + nsz + nlen) + has_v * (1 + vsz + vlen) + has_t * 9
    bsz = _vsz(np, body)
    wt_field = np.empty((len(wts), 9), dtype=np.uint8)
    wt_field[:, 0] = _COLUMN_WRITETIME_TAG
    # fixed64 little-endian two's complement
    wt_field[:, 1:] = wts.astype("<i8").view(np.uint8).reshape(-1, 8)
    pieces = [_field_head(np, _ROW_COLUMNS_TAG, body, bsz, True),
              _field_head(np, _COLUMN_NAME_TAG, nlen, nsz, has_n), names,
              _field_head(np, _COLUMN_VALUE_TAG, vlen, vsz, has_v), values,
              (wt_field, 9 * has_t)]
    return pieces, 1 + bsz + body


def encode_columns_bufs(names, values, write_times) -> bytes:
    """Encode a flat run of wrapped Column messages ONLY (no Row frame,
    no key field) from Arrow binary `names`/`values` and int64
    `write_times`: the bytes a Row message carries after its key. Lets
    a streaming writer accumulate a very wide row's columns in encoded
    form across input batches and emit the Row frame once the row's
    total size is known -- byte-identical to the columns portion of
    the oracle's encode_row."""
    import numpy as np

    from cassandra_sstable_to_protocolbuf_spark.sources.cellcodec import (
        interleave_block)

    pieces, _ = _column_pieces(np, names, values, write_times)
    return interleave_block(pieces)[0].tobytes()


def encode_rows_block_bufs(keys, counts, names, values,
                           write_times) -> bytes:
    """Frame + encode a RUN of Rows as one contiguous block, equal to
    the oracle's b"".join(frame_row(encode_row(key, cols))) over the
    rows. `keys` (Arrow binary) and `counts` are per row; the Arrow
    binary `names`/`values` and int64 `write_times` are the columns
    flattened in row order, so a columnar caller encodes with zero
    per-cell Python objects. NULL keys and values encode as empty;
    all layout arithmetic (varint sizes, proto3 default omission) runs
    vectorized."""
    import numpy as np

    from cassandra_sstable_to_protocolbuf_spark.sources.cellcodec import (
        _binary_lens, interleave_block)

    col_pieces, wrapped = _column_pieces(np, names, values, write_times)
    counts = np.asarray(counts, dtype=np.int64)
    klen = _binary_lens(keys)
    has_k = klen > 0
    ksz = _vsz(np, klen)
    # per-row body: optional key field + the row's wrapped columns
    wcum = np.concatenate(([0], np.cumsum(wrapped)))
    ends = np.cumsum(counts)
    body = has_k * (1 + ksz + klen) + wcum[ends] - wcum[ends - counts]
    return interleave_block(
        [_field_head(np, None, body, _vsz(np, body), True),
         _field_head(np, _ROW_KEY_TAG, klen, ksz, has_k), keys],
        col_pieces, counts)[0].tobytes()


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
