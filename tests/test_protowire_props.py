"""Property tests: arbitrary rows survive the wire codec + framing."""

from __future__ import annotations

import io

from hypothesis import given, settings
from hypothesis import strategies as st

from cassandra_sstable_to_protocolbuf_spark import protowire as pw
from tests.sstable_oracle import (
    decode_row, decode_varint, encode_row, frame_row, iter_delimited)

cell = st.tuples(
    st.binary(min_size=0, max_size=64),
    st.binary(min_size=0, max_size=256),
    # full Java long range: negative timestamps must survive the
    # fixed64 round-trip as two's complement
    st.integers(min_value=-(2 ** 63), max_value=2 ** 63 - 1),
)
row = st.tuples(st.binary(min_size=0, max_size=64), st.lists(cell, max_size=8))


@settings(max_examples=200, deadline=None)
@given(row)
def test_row_roundtrip(r):
    key, cells = r
    body = encode_row(key, cells)
    k2, c2 = decode_row(body)
    assert k2 == key
    assert c2 == [(n, v, t) for n, v, t in cells]


@settings(max_examples=50, deadline=None)
@given(st.lists(row, max_size=10))
def test_stream_roundtrip(rows):
    buf = io.BytesIO()
    for key, cells in rows:
        buf.write(frame_row(encode_row(key, cells)))
    buf.seek(0)
    decoded = [decode_row(b) for b in iter_delimited(buf)]
    assert decoded == [(k, list(cs)) for k, cs in rows]


@settings(max_examples=200, deadline=None)
@given(st.integers(min_value=0, max_value=2 ** 64 - 1))
def test_varint_any_u64(n):
    v, pos = decode_varint(pw.encode_varint(n), 0)
    assert v == n


def _decode_all_batches(rows, **kw):
    buf = io.BytesIO()
    for key, cells in rows:
        buf.write(frame_row(encode_row(key, cells)))
    buf.seek(0)
    out = []
    for batch in pw.iter_decoded_batches(buf, "sst-x", **kw):
        d = batch.to_pydict()
        assert d["sstable_id"] == ["sst-x"] * batch.num_rows
        for k, cols in zip(d["key"], d["columns"]):
            out.append((k, [(c["name"], c["value"], c["writeTime"])
                            for c in cols]))
    return out


@settings(max_examples=50, deadline=None)
@given(st.lists(row, max_size=10))
def test_decoded_batches_match_scalar(rows):
    """The vectorized stream decoder == per-row decode_row for any
    shape, across buffer-growth boundaries (tiny chunk size)."""
    expect = [(k, [(n, v or b"", t) for n, v, t in cs]) for k, cs in rows]
    assert _decode_all_batches(rows, chunk_bytes=7) == expect


class _CountingStream(io.BytesIO):
    def __init__(self, data: bytes):
        super().__init__(data)
        self.reads = 0

    def read(self, n=-1):
        self.reads += 1
        return super().read(n)


_GIANT_CHUNK = 64 << 10


def _giant_stream(n_giants: int):
    """Small rows around `n_giants` 8 MiB Rows, each 128 x the chunk
    and batch byte cap the decoder runs with."""
    small = [(f"k{i}".encode(), [(b"c", f"v{i}".encode(), i)])
             for i in range(4)]
    rows = small[:2]
    for g in range(n_giants):
        rows.append((b"giant%d" % g,
                     [(b"col%05d" % j, bytes([(j + g) % 251]) * 4096, j + 1)
                      for j in range(2048)]))
    rows += small[2:]
    return rows, b"".join(frame_row(encode_row(k, cs)) for k, cs in rows)


def _peak_decode(data: bytes) -> tuple[int, int]:
    """(peak bytes, stream reads) of one decode that drops each batch
    as it arrives: the tracemalloc peak (buffer, reads) plus the peak
    of Arrow's pool (the gathered columns), which tracemalloc does not
    see."""
    import tracemalloc

    import pyarrow as pa

    stream = _CountingStream(data)
    pool = pa.proxy_memory_pool(pa.default_memory_pool())
    old = pa.default_memory_pool()
    pa.set_memory_pool(pool)
    tracemalloc.start()
    try:
        for batch in pw.iter_decoded_batches(
                stream, "s", chunk_bytes=_GIANT_CHUNK,
                batch_byte_cap=_GIANT_CHUNK):
            del batch
        _, py_peak = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
        pa.set_memory_pool(old)
    return py_peak + pool.max_memory(), stream.reads


def test_giant_row_decodes_on_the_span_path():
    """A Row 128 x the chunk and the batch byte cap decodes on the one
    span path: equal to the oracle's decode_row with its neighbours
    unchanged, its remainder fetched in ONE read, and peak memory (the
    Python heap plus Arrow's pool) O(row) -- an absolute cap, and a
    stream with twice the giant Rows must not grow the peak."""
    rows, data = _giant_stream(1)
    expect = [(k, [(n, v or b"", t) for n, v, t in cs]) for k, cs in rows]
    got = _decode_all_batches(rows, chunk_bytes=_GIANT_CHUNK,
                              batch_byte_cap=_GIANT_CHUNK)
    assert got == expect
    (body,) = [b for b in iter_delimited(io.BytesIO(data))
               if len(b) > _GIANT_CHUNK]
    assert got[2] == decode_row(body)

    row_bytes = len(body)
    peak_1, reads = _peak_decode(data)
    # the first chunk (small rows + the giant's head), the giant's
    # remainder, the tail chunk, EOF -- not row / chunk = 128 reads
    assert reads <= 4, f"{reads} stream reads for one giant Row"
    assert peak_1 < 4 * row_bytes, \
        f"peak {peak_1} bytes for a {row_bytes}-byte Row"
    peak_2, _ = _peak_decode(_giant_stream(2)[1])
    assert peak_2 < peak_1 + row_bytes // 4, \
        f"peak grew with the stream ({peak_1} -> {peak_2})"


def test_decoder_refuses_truncated_and_corrupt_streams():
    """A stream cut at any byte inside a Row raises (one cut at a frame
    boundary is a clean, shorter stream), and a field overrunning a
    fully buffered frame is corruption -- whether bytes follow the
    frame or the buffer ends with it."""
    import pytest

    rows = [(b"k%d" % i, [(b"c", b"v" * 20, i)]) for i in range(4)]
    frames = [frame_row(encode_row(k, cs)) for k, cs in rows]
    data = b"".join(frames)
    bounds = {sum(map(len, frames[:i])) for i in range(len(frames) + 1)}
    for cut in range(1, len(data)):
        stream = io.BytesIO(data[:cut])
        if cut in bounds:
            got = sum(b.num_rows for b in pw.iter_decoded_batches(
                stream, "s", chunk_bytes=5))
            assert got == sorted(bounds).index(cut)
        else:
            with pytest.raises(ValueError, match="truncated"):
                list(pw.iter_decoded_batches(stream, "s", chunk_bytes=5))
    bad = frame_row(b"\x0a\x05ab")  # key field claims 5 bytes, has 2
    for tail in (b"", data):
        with pytest.raises(ValueError, match="overruns"):
            list(pw.iter_decoded_batches(io.BytesIO(bad + tail), "s"))


def test_batch_byte_cap_bounds_buffered_payload():
    """Batches flush at the byte cap even before batch_rows accumulate:
    buffer growth is O(cap), not O(batch_rows x row size)."""
    rows = [(f"k{i:03d}".encode(), [(b"c", bytes(200), i)])
            for i in range(64)]
    expect = [(k, [(n, v or b"", t) for n, v, t in cs]) for k, cs in rows]
    buf = io.BytesIO()
    for key, cells in rows:
        buf.write(frame_row(encode_row(key, cells)))
    buf.seek(0)
    batches = list(pw.iter_decoded_batches(
        buf, "s", batch_rows=10_000, chunk_bytes=256,
        batch_byte_cap=1024))
    assert len(batches) > 1, "byte cap never flushed"
    got = []
    for b in batches:
        d = b.to_pydict()
        for k, cols in zip(d["key"], d["columns"]):
            got.append((k, [(c["name"], c["value"], c["writeTime"])
                            for c in cols]))
    assert got == expect


def test_batch_byte_cap_splits_one_buffer():
    """With the whole stream in one read, the byte cap alone cuts the
    batches: no batch starts a Row `batch_byte_cap` or more past its
    first, so each holds at most cap / row + 1 Rows."""
    rows = [(f"k{i:03d}".encode(), [(b"c", bytes(200), i)])
            for i in range(64)]
    buf = io.BytesIO(b"".join(frame_row(encode_row(k, cs))
                              for k, cs in rows))
    sizes = [b.num_rows for b in pw.iter_decoded_batches(
        buf, "s", batch_rows=10_000, chunk_bytes=1 << 20,
        batch_byte_cap=1024)]
    assert sum(sizes) == len(rows)
    assert max(sizes) <= 1024 // 200 + 1 and len(sizes) > 1


def test_int32_overflow_guards_raise_instead_of_wrapping():
    """The codec's offset helpers must refuse totals past int32 rather
    than silently wrapping into corrupt Arrow arrays: the readers'
    span gather, the list offsets and the writers' scatter index."""
    import numpy as np
    import pytest

    import pyarrow as pa

    from cassandra_sstable_to_protocolbuf_spark.sources.cellcodec import (
        _arrow_offsets, interleave_block, spans_to_binary)

    # spans totalling past 2 GiB inside a buffer that long are refused
    # before the gather allocates, so a zero-stride view (no bytes
    # behind it) stands in for the buffer
    big = np.broadcast_to(np.uint8(0), ((1 << 31) + 16,))
    with pytest.raises(ValueError, match="int32"):
        spans_to_binary(big, np.array([0, 1 << 30], dtype=np.int64),
                        np.array([1 << 30, (1 << 30) + 8], dtype=np.int64))
    # a huge OFFSET with a small length, past the buffer: refused too
    with pytest.raises(ValueError, match="outside the buffer"):
        spans_to_binary(bytes(16), np.array([1 << 31], dtype=np.int64),
                        np.array([8], dtype=np.int64))
    with pytest.raises(ValueError, match="int32"):
        _arrow_offsets(np.array([1 << 31], dtype=np.int64))
    # the writers' block: past 2 GiB it is refused before anything is
    # allocated, so one 1 MiB payload repeated 2049 times (a list of
    # bytes, an Arrow array) or a header whose length claims 2 GiB
    # stands in for a real 2 GiB input
    mib = bytes(1 << 20)
    with pytest.raises(ValueError, match="int32"):
        interleave_block([[mib] * 2049])
    with pytest.raises(ValueError, match="int32"):
        interleave_block([pa.array([mib])] * 2049)
    with pytest.raises(ValueError, match="int32"):
        interleave_block([(np.zeros((1, 1), dtype=np.uint8),
                           np.array([1 << 31], dtype=np.int64))])


def _arrow_binary(parts, pad, null_empty=False):
    """`parts` as an Arrow binary array of the shapes the writer's
    slice/filter/take produce: sliced out of a larger array (a non-zero
    offset when pad > 0), and NULL for empty parts when `null_empty`
    (a NULL encodes as the omitted empty field)."""
    import pyarrow as pa

    items = [None if null_empty and not p else p for p in parts]
    padded = pa.array([b"pad"] * pad + items + [b"pad"] * pad,
                      type=pa.binary())
    return padded.slice(pad, len(items))


@settings(max_examples=100, deadline=None)
@given(st.lists(row, max_size=12), st.integers(0, 3), st.booleans())
def test_block_encoder_byte_identical(rows, pad, nulls):
    """encode_rows_block_bufs == per-row frame_row(encode_row(...)) for
    any shape hypothesis can draw: empty keys, empty names/values, zero
    and negative writeTimes, zero-column rows, varint-size boundaries,
    sliced Arrow inputs and NULL values."""
    import numpy as np

    ref = b"".join(frame_row(encode_row(k, cs)) for k, cs in rows)
    keys = _arrow_binary([k for k, _ in rows], pad)
    counts = np.array([len(cs) for _, cs in rows], dtype=np.int64)
    names = _arrow_binary([n for _, cs in rows for (n, _v, _t) in cs], pad)
    values = _arrow_binary([v for _, cs in rows for (_n, v, _t) in cs],
                           pad, nulls)
    wts = np.array([t for _, cs in rows for (_n, _v, t) in cs],
                   dtype=np.int64)
    assert pw.encode_rows_block_bufs(keys, counts, names, values,
                                     wts) == ref


@settings(max_examples=100, deadline=None)
@given(row, st.integers(0, 3), st.booleans())
def test_framed_columns_encoder_byte_identical(r, pad, nulls):
    """frame_row_parts(key, encode_columns_bufs(...)), the writer's path
    for a Row that spans batches, == the oracle's
    frame_row(encode_row(...))."""
    import numpy as np

    key, cells = r
    names = _arrow_binary([n for n, _v, _t in cells], pad)
    values = _arrow_binary([v for _n, v, _t in cells], pad, nulls)
    wts = np.array([t for _n, _v, t in cells], dtype=np.int64)
    assert pw.frame_row_parts(
        key, pw.encode_columns_bufs(names, values, wts)) == frame_row(
        encode_row(key, cells))


