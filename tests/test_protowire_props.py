"""Property tests: arbitrary rows survive the wire codec + framing."""

from __future__ import annotations

import io

from hypothesis import given, settings
from hypothesis import strategies as st

from cassandra_sstable_to_protocolbuf_spark import protowire as pw
from tests.sstable_oracle import iter_delimited

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
    body = pw.encode_row(key, cells)
    k2, c2 = pw.decode_row(body)
    assert k2 == key
    assert c2 == [(n, v, t) for n, v, t in cells]


@settings(max_examples=50, deadline=None)
@given(st.lists(row, max_size=10))
def test_stream_roundtrip(rows):
    buf = io.BytesIO()
    for key, cells in rows:
        buf.write(pw.frame_row(pw.encode_row(key, cells)))
    buf.seek(0)
    decoded = [pw.decode_row(b) for b in iter_delimited(buf)]
    assert decoded == [(k, list(cs)) for k, cs in rows]


@settings(max_examples=200, deadline=None)
@given(st.integers(min_value=0, max_value=2 ** 64 - 1))
def test_varint_any_u64(n):
    v, pos = pw.decode_varint(pw.encode_varint(n), 0)
    assert v == n


def _decode_all_batches(rows, **kw):
    buf = io.BytesIO()
    for key, cells in rows:
        buf.write(pw.frame_row(pw.encode_row(key, cells)))
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


def test_giant_row_falls_back_to_scalar_and_stays_correct():
    """Advisor r8: a Row buffered past row_cap must not grow the
    vectorized buffer unboundedly (nor approach the int32 gather wrap)
    -- it decodes through the scalar decode_row path, and rows on both
    sides of it stay on the vectorized path, byte-identical overall."""
    small = [(f"k{i}".encode(), [(b"c", f"v{i}".encode(), i)])
             for i in range(5)]
    giant = (b"giant", [(f"col{j}".encode(), bytes(300), 7)
                        for j in range(16)])  # ~5 KB row
    rows = small[:3] + [giant] + small[3:]
    expect = [(k, [(n, v or b"", t) for n, v, t in cs]) for k, cs in rows]
    got = _decode_all_batches(rows, chunk_bytes=512, row_cap=1024)
    assert got == expect
    # the giant row really did take the fallback: it must sit alone in
    # its batch (the scalar path emits single-row batches)
    buf = io.BytesIO()
    for key, cells in rows:
        buf.write(pw.frame_row(pw.encode_row(key, cells)))
    buf.seek(0)
    sizes = [b.num_rows for b in pw.iter_decoded_batches(
        buf, "s", chunk_bytes=512, row_cap=1024)]
    assert 1 in sizes and sum(sizes) == len(rows)


def test_batch_byte_cap_bounds_buffered_payload():
    """Batches flush at the byte cap even before batch_rows accumulate:
    buffer growth is O(cap), not O(batch_rows x row size)."""
    rows = [(f"k{i:03d}".encode(), [(b"c", bytes(200), i)])
            for i in range(64)]
    expect = [(k, [(n, v or b"", t) for n, v, t in cs]) for k, cs in rows]
    buf = io.BytesIO()
    for key, cells in rows:
        buf.write(pw.frame_row(pw.encode_row(key, cells)))
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


def test_int32_overflow_guards_raise_instead_of_wrapping():
    """cellcodec's gather helpers must refuse totals past int32 rather
    than silently wrapping into corrupt Arrow arrays."""
    import numpy as np
    import pytest

    from cassandra_sstable_to_protocolbuf_spark.sources.cellcodec import (
        _arrow_offsets, _ragged_idx)

    with pytest.raises(ValueError, match="int32"):
        _arrow_offsets(np.array([1 << 31], dtype=np.int64))
    with pytest.raises(ValueError, match="int32"):
        _ragged_idx(np.array([0], dtype=np.int64),
                    np.array([(1 << 31) + 8], dtype=np.int64))
    # a huge OFFSET with a small length wraps the source index the same
    # way: guarded too
    with pytest.raises(ValueError, match="int32"):
        _ragged_idx(np.array([1 << 31], dtype=np.int64),
                    np.array([8], dtype=np.int64))


@settings(max_examples=100, deadline=None)
@given(st.lists(row, max_size=12))
def test_block_encoder_byte_identical(rows):
    """encode_rows_block_bufs == per-row frame_row(encode_row(...)) for
    any shape hypothesis can draw: empty keys, empty names/values, zero
    and negative writeTimes, zero-column rows, varint-size boundaries."""
    import numpy as np

    def bufs(parts):
        # Arrow Binary shape: one concatenated buffer + per-entry lengths
        return (np.frombuffer(b"".join(parts), dtype=np.uint8),
                np.array([len(p) for p in parts], dtype=np.int64))

    ref = b"".join(pw.frame_row(pw.encode_row(k, cs)) for k, cs in rows)
    key_data, klen = bufs([k for k, _ in rows])
    counts = np.array([len(cs) for _, cs in rows], dtype=np.int64)
    name_data, nlen = bufs([n for _, cs in rows for (n, _v, _t) in cs])
    value_data, vlen = bufs([(v if v is not None else b"")
                             for _, cs in rows for (_n, v, _t) in cs])
    wts = np.array([t for _, cs in rows for (_n, _v, t) in cs],
                   dtype=np.int64)
    assert pw.encode_rows_block_bufs(key_data, klen, counts, name_data,
                                     nlen, value_data, vlen, wts) == ref
