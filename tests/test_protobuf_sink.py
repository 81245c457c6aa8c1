"""K1/K2 sink + source: wire-format golden bytes, varint edges, and a
distributed write -> Python DataSource read round-trip."""

from __future__ import annotations

import io

import pytest

from cassandra_sstable_to_protocolbuf_spark import protowire as pw


def test_varint_roundtrip():
    for n in (0, 1, 127, 128, 300, 2 ** 21 - 1, 2 ** 35, 2 ** 63 - 1):
        buf = pw.encode_varint(n)
        val, pos = pw.decode_varint(buf, 0)
        assert val == n and pos == len(buf)


def test_varint_rejects_negative():
    with pytest.raises(ValueError):
        pw.encode_varint(-1)


def test_golden_row_bytes():
    """Hand-computed wire bytes for Row(key=b'k', [Column(b'n', b'v', 1)])
    per the public protobuf wire spec -- pins the encoding the reference's
    sstable.proto produces."""
    col = pw.encode_column(b"n", b"v", 1)
    assert col == bytes.fromhex("0a016e120176190100000000000000")
    row = pw.encode_row(b"k", [(b"n", b"v", 1)])
    assert row == bytes.fromhex("0a016b120f") + col
    framed = pw.frame_row(row)
    assert framed[0] == len(row)  # single-byte varint length prefix


def test_proto3_default_fields_omitted():
    """Proto3 serializers skip default-valued fields: an all-default
    Column encodes to ZERO bytes (framed as tag + len 0 inside Row),
    and an empty Row key is omitted -- byte parity with the
    reference's writeDelimitedTo output."""
    assert pw.encode_column(b"", b"", 0) == b""
    assert pw.encode_column(b"", None, 0) == b""
    body = pw.encode_row(b"", [(b"", b"", 0)])
    assert body == bytes.fromhex("1200")  # columns tag + zero length
    assert pw.decode_row(body) == (b"", [(b"", b"", 0)])


def test_negative_writetime_roundtrip():
    """Java fixed64-as-long: negative timestamps round-trip via two's
    complement instead of decoding as >= 2^63."""
    col = pw.encode_column(b"n", b"v", -42)
    assert pw.decode_column(col) == (b"n", b"v", -42)
    assert pw.decode_column(pw.encode_column(b"n", b"v", -(2 ** 63)))[2] == -(2 ** 63)


def test_row_codec_roundtrip():
    cols = [(b"", b"", 0), (b"name", None, 2 ** 62), (b"\x00\xff", b"x" * 300, 123)]
    body = pw.encode_row(b"\x01\x02", cols)
    key, decoded = pw.decode_row(body)
    assert key == b"\x01\x02"
    assert decoded == [(b"", b"", 0), (b"name", b"", 2 ** 62), (b"\x00\xff", b"x" * 300, 123)]


def test_iter_delimited_stream():
    frames = b"".join(pw.frame_row(pw.encode_row(bytes([i]), [])) for i in range(5))
    bodies = list(pw.iter_delimited(io.BytesIO(frames)))
    assert len(bodies) == 5
    assert [pw.decode_row(b)[0] for b in bodies] == [bytes([i]) for i in range(5)]


def test_iter_delimited_truncated():
    framed = pw.frame_row(b"x" * 100)
    with pytest.raises(ValueError):
        list(pw.iter_delimited(io.BytesIO(framed[:50])))


def _cell_order(col):
    # the sink's within-row order: (name, value, writeTime), NULLs first
    name, value, wt = col
    return name, value is not None, value or b"", wt


def _live_rows(cells):
    """The live rule over collected flat cells, in plain Python:
    {sstable_id: [(key, [(name, value, writeTime), ...]), ...]}. A dead
    partition drops; a live key whose cells are all dead keeps an empty
    Row; rows in key order, cells in _cell_order."""
    by_sid: dict = {}
    for c in cells:
        if not c.partition_deletion_live:
            continue
        row = by_sid.setdefault(c.sstable_id, {}).setdefault(bytes(c.key), [])
        if c.cell_kind == "LIVE":
            row.append((bytes(c.name),
                        None if c.value is None else bytes(c.value),
                        c.writeTime))
    return {sid: [(k, sorted(rows[k], key=_cell_order)) for k in sorted(rows)]
            for sid, rows in by_sid.items()}


def _decompressed(path):
    import pyarrow as pa

    with pa.input_stream(path, compression=None) as raw, \
            pa.CompressedInputStream(raw, "zstd") as zin:
        return zin.read()


def _assert_golden(cells, out_dir, metrics):
    """Every output file decompresses to exactly the per-row oracle's
    frames, b"".join(frame_row(encode_row(key, cols))), over the live
    rows; the metrics row counts, cell counts and byte sizes agree."""
    import os

    expected = _live_rows(cells.collect())
    assert sorted(os.listdir(out_dir)) == sorted(
        f"{sid}-Data.db.proto.zst" for sid in expected)
    by_sid = {m.sstable_id: m for m in metrics}
    assert sorted(by_sid) == sorted(expected)
    for sid, rows in expected.items():
        m = by_sid[sid]
        got = _decompressed(m.path)
        assert got == b"".join(pw.frame_row(pw.encode_row(k, cols))
                               for k, cols in rows), f"stream differs: {sid}"
        assert m.n_rows == len(rows)
        assert m.n_cells == sum(len(cols) for _, cols in rows)
        assert m.raw_bytes == len(got)
        assert m.compressed_bytes == os.path.getsize(m.path)


def test_write_read_roundtrip(spark, tmp_path):
    """Full pipeline: cells -> live filter -> pb+zstd files ->
    DataSource read-back == the live rows that were written."""
    from cassandra_sstable_to_protocolbuf_spark.sources.cells import (
        encode_lineitem_cells, to_binary_cells)
    from cassandra_sstable_to_protocolbuf_spark.sources.sstable_pb import (
        read_rows_pb, write_cells_pb)
    from tests.conftest import SF_SMOKE

    cells = to_binary_cells(encode_lineitem_cells(spark, SF_SMOKE))
    out = str(tmp_path / "pb_out")
    metrics = write_cells_pb(cells, out).collect()
    assert len(metrics) == 5  # sst-0..3 + sst-r
    assert all(m.n_rows > 0 and m.compressed_bytes > 0 for m in metrics)

    # files are real zstd streams (magic 28 B5 2F FD)
    with open(metrics[0].path, "rb") as f:
        assert f.read(4) == bytes.fromhex("28b52ffd")

    # the reader decodes NULL values as the b"" the wire carries
    a = sorted((sid, k, [(n, v or b"", t) for n, v, t in cols])
               for sid, rows in _live_rows(cells.collect()).items()
               for k, cols in rows)
    b = sorted((r.sstable_id, bytes(r.key),
                [(bytes(c.name), bytes(c.value), c.writeTime)
                 for c in r.columns])
               for r in read_rows_pb(spark, out).collect())
    assert len(a) == len(b)
    assert a == b


def test_flat_writer_golden_equality(spark, tmp_path):
    """write_cells_pb (one-exchange fold-adjacent-runs writer) on the
    real cells fixture: every file's decompressed stream equals the
    per-row oracle, and the metrics match it."""
    from cassandra_sstable_to_protocolbuf_spark.sources.cells import (
        encode_lineitem_cells, to_binary_cells)
    from cassandra_sstable_to_protocolbuf_spark.sources.sstable_pb import (
        write_cells_pb)
    from tests.conftest import SF_SMOKE

    cells = to_binary_cells(encode_lineitem_cells(spark, SF_SMOKE))
    out = str(tmp_path / "pb_out")
    _assert_golden(cells, out, write_cells_pb(cells, out).collect())


def test_flat_writer_runs_span_arrow_batches(spark, tmp_path):
    """Edge coverage the fixture can't force: a (sstable_id, key) run much
    longer than one Arrow batch (pending-row accumulation across
    batches), an all-dead-cells key (must still emit its Row, empty), a
    dead PARTITION (must vanish), NULL values and writeTime 0 -- all at a
    tiny forced batch size, against the per-row oracle."""
    from cassandra_sstable_to_protocolbuf_spark.sources.sstable_pb import (
        write_cells_pb)

    rows = []
    # wide run: 100 cells for one key (batch size forced to 7 below)
    for i in range(100):
        rows.append(("wide", b"k-wide", b"c%04d" % i,
                     None if i % 5 == 0 else b"v%d" % i,
                     0 if i % 7 == 0 else i, "LIVE", False, True))
    # interleaved dead cells + an all-dead key + a dead partition
    for i in range(10):
        rows.append(("wide", b"k-mixed", b"d%02d" % i, b"x",
                     100 + i, "LIVE" if i % 2 else "DELETED", False, True))
    for i in range(4):
        rows.append(("wide", b"k-alldead", b"e%02d" % i, b"y",
                     7, "EXPIRING", True, True))
    for i in range(4):
        rows.append(("wide", b"k-gone", b"f%02d" % i, b"z",
                     8, "LIVE", False, False))
    # second sstable in the same stream (file roll mid-task possible)
    rows.append(("tiny", b"a", b"n", b"v", 1, "LIVE", False, True))
    cells = spark.createDataFrame(
        rows, "sstable_id string, key binary, name binary, value binary, "
              "writeTime long, cell_kind string, ttl_expired boolean, "
              "partition_deletion_live boolean")

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        out = str(tmp_path / "pb_out")
        metrics = write_cells_pb(cells, out).collect()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)

    _assert_golden(cells, out, metrics)
    m = {r.sstable_id: r for r in metrics}
    # the all-dead key still occupies a Row; the dead partition does not
    assert m["wide"].n_rows == 3
    assert m["wide"].n_cells == 100 + 5
    assert m["tiny"].n_rows == 1


def test_flat_writer_wide_row_cap(spark, tmp_path):
    """A run wider than max_cells fails loudly with the offending key,
    not by exhausting executor memory."""
    import pyarrow as pa

    from cassandra_sstable_to_protocolbuf_spark.sources.sstable_pb import (
        _pb_flat_stream_writer)

    schema = pa.schema([("sstable_id", pa.string()), ("key", pa.binary()),
                        ("live", pa.bool_()), ("name", pa.binary()),
                        ("value", pa.binary()), ("writeTime", pa.int64())])

    def batches():
        for lo in range(0, 40, 10):
            yield pa.RecordBatch.from_pylist(
                [{"sstable_id": "s", "key": b"k", "live": True,
                  "name": b"c%02d" % i, "value": b"v", "writeTime": 1}
                 for i in range(lo, lo + 10)], schema=schema)

    write = _pb_flat_stream_writer(str(tmp_path), max_cells=25)
    with pytest.raises(ValueError, match="over the nested-Row cap"):
        list(write(batches()))


def test_read_keys_sorted_within_file(spark, tmp_path):
    """Sink writes rows in key-byte order (token-order analog)."""
    from cassandra_sstable_to_protocolbuf_spark.sources.cells import (
        encode_lineitem_cells, to_binary_cells)
    from cassandra_sstable_to_protocolbuf_spark.sources.sstable_pb import (
        SSTablePbReader, write_cells_pb)
    from tests.conftest import SF_SMOKE

    cells = to_binary_cells(encode_lineitem_cells(spark, SF_SMOKE))
    out = str(tmp_path / "pb_sorted")
    write_cells_pb(cells, out).collect()
    reader = SSTablePbReader(out)
    part = reader.partitions()[0]
    keys = [k for batch in reader.read(part)
            for k in batch.column("key").to_pylist()]
    assert keys == sorted(keys)
    assert len(keys) > 100
