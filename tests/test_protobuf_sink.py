"""K1/K2 sink + source: wire-format golden bytes, varint edges, and a
distributed write -> Python DataSource read round-trip."""

from __future__ import annotations

import io

import pytest

from cassandra_sstable_to_protocolbuf_spark import protowire as pw
from tests.sstable_oracle import iter_delimited
from tests.test_cellcodec import _mixed_fixture, _write_ic_fixture


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
    bodies = list(iter_delimited(io.BytesIO(frames)))
    assert len(bodies) == 5
    assert [pw.decode_row(b)[0] for b in bodies] == [bytes([i]) for i in range(5)]


def test_iter_delimited_truncated():
    framed = pw.frame_row(b"x" * 100)
    with pytest.raises(ValueError):
        list(iter_delimited(io.BytesIO(framed[:50])))


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
    """write_cells_pb writes rows in key-byte order: its inputs carry no
    scan order to keep."""
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


# --------------------------------------------------------------------------
# write_native_pb: SSTables on disk -> .proto.zst in scan (token) order
# --------------------------------------------------------------------------

def _all_dead_cells_fixture(d):
    """A live partition whose cells are all dead (DELETED, EXPIRING, a
    range tombstone) beside a plain live one and a deleted one."""
    from cassandra_sstable_to_protocolbuf_spark.sources import (
        sstable_native as N)

    return N.write_sstable(d, 1, [
        {"key": b"k-alldead", "cells": [
            {"name": b"a", "kind": "DELETED", "timestamp": 3},
            {"name": b"b", "kind": "EXPIRING", "timestamp": 4,
             "value": b"x", "ttl": 60, "local_expiration": 9}],
         "range_tombstones": [(b"c", b"d", 5, 6)]},
        {"key": b"k-live", "cells": [
            {"name": b"a", "kind": "LIVE", "timestamp": 1, "value": b""},
            {"name": b"b", "kind": "LIVE", "timestamp": 0, "value": b"v"}]},
        {"key": b"k-gone", "deletion": (1, 2), "cells": [
            {"name": b"a", "kind": "LIVE", "timestamp": 1, "value": b"z"}]},
    ])


def _all_deleted_fixture(d):
    from cassandra_sstable_to_protocolbuf_spark.sources import (
        sstable_native as N)

    return N.write_sstable(d, 1, [
        {"key": b"k%02d" % i, "deletion": (10, 20 + i), "cells": [
            {"name": b"a", "kind": "LIVE", "timestamp": 1, "value": b"v"}]}
        for i in range(12)])


SCAN_FIXTURES = {
    "mixed_kinds": lambda d: _mixed_fixture(d)[0],
    "all_dead_cells": _all_dead_cells_fixture,
    "ic": _write_ic_fixture,
    "all_deleted": _all_deleted_fixture,
}


def _oracle_stream(data_path):
    """The reference's loop over the per-cell oracle scan: partitions in
    file (token) order, deleted ones dropped, each live one a Row of its
    LIVE cells in on-disk order -- an empty Row when none is LIVE."""
    from cassandra_sstable_to_protocolbuf_spark.sources import (
        sstable_native as N)
    from tests.sstable_oracle import scan_partitions_eager

    size = N.SSTableNativeReader._logical_size(data_path)
    return b"".join(
        pw.frame_row(pw.encode_row(part["key"], [
            (c["name"], c["value"], c["timestamp"])
            for c in part["cells"] if c["kind"] == "LIVE"]))
        for part in scan_partitions_eager(data_path, 0, size)
        if part["deletion_live"])


def _stream_rows(stream):
    return [pw.decode_row(b) for b in iter_delimited(io.BytesIO(stream))]


def _row_multiset(rows):
    from collections import Counter

    return Counter((k, tuple(cols)) for k, cols in rows)


@pytest.mark.parametrize("fixture", sorted(SCAN_FIXTURES))
def test_native_writer_scan_order_golden(spark, tmp_path, fixture):
    """write_native_pb on one input file: the decompressed stream equals
    frame_row(encode_row(...)) over the oracle scan in token order, the
    metrics agree with it, and the rows equal, as a multiset with each
    Row's cells in order, what the sorted path
    write_cells_pb(read_native_cells(...)) writes."""
    import os

    from cassandra_sstable_to_protocolbuf_spark.sources.sstable_native import (
        DATA_SUFFIX, read_native_cells)
    from cassandra_sstable_to_protocolbuf_spark.sources.sstable_pb import (
        write_cells_pb, write_native_pb)

    src = str(tmp_path / "in")
    os.makedirs(src)
    data_path = SCAN_FIXTURES[fixture](src)
    sid = os.path.basename(data_path)[:-len(DATA_SUFFIX)]
    name = f"{sid}-Data.db.proto.zst"

    out = str(tmp_path / "native")
    metrics, errors = write_native_pb(spark, src, out)
    assert errors == {}
    assert os.listdir(out) == [name]
    got = _decompressed(os.path.join(out, name))
    expected = _oracle_stream(data_path)
    assert got == expected
    rows = _stream_rows(got)
    (m,) = metrics
    assert (m["sstable_id"], m["path"]) == (sid, os.path.join(out, name))
    assert m["n_rows"] == len(rows)
    assert m["n_cells"] == sum(len(cols) for _, cols in rows)
    assert m["raw_bytes"] == len(got)
    assert m["compressed_bytes"] == os.path.getsize(m["path"])
    if fixture == "all_deleted":
        assert rows == []
    else:
        assert rows and any(cols == [] for _, cols in rows)  # empty-Row quirk

    sorted_out = str(tmp_path / "sorted")
    write_cells_pb(read_native_cells(spark, src, live_only=True),
                   sorted_out).collect()
    sorted_path = os.path.join(sorted_out, name)
    sorted_rows = (_stream_rows(_decompressed(sorted_path))
                   if os.path.exists(sorted_path) else [])
    assert _row_multiset(rows) == _row_multiset(sorted_rows)


def _multi_split_fixture(d, generation=1, compression=None):
    from cassandra_sstable_to_protocolbuf_spark.sources import (
        sstable_native as N)

    return N.write_sstable(d, generation, [
        {"key": b"key-%05d" % i,
         "deletion": (1, 2) if i % 11 == 0 else None,
         "cells": [{"name": b"c%02d" % c,
                    "kind": "DELETED" if (i + c) % 5 == 0 else "LIVE",
                    "timestamp": i * 10 + c, "value": b"v%05d-%d" % (i, c)}
                   for c in range(i % 6)]}
        for i in range(3000)], compression=compression, chunk_length=4096)


def test_native_writer_concatenates_split_parts(spark, tmp_path,
                                                monkeypatch):
    """One file planned into >= 3 splits: each split's task writes a
    part, and the commit concatenates them in split index order (even
    when the task records reach it in another order) into one file whose
    decompressed stream equals the one-split stream byte for byte; both
    read_rows_pb and a plain zstd input stream read the concatenated
    frames; rows and cells are summed across parts; nothing but the
    .proto.zst is left in the output directory."""
    import os

    import pyarrow as pa

    from cassandra_sstable_to_protocolbuf_spark.sources import sstable_pb
    from cassandra_sstable_to_protocolbuf_spark.sources.sstable_native import (
        SSTableNativeReader)

    src = str(tmp_path / "in")
    _multi_split_fixture(src)
    name = "ks-cf-ka-1-Data.db.proto.zst"
    one = str(tmp_path / "one")
    (m1,), _ = sstable_pb.write_native_pb(spark, src, one)
    assert len(SSTableNativeReader(
        src, None, live_only=True,
        scan_parallelism=spark.sparkContext.defaultParallelism
    ).partitions()) == 1

    monkeypatch.setattr(SSTableNativeReader, "SPLIT_TARGET_MIN_BYTES", 1)
    monkeypatch.setattr(SSTableNativeReader, "SPLIT_TARGET_MAX_BYTES",
                        32 << 10)
    n_splits = len(SSTableNativeReader(
        src, None, live_only=True,
        scan_parallelism=spark.sparkContext.defaultParallelism
    ).partitions())
    assert n_splits >= 3
    commit = sstable_pb._commit_parts
    monkeypatch.setattr(sstable_pb, "_commit_parts",
                        lambda recs, ids, out: commit(recs[::-1], ids, out))
    many = str(tmp_path / "many")
    (m3,), errors = sstable_pb.write_native_pb(spark, src, many)
    assert errors == {}

    assert os.listdir(many) == [name]
    path = os.path.join(many, name)
    stream = _decompressed(path)
    assert stream == _decompressed(os.path.join(one, name))
    assert os.path.getsize(path) != os.path.getsize(os.path.join(one, name))
    with pa.input_stream(path, compression="zstd") as zin:
        assert zin.read() == stream
    rows = _stream_rows(stream)
    got = sstable_pb.read_rows_pb(spark, many).collect()
    assert [(bytes(r.key), [(bytes(c.name), bytes(c.value), c.writeTime)
                            for c in r.columns]) for r in got] == rows
    for f in ("n_rows", "n_cells", "raw_bytes"):
        assert m3[f] == m1[f]
    assert m3["n_rows"] == len(rows) > 2000
    assert m3["compressed_bytes"] == os.path.getsize(path)


def _corrupt_last_chunk(data_path):
    from cassandra_sstable_to_protocolbuf_spark.sources import (
        sstable_native as N)

    info = N.CompressionInfo.parse(
        data_path[:-len(N.DATA_SUFFIX)] + N.COMPRESSION_SUFFIX)
    raw = bytearray(open(data_path, "rb").read())
    raw[info.offsets[-1] + 1] ^= 0xFF
    open(data_path, "wb").write(bytes(raw))


def _good_and_bad_inputs(src):
    """ks-cf-ka-1: one live row. ks-cf-ka-2: multi-split-sized, LZ4, its
    last chunk corrupt -- with small split targets, its earlier splits
    read cleanly and only the last one fails."""
    import os

    from cassandra_sstable_to_protocolbuf_spark.sources import (
        sstable_native as N)

    N.write_sstable(src, 1, [{"key": b"k1", "cells": [
        {"name": b"a", "kind": "LIVE", "timestamp": 1, "value": b"v"}]}])
    _corrupt_last_chunk(_multi_split_fixture(
        os.path.join(src, "nested"), generation=2, compression="lz4"))


def test_native_writer_failfast_leaves_no_parts(spark, tmp_path):
    """FAILFAST over one good file and one with a corrupt LZ4 chunk: the
    call raises, and the output directory holds no `_parts`, no temp
    file and no output for the bad input."""
    import os

    from cassandra_sstable_to_protocolbuf_spark.sources.sstable_pb import (
        write_native_pb)

    src = str(tmp_path / "in")
    _good_and_bad_inputs(src)
    out = str(tmp_path / "out")
    with pytest.raises(Exception, match="checksum mismatch"):
        write_native_pb(spark, src, out)
    left = os.listdir(out)
    assert "_parts" not in left
    assert not [f for f in left if ".tmp-" in f]
    assert "ks-cf-ka-2-Data.db.proto.zst" not in left


def test_native_writer_permissive_drops_failed_file(spark, tmp_path,
                                                   monkeypatch):
    """permissive=True in one job: the corrupt file's clean splits still
    write parts, but its error record makes the commit drop them -- no
    output, one error naming the chunk -- while the good file converts
    and nothing else is left behind."""
    import os

    from cassandra_sstable_to_protocolbuf_spark.sources import sstable_pb
    from cassandra_sstable_to_protocolbuf_spark.sources.sstable_native import (
        SSTableNativeReader)

    src = str(tmp_path / "in")
    _good_and_bad_inputs(src)
    monkeypatch.setattr(SSTableNativeReader, "SPLIT_TARGET_MIN_BYTES", 1)
    monkeypatch.setattr(SSTableNativeReader, "SPLIT_TARGET_MAX_BYTES",
                        32 << 10)
    seen = []
    commit = sstable_pb._commit_parts

    def spy(records, ids, out_dir):
        seen.extend(records)
        return commit(records, ids, out_dir)

    monkeypatch.setattr(sstable_pb, "_commit_parts", spy)
    out = str(tmp_path / "out")
    metrics, errors = sstable_pb.write_native_pb(spark, src, out,
                                                 permissive=True)
    bad = [r for r in seen if r["sstable_id"] == "ks-cf-ka-2"]
    assert [r for r in bad if "error" in r] and [
        r for r in bad if "error" not in r]  # parts written, then dropped
    assert list(errors) == ["ks-cf-ka-2"]
    assert "checksum mismatch" in errors["ks-cf-ka-2"]
    assert [(m["sstable_id"], m["n_rows"]) for m in metrics] == [
        ("ks-cf-ka-1", 1)]
    assert os.listdir(out) == ["ks-cf-ka-1-Data.db.proto.zst"]


def test_native_writer_refuses_shared_basenames(spark, tmp_path):
    """Outputs are named by basename: two nested inputs sharing one are
    refused at plan time, before any task writes."""
    import os

    from cassandra_sstable_to_protocolbuf_spark.sources import (
        sstable_native as N)
    from cassandra_sstable_to_protocolbuf_spark.sources.sstable_pb import (
        write_native_pb)

    src = str(tmp_path / "in")
    part = [{"key": b"k", "cells": [
        {"name": b"a", "kind": "LIVE", "timestamp": 1, "value": b"v"}]}]
    for sub in ("ks1", "ks2"):
        N.write_sstable(os.path.join(src, sub), 1, part)
    out = str(tmp_path / "out")
    with pytest.raises(ValueError, match="duplicate sstable basename"):
        write_native_pb(spark, src, out)
    assert not os.path.exists(out)
