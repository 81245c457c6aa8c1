"""Writer-path memory pins: both binary sinks must stream with O(batch)
memory, never O(file) (round-4 verdict: the applyInPandas shapes held a
whole sstable per task -- the one scale-killer class found that round).

These call the stream-writer functions DIRECTLY with a lazy generator of
small batches simulating one very large sstable, and tracemalloc-pin
peak Python allocation to a few MB while the encoded output is tens of
MB -- the writer mirror of the reader pin in tests/test_sstable_native.py
(test_wide_partition_streams_per_cell).
"""

from __future__ import annotations

import os
import tracemalloc

import pandas as pd
import pyarrow as pa
import pytest

from cassandra_sstable_to_protocolbuf_spark import protowire
from cassandra_sstable_to_protocolbuf_spark.sources import sstable_native as N
from cassandra_sstable_to_protocolbuf_spark.sources import sstable_pb as PB
from tests.sstable_oracle import (
    iter_delimited, scan_partitions, scan_partitions_eager)

PIN_BYTES = 8 * 1024 * 1024  # generous vs the ~40 MB streamed through


_FLAT_CELLS = pa.schema([
    ("sstable_id", pa.string()), ("key", pa.binary()), ("live", pa.bool_()),
    ("name", pa.binary()), ("value", pa.binary()), ("writeTime", pa.int64())])


def _flat_batch(cells):
    return pa.RecordBatch.from_pylist(cells, schema=_FLAT_CELLS)


def _pb_metrics(write, batches):
    return pa.Table.from_batches(list(write(batches))).to_pylist()


def _pb_rows(path):
    with pa.input_stream(path, compression="zstd") as f:
        return [protowire.decode_row(body)
                for body in iter_delimited(f)]


def test_pb_sink_streams_per_batch(tmp_path):
    """One 40 MB sstable through the protobuf+zstd sink
    (_pb_flat_stream_writer, the write_cells_pb hot path): peak Python
    allocation stays O(one batch) -- an absolute cap, and doubling the
    input must not grow the peak -- and the streamed file decodes back
    to every frame (the pin must not pass by writing garbage)."""
    rows_per_batch, val = 200, b"v" * 2000

    def batches(n_batches):
        for b in range(n_batches):
            yield _flat_batch([
                {"sstable_id": "big", "key": b"k%010d" % row_no,
                 "live": True, "name": b"c1", "value": val,
                 "writeTime": row_no}
                for row_no in range(b * rows_per_batch,
                                    (b + 1) * rows_per_batch)])

    def writer(sub):
        (tmp_path / sub).mkdir()
        return PB._pb_flat_stream_writer(str(tmp_path / sub))

    # warm: the first call's imports alone would dwarf the pin
    _pb_metrics(writer("warm"), batches(1))

    def run(n_batches, sub):
        write = writer(sub)
        tracemalloc.start()
        metrics = _pb_metrics(write, batches(n_batches))
        _, peak = tracemalloc.get_traced_memory()
        tracemalloc.stop()
        return metrics, peak

    metrics, peak_40 = run(100, "a")     # ~40 MB
    _, peak_80 = run(200, "b")           # ~80 MB: peak must NOT follow

    assert peak_40 < PIN_BYTES, f"peak {peak_40} bytes: file buffered in task?"
    assert peak_80 < peak_40 + PIN_BYTES // 4, \
        f"peak grew with file size ({peak_40} -> {peak_80}): " \
        f"sstable buffered in task?"
    (m,) = metrics
    assert m["n_rows"] == 100 * rows_per_batch
    assert m["raw_bytes"] > 40_000_000

    # decode back: frame count matches, keys arrive in written order
    n = 0
    with pa.input_stream(m["path"], compression="zstd") as f:
        for body in iter_delimited(f):
            key, cols = protowire.decode_row(body)
            assert key == b"k%010d" % n
            assert len(cols) == 1
            n += 1
    assert n == 100 * rows_per_batch


def test_pb_sink_rolls_files_on_sstable_change(tmp_path):
    """Several sstables inside one sorted stream -> one file + one
    metrics row each, regardless of batch boundaries; an all-dead key
    still writes its (empty) Row and a NULL value writes as omitted."""
    def cell(sid, key, live, name=None, value=None, wt=0):
        return {"sstable_id": sid, "key": key, "live": live, "name": name,
                "value": value, "writeTime": wt}

    def batches():
        # sst-a spans two batches; sst-b and sst-c share one batch
        yield _flat_batch([cell("sst-a", b"a1", True, b"n", b"x", 1)])
        yield _flat_batch([
            cell("sst-a", b"a2", False),          # all-dead key
            cell("sst-b", b"b1", True, b"n", None, 2),
            cell("sst-c", b"c1", True, b"n", b"y", 3),
        ])

    out = _pb_metrics(PB._pb_flat_stream_writer(str(tmp_path)), batches())
    assert [m["sstable_id"] for m in out] == ["sst-a", "sst-b", "sst-c"]
    assert [m["n_rows"] for m in out] == [2, 1, 1]
    assert sorted(os.listdir(tmp_path)) == [
        "sst-a-Data.db.proto.zst", "sst-b-Data.db.proto.zst",
        "sst-c-Data.db.proto.zst"]
    assert _pb_rows(out[0]["path"]) == [(b"a1", [(b"n", b"x", 1)]),
                                        (b"a2", [])]
    assert _pb_rows(out[1]["path"]) == [(b"b1", [(b"n", b"", 2)])]


def _cell_batches(n_batches, cells_per_batch, val, sstable_id="big",
                  wide_key=b"wide"):
    """Lazy cell batches: one sstable, ONE wide partition (the 50 GB
    wide-sstable scenario from the round-4 verdict), comparator order."""
    cell_no = 0
    for _ in range(n_batches):
        rows = []
        for _ in range(cells_per_batch):
            rows.append({
                "sstable_id": sstable_id,
                "key": wide_key,
                "name": b"c%010d" % cell_no,
                "value": val,
                "writeTime": cell_no,
                "cell_kind": "LIVE",
                "ttl_expired": False,
                "partition_deletion_live": True,
            })
            cell_no += 1
        yield pd.DataFrame(rows)


@pytest.mark.parametrize("compression", [None, "lz4"])
def test_native_sink_streams_per_batch(tmp_path, compression):
    """Single-partition sstables through the native binary writer: peak
    Python allocation stays O(one batch), proven two ways -- an
    absolute cap (the vectorized encoder's bounded scatter transient,
    a few MB regardless of input), and DIRECTLY: doubling the input
    size must not grow the peak (the old shape dict-materialized every
    partition, where peak tracked file size 1:1). The streamed
    components read back cell-for-cell through the lazy scanner."""
    cells_per_batch, val = 1000, b"x" * 400

    def run(n_batches, sub):
        write = N._cells_stream_writer(str(tmp_path / sub), compression)
        tracemalloc.start()
        metrics = pd.concat(
            list(write(_cell_batches(n_batches, cells_per_batch, val))),
            ignore_index=True)
        _, peak = tracemalloc.get_traced_memory()
        tracemalloc.stop()
        return metrics, peak

    metrics, peak_40 = run(100, "a")     # ~40 MB
    _, peak_80 = run(200, "b")           # ~80 MB: peak must NOT follow

    assert peak_40 < 2 * PIN_BYTES, \
        f"peak {peak_40} bytes: encoder transient regressed?"
    assert peak_80 < peak_40 + PIN_BYTES // 4, \
        f"peak grew with file size ({peak_40} -> {peak_80}): " \
        f"sstable buffered in task?"
    assert len(metrics) == 1
    assert metrics["n_partitions"].iloc[0] == 1
    assert metrics["n_cells"].iloc[0] == 100 * cells_per_batch

    data = metrics["path"].iloc[0]
    f, logical_size = N.open_data_file(data)
    f.close()
    seen = 0
    for part in scan_partitions(data, 0, logical_size):
        assert part["key"] == b"wide"
        for cell in part["cells"]:
            assert cell["name"] == b"c%010d" % seen
            seen += 1
    assert seen == 100 * cells_per_batch


def test_native_sink_rolls_sstables_and_partitions(tmp_path):
    """sstable_id and key changes roll files/partitions correctly across
    batch boundaries; deleted partitions and cell kinds survive."""
    def batches():
        yield pd.DataFrame([
            dict(sstable_id="s1", key=b"a", name=b"n1", value=b"v1",
                 writeTime=1, cell_kind="LIVE", ttl_expired=False,
                 partition_deletion_live=True),
            dict(sstable_id="s1", key=b"a", name=b"n2", value=b"v2",
                 writeTime=2, cell_kind="EXPIRING", ttl_expired=True,
                 partition_deletion_live=True),
        ])
        yield pd.DataFrame([
            dict(sstable_id="s1", key=b"b", name=b"n1", value=None,
                 writeTime=3, cell_kind="DELETED", ttl_expired=False,
                 partition_deletion_live=False),
            dict(sstable_id="s2", key=b"a", name=b"n1", value=b"v3",
                 writeTime=4, cell_kind="LIVE", ttl_expired=False,
                 partition_deletion_live=True),
        ])

    # feed keys in decorated (md5) order per sstable, as the Spark sort
    # would: for s1, md5(b"a") < md5(b"b") must hold for this fixture
    tok = N.token_function(N.DEFAULT_PARTITIONER)
    assert tok(b"a") < tok(b"b")

    out = pd.concat(
        list(N._cells_stream_writer(str(tmp_path), "lz4")(batches())),
        ignore_index=True).set_index("sstable_id")
    assert out.loc["s1", "n_partitions"] == 2
    assert out.loc["s1", "n_cells"] == 3
    assert out.loc["s2", "n_partitions"] == 1

    s1_path = out.loc["s1", "path"]
    f, logical_size = N.open_data_file(s1_path)
    f.close()
    parts = {p["key"]: p
             for p in scan_partitions_eager(s1_path, 0, logical_size)}
    assert parts[b"a"]["deletion_live"] and not parts[b"b"]["deletion_live"]
    kinds = [c["kind"] for c in parts[b"a"]["cells"]]
    assert kinds == ["LIVE", "EXPIRING"]


def test_stream_writer_rejects_out_of_order_keys(tmp_path):
    """A mis-sorted upstream must fail loudly, not write an sstable whose
    index binary-search silently misses keys."""
    tok = N.token_function(N.DEFAULT_PARTITIONER)
    lo, hi = sorted([b"k1", b"k2"], key=lambda k: (tok(k), k))
    w = N.SSTableStreamWriter(str(tmp_path), 1)
    w.start_partition(hi)
    w.end_partition()
    with pytest.raises(ValueError, match="decorated order"):
        w.start_partition(lo)
    w.abort()
    assert os.listdir(tmp_path) == []  # abort removed temp components


def test_stream_writer_abort_leaves_no_temp_files(tmp_path):
    w = N.SSTableStreamWriter(str(tmp_path), 1, compression="lz4")
    w.start_partition(b"k")
    w.add_cell(b"c", "LIVE", 1, b"v")
    w.abort()
    assert os.listdir(tmp_path) == []


def test_native_sink_rejects_inconsistent_partition_flag(tmp_path):
    """partition_deletion_live flipping mid-partition is a data-integrity
    error: the partition header already streamed, so the writer must
    fail loudly rather than write a file that contradicts half its
    input rows."""
    def batches():
        yield pd.DataFrame([
            dict(sstable_id="s1", key=b"a", name=b"n1", value=b"v",
                 writeTime=1, cell_kind="LIVE", ttl_expired=False,
                 partition_deletion_live=True),
            dict(sstable_id="s1", key=b"a", name=b"n2", value=b"v",
                 writeTime=2, cell_kind="LIVE", ttl_expired=False,
                 partition_deletion_live=False),
        ])

    with pytest.raises(ValueError, match="disagrees within"):
        list(N._cells_stream_writer(str(tmp_path), None)(batches()))
    assert os.listdir(tmp_path) == []  # abort cleaned the temp components
