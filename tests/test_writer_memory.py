"""Writer-path memory pins: both binary sinks must stream with O(batch)
memory, never O(file) (round-4 verdict: the applyInPandas shapes held a
whole sstable per task -- the one scale-killer class found that round).

These call the stream-writer functions DIRECTLY with a lazy generator of
small batches simulating one very large sstable, and pin peak allocation
to a few MB while the encoded output is tens of MB -- the writer mirror
of the reader pin in tests/test_sstable_native.py
(test_wide_partition_streams_per_cell). Two allocators are pinned:
tracemalloc sees Python objects and numpy buffers, and Arrow's memory
pool holds what Arrow kernels (concat, take, filter) allocate, which
tracemalloc cannot see.
"""

from __future__ import annotations

import json
import os
import random
import subprocess
import sys
import tracemalloc

import pyarrow as pa
import pytest

from cassandra_sstable_to_protocolbuf_spark.sources import sstable_native as N
from cassandra_sstable_to_protocolbuf_spark.sources import sstable_pb as PB
from tests.sstable_oracle import (
    PerCellWriter, decode_row, iter_delimited, scan_partitions,
    scan_partitions_eager, write_sstable)

PIN_BYTES = 8 * 1024 * 1024  # generous vs the ~40 MB streamed through


_FLAT_CELLS = pa.schema([
    ("sstable_id", pa.string()), ("key", pa.binary()), ("live", pa.bool_()),
    ("name", pa.binary()), ("value", pa.binary()), ("writeTime", pa.int64())])


def _flat_batch(cells):
    return pa.RecordBatch.from_pylist(cells, schema=_FLAT_CELLS)


_NATIVE_CELLS = pa.schema([
    ("sstable_id", pa.string()), ("key", pa.binary()),
    ("name", pa.binary()), ("value", pa.binary()),
    ("writeTime", pa.int64()), ("cell_kind", pa.string()),
    ("ttl_expired", pa.bool_()), ("partition_deletion_live", pa.bool_())])


def _native_batch(cells):
    return pa.RecordBatch.from_pylist(cells, schema=_NATIVE_CELLS)


def _metrics(write, batches):
    return pa.Table.from_batches(list(write(batches))).to_pylist()


def _pb_rows(path):
    with pa.input_stream(path, compression="zstd") as f:
        return [decode_row(body)
                for body in iter_delimited(f)]


_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _fresh_process_peaks(fn, *args) -> dict:
    """Run `fn(*args)`, a module-level function of this file returning a
    JSON-able dict with its tracemalloc `peak`, in a fresh interpreter
    and add `pool_peak`, the high-water mark of Arrow's default memory
    pool. That mark cannot be reset, so each measured run gets its own
    process; `fn` warms up first, and the warm-up is smaller than the
    run, so the mark is the run's own peak."""
    code = ("import json, sys\n"
            "import pyarrow as pa\n"
            f"from tests.test_writer_memory import {fn.__name__}\n"
            f"r = {fn.__name__}(*json.loads(sys.argv[1]))\n"
            "r['pool_peak'] = pa.default_memory_pool().max_memory()\n"
            "print(json.dumps(r))\n")
    proc = subprocess.run([sys.executable, "-c", code, json.dumps(args)],
                          cwd=_ROOT, capture_output=True, text=True)
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.splitlines()[-1])


_PB_ROWS_PER_BATCH, _PB_VAL = 200, b"v" * 2000


def _pb_batches(n_batches):
    for b in range(n_batches):
        yield _flat_batch([
            {"sstable_id": "big", "key": b"k%010d" % row_no,
             "live": True, "name": b"c1", "value": _PB_VAL,
             "writeTime": row_no}
            for row_no in range(b * _PB_ROWS_PER_BATCH,
                                (b + 1) * _PB_ROWS_PER_BATCH)])


def _pb_run(out_dir, n_batches):
    # warm: the first call's imports alone would dwarf the pin
    os.mkdir(out_dir + "-warm")
    _metrics(PB._pb_flat_stream_writer(out_dir + "-warm"),
                _pb_batches(1))
    os.mkdir(out_dir)
    write = PB._pb_flat_stream_writer(out_dir)
    tracemalloc.start()
    metrics = _metrics(write, _pb_batches(n_batches))
    _, peak = tracemalloc.get_traced_memory()
    tracemalloc.stop()
    (m,) = metrics
    return {"path": m["path"], "n_rows": m["n_rows"],
            "raw_bytes": m["raw_bytes"], "peak": peak}


def test_pb_sink_streams_per_batch(tmp_path):
    """One 40 MB sstable through the protobuf+zstd sink
    (_pb_flat_stream_writer, the write_cells_pb hot path): peak
    allocation stays O(one batch) in both tracemalloc and Arrow's pool
    -- an absolute cap, and doubling the input must not grow the peak
    -- and the streamed file decodes back to every frame (the pin must
    not pass by writing garbage)."""
    m = _fresh_process_peaks(_pb_run, str(tmp_path / "a"), 100)  # ~40 MB
    m80 = _fresh_process_peaks(_pb_run, str(tmp_path / "b"), 200)  # ~80 MB

    for kind in ("peak", "pool_peak"):
        p40, p80 = m[kind], m80[kind]
        assert p40 < PIN_BYTES, f"{kind} {p40} bytes: file buffered in task?"
        assert p80 < p40 + PIN_BYTES // 4, \
            f"{kind} grew with file size ({p40} -> {p80}): " \
            f"sstable buffered in task?"
    assert m["n_rows"] == 100 * _PB_ROWS_PER_BATCH
    assert m["raw_bytes"] > 40_000_000

    # decode back: frame count matches, keys arrive in written order
    n = 0
    with pa.input_stream(m["path"], compression="zstd") as f:
        for body in iter_delimited(f):
            key, cols = decode_row(body)
            assert key == b"k%010d" % n
            assert len(cols) == 1
            n += 1
    assert n == 100 * _PB_ROWS_PER_BATCH


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

    out = _metrics(PB._pb_flat_stream_writer(str(tmp_path)), batches())
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
        yield _native_batch(rows)


_NATIVE_CELLS_PER_BATCH, _NATIVE_VAL = 1000, b"x" * 400


def _native_run(out_dir, compression, n_batches):
    # warm: the first call's imports alone would dwarf the pin
    list(N._cells_stream_writer(out_dir + "-warm", compression)(
        _cell_batches(1, 10, _NATIVE_VAL)))
    write = N._cells_stream_writer(out_dir, compression)
    tracemalloc.start()
    metrics = _metrics(
        write, _cell_batches(n_batches, _NATIVE_CELLS_PER_BATCH,
                             _NATIVE_VAL))
    _, peak = tracemalloc.get_traced_memory()
    tracemalloc.stop()
    (m,) = metrics
    return {"path": m["path"], "n_partitions": m["n_partitions"],
            "n_cells": m["n_cells"], "peak": peak}


@pytest.mark.parametrize("compression", [None, "lz4"])
def test_native_sink_streams_per_batch(tmp_path, compression):
    """Single-partition sstables through the native binary writer: peak
    allocation stays O(one batch) in both tracemalloc and Arrow's pool,
    proven two ways -- an absolute cap (the vectorized encoder's
    bounded transient, a few MB regardless of input), and DIRECTLY:
    doubling the input size must not grow the peak (the old shape
    dict-materialized every partition, where peak tracked file size
    1:1). The streamed components read back cell-for-cell through the
    lazy scanner."""
    m = _fresh_process_peaks(_native_run, str(tmp_path / "a"),
                             compression, 100)     # ~40 MB
    m80 = _fresh_process_peaks(_native_run, str(tmp_path / "b"),
                               compression, 200)   # ~80 MB: must NOT follow

    for kind in ("peak", "pool_peak"):
        p40, p80 = m[kind], m80[kind]
        assert p40 < 2 * PIN_BYTES, \
            f"{kind} {p40} bytes: encoder transient regressed?"
        assert p80 < p40 + PIN_BYTES // 4, \
            f"{kind} grew with file size ({p40} -> {p80}): " \
            f"sstable buffered in task?"
    assert m["n_partitions"] == 1
    assert m["n_cells"] == 100 * _NATIVE_CELLS_PER_BATCH

    data = m["path"]
    f, logical_size = N.open_data_file(data)
    f.close()
    seen = 0
    for part in scan_partitions(data, 0, logical_size):
        assert part["key"] == b"wide"
        for cell in part["cells"]:
            assert cell["name"] == b"c%010d" % seen
            seen += 1
    assert seen == 100 * _NATIVE_CELLS_PER_BATCH


def test_native_sink_rolls_sstables_and_partitions(tmp_path):
    """sstable_id and key changes roll files/partitions correctly across
    batch boundaries; deleted partitions and cell kinds survive."""
    def batches():
        yield _native_batch([
            dict(sstable_id="s1", key=b"a", name=b"n1", value=b"v1",
                 writeTime=1, cell_kind="LIVE", ttl_expired=False,
                 partition_deletion_live=True),
            dict(sstable_id="s1", key=b"a", name=b"n2", value=b"v2",
                 writeTime=2, cell_kind="EXPIRING", ttl_expired=True,
                 partition_deletion_live=True),
        ])
        yield _native_batch([
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

    out = {m["sstable_id"]: m for m in _metrics(
        N._cells_stream_writer(str(tmp_path), "lz4"), batches())}
    assert out["s1"]["n_partitions"] == 2
    assert out["s1"]["n_cells"] == 3
    assert out["s2"]["n_partitions"] == 1

    s1_path = out["s1"]["path"]
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
    w = PerCellWriter(str(tmp_path), 1, compression="lz4")
    w.start_partition(b"k")
    w.add_cell(b"c", "LIVE", 1, b"v")
    w.abort()
    assert os.listdir(tmp_path) == []


def _native_cell(key, name, wt, live=True, value=b"v"):
    return dict(sstable_id="s1", key=key, name=name, value=value,
                writeTime=wt, cell_kind="LIVE", ttl_expired=False,
                partition_deletion_live=live)


def test_native_sink_rejects_inconsistent_partition_flag(tmp_path):
    """partition_deletion_live flipping mid-partition is a data-integrity
    error: the partition header already streamed, so the writer must
    fail loudly rather than write a file that contradicts half its
    input rows -- whether the flip is inside one batch or in the next
    batch, against the partition the first one left open."""
    inside = [[_native_cell(b"a", b"n1", 1),
               _native_cell(b"a", b"n2", 2, live=False)]]
    across = [[_native_cell(b"a", b"n1", 1)],
              [_native_cell(b"a", b"n2", 2, live=False)]]
    for i, cells in enumerate((inside, across)):
        out = tmp_path / str(i)
        out.mkdir()
        with pytest.raises(ValueError, match="disagrees within"):
            list(N._cells_stream_writer(str(out), None)(
                _native_batch(c) for c in cells))
        assert os.listdir(out) == []  # abort cleaned the temp components


def test_native_sink_dedups_across_batches(tmp_path):
    """dedup_runs keeps each (sstable_id, key, name) run's first cell
    also when the run continues into the next batch: the second batch's
    first row, the LWW loser of the run the first batch began, is
    dropped; the next name and key are kept."""
    first = [_native_cell(b"a", b"n1", 1), _native_cell(b"a", b"n2", 9)]
    second = [_native_cell(b"a", b"n2", 5, value=b"loser"),
              _native_cell(b"a", b"n3", 4)]
    (m,) = _metrics(
        N._cells_stream_writer(str(tmp_path), None, dedup_runs=True),
        iter([_native_batch(first), _native_batch(second)]))
    assert (m["n_partitions"], m["n_cells"]) == (1, 3)
    (part,) = scan_partitions_eager(m["path"], 0,
                                    os.path.getsize(m["path"]))
    assert [(c["name"], c["timestamp"], c["value"])
            for c in part["cells"]] == [
        (b"n1", 1, b"v"), (b"n2", 9, b"v"), (b"n3", 4, b"v")]


def test_native_sink_matches_oracle_at_any_batch_split(tmp_path):
    """Every component the sink writes equals the per-cell oracle
    writer's over the same cells -- three sstables, dead partitions,
    every cell kind, NULL values and ttl_expired flags, repeated names
    -- however the stream splits into batches, with and without
    dedup_runs: the sstable, partition, flag and dedup carries are
    invisible in the output."""
    rng = random.Random(5)
    rows = []
    for sid in ("s1", "s2", "s3"):
        keys = sorted((b"k%03d" % i for i in range(rng.randrange(1, 30))),
                      key=lambda k: (N.md5_token(k), k))
        for k in keys:
            live = rng.random() > 0.2
            for c in range(rng.randrange(1, 12)):
                for dup in range(rng.choice([1, 1, 2, 3])):
                    value = rng.choice([None, b"", b"v" * rng.randrange(40)])
                    rows.append(dict(
                        sstable_id=sid, key=k, name=b"n%03d" % c, value=value,
                        writeTime=100 - dup,
                        cell_kind=rng.choice(["LIVE", "LIVE", "DELETED",
                                              "EXPIRING", "COUNTER"]),
                        ttl_expired=rng.choice([None, True, False]),
                        partition_deletion_live=live))

    def files(d):
        return {f: open(os.path.join(d, f), "rb").read()
                for f in os.listdir(d)}

    for dedup in (False, True):
        oracle = str(tmp_path / f"oracle-{dedup}")
        for sid in ("s1", "s2", "s3"):
            parts, seen = {}, set()
            for r in rows:
                if r["sstable_id"] != sid or (
                        dedup and (r["key"], r["name"]) in seen):
                    continue
                seen.add((r["key"], r["name"]))
                part = parts.setdefault(r["key"], {
                    "key": r["key"], "cells": [],
                    "deletion": None if r["partition_deletion_live"]
                    else (0, 0)})
                part["cells"].append(dict(
                    name=r["name"], kind=r["cell_kind"],
                    timestamp=r["writeTime"], value=r["value"] or b"",
                    ttl=60, local_expiration=(
                        0 if r["ttl_expired"] else N.LIVE_LOCAL_DELETION - 1)))
            write_sstable(oracle, 1, list(parts.values()), cf=sid,
                          compression="lz4")
        want = files(oracle)
        for trial in range(12):
            cuts = sorted(rng.sample(range(1, len(rows)),
                                     rng.randrange(0, 40)))
            out = str(tmp_path / f"sink-{dedup}-{trial}")
            list(N._cells_stream_writer(out, "lz4", dedup_runs=dedup)(
                _native_batch(rows[a:b])
                for a, b in zip([0] + cuts, cuts + [len(rows)])))
            assert files(out) == want, (dedup, cuts)
