"""Spans and counts for the traced run, and the layer-by-layer conversion.

Every span is recorded from the benchmark's own code, around a call into
one of the program's functions; nothing inside the program is changed.
Spans are kept in memory as (name, start, end, parent, run id) and written
out once, when the run ends.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from collections import Counter, defaultdict

import pyarrow as pa
import pyarrow.compute as pc

# Spark's default spark.sql.execution.arrow.maxRecordsPerBatch: the batch
# size mapInArrow hands the protobuf writer
ARROW_BATCH_ROWS = 10_000


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[list] = []      # [name, start, end, parent]
        self.counts: Counter = Counter()
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        rec = [name, time.perf_counter(), None,
               self._stack[-1] if self._stack else None]
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec[2] = time.perf_counter()
            self._stack.pop()

    def add_span(self, name: str, start: float, end: float,
                 parent: int | None) -> None:
        """Record a span measured elsewhere (e.g. a Spark job)."""
        self.spans.append([name, start, end, parent])

    def wrap(self, obj, attr: str, span_name: str):
        """Time every call of obj.attr under span_name (for the duration
        of the returned context)."""
        orig = getattr(obj, attr)

        def timed(*a, **kw):
            with self.span(span_name):
                return orig(*a, **kw)

        @contextlib.contextmanager
        def patched():
            setattr(obj, attr, timed)
            try:
                yield
            finally:
                setattr(obj, attr, orig)
        return patched()

    def totals(self) -> dict[str, float]:
        """Summed wall seconds per span name."""
        out: dict[str, float] = defaultdict(float)
        for name, s, e, _ in self.spans:
            out[name] += e - s
        return out

    def self_times(self) -> dict[str, float]:
        """Per span name: duration minus the part its children cover."""
        child: dict[int, float] = defaultdict(float)
        for name, s, e, parent in self.spans:
            if parent is not None:
                child[parent] += e - s
        out: dict[str, float] = defaultdict(float)
        for i, (name, s, e, _) in enumerate(self.spans):
            out[name] += (e - s) - child[i]
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id,
                       "spans": [{"name": n, "start": s, "end": e,
                                  "parent": p, "run_id": self.run_id}
                                 for n, s, e, p in self.spans],
                       "counts": dict(self.counts)}, f)


class _TimedFile:
    """File proxy whose write/close time counts as `name`."""

    def __init__(self, f, tracer: Tracer, name: str):
        self._f, self._tr, self._name = f, tracer, name

    def write(self, b):
        with self._tr.span(self._name):
            return self._f.write(b)

    def flush(self):
        with self._tr.span(self._name):
            self._f.flush()

    def close(self):
        with self._tr.span(self._name):
            self._f.close()

    @property
    def closed(self):
        return self._f.closed


def chunk_read_probe(tr: Tracer, splits) -> None:
    """Drain each split's byte range through open_data_file: pread plus,
    for compressed tables, LZ4 and Adler32 per chunk."""
    from cassandra_sstable_to_protocolbuf_spark.sources import (
        sstable_native as sn)

    for split in splits:
        with tr.span("native.chunk_read"):
            f, _ = sn.open_data_file(split.data_path)
            with f:
                f.seek(split.start)
                left = split.end - split.start
                while left > 0:
                    got = len(f.read(min(left, 1 << 20)))
                    if not got:
                        break
                    left -= got
                    tr.counts["native.logical_bytes"] += got
        comp = split.data_path[:-len(sn.DATA_SUFFIX)] + sn.COMPRESSION_SUFFIX
        if os.path.exists(comp):
            cl = sn.CompressionInfo.parse(comp).chunk_length
            if split.end > split.start:
                tr.counts["native.chunks"] += ((split.end - 1) // cl
                                               - split.start // cl + 1)


def _flat_sorted_batches(batches: list) -> list:
    """The writer's input as write_cells_pb builds it: partition filter,
    per-cell live flag with dead payloads nulled, sorted by (sstable_id,
    key, name, value, writeTime) nulls first, cut into Arrow batches."""
    t = pa.Table.from_batches(batches)
    t = t.filter(t["partition_deletion_live"])
    live = pc.equal(t["cell_kind"], "LIVE")
    null_bin = pa.scalar(None, pa.binary())
    flat = pa.table({
        "sstable_id": t["sstable_id"], "key": t["key"], "live": live,
        "name": pc.if_else(live, t["name"], null_bin),
        "value": pc.if_else(live, t["value"], null_bin),
        "writeTime": pc.if_else(live, t["writeTime"], 0).cast(pa.int64()),
    })
    order = pc.sort_indices(
        flat, sort_keys=[(c, "ascending") for c in
                         ("sstable_id", "key", "name", "value", "writeTime")],
        null_placement="at_start")
    return flat.take(order).combine_chunks().to_batches(
        max_chunksize=ARROW_BATCH_ROWS)


def layered_convert(tr: Tracer, input_dir: str, out_dir: str,
                    scan_parallelism: int) -> dict:
    """One conversion of input_dir, layer by layer in this process, under
    a root span `convert.layered`.  Returns {"files": ids of the files the
    writer produced}.  The chunk-read share of the scan is measured by
    chunk_read_probe over the same splits, before the root span."""
    from cassandra_sstable_to_protocolbuf_spark import protowire
    from cassandra_sstable_to_protocolbuf_spark.sources import sstable_pb
    from cassandra_sstable_to_protocolbuf_spark.sources.sstable_native import (
        SSTableNativeReader)

    os.makedirs(out_dir, exist_ok=True)
    probe = SSTableNativeReader(input_dir, None, live_only=True,
                                scan_parallelism=scan_parallelism)
    chunk_read_probe(tr, probe.partitions())

    orig_open = sstable_pb._open_pb_file

    def traced_open(out_dir_, sstable_id):
        # the program's own open-file state, with its two handles swapped
        # for timed ones on the same temp file
        st = orig_open(out_dir_, sstable_id)
        st["zout"].close()
        st["raw_out"].close()
        raw = _TimedFile(open(st["tmp"], "wb"), tr, "pb.file_write")
        st["raw_out"] = raw
        st["zout"] = _TimedFile(pa.CompressedOutputStream(raw, "zstd"), tr,
                                "zstd.compress")
        return st

    with tr.span("convert.layered"):
        with tr.span("native.plan"):
            reader = SSTableNativeReader(input_dir, None, live_only=True,
                                         scan_parallelism=scan_parallelism)
            splits = reader.partitions()
        tr.counts["native.splits"] += len(splits)
        batches = []
        for split in splits:
            with tr.span("native.read"):
                batches.extend(reader.read(split))
        tr.counts["native.batches"] += len(batches)
        tr.counts["native.cells_out"] += sum(b.num_rows for b in batches)
        tr.counts["native.live_cells"] += sum(
            pc.sum(pc.equal(b.column(5), "LIVE")).as_py() or 0
            for b in batches)
        with tr.span("bench.sort"):
            sorted_batches = _flat_sorted_batches(batches)
        del batches
        write_stream = sstable_pb._pb_flat_stream_writer(out_dir)
        with contextlib.ExitStack() as patches:
            for fn in ("encode_rows_block_bufs", "encode_columns_bufs",
                       "frame_row_parts"):
                patches.enter_context(tr.wrap(protowire, fn,
                                              "protowire.encode"))
            sstable_pb._open_pb_file = traced_open
            patches.callback(setattr, sstable_pb, "_open_pb_file", orig_open)
            with tr.span("pb.write"):
                metrics = pa.Table.from_batches(
                    list(write_stream(iter(sorted_batches))))
    tr.counts["pb.files"] += metrics.num_rows
    tr.counts["pb.rows"] += int(pc.sum(metrics["n_rows"]).as_py() or 0)
    tr.counts["pb.cells"] += int(pc.sum(metrics["n_cells"]).as_py() or 0)
    tr.counts["pb.raw_bytes"] += int(pc.sum(metrics["raw_bytes"]).as_py() or 0)
    tr.counts["pb.compressed_bytes"] += int(
        pc.sum(metrics["compressed_bytes"]).as_py() or 0)
    return {"files": metrics.column("sstable_id").to_pylist()}


def layer_report(tr: Tracer, atoms_on_disk: int) -> dict:
    """Per-layer metrics of a finished layered conversion.

    Self times of the layers under `convert.layered` plus
    `trace.remainder_s` sum to that span's wall time; the scan's chunk
    read share comes from the probe, so `cellcodec.decode_s` is
    native.read minus native.chunk_read."""
    tot, own = tr.totals(), tr.self_times()
    c = tr.counts
    read_s = tot["native.read"]
    chunk_s = tot["native.chunk_read"]
    layers = {
        "native.plan_s": own["native.plan"],
        "native.chunk_read_s": chunk_s,
        "cellcodec.decode_s": read_s - chunk_s,
        "bench.sort_s": own["bench.sort"],
        "pb.fold_s": own["pb.write"],
        "protowire.encode_s": own["protowire.encode"],
        "zstd.compress_s": own["zstd.compress"],
        "pb.file_write_s": own["pb.file_write"],
    }
    wall = tot["convert.layered"]
    out = dict(layers)
    out.update({
        "trace.layered_s": wall,
        "trace.remainder_s": wall - sum(layers.values()),
        "native.splits": c["native.splits"],
        "native.chunks": c["native.chunks"],
        "native.logical_mb": c["native.logical_bytes"] / 1e6,
        "native.read_s": read_s,
        "native.cells_out": c["native.cells_out"],
        "native.batches": c["native.batches"],
        "native.live_frac": c["native.live_cells"] / max(atoms_on_disk, 1),
        "pb.write_s": tot["pb.write"],
        "pb.rows": c["pb.rows"], "pb.cells": c["pb.cells"],
        "pb.raw_mb": c["pb.raw_bytes"] / 1e6, "pb.files": c["pb.files"],
        "zstd.ratio": (c["pb.compressed_bytes"] / c["pb.raw_bytes"]
                       if c["pb.raw_bytes"] else 1.0),
        "trace.spans": len(tr.spans),
    })
    return out
